"""Source / sink / transformer protocols, DataFrame-native.

Reference parity (SURVEY.md §2A; /root/reference was empty at survey time,
citations are module::symbol of the public package):

- ``TableSource`` ≙ ``datapipelines/sources.py::DataSource`` (A6): declares
  ``provides``; ``get_many`` returns a DataFrame (the reference returns an
  object iterator — a DataFrame *is* the lazy plural form).
- ``TableSink`` ≙ ``datapipelines/sinks.py::DataSink`` (A7): declares
  ``accepts``; ``put`` stores a DataFrame.
- ``DataTransformer`` ≙ ``datapipelines/transformers.py::DataTransformer``
  (A8): a cost-weighted ``DataFrame -> DataFrame`` edge between named
  tables; chains are resolved min-cost (Dijkstra) by the pipeline.

Concrete elements provided here: in-memory cache (persisted DataFrames),
parquet directory cache, and a cold parquet source over the fixture dirs.
The memory→parquet→cold ordering is the Spark-native analogue of the
reference's ordered cache hierarchy with write-back (A14).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Mapping
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from datapipelines_python_spark.catalog import (
    TABLES,
    load_table,
    normalize_events_ts,
    read_parquet,
    table_path,
)
from datapipelines_python_spark.pipeline.common import (
    TYPE_WILDCARD,
    NotFoundError,
    PipelineContext,
    UnsupportedError,
)
from datapipelines_python_spark.pipeline.queries import QueryValidator


class TableSource:
    """A provider of named tables. Subclasses declare ``provides`` (a set
    of table names, or TYPE_WILDCARD) and implement ``get_many``."""

    #: table names this source can provide; {TYPE_WILDCARD} = anything
    provides: set[str] = set()

    #: optional per-table query validators (table -> QueryValidator)
    validators: Mapping[str, QueryValidator] = {}

    def can_provide(self, table: str) -> bool:
        return TYPE_WILDCARD in self.provides or table in self.provides

    def get_many(
        self, table: str, query: Mapping[str, Any], context: PipelineContext
    ) -> DataFrame:
        """Return the (lazily filtered) DataFrame for ``table``.

        Raise UnsupportedError if the source cannot serve the table,
        NotFoundError if it can but the data is absent.
        """
        raise NotImplementedError

    def get_stream(
        self, table: str, query: Mapping[str, Any], context: PipelineContext
    ) -> DataFrame:
        """Return an unbounded (``readStream``) DataFrame for ``table``.

        The reference's ``get_many(..., streaming=True)`` (A2): sources
        that cannot stream raise UnsupportedError and the pipeline falls
        through to the next provider.
        """
        raise UnsupportedError(f"{type(self).__name__} cannot stream {table!r}")


class TableSink:
    """A consumer of named tables. Declares ``accepts``; ``put`` stores."""

    accepts: set[str] = set()

    def can_accept(self, table: str) -> bool:
        return TYPE_WILDCARD in self.accepts or table in self.accepts

    def put(self, table: str, df: DataFrame, context: PipelineContext) -> None:
        raise NotImplementedError


class DataTransformer:
    """A cost-weighted conversion edge between two named tables
    (``DataFrame -> DataFrame``). The pipeline composes min-cost chains."""

    def __init__(
        self,
        frm: str,
        to: str,
        fn: Callable[[DataFrame], DataFrame],
        cost: int = 1,
    ) -> None:
        self.frm = frm
        self.to = to
        self.fn = fn
        self.cost = cost

    def transform(self, df: DataFrame) -> DataFrame:
        return self.fn(df)


class CompositeDataTransformer(DataTransformer):
    """A pre-composed transformer chain bundled as ONE edge (SURVEY.md
    §2A A8): ``frm -> ... -> to`` applied as a single unit, with cost =
    sum of part costs by default. Lets a pipeline register a hand-tuned
    multi-hop conversion as an atomic alternative to whatever chain the
    min-cost planner would discover — e.g. a fused projection that
    Catalyst collapses into one stage, where the discovered chain would
    materialize intermediates.

    Each part's output table must feed the next part's input table;
    construction validates the seams so a mis-ordered bundle fails fast
    instead of producing a frame of the wrong shape mid-pipeline.
    """

    def __init__(self, parts: list[DataTransformer], cost: int | None = None) -> None:
        if not parts:
            raise ValueError("CompositeDataTransformer needs at least one part")
        for a, b in zip(parts, parts[1:]):
            if a.to != b.frm:
                raise ValueError(
                    f"chain seam mismatch: {a.frm}->{a.to} cannot feed {b.frm}->{b.to}"
                )
        super().__init__(
            frm=parts[0].frm,
            to=parts[-1].to,
            fn=self._apply,
            cost=sum(p.cost for p in parts) if cost is None else cost,
        )
        self.parts = list(parts)

    def _apply(self, df: DataFrame) -> DataFrame:
        for part in self.parts:
            df = part.transform(df)
        return df


# ---------------------------------------------------------------------------
# Concrete elements
# ---------------------------------------------------------------------------


class MemoryCache(TableSource, TableSink):
    """Nearest cache layer: persisted DataFrames by table name. The
    write-back target for every colder hit (≙ an in-memory ``DataSink``
    at position 0 in the reference's canonical cache pipeline)."""

    def __init__(self, accepts: set[str] | None = None) -> None:
        self._store: dict[str, DataFrame] = {}
        self.accepts = accepts if accepts is not None else {TYPE_WILDCARD}

    @property
    def provides(self) -> set[str]:  # type: ignore[override]
        return set(self._store)

    def get_many(
        self, table: str, query: Mapping[str, Any], context: PipelineContext
    ) -> DataFrame:
        if table not in self._store:
            raise NotFoundError(table)
        return self._store[table]

    def put(self, table: str, df: DataFrame, context: PipelineContext) -> None:
        if not self.can_accept(table):
            raise UnsupportedError(table)
        self._store[table] = df.persist()

    def evict(self, table: str | None = None) -> None:
        for name in [table] if table else list(self._store):
            cached = self._store.pop(name, None)
            if cached is not None:
                cached.unpersist()


class ParquetCache(TableSource, TableSink):
    """Second cache layer: a parquet directory. Survives sessions; at
    scale this is the object-store cache tier."""

    def __init__(self, root: str, accepts: set[str] | None = None) -> None:
        self.root = root
        self.accepts = accepts if accepts is not None else {TYPE_WILDCARD}
        os.makedirs(root, exist_ok=True)

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    @property
    def provides(self) -> set[str]:  # type: ignore[override]
        return {
            name
            for name in os.listdir(self.root)
            if os.path.exists(os.path.join(self._path(name), "_SUCCESS"))
        }

    def get_many(
        self, table: str, query: Mapping[str, Any], context: PipelineContext
    ) -> DataFrame:
        if table not in self.provides:
            raise NotFoundError(table)
        spark: SparkSession = context[PipelineContext.Keys.SPARK]
        return read_parquet(spark, self._path(table))

    def put(self, table: str, df: DataFrame, context: PipelineContext) -> None:
        if not self.can_accept(table):
            raise UnsupportedError(table)
        df.write.mode("overwrite").parquet(self._path(table))

    def evict(self, table: str | None = None) -> None:
        for name in [table] if table else os.listdir(self.root):
            shutil.rmtree(self._path(name), ignore_errors=True)


class FixtureSource(TableSource):
    """Cold source: the driver's parquet fixture directory (the ten
    SURVEY.md §1.2 tables)."""

    def __init__(self, sf_dir: str, tables: set[str] | None = None) -> None:
        self.sf_dir = sf_dir
        self.provides = tables if tables is not None else set(TABLES)

    def get_many(
        self, table: str, query: Mapping[str, Any], context: PipelineContext
    ) -> DataFrame:
        if not self.can_provide(table):
            raise UnsupportedError(table)
        spark: SparkSession = context[PipelineContext.Keys.SPARK]
        return load_table(spark, self.sf_dir, table)

    def get_stream(
        self, table: str, query: Mapping[str, Any], context: PipelineContext
    ) -> DataFrame:
        """File-streaming read of the fixture table (same files, unbounded
        plan): schema pinned from the batch footer, directory scoped to the
        one table via pathGlobFilter. Downstream transformations and the
        pipeline's pushed-down query filters compose identically on the
        streaming frame."""
        if not self.can_provide(table):
            raise UnsupportedError(table)
        spark: SparkSession = context[PipelineContext.Keys.SPARK]
        sf = self.sf_dir.rstrip("/")
        if table == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = read_parquet(spark, table_path(sf, table)).schema
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", f"{table}.parquet")
            .parquet(sf)
        )
        if table == "events":
            stream = normalize_events_ts(stream)
        return stream
