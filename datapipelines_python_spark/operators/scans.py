"""Scans / sources / sinks (SURVEY.md §2B.1).

Connector surface: parquet scan (with pruning), csv/json roundtrips,
partitioned parquet sink, and a file-streaming source run to batch
completion. Roundtrip ops write into a scratch dir under the repo
(``.scratch/``, gitignored) — at scale these would be object-store paths;
the write/read plan shape is identical.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datapipelines_python_spark.catalog import (
    load_table,
    normalize_events_ts,
    read_parquet,
    table_path,
)
from datapipelines_python_spark.operators._helpers import spread
from datapipelines_python_spark.registry import query
from datapipelines_python_spark.session import clone_session

_SCRATCH_BASE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".scratch"
)
# Per-process scratch root (VERDICT r7 "What's wrong" #1): scratch_dir()
# rmtrees its target, so a FIXED path under a SHARED root let two
# concurrent engine processes (e.g. pytest + an oracle sweep) destroy each
# other's in-flight sink/checkpoint dirs — observed as a silently WRONG
# digest_stream hash (2038 vs 1981 rows: one process's foreachBatch
# appended into a dir the other had half-rebuilt). Baking a pid+start-time
# token into the root itself gives every scratch_dir() caller isolation by
# construction; no caller needs to remember to ask for it.
_PROC_TAG = "proc_p%d_t%d" % (os.getpid(), time.time_ns() % 10**12)
_SCRATCH = os.path.join(_SCRATCH_BASE, _PROC_TAG)


def _sweep_stale_scratch() -> None:
    """Best-effort GC of per-process scratch roots whose owner died.

    Liveness is pid-probed (signal 0); a recycled pid keeps a stale dir
    alive until the next sweep — acceptable for a cache dir, and strictly
    safer than the old shared-root rmtree which deleted LIVE state."""
    try:
        entries = os.listdir(_SCRATCH_BASE)
    except OSError:
        return
    for entry in entries:
        if not entry.startswith("proc_p"):
            continue  # pre-isolation leftovers are swept manually
        try:
            pid = int(entry.split("_")[1][1:])
        except (IndexError, ValueError):
            continue
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(_SCRATCH_BASE, entry), ignore_errors=True)
        except OSError:
            pass


_sweep_stale_scratch()


def scratch_dir(name: str) -> str:
    path = os.path.join(_SCRATCH, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


# The round-2 diag_probe_{date,decimal,array} canonicalizer probes lived
# here; they answered their question (DATE hashes clean through the driver,
# DECIMAL must stay cast, ARRAY must stay flattened — CORRECTNESS_r02.json)
# and were retired per VERDICT r2 "What's wrong" #1 so the driver slice
# spends all 50 slots on real operators. Findings live on in canon.py.


@query(
    "scan_parquet",
    oracle="SELECT * FROM lineitem",
    tags=("scan",),
    bench=True,
)
def scan_parquet(spark: SparkSession, sf: str) -> DataFrame:
    """Full table scan; baseline for the connector surface."""
    return load_table(spark, sf, "lineitem")


@query(
    "scan_projected",
    oracle="SELECT l_orderkey, l_quantity FROM lineitem",
    tags=("scan",),
)
def scan_projected(spark: SparkSession, sf: str) -> DataFrame:
    """Column-pruned scan — ReadSchema in the plan must show only 2 columns."""
    return load_table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")


@query("scan_csv_roundtrip", oracle="SELECT * FROM region", tags=("scan", "connector"))
def scan_csv_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """CSV sink + source with explicit schema (no inference → stable types).

    Robust-roundtrip options pinned (unistr hazard fixture): the writer
    quotes embedded newlines but the READER splits records at newlines
    unless multiLine=true, and the writer trims field-edge whitespace
    unless told not to — without both, text that contains newlines or
    edge spaces silently corrupts (extra rows / trimmed values)."""
    df = load_table(spark, sf, "region")
    path = scratch_dir("csv_region")
    df.write.mode("overwrite").option("header", "true").option(
        "ignoreLeadingWhiteSpace", False
    ).option("ignoreTrailingWhiteSpace", False).csv(path)
    return (
        spark.read.schema(df.schema)
        .option("header", "true")
        .option("multiLine", True)
        .csv(path)
    )


@query("scan_json_roundtrip", oracle="SELECT * FROM nation", tags=("scan", "connector"))
def scan_json_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """JSON-lines sink + source with explicit schema."""
    df = load_table(spark, sf, "nation")
    path = scratch_dir("json_nation")
    df.write.mode("overwrite").json(path)
    return spark.read.schema(df.schema).json(path)


@query("scan_orc_roundtrip", oracle="SELECT * FROM supplier", tags=("scan", "connector"))
def scan_orc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """ORC sink + source (second columnar format beside parquet; built into
    Spark, same pushdown/pruning machinery)."""
    df = load_table(spark, sf, "supplier")
    path = scratch_dir("orc_supplier")
    df.write.mode("overwrite").orc(path)
    return spark.read.schema(df.schema).orc(path)


@query(
    "sink_parquet_partitioned",
    # NULLIF on the partition column: the Hive directory layout cannot
    # distinguish '' from NULL — both land in __HIVE_DEFAULT_PARTITION__
    # and read back as NULL (a real partition-key contract, pinned)
    oracle="""SELECT * REPLACE (NULLIF(l_returnflag, '') AS l_returnflag)
        FROM lineitem""",
    tags=("scan", "connector"),
)
def sink_parquet_partitioned(spark: SparkSession, sf: str) -> DataFrame:
    """Partitioned parquet sink then re-scan.

    ``partitionBy`` on a low-cardinality column is the layout that enables
    partition pruning at scale; the read-back must equal the source rows.
    """
    df = load_table(spark, sf, "lineitem")
    path = scratch_dir("parquet_lineitem_part")
    df.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    # Explicit schema on read-back: a zero-row partitionBy write emits no
    # data files, and schema inference over an empty layout fails outright
    # (the empty-ingest-day shape at scale). Production reads resolve the
    # schema from a catalog, never by inference.
    back = spark.read.schema(df.schema).parquet(path)
    return back.select(*df.columns)


@query(
    "scan_stream_files",
    oracle=(
        "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props "
        "FROM events"
    ),
    tags=("scan", "streaming"),
)
def scan_stream_files(spark: SparkSession, sf: str) -> DataFrame:
    """File streaming source drained with Trigger.AvailableNow into memory.

    Batch-equivalent check: the stream over the same files must produce the
    full table. (Unbounded variant differs only in the trigger.) The drain
    runs on a clone, so its sink view stays off the caller's session.
    """
    from datapipelines_python_spark.streaming.ops import drain_to_memory

    spark = clone_session(spark)
    raw_schema = read_parquet(spark, table_path(sf, "events"), nanos_as_long=True).schema
    # The file stream source wants a directory; glob-filter the sf dir down
    # to the events table file.
    stream = normalize_events_ts(
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf.rstrip("/"))
    ).select("event_id", "ts", "user_id", "event_type", "value", "props")
    return drain_to_memory(stream, "scan_stream_files_sink")


@query(
    "scan_partition_pruned",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
               l_returnflag
        FROM lineitem
        WHERE l_returnflag = 'R' AND l_quantity > 40
    """,
    tags=("scan", "connector"),
)
def scan_partition_pruned(spark: SparkSession, sf: str) -> DataFrame:
    """Partition-pruned read: write date-style partitioned layout
    (partitionBy on the low-cardinality column), then read back with a
    filter on the partition column. The filter resolves against directory
    names — non-matching partitions are never opened (plan shows
    PartitionFilters, pinned in tests/test_plan_quality.py). This is the
    100 TB table-layout primitive: a month-partitioned fact table turns
    date-range queries from full scans into touched-partition scans."""
    df = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_returnflag",
    )
    path = scratch_dir("parquet_lineitem_pruned")
    df.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    # catalog-style explicit schema: survives a zero-partition layout
    back = spark.read.schema(df.schema).parquet(path)
    return back.filter(
        (F.col("l_returnflag") == "R") & (F.col("l_quantity") > 40)
    ).select(*df.columns)


@query(
    "scan_range_source",
    oracle="""
        SELECT r.range AS id,
               r.range * 2 + 1 AS odd,
               CAST(r.range % 7 AS INT) AS bucket
        FROM range(0, 50000, 3) r
    """,
    tags=("scan", "source"),
)
def scan_range_source(spark: SparkSession, sf: str) -> DataFrame:
    """Generated (table-function) source: ``spark.range`` plans a
    RangeExec that synthesizes rows on executors with no input IO at all —
    the generator side of the connector surface, and the idiom for building
    dimension/calendar/salt tables inline at any scale."""
    r = spark.range(0, 50000, 3)
    return r.select(
        F.col("id"),
        (F.col("id") * 2 + 1).alias("odd"),
        (F.col("id") % 7).cast("int").alias("bucket"),
    )


@query(
    "scan_python_datasource",
    oracle="""
        SELECT r.range AS id,
               CAST(r.range // 1250 AS INT) AS part,
               CAST(r.range % 97 AS DOUBLE) * 0.5 AS val
        FROM range(10000) r
    """,
    tags=("scan", "source", "connector"),
)
def scan_python_datasource(spark: SparkSession, sf: str) -> DataFrame:
    """Custom source via the Spark 4 Python DataSource API: a
    ``DataSource``/``DataSourceReader`` pair that declares N input
    partitions and yields rows per partition on executors (Arrow-batched).
    This is the extension point for sources Spark has no connector for —
    an internal service, a proprietary format, a synthetic generator. The
    partition list drives parallelism exactly like file splits do: 8
    partitions here scan concurrently, and at 100 TB a reader would split
    by shard/byte-range the same way."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _SynthReader(DataSourceReader):
        def __init__(self, options):
            self.rows = int(options.get("rowsperpartition", 1250))
            self.nparts = int(options.get("partitions", 8))

        def partitions(self):
            return [InputPartition(i) for i in range(self.nparts)]

        def read(self, partition):
            # Round 11 (guide §4.2): yield ONE Arrow record batch per
            # partition instead of per-row Python tuples — the reader
            # API accepts either, and the batch form skips the per-row
            # pickle/convert path entirely (the values are identical:
            # int64 ids, int32 partition, and (id % 97) * 0.5 is the
            # same IEEE-754 op on either path).
            import numpy as np
            import pyarrow as pa

            base = partition.value * self.rows
            ids = np.arange(base, base + self.rows, dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids),
                    pa.array(
                        np.full(self.rows, partition.value, dtype=np.int32)
                    ),
                    pa.array((ids % 97).astype(np.float64) * 0.5),
                ],
                names=["id", "part", "val"],
            )

    class SyntheticRowsSource(DataSource):
        @classmethod
        def name(cls):
            return "synthetic_rows"

        def schema(self):
            return "id bigint, part int, val double"

        def reader(self, schema):
            return _SynthReader(self.options)

    spark.dataSource.register(SyntheticRowsSource)
    return (
        spark.read.format("synthetic_rows")
        .option("rowsPerPartition", 1250)
        .option("partitions", 8)
        .load()
    )


@query(
    "scan_text_roundtrip",
    # COALESCE: the line-oriented text sink has no NULL representation —
    # a NULL document writes as an empty line and reads back as ''.
    # The newline fold replays the op's single-line framing contract.
    oracle="""SELECT COALESCE(
        REPLACE(REPLACE(REPLACE(text, CHR(13) || CHR(10), ' '),
                        CHR(13), ' '), CHR(10), ' '), '') AS value
        FROM documents""",
    tags=("scan", "connector"),
)
def scan_text_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Line-oriented text sink + source (`.write.text` / `.read.text`) —
    the rawest connector: one string column, one line per row. The ingest
    format of most crawl/log corpora before any structure is imposed.

    Single-line FRAMING is the format's contract, enforced here: embedded
    newlines are folded to spaces before the write (CRLF first, then bare
    CR / LF) — without the fold, one multi-line document silently becomes
    several phantom documents on read-back (unistr hazard fixture; real
    multi-line corpora use length-prefixed or escaped framing instead)."""
    d = load_table(spark, sf, "documents").select(
        F.regexp_replace(F.col("text"), "\r\n|\r|\n", " ").alias("value")
    )
    path = scratch_dir("text_documents")
    d.write.mode("overwrite").text(path)
    return spark.read.text(path)


@query(
    "scan_csv_permissive",
    oracle="""
        SELECT * FROM (VALUES
            (1, 'alpha', CAST(1.5 AS DOUBLE)),
            (2, 'beta',  CAST(2.5 AS DOUBLE)),
            (4, 'delta', CAST(4.5 AS DOUBLE))
        ) t(id, name, v)
    """,
    tags=("scan", "connector", "robustness"),
)
def scan_csv_permissive(spark: SparkSession, sf: str) -> DataFrame:
    """Malformed-record resilience: a CSV with a corrupt line is read in
    DROPMALFORMED mode — bad rows are discarded, good rows survive with
    the declared schema. The production posture for 100 TB ingest is the
    PERMISSIVE twin (quarantine via ``columnNameOfCorruptRecord``, then
    count/alert); DROPMALFORMED is the checkable deterministic core. The
    file is written outside Spark on purpose — real corrupt inputs don't
    come from your own writer."""
    path = scratch_dir("csv_malformed")
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-0.csv"), "w") as f:
        f.write("1,alpha,1.5\n2,beta,2.5\noops,gamma\n4,delta,4.5\n")
    return (
        spark.read.schema("id int, name string, v double")
        .option("mode", "DROPMALFORMED")
        .csv(path)
    )


@query(
    "sink_sorted_clustered",
    oracle="""
        SELECT l_orderkey, l_shipdate, l_quantity, l_extendedprice
        FROM lineitem
    """,
    tags=("scan", "connector", "layout"),
)
def sink_sorted_clustered(spark: SparkSession, sf: str) -> DataFrame:
    """Range-clustered sorted layout: ``repartitionByRange(l_shipdate)``
    + ``sortWithinPartitions`` before the write gives globally
    range-clustered files whose parquet row-group min/max stats are tight
    and non-overlapping on the sort key — date-range scans then skip
    whole files/row-groups on stats alone, without Hive-style partition
    directories. The other half of the layout story beside
    ``scan_partition_pruned`` (directory pruning) and
    ``join_bucketed_colocated`` (join co-location); RangePartitioning is
    pinned in the plan tests."""
    df = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity", "l_extendedprice"
    )
    path = scratch_dir("parquet_lineitem_clustered")
    (
        df.repartitionByRange(8, F.col("l_shipdate"))
        .sortWithinPartitions("l_shipdate", "l_orderkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    return spark.read.parquet(path).select(*df.columns)


@query(
    "scan_python_stream_source",
    oracle="""
        SELECT r.range AS id,
               CAST(r.range % 5 AS INT) AS shard
        FROM range(0, 3000) r
    """,
    tags=("scan", "source", "streaming", "connector"),
)
def scan_python_stream_source(spark: SparkSession, sf: str) -> DataFrame:
    """Custom STREAMING source via the Spark 4 Python DataSource API:
    a ``SimpleDataSourceStreamReader`` tracks its own offset (here a row
    counter; in production a shard cursor / log sequence number), each
    micro-batch reads [start, end) and commits. Drained with
    ``Trigger.AvailableNow`` into a memory sink, the union of batches must
    equal the deterministic whole — the same batch-equivalence discipline
    as the file-stream ops, applied to a from-scratch connector. This is
    the extension point for queues/logs Spark has no reader for."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    TOTAL, STEP = 3000, 1000

    class _CounterStreamReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"pos": 0}

        def read(self, start: dict):
            pos = start["pos"]
            end = min(pos + STEP, TOTAL)
            rows = iter([(i, i % 5) for i in range(pos, end)])
            return rows, {"pos": end}

        def readBetweenOffsets(self, start: dict, end: dict):
            return iter([(i, i % 5) for i in range(start["pos"], end["pos"])])

    class CounterStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "counter_stream"

        def schema(self):
            return "id bigint, shard int"

        def simpleStreamReader(self, schema):
            return _CounterStreamReader()

    spark.dataSource.register(CounterStreamSource)
    q = (
        spark.readStream.format("counter_stream")
        .load()
        .writeStream.format("memory")
        .queryName("py_stream_source_sink")
        .trigger(processingTime="0 seconds")
        .start()
    )
    # The source is finite and deterministic: run micro-batches until the
    # whole range has been committed, then stop (a real deployment never
    # stops; this is the test-drain idiom for an unbounded custom source).
    import time as _time

    deadline = _time.time() + 120
    while _time.time() < deadline:
        if spark.table("py_stream_source_sink").count() >= TOTAL:
            break
        # short poll: each micro-batch lands in well under 300 ms here,
        # so a coarse poll added up to ~1 s of pure sleep latency per
        # run (guide §1 — the wall was the probe, not the work)
        _time.sleep(0.05)
    q.stop()
    q.awaitTermination()
    return spark.table("py_stream_source_sink")


@query(
    "scan_binary_files",
    oracle="""
        SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.bin' AS filename,
               CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS length,
               MD5(text) AS content_md5
        -- file-grain: the op writes ONE doc_<id>.bin per doc_id, so
        -- duplicated rows collapse to a single file
        FROM (SELECT DISTINCT doc_id, text FROM documents
              WHERE doc_id < 8 AND text IS NOT NULL)
    """,
    tags=("scan", "connector", "multimodal"),
)
def scan_binary_files(spark: SparkSession, sf: str) -> DataFrame:
    """Whole-file binary ingest via the ``binaryFile`` source — the entry
    point for image/audio/video corpora: one row per file with path,
    length, and raw bytes, which then feed the mapInPandas decode
    operators (``mm_*``). Fixture bytes are written from document text so
    the oracle can replay length and checksum; a real corpus points the
    same reader at an object-store prefix, partitioned by the file listing.
    Read parallelism comes from the file count — at 100 TB you shard
    files across directories and let maxPartitionBytes pack them."""
    import pyarrow.parquet as pq

    path = scratch_dir("binary_docs")
    os.makedirs(path, exist_ok=True)
    # Fixture prep happens driver-side via pyarrow (8 tiny files) — the
    # operator under test is the binaryFile READ, not this setup.
    tbl = pq.read_table(
        f"{sf.rstrip('/')}/documents.parquet", columns=["doc_id", "text"]
    )
    for doc_id, text in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()):
        # NULL text == nothing to ingest: no file is written (the oracle
        # filters the same rows out)
        if doc_id < 8 and text is not None:
            with open(os.path.join(path, f"doc_{doc_id}.bin"), "wb") as f:
                f.write(text.encode("utf-8"))
    b = spark.read.format("binaryFile").load(path)
    return b.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("filename"),
        F.col("length"),
        F.md5(F.col("content").cast("string")).alias("content_md5"),
    )


@query(
    "scan_dynamic_partition_pruning",
    oracle="""
        WITH flags AS (
            SELECT * FROM (VALUES ('R', 'returned')) f(flag, label)
        )
        SELECT l.l_orderkey, l.l_quantity, l.l_returnflag, f.label
        FROM lineitem l JOIN flags f ON l.l_returnflag = f.flag
    """,
    tags=("scan", "connector", "scale"),
)
def scan_dynamic_partition_pruning(spark: SparkSession, sf: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out partitioned
    by the join column; the dimension carries the selective filter. At
    planning time the partition set is unknown — Spark injects a runtime
    subquery (DynamicPruningExpression, pinned in the plan tests) that
    evaluates the dim side FIRST and prunes fact partitions before the
    scan. The star-schema scale feature: a date-dim filter prunes a
    date-partitioned 100 TB fact to the matching days with zero manual
    predicate copying."""
    df = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    path = scratch_dir("parquet_lineitem_dpp")
    df.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    # catalog-style explicit schema: survives a zero-partition layout
    fact = spark.read.schema(df.schema).parquet(path)
    # the dim must carry a SELECTIVE filter for the DPP heuristic to fire
    # (an unfiltered dim can't prune anything)
    flags = spark.createDataFrame(
        [("R", "returned"), ("A", "accepted"), ("N", "none")],
        "flag string, label string",
    ).filter(F.col("label") == "returned")
    j = fact.join(flags, fact.l_returnflag == flags.flag)
    return j.select("l_orderkey", "l_quantity", "l_returnflag", "label")


@query(
    "sink_python_datasource",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus
        FROM orders WHERE o_orderstatus = 'F'
    """,
    tags=("scan", "connector", "sink"),
)
def sink_python_datasource(spark: SparkSession, sf: str) -> DataFrame:
    """Custom SINK via the Spark 4 Python DataSource writer API: a
    ``DataSourceWriter`` whose ``write(iterator)`` runs once per
    partition on executors (each emitting its own part file — the
    idempotent-per-task shape that makes retries safe), with ``commit``
    finalizing on the driver. Completes the connector story: custom
    reader (batch + streaming) AND custom writer, the template for
    pushing to systems Spark has no sink for. Round-trip checked: the
    written data re-read must equal the filtered source."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceArrowWriter,
        WriterCommitMessage,
    )

    out_dir = scratch_dir("py_sink_orders")
    os.makedirs(out_dir, exist_ok=True)

    class _PartFileWriter(DataSourceArrowWriter):
        # Round 11 (guide §4.2): DataSourceArrowWriter hands the task
        # WHOLE Arrow record batches instead of pickled Rows — the
        # per-row Row-object construction and attribute lookups were the
        # write path's real cost. ``to_pylist`` yields the same Python
        # ints/strings (and the same ``None`` rendering) the old
        # row-at-a-time f-string saw, so the emitted CSV bytes are
        # identical.
        def __init__(self, options):
            self.path = options.get("path")

        def write(self, iterator):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            with open(os.path.join(self.path, f"part-{pid:05d}.csv"), "w") as f:
                for batch in iterator:
                    f.writelines(
                        f"{k},{c},{s}\n"
                        for k, c, s in zip(
                            batch.column(0).to_pylist(),
                            batch.column(1).to_pylist(),
                            batch.column(2).to_pylist(),
                        )
                    )
            return WriterCommitMessage()

    class PartFileSink(DataSource):
        @classmethod
        def name(cls):
            return "part_file_sink"

        def writer(self, schema, overwrite):
            return _PartFileWriter(self.options)

    spark.dataSource.register(PartFileSink)
    # spread (guide §2.6): the single-row-group orders scan would hand
    # ONE writer task every surviving row; per-row Python formatting is
    # the cost, so size partitions to it. More part files, same re-read
    # rows — the written SET is partitioning-invariant.
    src = spread(
        load_table(spark, sf, "orders").filter(
            F.col("o_orderstatus") == "F"
        ).select("o_orderkey", "o_custkey", "o_orderstatus"),
        "o_orderkey", sf=sf, table="orders", cost="python",
    )
    src.write.format("part_file_sink").option("path", out_dir).mode("append").save()
    return spark.read.schema(
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string"
    ).csv(out_dir)


@query(
    "scan_parquet_merge_schema",
    oracle="""
        SELECT n_nationkey, n_name, CAST(NULL AS INTEGER) AS n_regionkey
        FROM nation
        UNION ALL
        SELECT n_nationkey, CAST(NULL AS VARCHAR) AS n_name, n_regionkey
        FROM nation
    """,
    tags=("scan", "connector", "schema-evolution"),
)
def scan_parquet_merge_schema(spark: SparkSession, sf: str) -> DataFrame:
    """Schema-evolution read: two parquet generations with different column
    sets merged into one frame via ``mergeSchema`` (missing columns
    NULL-filled per file). This is the lakehouse reality — years of files
    written as the schema grew — and the read-side twin of
    ``setop_union_evolved``. mergeSchema costs a footer read per file at
    planning time, so production tables pin the merged schema in a
    catalog instead; semantics are identical."""
    n = load_table(spark, sf, "nation")
    p1 = scratch_dir("merge_schema/v1")
    p2 = scratch_dir("merge_schema/v2")
    n.select("n_nationkey", "n_name").write.mode("overwrite").parquet(p1)
    n.select("n_nationkey", "n_regionkey").write.mode("overwrite").parquet(p2)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(p1, p2)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@query(
    "sink_dynamic_partition_overwrite",
    oracle="""
        -- IS DISTINCT FROM: NULL-status rows land in the Hive default
        -- partition, survive the dynamic overwrite of the 'O' partition,
        -- and read back as NULL — '<> ''O''' would silently exclude them.
        -- NULLIF: the layout cannot distinguish '' from NULL either;
        -- both read back as NULL (__HIVE_DEFAULT_PARTITION__)
        SELECT o_orderkey, o_totalprice,
               NULLIF(o_orderstatus, '') AS o_orderstatus
        FROM orders WHERE o_orderstatus IS DISTINCT FROM 'O'
        UNION ALL
        SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
               NULLIF(o_orderstatus, '') AS o_orderstatus
        FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("sink", "connector", "partitioned"),
)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf: str) -> DataFrame:
    """Dynamic partition overwrite: a second write replaces ONLY the
    partitions present in its input (status='O' here, price restated),
    leaving sibling partitions untouched — the incremental-reload
    primitive for partitioned lakehouse tables (vs static overwrite,
    which would truncate the whole table first). Verified by reading the
    final table state back; partition values ride the directory names."""
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    path = scratch_dir("dyn_overwrite_orders")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    restated = o.filter(F.col("o_orderstatus") == "O").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    (
        restated.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus")
        .parquet(path)
    )
    return spark.read.schema(o.schema).parquet(path).select(
        "o_orderkey", "o_totalprice", F.col("o_orderstatus").cast("string").alias("o_orderstatus")
    )


@query(
    "scan_json_nested",
    oracle="""
        WITH agg AS (
            SELECT o_custkey,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,8)))
                             AS VARCHAR) AS DOUBLE) AS total_spend,
                   ARRAY_TO_STRING((ARRAY_AGG(o_orderkey ORDER BY o_orderkey DESC))[1:3],
                                   '|') AS recent_orders
            FROM orders GROUP BY o_custkey
        )
        SELECT o_custkey AS custkey, n_orders, total_spend, recent_orders
        FROM agg
    """,
    tags=("scan", "connector", "nested"),
)
def scan_json_nested(spark: SparkSession, sf: str) -> DataFrame:
    """Nested-schema JSON connector roundtrip: a per-customer document
    ``{custkey, stats: {n_orders, total_spend}, recent_orders: [...]}`` is
    written as JSON lines and read back with an *explicit* nested schema
    (no inference — schema inference is a full extra pass over the data
    and non-deterministic under sampling at scale), then flattened. The
    struct/array nesting survives the connector: the oracle computes the
    same flattened result straight from orders, so any field lost or
    type-coerced in the JSON hop fails the hash. Top-3 recent orders are
    ORDER BY-deterministic on both engines."""
    o = load_table(spark, sf, "orders")
    nested = o.groupBy("o_custkey").agg(
        F.struct(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,8)"))
            .cast("double")
            .alias("total_spend"),
        ).alias("stats"),
        F.slice(
            F.sort_array(F.collect_list("o_orderkey"), asc=False), 1, 3
        ).alias("recent_orders"),
    )
    path = scratch_dir("json_nested")
    nested.write.mode("overwrite").json(path)
    back = spark.read.schema(nested.schema).json(path)
    return back.select(
        F.col("o_custkey").alias("custkey"),
        F.col("stats.n_orders").alias("n_orders"),
        F.col("stats.total_spend").alias("total_spend"),
        # flattened for the driver harness (bigint keys format identically)
        F.array_join(
            F.transform("recent_orders", lambda x: x.cast("string")), "|"
        ).alias("recent_orders"),
    )


@query(
    "scan_csv_compressed",
    oracle="SELECT * FROM supplier",
    tags=("scan", "connector"),
)
def scan_csv_compressed(spark: SparkSession, sf: str) -> DataFrame:
    """Gzip-compressed CSV roundtrip — the codec facet of the connector
    surface (the plain-CSV twin is ``scan_csv_roundtrip``). Write side
    picks the codec explicitly; read side must infer it from the ``.gz``
    extension with the schema still supplied (never inferred). The catch
    this op pins: gzip is NOT splittable — one file = one task regardless
    of size, so at scale the writer controls parallelism by emitting many
    moderate files (here via the upstream partitioning), or chooses a
    splittable codec/format upstream; the reader's task count follows the
    file count, which is why single-giant-gzip ingest is a classic 100 TB
    antipattern."""
    sup = load_table(spark, sf, "supplier")
    path = scratch_dir("csv_gz")
    # same robust-roundtrip options as scan_csv_roundtrip (multiLine +
    # no field-edge trimming) — hazard text must survive the codec path too
    sup.write.mode("overwrite").option("header", True).option(
        "compression", "gzip"
    ).option("ignoreLeadingWhiteSpace", False).option(
        "ignoreTrailingWhiteSpace", False
    ).csv(path)
    return (
        spark.read.schema(sup.schema)
        .option("header", True)
        .option("multiLine", True)
        .csv(path)
    )


@query(
    "scan_json_corrupt_column",
    oracle="""
        -- COUNT(n_name), not COUNT(*): the JSON writer omits NULL
        -- fields, so a NULL-name row reads back with n_name NULL and the
        -- op's COUNT("n_name") does not see it
        SELECT (SELECT CAST(COUNT(n_name) AS BIGINT) FROM nation) AS n_good,
               CAST(2 AS BIGINT) AS n_bad
    """,
    tags=("scan", "connector", "quality"),
)
def scan_json_corrupt_column(spark: SparkSession, sf: str) -> DataFrame:
    """PERMISSIVE JSON ingest with quarantine: corrupt lines land in the
    ``columnNameOfCorruptRecord`` column instead of killing the job or
    silently vanishing (the DROPMALFORMED twin is
    `scan_csv_permissive`). The nation table round-trips through JSONL,
    two broken lines are appended OUTSIDE Spark (real corruption never
    comes from your own writer), and the op reports good/quarantined
    counts — the shape of every ingest-health dashboard. Note the
    documented Spark quirk: the corrupt column can't be the ONLY
    referenced column; aggregating it alongside a data column keeps the
    plan legal. At scale the quarantined rows would be written to a
    side table for replay, not counted and dropped."""
    from datapipelines_python_spark.catalog import load_table as _lt

    path = scratch_dir("json_corrupt")
    n = _lt(spark, sf, "nation")
    n.write.mode("overwrite").json(path)
    # corrupt lines appended outside Spark
    bad = os.path.join(path, "part-manual-corrupt.json")
    with open(bad, "w") as f:
        f.write('{"n_nationkey": "not-an-int and unclosed\n')
        f.write("utter garbage, not json at all\n")
    schema = (
        "n_nationkey int, n_name string, n_regionkey int, _bad string"
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(path)
    )
    return df.agg(
        F.count("n_name").cast("bigint").alias("n_good"),
        F.count("_bad").cast("bigint").alias("n_bad"),
    )


@query(
    "sink_compact_small_files",
    oracle="""
        -- file-count model: round-robin repartition(64) writes one file
        -- per NON-EMPTY partition (= min(rows, 64)); coalesce(4) likewise
        -- min(rows, 4); a zero-row write still emits exactly ONE
        -- schema-preserving empty part file
        SELECT GREATEST(LEAST((SELECT COUNT(*) FROM orders), 64), 1)
                   AS n_files_before,
               GREATEST(LEAST((SELECT COUNT(*) FROM orders), 4), 1)
                   AS n_files_after,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows
    """,
    tags=("sink", "connector", "maintenance"),
)
def sink_compact_small_files(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file compaction — the table-maintenance op every streaming
    or incremental sink eventually needs: a directory fragmented into 64
    shards (round-robin repartition guarantees none is empty) is
    rewritten as 4 right-sized files via ``coalesce`` — which NARROWS
    partitions without a shuffle, the whole point: compaction cost is
    one read + one write, not an exchange. File counts are verified
    against the actual directory listing, rows against the re-read. At
    scale the target count comes from bytes/128 MB, the rewrite goes
    partition-by-partition (`sink_dynamic_partition_overwrite`), and
    files are picked by a size threshold rather than wholesale."""
    from datapipelines_python_spark.catalog import load_table as _lt

    frag = scratch_dir("compact_frag")
    compact = scratch_dir("compact_out")
    o = _lt(spark, sf, "orders")
    o.repartition(64).write.mode("overwrite").parquet(frag)
    n_before = len(
        [f for f in os.listdir(frag) if f.endswith(".parquet")]
    )
    # One scan split per fragment at any core count: Spark packs small
    # files into about defaultParallelism splits and coalesce can only
    # narrow, so at 2 cores the rewrite would write 2 files, not 4. An open
    # cost of a whole split gives every fragment its own; the conf is set
    # on a clone so the caller's session is untouched.
    reader = clone_session(spark, {
        "spark.sql.files.openCostInBytes":
            spark.conf.get("spark.sql.files.maxPartitionBytes"),
    })
    reader.read.parquet(frag).coalesce(4).write.mode("overwrite").parquet(
        compact
    )
    n_after = len(
        [f for f in os.listdir(compact) if f.endswith(".parquet")]
    )
    return spark.read.parquet(compact).agg(
        F.lit(n_before).cast("bigint").alias("n_files_before"),
        F.lit(n_after).cast("bigint").alias("n_files_after"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )


@query(
    "scan_csv_multiline",
    oracle="""
        SELECT n_nationkey,
               n_name || ', line1' || chr(10) || 'line2 "q" \\ end'
                   AS tricky
        FROM nation
    """,
    tags=("scan", "csv"),
)
def scan_csv_multiline(spark: SparkSession, sf: str) -> DataFrame:
    """CSV hard mode: values containing embedded newlines, the quote
    character itself, the escape character, and the delimiter must
    round-trip through a quoted CSV file. Writing quotes every such
    field; reading requires ``multiLine=true`` (a record spans physical
    lines, so the file can't be split at newline boundaries —
    the scale caveat: multiline CSV parallelizes per-FILE, not
    per-block, so shard wide corpora into many files). The oracle
    recomputes the constructed value directly from the source table —
    equality proves byte-exact round-trip."""
    n = load_table(spark, sf, "nation")
    tricky = F.concat(
        F.col("n_name"),
        F.lit(", line1\nline2 \"q\" \\ end"),
    )
    df = n.select("n_nationkey", tricky.alias("tricky"))
    path = scratch_dir("csv_multiline")
    # ignore*WhiteSpace=False: the CSV WRITER trims field-edge whitespace
    # by default (even under quoteAll), silently corrupting values that
    # begin or end with spaces (unistr hazard fixture)
    df.write.mode("overwrite").option("header", True).option(
        "quoteAll", True
    ).option("ignoreLeadingWhiteSpace", False).option(
        "ignoreTrailingWhiteSpace", False
    ).csv(path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("tricky", T.StringType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("multiLine", True)
        .csv(path)
    )


@query(
    "scan_parquet_nested_pushdown",
    oracle="""
        SELECT o_orderkey,
               o_custkey AS cust_key,
               o_orderstatus AS status,
               o_totalprice AS price
        FROM orders
        WHERE o_orderstatus = 'F' AND o_totalprice > 200000.0
    """,
    tags=("scan", "nested"),
)
def scan_parquet_nested_pushdown(spark: SparkSession, sf: str) -> DataFrame:
    """Nested-schema parquet with predicate pushdown INTO struct fields:
    orders are rewritten as {order: {key, price}, cust: {key, status}}
    structs, and the read-side filter on ``meta.status`` / ``order_info
    .price`` must reach the scan (Spark supports nested-column pruning
    and nested predicate pushdown — `spark.sql.optimizer
    .nestedSchemaPruning.enabled` is on by default). At 100 TB nested
    event payloads are the norm, and a reader that flattens before
    filtering reads every struct leaf; this op + its plan pin keep the
    engine honest. Output is flattened for the oracle, which replays
    against the flat source table."""
    o = load_table(spark, sf, "orders")
    nested = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_custkey").alias("key"),
            F.col("o_orderstatus").alias("status"),
        ).alias("meta"),
        F.struct(
            F.col("o_totalprice").alias("price"),
            F.col("o_orderdate").alias("odate"),
        ).alias("order_info"),
    )
    path = scratch_dir("nested_orders")
    nested.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.filter(
            (F.col("meta.status") == "F") & (F.col("order_info.price") > 200000.0)
        )
        .select(
            "o_orderkey",
            F.col("meta.key").alias("cust_key"),
            F.col("meta.status").alias("status"),
            F.col("order_info.price").alias("price"),
        )
    )


@query(
    "scan_recursive_file_lookup",
    oracle="SELECT r_regionkey, r_name FROM region",
    tags=("scan", "layout"),
)
def scan_recursive_file_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """``recursiveFileLookup``: ingest parquet scattered through an
    arbitrary directory TREE (vendor drops, date-nested log dirs)
    without the partition-discovery contract — unlike partitioned
    reads, directory names contribute NO columns, they're just paths.
    The test writes the table split across nested subdirs of different
    depths and reads the tree back as one dataset; equality against
    the source table proves nothing was missed or double-read. Caveat
    pinned in the option name itself: partition pruning cannot apply —
    for path-encoded data prefer real partitioned layouts
    (``scan_partition_pruned``)."""
    r = load_table(spark, sf, "region").select("r_regionkey", "r_name")
    base = scratch_dir("recursive_tree")
    r.filter(F.col("r_regionkey") < 2).write.mode("overwrite").parquet(
        f"{base}/a/deep/one"
    )
    r.filter((F.col("r_regionkey") >= 2) & (F.col("r_regionkey") < 4)).write.mode(
        "overwrite"
    ).parquet(f"{base}/b/two")
    r.filter(F.col("r_regionkey") >= 4).write.mode("overwrite").parquet(
        f"{base}/c/even/deeper/three"
    )
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(base)
        .select("r_regionkey", "r_name")
    )


@query(
    "scan_xml_roundtrip",
    oracle="""
        SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
    tags=("scan", "connector"),
)
def scan_xml_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """XML sink + source roundtrip on the nation dimension — Spark 4's
    built-in XML data source (`format("xml")`, the spark-xml package
    folded into core), the interchange format that still fronts most
    enterprise/feed ingest. Written with an explicit rowTag and read
    back under an explicit schema: XML inference widens every number to
    long/double, so schema-on-read is the only scale-safe posture (same
    rule as JSON). Element-per-row layout splits cleanly, so a 100 TB
    XML drop parallelizes per file exactly like the CSV/JSON sources."""
    n = load_table(spark, sf, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = scratch_dir("xml_nation")
    (
        n.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .save(path)
    )
    return (
        spark.read.schema("n_nationkey int, n_name string, n_regionkey int")
        .format("xml")
        .option("rowTag", "nation")
        # preserve leading/trailing whitespace in element text — the
        # default trim silently corrupts values (unistr hazard fixture)
        .option("ignoreSurroundingSpaces", False)
        .load(path)
    )


@query(
    "sink_csv_quoting",
    oracle="""
        SELECT * FROM (VALUES
            (1, 'plain', 'no specials'),
            (2, 'comma, inside', 'a,b'),
            (3, 'quote " inside', 'say "hi"'),
            (4, 'newline
inside', 'two
lines'),
            (5, NULL, 'null name')
        ) t(id, name, note)
    """,
    tags=("scan", "sink", "connector", "robustness"),
)
def sink_csv_quoting(spark: SparkSession, sf: str) -> DataFrame:
    """CSV quoting/escaping roundtrip torture row set: embedded
    delimiters, embedded double-quotes (RFC-4180 doubled on write),
    embedded NEWLINES (forces multiLine=true on read — the option that
    silently truncates rows when forgotten), and NULL vs empty-string
    disambiguation via an explicit nullValue sentinel. Written by the
    Spark CSV sink, read back by the Spark CSV source; the oracle is
    the literal row set, so any quoting asymmetry between writer and
    reader fails the hash. The multiLine caveat is a scale decision:
    multiline CSV files are NOT splittable, so 100 TB of them read one
    file per task — keep newline-bearing exports in parquet, or accept
    file-grain parallelism."""
    # JVM VALUES relation, not createDataFrame(list): the pickled-rows
    # path plans a Python-RDD scan whose coalesce(1) write computed all
    # 32 parent slices through sequential Python worker round-trips —
    # measured 6.4 s PER WRITE of five rows at r10 (guide §4: eliminate
    # the boundary). The literal row set is unchanged.
    df = spark.sql(
        "SELECT * FROM VALUES "
        "(1, 'plain', 'no specials'), "
        "(2, 'comma, inside', 'a,b'), "
        "(3, 'quote \" inside', 'say \"hi\"'), "
        "(4, 'newline' || CHAR(10) || 'inside', "
        "'two' || CHAR(10) || 'lines'), "
        "(5, CAST(NULL AS STRING), 'null name') "
        "AS t(id, name, note)"
    )
    path = scratch_dir("csv_quoting")
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("header", "true")
        .option("nullValue", "\\N")
        .csv(path)
    )
    return (
        spark.read.schema("id int, name string, note string")
        .option("header", "true")
        .option("multiLine", "true")
        .option("nullValue", "\\N")
        .csv(path)
    )


@query(
    "scan_csv_dateformat",
    oracle="""
        SELECT * FROM (VALUES
            (1, DATE '2024-03-01', TIMESTAMP '2024-03-01 08:30:00'),
            (2, DATE '2024-12-31', TIMESTAMP '2024-12-31 23:59:59'),
            (3, DATE '2025-01-15', TIMESTAMP '2025-01-15 00:00:01')
        ) t(id, d, ts)
    """,
    tags=("scan", "connector"),
)
def scan_csv_dateformat(spark: SparkSession, sf: str) -> DataFrame:
    """Non-ISO date/timestamp parsing at the CSV source: European
    ``dd/MM/yyyy`` dates and ``dd/MM/yyyy HH:mm:ss`` timestamps parsed
    via the ``dateFormat``/``timestampFormat`` reader options — schema-
    on-read doing real coercion work at the scan (NOT a post-hoc
    to_date projection, so the parse happens once, inside the
    datasource, and malformed values surface through the reader's mode
    machinery like ``scan_csv_permissive``). The file is written
    out-of-band: format drift always comes from someone else's
    exporter. Session timezone UTC keeps the timestamp bits identical
    on both engines."""
    path = scratch_dir("csv_dates")
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-0.csv"), "w") as f:
        f.write(
            "id;d;ts\n"
            "1;01/03/2024;01/03/2024 08:30:00\n"
            "2;31/12/2024;31/12/2024 23:59:59\n"
            "3;15/01/2025;15/01/2025 00:00:01\n"
        )
    return (
        spark.read.schema("id int, d date, ts timestamp")
        .option("header", "true")
        .option("sep", ";")
        .option("dateFormat", "dd/MM/yyyy")
        .option("timestampFormat", "dd/MM/yyyy HH:mm:ss")
        .csv(path)
    )


@query(
    "sink_max_records_per_file",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               -- GREATEST(.., 1): a zero-row write still emits one
               -- schema-preserving empty part file
               CAST(GREATEST(CEIL(CAST(COUNT(*) AS DOUBLE) / 100.0), 1)
                    AS BIGINT) AS n_files_expected
        FROM nation CROSS JOIN region
    """,
    tags=("scan", "sink", "layout"),
)
def sink_max_records_per_file(spark: SparkSession, sf: str) -> DataFrame:
    """File-size governance on write: ``maxRecordsPerFile`` caps rows
    per output file (here 100), the writer-side knob that bounds the
    LARGE end of file sizes the way ``sink_compact_small_files`` fixes
    the small end — together they keep the scan-task size distribution
    inside the sweet spot (~128 MB) that makes 100 TB reads schedule
    evenly. The op writes a single-partition frame so the row→file math
    is exact, then verifies the produced file count against
    ceil(rows/cap) by listing actual part files. Layout is a CONTRACT
    to assert, not a side effect to hope for."""
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    df = n.crossJoin(r)
    path = scratch_dir("max_records")
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 100)
        .parquet(path)
    )
    n_rows = spark.read.parquet(path).count()
    n_files = len(
        [f for f in os.listdir(path) if f.endswith(".parquet")]
    )
    return spark.createDataFrame(
        [(n_rows, n_files)], "n_rows bigint, n_files_expected bigint"
    )


@query(
    "scan_ignore_corrupt_files",
    oracle="SELECT n_nationkey, n_name FROM nation",
    tags=("scan", "connector", "robustness"),
)
def scan_ignore_corrupt_files(spark: SparkSession, sf: str) -> DataFrame:
    """Corrupt-FILE tolerance (the file-grain sibling of
    ``scan_csv_permissive``'s row-grain handling): a directory holding
    one valid parquet file and one truncated-garbage '.parquet' is read
    with ``spark.sql.files.ignoreCorruptFiles`` — the corrupt member is
    skipped wholesale, the good rows survive. On a 100 TB lake a single
    botched upload otherwise fails the whole scan hours in; the
    production pattern is this flag plus a reconciliation count against
    the manifest (here: the oracle IS that reconciliation). Set as a
    per-read OPTION, not session conf — the blast radius of silently
    skipping files belongs to the one scan that opted in."""
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    path = scratch_dir("corrupt_dir")
    n.coalesce(1).write.mode("overwrite").parquet(path)
    with open(os.path.join(path, "upload-truncated.parquet"), "wb") as f:
        f.write(b"PAR1 this is not really parquet data \x00\x01")
    return (
        spark.read.option("ignoreCorruptFiles", "true").parquet(path)
    )


@query(
    "scan_text_wholetext",
    oracle="""
        SELECT * FROM (VALUES
            ('alpha beta gamma', CAST(16 AS BIGINT)),
            ('one
two
three', CAST(13 AS BIGINT)),
            ('single', CAST(6 AS BIGINT))
        ) t(value, n_chars)
    """,
    tags=("scan", "connector"),
)
def scan_text_wholetext(spark: SparkSession, sf: str) -> DataFrame:
    """``wholetext`` mode of the text source: ONE ROW PER FILE instead
    of one per line — the ingestion mode for document corpora where a
    file IS the document (the line-mode twin is
    ``scan_text_roundtrip``, which would shred the multi-line file
    below into three records). Embedded newlines survive verbatim, as
    the char counts pin. The scale trade is explicit: wholetext files
    are unsplittable by definition (a document can't be half-read), so
    parallelism = file count and the 100 TB layout wants many medium
    files, never one giant — the same granularity rule
    ``sink_max_records_per_file`` enforces from the writer side."""
    path = scratch_dir("wholetext")
    os.makedirs(path, exist_ok=True)
    for name, body in (
        ("a.txt", "alpha beta gamma"),
        ("b.txt", "one\ntwo\nthree"),
        ("c.txt", "single"),
    ):
        with open(os.path.join(path, name), "w") as f:
            f.write(body)
    docs = spark.read.text(path, wholetext=True)
    return docs.select(
        "value", F.length("value").cast("bigint").alias("n_chars")
    )
