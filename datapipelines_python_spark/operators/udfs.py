"""UDF / UDAF / UDTF surface (SURVEY.md §2B.8).

The one place Python crosses into the executors. Ordering of preference at
scale: built-in functions (everything else in this package) > Arrow-batched
pandas UDFs (these) > row-at-a-time Python UDFs (kept to one op, as the
surface demands). Bodies are SQL-expressible so the DuckDB oracle can check
them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf, udf

from datapipelines_python_spark.catalog import load_table
from datapipelines_python_spark.operators._helpers import (
    _scan_meta,
    round4,
    sql_round4,
    task_count,
)
from datapipelines_python_spark.registry import query


@query(
    "udf_python_scalar",
    oracle="""
        SELECT doc_id,
               -- ß pre-expansion: Python str.upper() gives 'SS' (like
               -- Java), DuckDB's utf8proc gives 'ẞ'
               CONCAT(UPPER(REPLACE(lang, 'ß', 'ss')), '/',
                      SUBSTRING(text, 1, 10)) AS doc_tag
        FROM documents
    """,
    tags=("udf",),
)
def udf_python_scalar(spark: SparkSession, sf: str) -> DataFrame:
    """Row-at-a-time Python UDF (the slow path, by design — one per batch
    of rows crosses the Py4J/worker boundary per row)."""

    @udf(returnType=T.StringType())
    def doc_tag(lang: str, text: str) -> str:
        # NULL-safe: the oracle's CONCAT skips NULL args (DuckDB/ANSI
        # CONCAT semantics), so missing fields render as empty strings
        return f"{(lang or '').upper()}/{(text or '')[:10]}"

    d = load_table(spark, sf, "documents")
    return d.select("doc_id", doc_tag("lang", "text").alias("doc_tag"))


@query(
    "udf_pandas_scalar",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge_vec
        FROM lineitem
    """,
    tags=("udf", "pandas"),
)
def udf_pandas_scalar(spark: SparkSession, sf: str) -> DataFrame:
    """Vectorized Arrow UDF: whole columns as pandas Series, NumPy math —
    identical IEEE ops to the SQL expression, so bits match raw."""

    @pandas_udf("double")
    def charge(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        return price * (1 - disc) * (1 + tax)

    li = load_table(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        charge("l_extendedprice", "l_discount", "l_tax").alias("charge_vec"),
    )


@query(
    "udf_grouped_map",
    oracle=f"""
        SELECT event_id, user_id,
               {sql_round4(
                   '(value - AVG(value) OVER (PARTITION BY user_id)) / '
                   'STDDEV_SAMP(value) OVER (PARTITION BY user_id)'
               )} AS zscore
        FROM events
    """,
    tags=("udf", "grouped"),
)
def udf_grouped_map(spark: SparkSession, sf: str) -> DataFrame:
    """applyInPandas: per-group DataFrame → DataFrame (z-score per user).

    At scale each group must fit one executor's memory — the right shape
    for per-entity normalization (bounded groups), not global transforms.
    """
    import math

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # Constant group: pandas' sum/n mean carries rounding error, so
        # (v - mean)/std fabricates a finite z out of 1e-14 noise where
        # SQL's Welford-based STDDEV_SAMP is exactly 0 → NULL. Detect the
        # constant case exactly and emit NULL, matching the x/0 oracle.
        if pdf["value"].nunique(dropna=False) <= 1:
            z = pd.array([None] * len(pdf), dtype="Float64")
        else:
            mean = pdf["value"].mean()
            std = pdf["value"].std(ddof=1)  # matches STDDEV_SAMP
            z = (pdf["value"] - mean) / std
            # round4 floor-trick, mirrored from _helpers (pandas side)
            z = pd.array(np.floor(z * 10000.0 + 0.5) / 10000.0, dtype="Float64")
            # Mixed group (some NULL, some not): pandas arithmetic emits NaN
            # for the NULL rows where the SQL oracle yields NULL — mask the
            # NULL-input rows so NULL round-trips as SQL NULL, not NaN.
            z[pdf["value"].isna().to_numpy()] = None
        return pd.DataFrame(
            {"event_id": pdf["event_id"], "user_id": pdf["user_id"], "zscore": z}
        )

    e = load_table(spark, sf, "events")
    # Two boundary fixes (guide §4.1 / §2.2), values identical:
    # - applyInPandas is opaque to column pruning: without the explicit
    #   select the WHOLE row (fat `props` JSON included) is shuffled and
    #   Arrow-shipped per group; the function reads exactly three columns.
    # - the group exchange is provided EXPLICITLY, sized to the events
    #   rows in the Python cost class, instead of letting
    #   ENSURE_REQUIREMENTS + AQE size it: AQE coalesces by BYTES (the
    #   skinny shuffle lands at ~2 partitions), but the stage cost is
    #   per-row Python, so task count — not partition size — is what
    #   matters. groupBy reuses this exchange (same key), so no extra
    #   shuffle; measured 4.5 → 0.7 s at sf0.1.
    width = task_count(spark, _scan_meta(sf, "events")[1], "python")
    return (
        e.select("event_id", "user_id", "value")
        .repartition(width, "user_id")
        .groupBy("user_id")
        .applyInPandas(
            zscore, schema="event_id long, user_id long, zscore double"
        )
    )


@query(
    "udaf_pandas_agg",
    oracle=f"""
        WITH ranked AS (
            SELECT event_type, value,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id)
                       AS rn_asc,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id DESC)
                       AS rn_desc,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM events
        )
        SELECT event_type,
               {sql_round4('AVG(value)')} AS trimmed_mean
        FROM ranked
        WHERE rn_asc > CAST(FLOOR(n * 0.1) AS BIGINT)
          AND rn_desc > CAST(FLOOR(n * 0.1) AS BIGINT)
        GROUP BY event_type
    """,
    tags=("udf", "udaf"),
)
def udaf_pandas_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Custom aggregate via GROUPED_AGG pandas UDF: 10% trimmed mean."""

    @pandas_udf("double")
    def trimmed_mean(v: pd.Series) -> float:
        import numpy as np

        s = v.sort_values()
        k = int(np.floor(len(s) * 0.1))
        trimmed = s.iloc[k : len(s) - k] if k else s
        m = trimmed.mean()
        return float(np.floor(m * 10000.0 + 0.5) / 10000.0)

    e = load_table(spark, sf, "events")
    return e.groupBy("event_type").agg(trimmed_mean("value").alias("trimmed_mean"))


@query(
    "udtf_surface",
    oracle="""
        SELECT d.doc_id, t.i AS word_idx, STRING_SPLIT(d.text, ' ')[t.i] AS word
        FROM documents d
        CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, 5)) AS i) t
        WHERE t.i <= LEN(STRING_SPLIT(d.text, ' '))
    """,
    tags=("udf", "udtf"),
)
def udtf_surface(spark: SparkSession, sf: str) -> DataFrame:
    """Python UDTF (Spark 4): one input row → N output rows (leading words
    with 1-based positions)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, word_idx int, word string")
    class LeadingWords:
        def eval(self, doc_id: int, text: str):
            if text is None:  # no tokens to emit — mirrors the oracle's
                return        # WHERE i <= LEN(NULL) being false
            for i, w in enumerate(text.split(" ")[:5], start=1):
                yield doc_id, i, w

    d = load_table(spark, sf, "documents")
    d.createOrReplaceTempView("documents_udtf")
    spark.udtf.register("leading_words", LeadingWords)
    return spark.sql(
        "SELECT t.* FROM documents_udtf d, "
        "LATERAL leading_words(d.doc_id, d.text) t"
    )


@query(
    "udf_cogrouped_map",
    oracle="""
        WITH e AS (
            SELECT user_id % 100 AS k,
                   COUNT(*) AS n_events,
                   -- CAST: DuckDB SUM(BIGINT)=HUGEINT → float64 in pandas
                   CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT))
                        AS BIGINT) AS value_cents
            FROM events GROUP BY 1
        ),
        o AS (
            SELECT o_custkey % 100 AS k,
                   COUNT(*) AS n_orders,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                        AS BIGINT) AS order_cents
            FROM orders GROUP BY 1
        )
        SELECT COALESCE(e.k, o.k) AS k,
               COALESCE(e.n_events, 0) AS n_events,
               COALESCE(o.n_orders, 0) AS n_orders,
               COALESCE(e.value_cents, 0) AS value_cents,
               COALESCE(o.order_cents, 0) AS order_cents
        FROM e FULL JOIN o ON e.k = o.k
    """,
    tags=("udf", "pandas"),
)
def udf_cogrouped_map(spark: SparkSession, sf: str) -> DataFrame:
    """Cogrouped-map pandas UDF: ``dfA.groupBy(k).cogroup(dfB.groupBy(k))
    .applyInPandas(fn)`` hands BOTH groups for a key to one Python function
    as two pandas frames — the custom-merge escape hatch (as-of matching,
    per-key reconciliation, trajectory stitching) when a relational join
    can't express the pairing. Both sides shuffle on the key once, same as
    a join. Monetary values are pre-quantized to integer cents *before*
    the UDF so the pandas sums are order-independent (float sums inside a
    group are not)."""
    ev = load_table(spark, sf, "events").select(
        F.pmod(F.col("user_id"), F.lit(100)).alias("k"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    od = load_table(spark, sf, "orders").select(
        F.pmod(F.col("o_custkey"), F.lit(100)).alias("k"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("cents"),
    )

    def merge(key: tuple, epdf: pd.DataFrame, opdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "k": [key[0]],
                "n_events": [len(epdf)],
                "n_orders": [len(opdf)],
                "value_cents": [int(epdf["cents"].sum())],
                "order_cents": [int(opdf["cents"].sum())],
            }
        )

    return (
        ev.groupBy("k")
        .cogroup(od.groupBy("k"))
        .applyInPandas(
            merge,
            schema="k long, n_events long, n_orders long, "
            "value_cents long, order_cents long",
        )
    )


@query(
    "udf_map_in_arrow",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               l_extendedprice * (1.0 - l_discount) AS disc_price
        FROM lineitem
    """,
    tags=("udf", "arrow"),
)
def udf_map_in_arrow(spark: SparkSession, sf: str) -> DataFrame:
    """``mapInArrow``: the lowest-overhead Python escape hatch — the UDF
    sees raw Arrow RecordBatches (no pandas conversion at all) and runs
    vectorized ``pyarrow.compute`` kernels. Right layer for
    columnar-native libs (tokenizers with Arrow bindings, image codecs)
    where even the pandas round-trip is measurable. Row-wise double
    arithmetic in one kernel ⇒ bit-identical to the SQL expression."""
    import pyarrow as pa
    import pyarrow.compute as pc

    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )

    def compute(batches):
        for batch in batches:
            disc = pc.multiply(
                batch.column("l_extendedprice"),
                pc.subtract(pa.scalar(1.0), batch.column("l_discount")),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("l_orderkey"), batch.column("l_linenumber"), disc],
                names=["l_orderkey", "l_linenumber", "disc_price"],
            )

    return li.mapInArrow(
        compute, schema="l_orderkey long, l_linenumber int, disc_price double"
    )


@query(
    "udf_arrow_scalar",
    oracle="""
        SELECT doc_id,
               LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_tokens,
               LENGTH(REPLACE(text, ' ', '')) AS n_nonspace
        FROM documents
    """,
    tags=("udf", "arrow"),
)
def udf_arrow_scalar(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow-optimized *scalar* Python UDF (Spark 4 ``useArrow=True``):
    row-at-a-time author ergonomics, Arrow-batched transfer underneath —
    the drop-in upgrade path for legacy ``@udf`` code that can't be
    vectorized wholesale (~2-3× over pickled rows; a true pandas_udf
    still wins when the body is vectorizable). Body kept
    SQL-expressible (whitespace token count) so the oracle is exact."""
    from pyspark.sql.functions import udf

    @udf("long", useArrow=True)
    def ntok(text: str) -> int:
        return len(text.split(" ")) if text is not None else None

    @udf("long", useArrow=True)
    def nchar(text: str) -> int:
        return len(text.replace(" ", "")) if text is not None else None

    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        ntok("text").alias("n_tokens"),
        nchar("text").alias("n_nonspace"),
    )


@query(
    "udtf_analyze_polymorphic",
    oracle="""
        SELECT doc_id,
               CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(LENGTH(text) AS BIGINT) AS n_chars,
               lang AS lang_tag
        FROM documents
    """,
    tags=("udf", "udtf", "spark4"),
)
def udtf_analyze_polymorphic(spark: SparkSession, sf: str) -> DataFrame:
    """Spark 4 polymorphic Python UDTF: the static ``analyze`` hook
    computes the output schema *from the call site's literal argument* —
    here a requested-metrics string decides which columns the UDTF emits
    (schema-on-call, the table-function analogue of generics). The driver
    invokes analyze once at plan time; executors then stream Arrow
    batches through ``eval`` with a schema Catalyst already trusts, so
    downstream pruning/codegen see ordinary columns. Kept deliberately
    side-effect-free and oracle-expressible: the same three metrics in
    plain SQL."""
    from pyspark.sql.functions import lit, udtf
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class DocMetrics:
        @staticmethod
        def analyze(
            doc_id: AnalyzeArgument,
            text: AnalyzeArgument,
            lang: AnalyzeArgument,
            metrics: AnalyzeArgument,
        ) -> AnalyzeResult:
            fields = [
                T.StructField("doc_id", T.LongType()),
            ]
            for m in metrics.value.split(","):
                if m == "tokens":
                    fields.append(T.StructField("n_tokens", T.LongType()))
                elif m == "chars":
                    fields.append(T.StructField("n_chars", T.LongType()))
                elif m == "lang":
                    fields.append(T.StructField("lang_tag", T.StringType()))
            return AnalyzeResult(schema=T.StructType(fields))

        def eval(self, doc_id: int, text: str, lang: str, metrics: str):
            row = [doc_id]
            for m in metrics.split(","):
                if m == "tokens":
                    row.append(len(text.split(" ")) if text is not None else None)
                elif m == "chars":
                    row.append(len(text) if text is not None else None)
                elif m == "lang":
                    row.append(lang)
            yield tuple(row)

    metrics_udtf = udtf(DocMetrics)
    spark.udtf.register("doc_metrics", metrics_udtf)
    d = load_table(spark, sf, "documents")
    d.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT m.* FROM _udtf_docs d, "
        "LATERAL doc_metrics(d.doc_id, d.text, d.lang, 'tokens,chars,lang') m"
    )


@query(
    "udtf_table_arg",
    oracle="""
        WITH e AS (
            -- ts IS NOT NULL: unstamped events cannot be sessionized.
            -- Without the filter, all-NULL ts + fully tied rows diverge:
            -- the running SUM's RANGE frame counts all peers at once while
            -- the sequential UDTF opens a session per NULL gap (found by
            -- the composed dupnull fixture, round 5).
            SELECT user_id, EPOCH_US(ts) AS us, event_id FROM events
            WHERE ts IS NOT NULL
        ),
        g AS (
            SELECT user_id,
                   CASE WHEN LAG(us) OVER w IS NULL
                             OR us - LAG(us) OVER w > 1800000000
                        THEN 1 ELSE 0 END AS brk,
                   us, event_id
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ),
        s AS (
            SELECT user_id,
                   SUM(brk) OVER (PARTITION BY user_id
                                  ORDER BY us, event_id) AS sid
            FROM g
        ),
        sess AS (
            SELECT user_id, sid, COUNT(*) AS len
            FROM s GROUP BY user_id, sid
        )
        SELECT user_id,
               CAST(COUNT(*) AS INT) AS n_sessions,
               CAST(MAX(len) AS INT) AS max_session_len
        FROM sess GROUP BY user_id
    """,
    tags=("udf", "udtf", "spark4"),
)
def udtf_table_arg(spark: SparkSession, sf: str) -> DataFrame:
    """Spark 4 Python UDTF with a TABLE argument — the per-group
    streaming table function: ``PARTITION BY user_id ORDER BY ts``
    hands each user's rows to one UDTF instance IN ORDER, so the class
    can run an O(1)-state sequential algorithm (here a 30-minute-gap
    sessionizer counting sessions and the longest run) without
    collecting the group into memory — the imperative escape hatch when
    window functions can't express the per-row state machine. Ordering
    ties are broken by event_id so the scan order — and therefore the
    session split — is partition-order invariant; timestamps enter as
    integer epoch-micros (computed JVM-side). The oracle replays the
    same semantics as gaps-and-islands SQL. Costs exactly one shuffle
    (the PARTITION BY); state per instance is three integers, so a
    1000-executor run is bounded by the widest user, not the table."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="user_id bigint, n_sessions int, max_session_len int")
    class SessionSummary:
        def __init__(self) -> None:
            self._user = None
            self._last = None
            self._sessions = 0
            self._cur = 0
            self._max = 0

        def eval(self, row) -> None:
            self._user = row["user_id"]
            us = row["us"]
            if self._last is None or us - self._last > 1_800_000_000:
                self._sessions += 1
                self._cur = 1
            else:
                self._cur += 1
            if self._cur > self._max:
                self._max = self._cur
            self._last = us

        def terminate(self):
            if self._user is not None:
                yield (self._user, self._sessions, self._max)

    spark.udtf.register("session_summary", SessionSummary)
    # ts IS NOT NULL mirrors the oracle: unstamped events are dropped, not
    # sessionized (NULL gaps would open a session per row)
    e = (
        load_table(spark, sf, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", F.unix_micros("ts").alias("us"), "event_id")
    )
    e.createOrReplaceTempView("_udtf_sessions_in")
    return spark.sql(
        "SELECT * FROM session_summary("
        "TABLE(_udtf_sessions_in) PARTITION BY user_id ORDER BY (us, event_id))"
    )


@query(
    "udf_pandas_iter",
    oracle="""
        SELECT doc_id,
               CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1
                    AS BIGINT) AS n_tokens_iter
        FROM documents
    """,
    tags=("udf", "pandas", "iterator"),
)
def udf_pandas_iter(spark: SparkSession, sf: str) -> DataFrame:
    """SCALAR_ITER pandas UDF — the Iterator[pd.Series] → Iterator
    [pd.Series] variant that completes the UDF matrix (scalar / iter /
    grouped-map / grouped-agg / cogrouped / mapInPandas / mapInArrow).
    The iterator form exists for exactly one scale reason: expensive
    per-executor setup (a tokenizer, a model handle) amortizes across
    ALL Arrow batches of a partition instead of re-initializing per
    batch — below, the 'model' is a trivial splitter regex, stood up
    once before the loop, counting whitespace tokens per doc. Body
    stays SQL-expressible for the oracle."""
    # typing.Iterator at module scope: `from __future__ import annotations`
    # makes hints strings that pyspark resolves in module globals
    @pandas_udf("bigint")
    def tok_count(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # one-time per-partition setup (the amortization the API is for)
        import re

        splitter = re.compile(r" ")
        for s in batches:
            # nullable Int64: None -> <NA> -> SQL NULL (LENGTH(NULL))
            yield s.map(
                lambda t: len(splitter.split(t)) if t is not None else None
            ).astype("Int64")

    d = load_table(spark, sf, "documents")
    return d.select("doc_id", tok_count("text").alias("n_tokens_iter"))


@query(
    "udf_pandas_struct",
    oracle="""
        SELECT doc_id,
               CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1
                    AS INT) AS n_tokens,
               CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                   / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1)
                   AS mean_token_len
        FROM documents
    """,
    tags=("udf", "pandas"),
)
def udf_pandas_struct(spark: SparkSession, sf: str) -> DataFrame:
    """Pandas UDF returning a STRUCT: the vectorized function hands back
    a pandas DataFrame whose columns become the struct fields — one
    Arrow exchange produces N typed outputs (vs N separate UDF calls,
    each with its own serialization round trip). The body is kept
    SQL-expressible (token count + mean token length over the
    single-space corpus) so the oracle is exact: integer token counts,
    one double division. The struct is star-expanded after the UDF so
    downstream consumers see flat columns."""
    out_t = T.StructType(
        [
            T.StructField("n_tokens", T.IntegerType()),
            T.StructField("mean_token_len", T.DoubleType()),
        ]
    )

    @pandas_udf(out_t)
    def _tok_stats(texts: pd.Series) -> pd.DataFrame:
        # pandas .str accessors propagate NaN for None inputs; nullable
        # Int32/Float64 dtypes turn those into SQL NULLs instead of
        # crashing the int cast (or smuggling NaN where the oracle
        # has NULL)
        n_tok_f = texts.str.count(" ") + 1
        n_nonspace = texts.str.replace(" ", "", regex=False).str.len()
        return pd.DataFrame(
            {
                "n_tokens": n_tok_f.astype("Int32"),
                "mean_token_len": (n_nonspace / n_tok_f).astype("Float64"),
            }
        )

    d = load_table(spark, sf, "documents")
    return d.select("doc_id", _tok_stats(F.col("text")).alias("s")).select(
        "doc_id", "s.n_tokens", "s.mean_token_len"
    )


@query(
    "udaf_pandas_window",
    oracle="""
        SELECT event_id, user_id,
               (MIN(value) OVER w + MAX(value) OVER w) / 2.0 AS midrange_5
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
    tags=("udf", "pandas", "window"),
)
def udaf_pandas_window(spark: SparkSession, sf: str) -> DataFrame:
    """Pandas GROUPED_AGG UDF applied OVER a bounded window — the API
    corner where a custom aggregate slides along ordered frames: Spark
    re-evaluates the Arrow-batched UDF per frame (rows -4..0 per user
    here). The body is the rolling midrange (min+max)/2 — chosen because
    it is EXACTLY representable regardless of summation order, so the
    SQL window oracle matches bit-for-bit (a float mean would hinge on
    accumulation order inside the UDF). Scale note: custom window UDAFs
    cost one Python round trip per frame — prefer built-in window
    aggregates when they exist; this op pins the escape hatch for when
    they don't."""
    from datapipelines_python_spark.catalog import load_table as _lt
    from pyspark.sql.window import Window as _W

    @pandas_udf("double")
    def _midrange(v: pd.Series) -> float:
        # Called once per FRAME (~one per input row): numpy on the raw
        # buffer instead of two pandas reductions cuts the per-call
        # Python cost ~3x (guide §4.2). nanmin/nanmax select the same
        # elements pandas' skipna min/max select — bit-identical result.
        vv = v.to_numpy()
        return float((np.nanmin(vv) + np.nanmax(vv)) / 2.0)

    e = load_table(spark, sf, "events")
    # Provide the window's user_id exchange explicitly, sized to the
    # events rows in the Python cost class: the per-frame Python round
    # trips are the cost, and AQE's byte-based coalescing of the
    # ENSURE_REQUIREMENTS shuffle ran this stage on ~2 partitions. The
    # window reuses this exchange (same key); frames are totally ordered
    # per user, so values are identical under any partitioning. Measured
    # 5.9 → 1.6 s at sf0.1.
    e = e.repartition(
        task_count(spark, _scan_meta(sf, "events")[1], "python"), "user_id"
    )
    w = (
        _W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, _W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        _midrange(F.col("value")).over(w).alias("midrange_5"),
    )
