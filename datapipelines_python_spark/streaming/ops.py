"""Structured Streaming operators (SURVEY.md §2B.9) over the ``events``
table: tumbling / sliding / session windows, watermarked late-data
handling, stateful dedup, custom state via applyInPandasWithState, and a
foreachBatch custom sink.

Checking strategy: every op runs the real streaming engine
(``readStream`` → ``Trigger.AvailableNow`` → sink) and is compared against
a *batch-equivalent* DuckDB oracle wherever emission is deterministic:

- Window aggregations in complete mode emit the final snapshot — always
  batch-equivalent.
- The watermark op runs in append mode; emission across AvailableNow
  batches is cumulative "windows closed by the final watermark", which is
  deterministic (final watermark = max event time − delay regardless of
  how files were split into micro-batches) — so even late-data dropping
  has a SQL oracle here. Arrival-order-dependent behavior (true late
  drops) is covered by a hand-built micro-batch unit test in tests/.

At scale: state stores are bounded by watermarks (session/tumbling state
is evicted once the watermark passes), dedup state must be keyed narrowly,
and complete mode is for fixture-sized snapshots only — production sinks
run append/update.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipelines_python_spark.catalog import load_table, read_parquet
from datapipelines_python_spark.operators._helpers import sql_dsum, task_count
from datapipelines_python_spark.operators.scans import scratch_dir
from datapipelines_python_spark.registry import query
from datapipelines_python_spark.session import clone_session

_DEC = "decimal(38,8)"


# Staged ts-ordered copies of the events table, keyed by (sf, n_files).
# One write per session serves every streaming op at that sf.
_STAGED_EVENTS: dict[tuple[str, int], str] = {}


# Session conf holding the split. A session clone carries its caller's
# value (``session.clone_session``), so a clone given its own split
# leaves the process and every other session alone.
STREAM_FILES_CONF = "spark.datapipelines.stream.files"


def stream_split_files(spark: SparkSession) -> int:
    """How many files (= micro-batches under maxFilesPerTrigger=1) the
    staged events stream is split into: the session conf
    ``STREAM_FILES_CONF``, default 4 so every run exercises real
    multi-batch execution. The stream digest sets 2 on its members'
    sessions; tests set 1, 2 and 8 on a cloned session to prove
    split-invariance."""
    return max(1, int(spark.conf.get(STREAM_FILES_CONF, "4")))


def events_stream(spark: SparkSession, sf: str) -> DataFrame:
    """File-source stream over the events table (nanos→micros fixed up,
    same as the batch catalog loader).

    **Batch-split invariance** (VERDICT r5 #2/#3): the stream is staged
    through a ts-ORDERED copy — events sorted ascending by ts (NULLs
    first), range-partitioned into ``stream_split_files(spark)`` parquet
    files whose modification times are forced ascending so the file source
    replays them oldest-first, one micro-batch per file
    (``maxFilesPerTrigger=1``). Ordered arrival means no row can ever
    land behind the watermark, so watermark *drops* are impossible at ANY
    split and every closure-replay oracle (windows closed by the final
    watermark = max event time − delay) is exact for ANY n_files ≥ 1.
    Without the ordering, append-mode results silently depend on how the
    source happened to batch the input — correct single-batch, wrong the
    moment an environment splits differently.

    At 100 TB the analogue is a time-partitioned landing zone (hourly
    ingest directories): arrival order ≈ event order is an ingest-layout
    property, not an extra sort — the one-time staging sort here stands
    in for it at fixture scale.
    """
    n_files = stream_split_files(spark)
    key = (sf.rstrip("/"), n_files)
    staged = _STAGED_EVENTS.get(key)
    if staged is None or not os.path.isdir(staged):
        batch = load_table(spark, key[0], "events").select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
        # pid-scoped staging dir: two concurrent processes sharing one
        # .scratch must never rmtree a staged copy the other is streaming
        # from (scratch_dir wipes its target; observed as a FileIndex
        # 'basePath not found' crash under concurrent harness runs).
        # The dir name also hashes the FULL sf path, not just its
        # basename (ADVICE r6): the cache keys on the full path, so two
        # distinct roots with the same basename (e.g. /a/sf0.01 and
        # /b/sf0.01) in one process would otherwise share a staging dir —
        # the second rmtrees and overwrites the first's files while the
        # first cache entry still points there, silently streaming the
        # wrong table.
        import hashlib

        path_tag = hashlib.sha1(key[0].encode()).hexdigest()[:10]
        staged = scratch_dir(
            f"events_staged_{os.path.basename(key[0])}_{path_tag}"
            f"_{n_files}_p{os.getpid()}"
        )
        if n_files == 1:
            batch = batch.coalesce(1)
        else:
            batch = batch.repartitionByRange(
                n_files, F.col("ts").asc_nulls_first()
            ).sortWithinPartitions(F.col("ts").asc_nulls_first())
        batch.write.parquet(staged)
        # Force ascending mtimes in filename order: the file source sorts
        # by (mtime, path), and part-0000i is the i-th ts range.
        parts = sorted(
            f for f in os.listdir(staged)
            if f.startswith("part-") and not f.endswith(".crc")
        )
        import time as _time

        base = _time.time()
        for i, f in enumerate(parts):
            os.utime(os.path.join(staged, f), (base + i, base + i))
        _STAGED_EVENTS[key] = staged
    schema = read_parquet(spark, staged).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )


def stream_state_partitions(
    spark: SparkSession, sf: str, python_state: bool = False
) -> int:
    """Shuffle-partition count for streaming state: :func:`task_count`
    of the replayed ``events`` bytes.

    Unlike batch, this value is BAKED into the checkpoint at the first
    micro-batch — Spark cannot resize streaming state later — so it is a
    capacity decision. Every drain opens partitions × stateful-operators
    state-store providers against a fresh checkpoint, and providers of
    finished queries linger until the maintenance tick unloads them, so
    a flat width (the batch default 32, later 8) made back-to-back runs
    slow down run over run (stream_join_then_window 12.0/16.5/32.2 s at
    8 partitions, 10.7/11.7 at 1). JVM state takes one partition per
    8 MB of input (``jvm_state``). ``python_state`` marks operators
    whose per-batch work is per-GROUP PYTHON (applyInPandasWithState /
    transformWithStateInPandas iterate a pandas frame per key per
    micro-batch): there the task count is worker parallelism, so the
    ``python_state`` class is ~30× finer (256 KB per partition), the
    order of the measured Python-vs-JVM per-row cost gap (guide §4).
    Measured at sf0.1: stream_tws_fallback 15.0 s at 1 partition → 5.2
    at 4; capping at the cores rather than the shuffle width (8 on a
    4-core machine) took it from 8.7 to 6.3–7.1 s. The JVM-state
    ops show the OPPOSITE gradient (stream_join_then_window 5.6 s at 1 →
    8.5 at 8 — commit overhead). Values are bit-identical at any width
    (keyed state, decimal sums); to A/B a width, override the class's
    ``PER_TASK`` entry in-process."""
    nbytes = os.path.getsize(os.path.join(sf.rstrip("/"), "events.parquet"))
    return task_count(spark, nbytes, "python_state" if python_state else "jvm_state")


def stream_session(
    spark: SparkSession, sf: str, python_state: bool = False,
    confs: dict[str, str] | None = None,
) -> SparkSession:
    """The clone of ``spark`` one stream operator runs on: its shuffle
    width is :func:`stream_state_partitions` (plus any ``confs``), and its
    drains, sink views and query names stay off ``spark``, so a query
    running beside it on ``spark`` sees none of them."""
    width = stream_state_partitions(spark, sf, python_state=python_state)
    return clone_session(
        spark, {"spark.sql.shuffle.partitions": str(width), **(confs or {})}
    )


# Name prefix of the thread that runs one streaming query (Spark 4.1
# StreamExecution.queryExecutionThread), alive from start() to termination.
_STREAM_THREAD = "stream execution thread for "


def unload_state_stores(spark: SparkSession) -> None:
    """Drop every finished query's lingering state-store providers.

    Each drain opens (state partitions × stateful operators) providers
    against a throwaway per-run checkpoint; providers of TERMINATED
    queries linger in the registry until the maintenance tick (60 s
    default) unloads them. Nothing ever reloads a drained temp
    checkpoint, so dropping them is pure cleanup: ``StateStore.stop()``
    unloads every provider and parks the maintenance thread, and the
    next streaming query lazily restarts both (the same call executor
    shutdown makes). In local mode driver and executor share the JVM, so
    this py4j call reaches the real registry; on a cluster it would only
    clear the driver's (empty) map — and durable, REUSED checkpoints
    make eager unload wrong there anyway.

    Round 11 measured per-drain unload and REJECTED it: with the
    size-derived state-partition count (round 10) a drain leaves only
    1-2 providers per stateful operator, back-to-back runs no longer
    accumulate (stream_join_then_window read a flat 6.7/6.8/5.9 s across
    consecutive runs with NO unload), and stopping/restarting the
    maintenance pool around every drain cost a consistent +0.2-0.4 s per
    run (stream_tumbling_agg 1.65 → 2.02 s). So this is NOT called per
    drain; the one caller is the threaded stream digest, which drains 19
    queries concurrently and sweeps the accumulated providers ONCE at
    its end — never mid-flight, because yanking providers from a
    mid-batch sibling query forces checkpoint reloads.

    ``StateStore.stop()`` is JVM-global, so it is skipped while any
    streaming query of any session is running: ``spark.streams.active``
    sees only the calling session's queries, but every running query
    owns a live execution thread in the JVM."""
    jvm = spark._jvm
    threads = jvm.java.lang.Thread.getAllStackTraces().keySet().toString()
    if _STREAM_THREAD in threads:
        return
    try:
        jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:  # pragma: no cover - never fail on cleanup
        pass


def drain_to_memory(df: DataFrame, name: str, output_mode: str = "append") -> DataFrame:
    """Run a streaming plan to completion (AvailableNow) into a memory
    sink on ``df``'s session (the operator's fresh clone, so no stale
    ``name`` view is there) and return the result as a batch DataFrame."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


@query(
    "stream_tumbling_agg",
    oracle=f"""
        SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start,
               event_type,
               COUNT(*) AS n_events,
               {sql_dsum('value')} AS sum_value
        FROM events
        -- Spark's window() drops NULL event times; mirror it
        WHERE ts IS NOT NULL
        GROUP BY 1, 2
    """,
    tags=("streaming",),
)
def stream_tumbling_agg(spark: SparkSession, sf: str) -> DataFrame:
    """1-hour tumbling window counts/sums by event type; complete-mode
    snapshot equals the batch GROUP BY."""
    spark = stream_session(spark, sf)
    s = events_stream(spark, sf)
    agg = s.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias("sum_value"),
    )
    out = agg.select(
        F.col("window.start").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )
    return drain_to_memory(out, "stream_tumbling_agg_sink", "complete")


@query(
    "stream_sliding_agg",
    oracle=f"""
        WITH shifted AS (
            SELECT TIME_BUCKET(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
                       - TO_MINUTES(15 * off.o) AS window_start,
                   event_type, value
            FROM events,
                 (SELECT UNNEST(RANGE(0, 4)) AS o) off
            -- Spark's window() drops NULL event times; mirror it
            WHERE ts IS NOT NULL
        )
        SELECT window_start, event_type,
               COUNT(*) AS n_events,
               {sql_dsum('value')} AS sum_value
        FROM shifted
        GROUP BY 1, 2
    """,
    tags=("streaming",),
)
def stream_sliding_agg(spark: SparkSession, sf: str) -> DataFrame:
    """1-hour window sliding every 15 minutes: each event lands in four
    windows. Oracle reconstructs the assignment by shifting the 15-minute
    bucket of each event back 0/15/30/45 minutes."""
    spark = stream_session(spark, sf)
    s = events_stream(spark, sf)
    agg = s.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias("sum_value"),
    )
    out = agg.select(
        F.col("window.start").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )
    return drain_to_memory(out, "stream_sliding_agg_sink", "complete")


@query(
    "stream_session_window",
    oracle=f"""
        WITH flagged AS (
            SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
                   CASE WHEN CAST(ts AS TIMESTAMP)
                            - LAG(CAST(ts AS TIMESTAMP)) OVER w
                            > INTERVAL '30 minutes'
                         OR LAG(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            -- Spark's session_window() drops NULL event times; mirror it
            WHERE ts IS NOT NULL
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, ts, value,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_id
            FROM flagged
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL '30 minutes' AS session_end,
               COUNT(*) AS n_events,
               {sql_dsum('value')} AS sum_value
        FROM sessions
        GROUP BY user_id, session_id
    """,
    tags=("streaming",),
)
def stream_session_window(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user session windows with a 30-minute gap. Oracle is the
    classic gaps-and-islands formulation; Spark's session_window end is
    last-event + gap, mirrored as MAX(ts) + 30min."""
    spark = stream_session(spark, sf)
    s = events_stream(spark, sf)
    agg = s.groupBy(F.session_window("ts", "30 minutes"), "user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias("sum_value"),
    )
    out = agg.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
        "sum_value",
    )
    return drain_to_memory(out, "stream_session_window_sink", "complete")


@query(
    "stream_watermark_late",
    oracle="""
        SELECT window_start, n_events FROM (
            SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start,
                   COUNT(*) AS n_events
            FROM events
            GROUP BY 1
        )
        WHERE window_start + INTERVAL '1 hour'
              <= (SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL '10 minutes'
                  FROM events)
    """,
    tags=("streaming", "watermark"),
)
def stream_watermark_late(spark: SparkSession, sf: str) -> DataFrame:
    """Watermarked tumbling count in **append** mode: only windows whose
    end precedes the final watermark (max event time − 10 min) are ever
    emitted — the others die in the state store. Emission is cumulative
    across micro-batches, so the result is deterministic however
    AvailableNow splits the input. Arrival-order-dependent late-record
    *dropping* is unit-tested with hand-built micro-batches in tests/."""
    spark = stream_session(spark, sf)
    s = events_stream(spark, sf)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
    )
    return drain_to_memory(agg, "stream_watermark_late_sink", "append")


@query(
    "stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "dedup"),
)
def stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Stateful streaming dedup on (user_id, event_type): first arrival
    wins, later duplicates are dropped against the state store. Projected
    to the key so the result is arrival-order independent. At scale the
    state must be watermark-bounded (``dropDuplicatesWithinWatermark``)
    or it grows without bound."""
    spark = stream_session(spark, sf)
    s = events_stream(spark, sf)
    dd = s.select("user_id", "event_type").dropDuplicates(["user_id", "event_type"])
    return drain_to_memory(dd, "stream_dedup_sink", "append")


@query(
    "stream_stateful_count",
    oracle="""
        -- json_valid + integer-regex gate: malformed props (or a non-
        -- integer k) contribute nothing — Spark's stateful updater skips
        -- them the same way (raw json functions THROW in DuckDB, and
        -- json.loads THROWS in the Python state fn — unistr hazard fixture)
        SELECT user_id,
               COUNT(*) AS n_events,
               -- top-level CAST matters: DuckDB SUM(BIGINT) is HUGEINT,
               -- which pandas fetchdf() renders as float64 (2648.0) while
               -- Spark emits int64 (2648) — the r5 driver hash-red class
               CAST(SUM(CASE WHEN json_valid(props) AND regexp_matches(
                            COALESCE(json_extract_string(props, '$.k'), ''),
                            '^-?[0-9]+$')
                        THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
                   END) AS BIGINT) AS sum_k
        FROM events
        GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
)
def stream_stateful_count(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-user event count + integer sum of the JSON ``k`` prop, state
    carried across micro-batches. Integer state ⇒ no float-order issues;
    final state equals the batch GROUP BY."""
    import json
    import re

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    spark = stream_session(spark, sf, python_state=True)
    s = events_stream(spark, sf).select("user_id", "props")

    def k_int(p) -> int | None:
        """Strict-integer k extraction mirroring the oracle's gate:
        malformed JSON, a missing/NULL k, or a non-integer k all yield
        None (skipped). Raw json.loads on corpus text crashes the state
        function — the unistr hazard fixture's find."""
        if p is None:
            return None
        try:
            obj = json.loads(p)
        except (ValueError, TypeError):
            return None
        if not isinstance(obj, dict) or "k" not in obj:
            return None
        v = obj["k"]
        if isinstance(v, bool):
            return None
        if isinstance(v, int):
            return v
        return int(v) if re.fullmatch(r"-?[0-9]+", str(v)) else None

    def update(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        # nk counts contributing rows: SQL SUM over an all-skipped group
        # is NULL, not 0, so the state must remember whether it ever saw
        # a usable value (the failed-enrichment shape)
        n, sk, nk = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n += len(pdf)
            vals = [v for v in (k_int(p) for p in pdf["props"]) if v is not None]
            sk += int(sum(vals))
            nk += len(vals)
        state.update((n, sk, nk))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_k": [sk if nk else None],
            }
        )

    out = s.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_k long",
        stateStructType="n long, sk long, nk long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # Update mode re-emits a key on every batch that touches it; the final
    # state per key is the row with the largest running count. n_events is
    # strictly monotone per emission, but the running sum_k is NOT (k may
    # be negative), so sum_k must be taken FROM that terminal row —
    # max_by, never an independent max (VERDICT r5 #1: independent
    # max(sum_k) returns a stale intermediate under >1 micro-batch).
    drained = drain_to_memory(out, "stream_stateful_count_sink", "update")
    return drained.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("sum_k", "n_events").alias("sum_k"),
    )


@query(
    "stream_foreach_sink",
    oracle="""
        SELECT event_id, user_id, value
        FROM events
        WHERE event_type = 'purchase'
    """,
    tags=("streaming", "sink"),
)
def stream_foreach_sink(spark: SparkSession, sf: str) -> DataFrame:
    """Custom sink via foreachBatch: each micro-batch is written as
    parquet (idempotent by batch id path in production; single dir here),
    then read back — the re-read must equal the batch filter. This is the
    escape hatch for sinks Spark has no connector for."""
    spark = stream_session(spark, sf)
    out_dir = scratch_dir("stream_foreach_sink")
    ckpt = scratch_dir("stream_foreach_sink_ckpt")
    s = (
        events_stream(spark, sf)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "value")
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    q = (
        s.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


@query(
    "stream_static_join",
    oracle=f"""
        SELECT c_mktsegment,
               COUNT(*) AS n_events,
               {sql_dsum('value')} AS sum_value
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment
    """,
    tags=("streaming", "join"),
)
def stream_static_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream ⋈ static dimension: the unbounded events stream enriched
    against the batch customer table (re-read per micro-batch, so slowly
    changing dimensions pick up updates), then aggregated per segment.
    At scale the static side is broadcast into every micro-batch."""
    spark = stream_session(spark, sf)
    s = events_stream(spark, sf)
    c = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    joined = s.join(c, s.user_id == c.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias("sum_value"),
    )
    return drain_to_memory(agg, "stream_static_join_sink", output_mode="complete")


def _purchase_view_join(spark: SparkSession, sf: str, how: str = "inner") -> DataFrame:
    """Watermarked purchases (purchase_id, user_id, p_ts) ⋈ views
    (view_id, v_user, v_ts) of the same user within the hour before the
    purchase, both sides watermarked 2 hours: the interval join under the
    four purchase⋈view stream operators. Their oracles start from
    :data:`_PV_ORACLE`."""
    purchases = (
        events_stream(spark, sf)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    views = (
        events_stream(spark, sf)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    return purchases.join(
        views,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") <= F.col("p_ts")),
        how,
    )


# The DuckDB side of _purchase_view_join: the final watermark base
# (the minimum of both inputs' max event time) and the two inputs.
_PV_ORACLE = """
        WITH mx AS (
            SELECT LEAST(
                MAX(CASE WHEN event_type = 'purchase' THEN ts END),
                MAX(CASE WHEN event_type = 'view' THEN ts END)
            ) AS wm_base
            FROM events
        ),
        p AS (
            SELECT event_id AS purchase_id, user_id, ts AS p_ts
            FROM events WHERE event_type = 'purchase'
        ),
        v AS (
            SELECT event_id AS view_id, user_id AS v_user, ts AS v_ts
            FROM events WHERE event_type = 'view'
        ),"""


@query(
    "stream_stream_join",
    oracle="""
        SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id
        FROM events p JOIN events v
          ON p.event_type = 'purchase' AND v.event_type = 'view'
         AND p.user_id = v.user_id
         AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
    """,
    tags=("streaming", "join"),
)
def stream_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream ⋈ stream with event-time bounds: every (purchase, view)
    pair for the same user where the view happened within the hour before
    the purchase. Watermarks + the time-interval join condition let the
    engine evict unmatched state — unbounded joins without them grow
    state forever. Inner-join emission is complete under AvailableNow, so
    the batch self-join oracle is exact."""
    spark = stream_session(spark, sf)
    joined = _purchase_view_join(spark, sf).select("purchase_id", "view_id", "user_id")
    return drain_to_memory(joined, "stream_stream_join_sink")


@query(
    "stream_session_dynamic_gap",
    oracle=f"""
        WITH base AS (
            SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
                   CAST(ts AS TIMESTAMP) +
                   CASE WHEN event_type = 'purchase'
                        THEN INTERVAL '60 minutes'
                        ELSE INTERVAL '15 minutes' END AS w_end
            FROM events
            -- Spark's session_window() drops NULL event times; mirror it
            WHERE ts IS NOT NULL
        ),
        flagged AS (
            SELECT user_id, event_id, ts, value, w_end,
                   CASE WHEN MAX(w_end) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ) IS NULL
                     OR ts > MAX(w_end) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        )
                        THEN 1 ELSE 0 END AS new_session
            FROM base
        ),
        sessions AS (
            SELECT user_id, ts, value, w_end,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_id
            FROM flagged
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(w_end) AS session_end,
               COUNT(*) AS n_events,
               {sql_dsum('value')} AS sum_value
        FROM sessions
        GROUP BY user_id, session_id
    """,
    tags=("streaming", "session"),
)
def stream_session_dynamic_gap(spark: SparkSession, sf: str) -> DataFrame:
    """Session windows with a DYNAMIC gap — the inactivity timeout depends
    on the event (purchases hold a session open 60 min, everything else
    15): ``session_window(ts, CASE ...)``. The oracle replays Spark's
    window-merge semantics exactly: a session extends while the next
    event starts at or before the running MAX of per-event window ends
    (not simply last-event + constant gap — merged ends are a cumulative
    max once gaps vary). Stateful merging is per-user, so state scales
    with active users, same as the fixed-gap variant."""
    spark = stream_session(spark, sf)
    s = events_stream(spark, sf)
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("60 minutes")
    ).otherwise(F.lit("15 minutes"))
    agg = s.groupBy(F.session_window("ts", gap), "user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias("sum_value"),
    )
    out = agg.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
        "sum_value",
    )
    return drain_to_memory(out, "stream_session_dyngap_sink", "complete")


@query(
    "stream_append_mode_windows",
    oracle=f"""
        WITH mx AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS max_ts FROM events),
        agg AS (
            SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS win_start,
                   event_type,
                   COUNT(*) AS n_events,
                   {sql_dsum('value')} AS sum_value
            FROM events
            GROUP BY 1, 2
        )
        SELECT win_start, event_type, n_events, sum_value
        FROM agg, mx
        WHERE win_start + INTERVAL 1 HOUR <= mx.max_ts - INTERVAL 10 MINUTE
    """,
    tags=("streaming", "watermark"),
)
def stream_append_mode_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Append-mode windowed aggregation: each 1-hour window is emitted
    EXACTLY ONCE — when the 10-minute watermark passes its end — instead
    of being re-emitted on every update. The price of exactly-once
    emission is that windows still open at stream end never appear; the
    oracle replays that semantics precisely (window end ≤ final
    watermark = max event time − 10 min). Append mode is what feeds
    downstream file/table sinks at scale, where updates-in-place don't
    exist and re-emission would mean duplicates."""
    spark = stream_session(spark, sf)
    s = events_stream(spark, sf).withWatermark("ts", "10 minutes")
    agg = s.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias("sum_value"),
    )
    out = agg.select(
        F.col("window.start").alias("win_start"),
        "event_type",
        "n_events",
        "sum_value",
    )
    return drain_to_memory(out, "stream_append_windows_sink", "append")


# transformWithStateInPandas spawns a Python state-server worker that
# needs the `protobuf` package; register the op only where it exists
# (import-gated per the environment policy -- everything else in this
# module is pure PySpark).
try:
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401

    _HAS_PROTOBUF = True
except ImportError:  # pragma: no cover
    _HAS_PROTOBUF = False


if _HAS_PROTOBUF:
    @query(
        "stream_transform_with_state",
        oracle="""
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_purchases,
                   MAX(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS max_cents
            FROM events
            GROUP BY user_id
        """,
        tags=("streaming", "stateful"),
    )
    def stream_transform_with_state(spark: SparkSession, sf: str) -> DataFrame:
        """Spark 4's arbitrary-state API (``transformWithStateInPandas`` with
        a ``StatefulProcessor``) — the successor to applyInPandasWithState
        used by `stream_stateful_count`, with named state variables
        (Value/List/Map), timers, and TTL. Here a per-user ValueState carries
        (event count, purchase count, max value in cents) across
        micro-batches; values are pre-converted to integer cents JVM-side so
        state math is float-free and the final state equals the batch GROUP
        BY bit-for-bit. Requires the RocksDB state-store provider — which is
        also the right provider at scale: state lives off-heap/on-disk with
        changelog checkpointing, so per-key state size is bounded by RocksDB,
        not executor heap. Update-mode re-emissions are collapsed by a
        monotonic max, exactly as in `stream_stateful_count`."""
        import pandas as pd
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class PurchaseStats(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._state = handle.getValueState(
                    "stats", "n BIGINT, p BIGINT, mx BIGINT"
                )

            def handleInputRows(self, key, rows, timerValues):
                if self._state.exists():
                    n, p, mx = self._state.get()
                else:
                    n, p, mx = 0, 0, None
                for pdf in rows:
                    n += len(pdf)
                    p += int((pdf["event_type"] == "purchase").sum())
                    batch_mx = int(pdf["cents"].max())
                    mx = batch_mx if mx is None else max(mx, batch_mx)
                self._state.update((n, p, mx))
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "n_events": [n],
                        "n_purchases": [p],
                        "max_cents": [mx],
                    }
                )

            def close(self) -> None:
                pass

        spark = stream_session(spark, sf, python_state=True, confs={
            "spark.sql.streaming.stateStore.providerClass":
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
        })
        s = events_stream(spark, sf).select(
            "user_id",
            "event_type",
            F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("cents"),
        )
        out = s.groupBy("user_id").transformWithStateInPandas(
            PurchaseStats(),
            outputStructType=(
                "user_id long, n_events long, n_purchases long, max_cents long"
            ),
            outputMode="update",
            timeMode="none",
        )
        drained = drain_to_memory(out, "stream_tws_sink", "update")
        return drained.groupBy("user_id").agg(
            F.max("n_events").alias("n_events"),
            F.max("n_purchases").alias("n_purchases"),
            F.max("max_cents").alias("max_cents"),
        )


@query(
    "stream_tws_fallback",
    oracle="""
        -- finite-gate mirrors the Spark plan: NaN/±Inf cents are skipped
        -- on both engines (DuckDB CAST(NaN AS BIGINT) THROWS; Spark ANSI
        -- cast likewise) — the null-flood adversarial fixture shape
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purchases,
               MAX(CASE WHEN isfinite(value)
                        THEN CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
                   END) AS max_cents
        FROM events
        GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
)
def stream_tws_fallback(spark: SparkSession, sf: str) -> DataFrame:
    """Protobuf-free twin of `stream_transform_with_state` (VERDICT r6
    "Next round" #8): identical per-user running state — (event count,
    purchase count, max value in integer cents) — carried across
    micro-batches, but via ``applyInPandasWithState``, which needs no
    Python state-server worker and therefore registers in EVERY
    environment. ``transformWithStateInPandas`` spawns a protobuf-backed
    state server, so in sandboxes without `protobuf` the primary op
    cannot register; this twin keeps the semantics registered and
    oracle-checked there. Differences from the primary are deliberate
    hardening, not semantics: cents are NULL-gated to finite values
    JVM-side (ANSI cast of NaN/Inf to BIGINT throws on a single
    degenerate row — the null-flood fixture shape), and max state starts
    as None so an all-NULL key yields SQL MAX's NULL. State is one
    4-tuple per user — at scale, bounded by active-user cardinality,
    same as `stream_stateful_count`."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    spark = stream_session(spark, sf, python_state=True)
    s = events_stream(spark, sf).select(
        "user_id",
        "event_type",
        F.when(
            F.isnan("value") | (F.abs(F.col("value")) == F.lit(float("inf"))),
            F.lit(None),
        )
        .otherwise(F.floor(F.col("value") * 100.0 + 0.5))
        .cast("bigint")
        .alias("cents"),
    )

    def update(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        # has_mx distinguishes "never saw a finite value" (SQL MAX = NULL)
        # from a genuine max of 0 — the failed-enrichment shape again
        n, p, mx, has_mx = state.get if state.exists else (0, 0, 0, False)
        for pdf in pdfs:
            n += len(pdf)
            p += int((pdf["event_type"] == "purchase").sum())
            cents = pdf["cents"].dropna()
            if len(cents):
                batch_mx = int(cents.max())
                mx = batch_mx if not has_mx else max(mx, batch_mx)
                has_mx = True
        state.update((n, p, mx, has_mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "n_purchases": [p],
                "max_cents": [mx if has_mx else None],
            }
        )

    out = s.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, n_events long, n_purchases long, max_cents long"
        ),
        stateStructType="n long, p long, mx long, has_mx boolean",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # update mode re-emits per batch; n_events is strictly monotone per
    # key, and p/mx are monotone too (counts and a max) — but take them
    # from the terminal row via max_by anyway, the proven finalization
    # shape (VERDICT r5 #1)
    drained = drain_to_memory(out, "stream_tws_fallback_sink", "update")
    return drained.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("n_purchases", "n_events").alias("n_purchases"),
        F.max_by("max_cents", "n_events").alias("max_cents"),
    )


@query(
    "stream_dedup_within_watermark",
    oracle="""
        SELECT event_id, MIN(event_type) AS event_type
        FROM events GROUP BY event_id
    """,
    tags=("streaming", "dedup", "watermark"),
)
def stream_dedup_within_watermark(spark: SparkSession, sf: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark``: stateful dedup whose per-key
    state is EVICTED once the watermark passes the key's event time —
    the unbounded-state fix for stream_dedup's plain
    ``dropDuplicates``, whose state grows forever on an infinite
    stream. Within the watermark horizon duplicates collapse exactly
    like the batch GROUP BY oracle; at 100 TB/day this is the only
    dedup that survives week-long streams, with the horizon chosen to
    cover the real duplicate window (late retries, at-least-once
    sources)."""
    spark = stream_session(spark, sf)
    s = events_stream(spark, sf).withWatermark("ts", "10 minutes")
    dd = s.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "event_type"
    )
    out = drain_to_memory(dd, "stream_ddww_sink", "append")
    # one row per event_id survives; MIN collapses the oracle identically
    return out.groupBy("event_id").agg(F.min("event_type").alias("event_type"))


@query(
    "stream_chained_window_aggs",
    oracle=f"""
        WITH mx AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS max_ts FROM events),
        q AS (
            SELECT CAST(to_timestamp(1704067200 +
                       (CAST(FLOOR(epoch(ts)) AS BIGINT) - 1704067200)
                           // 900 * 900) AT TIME ZONE 'UTC' AS TIMESTAMP)
                       AS q_start,
                   event_type,
                   COUNT(*) AS n
            FROM events GROUP BY 1, 2
        ),
        closed_q AS (
            SELECT q.* FROM q, mx
            WHERE q_start + INTERVAL 15 MINUTE <= mx.max_ts - INTERVAL 10 MINUTE
        ),
        h AS (
            SELECT CAST(DATE_TRUNC('hour', q_start) AS TIMESTAMP) AS hour_start,
                   event_type,
                   MAX(n) AS peak_quarter_hour,
                   -- CAST: DuckDB SUM(BIGINT)=HUGEINT → float64 in pandas
                   CAST(SUM(n) AS BIGINT) AS total_events
            FROM closed_q
            GROUP BY 1, 2
        )
        SELECT h.* FROM h, mx
        WHERE hour_start + INTERVAL 1 HOUR <= mx.max_ts - INTERVAL 10 MINUTE
    """,
    tags=("streaming", "spark4", "chained"),
)
def stream_chained_window_aggs(spark: SparkSession, sf: str) -> DataFrame:
    """Spark 4 chained stateful operators: TWO windowed aggregations in
    ONE streaming query — 15-minute tumbling counts per event type,
    re-windowed into hourly peak/total rollups (the '15-min grain for
    alerting, hourly grain for dashboards' hierarchy) — previously
    impossible without an intermediate sink + second job. The outer agg
    windows over the inner agg's ``window`` struct directly; both
    stages emit append-mode exactly-once, so the oracle replays BOTH
    closure rules: a quarter-hour participates iff its end ≤ final
    watermark (max ts − 10 min), an hour emits iff its end ≤ the same
    watermark. State stays bounded at both grains by the one watermark;
    at scale this halves the job count and the sink traffic of every
    multi-grain rollup pipeline."""
    spark = stream_session(spark, sf)
    s = events_stream(spark, sf).withWatermark("ts", "10 minutes")
    q = s.groupBy(F.window("ts", "15 minutes"), "event_type").agg(
        F.count("*").alias("n")
    )
    h = q.groupBy(F.window(F.col("window"), "1 hour"), "event_type").agg(
        F.max("n").alias("peak_quarter_hour"),
        F.sum("n").alias("total_events"),
    )
    out = h.select(
        F.col("window.start").alias("hour_start"),
        "event_type",
        "peak_quarter_hour",
        "total_events",
    )
    return drain_to_memory(out, "stream_chained_sink", "append")


@query(
    "stream_stream_left_outer",
    oracle=_PV_ORACLE + """
        matched AS (
            SELECT p.purchase_id, v.view_id, p.user_id
            FROM p JOIN v
              ON p.user_id = v.v_user
             AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR AND v.v_ts <= p.p_ts
        ),
        unmatched AS (
            SELECT p.purchase_id, CAST(NULL AS BIGINT) AS view_id, p.user_id
            FROM p CROSS JOIN mx
            WHERE p.p_ts < mx.wm_base - INTERVAL 2 HOUR
              AND NOT EXISTS (
                  SELECT 1 FROM v
                  WHERE v.v_user = p.user_id
                    AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR
                    AND v.v_ts <= p.p_ts
              )
        )
        SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
    tags=("streaming", "join"),
)
def stream_stream_left_outer(spark: SparkSession, sf: str) -> DataFrame:
    """Stream ⋈ stream LEFT OUTER with watermarks: like
    ``stream_stream_join`` but purchases with no qualifying view emit a
    null-extended row — and *when* they emit is pure watermark mechanics:
    a purchase at p_ts can only match views with v_ts ∈ [p_ts−1h, p_ts],
    so once the watermark passes p_ts the engine proves no match can
    arrive, evicts the state row, and emits the null row. The global
    watermark is the MINIMUM across both watermark operators (each side
    tracks its own max event time; verified empirically — the purchase
    side's max lags the view side's here), so under AvailableNow the
    final horizon is min(max_p, max_v) − 2h and the oracle is exact:
    matched pairs, plus null rows for unmatched purchases strictly below
    that horizon (younger unmatched purchases stay in state and are
    correctly NOT emitted). This eviction rule is
    what keeps outer-join state bounded on an unbounded stream."""
    spark = stream_session(spark, sf)
    joined = _purchase_view_join(spark, sf, "left_outer").select(
        "purchase_id", "view_id", "user_id"
    )
    return drain_to_memory(joined, "stream_stream_left_outer_sink")


@query(
    "stream_stream_full_outer",
    oracle=_PV_ORACLE + """
        matched AS (
            SELECT p.purchase_id, v.view_id, p.user_id
            FROM p JOIN v
              ON p.user_id = v.v_user
             AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR AND v.v_ts <= p.p_ts
        ),
        unmatched_p AS (
            SELECT p.purchase_id, CAST(NULL AS BIGINT) AS view_id, p.user_id
            FROM p CROSS JOIN mx
            WHERE p.p_ts < mx.wm_base - INTERVAL 2 HOUR
              AND NOT EXISTS (
                  SELECT 1 FROM v
                  WHERE v.v_user = p.user_id
                    AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR
                    AND v.v_ts <= p.p_ts)
        ),
        unmatched_v AS (
            SELECT CAST(NULL AS BIGINT) AS purchase_id, v.view_id, v.v_user
            FROM v CROSS JOIN mx
            WHERE v.v_ts < mx.wm_base - INTERVAL 3 HOUR
              AND NOT EXISTS (
                  SELECT 1 FROM p
                  WHERE p.user_id = v.v_user
                    AND p.p_ts >= v.v_ts AND p.p_ts <= v.v_ts + INTERVAL 1 HOUR)
        )
        SELECT * FROM matched
        UNION ALL SELECT * FROM unmatched_p
        UNION ALL SELECT * FROM unmatched_v
    """,
    tags=("streaming", "join"),
)
def stream_stream_full_outer(spark: SparkSession, sf: str) -> DataFrame:
    """Stream ⋈ stream FULL OUTER — both sides emit null-extended rows,
    each under its OWN eviction horizon derived from the join interval:
    a purchase can stop waiting once the watermark passes p_ts (views
    with v_ts ≤ p_ts can no longer arrive) → horizon wm_base − 2h; a
    view can stop waiting once the watermark passes v_ts + 1h (a
    matching purchase could be up to 1h after it) → horizon
    wm_base − 2h − 1h. The asymmetry is pure interval algebra and the
    oracle replays both rules exactly (wm_base = min of the two sides'
    max event times, as verified for ``stream_stream_left_outer``).
    State for BOTH sides stays bounded — the reason full-outer stream
    joins are even legal under watermarks."""
    spark = stream_session(spark, sf)
    joined = _purchase_view_join(spark, sf, "full_outer").select(
        "purchase_id",
        "view_id",
        F.coalesce(F.col("user_id"), F.col("v_user")).alias("user_id"),
    )
    return drain_to_memory(joined, "stream_stream_full_outer_sink")


@query(
    "stream_join_then_window",
    oracle=_PV_ORACLE + """
        joined AS (
            SELECT p.purchase_id, p.p_ts
            FROM p JOIN v
              ON p.user_id = v.v_user
             AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR AND v.v_ts <= p.p_ts
        )
        SELECT CAST(DATE_TRUNC('hour', p_ts) AS TIMESTAMP) AS window_start,
               CAST(COUNT(*) AS BIGINT) AS n_assisted,
               CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
               CAST(MAX(cnt) AS BIGINT) AS max_views_per_purchase
        FROM (
            SELECT p_ts, purchase_id,
                   COUNT(*) OVER (PARTITION BY DATE_TRUNC('hour', p_ts),
                                  purchase_id) AS cnt
            FROM joined
        ) g CROSS JOIN mx
        WHERE DATE_TRUNC('hour', p_ts) + INTERVAL 1 HOUR
              <= mx.wm_base - INTERVAL 2 HOUR
        GROUP BY 1
    """,
    tags=("streaming", "join", "window", "chained"),
)
def stream_join_then_window(spark: SparkSession, sf: str) -> DataFrame:
    """TWO chained stateful operators in ONE streaming query: the
    interval stream-stream join feeds a tumbling hourly aggregation of
    assisted purchases — the Spark-4 multi-stateful-operator capability
    (before it, this took two queries with an intermediate sink). The
    emission rule composes mechanically: inner-join output is complete,
    and the downstream append-mode window emits once the global
    watermark (min across both input watermark operators − 2h delay)
    passes its end — so the oracle keeps exactly the closed hours. The
    dedup-grain twin for agg→agg chaining is
    ``stream_chained_window_aggs``."""
    spark = stream_session(spark, sf)
    joined = _purchase_view_join(spark, sf)
    per_purchase = joined.groupBy(
        F.window("p_ts", "1 hour"), "purchase_id"
    ).agg(F.count(F.lit(1)).alias("n_views"))
    per_hour = per_purchase.groupBy(F.window(F.col("window"), "1 hour")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum("n_views").cast("bigint").alias("n_assisted"),
        F.max("n_views").cast("bigint").alias("max_views_per_purchase"),
    )
    out = per_hour.select(
        F.col("window.start").alias("window_start"),
        "n_assisted",
        "n_purchases",
        "max_views_per_purchase",
    )
    return drain_to_memory(out, "stream_join_then_window_sink")


@query(
    "stream_union_sources",
    oracle=f"""
        WITH unified AS (
            SELECT 'clicks' AS pipe, CAST(ts AS TIMESTAMP) AS ts, value
            FROM events WHERE event_type = 'click'
            UNION ALL
            SELECT 'purchases', CAST(ts AS TIMESTAMP), value
            FROM events WHERE event_type = 'purchase'
        )
        SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS window_start,
               pipe,
               COUNT(*) AS n_events,
               {sql_dsum('value')} AS sum_value
        FROM unified
        GROUP BY 1, 2
    """,
    tags=("streaming",),
)
def stream_union_sources(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-source stream topology: two independently-filtered streams
    (standing in for two Kafka topics / two ingest directories) tagged
    with a pipe id, UNIONed, then windowed per pipe — the fan-in shape
    every real deployment hits when a second event source appears.
    The key semantics pinned: unionByName of streaming DataFrames is
    legal BEFORE stateful ops, the watermark of the union is the MIN of
    the inputs' watermarks (here both inherit the same source), and
    complete-mode snapshot equals the batch UNION ALL + GROUP BY. At
    scale each leg scales independently — the union is a no-shuffle
    concatenation of micro-batch partitions."""
    spark = stream_session(spark, sf)
    clicks = (
        events_stream(spark, sf)
        .filter(F.col("event_type") == "click")
        .select(F.lit("clicks").alias("pipe"), "ts", "value")
    )
    purchases = (
        events_stream(spark, sf)
        .filter(F.col("event_type") == "purchase")
        .select(F.lit("purchases").alias("pipe"), "ts", "value")
    )
    unified = clicks.unionByName(purchases)
    agg = unified.groupBy(F.window("ts", "1 day"), "pipe").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias("sum_value"),
    )
    out = agg.select(
        F.col("window.start").alias("window_start"),
        "pipe",
        "n_events",
        "sum_value",
    )
    return drain_to_memory(out, "stream_union_sources_sink", "complete")


@query(
    "stream_tumbling_topk",
    oracle=f"""
        WITH counts AS (
            SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start,
                   event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   {sql_dsum('value')} AS sum_value
            FROM events
            -- Spark's window() drops NULL event times; mirror it
            WHERE ts IS NOT NULL
            GROUP BY 1, 2
        )
        SELECT window_start, event_type, n_events, sum_value,
               CAST(rnk AS INT) AS rnk
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY window_start
                ORDER BY n_events DESC, event_type) AS rnk
            FROM counts
        ) r WHERE rnk <= 3
    """,
    tags=("streaming", "topk"),
)
def stream_tumbling_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming 'trending now': top-3 event types per 1-hour tumbling
    window. Structured Streaming cannot put a rank window inside the
    stream (non-monotonic across micro-batches), so the op pins the
    correct two-stage architecture: the STREAM maintains the windowed
    counts (bounded state, watermark-evictable), and the rank runs on the
    complete-mode snapshot as a BATCH window — which is exactly how a
    dashboard sink consumes it. Deterministic tiebreak; equals the batch
    formulation the oracle replays."""
    from pyspark.sql.window import Window as W

    spark = stream_session(spark, sf)
    s = events_stream(spark, sf)
    agg = s.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias("sum_value"),
    )
    snap = drain_to_memory(
        agg.select(
            F.col("window.start").alias("window_start"),
            "event_type", "n_events", "sum_value",
        ),
        "stream_tumbling_topk_sink",
        "complete",
    )
    w = W.partitionBy("window_start").orderBy(F.desc("n_events"), F.asc("event_type"))
    return (
        snap.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("window_start", "event_type", "n_events", "sum_value",
                F.col("rnk").cast("int").alias("rnk"))
    )
