"""Checkpointed-restart exactly-once semantics for the file streaming
source (SURVEY.md §2B.9): a stream consumes what's available, stops, new
files arrive, and a SECOND query started from the SAME checkpoint must
process only the new files — no duplicates, no gaps. This is the property
production incremental pipelines rely on after every deploy/crash; the
per-op oracle checks can't see it because they run a single AvailableNow
pass.
"""

from __future__ import annotations

import os
import time

import pyspark.sql.functions as F

from datapipelines_python_spark.streaming.ops import unload_state_stores
from tests.conftest import SF_SMOKE


def _run_once(spark, in_dir: str, out_dir: str, ckpt: str, schema) -> None:
    q = (
        spark.readStream.schema(schema)
        .parquet(in_dir)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_restart_from_checkpoint_is_exactly_once(spark, scratch):
    src = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    n_total = src.count()
    first = src.filter(F.col("event_id") % 2 == 0)
    second = src.filter(F.col("event_id") % 2 == 1)

    in_dir = os.path.join(scratch, "in")
    out_dir = os.path.join(scratch, "out")
    ckpt = os.path.join(scratch, "ckpt")

    first.write.mode("append").parquet(in_dir)
    _run_once(spark, in_dir, out_dir, ckpt, first.schema)
    n_first = spark.read.parquet(out_dir).count()
    assert n_first == first.count()

    # new files land; restart with the SAME checkpoint
    second.write.mode("append").parquet(in_dir)
    _run_once(spark, in_dir, out_dir, ckpt, first.schema)

    out = spark.read.parquet(out_dir)
    assert out.count() == n_total  # old files not re-processed
    assert out.select("event_id").distinct().count() == n_total  # no dups


def test_restart_with_no_new_data_is_noop(spark, scratch):
    src = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_id", "value"
    )
    in_dir = os.path.join(scratch, "in2")
    out_dir = os.path.join(scratch, "out2")
    ckpt = os.path.join(scratch, "ckpt2")
    src.write.mode("append").parquet(in_dir)
    _run_once(spark, in_dir, out_dir, ckpt, src.schema)
    n1 = spark.read.parquet(out_dir).count()
    _run_once(spark, in_dir, out_dir, ckpt, src.schema)
    assert spark.read.parquet(out_dir).count() == n1


def test_unload_state_stores_spares_running_query(spark, scratch):
    """StateStore.stop() is JVM-global: a cleanup call from one session
    must leave a stateful query running in another session alone."""
    store = spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore
    other = spark.newSession()
    q = (
        other.readStream.format("rate").option("rowsPerSecond", 10).load()
        .groupBy((F.col("value") % 3).alias("k")).count()
        .writeStream.format("memory").queryName("unload_guard_counts")
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .start()
    )
    try:
        deadline = time.monotonic() + 60
        while not store.isMaintenanceRunning():  # first batch loaded state
            assert time.monotonic() < deadline and q.isActive
            time.sleep(0.2)
        unload_state_stores(spark)
        assert store.isMaintenanceRunning()
        assert q.isActive and q.exception() is None
    finally:
        q.stop()
    unload_state_stores(spark)  # nothing runs now: the stores are unloaded
    assert not store.isMaintenanceRunning()
