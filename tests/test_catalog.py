"""``catalog.read_parquet``: each footer schema is inferred once per file
listing and schema confs, so a repeated read of the same files starts no
Spark job, and a rewrite or a conf change is never served a stale schema."""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from datapipelines_python_spark import catalog
from datapipelines_python_spark.catalog import TABLES, load_table, read_parquet, table_path
from datapipelines_python_spark.pipeline import DataPipeline, FixtureSource, ParquetCache
from datapipelines_python_spark.session import clone_session
from tests.conftest import SF_SMOKE


@contextmanager
def jobs_started(spark):
    """Collect the ids of the Spark jobs the block starts, from the status
    tracker (the block's jobs carry a job group of their own)."""
    sc = spark.sparkContext
    group = f"test_catalog_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_table_starts_no_job(spark):
    load_table(spark, SF_SMOKE, "orders")
    with jobs_started(spark) as jobs:
        load_table(spark, SF_SMOKE, "orders")
    assert jobs == []


def test_warm_parquet_cache_get_starts_one_job(spark, scratch):
    pipe = DataPipeline([ParquetCache(scratch), FixtureSource(SF_SMOKE)], spark=spark)
    pipe.get("nation", {"n_nationkey": 3})  # cold: written back into the cache
    pipe.get("nation", {"n_nationkey": 3})  # first read of the cached copy infers
    with jobs_started(spark) as jobs:
        row = pipe.get("nation", {"n_nationkey": 3})
    assert row.n_nationkey == 3
    assert len(jobs) == 1  # the collect; no footer-inference job


def test_overwrite_with_new_schema_is_read_back(spark, scratch):
    ctx = DataPipeline([], spark=spark)._context()
    pq = ParquetCache(scratch)
    pq.put("t", spark.range(5), ctx)
    assert pq.get_many("t", {}, ctx).columns == ["id"]
    pq.put("t", spark.range(5).select(F.col("id").cast("string").alias("s")), ctx)
    got = pq.get_many("t", {}, ctx)
    assert got.schema.simpleString() == "struct<s:string>"
    assert sorted(r.s for r in got.collect()) == ["0", "1", "2", "3", "4"]


def test_overwrites_keep_one_memo_entry(spark, scratch):
    ctx = DataPipeline([], spark=spark)._context()
    pq = ParquetCache(scratch)
    before = len(catalog._footer_schemas)
    for i in range(10):
        pq.put("t", spark.range(i + 1), ctx)
        assert pq.get_many("t", {}, ctx).count() == i + 1
    assert len(catalog._footer_schemas) == before + 1
    assert os.path.abspath(os.path.join(scratch, "t")) in catalog._footer_schemas


def nanos_session(spark):
    """A clone of ``spark`` with ``nanosAsLong`` on; ``spark`` keeps its flag."""
    return clone_session(spark, {catalog.NANOS_AS_LONG: "true"})


@pytest.mark.parametrize("table", TABLES)
def test_memoized_schema_equals_inferred(spark, table):
    nanos = table == "events"
    path = table_path(SF_SMOKE, table)
    inferred = (nanos_session(spark) if nanos else spark).read.parquet(path).schema
    read_parquet(spark, path, nanos_as_long=nanos)
    with jobs_started(spark) as jobs:
        memoized = read_parquet(spark, path, nanos_as_long=nanos).schema
    assert jobs == []  # served from the memo
    assert memoized == inferred


def test_nanos_events_leave_the_flag_alone(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = 1_700_000_000_123_456_789
    pq.write_table(pa.table({"ts": pa.array([ns], pa.timestamp("ns"))}), tmp_path / "events.parquet")
    assert "timeUnit=nanoseconds" in str(pq.ParquetFile(tmp_path / "events.parquet").schema)
    before = spark.conf.get(catalog.NANOS_AS_LONG)
    got = load_table(spark, str(tmp_path), "events").select(F.unix_micros("ts")).first()
    assert got[0] == ns // 1000  # truncated to micros, as DuckDB does
    assert spark.conf.get(catalog.NANOS_AS_LONG) == before


def test_conf_change_reinfers(spark):
    # events.ts is a timestamp without a UTC flag: TIMESTAMP_NTZ when NTZ
    # inference is on, TIMESTAMP when it is off
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    path = table_path(SF_SMOKE, "events")
    prev = spark.conf.get(key)
    try:
        for value, type_name in (("true", "timestamp_ntz"), ("false", "timestamp"),
                                 ("true", "timestamp_ntz")):
            spark.conf.set(key, value)
            assert read_parquet(spark, path).schema["ts"].dataType.simpleString() == type_name
    finally:
        spark.conf.set(key, prev)


def test_concurrent_reads_share_the_memo(spark):
    # more threads than cores, each reading every table: every read sees
    # the inferred schema and each path keeps one entry
    import sys
    from concurrent.futures import ThreadPoolExecutor

    spark = nanos_session(spark)
    paths = [table_path(SF_SMOKE, t) for t in TABLES]
    inferred = {p: spark.read.parquet(p).schema for p in paths}
    for p in paths:
        catalog._footer_schemas.pop(os.path.abspath(p), None)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=2 * os.cpu_count()) as pool:
            futures = [pool.submit(lambda p=p: (p, read_parquet(spark, p).schema))
                       for _ in range(3) for p in paths]
            got = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert all(schema == inferred[p] for p, schema in got)
    assert all(catalog._footer_schemas[os.path.abspath(p)][2] == inferred[p] for p in paths)
