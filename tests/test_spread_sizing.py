"""Focused pins for the round-11 spread() target sizing.

Round 10's spread() always fanned a serial fixture scan to
``defaultParallelism``; round 11 sizes the target to the measured work —
``min(cores, ceil(table rows / rows_per_task))`` — which is what fixed
the driver-measured tpch_q9/q21/ml_kmeans_lloyd anti-scaling. These
tests pin the sizing contract itself so a future edit cannot silently
revert to the flat core count (or break the production no-op).
"""

from __future__ import annotations

import os

import pytest

from datapipelines_python_spark.operators._helpers import _scan_meta, spread
from tests.conftest import SF_SMOKE


def _fanout(df) -> int | None:
    """Partition count of the plan's top RoundRobin/Hash repartition, or
    None when the plan has no repartition node."""
    plan = df._jdf.queryExecution().logical().toString()
    import re

    m = re.search(r"RepartitionByExpression.*?, (\d+)", plan)
    return int(m.group(1)) if m else None


def test_scan_meta_reads_rows_and_groups():
    groups, rows = _scan_meta(SF_SMOKE, "lineitem")
    assert groups == 1  # fixture files ship exactly one row group
    assert rows == 6000


def _expected_fanout(spark, target: int) -> int | None:
    """What spread() must produce for a ``target`` it computed: the
    target capped at the session's cores, or no repartition at all when
    that cap does not beat the one-row-group scan."""
    n = min(target, spark.sparkContext.defaultParallelism)
    return n if n > 1 else None


def test_target_is_rows_over_rows_per_task(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    out = spread(df, "l_orderkey", sf=SF_SMOKE, table="lineitem",
                 rows_per_task=1000)
    # 6000 rows / 1000 per task = 6 partitions when the session has at
    # least 6 cores, NOT defaultParallelism
    assert _fanout(out) == _expected_fanout(spark, 6)


def test_target_capped_at_cores(spark):
    cores = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    # two tasks' worth of rows per core: the rows-derived target is twice
    # the core count, whatever that count is
    out = spread(df, "l_orderkey", sf=SF_SMOKE, table="lineitem",
                 rows_per_task=max(1, 6000 // (2 * cores)))
    assert _fanout(out) == _expected_fanout(spark, 2 * cores)


def test_noop_when_not_worth_an_exchange(spark):
    # ceil(6000 / 75_000) = 1 <= the scan's own parallelism -> unchanged
    df = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    out = spread(df, "l_orderkey", sf=SF_SMOKE, table="lineitem",
                 rows_per_task=75_000)
    assert out is df


def test_noop_on_parallel_layout(spark, tmp_path):
    # a layout whose row-group count already reaches the cores must pass
    # through untouched (the production case)
    path = str(tmp_path / "wide.parquet")
    n = spark.sparkContext.defaultParallelism
    spark.range(0, 10_000).repartition(n).write.parquet(path)
    base = str(tmp_path)
    table = "wide"
    assert _scan_meta(base, table)[0] >= n
    df = spark.read.parquet(path)
    out = spread(df, "id", sf=base, table=table, rows_per_task=10)
    assert out is df


def test_env_override_wins(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SPREAD_PARTITIONS", "3")
    df = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    out = spread(df, "l_orderkey", sf=SF_SMOKE, table="lineitem",
                 rows_per_task=1000)
    assert _fanout(out) == 3
