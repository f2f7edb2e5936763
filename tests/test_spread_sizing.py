"""Pins for the one partition-count rule, ``_helpers.task_count``, and
``spread()`` built on it.

``task_count(spark, work, cost)`` is ``ceil(work / PER_TASK[cost])``
clamped to ``[1, cores]``: sized to the measured work, with the core
count only ever the cap. These tests pin that contract — so a future
edit cannot silently revert to a flat core count or break the
production no-op — and check that every cost class gives the oracle's
answer at both ends of its width range.
"""

from __future__ import annotations

import math
from types import SimpleNamespace

import pytest

from datapipelines_python_spark.operators._helpers import (
    PER_TASK,
    _scan_meta,
    spread,
    task_count,
)
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


@pytest.mark.parametrize("cores", [1, 2, 4, 8, 64])
def test_task_count_rule(cores, monkeypatch):
    """Always in [1, cores], never decreasing as work grows, and exactly
    ceil(work / per_task) below the cap."""
    fake = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=cores))
    monkeypatch.setitem(PER_TASK, "agg", 1000)
    prev = 0
    for work in range(0, 100_000, 250):
        n = task_count(fake, work, "agg")
        assert 1 <= n <= cores
        assert n >= prev
        prev = n
        if math.ceil(work / 1000) <= cores:
            assert n == max(1, math.ceil(work / 1000))
    assert task_count(fake, None, "agg") == cores  # unknown work: the cap


def _expected_fanout(spark, target: int) -> int | None:
    """What spread() must produce for a ``target`` it computed: the
    target capped at the session's cores, or no repartition at all when
    that cap does not beat the one-row-group scan."""
    n = min(target, spark.sparkContext.defaultParallelism)
    return n if n > 1 else None


def test_target_is_rows_over_rows_per_task(spark, monkeypatch):
    monkeypatch.setitem(PER_TASK, "agg", 1000)
    df = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    out = spread(df, "l_orderkey", sf=SF_SMOKE, table="lineitem")
    # 6000 rows / 1000 per task = 6 partitions when the session has at
    # least 6 cores, NOT defaultParallelism
    assert _fanout(out) == _expected_fanout(spark, 6)
    # weight scales the work each row brings: 6000 * 0.5 / 1000 -> 3
    out = spread(df, "l_orderkey", sf=SF_SMOKE, table="lineitem", weight=0.5)
    assert _fanout(out) == _expected_fanout(spark, 3)


def test_target_capped_at_cores(spark, monkeypatch):
    cores = spark.sparkContext.defaultParallelism
    # two tasks' worth of rows per core: the rows-derived target is twice
    # the core count, whatever that count is
    monkeypatch.setitem(PER_TASK, "vector", max(1, 6000 // (2 * cores)))
    df = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    out = spread(df, "l_orderkey", sf=SF_SMOKE, table="lineitem", cost="vector")
    assert _fanout(out) == _expected_fanout(spark, 2 * cores)


def test_noop_when_not_worth_an_exchange(spark):
    # ceil(6000 / 75_000) = 1 <= the scan's own parallelism -> unchanged
    df = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    out = spread(df, "l_orderkey", sf=SF_SMOKE, table="lineitem", cost="join_chain")
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
    out = spread(df, "id", sf=base, table=table, cost="vector")
    assert out is df


# One operator per cost class, each sized by that class alone; a class
# added to PER_TASK without an operator here fails the lookup below.
CLASS_OPS = {
    "agg": "agg_groupby",
    "join_chain": "tpch_q3_shipping_priority",
    "python": "udf_grouped_map",
    "vector": "join_fuzzy_blocked",
    "jvm_state": "stream_tumbling_agg",
    "python_state": "stream_stateful_count",
}


@pytest.mark.parametrize("cost", sorted(PER_TASK))
def test_cost_class_width_keeps_oracle(spark, monkeypatch, cost):
    """Each class's operator equals its DuckDB oracle with the class
    forced to the core cap (1 unit per task) and to a single task."""
    from datapipelines_python_spark import get_registry
    from scripts.check_oracle import compare, duck_connect

    name = CLASS_OPS[cost]
    spec = get_registry()[name]
    con = duck_connect(SF_SMOKE)
    for per_task in (1, 10**12):
        monkeypatch.setitem(PER_TASK, cost, per_task)
        ok, msg = compare(name, spec.fn(spark, SF_SMOKE), con.sql(spec.oracle))
        assert (ok, msg) == (True, "exact"), (per_task, msg)


def test_compaction_file_count_is_core_invariant(spark):
    """sink_compact_small_files rewrites its 64 fragments as 4 files at
    any core count. Spark packs small files into about
    ``leafNodeDefaultParallelism`` scan splits and ``coalesce`` can only
    narrow, so without one split per fragment a 2-core session writes 2
    files against the oracle's 4. A session whose parallelism is 2
    emulates that machine."""
    from datapipelines_python_spark import get_registry
    from datapipelines_python_spark.session import clone_session

    sess = clone_session(spark, {"spark.sql.leafNodeDefaultParallelism": "2"})
    row = get_registry()["sink_compact_small_files"].fn(sess, SF_SMOKE).collect()[0]
    assert (row.n_files_before, row.n_files_after) == (64, 4)
