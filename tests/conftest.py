"""Shared fixtures: one SparkSession per test session, fixture dirs."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from datapipelines_python_spark.session import get_spark

    return get_spark(app_name="tests", shuffle_partitions=8)


@pytest.fixture(scope="session")
def registry_walk(spark):
    """The one registry walk (scripts/audit_plans.walk) per run: every
    non-digest operator built once, read by the plan, schema and
    digest-snapshot checks."""
    from scripts.audit_plans import walk

    return walk(spark, SF_SMOKE)


@pytest.fixture()
def scratch(tmp_path):
    return str(tmp_path)


@pytest.fixture(scope="session")
def duck():
    """Shared DuckDB connection with every differential's fixture tables
    registered as views (one definition — the per-file copies drifted)."""
    import duckdb

    con = duckdb.connect()
    for t in ("orders", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    return con


def norm_rows(rows):
    """Order- and type-insensitive multiset normal form for engine
    comparisons: stringify values, sort rows with NULLs last."""
    return sorted(
        (tuple(str(v) if v is not None else None for v in r) for r in rows),
        key=lambda t: tuple((x is None, x or "") for x in t),
    )
