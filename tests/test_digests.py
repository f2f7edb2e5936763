"""Family digests: snapshot integrity + cross-engine rendering pins.

The digest scheme (operators/digests.py) lets one driver row certify ~40
sibling operators, but only if the committed snapshot stays honest:

- every digest member must still exist with an exact oracle,
- the snapshot's (col, kind) render list must match the member's LIVE
  canonical output schema (a silently-drifted schema would make the digest
  fingerprint a check of the wrong columns),
- the digest path itself must reproduce the composed oracle at any pool
  width without leaking conf or environment changes,
- every never-driver-green exact-oracle batch op must be covered by
  exactly one digest (no silent coverage holes, no double counting),
- the per-kind rendering must agree bit-for-bit across engines on the
  hazard values (NULL / NaN / ±Inf / negative zero / tier boundaries) —
  pinned here on a synthetic table so a rendering regression fails fast
  without running a whole digest.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from datapipelines_python_spark import get_registry
from datapipelines_python_spark.digest import (
    _render_duck,
    _render_spark,
    kind_of,
    oracle_member_sql,
    spark_fingerprint,
)
from datapipelines_python_spark.digest_snapshot import DIGEST_COLS, DIGEST_FAMILIES

SF = "/root/testdata/sf0.001"


def test_families_partition_members():
    seen: set[str] = set()
    for fam, members in DIGEST_FAMILIES.items():
        assert members == tuple(sorted(members)), f"{fam}: not name-sorted"
        dup = seen & set(members)
        assert not dup, f"{fam}: ops in two digests: {dup}"
        seen |= set(members)
    assert seen == set(DIGEST_COLS), "families and cols snapshot disagree"


def test_members_exist_with_oracles():
    reg = get_registry()
    for fam, members in DIGEST_FAMILIES.items():
        for m in members:
            spec = reg.get(m)
            assert spec is not None, f"{fam}: member {m} gone from registry"
            assert spec.oracle is not None, f"{fam}: member {m} lost its oracle"


def test_digest_ops_registered_with_composed_oracles():
    reg = get_registry()
    for fam, members in DIGEST_FAMILIES.items():
        spec = reg.get(f"digest_{fam}")
        assert spec is not None, f"digest_{fam} not registered"
        # exactly one fingerprint SELECT header per member (member oracles
        # may themselves contain UNION ALL, so count headers, not glue)
        for m in members:
            header = f"SELECT CAST('{m}' AS VARCHAR) AS op_name"
            assert spec.oracle.count(header) == 1, f"digest_{fam}: {m} header"


@pytest.mark.parametrize("fam", sorted(DIGEST_FAMILIES))
def test_snapshot_matches_live_schema(registry_walk, fam):
    """For every member: live canonical output schema (from the shared
    registry walk) == snapshot cols; catches renamed/retyped columns
    that would silently fingerprint the wrong thing."""
    ops = registry_walk["ops"]
    for m in DIGEST_FAMILIES[fam]:
        assert m in ops, f"{m}: failed to build — {registry_walk['errors'].get(m)}"
        live = tuple(
            sorted((f.name, kind_of(f.dataType)) for f in ops[m]["schema"].fields)
        )
        assert live == DIGEST_COLS[m], f"{m}: schema drifted — regenerate snapshot"


def test_digest_path_matches_oracle_at_any_width(spark):
    """The one digest path (operators/digests._make_digest): every member
    in its own cloned session, from one pool. A small digest over 2 batch
    and 2 stream members at split 2 must equal its composed DuckDB oracle,
    give identical rows sequentially (threads=1) and threaded (threads=4),
    and leave the environment and the calling session's conf untouched."""
    import os

    from datapipelines_python_spark.catalog import TABLES
    from datapipelines_python_spark.operators.digests import _make_digest

    members = ("fn_bitwise", "fn_mask", "stream_dedup", "stream_tumbling_agg")
    env, conf = dict(os.environ), spark.conf.getAll
    got = {}
    for threads in (1, 4):
        fn, oracle = _make_digest(members, split=2, threads=threads)
        got[threads] = sorted(tuple(r) for r in fn(spark, SF).collect())
    assert got[1] == got[4]
    assert [r[0] for r in got[1]] == sorted(members)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    assert got[1] == sorted(con.execute(oracle).fetchall())
    assert dict(os.environ) == env
    assert spark.conf.getAll == conf


def test_never_green_batch_ops_all_covered():
    """Every exact-oracle batch op with no driver-green history as of the
    committed CORRECTNESS files is in some digest (streaming ops are
    excluded by design and ride the driver slice individually)."""
    import glob
    import json

    reg = get_registry()
    rows_only = {n for n, s in reg.items() if s.oracle is None}
    green: set[str] = set()
    for path in sorted(glob.glob("CORRECTNESS_r*.json")):
        with open(path) as f:
            data = json.load(f)
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            ok = bool(row.get("rows_match")) and bool(row.get("schema_match"))
            if name not in rows_only:
                ok = ok and bool(row.get("hash_match"))
            if ok:
                green.add(name)
    want = {
        n
        for n, s in reg.items()
        if s.oracle is not None
        and not n.startswith(("digest_", "stream_"))
        and n not in green
    }
    covered = set(DIGEST_COLS)
    missing = want - covered
    assert not missing, f"never-green ops not in any digest: {sorted(missing)}"


def test_rendering_hazards_cross_engine(spark):
    """Bit-exact Spark↔DuckDB agreement on the hazard grid: NULL, NaN,
    ±Inf, -0.0, and every double tier boundary; string pipes; NULL sentinel
    collision; pre-epoch timestamps; leap-day dates."""
    rows = [
        (1, "a|b", True, 0.0001234, None, "2024-01-02", "2024-01-02 03:04:05.123456"),
        (2, None, False, -987654.321, 5, "1969-12-31", "1969-12-31 23:59:59"),
        (3, "", None, float("nan"), -12, None, None),
        (4, "<NULL>", True, float("inf"), 2**62, "2000-02-29", "2000-02-29 12:00:00"),
        (5, "x", False, -float("inf"), 0, "2024-06-01", "2024-06-01 00:00:00"),
        (6, "y", True, 1.23e12, 7, "2024-06-02", "2024-06-02 00:00:01"),
        (7, "z", True, -4.5e20, 8, "2024-06-03", "2024-06-03 00:00:02"),
        (8, "w", False, 9.9e30, 9, "2024-06-04", "2024-06-04 00:00:03"),
        (9, "q", True, None, 10, "2024-06-05", "2024-06-05 00:00:04"),
        (10, "neg0", True, -0.0, 11, "2024-06-06", "2024-06-06 00:00:05"),
        (11, "t1", False, 1e9, 12, "2024-06-07", "2024-06-07 00:00:06"),
        (12, "t2", False, 1e15, 13, "2024-06-08", "2024-06-08 00:00:07"),
        (13, "t3", False, 1e27, 14, "2024-06-09", "2024-06-09 00:00:08"),
    ]
    df = (
        spark.createDataFrame(
            rows, "i long, s string, b boolean, d double, j long, dt string, ts string"
        )
        .select(
            "i", "s", "b", "d", "j",
            F.col("dt").cast("date").alias("dt"),
            F.col("ts").cast("timestamp").alias("ts"),
        )
    )
    cols = tuple(sorted((f.name, kind_of(f.dataType)) for f in df.schema.fields))
    path = "/tmp/digest_hazard_probe"
    df.write.mode("overwrite").parquet(path)
    df2 = spark.read.parquet(path)

    got = spark_fingerprint(df2, "probe", cols).collect()[0]
    con = duckdb.connect()
    sql = oracle_member_sql(
        "probe", f"SELECT * FROM read_parquet('{path}/*.parquet')", cols
    )
    want = con.sql(sql).fetchall()[0]
    assert (got.op_name, got.n_rows, got.fp) == want

    # empty input: fingerprint must be ('0', 0), not NULL/crash
    empty = df2.filter(F.lit(False))
    got0 = spark_fingerprint(empty, "probe", cols).collect()[0]
    want0 = con.sql(
        oracle_member_sql(
            "probe",
            f"SELECT * FROM read_parquet('{path}/*.parquet') WHERE 1=0",
            cols,
        )
    ).fetchall()[0]
    assert (got0.n_rows, got0.fp) == (0, "0")
    assert (got0.op_name, got0.n_rows, got0.fp) == want0

    # per-row rendered strings agree too (sharper diagnostics than the sum)
    srows = {
        r["i"]: r["r"]
        for r in df2.select(
            "i",
            F.concat_ws("|", *[_render_spark(n, k) for n, k in cols]).alias("r"),
        ).collect()
    }
    rendered = ", ".join(_render_duck(n, k) for n, k in cols)
    drows = dict(
        con.sql(
            f"SELECT i, CONCAT_WS('|', {rendered}) FROM read_parquet('{path}/*.parquet')"
        ).fetchall()
    )
    assert srows == drows
