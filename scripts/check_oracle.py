"""Local oracle-differential harness — mimics the driver's correctness check.

Runs every registered operator's Spark plan AND its DuckDB oracle SQL on the
same parquet fixtures, then compares row-count + schema-width + an
order-insensitive value comparison (columns sorted by name, rows sorted,
values normalized). Reports PASS/FAIL per query with the first differing row.

Usage:
    python scripts/check_oracle.py [--sf /root/testdata/sf0.001] [--only name1,name2]

``--split-digests`` (VERDICT r6 "Next round" #5): run a digest op's
DuckDB oracle one MEMBER at a time instead of as the single composed
40-member UNION ALL. The member SQL is rebuilt with the same
``oracle_member_sql`` helper that built the composed oracle, so the
concatenated rows are value-identical to the composed query by
construction — but each DuckDB plan stays member-sized (the composed
workload digests inline ~40 multi-CTE oracles into one statement, which
DuckDB plans/executes far slower than the sum of its parts at sf0.1),
and the harness reports a per-member oracle wall so the hot member is
visible instead of a 45-minute opaque query.
"""

from __future__ import annotations

import argparse
import datetime as dt
import decimal
import math
import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datapipelines_python_spark import get_registry, get_spark
from datapipelines_python_spark.catalog import TABLES


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir.rstrip('/')}/{t}.parquet')"
        )
    return con


def norm_value(v):
    """Normalize a cell for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        # exact bits — queries are written so both engines produce identical
        # doubles; approx_equal flags near-misses as driver-hash risks
        return ("f", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, dt.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(norm_value(x) for x in v))
    if isinstance(v, dict):
        return ("m", tuple(sorted((k, norm_value(x)) for k, x in v.items())))
    return str(v)


def sortable(row):
    return tuple((str(type(x)), repr(x)) for x in row)


def normalize_result(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    cols_sorted = [cols[i] for i in order]
    out = [tuple(norm_value(r[i]) for i in order) for r in rows]
    out.sort(key=sortable)
    return cols_sorted, out


def approx_equal(a, b) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple) and a and b and a[0] == b[0] == "f":
        x, y = a[1], b[1]
        if x == "nan" or y == "nan":
            return x == y
        return math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple) and a and b and a[0] == b[0] == "l":
        return len(a[1]) == len(b[1]) and all(approx_equal(x, y) for x, y in zip(a[1], b[1]))
    return a == b


def rows_equal(a, b) -> bool:
    return len(a) == len(b) and all(approx_equal(x, y) for x, y in zip(a, b))


def compare_rows(s_cols, s_rows, d_cols, d_rows) -> tuple[bool, str]:
    """Compare Spark ``(cols, rows)`` against DuckDB ``(cols, rows)``:
    row count, column names, then rows in normalized order."""
    if len(s_rows) != len(d_rows):
        return False, f"rowcount spark={len(s_rows)} duck={len(d_rows)}"
    sc, sr = normalize_result(s_cols, s_rows)
    dc, dr = normalize_result(d_cols, d_rows)
    if [c.lower() for c in sc] != [c.lower() for c in dc]:
        return False, f"columns spark={sc} duck={dc}"
    exact = True
    for i, (a, b) in enumerate(zip(sr, dr)):
        if a != b:
            exact = False
            if not rows_equal(a, b):
                return False, f"row {i} differs:\n  spark={a}\n  duck ={b}"
    return True, "exact" if exact else "approx (float tolerance — tighten rounding!)"


def compare(name: str, spark_df, duck_rel) -> tuple[bool, str]:
    s_rows = [tuple(r) for r in spark_df.collect()]
    return compare_rows(list(spark_df.columns), s_rows, list(duck_rel.columns), duck_rel.fetchall())


def compare_digest_split(name, spark_df, con, registry) -> tuple[bool, str]:
    """Digest differential with the oracle run per member.

    Rebuilds each member's fingerprint SQL via the SAME helper the digest
    op used to build its composed oracle, executes them one at a time
    (bounded plans), times each, and compares the concatenated rows
    against the digest's Spark output through the standard comparator."""
    from datapipelines_python_spark.digest import oracle_member_sql
    from datapipelines_python_spark.digest_snapshot import DIGEST_FAMILIES, DIGEST_COLS

    fam = name[len("digest_"):]
    members = DIGEST_FAMILIES[fam]
    d_rows: list[tuple] = []
    d_cols: list[str] | None = None
    walls: list[tuple[float, str]] = []
    for m in members:
        sql = oracle_member_sql(m, registry[m].oracle, DIGEST_COLS[m])
        t0 = time.time()
        rel = con.sql(sql)
        d_cols = list(rel.columns)
        d_rows.extend(rel.fetchall())
        walls.append((time.time() - t0, m))
    walls.sort(reverse=True)
    hot = ", ".join(f"{m}={w:.1f}s" for w, m in walls[:3])
    total = sum(w for w, _ in walls)

    s_rows = [tuple(r) for r in spark_df.collect()]
    ok, msg = compare_rows(list(spark_df.columns), s_rows, d_cols, d_rows)
    if not ok:
        return ok, msg
    return True, f"oracle {total:.1f}s split over {len(members)} members; hottest: {hot}"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--only", default=None)
    ap.add_argument(
        "--sample", type=int, default=None,
        help="check a random sample of N operators (seeded; see --seed)",
    )
    ap.add_argument("--seed", type=int, default=0, help="sample seed")
    ap.add_argument(
        "--split-digests", action="store_true",
        help="run digest oracles one member at a time (value-identical; "
        "bounded per-query plans + per-member walls)",
    )
    args = ap.parse_args()

    registry = get_registry()
    names = list(registry)
    if args.only:
        names = [n for n in args.only.split(",") if n]
    if args.sample is not None:
        import random

        names = sorted(random.Random(args.seed).sample(names, min(args.sample, len(names))))

    spark = get_spark("oracle-check")
    con = duck_connect(args.sf)

    n_pass = n_fail = n_rows_only = 0
    failures = []
    for name in names:
        spec = registry[name]
        t0 = time.time()
        try:
            df = spec.fn(spark, args.sf)
            if spec.oracle is None:
                cnt = df.count()
                n_rows_only += 1
                print(f"  ROWS-ONLY {name}: {cnt} rows ({time.time()-t0:.1f}s)")
                continue
            if args.split_digests and name.startswith("digest_"):
                ok, msg = compare_digest_split(name, df, con, registry)
            else:
                rel = con.sql(spec.oracle)
                ok, msg = compare(name, df, rel)
        except Exception:
            ok, msg = False, traceback.format_exc(limit=10)
        took = time.time() - t0
        if ok:
            n_pass += 1
            flag = "" if msg == "exact" else f"  [{msg}]"
            print(f"  PASS {name} ({took:.1f}s){flag}")
        else:
            n_fail += 1
            failures.append(name)
            print(f"  FAIL {name} ({took:.1f}s): {msg}")
    print(
        f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only, "
        f"{len(names)} total @ {args.sf}"
    )
    if failures:
        print("failing:", ",".join(failures))
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
