"""Time individual operators in isolation and capture their plans.

Round-10 measurement harness (guide §1): per-op wall from bench.py's own
``time_op`` (one warm run, then N runs through the same hash sink the bench
charges; min-of-N reported) plus an optional noop-sink lap, and
``explain("formatted")`` dumped to a file so plan claims are checkable
without running Spark.

Usage:
    python scripts/bench_one.py --ops agg_groupby,tpch_q18_large_volume_customer \
        [--sf /root/testdata/sf0.1] [--runs 3] [--plans plans/r10] [--suffix before]
    python scripts/bench_one.py --bench-suite          # all bench+family ops
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from datapipelines_python_spark import get_registry, get_spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--ops", default="")
    ap.add_argument("--bench-suite", action="store_true")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default="")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--noop", action="store_true",
                    help="also time one noop-sink lap per op")
    args = ap.parse_args()

    spark = get_spark(app_name="bench_one")
    registry = get_registry()

    names: list[str] = [n for n in args.ops.split(",") if n]
    if args.bench_suite:
        names = [n for n in bench.HEADLINE_ORDER if n in registry]
        for members in bench.FAMILY_BENCH.values():
            names += [n for n in members if n in registry and n not in names]

    out: dict[str, dict] = {}
    for name in names:
        spec = registry[name]
        spark.sparkContext.setJobDescription(f"bench_one:{name}")
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = spec.fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(f"{args.plans}/{name}_{args.suffix}.txt", "w") as fh:
                fh.write(plan)
        walls = bench.time_op(spark, spec.fn, args.sf, args.runs)
        best, runs = min(walls), [round(w, 3) for w in walls]
        rec: dict = {"min": round(best, 3), "runs": runs}
        if args.noop:
            t0 = time.perf_counter()
            spec.fn(spark, args.sf).write.format("noop").mode(
                "overwrite"
            ).save()
            rec["noop"] = round(time.perf_counter() - t0, 3)
        out[name] = rec
        print(f"{name:45s} min={best:7.3f}  runs={runs}", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
