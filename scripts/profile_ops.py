"""Per-operator profile: where each registered operator's wall goes.

For each operator and each ``spark.sql.shuffle.partitions`` setting, the
builder (``spec.fn``) and the run of its result are timed apart. The run
consumes the result through a duplicate-sensitive fingerprint sink:
``count`` plus ``sum(CAST(xxhash64(all columns) AS decimal(38,0)))``. The
sum is commutative and associative, so row order and partition merge order
cannot change it; it is decimal-wide, so it cannot overflow; and unlike a
bit_xor fold, identical rows do not cancel pairwise. Every cache is dropped
between settings, so each setting recomputes from parquet. An operator whose
``rows`` or ``hash`` differs across settings is divergent.

Each record holds ``lane`` (``digest`` or ``op``), ``build_s`` and
``build_jobs`` (the builder, including any jobs it runs eagerly), ``run_s``
and ``run_jobs`` (the sink), the run jobs' ``stages``, ``tasks``,
``shuffle_write_bytes`` and ``spill_bytes``, the sink plan's
``python_bytes``, the micro-``batches`` the builder drained,
``persisted_delta`` (the change in persisted RDDs) and ``rows`` and
``hash``.

Usage:
    python scripts/profile_ops.py --sf SF_DIR [--only a,b] [--partitions 1,8,200]
        [--runs N] [--out PROFILE.json] [--compare BASE.json]

``--runs N`` keeps, per operator and setting, the run with the least
``build_s + run_s`` of N; the first run also warms the plan, so ``--runs 4``
gives a min-of-3 over warm runs. ``--compare BASE.json`` prints each
operator's wall ratio against the profile in BASE.json. Exit code 1 if any
operator diverges across settings or fails.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from datapipelines_python_spark import get_registry, get_spark
from perfbench.tracing import SparkProbe, stream_listener

PARTITIONS = "spark.sql.shuffle.partitions"
# --compare: base walls under FLOOR_S are per-query overhead, so their
# ratios are noise (0.2 s -> 1.3 s is a 6.5x "blowup" of nothing); such an
# operator is listed only when its new wall reaches FLOOR_ABS_S
FLOOR_S = 0.5
FLOOR_ABS_S = 5.0


def clear_all_caches(spark) -> None:
    """Drop Spark's cached tables and the shared kNN tables, so the next
    setting recomputes from parquet."""
    from datapipelines_python_spark.operators.knn import drop_knn_cache

    drop_knn_cache()
    spark.catalog.clearCache()


def wall_s(rec: dict) -> float:
    return rec["build_s"] + rec["run_s"]


def measure(spark, probe, listener, spec, sf: str) -> dict:
    """Build ``spec`` and run its result through the fingerprint sink once."""
    jsc = spark.sparkContext._jsc
    persisted, batches = jsc.getPersistentRDDs().size(), len(listener.batches)
    j0, t0 = probe.next_job_id(), time.perf_counter()
    df = spec.fn(spark, sf)
    j1, t1 = probe.next_job_id(), time.perf_counter()
    sink = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")).alias("h"),
    )
    n, h = sink.collect()[0]
    t2 = time.perf_counter()
    probe.flush()
    stats = probe.job_stats(j1, probe.next_job_id())
    return {
        "lane": "digest" if "digest" in spec.tags else "op",
        "build_s": round(t1 - t0, 3), "build_jobs": j1 - j0,
        "run_s": round(t2 - t1, 3), "run_jobs": stats.pop("jobs"), **stats,
        "python_bytes": probe.python_bytes(sink),
        "batches": len(listener.batches) - batches,
        "persisted_delta": jsc.getPersistentRDDs().size() - persisted,
        # rows-only operators (oracle=None: sketch estimates whose values
        # legitimately depend on merge order, e.g. KLL compaction) are held
        # to their row count, the same contract the driver applies to them
        "rows": int(n), "hash": None if spec.oracle is None or h is None else int(h),
    }


def profile(spark, sf: str, only=None, partitions=(None,), runs: int = 1) -> dict:
    """Profile the operators in ``only`` (default: all) at each shuffle-
    partition setting (None: the session's own), keeping the fastest of
    ``runs`` runs. The session's partition setting is restored after."""
    registry = get_registry()
    names = list(only or registry)
    unknown = [n for n in names if n not in registry]
    if unknown:  # a typo'd name must never report a false green
        raise KeyError(f"unknown operators: {unknown}")
    prev = spark.conf.get(PARTITIONS)
    settings = [int(p or prev) for p in partitions]
    probe, listener = SparkProbe(spark), stream_listener()
    spark.streams.addListener(listener)
    ops, errors, walls = {}, {}, {}
    try:
        for p in settings:
            spark.conf.set(PARTITIONS, str(p))
            clear_all_caches(spark)
            t0 = time.perf_counter()
            for name in names:
                try:
                    recs = [measure(spark, probe, listener, registry[name], sf)
                            for _ in range(runs)]
                    ops.setdefault(name, {})[str(p)] = min(recs, key=wall_s)
                except Exception as e:  # noqa: BLE001 - report, don't abort the pass
                    errors[f"{name}@{p}"] = f"{type(e).__name__}: {e}"[:300]
            walls[str(p)] = round(time.perf_counter() - t0, 1)
            print(f"== {PARTITIONS}={p}: {len(names)} ops in {walls[str(p)]}s", flush=True)
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set(PARTITIONS, prev)
    lanes: dict[str, Counter] = {}
    for by_p in ops.values():
        for r in by_p.values():
            lanes.setdefault(r["lane"], Counter()).update(
                {k: r[k] for k in ("build_s", "build_jobs", "run_s", "run_jobs")}, wall_s=wall_s(r))
    divergent = {name: {p: (r["rows"], r["hash"]) for p, r in by_p.items()}
                 for name, by_p in ops.items()
                 if len({(r["rows"], r["hash"]) for r in by_p.values()}) > 1}
    return {"sf": sf, "cpus": spark.sparkContext.defaultParallelism,
            "partitions": settings, "runs": runs, "n_ops": len(ops), "wall_s": walls,
            "lanes": {lane: {k: round(v, 1) for k, v in c.items()} for lane, c in lanes.items()},
            "divergent": divergent, "errors": errors, "ops": ops}


def compare(base: dict, new: dict) -> list[tuple[float, str, float, float]]:
    """``(new / base wall, op, base wall, new wall)`` per operator in both
    profiles, at each one's first setting, largest ratio first, floored as
    :data:`FLOOR_S` says."""
    b, n = ({op: wall_s(next(iter(by_p.values()))) for op, by_p in prof["ops"].items()}
            for prof in (base, new))
    rows = [(n[op] / b[op] if b[op] > 0 else float("inf"), op, b[op], n[op])
            for op in b.keys() & n.keys() if b[op] >= FLOOR_S or n[op] >= FLOOR_ABS_S]
    return sorted(rows, reverse=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True)
    ap.add_argument("--only", default="")
    ap.add_argument("--partitions", default="")
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--out", default="")
    ap.add_argument("--compare", default="")
    args = ap.parse_args(argv)

    spark = get_spark(app_name="profile-ops")
    partitions = [int(p) for p in args.partitions.split(",") if p] or [None]
    report = profile(spark, args.sf, [n for n in args.only.split(",") if n],
                     partitions, args.runs)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    print(json.dumps({k: report[k] for k in
                      ("sf", "cpus", "partitions", "n_ops", "wall_s", "lanes")}))
    if args.compare:
        with open(args.compare) as f:
            rows = compare(json.load(f), report)
        print(f"{'ratio':>7} {'base':>8} {'new':>8}  op")
        for ratio, op, b, n in rows:
            print(f"{ratio:7.2f} {b:8.2f} {n:8.2f}  {op}")
    for title in ("divergent", "errors"):
        for k, v in report[title].items():
            print(f"{title.upper()} {k}: {v}")
    clean = not report["divergent"] and not report["errors"]
    print("PROFILE CLEAN" if clean else "PROFILE NOT CLEAN")
    return 0 if clean else 1


if __name__ == "__main__":
    sys.exit(main())
