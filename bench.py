"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each bench-flagged operator from the registry is executed to completion
through a hash-sink (bit_xor of xxhash64 over every output column — forces the
full plan INCLUDING projection-only columns, which a bare count() would
prune away; no driver materialization of rows) after one warm-up of the
flagship to amortize JVM/session startup. Per-query times are the MINIMUM
wall-clock seconds over three warm runs (one untimed warm-up amortizes
codegen/JIT for that plan, then three timed runs); `value` is the sum of
the minima. Min-of-3 was adopted in round 3 (VERDICT r2 #4): single warm
runs showed ±40% drift under concurrent machine load (tpch_q5 read 1.56×
of lock in the r2 driver run but 1.0× in clean same-day runs), and the
minimum is the statistic least sensitive to external interference while
still charging every cost the plan actually pays.

Round 5 (VERDICT r4 #4) adds per-family walls: a pinned two-op
representative set per operator family (the heaviest non-headline ops per
family from PROFILE_SF01.json), summed per family into the ``families``
key. The headline 20 stay the primary lock; the family walls make
regressions outside the headline set visible round over round (locked
values in BASELINE.md, gate ≤1.2×). Round 8 (VERDICT r7 #5) promotes the
family reps to the headliners' exact treatment — in the untimed warm lap
since r7, now also min-of-THREE timed runs (was 2: stream family medians
ranged 29.9/24.8/24.0 across clean runs with zero plan changes, too noisy
to gate without manual adjudication) — and BASELINE.md's family locks are
re-taken under the new method.

Round 7 (VERDICT r6 #1): execution order is FROZEN. bench used to time
ops in registry iteration order, but the registry reorders itself so the
driver-slice rotation comes first — so the run order changed every round,
and whoever ran first absorbed early-session JIT/executor-spinup cost that
the per-plan warm-up does not fully amortize (r6: tpch_q3 read 2.9x of its
lock purely from moving to the head of the run while the ops it displaced
all "sped up"). Two changes pin comparability: (a) HEADLINE_ORDER freezes
the execution order of the timed suite independently of registry order,
and (b) one full UNTIMED warm lap over every measured plan (headliners +
family representatives) runs before any clock starts, so first-position
cost lands on no measured run. BASELINE.md's lock is re-taken under this
methodology in round 7.

``cpus`` in the JSON line is the session's ``defaultParallelism``: a
wall is only comparable with walls taken at the same core count.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from datapipelines_python_spark import get_registry
from datapipelines_python_spark.session import get_spark

# Per-family representative sets (VERDICT r4 #4): the heaviest
# non-headline ops per family in the round-5 PROFILE_SF01.json (frozen
# since; the regenerated profile did not re-pick them) — where a plan-shape
# regression would cost the most wall. llm_hard_negative_mining (41 s, the
# known O(n²)-candidate exact-kNN ceiling) is deliberately excluded: its
# cost IS the documented scale-trade and would drown the family signal;
# its ANN twin's family (graph) carries graph_ann_edge_table instead.
FAMILY_BENCH: dict[str, tuple[str, ...]] = {
    "join": ("join_geo_bucketed", "join_fuzzy_blocked"),
    "agg": ("agg_corr_matrix", "agg_percentile_family"),
    "win": ("win_range_frame", "win_rank_dense"),
    "setop": ("setop_intersect_all", "sort_multi"),
    "fn": ("fn_try_overflow", "fn_string"),
    "udf": ("udf_grouped_map", "udaf_pandas_window"),
    "scan": ("scan_python_datasource", "sink_csv_quoting"),
    "llm": ("llm_dedup_clusters", "llm_rouge_pairs"),
    "ml": ("ml_pca_power", "ml_ridge_path"),
    "workload": ("workload_basket_affinity", "workload_frequent_triples"),
    "graph": ("graph_kcore", "graph_ann_edge_table"),
    "stream": ("stream_join_then_window", "stream_tumbling_agg"),
    "sql": ("sql_recursive_hierarchy", "tpch_q16_parts_supplier_relationship"),
    "mm": ("mm_vad_segments", "mm_decode_image_ppm"),
}

# Frozen execution order for the timed headline suite (VERDICT r6 #1).
# This is the round-1 lock order and must never track registry order; a
# bench-flagged op missing from this list is appended sorted-at-the-end
# with a loud stderr note so the drift is visible in the driver tail.
HEADLINE_ORDER: tuple[str, ...] = (
    "tpch_q3_shipping_priority",
    "tpch_q9_product_type_profit",
    "tpch_q18_large_volume_customer",
    "llm_dedup_minhash_lsh",
    "ml_kmeans_lloyd",
    "scan_parquet",
    "project_compute",
    "join_inner_equi",
    "join_broadcast",
    "agg_groupby",
    "topk_per_group",
    "llm_dedup_near",
    "llm_similarity_topk",
    "llm_tfidf",
    "llm_ann_ivf",
    "llm_corpus_pipeline",
    "llm_chunk_documents",
    "tpch_q5_local_supplier_volume",
    "tpch_q21_suppliers_kept_waiting",
    "ml_ols_regression",
)


def consume(df) -> None:
    """Hash every output column: nothing is prunable, rows never reach
    the driver, and the aggregate is trivial next to the plan measured."""
    df.select(F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns]))).collect()


def time_op(spark, fn, sf_dir: str, runs: int = 3) -> list[float]:
    """One untimed warm run (codegen/JIT for this plan), then ``runs``
    timed runs through :func:`consume`; returns their wall seconds."""
    consume(fn(spark, sf_dir))
    walls = []
    for _ in range(runs):
        t0 = time.perf_counter()
        consume(fn(spark, sf_dir))
        walls.append(time.perf_counter() - t0)
    return walls


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="bench")

    registry = get_registry()
    bench_flagged = {n for n, s in registry.items() if s.bench}
    if not bench_flagged:  # safety net: never emit an empty bench
        bench_flagged = {"agg_groupby"}

    # Frozen order (VERDICT r6 #1): HEADLINE_ORDER first, then any newly
    # bench-flagged ops sorted at the end — never registry order, which
    # tracks the rotating driver slice.
    headline_names = [n for n in HEADLINE_ORDER if n in bench_flagged]
    dropped = [n for n in HEADLINE_ORDER if n not in bench_flagged]
    extra = sorted(bench_flagged - set(HEADLINE_ORDER))
    if dropped:
        print(f"bench: HEADLINE_ORDER pins unknown op(s) {dropped}",
              file=sys.stderr)
    if extra:
        print(f"bench: bench-flagged op(s) not in HEADLINE_ORDER, "
              f"appended sorted: {extra}", file=sys.stderr)
    headline_names += extra
    bench_ops = {n: registry[n] for n in headline_names}

    # Untimed full-suite warm lap (VERDICT r6 #1): every measured plan —
    # headliners and family representatives — runs once before any clock
    # starts, so JVM JIT / executor spin-up / parquet footer cache cost
    # lands on no measured run regardless of position.
    warm_names = list(bench_ops) + [
        n for members in FAMILY_BENCH.values() for n in members
        if n in registry
    ]
    for name in warm_names:
        consume(registry[name].fn(spark, sf_dir))

    times = {
        name: round(min(time_op(spark, spec.fn, sf_dir)), 3)
        for name, spec in bench_ops.items()
    }

    families: dict[str, float | None] = {}
    family_queries: dict[str, float] = {}
    for fam, members in FAMILY_BENCH.items():
        # A drifted pinned name must fail LOUDLY as a null family wall —
        # silently summing the remaining member reads as a speedup
        # (ADVICE r5): with one of two members missing the wall halves.
        missing = [n for n in members if n not in registry]
        if missing:
            print(
                f"bench: FAMILY_BENCH[{fam!r}] pins unknown op(s) {missing}",
                file=sys.stderr,
            )
            families[fam] = None
            continue
        walls = [min(time_op(spark, registry[n].fn, sf_dir)) for n in members]
        family_queries.update(zip(members, (round(w, 3) for w in walls)))
        families[fam] = round(sum(walls), 3)

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_num: float | str = float(sf)
    except ValueError:
        sf_num = sf
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "queries": times,
                "families": families,
                "family_queries": family_queries,
                "sf": sf_num,
                "cpus": spark.sparkContext.defaultParallelism,
            }
        )
    )


if __name__ == "__main__":
    main()
