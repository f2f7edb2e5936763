"""Registry-WIDE physical-plan invariants (scripts/audit_plans.py).

test_plan_quality.py pins ~60 hand-picked plans in detail; this sweeps
every walked operator's executed plan (digests are walked as their
members) and enforces the three
blanket rules that keep the whole surface 100 TB-legal:

1. No physical CartesianProduct anywhere except ``join_cross`` (the
   operator whose point is the cartesian).
2. No row-at-a-time Python (`BatchEvalPython`) outside the two ops that
   exist to exercise that surface (`udf_python_scalar`,
   `sql_scalar_udf`); everything else Python-side must be Arrow-batched.
3. The set of ops whose plans contain a *conditional*
   BroadcastNestedLoopJoin is pinned exactly. Every member was reviewed:
   its broadcast side is bounded by construction (1-row scalar
   aggregates, generated day calendars, hash-sampled dims, broadcast
   query sets, the K·n kNN edge table) so the nested loop is
   O(corpus × small), never O(corpus²). A new op that picks up a
   theta-BNLJ fails here until it is reviewed and added.

Unconditioned BNLJ-Cross (broadcast scalar assembly: glueing single-row
aggregates into one output row) is sanctioned repo-wide and not counted.
"""

from __future__ import annotations

import pytest

from datapipelines_python_spark import get_registry
from datapipelines_python_spark.operators.knn import ANN, drop_knn_cache
from scripts.audit_plans import CARTESIAN_OK, ROW_PYTHON_OK, build_summary, walk
from tests.conftest import SF_SMOKE

# Reviewed theta-BNLJ allowlist (bounded broadcast side for each):
THETA_BNLJ_OK = {
    # scalar-subquery comparisons (1-row broadcast aggregate)
    "tpch_q11_important_stock", "tpch_q22_sales_opportunity",
    "workload_dau_rolling", "workload_littles_law", "workload_stickiness",
    "workload_mann_kendall", "ml_subsample_ci", "llm_heaps_law",
    # generated bounded spines/calendars broadcast against facts
    "join_interval",
    # hash-sampled / derived tiny dims with non-equi residuals
    "join_geo_bucketed", "fn_levenshtein", "fn_haversine",
    "llm_sketch_countmin", "llm_bpe_merge_step",
    "llm_skipgram_negative_sampling",
    # broadcast query/model sets vs corpus (documented design)
    "llm_similarity_topk", "llm_ann_recall", "ml_ranking_metrics",
    # (round 6: the 13 exact-kNN consumers left this list — their n²
    # theta self-join was replaced by the blocked Arrow-batched exact
    # top-K in knn._exact_pairs_blocked, so no BNLJ remains in
    # their plans)
    "workload_shapley_attribution",
    # small aggregated frames joined pairwise (group × group)
    "ml_kendall_tau", "ml_tukey_hsd",
}


@pytest.fixture(scope="module")
def plan_ops(registry_walk):
    return {n: r["plan"] for n, r in registry_walk["ops"].items()}


def test_no_unreviewed_cartesian(plan_ops):
    bad = [n for n, c in plan_ops.items() if c["cartesian"] and n not in CARTESIAN_OK]
    assert bad == [], f"physical CartesianProduct outside whitelist: {bad}"


def test_no_unreviewed_row_python(plan_ops):
    bad = [
        n for n, c in plan_ops.items() if c["batch_eval_python"] and n not in ROW_PYTHON_OK
    ]
    assert bad == [], f"row-at-a-time Python outside whitelist: {bad}"


def test_theta_bnlj_set_is_pinned(plan_ops):
    got = {n for n, c in plan_ops.items() if c["bnlj_cond"]}
    new = got - THETA_BNLJ_OK
    gone = THETA_BNLJ_OK - got
    assert not new, (
        f"NEW conditional BroadcastNestedLoopJoin in {sorted(new)} — review "
        "the broadcast side's boundedness, then allowlist deliberately"
    )
    assert not gone, (
        f"allowlist entries no longer theta-BNLJ (stale — prune): {sorted(gone)}"
    )


def test_summary_name_lists_agree_with_counts(plan_ops):
    """VERDICT r8 #5: the summary's row/arrow-Python counts must be
    derivable from — and name-listed alongside — the per-op records, so
    an auditor can jq straight to the offending op names."""
    s = build_summary(plan_ops)
    assert s["row_python_ops"] == len(s["row_python_op_names"])
    assert s["arrow_python_ops"] == len(s["arrow_python_op_names"])
    assert s["row_python_op_names"] == sorted(
        n for n, c in plan_ops.items() if c["batch_eval_python"]
    )
    assert s["arrow_python_op_names"] == sorted(
        n for n, c in plan_ops.items()
        if c["arrow_eval_python"] or c["pandas_map"]
    )


def test_whole_registry_plans_buildable(registry_walk):
    # every registered op must at least PLAN at smoke scale
    assert registry_walk["errors"] == {}, registry_walk["errors"]
    # 617 frozen + 11 ANN twins + stream_tws_fallback (the protobuf-free
    # applyInPandasWithState twin, round 7) are walked; the 8 family
    # digests are registered on top but walked as their members
    assert registry_walk["n_ops"] == 629
    assert len(get_registry()) == 637


def test_builds_leave_the_session_alone(registry_walk):
    # an operator's build must not change the caller's conf or environment:
    # another query on the same session would answer differently after it
    changed = {n: r["session_diff"] for n, r in registry_walk["ops"].items()
               if r["session_diff"]}
    assert changed == {}


def test_counts_do_not_depend_on_walk_order(spark):
    # once built, a cached table prints its executed plan and reports its
    # real size (which turns the joins above it into broadcasts), so an
    # operator built after its shared table ran would count differently
    name = "graph_local_clustering_ann"
    drop_knn_cache()
    fresh = walk(spark, SF_SMOKE, {name})["ops"][name]["plan"]
    ANN.top5(spark, SF_SMOKE).count()
    assert walk(spark, SF_SMOKE, {name})["ops"][name]["plan"] == fresh
