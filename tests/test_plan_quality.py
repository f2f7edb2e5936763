"""Physical-plan quality gates (SURVEY.md §4.2, the 100 TB design rules):
these tests pin the *plan*, not the result — a regression that keeps results
correct but loses pushdown/broadcast/partial-agg would surface only at
cluster scale, so the suite fails it here.
"""

from __future__ import annotations

import pytest

from datapipelines_python_spark import get_registry
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def registry():
    return get_registry()


def _plan(spark, registry, name: str) -> str:
    df = registry[name].fn(spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_projection_prunes_scan_columns(spark, registry):
    plan = _plan(spark, registry, "scan_projected")
    scan = plan[plan.index("FileScan") :]
    assert "l_orderkey" in scan and "l_quantity" in scan
    assert "l_extendedprice" not in scan  # unused column never read


def test_filter_reaches_parquet_pushdown(spark, registry):
    plan = _plan(spark, registry, "filter_simple")
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters:")[1][:200]
    assert "l_quantity" in pushed


def test_broadcast_join_broadcasts_dimension(spark, registry):
    plan = _plan(spark, registry, "join_broadcast")
    assert "BroadcastHashJoin" in plan


def test_star_join_has_no_cartesian(spark, registry):
    plan = _plan(spark, registry, "tpch_q5_local_supplier_volume")
    assert "CartesianProduct" not in plan
    # the one BroadcastNestedLoopJoin-able edge (s_nationkey = c_nationkey)
    # must ride the equi-join, not a nested loop over the fact table
    assert "BroadcastNestedLoopJoin" not in plan


def test_aggregate_is_two_phase(spark, registry):
    plan = _plan(spark, registry, "agg_groupby")
    # map-side partial agg before the shuffle: the shuffle carries one row
    # per (partition, group), not per input row
    assert "partial_" in plan
    assert plan.count("HashAggregate") >= 2


def test_topk_per_group_uses_window_group_limit(spark, registry):
    plan = _plan(spark, registry, "topk_per_group")
    assert "WindowGroupLimit" in plan  # Spark >= 3.5 rank-limit pushdown


def test_dedup_self_join_is_shuffle_not_broadcast(spark, registry):
    plan = _plan(spark, registry, "llm_dedup_near")
    # at 100 TB neither side of the inverted index is broadcastable; the
    # hint keeps the partition-by-shingle plan even at fixture scale
    assert "ShuffledHashJoin" in plan


def test_flagship_stays_in_wholestage_codegen(spark, registry):
    df = registry["agg_groupby"].fn(spark, SF_SMOKE)
    df.collect()  # finalize THIS frame's adaptive plan (count() plans anew)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "*(" in plan  # whole-stage-codegen stage marker


def test_no_operator_collects_to_driver():
    """Operators must return lazy DataFrames; building one must not run
    jobs (collect/count in the builder would mean a driver-side loop)."""
    import inspect

    from datapipelines_python_spark.operators import (
        aggregations,
        joins,
        knn,
        llm,
        projections,
        scans,
        sorts_setops,
        windows,
        workloads,
    )

    for mod in (scans, projections, joins, aggregations, windows, sorts_setops,
                llm, workloads, knn):
        # the single sanctioned exception: _exact_pairs_blocked's
        # broadcast-build collect (bounded n·d build side shipped to every
        # task — the same driver hop F.broadcast performs internally);
        # the marker comment must sit on the same line as the call
        src = "\n".join(
            line
            for line in inspect.getsource(mod).splitlines()
            if "# broadcast-build collect" not in line
        )
        assert ".collect()" not in src, f"{mod.__name__} materializes on driver"
        assert ".toPandas()" not in src, f"{mod.__name__} materializes on driver"


def test_q9_dims_broadcast_fact_not_shuffled_twice(spark, registry):
    plan = _plan(spark, registry, "tpch_q9_product_type_profit")
    # part/supplier/nation ride broadcast joins; only the orders join and
    # the final agg may shuffle the fact
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_salted_join_spreads_without_nested_loop(spark, registry):
    plan = _plan(spark, registry, "join_skew_salted")
    # the (key, salt) composite must stay an equi-join: a nested loop would
    # defeat the whole point of salting
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_salted_agg_is_two_level(spark, registry):
    plan = _plan(spark, registry, "agg_salted_two_phase")
    # (key, salt) partial then key final: ≥2 logical groupings, each itself
    # two-phase -> at least 4 HashAggregate nodes
    assert plan.count("HashAggregate") >= 4


def test_hash_sample_filter_reaches_scan(spark, registry):
    plan = _plan(spark, registry, "sample_hash_deterministic")
    # the md5-prefix predicate is not pushable into parquet, but it must
    # run inside the scan stage (codegen filter), not after an exchange
    assert "Exchange" not in plan


def test_ivf_assignment_joins_are_broadcast(spark, registry):
    plan = _plan(spark, registry, "llm_ann_ivf")
    # centroids/queries/probes broadcast; the corpus is never on the build
    # side of anything and never cartesian-joined
    assert "CartesianProduct" not in plan


def test_unpivot_is_shuffle_free(spark, registry):
    plan = _plan(spark, registry, "reshape_unpivot")
    assert "Expand" in plan
    assert "Exchange" not in plan


def test_partitioned_read_prunes_partitions(spark, registry):
    plan = _plan(spark, registry, "scan_partition_pruned")
    # the partition-column predicate must resolve against directory names
    # (PartitionFilters), not row-level data filters
    idx = plan.index("PartitionFilters")
    assert "l_returnflag" in plan[idx : idx + 120]
    # and the row-level predicate still pushes into parquet
    assert "PushedFilters" in plan


def test_bucketed_join_has_no_exchange(spark, registry):
    plan = _plan(spark, registry, "join_bucketed_colocated")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # co-located buckets join without shuffle
    assert "Bucketed: true" in plan


def test_lateral_topk_decorrelates_to_window(spark, registry):
    plan = _plan(spark, registry, "join_lateral_topk")
    # Catalyst must rewrite the correlated LATERAL into a set-wise plan:
    # join + per-key window, never a nested-loop over outer rows
    assert "CartesianProduct" not in plan
    assert "row_number" in plan or "RunningWindowFunction" in plan or "Window" in plan


def test_pmi_broadcasts_unigram_tables(spark, registry):
    plan = _plan(spark, registry, "llm_pmi_collocations")
    assert plan.count("BroadcastExchange") >= 3  # u1, u2, scalar totals


def test_null_safe_join_is_hash_join(spark, registry):
    plan = _plan(spark, registry, "join_null_safe_eq")
    assert "BroadcastHashJoin" in plan  # <=> still hashes; no BNLJ fallback
    assert "BroadcastNestedLoopJoin" not in plan


def test_clustered_sink_writes_range_partitioned(spark, registry):
    df = registry["sink_sorted_clustered"].fn(spark, SF_SMOKE)
    # the write happened inside fn; assert the layout intent on a rebuilt
    # write-side plan: repartitionByRange plans a range exchange
    from datapipelines_python_spark.catalog import load_table
    from pyspark.sql import functions as F
    src = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_shipdate")
    plan = (
        src.repartitionByRange(8, F.col("l_shipdate"))
        .sortWithinPartitions("l_shipdate")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "rangepartitioning" in plan.lower()


def test_dynamic_partition_pruning_injected(spark, registry):
    plan = _plan(spark, registry, "scan_dynamic_partition_pruning")
    assert "dynamicpruning" in plan.lower()  # runtime partition filter


def test_error_bursts_single_exchange(spark, registry):
    # Both windows and the final agg partition by user_id: one shuffle
    # total (plus AQE reads) — the docstring's claim, pinned.
    plan = _plan(spark, registry, "workload_error_bursts")
    assert plan.count("Exchange hashpartitioning") == 1


def test_ewma_lags_share_one_exchange(spark, registry):
    # Eight LAG columns over the same window spec must not multiply
    # exchanges or sorts.
    plan = _plan(spark, registry, "workload_ewma_smoothing")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Sort ") <= 1


def test_paragraph_dedup_no_global_sort(spark, registry):
    # Block fan-out is array-local; the only sort is the per-partition one
    # under the first-occurrence window — never a global (rangepartitioned)
    # sort.
    plan = _plan(spark, registry, "llm_dedup_paragraph")
    assert "Exchange rangepartitioning" not in plan


def test_path_3step_single_exchange(spark, registry):
    # Both LEAD columns ride one user_id window; the only other exchange
    # is the final small groupBy on the path triple.
    plan = _plan(spark, registry, "workload_path_3step")
    assert plan.count("Window") == 1
    assert "SortMergeJoin" not in plan  # LEAD formulation, not rank self-joins


def test_duplicate_payments_is_hash_join(spark, registry):
    # The blocking-key formulation must plan an equi hash/merge join with
    # the date window as a residual condition — never a nested loop.
    plan = _plan(spark, registry, "workload_duplicate_payments")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_corr_matrix_single_aggregate_pass(spark, registry):
    # 15 power sums in one partial+final aggregate; pair rows are
    # projected from the single reduced row (Generate), not re-scanned.
    plan = _plan(spark, registry, "agg_corr_matrix")
    assert plan.count("FileScan") == 1
    assert "partial_" in plan


def test_repetition_ngram_is_shuffle_free(spark, registry):
    # Per-doc duplicate-trigram fraction is array-local: no Exchange at
    # all, and the trigram lambda is built once (the array column is
    # multi-referenced, blocking CollapseProject inlining).
    plan = _plan(spark, registry, "llm_repetition_ngram")
    assert "Exchange" not in plan


def test_morton_zorder_is_shuffle_free(spark, registry):
    # Z-order codes are pure bitwise projection; the filter reaches the
    # parquet scan.
    plan = _plan(spark, registry, "fn_morton_zorder")
    assert "Exchange" not in plan
    assert "PushedFilters: [" in plan


def test_ks_test_aggregates_before_global_window(spark, registry):
    # The cumulative-ECDF window must run on the distinct-value axis:
    # a partial_ hash aggregate reduces fact rows per distinct cents
    # BEFORE the single-partition window sees them.
    plan = _plan(spark, registry, "ml_ks_test")
    assert "partial_" in plan
    w = plan.index("Window")
    agg = plan.index("HashAggregate", w)
    assert agg > w  # aggregate appears below the window in the tree


def test_fim_transform_is_shuffle_free(spark, registry):
    # PSM slicing is array-local projection work: no Exchange at all.
    plan = _plan(spark, registry, "llm_fim_transform")
    assert "Exchange" not in plan


def test_weighted_sample_is_take_ordered(spark, registry):
    # A-Res top-k must plan TakeOrderedAndProject (per-partition local
    # top-k + driver merge), never a global sort of the corpus.
    plan = _plan(spark, registry, "sample_weighted_ares")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_matryoshka_single_pass(spark, registry):
    # Four prefix energies fold in one scan; per-label mean is a
    # two-phase (partial_) aggregate — one corpus pass, one tiny shuffle.
    plan = _plan(spark, registry, "llm_embed_matryoshka")
    assert plan.count("FileScan") == 1
    assert "partial_" in plan


def test_holt_recursion_collapses_to_one_exchange(spark, registry):
    # The 8 chained recursion projections must collapse into the pivot
    # aggregate's single shuffle — recursion itself adds no exchange.
    plan = _plan(spark, registry, "workload_holt_linear")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_" in plan


def test_snapshot_diff_equi_join(spark, registry):
    # Version diff is a key-equi full outer join: no nested loop, no
    # cartesian, and the classification is pure projection above it.
    plan = _plan(spark, registry, "workload_snapshot_diff")
    assert "FullOuter" in plan or "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_theil_sen_aggregates_before_pair_join(spark, registry):
    # The O(days^2) pair product runs on the day-grain aggregate, never
    # the raw events: a partial_ agg must sit below the self-join, and
    # the join itself is equi on event_type (range residual), not a
    # cartesian.
    plan = _plan(spark, registry, "ml_theil_sen")
    assert "partial_" in plan
    assert "CartesianProduct" not in plan


def test_bpe_merge_learned_pair_broadcasts(spark, registry):
    # The learned 1-row pair reaches every document via broadcast; the
    # corpus itself is never cartesian-joined.
    plan = _plan(spark, registry, "llm_bpe_merge_step")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_subsample_ci_replicates_broadcast(spark, registry):
    # The 8-row replicate table must broadcast onto the orders scan and
    # the half-sample means must partial-aggregate map-side.
    plan = _plan(spark, registry, "ml_subsample_ci")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "partial_" in plan


def test_kneser_ney_model_tables_broadcast(spark, registry):
    # All four KN model tables (bigram, context, continuation, scalars)
    # must broadcast onto the test bigrams — scoring is one pass, no
    # shuffle of the scored stream against the model.
    plan = _plan(spark, registry, "llm_kneser_ney_lm")
    assert plan.count("BroadcastExchange") >= 4
    assert "CartesianProduct" not in plan


def test_calibration_bins_no_sort(spark, registry):
    # Fixed-width binning is projection + two-phase agg: no Sort, no
    # Window, no Exchange beyond the group-by.
    plan = _plan(spark, registry, "ml_calibration_bins")
    assert "Window" not in plan
    assert "partial_" in plan


def test_time_bucket_single_aggregate(spark, registry):
    # Bucket ids are scan-time projections; one two-phase aggregate.
    plan = _plan(spark, registry, "fn_time_bucket")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_" in plan


def test_kaplan_meier_day_grain_before_window(spark, registry):
    # The risk-set running window must see day-grain rows only: a
    # partial_ aggregate sits below the single-partition window.
    plan = _plan(spark, registry, "ml_kaplan_meier")
    assert "partial_" in plan
    w = plan.index("Window")
    assert plan.index("HashAggregate", w) > w


def test_mutual_info_margins_from_cells(spark, registry):
    # MI margins re-aggregate the contingency cells, never the corpus:
    # exactly one FileScan of documents.
    plan = _plan(spark, registry, "ml_mutual_info")
    assert plan.count("FileScan") == 1


def test_markov_iterations_broadcast_state(spark, registry):
    # Each power iteration broadcast-joins the K-row distribution onto
    # the K^2 transition table — no shuffle of the corpus after the
    # first lag/count pass.
    plan = _plan(spark, registry, "ml_markov_stationary")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_url_canonicalize_two_shuffles_max(spark, registry):
    # String surgery is projection; the exchanges are the exact-distinct
    # pre-aggregation on (canon, url) and the final group-by on the
    # canonical key — the standard two-exchange COUNT(DISTINCT) plan,
    # never a third.
    plan = _plan(spark, registry, "llm_url_canonicalize")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Sort " not in plan or "SortAggregate" not in plan


def test_skyline_prefilter_before_global_window(spark, registry):
    # The month-grain dominance prefilter must broadcast-join BELOW the
    # single-partition sweep window, so the global sort sees candidates
    # only.
    plan = _plan(spark, registry, "workload_skyline_pareto_front")
    assert "BroadcastHashJoin" in plan
    w = plan.index("Window")
    assert "BroadcastHashJoin" in plan[w:] or plan.index("BroadcastHashJoin") > 0


def test_sprt_single_walk_window(spark, registry):
    # rn and the running LLR share one per-arm window sort.
    plan = _plan(spark, registry, "workload_sprt")
    assert plan.count("Window") == 1
    assert plan.count("Sort ") <= 1


def test_precision_recall_sweep_on_binned_counts(spark, registry):
    # The 9-threshold sweep must run on the ten pre-binned count rows —
    # the orders scan feeds exactly one aggregation, and the threshold
    # table joins in as a broadcast, never re-scanning the fact table.
    plan = _plan(spark, registry, "ml_precision_recall")
    # the binned counts are persisted: both consumers read the cache, so
    # at most one InMemoryRelation materialization scans the fact table
    assert "InMemoryTableScan" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_dsir_scalars_derive_from_cached_vocab(spark, registry):
    # DSIR = build vocab (scan 1) + score tokens (scan 2); the scalars
    # derive FROM the persisted vocab table (InMemoryTableScan), so the
    # third branch never re-reads the corpus, and the per-token
    # log-ratio model joins back as a broadcast.
    plan = _plan(spark, registry, "llm_dsir_importance")
    assert "InMemoryTableScan" in plan
    assert "BroadcastHashJoin" in plan


def test_semdedup_pair_join_is_cluster_local_hash_join(spark, registry):
    # The O(n^2) cosine search must be an equi-join on the cluster id
    # (cost follows cluster occupancy), never a cartesian product. (The
    # one BroadcastNestedLoopJoin in the tree is the deliberate K=16
    # broadcast centroid cross join inside the cached assignment.)
    plan = _plan(spark, registry, "llm_semdedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "InMemoryTableScan" in plan  # assignment computed once, read 3x


def test_twap_vwap_single_window_then_aggregate(spark, registry):
    # One per-(type, day) window sort feeds one hash aggregate on the
    # same key — lead() and the final group-by share the partitioning.
    plan = _plan(spark, registry, "workload_twap_vwap")
    assert plan.count("Window") == 1
    assert plan.count("Exchange hashpartitioning") <= 1


def test_pivot_multi_is_single_hash_aggregate(spark, registry):
    # Explicit pivot values -> no values-discovery job and hash
    # aggregates only (fixed-width row per lang; Spark plans pivot as
    # (lang, source) agg then pivot_first per lang — two exchanges on
    # tiny keyed data, never a sort-based fallback).
    plan = _plan(spark, registry, "reshape_pivot_multi")
    assert "SortAggregate" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_feature_snapshot_pushes_cutoff_to_scan(spark, registry):
    # Both time slices must reach the parquet scan as pushed predicates
    # so each side reads only its slice at scale.
    plan = _plan(spark, registry, "workload_feature_snapshot")
    assert "PushedFilters: [" in plan
    assert "ts" in plan.split("PushedFilters:")[1][:300]


def test_nested_parquet_pushdown_reaches_scan(spark, registry):
    # The struct-field predicates must appear as pushed filters on the
    # nested parquet scan, and schema pruning must drop the unused
    # order_info.odate leaf from ReadSchema.
    plan = _plan(spark, registry, "scan_parquet_nested_pushdown")
    scan = plan[plan.rindex("FileScan parquet"):]
    assert "PushedFilters: [" in scan
    pushed = scan.split("PushedFilters:")[1][:300]
    assert "status" in pushed or "price" in pushed
    assert "odate" not in scan.split("ReadSchema:")[1][:300]


def test_cuped_single_user_aggregate_feeds_both_branches(spark, registry):
    # The per-user pre/post table is persisted: the global power sums and
    # the per-arm rollup must both read the cache, not re-scan events.
    plan = _plan(spark, registry, "ml_ab_cuped")
    assert "InMemoryTableScan" in plan


def test_rebalance_hint_plans_rebalance_node(spark, registry):
    # The REBALANCE hint must survive into the optimized plan as an
    # AQE-rebalanced exchange (RebalancePartitions / REBALANCE_PARTITIONS
    # origin), not be silently dropped.
    df = registry["sql_hint_rebalance"].fn(spark, SF_SMOKE)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "RebalancePartitions" in optimized or "rebalance" in optimized.lower()


def test_merge_hint_forces_sort_merge_join(spark, registry):
    # The MERGE hint must override the broadcast-size heuristic: the
    # hinted dimensions join via SortMergeJoin even though they are far
    # below the autoBroadcast threshold.
    plan = _plan(spark, registry, "sql_hint_merge_join")
    assert "SortMergeJoin" in plan


def test_exists_correlated_decorrelates_to_semi_anti(spark, registry):
    plan = _plan(spark, registry, "join_exists_correlated")
    # Catalyst must rewrite both correlated subqueries into hash joins —
    # EXISTS under a CASE decorrelates to ExistenceJoin (the semi/anti
    # generalization that emits a boolean); a per-row subquery execution
    # would be a driver-side disaster at scale
    assert plan.count("ExistenceJoin") == 2
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the EXISTS arm's price predicate pushes to the orders scan
    assert "GreaterThan(o_totalprice,150000.0)" in plan


def test_limit_offset_is_global_limit_not_collect(spark, registry):
    plan = _plan(spark, registry, "sort_limit_offset")
    # offset+limit must run as a global-limit over the sort (executors cut
    # rows); TakeOrderedAndProject is the fused form Spark picks here, and
    # the offset must actually be in the plan (limit=150, offset=100), not
    # silently dropped
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan
    assert "offset=100" in plan


def test_stack_generator_is_shuffle_free(spark, registry):
    plan = _plan(spark, registry, "fn_stack")
    assert "Exchange" not in plan  # wide->long is a per-row generator


def test_knn_pair_table_windows_after_single_join(spark, registry):
    # the kNN edge source: one join (candidate stream) under one window;
    # downstream consumers must never see an n^2-row exchange again
    from datapipelines_python_spark.operators.knn import EXACT

    df = EXACT.pairs(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") >= 1
    assert "CartesianProduct" not in plan  # join carries the != predicate


def test_table_checksum_is_partial_aggregated_single_pass(spark, registry):
    plan = _plan(spark, registry, "workload_table_checksum")
    # map-side combine before the singleton exchange: the fingerprint must
    # reduce on executors, or the "compare two 100 TB tables with one
    # number" claim dies in a single-reducer sum
    assert "partial_" in plan
    assert "CartesianProduct" not in plan


def test_sequence_pattern_collects_once_per_user(spark, registry):
    plan = _plan(spark, registry, "workload_sequence_pattern")
    # one user-keyed aggregation (ObjectHashAggregate for collect_list) +
    # one final singleton agg - no window, which would carry O(k^2)
    # cumulative prefix strings through the shuffle
    assert "Window" not in plan
    assert plan.count("Exchange") <= 2


def test_mm_decode_is_shuffle_free_arrow_batch(spark, registry):
    for name in ("mm_decode_image_ppm", "mm_decode_audio_wav"):
        plan = _plan(spark, registry, name)
        # encode->Arrow->decode is a pure per-partition map
        assert "MapInPandas" in plan, name
        assert "Exchange" not in plan, name


def test_pca_covariance_pairs_are_map_side(spark, registry):
    # The d^2 outer products per vector are emitted by chained Generates
    # (never a self-join on vec_id): no sort-merge or shuffled-hash join
    # exists anywhere (the only joins are broadcasts of the 64-row mu/w
    # vectors). Round 7 adds ONE deliberate vec_id-hash repartition of
    # the n skinny input rows BELOW the Generates so the row-generating
    # stage runs on every core (the single-file fixture scan otherwise
    # serializes the whole n·d² fan-out — 115 s at sf1); vec_id may
    # appear in that Exchange but never as a join key.
    plan = _plan(spark, registry, "ml_pca_power")
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(vec_id" in plan  # the deliberate fan-out shuffle
    # the fan-out shuffle must sit BELOW the generators: every Generate
    # runs post-exchange, so no generated (n·d²-row) stream is shuffled
    # Per-branch structural check (ADVICE r7 #3 follow-through): the old
    # find()-offset compare only proved the exchange printed below the
    # TOPMOST Generate, and the suggested rfind() is wrong too — the plan
    # unrolls the power iteration into 15 embeddings-scan branches, each
    # with its own Generates and its own repartition, so global text
    # offsets don't map to tree order across branches. The invariant that
    # actually matters: every vec_id exchange's SUBTREE must be
    # Generate-free (the shuffle moves only skinny pre-fan-out scan rows,
    # never a fanned-out n·d or n·d² stream — not even sandwiched between
    # two chained Generates), and every scan branch must carry exactly one
    # such repartition.
    lines = plan.split("\n")

    def marker_pos(line: str) -> int:
        p = [line.find(m) for m in ("+- ", ":- ")]
        hits = [x for x in p if x != -1]
        return min(hits) if hits else -1

    n_exchanges = 0
    for i, line in enumerate(lines):
        if "Exchange hashpartitioning(vec_id" not in line:
            continue
        n_exchanges += 1
        indent = marker_pos(line)
        for below in lines[i + 1 :]:
            d = marker_pos(below)
            if d == -1:
                continue
            if d <= indent:
                break  # left this exchange's subtree
            assert "Generate" not in below, (
                "vec_id exchange shuffles a fanned-out stream:\n" + below
            )
    assert n_exchanges == plan.count("Scan parquet") >= 1, (
        "every embeddings-scan branch needs its own pre-Generate "
        f"repartition (got {n_exchanges} exchanges)"
    )
