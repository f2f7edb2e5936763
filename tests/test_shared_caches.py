"""Session-level shared caches behind the kNN-graph family
(SCALE.md §5): one O(n²) cosine-pair pass per (session, sf), reused by
every consumer, resilient to an external clearCache()."""

from __future__ import annotations

from pyspark.sql import functions as F

from datapipelines_python_spark.operators.workloads import (
    _COSINE_PAIRS_CACHE,
    _MUTUAL_5NN_CACHE,
    _cosine_pairs,
    _mutual_5nn,
)
from tests.conftest import SF_SMOKE


def test_cosine_pairs_cached_per_session_and_sf(spark):
    a = _cosine_pairs(spark, SF_SMOKE)
    b = _cosine_pairs(spark, SF_SMOKE)
    assert a is b  # same DataFrame object — one build
    # (session, sf, candidate mode): the build-shard count is derived
    # from the build size, so it is no longer part of the key
    key = (spark.sparkContext.applicationId, SF_SMOKE, "exact")
    assert key in _COSINE_PAIRS_CACHE


def test_mutual_edges_derive_and_cache(spark):
    m1 = _mutual_5nn(spark, SF_SMOKE)
    m2 = _mutual_5nn(spark, SF_SMOKE)
    assert m1 is m2
    # undirected u < v invariant
    assert m1.filter(F.col("u") >= F.col("v")).count() == 0


def test_cache_survives_clear_cache(spark):
    m = _mutual_5nn(spark, SF_SMOKE)
    n_before = m.count()
    spark.catalog.clearCache()  # drops persisted blocks
    m2 = _mutual_5nn(spark, SF_SMOKE)
    assert m2.storageLevel.useMemory  # re-pinned on next use
    assert m2.count() == n_before  # recomputes to identical edges


def test_consumers_share_one_pair_table(spark):
    from datapipelines_python_spark import get_registry

    _COSINE_PAIRS_CACHE.clear()
    _MUTUAL_5NN_CACHE.clear()
    reg = get_registry()
    reg["graph_modularity"].fn(spark, SF_SMOKE).collect()
    assert len(_COSINE_PAIRS_CACHE) == 1
    reg["ml_knn_classifier"].fn(spark, SF_SMOKE).collect()
    assert len(_COSINE_PAIRS_CACHE) == 1  # reused, not rebuilt
