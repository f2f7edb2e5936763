"""The one session cache behind the kNN family (``operators/knn.py``):
each shared table is built once per (session, sf, source, shape), reused
by every consumer, and resilient to an external clearCache()."""

from __future__ import annotations

from pyspark.sql import functions as F

from datapipelines_python_spark.operators.knn import _KNN_CACHE, EXACT
from tests.conftest import SF_SMOKE


def test_cosine_pairs_cached_per_session_and_sf(spark):
    a = EXACT.pairs(spark, SF_SMOKE)
    b = EXACT.pairs(spark, SF_SMOKE)
    assert a is b  # same DataFrame object — one build
    key = (spark.sparkContext.applicationId, SF_SMOKE, "exact", "pairs")
    assert _KNN_CACHE[key] is a


def test_mutual_edges_derive_and_cache(spark):
    m1 = EXACT.mutual(spark, SF_SMOKE)
    m2 = EXACT.mutual(spark, SF_SMOKE)
    assert m1 is m2
    # undirected u < v invariant
    assert m1.filter(F.col("u") >= F.col("v")).count() == 0


def test_cache_survives_clear_cache(spark):
    m = EXACT.mutual(spark, SF_SMOKE)
    n_before = m.count()
    spark.catalog.clearCache()  # drops persisted blocks
    m2 = EXACT.mutual(spark, SF_SMOKE)
    assert m2.storageLevel.useMemory  # re-pinned on next use
    assert m2.count() == n_before  # recomputes to identical edges


def test_consumers_share_one_pair_table(spark):
    from datapipelines_python_spark import get_registry

    _KNN_CACHE.clear()
    reg = get_registry()
    app = spark.sparkContext.applicationId
    exact = {(app, SF_SMOKE, "exact", "pairs"), (app, SF_SMOKE, "exact", "mutual")}
    reg["graph_modularity"].fn(spark, SF_SMOKE).collect()
    assert set(_KNN_CACHE) == exact
    reg["ml_knn_classifier"].fn(spark, SF_SMOKE).collect()
    assert set(_KNN_CACHE) == exact  # reused, not rebuilt
    reg["graph_modularity_ann"].fn(spark, SF_SMOKE).collect()
    reg["ml_knn_classifier_ann"].fn(spark, SF_SMOKE).collect()
    assert set(_KNN_CACHE) == exact | {(app, SF_SMOKE, "ann", "top5")}
