"""session_scoped_cache lifetime semantics: weak-keyed on the session
(no id() reuse hazard), namespace isolation, and eviction when the
underlying context is stopped."""

from __future__ import annotations

import gc
import weakref

from ai_data_pipeline_spark.session import session_scoped_cache


class _FakeContext:
    def __init__(self):
        self._jsc = object()


class _FakeSession:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_cache_persists_for_live_session_and_isolates_namespaces():
    s = _FakeSession()
    session_scoped_cache(s, "ns")["k"] = 1
    assert session_scoped_cache(s, "ns")["k"] == 1
    assert "k" not in session_scoped_cache(s, "other")


def test_stopped_context_evicts_cache():
    s = _FakeSession()
    session_scoped_cache(s, "ns")["k"] = 1
    s.sparkContext._jsc = None  # what SparkContext.stop() does
    assert "k" not in session_scoped_cache(s, "ns")


def test_entries_die_with_the_session_object():
    s = _FakeSession()
    session_scoped_cache(s, "ns")["k"] = 1
    r = weakref.ref(s)
    del s
    gc.collect()
    assert r() is None  # no strong refs held by the cache registry


def test_two_sessions_do_not_share_entries():
    a, b = _FakeSession(), _FakeSession()
    session_scoped_cache(a, "ns")["k"] = "a"
    assert "k" not in session_scoped_cache(b, "ns")


def test_operators_leave_no_session_cache_entry(spark):
    """Shared intermediates are call-scoped localCheckpoints, never a
    .cache() that nothing unpersists: such an entry lives as long as
    the session in Spark's CacheManager and rewrites the plans of later
    queries that share its subtree (here the MinHash signature relation
    that dedup_lsh_recall also builds)."""
    from ai_data_pipeline_spark.operators.dedup import (
        dedup_lsh_recall,
        dedup_minhash_lsh,
    )
    from ai_data_pipeline_spark.operators.similarity import emb_kmeans_fixed_point
    from tests.conftest import SF_DIR

    spark.catalog.clearCache()  # start from an empty CacheManager
    dedup_minhash_lsh(spark, SF_DIR).collect()
    emb_kmeans_fixed_point(spark, SF_DIR).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    plan = dedup_lsh_recall(spark, SF_DIR)._jdf.queryExecution().executedPlan()
    assert "InMemoryTableScan" not in plan.toString()
