"""Scoped tracked-persist discipline (caching.py): operators register their
diamond persists; scopes bound release to the registering pipeline; the
minhash signature cache participates (VERDICT r2 "What's wrong" #1)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from powershap_spark.caching import release_tracked, tracked_persist, tracking_scope


_baseline = 0


@pytest.fixture(autouse=True)
def _clean(spark):
    global _baseline
    spark.catalog.clearCache()
    release_tracked()
    _baseline = spark.sparkContext._jsc.getPersistentRDDs().size()
    yield
    spark.catalog.clearCache()
    release_tracked()


def _n_persistent(spark) -> int:
    """Persistent RDDs added since the test began. The JVM count also holds
    RDDs that earlier test files left persisted outside the registry and
    the cache manager, so the asserts compare against the count that the
    ``_clean`` fixture recorded, not against zero."""
    return spark.sparkContext._jsc.getPersistentRDDs().size() - _baseline


def test_minhash_dedup_cache_is_released(spark):
    from powershap_spark.operators.dedup import minhash_dedup

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(40),
                "text": [f"alpha beta gamma delta {i % 7} epsilon zeta" for i in range(40)],
            }
        )
    )
    out = minhash_dedup(docs, "text", "doc_id", num_hashes=8, bands=4, threshold=0.9)
    assert out.count() > 0
    assert _n_persistent(spark) > 0, "signatures should be persisted during use"
    release_tracked()
    assert _n_persistent(spark) == 0, "release_tracked must drop the sig cache"


def test_tracking_scope_releases_only_its_own(spark):
    df_outer = tracked_persist(spark.range(100).withColumn("x", F.col("id") * 2))
    df_outer.count()
    with tracking_scope():
        df_inner = tracked_persist(spark.range(50))
        df_inner.count()
        assert _n_persistent(spark) == 2
    # scope exit released the inner persist only
    assert df_inner.storageLevel.useMemory is False
    assert df_outer.storageLevel.useMemory is True
    release_tracked()  # drains the global registry
    assert _n_persistent(spark) == 0


def test_nested_scopes(spark):
    with tracking_scope():
        a = tracked_persist(spark.range(10))
        a.count()
        with tracking_scope():
            b = tracked_persist(spark.range(20))
            b.count()
            assert _n_persistent(spark) == 2
        assert b.storageLevel.useMemory is False
        assert a.storageLevel.useMemory is True
    assert _n_persistent(spark) == 0


def test_select_features_uses_a_scope_not_the_globals(spark):
    """A persist registered globally by ANOTHER pipeline must survive a
    select_features run (the r2 bug: its finally drained everything)."""
    from powershap_spark import synth
    from powershap_spark.pipeline import select_features

    other = tracked_persist(spark.range(1000))
    other.count()
    t = synth.transcripts(spark, n_conv=20, mean_turns=8)
    p = synth.probes(spark, t, probe_frac=0.3)
    select_features(t, p, power_iterations=2, skew_safe=True, n_parts=1)
    assert other.storageLevel.useMemory is True, (
        "select_features released a persist it did not register"
    )
    release_tracked()


def test_token_drift_counts_cache_is_released(spark):
    from powershap_spark.operators.text import corpus_divergence

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(20),
                "text": [f"alpha beta {i % 5} gamma" for i in range(20)],
            }
        )
    )
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    out = corpus_divergence(old, new)
    assert out.count() == 1
    assert _n_persistent(spark) > 0, "counts diamond should be persisted"
    release_tracked()
    assert _n_persistent(spark) == 0, "release_tracked must drop the counts"
