"""Scoped tracked-persist discipline (caching.py): operators register their
diamond persists; scopes bound release to the registering pipeline; the
minhash signature cache participates (VERDICT r2 "What's wrong" #1)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from powershap_spark.caching import release_tracked, tracked_persist, tracking_scope


@pytest.fixture(autouse=True)
def _clean(spark):
    spark.catalog.clearCache()
    release_tracked()
    yield
    spark.catalog.clearCache()
    release_tracked()


def test_minhash_dedup_cache_is_released(spark, persistent_rdds):
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
    assert persistent_rdds() > 0, "signatures should be persisted during use"
    release_tracked()
    assert persistent_rdds() == 0, "release_tracked must drop the sig cache"


def test_tracking_scope_releases_only_its_own(spark, persistent_rdds):
    df_outer = tracked_persist(spark.range(100).withColumn("x", F.col("id") * 2))
    df_outer.count()
    with tracking_scope():
        df_inner = tracked_persist(spark.range(50))
        df_inner.count()
        assert persistent_rdds() == 2
    # scope exit released the inner persist only
    assert df_inner.storageLevel.useMemory is False
    assert df_outer.storageLevel.useMemory is True
    release_tracked()  # drains the global registry
    assert persistent_rdds() == 0


def test_nested_scopes(spark, persistent_rdds):
    with tracking_scope():
        a = tracked_persist(spark.range(10))
        a.count()
        with tracking_scope():
            b = tracked_persist(spark.range(20))
            b.count()
            assert persistent_rdds() == 2
        assert b.storageLevel.useMemory is False
        assert a.storageLevel.useMemory is True
    assert persistent_rdds() == 0


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


def test_token_drift_counts_cache_is_released(spark, persistent_rdds):
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
    assert persistent_rdds() > 0, "counts diamond should be persisted"
    release_tracked()
    assert persistent_rdds() == 0, "release_tracked must drop the counts"


def test_bpe_learn_releases_what_it_persisted(spark, persistent_rdds, monkeypatch):
    """bpe_learn returns a driver-side merge table, so it leaves nothing
    persisted or checkpointed behind: not on the distributed loop with a
    local checkpoint every pass, and not when a checkpoint fails."""
    from powershap_spark.operators import text
    from powershap_spark.operators.text import bpe_learn

    texts = [f"low lower lowest newer {'ab' * (i % 5 + 1)} wider" for i in range(30)]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    frame = type(docs)  # the session's concrete DataFrame class
    monkeypatch.setattr(text, "_BPE_CHECKPOINT_EVERY", 1)
    checkpoints = []
    local_checkpoint = frame.localCheckpoint

    def _count(self, *a, **k):
        checkpoints.append(self)
        return local_checkpoint(self, *a, **k)

    monkeypatch.setattr(frame, "localCheckpoint", _count)
    merges = bpe_learn(docs, n_merges=16, max_local_vocab=0)
    assert merges.count() == 16
    assert checkpoints, "the loop should have cut its lineage at least once"
    assert persistent_rdds() == 0

    def _fail(self, *a, **k):
        raise RuntimeError("checkpoint failed")

    monkeypatch.setattr(frame, "localCheckpoint", _fail)
    with pytest.raises(RuntimeError, match="checkpoint failed"):
        bpe_learn(docs, n_merges=16, max_local_vocab=0)
    assert persistent_rdds() == 0


def test_connected_components_releases_superseded_checkpoints(
    spark, persistent_rdds
):
    """Only the final round's local checkpoint, which the returned frame
    reads, outlives connected_components; none does when it fails to
    converge."""
    from powershap_spark.operators.dedup import connected_components

    # a 7-node path: hash-min labels move one hop per round, so 7 rounds
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError):
        connected_components(chain, max_iter=3)
    assert persistent_rdds() == 0
    comp = connected_components(chain)
    assert sorted(tuple(r) for r in comp.collect()) == [(i, 0) for i in range(7)]
    assert persistent_rdds() <= 1
