"""Vendored cross-validator semantics + the reference's cv contract.

Mirrors /root/reference/tests/test_powershap.py:177-250 (KFold, GroupKFold,
StratifiedGroupKFold, GroupShuffleSplit — always with power_iterations >
n_splits so the infinite re-seeding wrapper's restart path is exercised),
plus sklearn-exactness pins for the split machinery itself.
"""

import numpy as np
import pandas as pd
import pytest

from powershap_spark import synth
from powershap_spark.compat import PowerShap
from powershap_spark.engine import PowerShapSelector
from powershap_spark.kernel import train_test_split_indices
from powershap_spark.splitters import (
    GroupKFold,
    GroupShuffleSplit,
    InfiniteSplitter,
    KFold,
    ShuffleSplit,
    StratifiedGroupKFold,
    StratifiedKFold,
    StratifiedShuffleSplit,
    approximate_mode,
)


@pytest.fixture(scope="module")
def clf_xy():
    return synth.parity_matrix(300, 8, task="classification")


# ---------------------------------------------------------------------------
# sklearn-exactness: hand-derivable pins
# ---------------------------------------------------------------------------


def test_shuffle_split_is_sklearn_exact():
    """ShuffleSplit == one RandomState(seed).permutation(n): test = first
    ceil(test_size*n), train = the rest — independently recomputed here."""
    n, seed, ts = 10, 0, 0.2
    tr, te = next(ShuffleSplit(n_splits=1, test_size=ts, random_state=seed).split(np.zeros((n, 1))))
    perm = np.random.RandomState(seed).permutation(n)
    n_test = int(np.ceil(ts * n))
    assert te.tolist() == perm[:n_test].tolist()
    assert tr.tolist() == perm[n_test:].tolist()


def test_shuffle_split_multiple_splits_share_rng_stream():
    s = ShuffleSplit(n_splits=3, test_size=0.3, random_state=7)
    splits = [te.tolist() for _, te in s.split(np.zeros((20, 1)))]
    rng = np.random.RandomState(7)
    expected = [rng.permutation(20)[:6].tolist() for _ in range(3)]
    assert splits == expected


def test_approximate_mode_largest_remainder():
    rng = np.random.RandomState(0)
    # 8 draws over counts [7, 3]: floor([5.6, 2.4]) = [5, 2], the one
    # remaining draw goes to the larger remainder (class 0)
    assert approximate_mode(np.array([7, 3]), 8, rng).tolist() == [6, 2]
    # exact proportions: no tie-break draw consumed
    assert approximate_mode(np.array([1, 1]), 2, rng).tolist() == [1, 1]


def test_stratified_shuffle_split_pins_and_invariants():
    y = np.array([0] * 7 + [1] * 3)
    tr, te = next(
        StratifiedShuffleSplit(n_splits=1, test_size=0.2, random_state=0).split(
            np.zeros((10, 1)), y
        )
    )
    # regression pin (sklearn 1.x RNG call order: n_i draw, t_i draw,
    # then per-class permutations)
    assert sorted(te.tolist()) == [4, 8]
    assert sorted(tr.tolist()) == [0, 1, 2, 3, 5, 6, 7, 9]
    # invariants over many seeds: partition, and test has 1 of class 1 + 1
    # of class 0 (approximate-mode allocation of 2 draws over [7,3] counts)
    for seed in range(20):
        tr, te = next(
            StratifiedShuffleSplit(n_splits=1, test_size=0.2, random_state=seed).split(
                np.zeros((10, 1)), y
            )
        )
        assert sorted(np.concatenate([tr, te]).tolist()) == list(range(10))
        assert len(te) == 2 and len(set(y[te])) == 2


def test_group_shuffle_split_keeps_groups_whole():
    g = np.array([0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5])
    tr, te = next(
        GroupShuffleSplit(n_splits=1, test_size=0.25, random_state=1).split(
            np.zeros((12, 1)), groups=g
        )
    )
    assert sorted(te.tolist()) == [2, 3, 4, 5]  # regression pin
    assert set(g[tr]) & set(g[te]) == set()
    # group selection == ShuffleSplit over the 6 unique groups
    gtr, gte = next(ShuffleSplit(n_splits=1, test_size=0.25, random_state=1).split(np.zeros((6, 1))))
    assert set(g[te]) == set(gte.tolist())


def test_kfold_exact_fold_layout():
    ks = list(KFold(3).split(np.zeros((10, 1))))
    assert [te.tolist() for _, te in ks] == [[0, 1, 2, 3], [4, 5, 6], [7, 8, 9]]
    for tr, te in ks:
        assert sorted(np.concatenate([tr, te]).tolist()) == list(range(10))
    # shuffle=True permutes assignment but keeps fold sizes
    ks2 = list(KFold(3, shuffle=True, random_state=0).split(np.zeros((10, 1))))
    assert [len(te) for _, te in ks2] == [4, 3, 3]
    perm = np.random.RandomState(0).permutation(10)
    assert ks2[0][1].tolist() == sorted(perm[:4].tolist())


def test_stratified_kfold_interleaved_allocation():
    y = np.array([0, 0, 0, 0, 1, 1, 1, 1])
    folds = list(StratifiedKFold(2).split(np.zeros((8, 1)), y))
    for tr, te in folds:
        assert (y[te] == 0).sum() == 2 and (y[te] == 1).sum() == 2


def test_group_kfold_balanced_greedy():
    # groups sized 4, 3, 2, 1 over 3 folds -> fold loads 4, 3, 3
    g = np.array([0, 0, 0, 0, 1, 1, 1, 2, 2, 3])
    folds = list(GroupKFold(3).split(np.zeros((10, 1)), groups=g))
    sizes = sorted(len(te) for _, te in folds)
    assert sizes == [3, 3, 4]
    for tr, te in folds:
        assert set(g[tr]) & set(g[te]) == set()


def test_stratified_group_kfold_properties():
    y = np.array([0, 1] * 6)
    g = np.array([0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5])
    tr, te = next(
        StratifiedGroupKFold(n_splits=3, shuffle=True, random_state=7).split(
            np.zeros((12, 1)), y, groups=g
        )
    )
    # regression pin — with identical per-group counts rows the in-place
    # counts shuffle is a values-no-op, so this equals real sklearn's output
    assert sorted(te.tolist()) == [0, 1, 6, 7]
    assert set(g[tr]) & set(g[te]) == set()
    # folds are a partition and each keeps both classes
    all_te = []
    for tr, te in StratifiedGroupKFold(n_splits=3, shuffle=True, random_state=7).split(
        np.zeros((12, 1)), y, groups=g
    ):
        assert len(set(y[te])) == 2
        all_te.extend(te.tolist())
    assert sorted(all_te) == list(range(12))


def test_train_test_split_indices_plain_is_shuffle_split_exact():
    tr, va = train_test_split_indices(10, 0.2, seed=0)
    perm = np.random.RandomState(0).permutation(10)
    assert sorted(va.tolist()) == sorted(perm[:2].tolist())
    assert va.tolist() == sorted(va.tolist())  # sorted ascending


def test_train_test_split_indices_stratified_exact_allocation():
    y = np.array([0] * 7 + [1] * 3)
    tr, va = train_test_split_indices(10, 0.2, seed=0, stratify=y)
    assert sorted(va.tolist()) == [4, 8]  # the StratifiedShuffleSplit pin


def test_train_test_split_indices_stratify_and_groups_uses_sgkf():
    y = np.array([0, 1] * 6)
    g = np.array([0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5])
    tr, va = train_test_split_indices(12, 0.34, seed=7, stratify=y, groups=g)
    # int(1/0.34) == 2 folds; first SGKF(shuffle=True, random_state=7) split
    ref_tr, ref_va = next(
        StratifiedGroupKFold(n_splits=2, shuffle=True, random_state=7).split(
            np.zeros((12, 1)), y, groups=g
        )
    )
    assert va.tolist() == sorted(ref_va.tolist())
    assert set(g[tr]) & set(g[va]) == set()


# ---------------------------------------------------------------------------
# the infinite re-seeding wrapper (reference powershap.py:144-176)
# ---------------------------------------------------------------------------


def test_infinite_splitter_reseeds_on_exhaustion():
    inf = InfiniteSplitter(ShuffleSplit(n_splits=2, test_size=0.3, random_state=None))
    gen = inf.split(np.zeros((10, 1)))
    first_cycle = [sorted(next(gen)[1].tolist()) for _ in range(2)]
    second_cycle = [sorted(next(gen)[1].tolist()) for _ in range(2)]
    # cycle 0 ran with random_state=0, cycle 1 with random_state=1
    exp0 = [sorted(te.tolist()) for _, te in ShuffleSplit(2, test_size=0.3, random_state=0).split(np.zeros((10, 1)))]
    exp1 = [sorted(te.tolist()) for _, te in ShuffleSplit(2, test_size=0.3, random_state=1).split(np.zeros((10, 1)))]
    assert first_cycle == exp0
    assert second_cycle == exp1


def test_infinite_splitter_no_random_state_repeats():
    class FixedCV:  # no random_state attribute -> same splits every cycle
        def get_n_splits(self):
            return 2

        def split(self, X, y=None, groups=None):
            yield np.array([0, 1]), np.array([2, 3])
            yield np.array([2, 3]), np.array([0, 1])

    gen = InfiniteSplitter(FixedCV()).split(None)
    seq = [next(gen)[1].tolist() for _ in range(5)]
    assert seq == [[2, 3], [0, 1], [2, 3], [0, 1], [2, 3]]


def test_infinite_splitter_at_position_matches_stream():
    inf = InfiniteSplitter(KFold(3))
    gen = inf.split(np.zeros((9, 1)))
    stream = [next(gen)[1].tolist() for _ in range(7)]
    for pos in (0, 3, 5, 6):
        gen2 = InfiniteSplitter(KFold(3)).at_position(pos, np.zeros((9, 1)))
        assert next(gen2)[1].tolist() == stream[pos]


# ---------------------------------------------------------------------------
# cv end-to-end through the engine (reference tests/test_powershap.py:177-250)
# ---------------------------------------------------------------------------


def test_powershap_cv_kfold(clf_xy):
    X, y = clf_xy
    selector = PowerShap(power_iterations=5, automatic=False, cv=KFold(3))
    assert selector.cv is not None
    selector.fit(X, y)
    assert {"informative_0", "informative_1"} <= set(selector.selected_features_)


def test_powershap_cv_groupkfold(clf_xy):
    X, y = clf_xy
    selector = PowerShap(power_iterations=5, automatic=False, cv=GroupKFold(3))
    assert selector.cv is not None
    selector.fit(X, y, groups=np.random.RandomState(0).randint(0, 3, size=len(X)))
    assert len(selector._p_values) == X.shape[1]


def test_powershap_cv_stratifiedgroupkfold(clf_xy):
    X, y = clf_xy
    selector = PowerShap(
        power_iterations=5, automatic=False, cv=StratifiedGroupKFold(3)
    )
    assert selector.cv is not None
    selector.fit(X, y, groups=np.random.RandomState(1).randint(0, 3, size=len(X)))


def test_powershap_cv_groupshufflesplit(clf_xy):
    X, y = clf_xy
    selector = PowerShap(power_iterations=5, automatic=False, cv=GroupShuffleSplit(3))
    assert selector.cv is not None
    selector.fit(X, y, groups=np.random.RandomState(2).randint(0, 3, size=len(X)))


def test_powershap_no_cv_default(clf_xy):
    X, y = clf_xy
    selector = PowerShap(power_iterations=3, automatic=False)
    assert selector.cv is None
    selector.fit(X, y)


def test_cv_spark_backend_matches_pandas(spark, clf_xy):
    """The Spark backend's position-reconstructed cv stream must reproduce
    the driver-side sequential stream bit-for-bit (n_parts=1: same block)."""
    X, y = clf_xy
    # align row order on both sides: the probe stream and cv splits are
    # positional over the block
    order = X.sort_values(list(X.columns)).index
    Xs, ys = X.loc[order].reset_index(drop=True), np.asarray(y)[order]
    sel_pd = PowerShapSelector(power_iterations=7, automatic=False, cv=KFold(3)).fit(Xs, ys)
    sdf = spark.createDataFrame(X.assign(label=y))
    sel_sp = PowerShapSelector(
        power_iterations=7, automatic=False, cv=KFold(3), n_parts=1,
        sort_cols=None,
    )
    # stable block order: sort by all feature columns (values are unique
    # floats, so this reproduces the pandas row order)
    sel_sp.sort_cols = list(X.columns)
    sel_sp.fit(sdf, label_col="label", feature_cols=list(X.columns))
    a = sel_pd._processed_shaps_df.sort_index()
    b = sel_sp._processed_shaps_df.sort_index()
    pd.testing.assert_frame_equal(a, b, rtol=1e-5, atol=1e-7)


def test_cv_selector_reusable_across_backends(spark, clf_xy):
    """The selector's InfiniteSplitter stays pristine (no live generator):
    a pandas fit followed by a Spark fit on the SAME selector must work
    (the Spark backend pickles the cv into executor tasks), and the stream
    position continues across fits like the reference's closure state."""
    X, y = clf_xy
    sel = PowerShapSelector(power_iterations=3, automatic=False, cv=KFold(3))
    sel.fit(X, y)
    assert sel._cv_consumed == 3
    sel.fit(X, y)
    assert sel._cv_consumed == 6
    sdf = spark.createDataFrame(X.assign(label=y))
    sel.fit(sdf, label_col="label", feature_cols=list(X.columns))  # must pickle
    assert sel._cv_consumed == 9


def test_cv_pandas_failed_batch_consumes_no_splits(clf_xy):
    """Consume-on-use on the pandas path, as on the Spark path: a batch that
    fails mid-way leaves the selector-global cv stream where it was, so a
    retry replays the same splits."""
    X, y = clf_xy

    class FailsOnSecondFit:
        calls = 0

        def fit_get_shap(self, X_train, Y_train, X_val, Y_val, random_seed, **kw):
            self.calls += 1
            if self.calls == 2:
                raise RuntimeError("second fit fails")
            return np.zeros_like(X_val)

    sel = PowerShapSelector(power_iterations=5, cv=KFold(3), model=FailsOnSecondFit())
    with pytest.raises(RuntimeError, match="second fit fails"):
        sel.fit(X, y)
    assert sel._cv_consumed == 0


def test_stratified_group_kfold_shuffle_decouples_counts_from_identity():
    """sklearn's StratifiedGroupKFold(shuffle=True) shuffles the per-group
    counts-matrix rows IN PLACE without tracking the permutation: the greedy
    assignment operates on shuffled counts rows while the emitted test
    indices match the ORIGINAL group encoding. With distinct counts rows the
    fold a group lands in therefore depends on which counts row its index
    drew — pinned here so a regression back to identity-attached shuffling
    (the pre-r3 bug) fails."""
    y = np.array([0, 0, 0, 1, 0, 1, 1, 1, 0, 0, 1, 1, 0, 1])
    g = np.array([0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3])
    tes = [
        sorted(te.tolist())
        for _, te in StratifiedGroupKFold(
            n_splits=2, shuffle=True, random_state=3
        ).split(np.zeros((14, 1)), y, groups=g)
    ]
    assert tes == [[0, 1, 2, 3, 4, 5, 6, 7], [8, 9, 10, 11, 12, 13]]
    # groups never straddle folds regardless of the decoupling
    for te in tes:
        assert set(g[te]) in ({0, 1}, {2, 3})


def test_at_position_cycle_jump_matches_sequential_stream():
    """at_position jumps to cycle position//n_splits by setting the re-seed
    counter directly; every vendored splitter must agree with the walked
    stream across cycle boundaries (incl. deep positions)."""
    y = np.array([0, 1] * 6)
    g = np.array([0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5])
    cases = [
        (ShuffleSplit(n_splits=2, test_size=0.3), dict()),
        (KFold(3, shuffle=True), dict()),
        (StratifiedKFold(3, shuffle=True), dict(y=y)),
        (GroupShuffleSplit(n_splits=2, test_size=0.34), dict(groups=g)),
        (StratifiedGroupKFold(2, shuffle=True), dict(y=y, groups=g)),
    ]
    X = np.zeros((12, 1))
    for cv, kw in cases:
        inf = InfiniteSplitter(cv)
        gen = inf.split(X, **kw)
        stream = [sorted(next(gen)[1].tolist()) for _ in range(9)]
        for pos in (0, 1, 2, 3, 5, 7, 8):
            jumped = InfiniteSplitter(cv).at_position(pos, X, **kw)
            assert sorted(next(jumped)[1].tolist()) == stream[pos], (
                type(cv).__name__,
                pos,
            )
