"""Selection-behavior tests mirroring the reference suite
(tests/test_powershap.py in /root/reference): selected set contains the
informative features, API contracts, immutability, automatic mode."""

import hashlib

import numpy as np
import pandas as pd
import pytest

from powershap_spark import PowerShapSelector


def _sha(df: pd.DataFrame) -> str:
    return hashlib.sha1(pd.util.hash_pandas_object(df).values.tobytes()).hexdigest()


def test_classification_selects_informative(clf_xy):
    X, y = clf_xy
    sel = PowerShapSelector(power_iterations=10).fit(X, y)
    selected = set(sel.selected_features_)
    assert {"informative_0", "informative_1"} <= selected
    # strong linear signal on linear model: exact set (reference
    # test_catboost_powershap.py:24-25 analogue)
    assert selected == {"informative_0", "informative_1"}


def test_regression_selects_informative(regr_xy):
    X, y = regr_xy
    sel = PowerShapSelector(power_iterations=10).fit(X, y)
    assert {"informative_0", "informative_1"} <= set(sel.selected_features_)


def test_automatic_mode(clf_xy):
    X, y = clf_xy
    sel = PowerShapSelector(automatic=True).fit(X, y)
    assert {"informative_0", "informative_1"} <= set(sel.selected_features_)
    assert sel._processed_shaps_df.shape[1] == 5


def test_transform_dataframe_roundtrip(clf_xy):
    X, y = clf_xy
    sel = PowerShapSelector(power_iterations=5).fit(X, y)
    out = sel.transform(X)
    assert isinstance(out, pd.DataFrame)
    assert list(out.columns) == sel.selected_features_


def test_transform_ndarray_roundtrip(clf_xy):
    X, y = clf_xy
    Xa = X.to_numpy()
    sel = PowerShapSelector(power_iterations=5).fit(Xa, y)
    out = sel.transform(Xa)
    assert isinstance(out, np.ndarray)
    assert out.shape == (len(Xa), len(sel.selected_features_))


def test_transform_asserts_column_order(clf_xy):
    X, y = clf_xy
    sel = PowerShapSelector(power_iterations=5).fit(X, y)
    with pytest.raises(AssertionError):
        sel.transform(X[list(reversed(X.columns))])


def test_input_not_mutated(clf_xy):
    # reference tests/test_powershap.py:253-296
    X, y = clf_xy
    before = _sha(X)
    PowerShapSelector(power_iterations=5).fit(X, y)
    assert _sha(X) == before


def test_stratify_flag(clf_xy):
    X, y = clf_xy
    sel = PowerShapSelector(power_iterations=5, stratify=True).fit(X, y)
    assert {"informative_0", "informative_1"} <= set(sel.selected_features_)


def test_groups_split(clf_xy):
    X, y = clf_xy
    groups = np.arange(len(X)) % 25
    sel = PowerShapSelector(power_iterations=5).fit(X, y, groups=groups)
    assert {"informative_0", "informative_1"} <= set(sel.selected_features_)


def test_include_all_populates_stats(clf_xy):
    X, y = clf_xy
    sel = PowerShapSelector(power_iterations=5, include_all=True).fit(X, y)
    df = sel._processed_shaps_df
    # every real feature gets stats (the random probe's own effect size is 0
    # by definition: its mean IS the reference mean)
    assert (df.loc[df.index != "random_uniform_feature", "effect_size"] != 0).all()
    assert (df.loc[df.index != "random_uniform_feature", "power_0.01_alpha"] != 0).all()


def test_convergence_mode_runs(clf_xy):
    X, y = clf_xy
    sel = PowerShapSelector(
        automatic=True, force_convergence=True, limit_convergence_its=1
    ).fit(X, y)
    assert {"informative_0", "informative_1"} <= set(sel.selected_features_)


def test_processed_shaps_df_has_random_row(clf_xy):
    X, y = clf_xy
    sel = PowerShapSelector(power_iterations=5).fit(X, y)
    assert "random_uniform_feature" in sel._processed_shaps_df.index
    # p_values exclude it and are in original column order
    assert len(sel._p_values) == X.shape[1]


def test_multiclass_selects_informative():
    """End-to-end selection on a 3-class label (vendored OvR kernel +
    max-over-outputs reduction): informative features selected, noise not."""
    r = np.random.RandomState(11)
    n = 1200
    X = pd.DataFrame(
        {
            "informative_0": r.randn(n),
            "informative_1": r.randn(n),
            "noise_0": r.randn(n),
            "noise_1": r.randn(n),
        }
    )
    scores = np.column_stack(
        [
            X["informative_0"],
            X["informative_1"],
            -(X["informative_0"] + X["informative_1"]),
        ]
    )
    y = np.argmax(scores + 0.1 * r.randn(n, 3), axis=1).astype(np.int64)
    sel = PowerShapSelector(power_iterations=10).fit(X, y)
    assert set(sel.selected_features_) == {"informative_0", "informative_1"}


def test_five_class_warns_like_reference():
    r = np.random.RandomState(12)
    X = pd.DataFrame(r.randn(600, 3), columns=["a", "b", "c"])
    y = np.digitize(X["a"], [-1.0, -0.3, 0.3, 1.0]).astype(np.int64)
    assert len(np.unique(y)) == 5
    with pytest.warns(UserWarning, match=">= 5 integers"):
        sel = PowerShapSelector(power_iterations=5).fit(X, y)
    assert "a" in sel.selected_features_


@pytest.mark.parametrize("n_splits", [None, 3])
def test_pandas_checkpoint_resume_identical(clf_xy, tmp_path, n_splits):
    """A pandas fit resumed from a 3-iteration checkpoint (with a markerless
    garbage parquet where iteration 3 would go) equals an uncheckpointed
    6-iteration fit, with and without cv, and logs its batches to
    metrics.jsonl like the Spark path."""
    import os

    from powershap_spark import CheckpointStore, KFold

    X, y = clf_xy

    def sel(n, **kw):
        return PowerShapSelector(
            power_iterations=n, cv=KFold(n_splits) if n_splits else None, **kw
        )

    ref = sel(6).fit(X, y)
    ck = str(tmp_path)
    sel(3, checkpoint_dir=ck, run_id="r").fit(X, y)
    with open(os.path.join(ck, "r", "iter=main.3.parquet"), "w") as f:
        f.write("garbage")
    res = sel(6, checkpoint_dir=ck, run_id="r").fit(X, y)
    assert res._processed_shaps_df.equals(ref._processed_shaps_df)
    assert res.selected_features_ == ref.selected_features_
    assert res._cv_consumed == ref._cv_consumed

    assert os.path.exists(os.path.join(ck, "r", "metrics.jsonl"))
    metrics = CheckpointStore(ck, "r").metrics()
    # the resumed fit re-ran only the iterations without a marker
    assert [m["batch_iterations"] for m in metrics] == [[0, 1, 2], [3, 4, 5]]
    assert all(m["rows_per_iteration"] == len(X) for m in metrics)


def test_checkpoint_store_rejects_uri_root(clf_xy, tmp_path, monkeypatch):
    """Checkpoint bookkeeping is driver-side os I/O: a URI root must raise
    instead of silently creating a local ./s3:/... directory."""
    from powershap_spark import CheckpointStore

    X, y = clf_xy
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="POSIX-visible"):
        CheckpointStore("s3://bucket/ckpt", "r")
    with pytest.raises(ValueError, match="POSIX-visible"):
        PowerShapSelector(power_iterations=2, checkpoint_dir="s3://bucket/ckpt").fit(X, y)
    assert list(tmp_path.iterdir()) == []
