"""Distributed engine: Spark backend equivalence with the local reference
loop, partition-parallel mode, keyed-probe partition invariance, and
checkpoint/resume byte-identity (FIXTURES.md F6)."""

import numpy as np
import pandas as pd
import pytest

from powershap_spark import PowerShapSelector
from powershap_spark.synth import parity_matrix


def _as_spark(spark, X, y):
    pdf = X.copy()
    pdf["label"] = y
    pdf["row_id"] = np.arange(len(pdf), dtype=np.int64)
    return spark.createDataFrame(pdf)


def test_spark_fit_matches_pandas_fit(spark, clf_xy):
    """n_parts=1 + stable sort = the exact reference loop, so the Spark path
    must reproduce the pandas path bit-for-bit."""
    X, y = clf_xy
    local = PowerShapSelector(power_iterations=6).fit(X, y)

    sdf = _as_spark(spark, X, y)
    dist = PowerShapSelector(power_iterations=6, sort_cols=["row_id"]).fit(
        sdf, label_col="label", feature_cols=list(X.columns)
    )
    a = local._processed_shaps_df.sort_index()
    b = dist._processed_shaps_df.sort_index()
    assert list(a.index) == list(b.index)
    assert np.allclose(a.values, b.values, rtol=1e-6, equal_nan=True)
    assert local.selected_features_ == dist.selected_features_


def test_backend_caches_float32_matrix(spark, clf_xy):
    """matrix_dtype='float32' (the default) must reach the CACHED Spark
    projection — feature columns narrowed to float at the source so the
    cache, the part_id shuffle, and the Arrow transfer all halve — while
    float64 leaves the source types untouched; and both dtypes must agree
    on the selected set on well-separated data."""
    from powershap_spark.engine import SparkExplainBackend

    X, y = clf_xy
    sdf = _as_spark(spark, X, y)
    feats = list(X.columns)
    be32 = SparkExplainBackend(sdf, feats, "label", sort_cols=["row_id"])
    assert all(
        be32.df.schema[c].dataType.typeName() == "float" for c in feats
    )
    be64 = SparkExplainBackend(
        sdf, feats, "label", sort_cols=["row_id"], matrix_dtype="float64"
    )
    assert all(
        be64.df.schema[c].dataType.typeName() == "double" for c in feats
    )
    be32.release()
    be64.release()

    sel32 = PowerShapSelector(power_iterations=6, sort_cols=["row_id"]).fit(
        sdf, label_col="label", feature_cols=feats
    )
    sel64 = PowerShapSelector(
        power_iterations=6, sort_cols=["row_id"], matrix_dtype="float64"
    ).fit(sdf, label_col="label", feature_cols=feats)
    assert sel32.selected_features_ == sel64.selected_features_


def test_partition_parallel_selects_informative(spark, clf_xy):
    X, y = clf_xy
    sdf = _as_spark(spark, X, y)
    sel = PowerShapSelector(
        power_iterations=6, n_parts=3, part_by="row_id", sort_cols=["row_id"]
    ).fit(sdf, label_col="label", feature_cols=list(X.columns))
    assert {"informative_0", "informative_1"} <= set(sel.selected_features_)


def test_keyed_probe_partition_invariance(spark, clf_xy):
    """probe_mode='keyed' must give identical results at any input
    partitioning (order-independent RNG)."""
    X, y = clf_xy
    sdf1 = _as_spark(spark, X, y).repartition(2)
    sdf2 = _as_spark(spark, X, y).repartition(11)
    kw = dict(
        power_iterations=4, probe_mode="keyed", sort_cols=["row_id"]
    )
    s1 = PowerShapSelector(**kw).fit(sdf1, label_col="label", feature_cols=list(X.columns))
    s2 = PowerShapSelector(**kw).fit(sdf2, label_col="label", feature_cols=list(X.columns))
    a = s1._processed_shaps_df.sort_index()
    b = s2._processed_shaps_df.sort_index()
    assert np.allclose(a.values, b.values, equal_nan=True)


def test_spark_resume_identical(spark, clf_xy, tmp_path):
    X, y = clf_xy
    sdf = _as_spark(spark, X, y)
    kw = dict(sort_cols=["row_id"])
    full = PowerShapSelector(power_iterations=6, **kw).fit(
        sdf, label_col="label", feature_cols=list(X.columns)
    )
    # interrupted run: 3 its, then a corrupt partial for iteration 3
    PowerShapSelector(
        power_iterations=3, checkpoint_dir=str(tmp_path), run_id="r", **kw
    ).fit(sdf, label_col="label", feature_cols=list(X.columns))
    (tmp_path / "r" / "iter=main.3.parquet").write_bytes(b"partial garbage")
    resumed = PowerShapSelector(
        power_iterations=6, checkpoint_dir=str(tmp_path), run_id="r", **kw
    ).fit(sdf, label_col="label", feature_cols=list(X.columns))
    assert np.allclose(
        full._processed_shaps_df.sort_index().values,
        resumed._processed_shaps_df.sort_index().values,
        equal_nan=True,
    )
    # lineage columns present in the checkpoint
    cp = pd.read_parquet(tmp_path / "r" / "iter=main.0.parquet")
    for col in ["iteration", "part_id", "feature", "mean_abs_shap", "n_val_rows", "n_rows", "wall_ms", "seed_start"]:
        assert col in cp.columns
    assert (tmp_path / "r" / "metrics.jsonl").exists()


def test_automatic_mode_spark(spark, clf_xy):
    X, y = clf_xy
    sdf = _as_spark(spark, X, y)
    sel = PowerShapSelector(automatic=True, sort_cols=["row_id"]).fit(
        sdf, label_col="label", feature_cols=list(X.columns)
    )
    assert {"informative_0", "informative_1"} <= set(sel.selected_features_)


def test_transform_spark_dataframe(spark, clf_xy):
    X, y = clf_xy
    sdf = _as_spark(spark, X, y)
    sel = PowerShapSelector(power_iterations=4, sort_cols=["row_id"]).fit(
        sdf, label_col="label", feature_cols=list(X.columns)
    )
    out = sel.transform(sdf)
    assert set(out.columns) == set(sel.selected_features_)


def test_keyed_and_positional_modes_select_same_features(spark):
    """The bench runs probe_mode='keyed' (order-independent counter RNG)
    while the oracle-checked selection uses positional parity probes. The
    two probe STREAMS differ, but on the flagship transcript fixture they
    must select the same feature set — otherwise the benched configuration
    isn't evidencing the oracle-checked one (VERDICT r2 'Next round' #7)."""
    from powershap_spark import synth
    from powershap_spark.pipeline import select_features

    t = synth.transcripts(spark, n_conv=120, mean_turns=15)
    p = synth.probes(spark, t, probe_frac=0.3, task="classification")
    kw = dict(power_iterations=8, n_parts=2, part_by="conv_id", skew_safe=False)
    sel_pos, _ = select_features(t, p, probe_mode="positional", **kw)
    sel_key, _ = select_features(t, p, probe_mode="keyed", **kw)
    assert set(sel_pos.selected_features_) == set(sel_key.selected_features_)
    assert len(sel_pos.selected_features_) > 0


def test_spark_resume_identical_with_cv(spark, clf_xy, tmp_path):
    """Checkpoint resume WITH a cv splitter: the selector-global split
    stream positions must replay identically across the restart (the resume
    path previously only covered the default train_test_split cascade)."""
    from powershap_spark.splitters import KFold

    X, y = clf_xy
    sdf = _as_spark(spark, X, y)
    kw = dict(sort_cols=["row_id"])
    full = PowerShapSelector(power_iterations=6, cv=KFold(3), **kw).fit(
        sdf, label_col="label", feature_cols=list(X.columns)
    )
    PowerShapSelector(
        power_iterations=3, cv=KFold(3), checkpoint_dir=str(tmp_path),
        run_id="rcv", **kw
    ).fit(sdf, label_col="label", feature_cols=list(X.columns))
    resumed = PowerShapSelector(
        power_iterations=6, cv=KFold(3), checkpoint_dir=str(tmp_path),
        run_id="rcv", **kw
    ).fit(sdf, label_col="label", feature_cols=list(X.columns))
    a = full._processed_shaps_df.sort_index()
    b = resumed._processed_shaps_df.sort_index()
    assert list(a.index) == list(b.index)
    assert (a.values == b.values).all()  # byte-identity, not allclose


def test_cv_block_failure_raises_actionable_error(spark, clf_xy):
    """A group-requiring cv whose requirements a partition block cannot meet
    must surface an actionable error naming n_parts/part_by, not a bare
    executor traceback."""
    from powershap_spark.splitters import GroupKFold

    X, y = clf_xy
    pdf = pd.concat([X] * 10, ignore_index=True)
    pdf["label"] = np.tile(np.asarray(y), 10)
    pdf["row_id"] = np.arange(len(pdf), dtype=np.int64)
    pdf["grp"] = np.arange(len(pdf)) % 4  # only 4 groups anywhere
    sdf = spark.createDataFrame(pdf)
    sel = PowerShapSelector(
        power_iterations=2, cv=GroupKFold(5), n_parts=2, part_by="row_id",
        min_rows_per_part=100, sort_cols=["row_id"],
    )
    with pytest.raises(Exception, match="reduce n_parts|part_by"):
        sel.fit(sdf, label_col="label", feature_cols=list(X.columns), group_col="grp")


def test_single_class_block_warns_driver_side(spark, clf_xy):
    """A single-class y yields zero-coefficient (no-signal) fits whose
    executor-side warning never reaches the driver; the engine must surface
    the all-zero-partial blocks as a DRIVER-side warning (ADVICE r3)."""
    X, _ = clf_xy
    y_const = np.zeros(len(X), dtype=np.int64)
    sdf = _as_spark(spark, X, y_const)
    sel = PowerShapSelector(power_iterations=2, sort_cols=["row_id"])
    with pytest.warns(UserWarning, match="all-zero"):
        sel.fit(sdf, label_col="label", feature_cols=list(X.columns))
    assert sel.selected_features_ == []


def test_gb_stumps_model_on_spark_path(spark):
    """The stumps model (custom fit_get_shap kernel) must serialize into
    the applyInPandas closure and select the non-monotone feature that
    the default linear kernel cannot see."""
    from powershap_spark.kernel import GradientBoostedStumpsModel

    rng = np.random.RandomState(5)
    n = 1500
    pdf = pd.DataFrame(
        {
            "sym": rng.randn(n),
            "noise_a": rng.randn(n),
            "noise_b": rng.randn(n),
        }
    )
    pdf["label"] = (np.abs(pdf["sym"]) > 1.0).astype(np.int64)
    pdf["row_id"] = np.arange(n, dtype=np.int64)
    sdf = spark.createDataFrame(pdf)
    sel = PowerShapSelector(
        power_iterations=6,
        model=GradientBoostedStumpsModel(n_stumps=30),
        n_parts=2,
        part_by="row_id",
        sort_cols=["row_id"],
    ).fit(sdf, label_col="label", feature_cols=["sym", "noise_a", "noise_b"])
    assert "sym" in sel.selected_features_
    imp = sel._processed_shaps_df.impact.abs()
    assert imp["sym"] > 10 * max(imp["noise_a"], imp["noise_b"])


def test_checkpoint_metrics_rows_per_iteration(spark, clf_xy, tmp_path):
    """metrics.jsonl's rows_per_iteration is the input row count: each
    (iteration, part_id) block counts once, not once per feature row."""
    import json

    from powershap_spark.engine import CheckpointStore, SparkExplainBackend

    X, y = clf_xy
    sdf = _as_spark(spark, X, y)
    be = SparkExplainBackend(
        sdf, list(X.columns), "label", n_parts=2, sort_cols=["row_id"],
        min_rows_per_part=50, store=CheckpointStore(str(tmp_path), "m"),
    )
    assert be.n_parts == 2
    try:
        be.explain(2, 0)
    finally:
        be.release()
    with open(tmp_path / "m" / "metrics.jsonl") as f:
        (rec,) = [json.loads(line) for line in f]
    assert rec["rows_per_iteration"] == len(X)
