"""statistical_analysis parity with reference powershap/utils.py:13-88,
including the ddof=1 (pandas) / ddof=0 (numpy) pooled-std asymmetry and
tie-aware percentile p-values (FIXTURES.md F4)."""

import numpy as np
import pandas as pd
import pytest

from powershap_spark.functions.numerics import (
    percentileofscore_rank,
    solve_power_nobs,
    ttest_power_smaller,
)
from powershap_spark.stats import shaps_long_to_wide, statistical_analysis


def make_shaps_df(I=10, seed=5):
    r = np.random.RandomState(seed)
    return pd.DataFrame(
        {
            "informative": (r.uniform(0.8, 1.2, I)).astype("float32"),
            "noise": (r.uniform(0.0, 0.1, I)).astype("float32"),
            "random_uniform_feature": (r.uniform(0.0, 0.1, I)).astype("float32"),
        }
    )


def test_pvalues_tie_aware_and_all_columns():
    df = make_shaps_df()
    out = statistical_analysis(df, 0.01, 0.99)
    mean_rand = df["random_uniform_feature"].mean()
    for col in df.columns:
        expected = percentileofscore_rank(df[col].values.astype(np.float64), mean_rand) / 100
        assert out.loc[col, "p_value"] == pytest.approx(expected, abs=1e-12)
    # the random column's own p-value is ~0.5 by construction
    assert 0.2 <= out.loc["random_uniform_feature", "p_value"] <= 0.8


def test_exact_tie_pvalue():
    # constant column tying the score everywhere: scipy rank semantics give
    # the mean rank of the ties, (0 + 8 + 1) * 0.5 / 8 = 0.5625 (NOT 0.5 —
    # the +1 tie correction, ADVICE r3)
    df = pd.DataFrame(
        {
            "feat": np.full(8, 0.5, dtype="float32"),
            "random_uniform_feature": np.full(8, 0.5, dtype="float32"),
        }
    )
    out = statistical_analysis(df, 0.01, 0.99)
    assert out.loc["feat", "p_value"] == 0.5625


def test_ddof_asymmetry_effect_size():
    df = make_shaps_df()
    out = statistical_analysis(df, 0.01, 0.99, include_all=True)
    mean_rand = df["random_uniform_feature"].mean()
    for col in df.columns:
        pooled = np.sqrt(
            (df[col].std() ** 2 + df["random_uniform_feature"].values.std() ** 2) / 2
        )
        expected = (mean_rand - df[col].mean()) / pooled
        assert out.loc[col, "effect_size"] == pytest.approx(expected, rel=1e-10)


def test_power_and_required_iterations_columns():
    df = make_shaps_df()
    out = statistical_analysis(df, 0.01, 0.99, include_all=True)
    es = out.loc["informative", "effect_size"]
    assert out.loc["informative", "power_0.01_alpha"] == pytest.approx(
        ttest_power_smaller(es, len(df), 0.01), abs=1e-9
    )
    assert out.loc["informative", "0.99_power_its_req"] == pytest.approx(
        solve_power_nobs(es, 0.01, 0.99), rel=1e-6
    )
    # random probe never gets a required-iterations number
    assert out.loc["random_uniform_feature", "0.99_power_its_req"] == 0


def test_insignificant_zeroed_without_include_all():
    df = make_shaps_df()
    out = statistical_analysis(df, 0.01, 0.99, include_all=False)
    assert out.loc["noise", "effect_size"] == 0
    assert out.loc["noise", "power_0.01_alpha"] == 0
    assert out.loc["noise", "0.99_power_its_req"] == 0


def test_sorted_by_abs_impact_desc():
    df = make_shaps_df()
    out = statistical_analysis(df, 0.01, 0.99)
    imps = out.impact.abs().values
    assert all(a >= b for a, b in zip(imps, imps[1:]))


def test_long_to_wide_weighted_mean():
    long = pd.DataFrame(
        {
            "iteration": [0, 0, 0, 0, 1, 1],
            "feature": ["a", "a", "b", "b", "a", "b"],
            "mean_abs_shap": [1.0, 3.0, 10.0, 20.0, 5.0, 6.0],
            "n_val_rows": [1, 3, 2, 2, 4, 4],
        }
    )
    wide = shaps_long_to_wide(long, ["a", "b"])
    assert wide.loc[0, "a"] == pytest.approx((1 * 1 + 3 * 3) / 4)
    assert wide.loc[0, "b"] == pytest.approx(15.0)
    assert wide.loc[1, "a"] == pytest.approx(5.0)
    assert wide.dtypes["a"] == np.float32


def test_selection_statistics_spark_matches_pandas(spark):
    """The distributed statistics (A3 combine + A4 impact + A6 tie-aware
    p-value) must equal statistical_analysis on the same iterations table —
    including the +1 tie branch, forced by a feature that copies the random
    probe's values exactly (every iteration ties the score)."""
    from powershap_spark.stats import (
        selection_statistics_spark,
        shaps_long_to_wide,
        statistical_analysis,
    )

    rng = np.random.RandomState(4)
    iters, parts = 6, 3
    rows = []
    for it in range(iters):
        for p in range(parts):
            nv = 50 + 10 * p
            for f in ("f_a", "f_b"):
                rows.append((it, p, f, float(rng.rand()), nv))
            # CONSTANT probe: its per-iteration values all equal its mean
            # (the score), so its own p-value exercises the +1 tie branch
            rows.append((it, p, "random_uniform_feature", 0.37, nv))
    long_pdf = pd.DataFrame(
        rows, columns=["iteration", "part_id", "feature", "mean_abs_shap", "n_val_rows"]
    )
    long_pdf["mean_abs_shap"] = long_pdf["mean_abs_shap"].astype("float32")

    got = (
        selection_statistics_spark(spark.createDataFrame(long_pdf))
        .toPandas()
        .set_index("feature")
        .sort_index()
    )
    wide = shaps_long_to_wide(long_pdf, ["f_a", "f_b", "random_uniform_feature"])
    exp = statistical_analysis(wide, 0.01, 0.99, include_all=True).sort_index()
    np.testing.assert_allclose(got.impact, exp.impact, rtol=1e-6)
    np.testing.assert_allclose(got.p_value, exp.p_value, atol=1e-12)
    # the all-tied probe column: (strict=0 + weak=6 + 1) * 0.5 / 6
    assert got.loc["random_uniform_feature", "p_value"] == pytest.approx(7 / 12)
