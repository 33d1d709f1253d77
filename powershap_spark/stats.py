"""Statistical analysis of the iteration matrix.

Replicates ``powerSHAP_statistical_analysis`` (reference powershap/utils.py:
13-88) exactly, including its quirks:

- p-value = percentileofscore(feature column, mean(random column),
  kind='rank') / 100, computed for EVERY column including the random
  probe itself (utils.py:22-25);
- pooled std mixes pandas sample std (ddof=1) for the feature column with
  numpy population std (ddof=0) for the random column (utils.py:28-34) —
  the asymmetry is load-bearing for p-value/required-iteration parity;
- effect size = (mean_random - mean_feature) / pooled_std (utils.py:35-37,
  negative for informative features, hence alternative='smaller');
- power / required iterations from the one-sided noncentral-t power test
  (utils.py:38-58); required_iterations = 0 for the random probe;
- stats only computed when significant unless include_all (utils.py:27);
- result sorted by |impact| descending (utils.py:84-86).

Also provides a Spark-side aggregation path producing the identical
(m+1)-row table from the long-format ``iterations`` DataFrame, so the
heavy reduction runs distributed and only the tiny per-feature table hits
the driver (SURVEY §2.8 R6).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .functions.numerics import (
    percentileofscore_rank,
    solve_power_nobs,
    ttest_power_smaller,
)
from .kernel import RANDOM_COL


def statistical_analysis(
    shaps_df: pd.DataFrame,
    power_alpha: float,
    power_req_iterations: float,
    include_all: bool = False,
) -> pd.DataFrame:
    """shaps_df: I x (m+1) wide matrix, one row per iteration, one column per
    feature plus ``random_uniform_feature``. Returns the reference's
    ``processed_shaps_df`` with identical column names and ordering."""
    n_samples = len(shaps_df[RANDOM_COL].values)
    mean_random_uniform = shaps_df[RANDOM_COL].mean()

    col_means = shaps_df.mean()
    col_stds_ddof1 = shaps_df.std()  # pandas: ddof=1 (utils.py:30)
    random_std_ddof0 = shaps_df[RANDOM_COL].values.std()  # numpy: ddof=0 (utils.py:31)

    p_values, effect_size, power_list, required_iterations = [], [], [], []
    for i, col in enumerate(shaps_df.columns):
        vals = np.asarray(shaps_df.values[:, i], dtype=np.float64)
        p_value = percentileofscore_rank(vals, mean_random_uniform) / 100.0
        p_values.append(p_value)

        if include_all or p_value < power_alpha:
            pooled_std = np.sqrt(
                ((col_stds_ddof1.values[i] ** 2) + (random_std_ddof0**2)) / 2.0
            )
            es = (mean_random_uniform - col_means.values[i]) / pooled_std
            effect_size.append(es)
            power_list.append(ttest_power_smaller(es, n_samples, power_alpha))
            if col == RANDOM_COL:
                required_iterations.append(0)
            else:
                required_iterations.append(
                    solve_power_nobs(es, power_alpha, power_req_iterations)
                )
        else:
            required_iterations.append(0)
            effect_size.append(0)
            power_list.append(0)

    processed = pd.DataFrame(
        {
            "impact": col_means.values,
            "p_value": np.array(p_values, dtype=np.float64),
            "effect_size": np.array(effect_size, dtype=np.float64),
            "power_" + str(power_alpha) + "_alpha": np.array(power_list, dtype=np.float64),
            str(power_req_iterations)
            + "_power_its_req": np.array(required_iterations, dtype=np.float64),
        },
        index=shaps_df.columns,
    )
    return processed.reindex(processed.impact.abs().sort_values(ascending=False).index)


def shaps_long_to_wide(iterations_pdf: pd.DataFrame, feature_order: list[str]) -> pd.DataFrame:
    """Long (iteration, feature, mean_abs_shap[, n_val_rows]) -> wide I x (m+1).

    When the long frame carries per-partition partials, they are combined
    with a count-weighted mean first (partial+final aggregation, SURVEY A3)."""
    df = iterations_pdf
    if "n_val_rows" in df.columns and df.duplicated(["iteration", "feature"]).any():
        w = df["mean_abs_shap"] * df["n_val_rows"]
        g = df.assign(_w=w).groupby(["iteration", "feature"], sort=False)
        df = (g["_w"].sum() / g["n_val_rows"].sum()).rename("mean_abs_shap").reset_index()
    wide = df.pivot(index="iteration", columns="feature", values="mean_abs_shap")
    wide = wide[feature_order].sort_index()
    wide.columns.name = None
    wide.index.name = None
    # reference stacks float32 vectors (shap_explainer.py:181)
    return wide.astype("float32")


def selection_statistics_spark(iterations_df):
    """Distributed per-feature selection statistics from the LONG iterations
    table (the per-partition partials the engine checkpoints): A3 count-
    weighted combine per (iteration, feature), A4 mean impact per feature,
    A6 tie-aware percentile p-value — percentileofscore(feature's
    per-iteration values, mean(random), kind='rank')/100, exactly
    ``statistical_analysis``'s p-value formula (reference utils.py:22-25) as
    Spark aggregations. Only the (m+1)-row result ever reaches the driver
    (plus one scalar collect for the random probe's mean).

    Returns a Spark DataFrame (feature, impact, p_value)."""
    from pyspark.sql import functions as F

    combined = iterations_df.groupBy("iteration", "feature").agg(
        (
            F.sum(F.col("mean_abs_shap").cast("double") * F.col("n_val_rows"))
            / F.sum("n_val_rows")
        ).alias("v")
    )
    mean_random = (
        combined.filter(F.col("feature") == RANDOM_COL)
        .agg(F.avg("v"))
        .collect()[0][0]
    )
    x = F.lit(float(mean_random))
    return combined.groupBy("feature").agg(
        F.avg("v").alias("impact"),
        (
            (
                F.sum((F.col("v") < x).cast("int"))
                + F.sum((F.col("v") <= x).cast("int"))
                # scipy >= 1.9 rank semantics: +1 when any value ties the score
                + F.max((F.col("v") == x).cast("int"))
            )
            / (2.0 * F.count("*"))
        ).alias("p_value"),
    )
