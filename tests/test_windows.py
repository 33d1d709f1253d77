"""Windowed feature operators vs pandas oracles; leakage guard; salted
two-phase variants bit-identical to plain windows (incl. a hot key)."""

import numpy as np
import pandas as pd
import pytest

from powershap_spark.operators.salted import detect_hot_keys, salted_cumsum
from powershap_spark.operators.windows import (
    LeakageError,
    bfill,
    build_features,
    ffill,
    lag_feature,
    lead_col,
    rolling,
    session_gap,
    sessionize,
    time_rolling,
)
from tests.conftest import events_pdf


def _turns(seed=4, n=300, n_users=6):
    pdf = events_pdf(n=n, n_users=n_users, seed=seed)
    pdf = pdf.sort_values(["k", "ts"], kind="mergesort").reset_index(drop=True)
    pdf["idx"] = pdf.groupby("k").cumcount().astype(np.int64)
    # make some v null for ffill tests
    pdf.loc[pdf.seq % 4 == 0, "v"] = np.nan
    return pdf[["k", "idx", "ts", "v"]]


def test_lag_rolling_vs_pandas(spark):
    pdf = _turns()
    sdf = spark.createDataFrame(pdf)
    out = (
        build_features(
            sdf,
            [
                lag_feature("v", 1),
                lag_feature("v", 2),
                rolling("v", "avg", -3, -1, name="avg3"),
                rolling("v", "sum", None, -1, name="cums"),
                rolling("v", "count", None, -1, name="cnt"),
            ],
            entity="k",
            order="idx",
        )
        .toPandas()
        .sort_values(["k", "idx"])
        .reset_index(drop=True)
    )
    g = pdf.groupby("k")["v"]
    exp_lag1 = g.shift(1).reset_index(drop=True)
    exp_avg3 = (
        g.rolling(3, min_periods=1).mean().reset_index(drop=True).groupby(pdf["k"]).shift(1)
    )
    assert np.allclose(out.v_lag1.fillna(-9), exp_lag1.fillna(-9))
    assert np.allclose(out.avg3.fillna(-9), exp_avg3.fillna(-9), atol=1e-9)
    exp_cnt = pdf.groupby("k")["v"].apply(
        lambda s: s.notna().astype(int).cumsum().shift(1).fillna(0)
    ).reset_index(drop=True)
    assert np.allclose(out.cnt, exp_cnt)


def test_session_gap_and_sessionize_vs_pandas(spark):
    pdf = _turns()
    tau = 200.0
    sdf = spark.createDataFrame(pdf)
    out = (
        build_features(
            sdf,
            [session_gap("ts"), sessionize("ts", tau)],
            entity="k",
            order="idx",
        )
        .toPandas()
        .sort_values(["k", "idx"])
        .reset_index(drop=True)
    )
    gaps = pdf.groupby("k")["ts"].diff()
    sess = ((gaps > tau) | gaps.isna()).groupby(pdf["k"]).cumsum() - 1
    assert np.allclose(out.session_gap_s.fillna(-9), gaps.fillna(-9))
    assert np.allclose(out.session_seq, sess)


def test_ffill_strict_past_vs_pandas(spark):
    pdf = _turns()
    sdf = spark.createDataFrame(pdf)
    out = (
        build_features(sdf, [ffill("v", name="vf")], entity="k", order="idx")
        .toPandas()
        .sort_values(["k", "idx"])
        .reset_index(drop=True)
    )
    exp = pdf.groupby("k")["v"].apply(lambda s: s.ffill().shift(1)).reset_index(drop=True)
    # strict-past ffill == shift-then-ffill? no: ffill().shift(1) == shift(1).ffill()
    assert np.allclose(out.vf.fillna(-9), exp.fillna(-9))


def test_time_rolling_range_frame(spark):
    pdf = _turns()
    sdf = spark.createDataFrame(pdf)
    out = (
        build_features(
            sdf,
            [time_rolling("v", "count", 300, name="c300")],
            entity="k",
            order="idx",
            ts="ts",
        )
        .toPandas()
        .sort_values(["k", "idx"])
        .reset_index(drop=True)
    )
    # oracle: count of non-null v with ts in [t-300, t-1]
    def cnt(row):
        g = pdf[pdf.k == row.k]
        lo = np.floor(row.ts) - 300
        hi = np.floor(row.ts) - 1
        return g[(np.floor(g.ts) >= lo) & (np.floor(g.ts) <= hi)].v.notna().sum()

    sample = out.sample(40, random_state=0)
    for _, row in sample.iterrows():
        assert (row.c300 or 0) == cnt(row)


def test_leakage_guard():
    with pytest.raises(LeakageError):
        build_features(None, [lead_col("v")])
    with pytest.raises(LeakageError):
        build_features(None, [bfill("v")])
    with pytest.raises(LeakageError):
        rolling("v", "sum", -3, 0)
    with pytest.raises(LeakageError):
        time_rolling("v", "avg", 300, upper_seconds=0)
    with pytest.raises(LeakageError):
        lag_feature("v", 0)


def test_lead_bfill_allowed_as_labels(spark):
    pdf = _turns()
    sdf = spark.createDataFrame(pdf)
    out = build_features(
        sdf,
        [lag_feature("v", 1)],
        entity="k",
        order="idx",
        label_specs=[lead_col("v", 1, name="next_v"), bfill("v", name="v_b")],
    ).toPandas()
    assert "next_v" in out.columns and "v_b" in out.columns


def _skewed(seed=7, n_hot=3000, n_cold=300):
    r = np.random.RandomState(seed)
    k = np.r_[np.zeros(n_hot, dtype=np.int64), r.randint(1, 12, n_cold)]
    pdf = pd.DataFrame(
        {
            "k": k,
            "v": np.round(r.uniform(0, 10, len(k)), 3),
            "ts": np.round(np.cumsum(r.uniform(1, 60, len(k))), 3),
        }
    )
    pdf.loc[pdf.index % 5 == 0, "v"] = np.nan
    pdf = pdf.sort_values(["k", "ts"], kind="mergesort").reset_index(drop=True)
    pdf["idx"] = pdf.groupby("k").cumcount().astype(np.int64)
    return pdf


def test_detect_hot_keys(spark):
    sdf = spark.createDataFrame(_skewed())
    hot = detect_hot_keys(sdf, entity="k", threshold_rows=1000)
    assert hot == [0]


def test_salted_cumsum_equals_plain(spark):
    pdf = _skewed()
    sdf = spark.createDataFrame(pdf.fillna({"v": 0.0}))
    out = (
        salted_cumsum(sdf, "v", "cs", entity="k", order="idx", chunk_size=97)
        .toPandas()
        .sort_values(["k", "idx"])
        .reset_index(drop=True)
    )
    exp = pdf.fillna({"v": 0.0}).groupby("k")["v"].cumsum().reset_index(drop=True)
    assert np.allclose(out.cs, exp, atol=1e-9)


def test_salted_cumsum_strict_past(spark):
    pdf = _skewed()
    sdf = spark.createDataFrame(pdf.fillna({"v": 0.0}))
    out = (
        salted_cumsum(sdf, "v", "cs", entity="k", order="idx", chunk_size=97, upper=-1)
        .toPandas()
        .sort_values(["k", "idx"])
        .reset_index(drop=True)
    )
    exp = (
        pdf.fillna({"v": 0.0})
        .groupby("k")["v"]
        .apply(lambda s: s.cumsum().shift(1).fillna(0))
        .reset_index(drop=True)
    )
    assert np.allclose(out.cs, exp, atol=1e-9)


def test_turn_features_skew_safe_parity(spark):
    from powershap_spark import synth
    from powershap_spark.pipeline import turn_features

    t = synth.transcripts(spark, n_conv=40, mean_turns=15)
    plain = (
        turn_features(t, skew_safe=False)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    salted = (
        turn_features(t, skew_safe=True, chunk_size=131, halo_rows=130)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(plain) == len(salted)
    for c in plain.columns:
        a, b = plain[c], salted[c]
        if a.dtype.kind in "fiu":
            assert np.allclose(
                a.fillna(-9e9).astype(float), b.fillna(-9e9).astype(float)
            ), c
        else:
            assert (a.astype(str) == b.astype(str)).all(), c
    # the halo is drawn from the immediately previous chunk only
    with pytest.raises(ValueError):
        turn_features(t, skew_safe=True, chunk_size=130, halo_rows=130)
