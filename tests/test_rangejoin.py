"""Time-bucketed range join: parity with the naive equi-join+filter
formulation (which IS the semantics, just not the scale plan), pair
uniqueness under bucket replication, left-join nulls, bucket-width
invariance, and the no-cross-product plan contract."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from powershap_spark.operators.rangejoin import range_join


def _frames(spark, seed=7, n_keys=5, n_left=200, n_right=300, hot_frac=0.5):
    rng = np.random.RandomState(seed)

    def mk(n, tag):
        # one hot key holding ~hot_frac of rows (the skew case the
        # bucketing exists for)
        keys = np.where(
            rng.rand(n) < hot_frac, 0, rng.randint(1, n_keys, size=n)
        )
        ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
            rng.randint(0, 7200, size=n), unit="s"
        )
        return pd.DataFrame(
            {
                "user_id": keys.astype(np.int64),
                "ts": ts,
                f"{tag}_id": np.arange(n, dtype=np.int64),
                f"{tag}_val": rng.randn(n).round(3),
            }
        )

    lp, rp = mk(n_left, "l"), mk(n_right, "r")
    return spark.createDataFrame(lp), spark.createDataFrame(rp), lp, rp


def _naive(lp, rp, before, after, how="inner"):
    m = lp.merge(rp, on="user_id", suffixes=("", "_r"), how="left")
    d = (m["ts_r"] - m["ts"]).dt.total_seconds()
    ok = (d >= -before) & (d <= after)
    inner = m[ok]
    if how == "inner":
        return inner
    matched = set(inner["l_id"])
    un = lp[~lp["l_id"].isin(matched)].copy()
    # typed nulls, so concat keeps the dtypes and NaN/NaT compare exactly
    un["ts_r"] = pd.NaT
    un["r_id"] = np.nan
    un["r_val"] = np.nan
    return pd.concat([inner, un], ignore_index=True)


def _canon(pdf):
    pdf = pdf.copy()
    for c in pdf.columns:
        if "datetime" in str(pdf[c].dtype):
            s = pd.to_datetime(pdf[c])
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_localize(None)
            pdf[c] = s
    cols = sorted(pdf.columns)
    return (
        pdf[cols]
        .sort_values(cols, na_position="first")
        .reset_index(drop=True)
    )


@pytest.mark.parametrize("before,after", [(600, 0), (0, 600), (300, 900)])
def test_range_join_matches_naive(spark, before, after):
    ldf, rdf, lp, rp = _frames(spark)
    got = range_join(
        ldf, rdf, "user_id", before=before, after=after
    ).toPandas()
    exp = _naive(lp, rp, before, after)[got.columns.tolist()]
    pd.testing.assert_frame_equal(_canon(got), _canon(exp), check_dtype=False)


def test_range_join_left_keeps_unmatched(spark):
    ldf, rdf, lp, rp = _frames(spark, n_right=20)
    got = range_join(
        ldf, rdf, "user_id", before=60, after=60, how="left"
    ).toPandas()
    exp = _naive(lp, rp, 60, 60, how="left")[got.columns.tolist()]
    assert len(got) == len(exp)
    pd.testing.assert_frame_equal(_canon(got), _canon(exp), check_dtype=False)


def test_range_join_pair_uniqueness_and_width_invariance(spark):
    """Bucket replication must never emit a pair twice, and the result is
    identical for any bucket width (width only changes the plan shape)."""
    ldf, rdf, _, _ = _frames(spark)
    base = range_join(ldf, rdf, "user_id", before=300, after=900)
    n = base.count()
    assert base.select("l_id", "r_id").distinct().count() == n
    for w in (200, 1200, 5000):
        alt = range_join(
            ldf, rdf, "user_id", before=300, after=900, bucket_width=w
        )
        assert alt.count() == n
        assert alt.exceptAll(base).count() == 0


def test_range_join_inclusive_bounds_exact_micros(spark):
    """Bounds are inclusive and compared on integer microseconds: a right
    row exactly at ts-before or ts+after matches."""
    lp = pd.DataFrame(
        {"k": [1], "ts": [pd.Timestamp("2024-01-01 12:00:00")], "l_id": [0]}
    )
    rp = pd.DataFrame(
        {
            "k": [1, 1, 1, 1],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 11:55:00.000000",  # exactly ts - before
                    "2024-01-01 12:10:00.000000",  # exactly ts + after
                    "2024-01-01 11:54:59.999999",  # one micro outside
                    "2024-01-01 12:10:00.000001",  # one micro outside
                ],
                format="%Y-%m-%d %H:%M:%S.%f",
            ),
            "r_id": [0, 1, 2, 3],
        }
    )
    got = range_join(
        spark.createDataFrame(lp),
        spark.createDataFrame(rp),
        "k",
        before=300,
        after=600,
    ).toPandas()
    assert sorted(got["r_id"].tolist()) == [0, 1]


def test_range_join_validation(spark):
    ldf, rdf, _, _ = _frames(spark, n_left=5, n_right=5)
    with pytest.raises(ValueError):
        range_join(ldf, rdf, "user_id", before=-1, after=10)
    with pytest.raises(ValueError):
        range_join(ldf, rdf, "user_id", before=0, after=0)
    with pytest.raises(ValueError):
        range_join(ldf, rdf, "user_id", before=1, after=1, how="outer")


def test_range_join_plan_no_cartesian(spark):
    """The scale contract: an equi-join on (key, bucket) — never a
    CartesianProduct / BroadcastNestedLoopJoin, and the range predicate
    rides the join as a residual condition."""
    ldf, rdf, _, _ = _frames(spark)
    plan = (
        range_join(ldf, rdf, "user_id", before=300, after=900)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("seed", [11, 23, 37])
def test_range_join_matches_naive_more_seeds(spark, seed):
    """Randomized robustness sweep: different key layouts, densities and
    hot-key shares must all match the naive join."""
    ldf, rdf, lp, rp = _frames(
        spark, seed=seed, n_keys=3 + seed % 5, hot_frac=0.2 + (seed % 3) * 0.2
    )
    got = range_join(ldf, rdf, "user_id", before=450, after=450).toPandas()
    exp = _naive(lp, rp, 450, 450)[got.columns.tolist()]
    pd.testing.assert_frame_equal(_canon(got), _canon(exp), check_dtype=False)
