"""End-to-end pipeline: transcript table -> strictly-past windowed features
-> point-in-time feature matrix at (conv_id, ts) probes -> powershap
selection. This is the flagship query (SURVEY §7.1 step 3 / §3.4).

All feature engineering is JVM-side (window functions + string exprs over
ONE per-conversation shuffle); the as-of join is the sort-merge union+window
formulation; only the model kernel crosses into Python, via Arrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.asof import asof_join
from .operators.windows import (
    FeatureSpec,
    build_features,
    lag_feature,
    rolling,
    session_gap,
    sessionize,
    text_stats_ints,
    time_rolling,
)
from .engine import PowerShapSelector

DEFAULT_TAU = 1800.0

# the auto skew policy samples this fraction for hot-key detection: with the
# 1M-row default threshold a hot key yields ~10k expected sampled rows
# (std ~100) — detection stays reliable while the pre-pass costs ~1% of a
# full groupBy-count scan
AUTO_SAMPLE_FRACTION = 0.01


def _auto_skew(df: DataFrame, threshold_rows: int) -> bool:
    from .operators.salted import detect_hot_keys

    return bool(
        detect_hot_keys(
            df, "conv_id", threshold_rows, sample_fraction=AUTO_SAMPLE_FRACTION
        )
    )


def turn_features(
    transcripts: DataFrame,
    tau_seconds: float = DEFAULT_TAU,
    skew_safe="auto",
    chunk_size: int = 65_536,
    halo_rows: int = 128,
    hot_threshold_rows: int = 1_000_000,
) -> DataFrame:
    """Per-turn feature rows: scalar text stats + strictly-past windowed
    features over (conv_id, turn_idx). Returns one row per turn with only
    leakage-safe feature columns (plus keys).

    skew_safe=True computes every windowed feature without a per-
    conversation window partition (a hot conversation would serialize it):
    bounded frames run inside halo-chunked (conv_id, chunk) windows,
    unbounded running aggregates / sessionization / the past-tool flag use
    two-phase chunk prefixes. Results are identical to the plain
    path (tests assert it); ``halo_rows`` must cover the deepest rows-frame
    AND the time frame (600s / min-gap 5s -> 120 rows here).

    skew_safe="auto" (default, the policy a 10^12-turn deployment runs):
    take the salted path only when some conversation exceeds
    ``hot_threshold_rows`` — below that a single window task handles the
    hottest key faster than the extra two-phase shuffles cost."""
    if skew_safe == "auto":
        skew_safe = _auto_skew(transcripts, hot_threshold_rows)
    # compute the per-turn text scalars, then DROP the raw text before any
    # window stage: carrying ~hundreds of bytes of text per row through the
    # window sorts multiplies shuffle/sort volume ~4x for nothing.
    # Shuffle-byte discipline (the 100-TB lever): only int32 scalars cross
    # the window exchange — the ratio feature (avg_token_len) is
    # reconstructed post-shuffle from n_nonspace/n_tokens (identical
    # doubles), the tool STRING is narrowed to a 1-byte has_tool flag (the
    # model matrix only consumes has_prev_tool), and upper_ratio (computed
    # but never consumed downstream) is not carried at all.
    t = transcripts.withColumns(text_stats_ints("text")).select(
        "conv_id",
        "turn_idx",
        "ts",
        F.col("tool").isNotNull().cast("tinyint").alias("has_tool"),
        "text_len",
        "n_tokens",
        "n_nonspace",
        "n_punct",
    )
    specs = [
        lag_feature("text_len", 1),
        lag_feature("text_len", 2),
        lag_feature("n_tokens", 1),
        rolling("text_len", "avg", -5, -1, name="text_len_avg_prev5"),
        rolling("text_len", "sum", -3, -1, name="text_len_sum_prev3"),
        rolling("n_tokens", "avg", None, -1, name="n_tokens_avg_past"),
        rolling("text_len", "count", None, -1, name="n_prev_turns"),
        time_rolling("text_len", "count", 600, name="turns_last_600s"),
        session_gap("ts"),
        sessionize("ts", tau_seconds),
        # strictly-past "any earlier turn used a tool" — the 1-byte
        # running max replaces forward-filling the tool string
        rolling("has_tool", "max", None, -1, name="had_tool_past"),
    ]
    if skew_safe:
        bounded = [s for s in specs if s.name not in _UNBOUNDED_FEATURES]
        out = _turn_features_salted(t, bounded, tau_seconds, chunk_size, halo_rows)
    else:
        # ts_monotone: transcript timestamps are cumulative non-negative
        # gaps, i.e. non-decreasing in turn_idx — so the whole feature
        # block (rows frames + the 600s range frame) plans ONE sort
        out = build_features(
            t, specs, entity="conv_id", order="turn_idx", ts="ts", ts_monotone=True
        )
    # model-ready numeric projection (keys + features)
    return out.select(
        "conv_id",
        "turn_idx",
        "ts",
        F.col("text_len").cast("double"),
        F.col("n_tokens").cast("double"),
        F.when(F.col("n_tokens") > 0, F.col("n_nonspace") / F.col("n_tokens"))
        .cast("double")
        .alias("avg_token_len"),
        F.col("n_punct").cast("double"),
        F.coalesce(F.col("text_len_lag1"), F.lit(0)).cast("double").alias("text_len_lag1"),
        F.coalesce(F.col("text_len_lag2"), F.lit(0)).cast("double").alias("text_len_lag2"),
        F.coalesce(F.col("n_tokens_lag1"), F.lit(0)).cast("double").alias("n_tokens_lag1"),
        F.coalesce(F.col("text_len_avg_prev5"), F.lit(0)).cast("double").alias("text_len_avg_prev5"),
        F.coalesce(F.col("text_len_sum_prev3"), F.lit(0)).cast("double").alias("text_len_sum_prev3"),
        F.coalesce(F.col("n_tokens_avg_past"), F.lit(0)).cast("double").alias("n_tokens_avg_past"),
        F.col("n_prev_turns").cast("double"),
        F.coalesce(F.col("turns_last_600s"), F.lit(0)).cast("double").alias("turns_last_600s"),
        F.coalesce(F.col("session_gap_s"), F.lit(0)).cast("double").alias("session_gap_s"),
        F.col("session_seq").cast("double"),
        F.when(F.col("had_tool_past") == 1, 1.0).otherwise(0.0).alias("has_prev_tool"),
    )


# features whose frame reaches back to the conversation's first turn: the
# salted path computes them in two-phase (within-chunk + carried prefix) form
_UNBOUNDED_FEATURES = (
    "n_tokens_avg_past",
    "n_prev_turns",
    "session_seq",
    "had_tool_past",
)


def _turn_features_salted(
    t: DataFrame,
    bounded: list[FeatureSpec],
    tau_seconds: float,
    chunk_size: int,
    halo_rows: int,
) -> DataFrame:
    """Fused skew-safe feature build — the 10^12-turn formulation.

    ONE halo-chunked window pass over (conv_id, chunk) computes every
    ``bounded`` feature spec AND every within-chunk running partial (halo
    rows are flag-gated out of the unbounded frames); a TINY per-(conv, chunk)
    prefix table (one row per chunk: counts / sums / session starts / last
    tool of all earlier chunks) is broadcast-joined back. Total big-table
    shuffles: the same single (conv_id, chunk) exchange the plain path
    spends on (conv_id) — but no task ever holds more than chunk_size +
    halo_rows rows, no matter how hot a conversation is."""
    from pyspark.sql import Window
    from .operators.windows import epoch_seconds

    if halo_rows >= chunk_size:
        raise ValueError("halo_rows must be < chunk_size")

    # explode-based halo: one scan of the input (a filter+union formulation
    # would recompute the whole upstream — parquet scan + text stats — twice)
    own_chunk = F.floor(F.col("turn_idx").cast("long") / F.lit(int(chunk_size)))
    boundary = chunk_size - halo_rows
    in_tail = F.pmod(F.col("turn_idx").cast("long"), F.lit(int(chunk_size))) >= boundary
    u = (
        t.withColumn("__own", own_chunk)
        .withColumn(
            "__chunk",
            F.explode(
                F.when(in_tail, F.array(own_chunk, own_chunk + 1)).otherwise(
                    F.array(own_chunk)
                )
            ),
        )
        .withColumn("__halo", (F.col("__chunk") != F.col("__own")).cast("int"))
        .drop("__own")
    )

    ep = epoch_seconds("ts")
    # same single-sort trick as build_features(ts_monotone=True): ts is
    # non-decreasing in turn_idx, so ordering the rows frames by
    # (epoch, turn_idx) yields the identical row order while the range
    # frame's required (conv, chunk, epoch) sort is a prefix of it — one
    # Sort for the whole fused window pass instead of two. The epoch is a
    # REAL column (not a per-window expression) so ordering propagates by
    # attribute across the stacked Window nodes.
    u = u.withColumn("__ep_ord", ep.cast("long"))
    w = Window.partitionBy("conv_id", "__chunk").orderBy(
        F.col("__ep_ord"), F.col("turn_idx")
    )
    wt = Window.partitionBy("conv_id", "__chunk").orderBy(F.col("__ep_ord"))
    gap = ep - F.lag(ep).over(w)
    is_new = ((gap > F.lit(float(tau_seconds))) | gap.isNull()).cast("int")
    real = F.col("__halo") == 0  # gate halo duplicates out of unbounded frames
    past = w.rowsBetween(Window.unboundedPreceding, -1)
    upto = w.rowsBetween(Window.unboundedPreceding, 0)

    a = u.withColumns(
        {s.name: s.expr(wt if s.needs_time_window else w) for s in bounded}
        | {
            "__is_new": is_new,
            "__w_cnt": F.count(F.when(real, F.lit(1))).over(past),
            "__w_ntok": F.coalesce(
                F.sum(F.when(real, F.col("n_tokens").cast("double"))).over(past),
                F.lit(0.0),
            ),
            "__w_sess": F.coalesce(
                F.sum(F.when(real, is_new)).over(upto), F.lit(0).cast("long")
            ),
            # strictly-past "any earlier tool use"; halo rows MAY contribute
            # (they are genuine earlier turns) — older chunks via the carry
            "__w_tool": F.max("has_tool").over(past),
        }
    ).filter(real)

    # `a` feeds BOTH the per-chunk partials and the final join — a diamond.
    # Exchange reuse does not dedup shared children under different
    # partitionings, so without a materialization barrier the whole upstream
    # (scan + text stats + halo window) executes twice. Persist it
    # (registered for release via caching.release_tracked()).
    from .caching import tracked_persist

    a = tracked_persist(a)

    # tiny prefix table: one row per (conv, chunk)
    per_chunk = a.groupBy("conv_id", "__chunk").agg(
        F.count("*").alias("__c_cnt"),
        F.sum(F.col("n_tokens").cast("double")).alias("__c_ntok"),
        F.sum("__is_new").alias("__c_sess"),
        F.max("has_tool").alias("__c_tool"),
    )
    wc = Window.partitionBy("conv_id").orderBy("__chunk")
    before = wc.rowsBetween(Window.unboundedPreceding, -1)
    prefix = per_chunk.select(
        "conv_id",
        "__chunk",
        F.coalesce(F.sum("__c_cnt").over(before), F.lit(0).cast("long")).alias("__p_cnt"),
        F.coalesce(F.sum("__c_ntok").over(before), F.lit(0.0)).alias("__p_ntok"),
        F.coalesce(F.sum("__c_sess").over(before), F.lit(0).cast("long")).alias("__p_sess"),
        F.max("__c_tool").over(before).alias("__p_tool"),
    )

    n_prev = F.col("__p_cnt") + F.col("__w_cnt")
    out = (
        a.join(F.broadcast(prefix), ["conv_id", "__chunk"], "left")
        .withColumns(
            {
                "n_prev_turns": n_prev,
                "n_tokens_avg_past": F.when(
                    n_prev > 0, (F.col("__p_ntok") + F.col("__w_ntok")) / n_prev
                ),
                "session_seq": (F.col("__p_sess") + F.col("__w_sess") - 1).cast("long"),
                "had_tool_past": F.greatest(
                    F.coalesce(F.col("__w_tool"), F.lit(0)),
                    F.coalesce(F.col("__p_tool"), F.lit(0)),
                ),
            }
        )
        .drop(
            "__chunk", "__halo", "__is_new", "__w_cnt", "__w_ntok", "__w_sess",
            "__w_tool", "__p_cnt", "__p_ntok", "__p_sess", "__p_tool", "__ep_ord",
        )
    )
    return out


FEATURE_COLS = [
    "text_len",
    "n_tokens",
    "avg_token_len",
    "n_punct",
    "text_len_lag1",
    "text_len_lag2",
    "n_tokens_lag1",
    "text_len_avg_prev5",
    "text_len_sum_prev3",
    "n_tokens_avg_past",
    "n_prev_turns",
    "turns_last_600s",
    "session_gap_s",
    "session_seq",
    "has_prev_tool",
]


def point_in_time_matrix(
    features: DataFrame,
    probes: DataFrame,
    skew_safe="auto",
    bucket_seconds: int = 86_400,
    hot_threshold_rows: int = 1_000_000,
) -> DataFrame:
    """As-of join: each probe (conv_id, ts, label) gets the latest feature
    row of its conversation with feature.ts <= probe.ts — zero temporal
    leakage by construction (features themselves are strictly-past).

    skew_safe=True uses the two-phase ts-bucketed as-of join so a hot
    conversation can't serialize the join's window partition; "auto"
    (default) engages it only when a conversation exceeds the per-task
    comfort bound."""
    if skew_safe == "auto":
        skew_safe = _auto_skew(features, hot_threshold_rows)
    if skew_safe:
        from .operators.asof import asof_join_bucketed

        return asof_join_bucketed(
            probes,
            features,
            on="conv_id",
            ts="ts",
            bucket_seconds=bucket_seconds,
            allow_exact_matches=True,
            matched_ts_col="feature_ts",
        )
    return asof_join(
        probes,
        features,
        on="conv_id",
        ts="ts",
        direction="backward",
        allow_exact_matches=True,
        matched_ts_col="feature_ts",
    )


def select_features(
    transcripts: DataFrame,
    probes: DataFrame,
    tau_seconds: float = DEFAULT_TAU,
    selector: PowerShapSelector | None = None,
    skew_safe="auto",
    hot_threshold_rows: int = 1_000_000,
    **selector_kw,
) -> tuple[PowerShapSelector, DataFrame]:
    """Full pipeline; returns (fitted selector, point-in-time matrix).

    The skew policy is resolved ONCE here, on the raw transcript table (a
    cheap pushed-down count) — resolving it per stage would re-evaluate the
    feature pipeline just to count rows per conversation."""
    if skew_safe == "auto":
        skew_safe = _auto_skew(transcripts, hot_threshold_rows)
    # a tracking scope bounds the diamond persists (salted feature build /
    # bucketed as-of) to THIS pipeline run: the fit is the last action over
    # the matrix, and scope exit releases exactly the persists registered
    # inside — concurrent pipelines on one driver don't release each other's
    from .caching import tracking_scope

    with tracking_scope():
        feats = turn_features(transcripts, tau_seconds, skew_safe=skew_safe)
        mat = point_in_time_matrix(feats, probes, skew_safe=skew_safe)
        mat = mat.filter(F.col("feature_ts").isNotNull())  # probes before conv start
        sel = selector or PowerShapSelector(
            sort_cols=["conv_id", "ts"], **selector_kw
        )
        sel.fit(mat, label_col="label", feature_cols=FEATURE_COLS)
    return sel, mat
