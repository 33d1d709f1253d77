"""Two-phase salted running aggregates for skewed entities (SURVEY §4.3).

Problem: ``Window.partitionBy(conv_id)`` puts ALL rows of a conversation in
one task. AQE can split skewed JOIN partitions but never window partitions,
so a single hot conversation (FIXTURES.md plants one with ~10% of all rows)
serializes the whole feature build at 10^12-turn scale.

Fix: salt by ORDER RANGE (not hash — running aggregates need contiguous
chunks): chunk = floor(order / chunk_size). Then

  phase 1 (parallel over chunks): per-(entity, chunk) partials — a tiny
      table with one row per chunk — and a per-entity window over the CHUNK
      sequence computes each chunk's carry-in prefix;
  phase 2 (parallel over chunks): within-chunk running aggregate, window
      partitioned by (entity, chunk) — bounded task size — plus carry-in.

The result is bit-identical to the plain single-window formulation (tests
assert this); use it when hot-key detection (``detect_hot_keys``) fires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["detect_hot_keys", "salted_cumsum"]


def detect_hot_keys(
    df: DataFrame,
    entity: str = "conv_id",
    threshold_rows: int = 1_000_000,
    sample_fraction: float | None = None,
    seed: int = 42,
    margin: float = 0.8,
) -> list:
    """Entities whose row count exceeds the per-task comfort bound.

    With ``sample_fraction`` the scan reads a seeded Bernoulli sample and the
    threshold scales to ``threshold_rows * fraction * margin`` — the margin
    absorbs binomial undercounting so a genuinely hot key (expected sample
    count = thr*fraction >> its std) is still flagged. This is the policy a
    10^12-turn run uses: the full-table groupBy-count pre-pass is replaced by
    a ~fraction-cost sampled scan; false positives only cost taking the
    (correct-anyway) salted path."""
    src = df.sample(sample_fraction, seed=seed) if sample_fraction else df
    thr = threshold_rows * (sample_fraction or 1.0) * (margin if sample_fraction else 1.0)
    rows = (
        src.groupBy(entity)
        .count()
        .filter(F.col("count") > thr)
        .select(entity)
        .collect()
    )
    return [r[0] for r in rows]


def _with_chunk(df: DataFrame, order: str, chunk_size: int) -> DataFrame:
    return df.withColumn(
        "__chunk", F.floor(F.col(order).cast("long") / F.lit(int(chunk_size)))
    )


def salted_cumsum(
    df: DataFrame,
    value_col,
    out_col: str,
    entity: str = "conv_id",
    order: str = "turn_idx",
    chunk_size: int = 100_000,
    upper: int = 0,
) -> DataFrame:
    """Running sum of ``value_col`` per entity ordered by ``order`` over rows
    frame (unboundedPreceding, upper) with upper in {0, -1}; skew-safe.

    ``value_col`` may be a Column expression (e.g. a flag)."""
    if upper not in (0, -1):
        raise ValueError("upper must be 0 (inclusive) or -1 (strictly past)")
    val = F.col(value_col) if isinstance(value_col, str) else value_col
    d = _with_chunk(df, order, chunk_size).withColumn("__v", val)

    chunk_tot = d.groupBy(entity, "__chunk").agg(F.sum("__v").alias("__chunk_sum"))
    wc = Window.partitionBy(entity).orderBy("__chunk")
    prefix = chunk_tot.withColumn(
        "__prefix",
        # the zero literal must not WIDEN the sum's type: a double zero
        # promoted LONG sums to double, silently breaking the exact-
        # integer contract of callers like decayed_past_mean's halving
        # path above 2^53 (coalesce(long, int 0) stays long;
        # coalesce(double, int 0) stays double)
        F.coalesce(
            F.sum("__chunk_sum").over(wc.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).select(entity, "__chunk", "__prefix")

    w2 = Window.partitionBy(entity, "__chunk").orderBy(order)
    within = F.sum("__v").over(w2.rowsBetween(Window.unboundedPreceding, upper))
    return (
        d.join(prefix, [entity, "__chunk"], "left")
        .withColumn(out_col, F.coalesce(within, F.lit(0)) + F.col("__prefix"))
        .drop("__chunk", "__v", "__prefix")
    )
