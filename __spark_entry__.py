"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship point-in-time feature pipeline on
sf0.001. ``queries()`` exposes every implemented operator from SURVEY.md §2
plus the training-data-pipeline operators; ``oracle_sql()`` gives the
DuckDB-equivalent SQL for everything SQL-expressible (the as-of joins use
DuckDB's native ASOF JOIN; windows use standard SQL window functions).

Column names are aliased identically on both sides; float outputs are
rounded to fixed decimals on both sides so the driver's value-hash compare
is robust to engine-level float summation order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TAU = 1800.0
_EN = ["the", "and", "of", "to", "a", "in", "is", "it", "you", "that"]
_DE = ["der", "die", "das", "und", "ist", "nicht", "ich", "sie", "mit", "ein"]
_FR = ["le", "la", "les", "et", "est", "pas", "je", "vous", "que", "une"]
_ES = ["el", "la", "los", "y", "es", "no", "yo", "que", "con", "una"]


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: strictly-past windowed features per user over the events
    stream, as-of-joined (sort-merge union+window) onto purchase probes at
    (user_id, ts) — the transcript pipeline shape on the sf0.001 fixture."""
    return _pit_matrix(spark, "/root/testdata/sf0.001")


def _event_features(events: DataFrame) -> DataFrame:
    from powershap_spark.operators.windows import (
        build_features,
        lag_feature,
        rolling,
        session_gap,
        sessionize,
    )

    e = events.select(
        "user_id", "ts", "event_id", F.col("value").cast("double").alias("value")
    )
    specs = [
        lag_feature("value", 1),
        rolling("value", "avg", -3, -1, name="value_avg_prev3"),
        rolling("value", "count", None, -1, name="n_prev_events"),
        session_gap("ts"),
        sessionize("ts", TAU),
    ]
    return build_features(e, specs, entity="user_id", order="ts", ts="ts")


def _pit_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from powershap_spark.operators.asof import asof_join

    events = _read(spark, sf_dir, "events")
    feats = _event_features(events.filter(F.col("event_type") != "purchase"))
    probes = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", (F.col("value") > 50.0).cast("int").alias("label")
    )
    return asof_join(
        probes,
        feats.select(
            "user_id",
            "ts",
            F.coalesce("value_lag1", F.lit(0.0)).alias("value_lag1"),
            F.coalesce("value_avg_prev3", F.lit(0.0)).alias("value_avg_prev3"),
            F.col("n_prev_events").cast("double").alias("n_prev_events"),
            F.coalesce("session_gap_s", F.lit(0.0)).alias("session_gap_s"),
            F.col("session_seq").cast("double").alias("session_seq"),
        ),
        on="user_id",
        ts="ts",
        matched_ts_col="feature_ts",
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_pricing_summary(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_window_lag_lead(spark, sf_dir):
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.round(F.lag("value", 1).over(w), 6).alias("prev_value"),
        F.lead("event_type", 1).over(w).alias("next_type"),
        (F.row_number().over(w) - 1).alias("turn_seq"),
    )


def q_rolling_strict_past(spark, sf_dir):
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w.rowsBetween(-3, -1)), 6).alias("value_avg_prev3"),
        F.count("*").over(w.rowsBetween(Window.unboundedPreceding, -1)).alias(
            "n_prev_events"
        ),
        F.round(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, -1)), 4
        ).alias("value_sum_past"),
    )


def q_past_target_encode(spark, sf_dir):
    """Strictly-past target encoding of event_type by the running mean of
    `value` over earlier-ts same-key rows (operators/encode.py): the
    leakage-safe categorical encoder, RANGE frame on integer event-time
    micros so simultaneous rows never see each other."""
    from powershap_spark.operators.encode import past_target_encode

    e = _read(spark, sf_dir, "events")
    # Encode a micro-integer copy of the label, not the raw double: the
    # windowed SUM is then exact (order-independent) integer arithmetic,
    # so te_mean = double(int_sum)/double(cnt) is ONE IEEE division of
    # identical operands on both engines — bit-identical, no round-half
    # ties (the r6 driver gate flipped on last-ulp window-avg differences
    # between Spark and DuckDB at power-of-two counts).
    e = e.withColumn(
        "value_micro",
        F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"),
    )
    out = past_target_encode(e, key="event_type", label="value_micro", ts="ts")
    return out.select(
        "event_id",
        "event_type",
        "te_cnt",
        F.col("te_mean").alias("te_mean_micro"),
    )


def q_range_join_events(spark, sf_dir):
    """Context-window (range) join: every same-user event in the 30
    minutes up to and including each purchase — the all-matches companion
    to the as-of join's latest-match (operators/rangejoin.py). Scale path:
    time-bucketed equi-join on (user_id, bucket) with the exact predicate
    as a residual — never a per-key cross product (plan pytest). The
    DuckDB oracle is the naive BETWEEN join (same semantics, oracle-scale
    plan); gaps compare on integer event-time micros."""
    from powershap_spark.operators.rangejoin import range_join

    e = _read(spark, sf_dir, "events")
    probes = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("probe_id")
    )
    ctx = e.select("user_id", "ts", "event_id", "event_type")
    out = range_join(probes, ctx, "user_id", before=1800.0, after=0.0)
    from powershap_spark.operators._time import event_micros

    lt, rt = event_micros("ts"), event_micros("ts_r")
    return out.select(
        "probe_id",
        F.col("event_id").alias("ctx_event_id"),
        F.col("event_type").alias("ctx_type"),
        (lt - rt).alias("gap_us"),
    )


def q_decayed_mean_events(spark, sf_dir):
    """Strictly-past exponentially-decayed target mean per event_type
    (operators/encode.decayed_past_mean): recency-weighted sibling of the
    plain target encoding, weighting='halving' (discrete 2-day half-life
    buckets). Determinism: the label is pre-scaled to an integer
    (floor(v*1e4+0.5)) and the bucket weights are exact powers of two, so
    BOTH windowed sums are exact long arithmetic — order-independent —
    and the emitted mean is one IEEE division of identical operands on
    both engines (the past_target_encode trick; 30-day span / 2-day
    half-life keeps sums under 2^62 at every sf)."""
    from powershap_spark.operators.encode import decayed_past_mean

    e = _read(spark, sf_dir, "events").withColumn(
        "value_q", F.floor(F.col("value") * F.lit(10000.0) + F.lit(0.5)).cast("bigint")
    )
    out = decayed_past_mean(
        e, key="event_type", label="value_q", ts="ts",
        half_life_s=172800.0, weighting="halving",
    )
    return out.select(
        "event_id", "event_type", "dm_cnt", F.col("dm_mean").alias("dm_mean_q")
    )


def q_session_gap_sessionize(spark, sf_dir):
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.col("ts").cast("timestamp_ltz").cast("double")
    gap = ep - F.lag(ep).over(w)
    is_new = (gap > TAU) | gap.isNull()
    return e.select(
        "user_id",
        "event_id",
        F.round(gap, 6).alias("gap_s"),
        (
            F.sum(is_new.cast("int")).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            )
            - 1
        ).alias("session_seq"),
    )


def q_ffill_strict_past(spark, sf_dir):
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    return e.select(
        "user_id",
        "event_id",
        F.round(
            F.last(pv, ignorenulls=True).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            6,
        ).alias("last_purchase_value"),
    )


def _asof_sides(spark, sf_dir):
    e = _read(spark, sf_dir, "events")
    probes = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    # right side made unique per (user_id, ts) so the match is deterministic
    feats = (
        e.filter(F.col("event_type") != "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("fvalue"))
    )
    return probes, feats


def _asof_events(spark, sf_dir, variant):
    from powershap_spark.operators import asof

    probes, feats = _asof_sides(spark, sf_dir)
    fn = {
        "plain": asof.asof_join,
        "bucketed": lambda *a, **k: asof.asof_join_bucketed(
            *a, bucket_seconds=86400, **k
        ),
        "broadcast": asof.asof_join_broadcast,
    }[variant]
    out = fn(probes, feats, on="user_id", ts="ts", matched_ts_col="matched_ts")
    return out.select(
        "user_id",
        "event_id",
        "matched_ts",
        F.round("fvalue", 6).alias("fvalue"),
    )


def q_asof_join_events(spark, sf_dir):
    return _asof_events(spark, sf_dir, "plain")


def q_asof_join_bucketed_events(spark, sf_dir):
    return _asof_events(spark, sf_dir, "bucketed")


def q_asof_join_broadcast_events(spark, sf_dir):
    return _asof_events(spark, sf_dir, "broadcast")


def q_topk_per_group(spark, sf_dir):
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), "event_id")
    return (
        e.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("event_type", "rank", "event_id", F.round("value", 6).alias("value"))
    )


def q_exact_dedup_documents(spark, sf_dir):
    from powershap_spark.operators.dedup import exact_dedup

    d = _read(spark, sf_dir, "documents")
    return exact_dedup(d, "text", "doc_id").select("doc_id", "lang", "source")


def _token_jaccard_pairs(d):
    """``(id_a, id_b, jaccard)``: the unrounded token-set Jaccard of every
    same-lang doc pair, id_a < id_b."""
    toks = lambda c: F.array_distinct(
        F.split(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")), " ")
    )
    a = d.select(F.col("doc_id").alias("id_a"), toks(F.col("text")).alias("ta"), "lang")
    b = d.select(F.col("doc_id").alias("id_b"), toks(F.col("text")).alias("tb"), "lang")
    j = a.join(b, "lang").filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size(F.array_union("ta", "tb"))
    return j.select("id_a", "id_b", (inter / union).alias("jaccard"))


def q_token_jaccard_pairs(spark, sf_dir):
    d = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return (
        _token_jaccard_pairs(d)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


def q_dedup_clusters_documents(spark, sf_dir):
    """Transitive near-dup clustering: token-Jaccard candidate pairs
    (lang-bucketed, exact — both engines compute identical edges) ->
    distributed connected components (hash-min label propagation) ->
    (doc_id, component) with component = min doc_id of the cluster;
    isolated docs are their own component. DuckDB oracle recomputes the
    same components with a recursive CTE. The edge filter reads the
    unrounded ratio, as the oracle does."""
    from powershap_spark.operators.dedup import connected_components

    d = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    pairs = (
        _token_jaccard_pairs(d)
        .where(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b")
    )
    comp = connected_components(pairs)
    return (
        d.select("doc_id")
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce("comp", F.col("doc_id")).alias("component")
        )
    )


def q_token_shift_documents(spark, sf_dir):
    """Distribution-drift triage between two snapshot views of the
    documents table (the same %7 id-bucket construction as
    corpus_diff_documents): top-20 tokens by |p_new - p_old|, ranking
    on the 6dp-rounded shift so both engines order identical keys."""
    from powershap_spark.caching import tracking_scope
    from powershap_spark.operators.text import token_shift

    d = _read(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 7 != 1)
    new = d.filter(F.col("doc_id") % 7 != 2)
    # scope the counts-diamond persist so repeated driver calls don't
    # accumulate cached DataFrames in the global registry (the result is
    # k rows — materializing it inside the scope costs nothing)
    with tracking_scope():
        out = token_shift(old, new, k=20)
        return spark.createDataFrame(out.toPandas(), out.schema)


def q_corpus_divergence_documents(spark, sf_dir):
    """One-row Jensen-Shannon drift alarm between the same two snapshot
    views: js divergence (nats) + per-side token totals and vocabulary
    sizes — the scalar a daily ingest job thresholds on."""
    from powershap_spark.caching import tracking_scope
    from powershap_spark.operators.text import corpus_divergence

    d = _read(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 7 != 1)
    new = d.filter(F.col("doc_id") % 7 != 2)
    with tracking_scope():  # see q_token_shift_documents
        out = corpus_divergence(old, new)
        return spark.createDataFrame(out.toPandas(), out.schema)


def q_pack_contiguous_documents(spark, sf_dir):
    """GPT-style contiguous packing: the documents corpus concatenated in
    doc_id order and cut into exact 256-token blocks crossing doc
    boundaries; one row per (block, doc) span. The only corpus-wide
    coordination is the exclusive prefix sum, computed with the two-phase
    range-bucketed scan (never Exchange SinglePartition); the oracle's
    SUM OVER (ORDER BY) is exactly the single-task plan that spelling
    avoids."""
    from powershap_spark.operators.sharding import pack_contiguous

    d = _read(spark, sf_dir, "documents")
    return pack_contiguous(d, block_tokens=256)


def q_bpe_merges_documents(spark, sf_dir):
    """Distributed BPE tokenizer induction (Sennrich 1508.07909): the
    first 12 merge rules learned live from the committed deterministic
    synth corpus. VALUE oracle via the powershap_selection fixture
    pattern (VERDICT r6 #1c): the iterative argmax chain is not
    SQL-expressible, so the input is FIXED (synth.documents — a pure
    hash function of (seed, doc_id, position), sf-independent) and the
    DuckDB oracle reads the committed expected merge table
    (tests/fixtures/bpe_merges_expected.parquet, regenerated by
    tools/make_fixtures.py) — the live induction must reproduce it
    bit-for-bit or the value hash diverges. Semantics are additionally
    pinned against a pure-python Sennrich reference in
    test_text_dedup_sim.py (tie-breaks, overlap handling, early stop,
    partitioning invariance)."""
    from powershap_spark import synth
    from powershap_spark.operators.text import bpe_learn

    d = synth.documents(spark, n_docs=600)
    return bpe_learn(d, n_merges=12)


def _clf_corpus(spark):
    """Fixed deterministic classifier corpus: synth.documents enriched with
    hash-keyed stopword / punctuation injections so the heuristic quality
    scorer actually spreads (plain synth text scores are near-constant —
    0.550..0.551 — which would degenerate the weak-label split). Every
    value remains a pure function of doc_id: sf-independent,
    partition-order-independent."""
    from powershap_spark import synth

    d = synth.documents(spark, n_docs=600)
    good = F.pmod(F.xxhash64("doc_id", F.lit(101)), F.lit(2)) == 0
    noisy = F.pmod(F.xxhash64("doc_id", F.lit(202)), F.lit(3)) == 0
    text = F.concat(
        F.col("text"),
        F.when(good, F.lit(" the and of to a in is it that for")).otherwise(
            F.lit("")
        ),
        F.when(noisy, F.lit(" !!! ??? ;;; ,,, ... :::")).otherwise(F.lit("")),
    )
    return d.select("doc_id", text.alias("text"))


def q_quality_classifier_documents(spark, sf_dir):
    """Fasttext-style quality/language gate trained IN the engine:
    hashing-trick logistic regression (featurize once -> persisted
    post-shuffle by part_id -> per-epoch one zero-Exchange Arrow grouped
    map emitting dim-sized gradient partials, driver reduce in part_id
    order, weight re-broadcast — the MLlib treeAggregate contract on the
    DataFrame API), then scored as PURE DataFrame ops (exploded features
    broadcast-joining the weight table). Weak labels distill the
    heuristic quality scorer (label = quality_score >= 0.58, the
    near-median of the enriched fixed corpus), the pattern real
    pipelines use to turn an expensive scorer into a cheap linear gate.
    VALUE oracle via the powershap_selection fixture pattern: the input
    is the FIXED deterministic _clf_corpus and the DuckDB oracle reads
    the committed expected scores
    (tests/fixtures/quality_clf_expected.parquet) — the live train+score
    run must reproduce them bit-for-bit. The trainer is additionally
    pinned against a numpy reference over the same partition grouping in
    test_classifier.py, and JVM inference against the numpy dot
    product."""
    from powershap_spark.operators.classifier import (
        featurize_hashed,
        score_logreg,
        train_logreg,
    )
    from powershap_spark.operators.text import quality_score

    d = _clf_corpus(spark).select(
        "doc_id",
        "text",
        (quality_score("text") >= 0.58).cast("int").alias("label"),
    )
    # featurize ONCE for real: materialize + cut lineage so training and
    # scoring both read the checkpointed features instead of re-running
    # the explode/aggregation shuffles (train_logreg's own persist is
    # scoped to its epochs and released in its finally)
    feat = featurize_hashed(d, label_col="label", dim=1024, n_parts=8)
    feat = feat.localCheckpoint(eager=True)
    w, _hist = train_logreg(feat, dim=1024, epochs=8, lr=5.0, n_parts=8)
    scored = score_logreg(feat, w, dim=1024)
    return (
        scored.join(feat.select("doc_id", "label"), "doc_id")
        .select(
            "doc_id",
            "label",
            F.round("score", 6).alias("score"),
            (F.col("score") >= 0.5).cast("int").alias("pred"),
        )
    )


# Fixed merge table for the bpe_encode oracle pair — the first 12 rules
# bpe_learn induces from the sf0.01 documents corpus, frozen as literals
# so the DuckDB oracle (a static SQL string) can replay the exact
# replace chain. Learning the table live is bpe_merges_documents'
# (rows-only) concern; applying a SHIPPED table is the encode contract.
_BPE_RULES = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"),
]


def q_bpe_encode_documents(spark, sf_dir):
    """BPE tokenizer APPLICATION (the encode half of bpe_learn): each
    whitespace token's characters merged through a fixed 12-rule table,
    one greedy left-to-right non-overlapping pass per rule, as a PURE
    PROJECTION — per-word chained replace expressions on a
    separator-wrapped symbol string (zero shuffle, whole-stage codegen).
    FULL value oracle: plain string replace has identical left-to-right
    non-overlap semantics in DuckDB, so the oracle replays the same
    chain from the same rule literals, token arrays compared
    value-for-value. The vocabulary-dictionary variant for
    production-sized rule tables (method='dict') is parity-pinned in
    test_text_dedup_sim.py."""
    from powershap_spark.operators.text import bpe_encode

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    out = bpe_encode(d, _BPE_RULES)
    # Scalar-only output: the driver canonicalizer sorts raw column values
    # and cannot hash array cells, so emit the token list as one
    # space-joined string (array_to_string on the oracle side).
    return out.select(
        "doc_id",
        F.array_join("tokens", " ").alias("tokens"),
        F.size("tokens").cast("int").alias("n_tokens"),
    )


def _bpe_encode_oracle_sql() -> str:
    """Mirrors q_bpe_encode_documents: same tokenization, same
    separator-wrapped replace chain from the same _BPE_RULES literals
    (sep = chr(1))."""
    s = (
        "array_to_string(list_transform("
        "regexp_extract_all(replace(w, chr(1), ''), '.'), "
        "c -> chr(1) || c || chr(1)), '')"
    )
    for a, b in _BPE_RULES:
        s = (
            f"replace({s}, chr(1)||'{a}'||chr(1)||chr(1)||'{b}'||chr(1), "
            f"chr(1)||'{a}{b}'||chr(1))"
        )
    word = (
        f"list_filter(string_split(trim({s}, chr(1)), "
        "chr(1)||chr(1)), t -> length(t) > 0)"
    )
    return f"""
        WITH t AS (
          SELECT doc_id,
                 CASE WHEN length(trim(text)) = 0
                      THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(trim(lower(text)), '\\s+')
                 END AS ws
          FROM documents),
        e AS (
          SELECT doc_id,
                 coalesce(flatten(list_transform(ws, w -> {word})),
                          CAST([] AS VARCHAR[])) AS tokens
          FROM t)
        SELECT doc_id, array_to_string(tokens, ' ') AS tokens,
               len(tokens)::INT AS n_tokens FROM e
    """


def q_vocab_ids_documents(spark, sf_dir):
    """The last tokenizer stage: frequency-ranked vocab (top 32 + <unk>)
    built with TakeOrderedAndProject (bounded per-partition heaps, never
    a corpus-vocabulary sort), then tokens -> input_ids via a BROADCAST
    vocab join with OOV mapped to unk and counted. Full value oracle:
    DuckDB rebuilds the same ranked vocab (count desc, token asc
    tie-break) and replays the mapping."""
    from powershap_spark.operators.text import build_vocab, tokens_to_ids
    from powershap_spark.operators.text import _tokens

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    vocab = build_vocab(d, size=32)
    toks = d.select("doc_id", _tokens("text").alias("tokens"))
    out = tokens_to_ids(toks, vocab)
    # Scalar-only output for the driver canonicalizer (see
    # q_bpe_encode_documents): ids space-joined into one string.
    return out.select(
        "doc_id",
        F.array_join(F.transform("input_ids", lambda x: x.cast("string")), " ").alias(
            "input_ids"
        ),
        F.coalesce(F.col("n_unk"), F.lit(0)).cast("int").alias("n_unk"),
        F.size("input_ids").cast("int").alias("n_ids"),
    )


def _vocab_ids_oracle_sql() -> str:
    """Mirrors q_vocab_ids_documents: same tokenization, same (count
    desc, token asc) rank with LIMIT 32, OOV -> 0, ids in position
    order."""
    return """
        WITH d AS (
          SELECT doc_id,
                 CASE WHEN length(trim(text)) = 0
                      THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(trim(lower(text)), '\\s+')
                 END AS ws
          FROM documents),
        t AS (
          SELECT doc_id, unnest(ws) AS tok,
                 unnest(range(len(ws))) AS pos
          FROM d),
        v AS (
          SELECT token,
                 (row_number() OVER (ORDER BY cnt DESC, token ASC))::INT AS id
          FROM (SELECT tok AS token, count(*) AS cnt FROM t
                WHERE tok != '<unk>' AND length(tok) > 0 GROUP BY 1)
          ORDER BY cnt DESC, token ASC LIMIT 32),
        m AS (
          SELECT t.doc_id, t.pos,
                 coalesce(v.id, 0)::INT AS id,
                 (v.id IS NULL)::INT AS unk
          FROM t LEFT JOIN v ON t.tok = v.token),
        g AS (
          SELECT doc_id,
                 list(id ORDER BY pos) AS input_ids,
                 sum(unk)::INT AS n_unk
          FROM m GROUP BY doc_id)
        SELECT d.doc_id,
               array_to_string(coalesce(g.input_ids, CAST([] AS INT[])), ' ')
                 AS input_ids,
               coalesce(g.n_unk, 0)::INT AS n_unk,
               len(coalesce(g.input_ids, CAST([] AS INT[])))::INT AS n_ids
        FROM d LEFT JOIN g ON d.doc_id = g.doc_id
    """


def q_tfidf_keywords_documents(spark, sf_dir):
    """Per-doc top-5 tf-idf keywords (metadata enrichment / routing).
    tf collapses map-side on (doc, xxhash64(token)); df is a window
    count over the 8-byte token hash on the collapsed relation; ranking
    compares the 6dp-rounded score on BOTH engines so a 1-ulp ln()
    difference cannot flip a keyword."""
    from powershap_spark.operators.text import tfidf_keywords

    d = _read(spark, sf_dir, "documents")
    return tfidf_keywords(d, k=5)


def q_corpus_stats_windowed(spark, sf_dir):
    """Event-time windowed corpus monitoring (streaming_corpus_stats run
    in its batch mode — same code path the corpus-stats parity test
    drives with readStream): per (hourly window, lang) doc count, mean
    quality, total whitespace tokens. Event time is derived deterministically
    from doc_id (one doc per minute from 2024-01-01 00:00 UTC) so the
    DuckDB oracle reproduces the exact same windows with time_bucket."""
    from powershap_spark.operators.text import streaming_corpus_stats

    d = _read(spark, sf_dir, "documents").withColumn(
        "ts", F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") * 60)
    )
    return streaming_corpus_stats(d, "1 hour", "0 seconds")


def q_dedup_keep_best_documents(spark, sf_dir):
    """Curation policy on top of near-dup clustering: keep the
    HIGHEST-QUALITY document per duplicate cluster (tie -> min doc_id)
    instead of the min-id representative — the composition a production
    pipeline actually runs (cluster -> score -> argmax). Clusters are
    the same exact-Jaccard components as dedup_clusters_documents;
    quality is the heuristic scorer rounded to 6dp on BOTH engines so
    the argmax compares identical keys. One row_number window over
    (component) on the cluster-sized relation."""
    from pyspark.sql import Window

    from powershap_spark.operators.text import quality_score

    comp = q_dedup_clusters_documents(spark, sf_dir)
    d = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    q = d.select("doc_id", F.round(quality_score("text"), 6).alias("quality"))
    scored = comp.join(q, "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select("component", "doc_id", "quality")
    )


def q_deterministic_sample_documents(spark, sf_dir):
    """Reproducible hash-based sampling (poly family so DuckDB recomputes
    the exact membership set): the sampled doc_id set is a pure function of
    (key, seed, fraction) — identical across partitionings, reruns, and
    cluster sizes, unlike df.sample's layout-dependent RNG."""
    from powershap_spark.operators.dedup import deterministic_sample

    d = _read(spark, sf_dir, "documents").select("doc_id")
    return deterministic_sample(d, "doc_id", 0.25, seed=7, hash_family="poly")


def q_shuffle_shards_documents(spark, sf_dir):
    """Reproducible global training-order shuffle: every doc gets a
    (shard, pos) pair that is a pure function of (doc_id, seed) — the
    epoch permutation a data loader consumes, identical across reruns
    and cluster sizes (df.orderBy(rand()) is neither). pos is a window
    PARTITIONED BY shard (parallel across shards), never the
    Exchange-SinglePartition funnel a naive global orderBy+row_number
    would plan. Poly hash family so the DuckDB oracle reproduces the
    exact permutation from the same affine literals."""
    from powershap_spark.operators.sharding import deterministic_shuffle_shards

    d = _read(spark, sf_dir, "documents").select("doc_id")
    return deterministic_shuffle_shards(
        d, "doc_id", n_shards=8, seed=11, hash_family="poly"
    )


def q_stratified_sample_documents(spark, sf_dir):
    """Corpus mixing: per-language deterministic sampling rates in one
    filter pass (en kept at 50%, de at 15%, everything else at 5%) — the
    operator that re-weights a raw crawl into a training mix. Same poly
    hash family as deterministic_sample so DuckDB recomputes the exact
    membership set from the same affine literals."""
    from powershap_spark.operators.dedup import stratified_sample

    d = _read(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(
        d, "doc_id", "lang", {"en": 0.5, "de": 0.15},
        default_fraction=0.05, seed=7, hash_family="poly",
    )


def q_token_budget_shards_documents(spark, sf_dir):
    """Token-budget sharding: contiguous-in-id training shards of ~4096
    whitespace tokens via a corpus-wide EXCLUSIVE prefix sum — computed
    with the two-phase range-bucketed scan (operators/sharding.py), never
    an Exchange SinglePartition (plan-asserted in test_sharding.py; the
    oracle's SUM ... OVER (ORDER BY) is exactly the single-task plan the
    operator exists to avoid)."""
    from powershap_spark.operators.sharding import token_budget_shards

    d = _read(spark, sf_dir, "documents")
    return token_budget_shards(d, budget_tokens=4096, n_buckets=8)


def q_quota_sample_documents(spark, sf_dir):
    """Exact-quota sampling: precisely min(30, stratum size) docs per
    language, selected as the 30 smallest deterministic hash draws
    (poly family so DuckDB replays the draw). The prefilter_factor path
    (verified per-stratum pre-cut before the rank window) returns a
    bit-identical set — asserted in test_sharding.py."""
    from powershap_spark.operators.dedup import stratified_quota_sample

    d = _read(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_quota_sample(
        d, "doc_id", "lang", 30, seed=7, hash_family="poly"
    )


def q_profile_lineitem(spark, sf_dir):
    """Pre-training data-quality gate: row/null counts, mean, range, and
    EXACT p50/p95 for four lineitem measures — all columns in ONE
    partial+final aggregate (single scan; the per-column rows come from
    exploding the one aggregate row)."""
    from powershap_spark.operators.profile import profile_numeric

    li = _read(spark, sf_dir, "lineitem")
    return profile_numeric(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def q_entity_split_events(spark, sf_dir):
    """Entity-disjoint 80/10/10 split keyed on user_id (poly family so
    DuckDB replays the draw): every row of a user lands in one split —
    zero cross-split leakage for grouped data. Output is the per-split
    audit (row + entity counts); entity-disjointness itself is structural
    (the split is a pure function of user_id) and pytest-asserted."""
    from powershap_spark.operators.dedup import entity_split

    e = _read(spark, sf_dir, "events")
    return (
        entity_split(
            e, "user_id", {"train": 0.8, "val": 0.1, "test": 0.1},
            seed=7, hash_family="poly",
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("user_id").alias("n_entities"),
        )
    )


def q_pack_sequences_documents(spark, sf_dir):
    """LLM sample packing: first-fit-decreasing into <=512-token bins,
    run independently inside token-budget shards so the sequential FFD
    never sees more than ~8 bins' worth of docs at once. VALUE oracle
    via the powershap_selection fixture pattern: FFD is not
    SQL-expressible, so the input is the FIXED deterministic synth
    corpus and the DuckDB oracle reads the committed expected assignment
    (tests/fixtures/pack_sequences_expected.parquet) — the live
    shard-cut + per-shard FFD must reproduce it bit-for-bit. Capacity,
    exactly-once assignment, determinism across partitionings, and
    packing quality are additionally pytest-asserted in
    test_sharding.py."""
    from powershap_spark import synth
    from powershap_spark.operators.sharding import pack_sequences

    d = synth.documents(spark, n_docs=600)
    return pack_sequences(d, 512, shard_budget_factor=8, n_buckets=8)


def q_event_transitions(spark, sf_dir):
    """Action-sequence mining: the corpus-wide Markov transition counts
    over consecutive event types within each user's timeline (which action
    follows which) — one per-entity lag window + a partial+final count."""
    from powershap_spark.operators.windows import transition_counts

    e = _read(spark, sf_dir, "events")
    return transition_counts(
        e, "user_id", ["ts", "event_id"], "event_type", out_prev="prev_type"
    )


def q_token_counts(spark, sf_dir):
    from powershap_spark.operators.text import bpe_ish_token_count, token_count

    d = _read(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_ws_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
    )


def q_lang_id_documents(spark, sf_dir):
    from powershap_spark.operators.text import lang_id

    d = _read(spark, sf_dir, "documents")
    return (
        d.select(lang_id("text").alias("pred_lang"))
        .groupBy("pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )


def q_quality_score_documents(spark, sf_dir):
    from powershap_spark.operators.text import quality_score

    d = _read(spark, sf_dir, "documents")
    return d.select("doc_id", F.round(quality_score("text"), 6).alias("quality"))


def q_fingerprint_documents(spark, sf_dir):
    from powershap_spark.operators.text import rolling_fingerprint

    d = _read(spark, sf_dir, "documents")
    return d.select("doc_id", rolling_fingerprint("text").alias("fingerprint"))


def q_pii_scrub_documents(spark, sf_dir):
    """PII scrubbing over documents with deterministically injected PII
    (the synthetic corpus contains none): per-category match counts + the
    redacted text. Both engines apply identical injection and the same
    Java/RE2-shared regexes."""
    from powershap_spark.operators.scrub import scrub_pii

    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            " ",
            F.col("text"),
            F.concat(F.lit("user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
            F.concat(
                F.lit("http://site"),
                F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
                F.lit(".example/x"),
            ),
            F.when(
                F.pmod(F.col("doc_id"), F.lit(3)) == 0,
                F.concat(
                    F.lit("10.0."),
                    F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
                    F.lit(".1"),
                ),
            ),
            F.when(F.pmod(F.col("doc_id"), F.lit(5)) == 0, F.lit("555-123-4567")),
        ).alias("text"),
    )
    out = scrub_pii(d, "text")
    return out.select(
        "doc_id", "n_url", "n_email", "n_ipv4", "n_phone", "text_scrubbed"
    )


def q_curation_pipeline_documents(spark, sf_dir):
    """Fused single-scan curation pipeline (operators/curate.py): PII scrub
    -> stopword-vote language gate + quality floor -> exact dedup (min id
    per normalized scrubbed text, single-pass min_by aggregate — no
    join-back) -> deterministic poly-hash sample. One scan, one shuffle.

    The synthetic corpus has no exact dupes and no PII, so the query
    deterministically injects both: every 7th doc becomes one of three
    boilerplate pages (they survive the en gate and collapse to the min id
    per variant), the rest get appended email+URL PII (redacted by the
    scrub, counted per category). The DuckDB oracle replays the identical
    injection and chain."""
    from powershap_spark.operators.curate import curate_corpus

    did = F.col("doc_id")
    boiler = F.concat(
        F.lit("please subscribe to the newsletter of site"),
        F.pmod(did, F.lit(3)).cast("string"),
        F.lit(" and share it that is all for now we thank you"),
    )
    pii = F.concat_ws(
        " ",
        F.col("text"),
        F.concat(F.lit("user"), did.cast("string"), F.lit("@example.com")),
        F.concat(
            F.lit("http://site"),
            F.pmod(did, F.lit(7)).cast("string"),
            F.lit(".example/x"),
        ),
    )
    d = _read(spark, sf_dir, "documents").select(
        "doc_id", F.when(F.pmod(did, F.lit(7)) == 0, boiler).otherwise(pii).alias("text")
    )
    out = curate_corpus(
        d,
        langs=("en", "de"),
        min_quality=0.6,
        sample_fraction=0.5,
        seed=7,
        hash_family="poly",
    )
    return out.select(
        "doc_id",
        "pred_lang",
        F.round("quality", 6).alias("quality"),
        "n_url",
        "n_email",
        "n_ipv4",
        "n_phone",
        "text_scrubbed",
    )


def q_repetition_documents(spark, sf_dir):
    """Boilerplate/repetition quality signals (Gopher-style duplicate-token
    and duplicate-bigram ratios) per document."""
    from powershap_spark.operators.text import repetition_ratios

    d = _read(spark, sf_dir, "documents")
    r = repetition_ratios("text", n=2)
    return d.select(
        "doc_id",
        F.round(r["dup_token_ratio"], 6).alias("dup_token_ratio"),
        F.round(r["dup_2gram_ratio"], 6).alias("dup_2gram_ratio"),
    )


def q_chunk_tokens_documents(spark, sf_dir):
    """Sequence chunking: each document's token stream split into fixed
    32-token training windows, one row per chunk (pure explode+slice)."""
    from powershap_spark.operators.text import chunk_tokens

    d = _read(spark, sf_dir, "documents")
    return chunk_tokens(d, max_tokens=32)


def q_contamination_documents(spark, sf_dir):
    """N-gram decontamination: training docs sharing >= 1 distinct word
    3-gram with the 'benchmark' corpus (every 50th doc stands in for an
    eval suite). String-shingle family so DuckDB recomputes the overlap."""
    from powershap_spark.operators.dedup import benchmark_contamination

    d = _read(spark, sf_dir, "documents")
    bench = d.filter(F.pmod(F.col("doc_id"), F.lit(50)) == 0)
    return benchmark_contamination(d, bench, hash_family="poly")


def _inject_url_expr():
    """Deterministic messy-URL construction shared (in spirit) with the
    DuckDB oracle: mixed-case scheme/host, default ports, trailing
    slashes, tracking params, fragments — keyed off doc_id."""
    d = F.col("doc_id")
    s = lambda x: x.cast("string")
    return F.concat(
        F.lit("HTTP://ExAmple"), s(F.pmod(d, F.lit(10))), F.lit(".COM"),
        F.when(F.pmod(d, F.lit(4)) == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/path"), s(F.pmod(d, F.lit(7))),
        F.when(F.pmod(d, F.lit(3)) == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.pmod(d, F.lit(2)) == 0,
            F.concat(F.lit("?utm_source=abc&q="), s(d)),
        ).otherwise(F.lit("")),
        F.when(F.pmod(d, F.lit(5)) == 0, F.lit("#frag")).otherwise(F.lit("")),
    )


def q_url_canonicalize_documents(spark, sf_dir):
    """Web-corpus URL canonicalization over deterministically injected
    messy URLs; the DuckDB oracle applies the SAME rewrite-chain literals
    (URL_CANON_STEPS, $N translated to RE2 backrefs)."""
    from powershap_spark.operators.scrub import canonicalize_url

    d = _read(spark, sf_dir, "documents").select(
        "doc_id", _inject_url_expr().alias("url")
    )
    return d.select("doc_id", "url", canonicalize_url("url").alias("canonical_url"))


def _inject_html_expr():
    """Deterministic HTML page wrapped around documents.text (entity-
    escaped), with the boilerplate a real crawl page carries: head with
    title/script/style, a comment, a nav list, a heading, the content
    paragraph, a table, a footer. The DuckDB oracle rebuilds the SAME
    string (see _html_extract_oracle_sql)."""
    esc = F.col("text")
    for a, b in [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")]:
        esc = F.replace(esc, F.lit(a), F.lit(b))
    i = F.col("doc_id").cast("string")
    return F.concat(
        F.lit("<html><head><title>Doc "), i,
        F.lit("</title><script>var x = 1;</script>"
              "<style>.nav{color:red}</style></head><body>"),
        F.lit("<!-- nav boilerplate --><div class=\"nav\"><ul><li>Home</li>"
              "<li>About</li><li>Contact</li></ul></div>"),
        F.lit("<h1>Document "), i, F.lit(" heading</h1><p>"), esc,
        F.lit("</p><br><table><tr><td>k</td><td>v</td></tr></table>"),
        F.lit("<footer>&copy; 2026 Example &amp; Co. All rights reserved."
              "</footer></body></html>"),
    )


def q_html_extract_documents(spark, sf_dir):
    """HTML -> visible-text extraction (the CCNet/RefinedWeb step between
    WARC ingest and the text pipeline) over deterministically injected
    full pages: script/style/comment/head dropped, block tags -> line
    breaks, entities decoded, short boilerplate lines (< 3 words: nav
    items, table cells) filtered. Pure JVM regexp/array expressions — a
    100-TB extraction is one mapper pass fused with the WARC parse. The
    DuckDB oracle rebuilds the same page and applies the SAME rewrite
    literals (HTML_BLOCK_DROP/HTML_NEWLINE_TAGS/HTML_ANY_TAG/
    HTML_ENTITIES), pinning the extraction byte-for-byte."""
    from powershap_spark.operators.scrub import extract_html_text

    d = _read(spark, sf_dir, "documents").select(
        "doc_id", _inject_html_expr().alias("html")
    )
    out = d.select("doc_id", extract_html_text("html").alias("text"))
    return out.select(
        "doc_id",
        "text",
        F.when(F.length("text") == 0, F.lit(0))
        .otherwise(F.size(F.split(F.col("text"), "\n")))
        .cast("int")
        .alias("n_lines"),
        F.length("text").cast("int").alias("n_chars"),
    )


def q_topk_ngrams_documents(spark, sf_dir):
    """Corpus-level boilerplate mining: the 20 most frequent word bigrams
    with occurrence counts (map-side-combined aggregation + global top-k,
    never a full sort)."""
    from powershap_spark.operators.text import topk_ngrams

    d = _read(spark, sf_dir, "documents")
    return topk_ngrams(d, n=2, k=20)


def q_jsonl_ingest_docs(spark, sf_dir):
    """JSONL corpus ingest (explicit schema + PERMISSIVE corrupt-record
    policy) over the committed fixture shard; the query returns the CLEAN
    rows — DuckDB's read_json(ignore_errors) oracle skips the same two
    malformed lines. Quarantine accounting is pytest-covered
    (corrupt_stats)."""
    from powershap_spark.sources.jsonl import read_jsonl

    df = read_jsonl(spark, f"{_FIXTURE_DIR}/docs_small.jsonl", mode="permissive")
    return (
        df.filter(F.col("_corrupt_record").isNull())
        .select("doc_id", "text", "lang", "url")
    )


def q_csv_ingest_docs(spark, sf_dir):
    """CSV corpus ingest (explicit schema + PERMISSIVE corrupt-record
    policy) over the committed fixture shard; returns the CLEAN rows —
    under full-schema materialization permissive tags BOTH the
    type-failure line and the arity-shortfall line corrupt (the short
    row keeps its parsed fields but carries _corrupt_record), so the
    clean set excludes both. The DuckDB oracle mirrors that with
    ignore_errors (skips the type failure) + the fixture's one null-url
    row filtered (the padded arity row). Quarantine accounting and the
    dropmalformed/failfast modes are pytest-covered (test_compat_io)."""
    from powershap_spark.sources.csvio import read_csv

    df = read_csv(spark, f"{_FIXTURE_DIR}/docs_small.csv", mode="permissive")
    return (
        df.filter(F.col("_corrupt_record").isNull())
        .select("doc_id", "text", "lang", "url")
    )


def q_warc_ingest_docs(spark, sf_dir):
    """WARC (Common Crawl container) ingest over the committed fixture
    shard: splittable lineSep record splitting + JVM-regex header
    extraction + Content-Length payload slicing; returns the PARSED
    records (the malformed one is quarantined — pytest-covered with the
    false-split trap). The DuckDB oracle re-implements the same
    delimiter-split + header-regex + slice pipeline over read_text, so
    the value-green row pins the full parse, payload bytes included."""
    from powershap_spark.sources.warc import read_warc

    df = read_warc(spark, f"{_FIXTURE_DIR}/docs_small.warc")
    return df.filter(~F.col("_warc_malformed")).select(
        "warc_type", "target_uri", "warc_date", "record_id",
        "content_length", "payload",
    )


def q_embedding_topk(spark, sf_dir):
    from powershap_spark.operators.similarity import brute_force_topk

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = brute_force_topk(emb, queries, k=5)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cosine"), "rank"
    )


def q_quantized_topk_embeddings(spark, sf_dir):
    """int8-quantized brute-force cosine top-k (the 4x-smaller embedding
    store): per-vector symmetric quantization with floor(x/scale + 0.5)
    rounding chosen so the DuckDB oracle reproduces every quantized value
    bit-exactly; cosine of the quantized vectors is an exact integer
    dot/norm ratio on both engines."""
    from powershap_spark.operators.similarity import quantized_topk

    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = quantized_topk(emb, queries, k=5)
    return out.select(
        "query_id", "vec_id", F.round("qcosine", 4).alias("qcosine"), "rank"
    )


# --- engine-internal hash family swapped for the oracle-replicable "poly"
# family in the checked queries (xxhash64 stays the default scale path and
# is benched directly; see powershap_spark/operators/dedup.py) ---


def q_minhash_dedup_documents(spark, sf_dir):
    from powershap_spark.operators.dedup import minhash_dedup

    d = _read(spark, sf_dir, "documents")
    return minhash_dedup(
        d, "text", "doc_id", num_hashes=16, bands=4, threshold=0.7,
        hash_family="poly",
    ).select("doc_id", "lang", "source")


def q_incremental_minhash_dedup(spark, sf_dir):
    """Daily-ingest shape: the last ~30% of documents (by id) arrive as a
    NEW shard and dedup against the persisted signature store of the first
    ~70% — no corpus re-scan. The oracle is the full-corpus dedup
    restricted to shard ids (the operator's exactness contract)."""
    from powershap_spark.operators.dedup import (
        build_minhash_signature_store,
        incremental_minhash_dedup,
    )

    d = _read(spark, sf_dir, "documents")
    max_id = d.agg(F.max("doc_id")).collect()[0][0]
    cutoff = int(max_id) * 7 // 10
    old = d.filter(F.col("doc_id") < cutoff)
    new = d.filter(F.col("doc_id") >= cutoff)
    store = build_minhash_signature_store(old, num_hashes=16, hash_family="poly")
    kept, _sigs = incremental_minhash_dedup(
        new, store, num_hashes=16, bands=4, threshold=0.7, hash_family="poly"
    )
    return kept.select("doc_id", "lang", "source")


def q_dedup_lines_documents(spark, sf_dir):
    """C4/RefinedWeb-style line-level scrub. The testdata documents are
    single-line, so the query exercises the operator at sep=' ' — scrub
    corpus-frequent units (>= 50 occurrences) of length >= 6 chars, keep
    everything shorter. Same operator, same two-shuffle plan; pytest
    covers the newline case.

    n_removed is emitted as DOUBLE: the frozen oracle's uncast
    SUM(CASE...) yields DuckDB HUGEINT, which pandas converts to float64
    — the r7 driver row was red on exactly that dtype under the
    dtype-sensitive value hash (VERDICT r7 #1) with every value equal.
    Casting the Spark side makes both canonical frames float64."""
    from powershap_spark.operators.text import dedup_lines

    d = _read(spark, sf_dir, "documents")
    return dedup_lines(
        d, min_count=50, min_chars=6, sep=" "
    ).withColumn("n_removed", F.col("n_removed").cast("double"))


def q_dedup_spans_documents(spark, sf_dir):
    """Exact substring dedup (Lee et al., arXiv:2107.06499) at token
    granularity: scrub every token covered by a 5-gram whose exact token
    sequence occurs >= 2 times corpus-wide. The operator counts xxhash64
    gram digests (8-byte shuffle key; text never shuffles — dup starts
    broadcast back); the oracle counts the gram strings themselves, so
    the value-green row evidences the content-hash contract."""
    from powershap_spark.operators.text import dedup_ngram_spans

    d = _read(spark, sf_dir, "documents")
    return dedup_ngram_spans(d, k=5, min_count=2)


def q_upsample_mixture_documents(spark, sf_dir):
    """LLaMA-style fractional-epoch mixture weighting: de x2.4, en x0.7,
    everything else x1.3 — floor(w) guaranteed copies plus a
    deterministic-Bernoulli top-up on frac(w), numbered copy_idx. Poly
    hash family so DuckDB reproduces the exact per-row copy count from
    the same affine literals."""
    from powershap_spark.operators.dedup import upsample_mixture

    d = _read(spark, sf_dir, "documents").select("doc_id", "lang")
    return upsample_mixture(
        d, "doc_id", "lang", {"en": 0.7, "de": 2.4},
        default_weight=1.3, seed=7, hash_family="poly",
    )


def q_lm_perplexity_documents(spark, sf_dir):
    """CCNet-style perplexity filter (Wenzek et al., arXiv:1911.00359),
    self-trained: add-0.5-smoothed bigram LM fit on the corpus in the
    same job that scores it. Corpus counts are window counts over
    xxhash64 of the context/bigram (8-byte shuffle keys; token strings
    never shuffle); the oracle recounts over the token STRINGS, so the
    value-green row evidences the content-hash contract."""
    from powershap_spark.operators.text import lm_perplexity

    d = _read(spark, sf_dir, "documents")
    return lm_perplexity(d, add_k=0.5)


def q_corpus_diff_documents(spark, sf_dir):
    """Snapshot-versioning diff: synthesize an 'old' and a 'new' corpus
    view from the documents table (ids %7==1 appear only in new -> added,
    %7==2 only in old -> removed, %7==3 get edited text -> changed) and
    emit the content-level change set. The operator compares xxhash64
    digests so the shuffle carries 16 B/row; the oracle compares the text
    itself — agreement IS the content-hash contract."""
    from powershap_spark.operators.dedup import corpus_diff

    d = _read(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 7 != 1)
    new = d.filter(F.col("doc_id") % 7 != 2).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 3, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return corpus_diff(old, new)


def q_simhash_documents(spark, sf_dir):
    """r8: frame-level simhash (explode + codegen vote aggregate) —
    value-identical to the per-row expression fold (parity pytest), one
    hash per distinct token instead of a 64-wide interpreted array fold
    per token."""
    from powershap_spark.operators.dedup import simhash_frame

    d = _read(spark, sf_dir, "documents")
    return simhash_frame(d, hash_family="poly").select(
        "doc_id", F.col("simhash").alias("simhash64")
    )


def q_lsh_topk_embeddings(spark, sf_dir):
    from powershap_spark.operators.similarity import lsh_topk

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = lsh_topk(emb, queries, k=5, n_planes=4, hash_family="poly")
    return out.select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cosine"), "rank"
    )


def q_lsh_topk_banded_embeddings(spark, sf_dir):
    """OR-construction ANN: candidates collide in ANY of 3 sign-LSH bands
    (8 planes each, band b seeded 5+b), exact cosine rerank within the
    candidate union. Recall is monotone in n_bands (see
    tools/bench_ann_recall.py + BENCH/ANALYSIS_r06 §5)."""
    from powershap_spark.operators.similarity import lsh_topk

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = lsh_topk(emb, queries, k=5, n_planes=8, n_bands=3, hash_family="poly")
    return out.select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cosine"), "rank"
    )


def q_ivf_topk_embeddings(spark, sf_dir):
    """IVF ANN: stride centroids (deterministic coarse quantizer), nprobe=2,
    exact cosine within probed cells."""
    from powershap_spark.operators.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivf_topk(emb, queries, k=5, stride=64, nprobe=2)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cosine"), "rank"
    )


def q_embedding_cosine_dedup(spark, sf_dir):
    """Embedding near-dup removal: BANDED sign-LSH candidate pairs (4 bands
    of 8 planes — narrow buckets keep the self-join ~linear, bands buy back
    recall; poly family so the oracle can rebuild every band's buckets),
    cosine >= 0.9 drops the higher vec_id."""
    from powershap_spark.operators.similarity import embedding_cosine_dedup

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # persist=False registers nothing, so repeated driver calls accumulate
    # no cached DataFrames, and the returned plan is the band join itself
    return embedding_cosine_dedup(
        emb, threshold=0.9, n_planes=8, n_bands=4, hash_family="poly", persist=False
    ).select("vec_id")


import os as _os

_FIXTURE_DIR = _os.path.join(
    _os.path.dirname(_os.path.abspath(__file__)), "tests", "fixtures"
)


def q_transcript_features(spark, sf_dir):
    """The transcript feature pipeline (turn_features + point-in-time as-of
    matrix) over the committed deterministic synth fixture — which the DuckDB
    oracle reads via read_parquet, replicating every window + the ASOF join.
    Floats rounded to 6 on both sides."""
    from powershap_spark.pipeline import point_in_time_matrix, turn_features

    t = spark.read.parquet(f"{_FIXTURE_DIR}/transcripts_small.parquet")
    p = spark.read.parquet(f"{_FIXTURE_DIR}/probes_small.parquet")
    out = point_in_time_matrix(turn_features(t), p)
    dbl = [f.name for f in out.schema.fields if f.dataType.typeName() == "double"]
    return out.select(
        *[
            F.round(c, 6).alias(c) if c in dbl else F.col(c)
            for c in out.columns
        ]
    )


_SEL_ORACLE_CK = None


def _selection_iterations(spark):
    """Run the flagship selection loop (deterministic synth input, 5
    iterations, a genuine 2-partition grid via part_by) with per-iteration
    checkpointing, then load the persisted LONG iterations table back as a
    Spark DataFrame. The run is bit-deterministic (positional probe seeds,
    sklearn-exact splits, vendored numpy models), so its partials equal the
    committed fixture copy regenerated by tools/make_fixtures.py and pinned
    by tests/test_entry.py."""
    import atexit
    import glob
    import shutil
    import tempfile

    from powershap_spark import synth
    from powershap_spark.pipeline import select_features

    # Per-PROCESS private scratch dir, wiped between invocations and removed
    # at exit: the checkpoint files must outlive this function (the returned
    # DataFrame reads them lazily), so a per-call mkdtemp would leak one dir
    # per bench repeat — while a fixed /tmp name raced concurrent pytest
    # workers / bench runs rmtree-ing each other mid-read and is a
    # symlink-attack smell on shared hosts (ADVICE r3).
    global _SEL_ORACLE_CK
    if _SEL_ORACLE_CK is None:
        _SEL_ORACLE_CK = tempfile.mkdtemp(prefix="powershap_sel_oracle_")
        atexit.register(shutil.rmtree, _SEL_ORACLE_CK, ignore_errors=True)
    ck = _SEL_ORACLE_CK
    shutil.rmtree(ck, ignore_errors=True)
    t = synth.transcripts(spark, n_conv=300, mean_turns=15)
    p = synth.probes(spark, t, probe_frac=0.3)
    select_features(
        t,
        p,
        power_iterations=5,
        n_parts=2,
        part_by="conv_id",
        checkpoint_dir=ck,
        run_id="oracle",
    )
    files = sorted(glob.glob(_os.path.join(ck, "oracle", "iter=main.*.parquet")))
    assert files, "selection checkpoints missing"
    return spark.read.parquet(*files).select(
        "iteration", "part_id", "feature", "mean_abs_shap", "n_val_rows"
    )


def q_powershap_selection(spark, sf_dir):
    """The flagship loop with a VALUE oracle on its statistics (VERDICT r2
    'Next round' #2): every iteration's per-partition partials are
    checkpointed (per-partition lineage), per-feature impact (A3+A4) and the
    tie-aware percentile p-value (A6) are recomputed DISTRIBUTIVELY from the
    persisted long table, and the DuckDB oracle recomputes both from the
    committed fixture copy of that table. The model fits themselves are not
    SQL-expressible, but their outputs ARE value-checked here: the live
    run's mean_abs_shap partials must match the fixture bit-for-bit or the
    value hash diverges."""
    from powershap_spark.stats import selection_statistics_spark

    out = selection_statistics_spark(_selection_iterations(spark))
    return out.select(
        "feature",
        F.round("impact", 6).alias("impact"),
        F.round("p_value", 6).alias("p_value"),
    )


_STUMPS_ORACLE_CK = None


def _stumps_selection_iterations(spark):
    """Distributed nonlinear-selection run: the gradient-boosted-stumps
    kernel through the SAME applyInPandas partition grid as the flagship
    loop (2 hash partitions via part_by, per-iteration checkpointing),
    returning the persisted LONG iterations table. Bit-deterministic
    (seeded probes, quantile threshold grid with first-argmin tie-break),
    so the partials must equal the committed fixture copy — proving the
    nonlinear kernel is bit-stable under partitioning, not just in the
    driver-side pandas path that q_stumps_selection exercises."""
    import atexit
    import glob
    import shutil
    import tempfile

    from powershap_spark import synth
    from powershap_spark.engine import PowerShapSelector
    from powershap_spark.kernel import GradientBoostedStumpsModel
    from powershap_spark.pipeline import select_features

    global _STUMPS_ORACLE_CK
    if _STUMPS_ORACLE_CK is None:
        _STUMPS_ORACLE_CK = tempfile.mkdtemp(prefix="powershap_stumps_oracle_")
        atexit.register(shutil.rmtree, _STUMPS_ORACLE_CK, ignore_errors=True)
    ck = _STUMPS_ORACLE_CK
    shutil.rmtree(ck, ignore_errors=True)
    t = synth.transcripts(spark, n_conv=300, mean_turns=15)
    p = synth.probes(spark, t, probe_frac=0.3)
    sel = PowerShapSelector(
        model=GradientBoostedStumpsModel(n_stumps=20),
        power_iterations=5,
        n_parts=2,
        part_by="conv_id",
        sort_cols=["conv_id", "ts"],
        min_rows_per_part=100,
        checkpoint_dir=ck,
        run_id="stumps_oracle",
    )
    select_features(t, p, selector=sel)
    files = sorted(
        glob.glob(_os.path.join(ck, "stumps_oracle", "iter=main.*.parquet"))
    )
    assert files, "stumps selection checkpoints missing"
    return spark.read.parquet(*files).select(
        "iteration", "part_id", "feature", "mean_abs_shap", "n_val_rows"
    )


def q_stumps_selection_spark(spark, sf_dir):
    """Nonlinear selection statistics recomputed distributively from the
    stumps run's checkpointed partials (same A3/A4/A6 aggregation as
    q_powershap_selection); the DuckDB oracle recomputes them from the
    committed fixture copy of the long table — a bit-exactness check on
    the distributed stumps fits."""
    from powershap_spark.stats import selection_statistics_spark

    out = selection_statistics_spark(_stumps_selection_iterations(spark))
    return out.select(
        "feature",
        F.round("impact", 6).alias("impact"),
        F.round("p_value", 6).alias("p_value"),
    )


def _stumps_selection_pdf():
    """Deterministic nonlinear selection run (numpy only): the stumps
    kernel on a |x|-threshold signal the linear kernel cannot see."""
    import numpy as np
    import pandas as pd

    from powershap_spark.engine import PowerShapSelector
    from powershap_spark.kernel import GradientBoostedStumpsModel

    rng = np.random.RandomState(7)
    n = 1000
    X = pd.DataFrame(
        {
            "sym": rng.randn(n),
            "noise_a": rng.randn(n),
            "noise_b": rng.randn(n),
        }
    )
    y = (np.abs(X["sym"]) > 1.0).astype(np.int64).to_numpy()
    sel = PowerShapSelector(
        power_iterations=5, model=GradientBoostedStumpsModel(n_stumps=30)
    ).fit(X, y)
    out = sel._processed_shaps_df[["impact", "p_value"]].round(6).reset_index()
    out.columns = ["feature", "impact", "p_value"]
    return out.sort_values("feature").reset_index(drop=True)


def q_stumps_selection(spark, sf_dir):
    """Nonlinear (gradient-boosted stumps) powershap selection with an
    expected-output value oracle: the run is bit-deterministic (seeded
    probes, vendored numpy boosting), so its impact/p_value table must
    reproduce the committed fixture exactly."""
    return spark.createDataFrame(_stumps_selection_pdf())


def q_image_features_fake(spark, sf_dir):
    """Image feature extraction (deterministic fake decoder) over the
    committed media fixture. The numpy RandomState decode is not
    SQL-expressible, so the oracle is a committed expected-output fixture
    (the frame_sample/selection pattern): the live mapInPandas run must
    reproduce it bit-for-bit or the value hash diverges."""
    from powershap_spark.operators.multimodal import image_features

    media = spark.read.parquet(f"{_FIXTURE_DIR}/media_small.parquet")
    out = image_features(media, fake=True)
    return out.select(
        "doc_id",
        F.round("mean_intensity", 6).alias("mean_intensity"),
        F.round("std_intensity", 6).alias("std_intensity"),
    )


def q_image_resize_fake(spark, sf_dir):
    """Decode (fake) -> real numpy nearest-neighbor resize -> raw bytes,
    over the committed media fixture; expected-output-fixture oracle.
    Resized payload exposed as hex for byte-exact cross-engine compare."""
    from powershap_spark.operators.multimodal import image_resize

    media = spark.read.parquet(f"{_FIXTURE_DIR}/media_small.parquet")
    out = image_resize(media, target_w=4, target_h=4, fake=True)
    return out.select(
        "doc_id", "width", "height", F.hex("resized").alias("resized_hex")
    )


def q_audio_features_fake(spark, sf_dir):
    """RMS + zero-crossing-rate (deterministic fake waveform decoder) over
    the committed media fixture; expected-output-fixture oracle."""
    from powershap_spark.operators.multimodal import audio_features

    media = spark.read.parquet(f"{_FIXTURE_DIR}/media_small.parquet")
    out = audio_features(media, fake=True)
    return out.select(
        "doc_id",
        F.round("rms", 6).alias("rms"),
        F.round("zero_crossing_rate", 6).alias("zero_crossing_rate"),
    )


def q_image_features_real(spark, sf_dir):
    """Image features over REAL PNG bytes (stdlib zlib decoder — not the
    fake) from the committed PNG media fixture; expected-output oracle.
    The decode is deterministic by construction, so the live mapInPandas
    run must reproduce the fixture bit-for-bit."""
    from powershap_spark.operators.multimodal import image_features

    media = spark.read.parquet(f"{_FIXTURE_DIR}/media_png_small.parquet")
    out = image_features(media, fake=False)
    return out.select(
        "doc_id",
        F.round("mean_intensity", 6).alias("mean_intensity"),
        F.round("std_intensity", 6).alias("std_intensity"),
    )


def q_audio_features_real(spark, sf_dir):
    """Audio features over REAL PCM WAV bytes (stdlib wave decoder) from
    the committed WAV media fixture; expected-output oracle."""
    from powershap_spark.operators.multimodal import audio_features

    media = spark.read.parquet(f"{_FIXTURE_DIR}/media_wav_small.parquet")
    out = audio_features(media, fake=False)
    return out.select(
        "doc_id",
        F.round("rms", 6).alias("rms"),
        F.round("zero_crossing_rate", 6).alias("zero_crossing_rate"),
    )


def q_frame_sample_fake(spark, sf_dir):
    """Frame sampling over the committed media fixture (DuckDB cannot
    recompute xxhash64-derived blobs, so the fixture is the shared input).
    The opaque frame payload is exposed as hex so the value-hash compare is
    byte-exact across engines."""
    from powershap_spark.operators.multimodal import frame_sample

    media = spark.read.parquet(f"{_FIXTURE_DIR}/media_small.parquet")
    out = frame_sample(media, every_k=5, id_cols=("doc_id",))
    return out.select("doc_id", "frame_idx", F.hex("frame").alias("frame_hex"))


def q_pit_matrix_events(spark, sf_dir):
    """The flagship point-in-time matrix, with float features rounded to 6
    decimals so the driver's value-hash compare is robust to engine-level
    float summation order (same rounding in the DuckDB oracle)."""
    out = _pit_matrix(spark, sf_dir)
    return out.select(
        "user_id",
        "ts",
        "event_id",
        "label",
        "feature_ts",
        F.round("value_lag1", 6).alias("value_lag1"),
        F.round("value_avg_prev3", 6).alias("value_avg_prev3"),
        F.col("n_prev_events"),
        F.round("session_gap_s", 6).alias("session_gap_s"),
        F.col("session_seq"),
    )


def q_equi_join_orders_customer(spark, sf_dir):
    """SURVEY J4: equi-join with a broadcast dimension side."""
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def q_left_anti_customers(spark, sf_dir):
    """SURVEY J5: left-anti (customers with no orders)."""
    o = (
        _read(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    c = _read(spark, sf_dir, "customer")
    return c.join(o, "c_custkey", "left_anti").select("c_custkey", "c_nationkey")


def q_union_dedup(spark, sf_dir):
    """SURVEY U1/U2: union of row batches + distinct."""
    e = _read(spark, sf_dir, "events")
    a = e.filter(F.col("value") > 40).select("user_id", "event_type")
    b = e.filter(F.col("value") < 60).select("user_id", "event_type")
    return (
        a.unionByName(b)
        .dropDuplicates()
        .groupBy("event_type")
        .agg(F.count("*").alias("n_pairs"))
    )


def q_distinct_cardinality(spark, sf_dir):
    """SURVEY A10: distinct cardinality (the classifier-warning check)."""
    e = _read(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


def q_percentile_pvalue(spark, sf_dir):
    """SURVEY A6 as a distributed aggregation: tie-aware
    percentileofscore(kind='rank') of the global mean value within each
    event_type's value distribution — the powershap p-value formula."""
    e = _read(spark, sf_dir, "events")
    gmean = e.agg(F.avg("value")).collect()[0][0]
    x = F.lit(float(gmean))
    return e.groupBy("event_type").agg(
        F.round(
            (
                F.sum((F.col("value") < x).cast("int"))
                + F.sum((F.col("value") <= x).cast("int"))
                # scipy >= 1.9 rank semantics: +1 when any value ties the score
                + F.max((F.col("value") == x).cast("int"))
            )
            / (2.0 * F.count("*")),
            6,
        ).alias("p_value")
    )


def q_weighted_mean(spark, sf_dir):
    """SURVEY A3: count-weighted partial+final mean (the impact combine)."""
    e = _read(spark, sf_dir, "events")
    part = e.groupBy("user_id", "event_type").agg(
        F.avg("value").alias("mean_v"), F.count("*").alias("n")
    )
    return part.groupBy("event_type").agg(
        F.round(F.sum(F.col("mean_v") * F.col("n")) / F.sum("n"), 6).alias("wmean"),
        F.sum("n").alias("n_total"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order IS the driver's verification schedule: the driver
    runs the FIRST 50 entries against their oracles each round, so the dict
    is kept sorted by verification urgency (VERDICT r6 #2) —

    1. queries never driver-checked in any round,
    2. queries whose physical plan / emission changed since their last
       driver-green row (this round: the six r6 reds + the r6
       post-shuffle-persist selection family),
    3. queries last checked in r5 (outside the r6 window),
    4. a rotating slice of long-stable r6-green queries,
    5. tail: the remaining long-stable queries (still covered by
       tools/check_oracles.py locally, which runs ALL entries).

    Rotate per round: anything with a driver-green row dated after its
    last code change may move to the tail to free window slots."""
    return {
        # -- 1: never driver-checked ------------------------------------
        "incremental_minhash_dedup": q_incremental_minhash_dedup,
        "corpus_diff_documents": q_corpus_diff_documents,
        "dedup_lines_documents": q_dedup_lines_documents,
        "dedup_spans_documents": q_dedup_spans_documents,
        "lm_perplexity_documents": q_lm_perplexity_documents,
        "upsample_mixture_documents": q_upsample_mixture_documents,
        "lsh_topk_banded_embeddings": q_lsh_topk_banded_embeddings,
        # -- 2a: plan changed in r6 (post-shuffle persist), driver-stale --
        "powershap_selection": q_powershap_selection,
        "stumps_selection_spark": q_stumps_selection_spark,
        "stumps_selection": q_stumps_selection,
        "transcript_features": q_transcript_features,
        "pit_matrix_events": q_pit_matrix_events,
        # -- 2b: new this round --
        "range_join_events": q_range_join_events,
        "decayed_mean_events": q_decayed_mean_events,
        # -- 2c: emission / oracle changed this round (the six r6 reds) --
        "past_target_encode_events": q_past_target_encode,
        "bpe_encode_documents": q_bpe_encode_documents,
        "vocab_ids_documents": q_vocab_ids_documents,
        "bpe_merges_documents": q_bpe_merges_documents,
        "quality_classifier_documents": q_quality_classifier_documents,
        "pack_sequences_documents": q_pack_sequences_documents,
        # -- 3: last driver-checked in r5 --------------------------------
        "simhash_documents": q_simhash_documents,
        "lsh_topk_embeddings": q_lsh_topk_embeddings,
        "ivf_topk_embeddings": q_ivf_topk_embeddings,
        "embedding_cosine_dedup": q_embedding_cosine_dedup,
        "image_features_fake": q_image_features_fake,
        "image_features_real": q_image_features_real,
        "audio_features_real": q_audio_features_real,
        "image_resize_fake": q_image_resize_fake,
        "audio_features_fake": q_audio_features_fake,
        "frame_sample_fake": q_frame_sample_fake,
        "equi_join_orders_customer": q_equi_join_orders_customer,
        "left_anti_customers": q_left_anti_customers,
        "union_dedup": q_union_dedup,
        "distinct_cardinality": q_distinct_cardinality,
        "percentile_pvalue": q_percentile_pvalue,
        "weighted_mean": q_weighted_mean,
        # -- 4: rotating slice of long-stable r6-green queries -----------
        "asof_join_events": q_asof_join_events,
        "asof_join_bucketed_events": q_asof_join_bucketed_events,
        "asof_join_broadcast_events": q_asof_join_broadcast_events,
        "window_lag_lead": q_window_lag_lead,
        "rolling_strict_past": q_rolling_strict_past,
        "session_gap_sessionize": q_session_gap_sessionize,
        "ffill_strict_past": q_ffill_strict_past,
        "topk_per_group": q_topk_per_group,
        "exact_dedup_documents": q_exact_dedup_documents,
        "minhash_dedup_documents": q_minhash_dedup_documents,
        "dedup_clusters_documents": q_dedup_clusters_documents,
        "token_jaccard_pairs": q_token_jaccard_pairs,
        "corpus_stats_windowed": q_corpus_stats_windowed,
        "tfidf_keywords_documents": q_tfidf_keywords_documents,
        # ---- driver window (50) ends here ------------------------------
        # -- 5: long-stable tail (local gate still runs all of these) ----
        "pack_contiguous_documents": q_pack_contiguous_documents,
        "shuffle_shards_documents": q_shuffle_shards_documents,
        "pricing_summary": q_pricing_summary,
        "dedup_keep_best_documents": q_dedup_keep_best_documents,
        "token_shift_documents": q_token_shift_documents,
        "corpus_divergence_documents": q_corpus_divergence_documents,
        "deterministic_sample_documents": q_deterministic_sample_documents,
        "stratified_sample_documents": q_stratified_sample_documents,
        "quota_sample_documents": q_quota_sample_documents,
        "token_budget_shards_documents": q_token_budget_shards_documents,
        "event_transitions": q_event_transitions,
        "entity_split_events": q_entity_split_events,
        "profile_lineitem": q_profile_lineitem,
        "token_counts": q_token_counts,
        "pii_scrub_documents": q_pii_scrub_documents,
        "curation_pipeline_documents": q_curation_pipeline_documents,
        "repetition_documents": q_repetition_documents,
        "chunk_tokens_documents": q_chunk_tokens_documents,
        "contamination_documents": q_contamination_documents,
        "jsonl_ingest_docs": q_jsonl_ingest_docs,
        "csv_ingest_docs": q_csv_ingest_docs,
        "warc_ingest_docs": q_warc_ingest_docs,
        "url_canonicalize_documents": q_url_canonicalize_documents,
        "html_extract_documents": q_html_extract_documents,
        "topk_ngrams_documents": q_topk_ngrams_documents,
        "lang_id_documents": q_lang_id_documents,
        "quality_score_documents": q_quality_score_documents,
        "fingerprint_documents": q_fingerprint_documents,
        "embedding_topk": q_embedding_topk,
        "quantized_topk_embeddings": q_quantized_topk_embeddings,
    }


# ---------------------------------------------------------------------------
# generated oracles for the poly hash family (minhash / simhash / lsh_topk):
# the affine (a_i, b_i) literals come from the SAME function the Spark
# expressions use, so both engines evaluate identical arithmetic
# ---------------------------------------------------------------------------

_PM = 1_000_000_007


def _minhash_oracle_sql(incremental: bool = False) -> str:
    from powershap_spark.operators.dedup import (
        BAND_BASE,
        BAND_MOD,
        affine_params,
    )

    H, BANDS, R, THR, SEED, N = 16, 4, 4, 0.7, 7, 3
    a, b = affine_params(H, SEED)
    mins = ",\n                     ".join(
        f"list_min(list_transform(hs, h -> ({a[i]}::BIGINT * h + {b[i]}) % {_PM}))"
        for i in range(H)
    )
    bhs = ",\n                   ".join(
        f"list_reduce(list_prepend(0::BIGINT, list_slice(sig, {bd*R+1}, {bd*R+R})),"
        f" (acc, x) -> (acc * {BAND_BASE} + x) % {BAND_MOD}) AS bh{bd}"
        for bd in range(BANDS)
    )
    cond = " OR ".join(f"a.bh{i} = b.bh{i}" for i in range(BANDS))
    return f"""
        WITH norm AS (
          SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
          FROM documents
        ), tok AS (
          SELECT doc_id, string_split(t, ' ') AS toks FROM norm
        ), sh AS (
          SELECT doc_id, list_distinct(
            CASE WHEN len(toks) >= {N} THEN
              list_transform(range(1, len(toks) - {N - 2}),
                             i -> array_to_string(list_slice(toks, i, i + {N - 1}), ' '))
            ELSE [array_to_string(toks, ' ')] END) AS shingles
          FROM tok
        ), ph AS (
          SELECT doc_id, list_transform(shingles, s ->
            list_reduce(list_prepend(0::BIGINT,
                          [unicode(c) FOR c IN regexp_extract_all(s, '.')]),
                        (acc, x) -> (acc * 31 + x) % {_PM})) AS hs
          FROM sh
        ), sigs AS (
          SELECT doc_id, [{mins}] AS sig FROM ph
        ), banded AS (
          SELECT doc_id, sig,
                   {bhs}
          FROM sigs
        ), pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
          FROM banded a JOIN banded b
            ON a.doc_id < b.doc_id AND ({cond})
        ), est AS (
          SELECT id_a, id_b,
                 list_sum(list_transform(range(1, {H + 1}),
                          i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END))::DOUBLE
                   / {H} AS ej
          FROM pairs
        )
        SELECT d.doc_id, d.lang, d.source FROM documents d
        WHERE d.doc_id NOT IN (SELECT DISTINCT id_b FROM est WHERE ej >= {THR})
        {_INCR_WHERE if incremental else ""}
    """


# the incremental query's oracle IS the full-corpus dedup restricted to the
# new shard (ids >= the 70% cutoff) — the operator's exactness contract
_INCR_WHERE = "AND d.doc_id >= (SELECT (max(doc_id) * 7) // 10 FROM documents)"


def _simhash_oracle_sql() -> str:
    from powershap_spark.operators.dedup import affine_params

    a, b = affine_params(64, 11)
    terms = []
    for i in range(64):
        bitval = f"{1 << i}::BIGINT" if i < 63 else "(-9223372036854775807 - 1)"
        vote = (
            f"list_sum(list_transform(th, h -> CASE WHEN "
            f"(({a[i]}::BIGINT * h + {b[i]}) % {_PM}) % 2 = 1 THEN 1 ELSE -1 END))"
        )
        terms.append(f"(CASE WHEN {vote} > 0 THEN {bitval} ELSE 0::BIGINT END)")
    total = "\n                 + ".join(terms)
    return f"""
        WITH norm AS (
          SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
          FROM documents
        ), tok AS (
          SELECT doc_id, list_distinct(string_split(t, ' ')) AS toks FROM norm
        ), ph AS (
          SELECT doc_id, list_transform(toks, s ->
            list_reduce(list_prepend(0::BIGINT,
                          [unicode(c) FOR c IN regexp_extract_all(s, '.')]),
                        (acc, x) -> (acc * 31 + x) % {_PM})) AS th
          FROM tok
        )
        SELECT doc_id, ({total}) AS simhash64 FROM ph
    """


def _duck_fold_sum(products: str) -> str:
    """Strict left-fold sum — matches Spark's F.aggregate exactly (list_sum
    may reorder; fold order must be identical for bit-equal doubles)."""
    return f"list_reduce(list_prepend(0.0, {products}), (acc, x) -> acc + x)"


def _duck_cos(ev: str, qv: str) -> str:
    """DuckDB replica of similarity.cosine_similarity_col (same fold order)."""
    dot = _duck_fold_sum(
        f"list_transform(range(1, len({ev}) + 1), i -> {ev}[i] * {qv}[i])"
    )
    na = f"sqrt({_duck_fold_sum(f'list_transform(range(1, len({ev}) + 1), i -> {ev}[i] * {ev}[i])')})"
    nb = f"sqrt({_duck_fold_sum(f'list_transform(range(1, len({qv}) + 1), i -> {qv}[i] * {qv}[i])')})"
    return f"CASE WHEN {na} > 0 AND {nb} > 0 THEN ({dot}) / ({na} * {nb}) ELSE 0.0 END"


def _duck_bucket(v: str, n_planes: int, seed: int) -> str:
    """DuckDB replica of similarity.lsh_bucket(hash_family='poly')."""
    from powershap_spark.operators.dedup import affine_params

    a, b = affine_params(n_planes, seed)
    parts = []
    for p in range(n_planes):
        sign = (
            f"CASE WHEN (({a[p]}::BIGINT * i + {b[p]}) % {_PM}) % 2 = 1 "
            f"THEN 1.0 ELSE -1.0 END"
        )
        proj = _duck_fold_sum(
            f"list_transform(range(1, len({v}) + 1), i -> {v}[i] * ({sign}))"
        )
        parts.append(f"(CASE WHEN {proj} > 0 THEN {2 ** p} ELSE 0 END)")
    return " + ".join(parts)


def _lsh_topk_oracle_sql() -> str:
    N_PLANES, SEED, K = 4, 5, 5

    def bucket(v):
        return _duck_bucket(v, N_PLANES, SEED)

    cos = _duck_cos("ev", "qv")
    return f"""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), eb AS (
          SELECT vec_id, v, ({bucket('v')}) AS bucket FROM e
        ), q AS (
          SELECT vec_id AS query_id, v AS qv, bucket FROM eb WHERE vec_id < 5
        ), cand AS (
          SELECT q.query_id, e.vec_id, e.v AS ev, q.qv
          FROM eb e JOIN q ON e.bucket = q.bucket
        ), scored AS (
          SELECT query_id, vec_id, ({cos}) AS cos_raw FROM cand
        ), ranked AS (
          SELECT query_id, vec_id, cos_raw,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_raw DESC, vec_id) AS rank
          FROM scored
        )
        SELECT query_id, vec_id, round(cos_raw, 4) AS cosine, rank
        FROM ranked WHERE rank <= {K}
    """


def _lsh_topk_banded_oracle_sql() -> str:
    N_PLANES, N_BANDS, SEED, K = 8, 3, 5, 5
    cols = ", ".join(
        f"({_duck_bucket('v', N_PLANES, SEED + b)}) AS b{b}" for b in range(N_BANDS)
    )
    or_cond = " OR ".join(f"e.b{b} = q.b{b}" for b in range(N_BANDS))
    cos = _duck_cos("ev", "qv")
    return f"""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), eb AS (
          SELECT vec_id, v, {cols} FROM e
        ), q AS (
          SELECT vec_id AS query_id, v AS qv, * EXCLUDE (vec_id, v)
          FROM eb WHERE vec_id < 5
        ), cand AS (
          SELECT q.query_id, e.vec_id, e.v AS ev, q.qv
          FROM eb e JOIN q ON {or_cond}
        ), scored AS (
          SELECT query_id, vec_id, ({cos}) AS cos_raw FROM cand
        ), ranked AS (
          SELECT query_id, vec_id, cos_raw,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_raw DESC, vec_id) AS rank
          FROM scored
        )
        SELECT query_id, vec_id, round(cos_raw, 4) AS cosine, rank
        FROM ranked WHERE rank <= {K}
    """


def _ivf_topk_oracle_sql() -> str:
    STRIDE, NPROBE, K = 64, 2, 5
    cos_vc = _duck_cos("t.v", "c.cv")
    cos_aq = _duck_cos("a.v", "q.qv")
    return f"""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), cent AS (
          SELECT (vec_id // {STRIDE})::INTEGER AS cell, v AS cv
          FROM e WHERE vec_id % {STRIDE} = 0
        ), assign AS (
          SELECT vec_id, v, cell FROM (
            SELECT t.vec_id, t.v, c.cell,
                   row_number() OVER (PARTITION BY t.vec_id
                                      ORDER BY ({cos_vc}) DESC, c.cell ASC) AS rn
            FROM e t CROSS JOIN cent c
          ) WHERE rn = 1
        ), qc AS (
          SELECT query_id, qv, cell FROM (
            SELECT t.vec_id AS query_id, t.v AS qv, c.cell,
                   row_number() OVER (PARTITION BY t.vec_id
                                      ORDER BY ({cos_vc}) DESC, c.cell ASC) AS rn
            FROM e t CROSS JOIN cent c WHERE t.vec_id < 5
          ) WHERE rn <= {NPROBE}
        ), scored AS (
          SELECT q.query_id, a.vec_id, ({cos_aq}) AS cos_raw
          FROM assign a JOIN qc q ON a.cell = q.cell
        ), ranked AS (
          SELECT query_id, vec_id, cos_raw,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_raw DESC, vec_id) AS rank
          FROM scored
        )
        SELECT query_id, vec_id, round(cos_raw, 4) AS cosine, rank
        FROM ranked WHERE rank <= {K}
    """


def _pii_scrub_oracle_sql() -> str:
    """Mirrors q_pii_scrub_documents: identical injection expression, then
    the SAME regex literals (imported from operators.scrub, Java/RE2-shared
    syntax) applied as counts on the injected text and as ordered global
    replaces for the redaction."""
    from powershap_spark.operators.scrub import PII_PATTERNS

    inject = """concat_ws(' ', text,
        'user' || doc_id || '@example.com',
        'http://site' || (doc_id % 7) || '.example/x',
        CASE WHEN doc_id % 3 = 0 THEN '10.0.' || (doc_id % 256) || '.1' END,
        CASE WHEN doc_id % 5 = 0 THEN '555-123-4567' END)"""
    counts = ", ".join(
        f"len(regexp_extract_all(t, '{pat}'))::INTEGER AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    scrub = "t"
    for _, pat, repl in PII_PATTERNS:
        scrub = f"regexp_replace({scrub}, '{pat}', '{repl}', 'g')"
    return f"""
        WITH x AS (SELECT doc_id, {inject} AS t FROM documents)
        SELECT doc_id, {counts}, {scrub} AS text_scrubbed FROM x
    """


def _curation_oracle_sql() -> str:
    """Mirrors q_curation_pipeline_documents stage by stage: identical
    injection, the SAME scrub regex literals, the SAME stopword-vote /
    quality arithmetic on the scrubbed text, min-id dedup on the normalized
    scrubbed text, and the poly-hash sample membership (affine constants
    recomputed from the shared seed, never hardcoded)."""
    from powershap_spark.operators.dedup import POLY_MOD, affine_params
    from powershap_spark.operators.scrub import PII_PATTERNS

    stop = lambda lst: "[" + ",".join(f"'{s}'" for s in lst) + "]"
    inject = """CASE WHEN doc_id % 7 = 0
        THEN 'please subscribe to the newsletter of site' || (doc_id % 3)
             || ' and share it that is all for now we thank you'
        ELSE concat_ws(' ', text, 'user' || doc_id || '@example.com',
                       'http://site' || (doc_id % 7) || '.example/x')
        END"""
    counts = ", ".join(
        f"len(regexp_extract_all(t, '{pat}'))::INTEGER AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    scrubbed = "t"
    for _, pat, repl in PII_PATTERNS:
        scrubbed = f"regexp_replace({scrubbed}, '{pat}', '{repl}', 'g')"
    toks = "string_split_regex(trim(lower(ts)), '\\s+')"
    a_l, b_l = affine_params(1, 7)
    return f"""
        WITH x AS (SELECT doc_id, {inject} AS t FROM documents),
        s AS (SELECT doc_id, {counts}, {scrubbed} AS ts FROM x),
        sc AS (
          SELECT *,
                 len(list_intersect(list_distinct({toks}), {stop(_EN)})) AS s_en,
                 len(list_intersect(list_distinct({toks}), {stop(_DE)})) AS s_de,
                 len(list_intersect(list_distinct({toks}), {stop(_FR)})) AS s_fr,
                 len(list_intersect(list_distinct({toks}), {stop(_ES)})) AS s_es,
                 length(ts) AS n,
                 CASE WHEN length(trim(ts)) = 0 THEN 0
                      ELSE len({toks}) END AS n_tok,
                 length(ts) - length(regexp_replace(ts, '[\\.,;:!\\?]', '', 'g')) AS punct,
                 length(regexp_replace(lower(ts), '[^a-z]', '', 'g')) AS alpha,
                 CASE WHEN length(trim(ts)) = 0 THEN 0.0
                      ELSE len(list_filter({toks},
                               tk -> list_contains({stop(_EN)}, tk)))::DOUBLE
                           / len({toks}) END AS stop_ratio
          FROM s
        ),
        e AS (
          SELECT doc_id, n_url, n_email, n_ipv4, n_phone, ts,
                 CASE
                   WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
                   WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                   WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                   WHEN s_fr >= s_es THEN 'fr'
                   ELSE 'es' END AS pred_lang,
                 ((CASE WHEN n_tok >= 5 AND n_tok <= 10000 THEN 1.0 ELSE 0.0 END)
                  + (CASE WHEN n > 0 THEN 1.0 - least(punct::DOUBLE / n * 5.0, 1.0) ELSE 0.0 END)
                  + (CASE WHEN n > 0 THEN alpha::DOUBLE / n ELSE 0.0 END)
                  + least(stop_ratio * 4.0, 1.0)) / 4.0 AS quality
          FROM sc
        ),
        flt AS (
          SELECT * FROM e WHERE pred_lang IN ('en', 'de') AND quality >= 0.6
        ),
        keep AS (
          SELECT min(doc_id) AS doc_id FROM flt
          GROUP BY trim(regexp_replace(lower(ts), '\\s+', ' ', 'g'))
        ),
        ded AS (SELECT f.* FROM flt f JOIN keep USING (doc_id)),
        ph AS (
          SELECT *,
                 list_reduce(
                   list_prepend(0::BIGINT,
                     [unicode(c) FOR c IN regexp_extract_all(CAST(doc_id AS VARCHAR), '.')]),
                   (acc, ch) -> (acc * 31 + ch) % {POLY_MOD}
                 ) AS h
          FROM ded
        )
        SELECT doc_id, pred_lang, round(quality, 6) AS quality,
               n_url, n_email, n_ipv4, n_phone, ts AS text_scrubbed
        FROM ph
        WHERE (({a_l[0]} * h + {b_l[0]}) % {POLY_MOD}) / {POLY_MOD}.0 < 0.5
    """


def _shuffle_shards_oracle_sql() -> str:
    """Mirrors q_shuffle_shards_documents: same poly char hash + affine
    literals (affine_params(1, seed=11)), shard = h % 8, pos = per-shard
    row_number ordered by (h, doc_id)."""
    from powershap_spark.operators.dedup import POLY_MOD, affine_params

    a_l, b_l = affine_params(1, 11)
    ph = (
        "list_reduce(list_prepend(0::BIGINT, "
        "[unicode(c) FOR c IN regexp_extract_all(CAST(doc_id AS VARCHAR), '.')]), "
        f"(acc, x) -> (acc * 31 + x) % {POLY_MOD})"
    )
    return f"""
        WITH p AS (
          SELECT doc_id,
                 ({a_l[0]} * {ph} + {b_l[0]}) % {POLY_MOD} AS h
          FROM documents)
        SELECT doc_id, (h % 8)::INT AS shard,
               (row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id))::BIGINT AS pos
        FROM p
    """


def _url_canonicalize_oracle_sql() -> str:
    """Mirrors q_url_canonicalize_documents: identical injection, then the
    SAME rewrite-chain literals (URL_SCHEME_HOST + URL_CANON_STEPS) with
    Java's $N group references translated to RE2's \\N."""
    from powershap_spark.operators.scrub import URL_CANON_STEPS, URL_SCHEME_HOST

    inject = """('HTTP://ExAmple' || (doc_id % 10) || '.COM'
        || CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END
        || '/path' || (doc_id % 7)
        || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
        || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=abc&q=' || doc_id ELSE '' END
        || CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END)"""
    canon = (
        f"lower(regexp_extract(url, '{URL_SCHEME_HOST}', 1))"
        f" || regexp_replace(url, '{URL_SCHEME_HOST}', '', 'g')"
    )
    for pat, repl in URL_CANON_STEPS:
        re2_repl = repl.replace("$", "\\")
        canon = f"regexp_replace({canon}, '{pat}', '{re2_repl}', 'g')"
    return f"""
        WITH x AS (SELECT doc_id, {inject} AS url FROM documents)
        SELECT doc_id, url, {canon} AS canonical_url FROM x
    """


def _html_extract_oracle_sql() -> str:
    """Mirrors q_html_extract_documents: identical page construction from
    documents.text, then the SAME extraction-chain literals
    (HTML_BLOCK_DROP / HTML_NEWLINE_TAGS / HTML_ANY_TAG / HTML_ENTITIES)
    and the same min_words=3 line filter."""
    from powershap_spark.operators.scrub import (
        HTML_ANY_TAG,
        HTML_BLOCK_DROP,
        HTML_ENTITIES,
        HTML_NEWLINE_TAGS,
    )

    def q(s: str) -> str:
        return s.replace("'", "''")

    esc = (
        "replace(replace(replace(text, '&', '&amp;'),"
        " '<', '&lt;'), '>', '&gt;')"
    )
    html = (
        "'<html><head><title>Doc ' || doc_id"
        " || '</title><script>var x = 1;</script>"
        "<style>.nav{color:red}</style></head><body>'"
        " || '<!-- nav boilerplate --><div class=\"nav\"><ul><li>Home</li>"
        "<li>About</li><li>Contact</li></ul></div>'"
        " || '<h1>Document ' || doc_id || ' heading</h1><p>' || " + esc +
        " || '</p><br><table><tr><td>k</td><td>v</td></tr></table>'"
        " || '<footer>&copy; 2026 Example &amp; Co. All rights reserved."
        "</footer></body></html>'"
    )
    x = "html"
    for pat in HTML_BLOCK_DROP:
        x = f"regexp_replace({x}, '{q(pat)}', ' ', 'g')"
    x = f"regexp_replace({x}, '{q(HTML_NEWLINE_TAGS)}', chr(10), 'g')"
    x = f"regexp_replace({x}, '{q(HTML_ANY_TAG)}', ' ', 'g')"
    for ent, ch in HTML_ENTITIES:
        x = f"replace({x}, '{q(ent)}', '{q(ch)}')"
    x = (
        "array_to_string(list_filter(list_transform("
        f"string_split({x}, chr(10)), "
        "ln -> trim(regexp_replace(ln, '\\s+', ' ', 'g'))), "
        "ln -> length(ln) > 0 AND len(string_split(ln, ' ')) >= 3), "
        "chr(10))"
    )
    return f"""
        WITH h AS (SELECT doc_id, {html} AS html FROM documents),
             e AS (SELECT doc_id, {x} AS text FROM h)
        SELECT doc_id, text,
               (CASE WHEN length(text) = 0 THEN 0
                     ELSE len(string_split(text, chr(10))) END)::INT AS n_lines,
               length(text)::INT AS n_chars
        FROM e
    """


def _embedding_cosine_dedup_oracle_sql() -> str:
    # mirrors q_embedding_cosine_dedup: 4 bands x 8 planes, band b seeded 5+b
    N_PLANES, N_BANDS, SEED, THR = 8, 4, 5, 0.9
    cos_ab = _duck_cos("a.v", "b.v")
    band_cols = ", ".join(
        f"({_duck_bucket('v', N_PLANES, SEED + b)}) AS b{b}" for b in range(N_BANDS)
    )
    any_band = " OR ".join(f"a.b{b} = b.b{b}" for b in range(N_BANDS))
    return f"""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), eb AS (
          SELECT vec_id, v, {band_cols} FROM e
        ), dupes AS (
          SELECT DISTINCT b.vec_id
          FROM eb a JOIN eb b ON a.vec_id < b.vec_id AND ({any_band})
          WHERE ({cos_ab}) >= {THR}
        )
        SELECT vec_id FROM e
        WHERE vec_id NOT IN (SELECT vec_id FROM dupes)
    """


_FRAME_SAMPLE_ORACLE = f"""
    WITH x AS (
      SELECT doc_id, media, unnest(range(0, n_frames, 5)) AS f
      FROM read_parquet('{_FIXTURE_DIR}/media_small.parquet')
    )
    SELECT doc_id, f::INTEGER AS frame_idx,
           hex(media) || printf('%02X%02X%02X%02X',
               f & 255, (f >> 8) & 255, (f >> 16) & 255, (f >> 24) & 255)
             AS frame_hex
    FROM x
"""


_ASOF_ORACLE = """
WITH probes AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
),
feats AS (
  SELECT user_id, ts, max(value) AS fvalue
  FROM events WHERE event_type <> 'click'
  GROUP BY user_id, ts
)
SELECT p.user_id, p.event_id, f.ts AS matched_ts, round(f.fvalue, 6) AS fvalue
FROM probes p ASOF LEFT JOIN feats f
  ON p.user_id = f.user_id AND p.ts >= f.ts
"""


def oracle_sql() -> dict[str, str]:
    stop = lambda lst: "[" + ",".join(f"'{s}'" for s in lst) + "]"
    return {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "window_lag_lead": """
            SELECT user_id, event_id,
                   round(lag(value, 1) OVER w, 6) AS prev_value,
                   lead(event_type, 1) OVER w AS next_type,
                   row_number() OVER w - 1 AS turn_seq
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "rolling_strict_past": """
            SELECT user_id, event_id,
                   round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 6) AS value_avg_prev3,
                   count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS n_prev_events,
                   round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 4) AS value_sum_past
            FROM events
        """,
        "session_gap_sessionize": """
            WITH g AS (
              SELECT user_id, event_id, ts,
                     epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_s
              FROM events
            )
            SELECT user_id, event_id, round(gap_s, 6) AS gap_s,
                   CAST(sum(CASE WHEN gap_s > 1800.0 OR gap_s IS NULL THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
                     AS BIGINT) AS session_seq
            FROM g
        """,
        "range_join_events": """
            SELECT l.event_id AS probe_id,
                   r.event_id AS ctx_event_id,
                   r.event_type AS ctx_type,
                   CAST(epoch_us(l.ts) - epoch_us(r.ts) AS BIGINT) AS gap_us
            FROM events l JOIN events r
              ON l.user_id = r.user_id
             AND epoch_us(r.ts) BETWEEN epoch_us(l.ts) - 1800000000
                                    AND epoch_us(l.ts)
            WHERE l.event_type = 'purchase'
        """,
        "decayed_mean_events": """
            WITH e AS (
              SELECT *, epoch_us(ts) AS us,
                     CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS vq
              FROM events
            ), b AS (
              SELECT *, CAST(pow(2.0, floor(
                       (us - min(us) OVER (PARTITION BY event_type))
                       / 172800000000.0)) AS BIGINT) AS w
              FROM e
            )
            SELECT event_id, event_type,
                   count(vq * w) OVER wp AS dm_cnt,
                   CAST(sum(vq * w) OVER wp AS DOUBLE)
                     / CAST(sum(w) OVER wp AS DOUBLE) AS dm_mean_q
            FROM b
            WINDOW wp AS (PARTITION BY event_type ORDER BY us
                          RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        """,
        "past_target_encode_events": """
            WITH e AS (
              SELECT *, CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS value_micro
              FROM events
            )
            SELECT event_id, event_type,
                   count(value_micro) OVER w AS te_cnt,
                   CAST(sum(value_micro) OVER w AS DOUBLE)
                     / count(value_micro) OVER w AS te_mean_micro
            FROM e
            WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
                         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        """,
        "ffill_strict_past": """
            SELECT user_id, event_id,
                   round(last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 6)
                     AS last_purchase_value
            FROM events
        """,
        "pit_matrix_events": """
            WITH fb AS (
              SELECT user_id, ts, event_id, value::DOUBLE AS value
              FROM events WHERE event_type <> 'purchase'
            ), fw AS (
              SELECT user_id, ts,
                     lag(value) OVER w AS value_lag1,
                     avg(value) OVER (w ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
                       AS value_avg_prev3,
                     count(*) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS n_prev_events,
                     epoch(ts) - epoch(lag(ts) OVER w) AS gap_s
              FROM fb
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), f AS (
              SELECT user_id, ts,
                     coalesce(value_lag1, 0.0) AS value_lag1,
                     coalesce(value_avg_prev3, 0.0) AS value_avg_prev3,
                     n_prev_events::DOUBLE AS n_prev_events,
                     coalesce(gap_s, 0.0) AS session_gap_s,
                     CAST(sum(CASE WHEN gap_s > 1800.0 OR gap_s IS NULL THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
                       AS DOUBLE) AS session_seq
              FROM fw
            ), probes AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS label
              FROM events WHERE event_type = 'purchase'
            )
            SELECT p.user_id, p.ts, p.event_id, p.label,
                   f.ts AS feature_ts,
                   round(f.value_lag1, 6) AS value_lag1,
                   round(f.value_avg_prev3, 6) AS value_avg_prev3,
                   f.n_prev_events,
                   round(f.session_gap_s, 6) AS session_gap_s,
                   f.session_seq
            FROM probes p ASOF LEFT JOIN f
              ON p.user_id = f.user_id AND p.ts >= f.ts
        """,
        "asof_join_events": _ASOF_ORACLE,
        "asof_join_bucketed_events": _ASOF_ORACLE,
        "asof_join_broadcast_events": _ASOF_ORACLE,
        "topk_per_group": """
            SELECT event_type, rank, event_id, round(value, 6) AS value FROM (
              SELECT event_type, event_id, value,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY value DESC, event_id) AS rank
              FROM events
            ) WHERE rank <= 3
        """,
        "exact_dedup_documents": """
            WITH keep AS (
              SELECT min(doc_id) AS doc_id
              FROM documents
              GROUP BY trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
            )
            SELECT d.doc_id, d.lang, d.source
            FROM documents d JOIN keep k ON d.doc_id = k.doc_id
        """,
        "token_jaccard_pairs": """
            WITH t AS (
              SELECT doc_id, lang,
                     list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS toks
              FROM documents WHERE doc_id < 300
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.toks, b.toks))::DOUBLE
                         / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
            FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
            WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
                  / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5
        """,
        "dedup_clusters_documents": """
            WITH RECURSIVE t AS (
              SELECT doc_id, lang,
                     list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS toks
              FROM documents WHERE doc_id < 300
            ), pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
              WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
                    / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5
            ), edges AS (
              SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs
            ), walk(id, comp) AS (
              SELECT doc_id, doc_id FROM t
              UNION
              SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.id
            )
            SELECT id AS doc_id, min(comp) AS component FROM walk GROUP BY id
        """,
        "pack_contiguous_documents": """
            WITH n AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(lower(text)), '\\s+'))
                     END AS n
              FROM documents),
            s AS (
              SELECT doc_id, n,
                     COALESCE(SUM(n) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS strt
              FROM n),
            e AS (
              SELECT doc_id, n, strt,
                     unnest(generate_series((strt // 256)::BIGINT,
                                            ((strt + n - 1) // 256)::BIGINT)) AS block_id
              FROM s WHERE n > 0)
            SELECT block_id::BIGINT AS block_id, doc_id,
                   GREATEST(block_id * 256 - strt, 0)::BIGINT AS tok_from,
                   LEAST((block_id + 1) * 256 - strt, n)::BIGINT AS tok_to,
                   (LEAST((block_id + 1) * 256 - strt, n)
                    - GREATEST(block_id * 256 - strt, 0))::BIGINT AS n_span
            FROM e
        """,
        "token_shift_documents": """
            WITH eo AS (
              SELECT unnest(CASE WHEN length(trim(text)) = 0
                                 THEN CAST([] AS VARCHAR[])
                                 ELSE string_split_regex(trim(lower(text)), '\\s+')
                            END) AS tok
              FROM documents WHERE doc_id % 7 != 1),
            en AS (
              SELECT unnest(CASE WHEN length(trim(text)) = 0
                                 THEN CAST([] AS VARCHAR[])
                                 ELSE string_split_regex(trim(lower(text)), '\\s+')
                            END) AS tok
              FROM documents WHERE doc_id % 7 != 2),
            co AS (SELECT tok, COUNT(*) AS c_old FROM eo GROUP BY tok),
            cn AS (SELECT tok, COUNT(*) AS c_new FROM en GROUP BY tok),
            t AS (SELECT (SELECT SUM(c_old) FROM co) AS t_o,
                         (SELECT SUM(c_new) FROM cn) AS t_n),
            j AS (
              SELECT COALESCE(co.tok, cn.tok) AS token,
                     COALESCE(c_old, 0) AS c_old,
                     COALESCE(c_new, 0) AS c_new
              FROM co FULL OUTER JOIN cn ON co.tok = cn.tok)
            SELECT token, c_old::BIGINT AS c_old, c_new::BIGINT AS c_new,
                   ROUND(c_old / t_o, 6) AS p_old,
                   ROUND(c_new / t_n, 6) AS p_new,
                   ROUND(c_new / t_n - c_old / t_o, 6) AS shift
            FROM j CROSS JOIN t
            ORDER BY ABS(ROUND(c_new / t_n - c_old / t_o, 6)) DESC, token
            LIMIT 20
        """,
        "corpus_divergence_documents": """
            WITH eo AS (
              SELECT unnest(CASE WHEN length(trim(text)) = 0
                                 THEN CAST([] AS VARCHAR[])
                                 ELSE string_split_regex(trim(lower(text)), '\\s+')
                            END) AS tok
              FROM documents WHERE doc_id % 7 != 1),
            en AS (
              SELECT unnest(CASE WHEN length(trim(text)) = 0
                                 THEN CAST([] AS VARCHAR[])
                                 ELSE string_split_regex(trim(lower(text)), '\\s+')
                            END) AS tok
              FROM documents WHERE doc_id % 7 != 2),
            co AS (SELECT tok, COUNT(*) AS c_old FROM eo GROUP BY tok),
            cn AS (SELECT tok, COUNT(*) AS c_new FROM en GROUP BY tok),
            t AS (SELECT (SELECT SUM(c_old) FROM co) AS t_o,
                         (SELECT SUM(c_new) FROM cn) AS t_n),
            p AS (
              SELECT COALESCE(co.tok, cn.tok) AS token,
                     COALESCE(c_old, 0) AS c_old,
                     COALESCE(c_new, 0) AS c_new,
                     COALESCE(c_old, 0) / t_o AS p,
                     COALESCE(c_new, 0) / t_n AS q
              FROM co FULL OUTER JOIN cn ON co.tok = cn.tok CROSS JOIN t)
            SELECT ROUND(SUM(
                     CASE WHEN p > 0 THEN 0.5 * p * ln(p / ((p + q) / 2))
                          ELSE 0 END
                     + CASE WHEN q > 0 THEN 0.5 * q * ln(q / ((p + q) / 2))
                            ELSE 0 END), 6) AS js_divergence,
                   SUM(c_old)::BIGINT AS n_tokens_old,
                   SUM(c_new)::BIGINT AS n_tokens_new,
                   SUM(CASE WHEN c_old > 0 THEN 1 ELSE 0 END)::BIGINT AS vocab_old,
                   SUM(CASE WHEN c_new > 0 THEN 1 ELSE 0 END)::BIGINT AS vocab_new
            FROM p
        """,
        "tfidf_keywords_documents": """
            WITH ex AS (
              SELECT doc_id,
                     unnest(CASE WHEN length(trim(text)) = 0
                                 THEN CAST([] AS VARCHAR[])
                                 ELSE string_split_regex(trim(lower(text)), '\\s+')
                            END) AS token
              FROM documents),
            tf AS (SELECT doc_id, token, COUNT(*) AS tf
                   FROM ex GROUP BY doc_id, token),
            wdf AS (SELECT doc_id, token, tf,
                           COUNT(*) OVER (PARTITION BY token) AS df
                    FROM tf),
            n AS (SELECT COUNT(*) AS nn FROM documents),
            scored AS (
              SELECT doc_id, token, tf::BIGINT AS tf, df::BIGINT AS df,
                     ROUND(tf * ln((nn + 1.0) / (df + 1.0)), 6) AS score
              FROM wdf CROSS JOIN n),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rk
              FROM scored)
            SELECT doc_id, token, tf, df, score FROM ranked WHERE rk <= 5
        """,
        "corpus_stats_windowed": f"""
            WITH d AS (
              SELECT doc_id, lang, text,
                     TIMESTAMP '2024-01-01 00:00:00'
                       + (doc_id * 60) * INTERVAL 1 SECOND AS ts
              FROM documents
            ), b AS (
              SELECT lang,
                     time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
                     length(text) AS n,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END AS n_tok,
                     length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS punct,
                     length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS alpha,
                     CASE WHEN length(trim(text)) = 0 THEN 0.0
                          ELSE len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                   x -> list_contains({stop(_EN)}, x)))::DOUBLE
                               / len(string_split_regex(trim(lower(text)), '\\s+')) END AS stop_ratio
              FROM d
            )
            SELECT window_start,
                   window_start + INTERVAL 1 HOUR AS window_end,
                   lang,
                   COUNT(*)::BIGINT AS n_docs,
                   ROUND(AVG((
                     (CASE WHEN n_tok >= 5 AND n_tok <= 10000 THEN 1.0 ELSE 0.0 END)
                     + (CASE WHEN n > 0 THEN 1.0 - least(punct::DOUBLE / n * 5.0, 1.0) ELSE 0.0 END)
                     + (CASE WHEN n > 0 THEN alpha::DOUBLE / n ELSE 0.0 END)
                     + least(stop_ratio * 4.0, 1.0)
                   ) / 4.0), 6) AS mean_quality,
                   SUM(n_tok)::BIGINT AS n_tokens
            FROM b GROUP BY window_start, lang
        """,
        "dedup_keep_best_documents": f"""
            WITH RECURSIVE t AS (
              SELECT doc_id, lang,
                     list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS toks
              FROM documents WHERE doc_id < 300
            ), pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
              WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
                    / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5
            ), edges AS (
              SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs
            ), walk(id, comp) AS (
              SELECT doc_id, doc_id FROM t
              UNION
              SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.id
            ), comp AS (
              SELECT id AS doc_id, min(comp) AS component FROM walk GROUP BY id
            ), b AS (
              SELECT doc_id,
                     length(text) AS n,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END AS n_tok,
                     length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS punct,
                     length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS alpha,
                     CASE WHEN length(trim(text)) = 0 THEN 0.0
                          ELSE len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                   x -> list_contains({stop(_EN)}, x)))::DOUBLE
                               / len(string_split_regex(trim(lower(text)), '\\s+')) END AS stop_ratio
              FROM documents WHERE doc_id < 300
            ), q AS (
              SELECT doc_id, round((
                (CASE WHEN n_tok >= 5 AND n_tok <= 10000 THEN 1.0 ELSE 0.0 END)
                + (CASE WHEN n > 0 THEN 1.0 - least(punct::DOUBLE / n * 5.0, 1.0) ELSE 0.0 END)
                + (CASE WHEN n > 0 THEN alpha::DOUBLE / n ELSE 0.0 END)
                + least(stop_ratio * 4.0, 1.0)
              ) / 4.0, 6) AS quality
              FROM b
            ), ranked AS (
              SELECT c.component, c.doc_id, q.quality,
                     row_number() OVER (
                       PARTITION BY c.component
                       ORDER BY q.quality DESC, c.doc_id ASC) AS rk
              FROM comp c JOIN q USING (doc_id))
            SELECT component, doc_id, quality FROM ranked WHERE rk = 1
        """,
        "token_counts": """
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END AS n_ws_tokens,
                   len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens
            FROM documents
        """,
        "pii_scrub_documents": _pii_scrub_oracle_sql(),
        "curation_pipeline_documents": _curation_oracle_sql(),
        "url_canonicalize_documents": _url_canonicalize_oracle_sql(),
        "html_extract_documents": _html_extract_oracle_sql(),
        "shuffle_shards_documents": _shuffle_shards_oracle_sql(),
        "bpe_encode_documents": _bpe_encode_oracle_sql(),
        "vocab_ids_documents": _vocab_ids_oracle_sql(),
        # Fixture-backed value oracles for the three non-SQL-expressible
        # queries (iterative BPE argmax / gradient-descent loop / FFD),
        # following the powershap_selection pattern: the query runs live
        # over a FIXED deterministic input; the oracle reads the committed
        # expected output (tools/make_fixtures.py; pinned by
        # tests/test_entry.py) — live must reproduce it bit-for-bit.
        "bpe_merges_documents": f"""
            SELECT merge_idx, "left", "right", pair_count
            FROM read_parquet('{_FIXTURE_DIR}/bpe_merges_expected.parquet')
        """,
        "quality_classifier_documents": f"""
            SELECT doc_id, label, score, pred
            FROM read_parquet('{_FIXTURE_DIR}/quality_clf_expected.parquet')
        """,
        "pack_sequences_documents": f"""
            SELECT doc_id, n_tokens, shard_id, bin_id, overflow
            FROM read_parquet('{_FIXTURE_DIR}/pack_sequences_expected.parquet')
        """,
        "jsonl_ingest_docs": f"""
            SELECT doc_id, text, lang, url
            FROM read_json('{_FIXTURE_DIR}/docs_small.jsonl',
                           format='newline_delimited', ignore_errors=true,
                           columns={{'doc_id': 'BIGINT', 'text': 'VARCHAR',
                                     'lang': 'VARCHAR', 'url': 'VARCHAR'}})
            -- ignore_errors surfaces malformed lines as all-NULL rows
            -- (Spark PERMISSIVE tags them via _corrupt_record instead)
            WHERE doc_id IS NOT NULL
        """,
        "csv_ingest_docs": f"""
            SELECT doc_id, text, lang, url
            FROM read_csv('{_FIXTURE_DIR}/docs_small.csv',
                          header=true, ignore_errors=true,
                          auto_detect=false,
                          columns={{'doc_id': 'BIGINT', 'text': 'VARCHAR',
                                    'lang': 'VARCHAR', 'url': 'VARCHAR'}})
            -- ignore_errors skips the type-failure line but pads the
            -- arity-shortfall line; Spark PERMISSIVE (full-schema
            -- materialization) tags BOTH corrupt, so mirror the arity
            -- exclusion via the fixture's one null-url row
            WHERE url IS NOT NULL
        """,
        "warc_ingest_docs": f"""
            WITH raw AS (
              SELECT content FROM read_text('{_FIXTURE_DIR}/docs_small.warc')),
            recs AS (
              SELECT unnest(string_split(
                       regexp_replace(content, '^WARC/1\\.0\\r\\n', ''),
                       e'\\r\\n\\r\\nWARC/1.0\\r\\n')) AS rec
              FROM raw),
            p AS (
              SELECT rec,
                     CASE WHEN position(e'\\r\\n\\r\\n' IN rec) > 0
                          THEN substr(rec, 1, position(e'\\r\\n\\r\\n' IN rec) - 1)
                          ELSE rec END AS header,
                     CASE WHEN position(e'\\r\\n\\r\\n' IN rec) > 0
                          THEN substr(rec, position(e'\\r\\n\\r\\n' IN rec) + 4)
                          ELSE '' END AS payload
              FROM recs),
            f AS (
              SELECT
                NULLIF(regexp_extract(header, '(?mi)^WARC-Type:[ \\t]*(.*?)\\r?$', 1), '') AS warc_type,
                NULLIF(regexp_extract(header, '(?mi)^WARC-Target-URI:[ \\t]*(.*?)\\r?$', 1), '') AS target_uri,
                NULLIF(regexp_extract(header, '(?mi)^WARC-Date:[ \\t]*(.*?)\\r?$', 1), '') AS warc_date,
                NULLIF(regexp_extract(header, '(?mi)^WARC-Record-ID:[ \\t]*(.*?)\\r?$', 1), '') AS record_id,
                TRY_CAST(NULLIF(regexp_extract(header, '(?mi)^Content-Length:[ \\t]*(.*?)\\r?$', 1), '') AS BIGINT) AS content_length,
                payload
              FROM p)
            SELECT warc_type, target_uri, warc_date, record_id,
                   content_length,
                   -- Content-Length is BYTES (strlen); DuckDB lacks blob
                   -- substring, but the surplus past Content-Length is
                   -- always the ASCII record trailer, so trimming
                   -- surplus-many CHARACTERS is byte-exact here
                   CASE WHEN strlen(payload) = content_length THEN payload
                        ELSE substr(payload, 1,
                               length(payload)
                               - (strlen(payload) - content_length)::INT)
                   END AS payload
            FROM f
            WHERE warc_type IS NOT NULL
              AND content_length IS NOT NULL
              AND strlen(payload) >= content_length
              AND strlen(payload) <= content_length + 4
        """,
        "repetition_documents": """
            WITH tok AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                          ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
              FROM documents
            ), g AS (
              SELECT doc_id, t,
                     CASE WHEN len(t) >= 2 THEN
                       list_transform(range(1, len(t)),
                                      i -> array_to_string(list_slice(t, i, i + 1), ' '))
                     ELSE []::VARCHAR[] END AS b
              FROM tok
            )
            SELECT doc_id,
                   round(CASE WHEN len(t) > 0
                         THEN 1.0 - len(list_distinct(t))::DOUBLE / len(t)
                         ELSE 0.0 END, 6) AS dup_token_ratio,
                   round(CASE WHEN len(b) > 0
                         THEN 1.0 - len(list_distinct(b))::DOUBLE / len(b)
                         ELSE 0.0 END, 6) AS dup_2gram_ratio
            FROM g
        """,
        "chunk_tokens_documents": """
            WITH tok AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                          ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
              FROM documents
            ), c AS (
              SELECT doc_id, t,
                     unnest(range(0, ceil(len(t) / 32.0)::BIGINT)) AS chunk_idx
              FROM tok
            )
            SELECT doc_id, chunk_idx::INTEGER AS chunk_idx,
                   len(list_slice(t, chunk_idx*32 + 1, chunk_idx*32 + 32))::INTEGER
                     AS n_tokens,
                   array_to_string(list_slice(t, chunk_idx*32 + 1, chunk_idx*32 + 32), ' ')
                     AS chunk_text
            FROM c
        """,
        "topk_ngrams_documents": """
            WITH tok AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                          ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
              FROM documents
            ), g AS (
              SELECT unnest(CASE WHEN len(t) >= 2 THEN
                       list_transform(range(1, len(t)),
                                      i -> array_to_string(list_slice(t, i, i + 1), ' '))
                     ELSE []::VARCHAR[] END) AS ngram
              FROM tok
            )
            SELECT ngram, count(*) AS n_occurrences
            FROM g GROUP BY ngram
            ORDER BY n_occurrences DESC, ngram ASC
            LIMIT 20
        """,
        "contamination_documents": """
            WITH tok AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                          ELSE string_split_regex(trim(lower(text)), '\\s+') END AS toks
              FROM documents
            ), sh AS (
              SELECT doc_id, list_distinct(
                CASE WHEN len(toks) >= 3 THEN
                  list_transform(range(1, len(toks) - 1),
                                 i -> array_to_string(list_slice(toks, i, i + 2), ' '))
                ELSE [array_to_string(toks, ' ')] END) AS shingles
              FROM tok
            ), bench AS (
              SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 50 = 0
            ), hits AS (
              SELECT d.doc_id, count(*) AS n_contaminated_shingles
              FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) d
              JOIN bench USING (s)
              GROUP BY d.doc_id
            )
            SELECT doc_id, n_contaminated_shingles FROM hits
            WHERE n_contaminated_shingles >= 1
        """,
        "lang_id_documents": f"""
            WITH s AS (
              SELECT doc_id,
                     list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS toks
              FROM documents
            ), sc AS (
              SELECT doc_id,
                     len(list_intersect(toks, {stop(_EN)})) AS s_en,
                     len(list_intersect(toks, {stop(_DE)})) AS s_de,
                     len(list_intersect(toks, {stop(_FR)})) AS s_fr,
                     len(list_intersect(toks, {stop(_ES)})) AS s_es
              FROM s
            ), lang AS (
              SELECT CASE
                WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
                WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                WHEN s_fr >= s_es THEN 'fr'
                ELSE 'es' END AS pred_lang
              FROM sc
            )
            SELECT pred_lang, count(*) AS n_docs FROM lang GROUP BY pred_lang
        """,
        "quality_score_documents": f"""
            WITH b AS (
              SELECT doc_id, text,
                     length(text) AS n,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END AS n_tok,
                     length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS punct,
                     length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS alpha,
                     CASE WHEN length(trim(text)) = 0 THEN 0.0
                          ELSE len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                   t -> list_contains({stop(_EN)}, t)))::DOUBLE
                               / len(string_split_regex(trim(lower(text)), '\\s+')) END AS stop_ratio
              FROM documents
            )
            SELECT doc_id, round((
              (CASE WHEN n_tok >= 5 AND n_tok <= 10000 THEN 1.0 ELSE 0.0 END)
              + (CASE WHEN n > 0 THEN 1.0 - least(punct::DOUBLE / n * 5.0, 1.0) ELSE 0.0 END)
              + (CASE WHEN n > 0 THEN alpha::DOUBLE / n ELSE 0.0 END)
              + least(stop_ratio * 4.0, 1.0)
            ) / 4.0, 6) AS quality
            FROM b
        """,
        "deterministic_sample_documents": """
            SELECT doc_id FROM (
              SELECT doc_id,
                     list_reduce(
                       list_prepend(0::BIGINT,
                         [unicode(c) FOR c IN regexp_extract_all(CAST(doc_id AS VARCHAR), '.')]),
                       (acc, x) -> (acc * 31 + x) % 1000000007
                     ) AS ph
              FROM documents)
            WHERE ((105490554 * ph + 358133587) % 1000000007) / 1000000007.0 < 0.25
        """,
        "stratified_sample_documents": """
            SELECT doc_id, lang FROM (
              SELECT doc_id, lang,
                     list_reduce(
                       list_prepend(0::BIGINT,
                         [unicode(c) FOR c IN regexp_extract_all(CAST(doc_id AS VARCHAR), '.')]),
                       (acc, x) -> (acc * 31 + x) % 1000000007
                     ) AS ph
              FROM documents)
            WHERE ((105490554 * ph + 358133587) % 1000000007) / 1000000007.0
                  < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.15 ELSE 0.05 END
        """,
        "quota_sample_documents": """
            SELECT doc_id, lang FROM (
              SELECT doc_id, lang,
                     row_number() OVER (
                       PARTITION BY lang
                       ORDER BY ((105490554 * ph + 358133587) % 1000000007) / 1000000007.0,
                                doc_id
                     ) AS rk
              FROM (
                SELECT doc_id, lang,
                       list_reduce(
                         list_prepend(0::BIGINT,
                           [unicode(c) FOR c IN regexp_extract_all(CAST(doc_id AS VARCHAR), '.')]),
                         (acc, x) -> (acc * 31 + x) % 1000000007
                       ) AS ph
                FROM documents))
            WHERE rk <= 30
        """,
        "profile_lineitem": """
            WITH cols(column_pos, "column") AS (
              VALUES (1, 'l_quantity'), (2, 'l_extendedprice'),
                     (3, 'l_discount'), (4, 'l_tax')
            ), agg AS (
              SELECT COUNT(*) AS n_rows,
                     [COUNT(l_quantity), COUNT(l_extendedprice),
                      COUNT(l_discount), COUNT(l_tax)] AS nv,
                     [ROUND(AVG(l_quantity), 4), ROUND(AVG(l_extendedprice), 4),
                      ROUND(AVG(l_discount), 4), ROUND(AVG(l_tax), 4)] AS mean,
                     [ROUND(MIN(l_quantity), 4), ROUND(MIN(l_extendedprice), 4),
                      ROUND(MIN(l_discount), 4), ROUND(MIN(l_tax), 4)] AS mn,
                     [ROUND(MAX(l_quantity), 4), ROUND(MAX(l_extendedprice), 4),
                      ROUND(MAX(l_discount), 4), ROUND(MAX(l_tax), 4)] AS mx,
                     [ROUND(quantile_cont(l_quantity, 0.5), 4),
                      ROUND(quantile_cont(l_extendedprice, 0.5), 4),
                      ROUND(quantile_cont(l_discount, 0.5), 4),
                      ROUND(quantile_cont(l_tax, 0.5), 4)] AS p50,
                     [ROUND(quantile_cont(l_quantity, 0.95), 4),
                      ROUND(quantile_cont(l_extendedprice, 0.95), 4),
                      ROUND(quantile_cont(l_discount, 0.95), 4),
                      ROUND(quantile_cont(l_tax, 0.95), 4)] AS p95
              FROM lineitem
            )
            SELECT "column", n_rows, n_rows - nv[column_pos] AS n_null,
                   mean[column_pos] AS mean, mn[column_pos] AS min,
                   mx[column_pos] AS max, p50[column_pos] AS p50,
                   p95[column_pos] AS p95
            FROM cols, agg
        """,
        "token_budget_shards_documents": """
            SELECT doc_id, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                          ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ), 0) // 4096 AS BIGINT) AS shard_id
            FROM (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END AS n_tokens
              FROM documents)
        """,
        "entity_split_events": """
            SELECT split, COUNT(*) AS n_rows,
                   COUNT(DISTINCT user_id) AS n_entities
            FROM (
              SELECT user_id,
                     CASE WHEN u < 0.8 THEN 'train'
                          WHEN u < 0.9 THEN 'val'
                          ELSE 'test' END AS split
              FROM (
                SELECT user_id,
                       ((105490554 * list_reduce(
                           list_prepend(0::BIGINT,
                             [unicode(c) FOR c IN regexp_extract_all(CAST(user_id AS VARCHAR), '.')]),
                           (acc, x) -> (acc * 31 + x) % 1000000007
                         ) + 358133587) % 1000000007) / 1000000007.0 AS u
                FROM events))
            GROUP BY split
        """,
        "dedup_lines_documents": """
            WITH ex AS (
              SELECT doc_id,
                     unnest(string_split(text, ' ')) AS line,
                     unnest(generate_series(1, len(string_split(text, ' ')))) AS idx
              FROM documents),
            cnt AS (SELECT line, COUNT(*) AS c FROM ex GROUP BY line)
            SELECT e.doc_id,
                   COALESCE(string_agg(
                     CASE WHEN NOT (c.c >= 50 AND length(e.line) >= 6)
                          THEN e.line END, ' ' ORDER BY e.idx), '') AS text,
                   SUM(CASE WHEN c.c >= 50 AND length(e.line) >= 6
                            THEN 1 ELSE 0 END) AS n_removed
            FROM ex e JOIN cnt c USING (line)
            GROUP BY e.doc_id
        """,
        "dedup_spans_documents": """
            WITH ex AS (
              SELECT doc_id,
                     unnest(string_split(text, ' ')) AS tok,
                     unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
              FROM documents),
            g AS (
              SELECT doc_id, pos AS s,
                     array_to_string(list(tok) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING), ' ') AS gram,
                     COUNT(*) OVER (PARTITION BY doc_id) AS n
              FROM ex),
            v AS (SELECT doc_id, s, gram FROM g WHERE s <= n - 4),
            c AS (SELECT gram, COUNT(*) AS c FROM v GROUP BY gram),
            dup AS (SELECT doc_id, s FROM v JOIN c USING (gram) WHERE c.c >= 2),
            cov AS (
              SELECT e.doc_id, e.pos, e.tok,
                     MAX(CASE WHEN d.s IS NOT NULL THEN 1 ELSE 0 END) AS covd
              FROM ex e LEFT JOIN dup d
                ON d.doc_id = e.doc_id AND d.s <= e.pos AND e.pos <= d.s + 4
              GROUP BY e.doc_id, e.pos, e.tok)
            SELECT doc_id,
                   COALESCE(string_agg(
                     CASE WHEN covd = 0 THEN tok END, ' ' ORDER BY pos), '') AS text,
                   SUM(covd)::BIGINT AS n_removed
            FROM cov GROUP BY doc_id
        """,
        "upsample_mixture_documents": """
            SELECT doc_id, lang,
                   unnest(generate_series(1, n))::INT AS copy_idx
            FROM (
              SELECT doc_id, lang,
                     CAST(FLOOR(w) AS BIGINT)
                       + CASE WHEN u < w - FLOOR(w) THEN 1 ELSE 0 END AS n
              FROM (
                SELECT doc_id, lang,
                       CASE lang WHEN 'en' THEN 0.7 WHEN 'de' THEN 2.4
                                 ELSE 1.3 END AS w,
                       ((105490554 * list_reduce(
                           list_prepend(0::BIGINT,
                             [unicode(c) FOR c IN regexp_extract_all(CAST(doc_id AS VARCHAR), '.')]),
                           (acc, x) -> (acc * 31 + x) % 1000000007
                         ) + 358133587) % 1000000007) / 1000000007.0 AS u
                FROM documents))
        """,
        "lm_perplexity_documents": """
            WITH ex AS (
              SELECT doc_id,
                     unnest(string_split(text, ' ')) AS tok,
                     unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
              FROM documents),
            v AS (SELECT COUNT(DISTINCT tok) AS vv FROM ex),
            bg AS (
              SELECT doc_id, tok AS c,
                     lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w
              FROM ex),
            bgf AS (SELECT doc_id, c, w FROM bg WHERE w IS NOT NULL),
            c2 AS (SELECT c, w, COUNT(*) AS n2 FROM bgf GROUP BY c, w),
            c1 AS (SELECT c, COUNT(*) AS n1 FROM bgf GROUP BY c),
            s AS (
              SELECT b.doc_id,
                     ln((n2 + 0.5) / (n1 + 0.5 * vv)) AS lp
              FROM bgf b JOIN c2 USING (c, w) JOIN c1 USING (c) CROSS JOIN v)
            SELECT d.doc_id,
                   COUNT(lp)::BIGINT AS n_scored,
                   ROUND(-AVG(lp), 6) AS nll,
                   ROUND(EXP(-AVG(lp)), 4) AS ppl
            FROM documents d LEFT JOIN s USING (doc_id)
            GROUP BY d.doc_id
        """,
        "corpus_diff_documents": """
            SELECT doc_id, status FROM (
              SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                     CASE WHEN o.doc_id IS NULL THEN 'added'
                          WHEN n.doc_id IS NULL THEN 'removed'
                          WHEN o.text <> n.text THEN 'changed' END AS status
              FROM (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 1) o
              FULL OUTER JOIN (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 3 THEN text || ' v2'
                            ELSE text END AS text
                FROM documents WHERE doc_id % 7 <> 2) n
              ON o.doc_id = n.doc_id)
            WHERE status IS NOT NULL
        """,
        "event_transitions": """
            SELECT prev_type, event_type, COUNT(*) AS n_transitions FROM (
              SELECT lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS prev_type,
                     event_type
              FROM events)
            WHERE prev_type IS NOT NULL
            GROUP BY prev_type, event_type
        """,
        "fingerprint_documents": """
            SELECT doc_id,
                   list_reduce(
                     list_prepend(0::BIGINT,
                       [unicode(c) FOR c IN regexp_extract_all(text, '.')]),
                     (acc, x) -> (acc * 31 + x) % 1000000007
                   ) AS fingerprint
            FROM documents
        """,
        "minhash_dedup_documents": _minhash_oracle_sql(),
        "incremental_minhash_dedup": _minhash_oracle_sql(incremental=True),
        "simhash_documents": _simhash_oracle_sql(),
        "lsh_topk_embeddings": _lsh_topk_oracle_sql(),
        "lsh_topk_banded_embeddings": _lsh_topk_banded_oracle_sql(),
        "ivf_topk_embeddings": _ivf_topk_oracle_sql(),
        "embedding_cosine_dedup": _embedding_cosine_dedup_oracle_sql(),
        "frame_sample_fake": _FRAME_SAMPLE_ORACLE,
        # fake-decoder ops: numpy RandomState decode is not SQL-expressible,
        # so the oracle reads the committed expected-output fixture (the
        # selection_iterations pattern) — the live Spark run regenerates the
        # identical values from media_small.parquet or the hash diverges
        "image_features_fake": f"""
            SELECT doc_id, mean_intensity, std_intensity
            FROM read_parquet('{_FIXTURE_DIR}/image_features_expected.parquet')
        """,
        "stumps_selection": f"""
            SELECT feature, impact, p_value
            FROM read_parquet('{_FIXTURE_DIR}/stumps_selection_expected.parquet')
        """,
        # distributed stumps partials: same A3/A4/A6 recompute as
        # powershap_selection, over the committed stumps iterations table
        "stumps_selection_spark": f"""
            WITH combined AS (
              SELECT iteration, feature,
                     sum(mean_abs_shap::DOUBLE * n_val_rows)
                       / sum(n_val_rows) AS v
              FROM read_parquet('{_FIXTURE_DIR}/stumps_iterations.parquet')
              GROUP BY iteration, feature
            ), r AS (
              SELECT avg(v) AS mr FROM combined
              WHERE feature = 'random_uniform_feature'
            )
            SELECT feature,
                   round(avg(v), 6) AS impact,
                   round((sum(CASE WHEN v < (SELECT mr FROM r) THEN 1 ELSE 0 END)
                        + sum(CASE WHEN v <= (SELECT mr FROM r) THEN 1 ELSE 0 END)
                        + max(CASE WHEN v = (SELECT mr FROM r) THEN 1 ELSE 0 END))
                        / (2.0 * count(*)), 6) AS p_value
            FROM combined GROUP BY feature
        """,
        "image_features_real": f"""
            SELECT doc_id, mean_intensity, std_intensity
            FROM read_parquet('{_FIXTURE_DIR}/image_features_real_expected.parquet')
        """,
        "audio_features_real": f"""
            SELECT doc_id, rms, zero_crossing_rate
            FROM read_parquet('{_FIXTURE_DIR}/audio_features_real_expected.parquet')
        """,
        "image_resize_fake": f"""
            SELECT doc_id, width, height, resized_hex
            FROM read_parquet('{_FIXTURE_DIR}/image_resize_expected.parquet')
        """,
        "audio_features_fake": f"""
            SELECT doc_id, rms, zero_crossing_rate
            FROM read_parquet('{_FIXTURE_DIR}/audio_features_expected.parquet')
        """,
        "transcript_features": f"""
            WITH t AS (
              SELECT * FROM read_parquet('{_FIXTURE_DIR}/transcripts_small.parquet')
            ), s AS (
              SELECT conv_id, turn_idx, ts, tool,
                     length(text) AS text_len,
                     length(text) - length(replace(text, ' ', '')) AS n_spaces,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE length(text) - length(replace(text, ' ', '')) + 1
                          END AS n_tokens,
                     length(text) - length(translate(text, '.,;:!?', '')) AS n_punct
              FROM t
            ), w1 AS (
              SELECT conv_id, turn_idx, ts, text_len, n_tokens, n_punct,
                     CASE WHEN n_tokens > 0
                          THEN (text_len - n_spaces)::DOUBLE / n_tokens
                          END AS avg_token_len,
                     lag(text_len, 1) OVER w AS text_len_lag1,
                     lag(text_len, 2) OVER w AS text_len_lag2,
                     lag(n_tokens, 1) OVER w AS n_tokens_lag1,
                     avg(text_len) OVER (w ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
                       AS text_len_avg_prev5,
                     sum(text_len) OVER (w ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
                       AS text_len_sum_prev3,
                     avg(n_tokens) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS n_tokens_avg_past,
                     count(*) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS n_prev_turns,
                     count(*) OVER (PARTITION BY conv_id ORDER BY CAST(epoch(ts) AS BIGINT)
                                    RANGE BETWEEN 600 PRECEDING AND 1 PRECEDING)
                       AS turns_last_600s,
                     epoch(ts) - epoch(lag(ts) OVER w) AS gap_s,
                     last_value(tool IGNORE NULLS)
                       OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS last_tool
              FROM s
              WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
            ), f AS (
              SELECT conv_id, turn_idx, ts,
                     text_len::DOUBLE AS text_len,
                     n_tokens::DOUBLE AS n_tokens,
                     avg_token_len,
                     n_punct::DOUBLE AS n_punct,
                     coalesce(text_len_lag1, 0)::DOUBLE AS text_len_lag1,
                     coalesce(text_len_lag2, 0)::DOUBLE AS text_len_lag2,
                     coalesce(n_tokens_lag1, 0)::DOUBLE AS n_tokens_lag1,
                     coalesce(text_len_avg_prev5, 0)::DOUBLE AS text_len_avg_prev5,
                     coalesce(text_len_sum_prev3, 0)::DOUBLE AS text_len_sum_prev3,
                     coalesce(n_tokens_avg_past, 0)::DOUBLE AS n_tokens_avg_past,
                     n_prev_turns::DOUBLE AS n_prev_turns,
                     coalesce(turns_last_600s, 0)::DOUBLE AS turns_last_600s,
                     coalesce(gap_s, 0)::DOUBLE AS session_gap_s,
                     CAST(sum(CASE WHEN gap_s > 1800.0 OR gap_s IS NULL THEN 1 ELSE 0 END)
                          OVER (PARTITION BY conv_id ORDER BY turn_idx
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
                          AS DOUBLE) AS session_seq,
                     CASE WHEN last_tool IS NOT NULL THEN 1.0 ELSE 0.0 END AS has_prev_tool
              FROM w1
            ), p AS (
              SELECT * FROM read_parquet('{_FIXTURE_DIR}/probes_small.parquet')
            )
            SELECT p.conv_id, p.ts, p.label, f.ts AS feature_ts, f.turn_idx,
                   round(f.text_len, 6) AS text_len,
                   round(f.n_tokens, 6) AS n_tokens,
                   round(f.avg_token_len, 6) AS avg_token_len,
                   round(f.n_punct, 6) AS n_punct,
                   round(f.text_len_lag1, 6) AS text_len_lag1,
                   round(f.text_len_lag2, 6) AS text_len_lag2,
                   round(f.n_tokens_lag1, 6) AS n_tokens_lag1,
                   round(f.text_len_avg_prev5, 6) AS text_len_avg_prev5,
                   round(f.text_len_sum_prev3, 6) AS text_len_sum_prev3,
                   round(f.n_tokens_avg_past, 6) AS n_tokens_avg_past,
                   round(f.n_prev_turns, 6) AS n_prev_turns,
                   round(f.turns_last_600s, 6) AS turns_last_600s,
                   round(f.session_gap_s, 6) AS session_gap_s,
                   round(f.session_seq, 6) AS session_seq,
                   round(f.has_prev_tool, 6) AS has_prev_tool
            FROM p ASOF LEFT JOIN f
              ON p.conv_id = f.conv_id AND p.ts >= f.ts
        """,
        "equi_join_orders_customer": """
            SELECT c.c_nationkey, count(*) AS n_orders,
                   round(sum(o.o_totalprice), 2) AS total_price
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_nationkey
        """,
        "left_anti_customers": """
            SELECT c_custkey, c_nationkey FROM customer
            WHERE c_custkey NOT IN
                  (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        """,
        "union_dedup": """
            WITH u AS (
              SELECT user_id, event_type FROM events WHERE value > 40
              UNION
              SELECT user_id, event_type FROM events WHERE value < 60
            )
            SELECT event_type, count(*) AS n_pairs FROM u GROUP BY event_type
        """,
        "distinct_cardinality": """
            SELECT event_type, count(DISTINCT user_id) AS n_users,
                   count(*) AS n_events
            FROM events GROUP BY event_type
        """,
        # the selection statistics, recomputed from the committed fixture
        # copy of the engine's checkpointed long iterations table (the live
        # Spark query regenerates the identical table — deterministic seeds,
        # vendored models — and aggregates it distributively): A3 count-
        # weighted combine, A4 mean impact, A6 tie-aware percentile p-value
        "powershap_selection": f"""
            WITH combined AS (
              SELECT iteration, feature,
                     sum(mean_abs_shap::DOUBLE * n_val_rows)
                       / sum(n_val_rows) AS v
              FROM read_parquet('{_FIXTURE_DIR}/selection_iterations.parquet')
              GROUP BY iteration, feature
            ), r AS (
              SELECT avg(v) AS mr FROM combined
              WHERE feature = 'random_uniform_feature'
            )
            SELECT feature,
                   round(avg(v), 6) AS impact,
                   round((sum(CASE WHEN v < (SELECT mr FROM r) THEN 1 ELSE 0 END)
                        + sum(CASE WHEN v <= (SELECT mr FROM r) THEN 1 ELSE 0 END)
                        + max(CASE WHEN v = (SELECT mr FROM r) THEN 1 ELSE 0 END))
                        / (2.0 * count(*)), 6) AS p_value
            FROM combined GROUP BY feature
        """,
        "percentile_pvalue": """
            WITH g AS (SELECT avg(value) AS x FROM events)
            SELECT event_type,
                   round((sum(CASE WHEN value < (SELECT x FROM g) THEN 1 ELSE 0 END)
                        + sum(CASE WHEN value <= (SELECT x FROM g) THEN 1 ELSE 0 END)
                        + max(CASE WHEN value = (SELECT x FROM g) THEN 1 ELSE 0 END))
                        / (2.0 * count(*)), 6) AS p_value
            FROM events GROUP BY event_type
        """,
        "weighted_mean": """
            WITH part AS (
              SELECT user_id, event_type, avg(value) AS mean_v, count(*) AS n
              FROM events GROUP BY user_id, event_type
            )
            SELECT event_type,
                   round(sum(mean_v * n) / sum(n), 6) AS wmean,
                   CAST(sum(n) AS BIGINT) AS n_total
            FROM part GROUP BY event_type
        """,
        "quantized_topk_embeddings": """
            WITH eq AS (
              SELECT vec_id,
                     CASE WHEN amax > 0 THEN amax / 127.0 ELSE 1.0 END AS s,
                     list_transform(embedding,
                         x -> CAST(floor(x::DOUBLE
                              / (CASE WHEN amax > 0 THEN amax / 127.0 ELSE 1.0 END)
                              + 0.5) AS BIGINT)) AS q
              FROM (SELECT vec_id, embedding,
                           list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax
                    FROM embeddings)
            ), qs AS (
              SELECT vec_id AS query_id, q AS qq FROM eq WHERE vec_id < 5
            ), scored AS (
              SELECT qs.query_id, e.vec_id,
                     CASE WHEN list_dot_product(e.q, e.q) > 0
                           AND list_dot_product(qs.qq, qs.qq) > 0
                          THEN list_dot_product(e.q, qs.qq)::DOUBLE
                               / (sqrt(list_dot_product(e.q, e.q)::DOUBLE)
                                  * sqrt(list_dot_product(qs.qq, qs.qq)::DOUBLE))
                          ELSE 0.0 END AS qcos_raw
              FROM eq e CROSS JOIN qs
            ), ranked AS (
              SELECT query_id, vec_id, qcos_raw,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY qcos_raw DESC, vec_id) AS rank
              FROM scored
            )
            SELECT query_id, vec_id, round(qcos_raw, 4) AS qcosine, rank
            FROM ranked WHERE rank <= 5
        """,
        "embedding_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
            ), scored AS (
              SELECT q.query_id, e.vec_id,
                     list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]) AS cos_raw
              FROM embeddings e CROSS JOIN q
            ), ranked AS (
              SELECT query_id, vec_id, cos_raw,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos_raw DESC, vec_id) AS rank
              FROM scored
            )
            SELECT query_id, vec_id, round(cos_raw, 4) AS cosine, rank
            FROM ranked WHERE rank <= 5
        """,
    }
