"""Physical-plan assertions: predicate pushdown reaches the parquet scan,
column pruning trims ReadSchema, a multi-feature window block costs exactly
one exchange, and the small dimension side of an equi-join broadcasts."""

import io
import re
from contextlib import redirect_stdout

import numpy as np
import pandas as pd

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_and_pruning(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .filter(F.col("l_shipdate") < "1996-01-01")
        .select("l_orderkey", "l_extendedprice")
    )
    p = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in p
    # pruned scan: only the 3 referenced columns, not all 11
    rs = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in rs and "l_extendedprice" in rs and "l_shipdate" in rs
    assert "l_partkey" not in rs and "l_quantity" not in rs


def test_window_block_single_exchange(spark):
    from powershap_spark.operators.windows import (
        build_features,
        lag_feature,
        rolling,
        session_gap,
        sessionize,
    )

    e = spark.read.parquet(f"{SF_DIR}/events.parquet").select("user_id", "ts", "value")
    out = build_features(
        e,
        [
            lag_feature("value", 1),
            rolling("value", "avg", -3, -1, name="a3"),
            rolling("value", "sum", None, -1, name="cs"),
            session_gap("ts"),
            sessionize("ts", 1800.0),
        ],
        entity="user_id",
        order="ts",
    )
    p = _plan(out)
    # all five features share one partitioning: exactly one shuffle
    import re

    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1


def test_broadcast_dim_join(spark):
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    assert "BroadcastHashJoin" in _plan(j)


def test_selection_batch_zero_exchange_zero_sort(spark, clf_xy):
    """The matrix is cached POST-shuffle (partitioned by part_id, sorted
    within partitions), so the per-batch plan is one Arrow grouped-map UDF
    reading the InMemory scan directly — ZERO Exchange and ZERO Sort. The
    one shuffle of the matrix happens once at backend init, not once per
    explain batch (automatic mode's incremental batches reuse it)."""
    import numpy as np
    import pandas as pd

    from powershap_spark.engine import SparkExplainBackend, _make_group_fn, _RESULT_SCHEMA

    X, y = clf_xy
    pdf = X.copy()
    pdf["label"] = y
    pdf["row_id"] = np.arange(len(pdf))
    sdf = spark.createDataFrame(pdf)
    be = SparkExplainBackend(
        sdf, list(X.columns), "label", n_parts=4, sort_cols=["row_id"],
        min_rows_per_part=50,
    )
    assert be.n_parts == 4  # the claim needs a real multi-part grid
    fn = _make_group_fn(
        list(X.columns), "label", [(0, 0), (1, 1)], 0, 0.2, None, None, None,
        "positional", None, ["row_id"],
    )
    import re

    out = be.df.groupBy("part_id").applyInPandas(fn, schema=_RESULT_SCHEMA)
    p = _plan(out)
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas\b", p)) == 1
    # the PER-BATCH segment is everything above the InMemory scan; the
    # Exchange/Sort inside InMemoryRelation's recorded build plan ran once
    # at cache materialization and never again
    batch_seg = p.split("InMemoryTableScan", 1)[0]
    assert "Exchange" not in batch_seg, p
    assert "Sort" not in batch_seg, p
    be.release()


def test_frame_sample_plan_has_no_python_stage(spark):
    """frame_sample must be pure JVM: explode+concat, no Arrow/pandas UDF."""
    from powershap_spark.operators.multimodal import attach_fake_media, frame_sample

    media = attach_fake_media(spark.range(10).withColumnRenamed("id", "doc_id"), "doc_id")
    plan = _plan(frame_sample(media, every_k=5))
    assert "InPandas" not in plan and "Python" not in plan
    assert "Generate" in plan  # the explode


def test_ivf_topk_plan_broadcasts_probe_cells(spark):
    """IVF candidates come from a broadcast equi-join on cell — the big
    embedding table is never cross-joined or shuffled for assignment."""
    from powershap_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = _plan(ivf_topk(emb, q, k=3, stride=16, nprobe=2))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_simhash_frame_plan_one_exchange(spark):
    """Frame simhash: explode, then a partial+final HashAggregate pair on
    doc_id around exactly one Exchange — no join, no sort."""
    from powershap_spark.operators.dedup import simhash_frame

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(simhash_frame(d))
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert nodes.count("Exchange") == 1, nodes
    assert [k.split("#")[0] for k in _exchange_keys(plan)] == ["doc_id"]
    # first aggregate function of each HashAggregate node
    aggs = re.findall(
        r"^\(\d+\) HashAggregate\n(?:.*\n)*?Functions \[\d+\]: \[(\w+)", plan, re.M
    )
    assert sorted(aggs) == ["count", "partial_count"], aggs
    assert not any("Join" in n or "Sort" in n for n in nodes), nodes


def test_turn_features_exchange_carries_only_narrow_ints(spark):
    """The round-3 shuffle-byte cut, plan-asserted: the per-conversation
    window exchange in turn_features carries only int32 text scalars plus a
    1-byte has_tool flag — no tool string, no upper_ratio, no pre-computed
    double ratios (avg_token_len is reconstructed post-shuffle)."""
    import os

    from powershap_spark.pipeline import turn_features

    fix = os.path.join(os.path.dirname(__file__), "fixtures")
    t = spark.read.parquet(f"{fix}/transcripts_small.parquet")
    p = _plan(turn_features(t, skew_safe=False))

    # the Exchange node's input column list (formatted explain: the node
    # header "(N) Exchange" is followed by Input then Arguments lines)
    lines = p.splitlines()
    ex = next(
        i
        for i, ln in enumerate(lines)
        if ln.strip().endswith("Exchange")
        and "hashpartitioning(conv_id" in lines[i + 2]
    )
    inp = lines[ex + 1]
    assert inp.lstrip().startswith("Input"), inp
    for col in ("text_len", "n_tokens", "n_nonspace", "n_punct", "has_tool"):
        assert col in inp, f"{col} missing from exchange input: {inp}"
    # narrowed/dropped columns must not cross the exchange
    assert "tool#" not in inp.replace("has_tool#", "")
    assert "upper_ratio" not in inp
    assert "avg_token_len" not in inp
    assert "text#" not in inp  # raw text never reaches the window shuffle


def test_chunk_tokens_plan_pure_jvm_no_shuffle(spark):
    """Sequence chunking is a mapper: explode+slice, no Python, no
    exchange — a 100-TB chunking pass is one scan."""
    from powershap_spark.operators.text import chunk_tokens

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(chunk_tokens(d, max_tokens=32))
    assert "InPandas" not in plan and "Python" not in plan
    assert "Exchange" not in plan and "Join" not in plan
    assert "Generate" in plan  # the explode


def test_scrub_pii_plan_single_projection(spark):
    """PII scrub composes all four rewrites into one codegen projection."""
    from powershap_spark.operators.scrub import scrub_pii

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(scrub_pii(d))
    assert "Exchange" not in plan and "Join" not in plan
    assert "InPandas" not in plan and "Python" not in plan


def test_contamination_plan_broadcasts_benchmark(spark):
    """The benchmark shingle set must broadcast — the training corpus is
    never shuffled on shingles."""
    from powershap_spark.operators.dedup import benchmark_contamination

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    plan = _plan(benchmark_contamination(d, bench))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_turn_features_single_sort_for_whole_window_block(spark):
    """ts is monotone in turn_idx, so the rows frames order by
    (epoch, turn_idx) and the 600s range frame's required sort is a prefix:
    the ENTIRE feature block must plan exactly one Sort after its exchange
    (a second full-table sort was a whole extra pass at 10^12 turns)."""
    import re

    from powershap_spark.pipeline import turn_features

    t = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["a"] * 5,
                "turn_idx": np.arange(5, dtype="int32"),
                "ts": pd.date_range("2024-01-01", periods=5, freq="min"),
                "text": ["x y"] * 5,
                "tool": [None] * 5,
            }
        )
    )
    plan = _plan(turn_features(t, skew_safe=False))
    assert len(re.findall(r"\+\- Sort \(", plan)) == 1, plan
    assert len(re.findall(r"\+\- Exchange \(", plan)) == 1, plan


def _exchange_keys(plan: str) -> list[str]:
    """From explain('formatted') output, return each Exchange node's
    hashpartitioning argument string (the shuffle keys)."""
    return re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)


def test_dedup_lines_two_exchanges_hash_keyed(spark):
    """Line dedup is exactly two shuffles of the exploded lines: one on
    the 8-byte xxhash64(line) for the frequency window (never on the line
    STRING), one on the doc id to reassemble — and no join back against a
    counts table (the frequency is a window count)."""
    from powershap_spark.operators.text import dedup_lines

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = _plan(dedup_lines(d, min_count=3, min_chars=5))
    keys = _exchange_keys(p)
    assert len(keys) == 2, p
    assert any("__h" in k for k in keys)
    assert any("doc_id" in k for k in keys)
    # the window shuffle keys on the hash, not the line text
    assert not any("__line" in k for k in keys)
    assert "Join" not in p
    # reassembly has a map-side partial before its exchange
    assert "partial_collect_list" in p


def test_dedup_ngram_spans_text_never_shuffles(spark):
    """Span dedup shuffles only the exploded (id, start, hash) relation:
    one Exchange on the 8-byte gram hash for the frequency window, one on
    the doc id to collapse dup starts (map-side partial_collect_list),
    and the dup-starts table joins BACK to the docs — text appears in
    scans and the gram projection only, never in any Exchange."""
    from powershap_spark.operators.text import dedup_ngram_spans

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = _plan(dedup_ngram_spans(d, k=5, min_count=2))
    keys = _exchange_keys(p)
    assert len(keys) == 2, p
    assert any("__h" in k for k in keys)
    assert any("doc_id" in k for k in keys)
    # frequency is a window count over the hash, not a counts-table join
    assert "Window" in p and "partial_collect_list" in p
    # every shuffle (hash Exchange or BroadcastExchange) is text-free
    sections = re.split(r"\n\n", p)
    exchange_sections = [
        s for s in sections if re.match(r"\(\d+\) (Broadcast)?Exchange", s)
    ]
    assert exchange_sections, p
    for s in exchange_sections:
        assert "text#" not in s, s


def test_lm_perplexity_shuffles_hashes_only(spark):
    """The self-trained bigram LM counts via chained window counts over
    the 8-byte context/bigram hashes (no counts-table join-back), V via
    count_distinct over the token hash — token strings reach no Exchange,
    and V comes back as a broadcast, never a collected literal."""
    from powershap_spark.operators.text import lm_perplexity

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = _plan(lm_perplexity(d))
    keys = _exchange_keys(p)
    assert any("__bh" in k for k in keys)
    assert any("__ch" in k for k in keys)
    assert any("__th" in k for k in keys)
    assert any("doc_id" in k for k in keys)
    assert len(re.findall(r"\(\d+\) Window", p)) == 2
    sections = re.split(r"\n\n", p)
    exchange_sections = [
        s for s in sections if re.match(r"\(\d+\) (Broadcast)?Exchange", s)
    ]
    assert exchange_sections, p
    for s in exchange_sections:
        assert "text#" not in s, s


def test_tfidf_keywords_map_side_combine_and_hash_shuffles(spark):
    """tf collapses map-side (partial_first/partial_count below the first
    Exchange) keyed on (doc, token-hash); df is a window count over the
    8-byte hash — no vocabulary groupBy+join-back; document text reaches
    no Exchange (only the already-collapsed token payload does)."""
    from powershap_spark.operators.text import tfidf_keywords

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = _plan(tfidf_keywords(d, k=5))
    keys = _exchange_keys(p)
    assert any("__th" in k for k in keys)
    assert any("doc_id" in k for k in keys)
    assert "partial_first" in p  # map-side combine before the tf exchange
    assert len(re.findall(r"\(\d+\) Window\b", p)) == 2  # df count + top-k
    # rank<=k is pushed below the final exchange (per-partition prune)
    assert "WindowGroupLimit" in p
    sections = re.split(r"\n\n", p)
    exchange_sections = [
        s for s in sections if re.match(r"\(\d+\) (Broadcast)?Exchange", s)
    ]
    assert exchange_sections, p
    for s in exchange_sections:
        assert "text#" not in s, s


def test_token_shift_topk_is_take_ordered_not_single_partition(spark):
    """The global top-k shift uses orderBy().limit(k) so Spark plans
    TakeOrderedAndProject (per-partition heaps + one k-row merge) — a
    row_number window here would force Exchange SinglePartition over the
    whole vocabulary; and the count shuffles are hash-keyed with the
    document text in no Exchange."""
    from powershap_spark.operators.text import token_shift

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    old = d.filter(F.col("doc_id") % 7 != 1)
    new = d.filter(F.col("doc_id") % 7 != 2)
    p = _plan(token_shift(old, new, k=20))
    assert "TakeOrderedAndProject" in p
    keys = _exchange_keys(p)
    # the count shuffle keys on the xxhash64 grouping expression — a
    # bigint (the '#NNL' attr suffix), never the token string
    assert any("_groupingexpression" in k and "L," in k for k in keys), keys
    sections = re.split(r"\n\n", p)
    for s in sections:
        if re.match(r"\(\d+\) (Broadcast)?Exchange", s):
            assert "text#" not in s, s
        # the only SinglePartition exchanges are the two scalar totals
        # (partial-sum rows) — the vocabulary never funnels to one task
        if re.match(r"\(\d+\) Exchange", s) and "SinglePartition" in s:
            assert "token#" not in s and "__tok" not in s, s


def test_corpus_diff_shuffle_carries_hashes_not_text(spark):
    """Both corpus versions are projected to (id, xxhash64(text)) BEFORE
    the full-outer join: the join exchanges move 16 bytes/row, and the
    text column never reaches a shuffle (checked on each Exchange node's
    Input attribute list in the formatted plan)."""
    from powershap_spark.operators.dedup import corpus_diff

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    old = d.filter(F.col("doc_id") % 7 != 1)
    new = d.filter(F.col("doc_id") % 7 != 2)
    p = _plan(corpus_diff(old, new))
    assert "SortMergeJoin" in p and "FullOuter" in p
    assert "xxhash64" in p
    # walk the numbered node sections; every Exchange's Input [..] list
    # must be text-free (the hash projection sits below the shuffle)
    sections = re.split(r"\n\n", p)
    exchange_sections = [s for s in sections if re.match(r"\(\d+\) Exchange", s)]
    assert exchange_sections, p
    for s in exchange_sections:
        assert "text#" not in s, s
