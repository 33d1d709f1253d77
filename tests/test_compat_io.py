"""compat.PowerShap facade + TableIO parquet fallback."""

import numpy as np
import pytest

from powershap_spark.compat import PowerShap
from powershap_spark.sources.tableio import TableIO, iceberg_available
from powershap_spark.synth import parity_matrix


def test_compat_signature_defaults_match_reference():
    import inspect

    sig = inspect.signature(PowerShap.__init__)
    d = {k: v.default for k, v in sig.parameters.items() if v.default is not inspect.Parameter.empty}
    # reference powershap/powershap.py:23-42 signature defaults
    assert d["power_iterations"] == 10
    assert d["power_alpha"] == 0.01
    assert d["val_size"] == 0.2
    assert d["power_req_iterations"] == 0.99
    assert d["automatic"] is True
    assert d["limit_automatic"] == 10
    assert d["limit_incremental_iterations"] == 10
    assert d["limit_recursive_automatic"] == 3
    assert d["limit_convergence_its"] == 0
    assert d["force_convergence"] is False


def test_compat_fit_transform(clf_xy):
    X, y = clf_xy
    sel = PowerShap(automatic=True).fit(X, y)
    out = sel.transform(X)
    assert {"informative_0", "informative_1"} <= set(out.columns)


def test_compat_cv_accepted():
    from powershap_spark.splitters import InfiniteSplitter, KFold

    sel = PowerShap(cv=KFold(3))
    assert isinstance(sel.cv, InfiniteSplitter)
    assert PowerShap().cv is None


class _RecordingKernelModel:
    """A model carrying its own kernel (resolve_kernel extension seam);
    records every kwargs dict the engine forwards into the fit."""

    def __init__(self):
        self.seen = []

    def fit_get_shap(self, X_train, Y_train, X_val, Y_val, random_seed, model=None, **kw):
        self.seen.append(dict(kw))
        import numpy as np

        return np.abs(X_val)


def test_fit_kwargs_reach_the_kernel(clf_xy):
    """Reference powershap.py:353 forwards {**self.fit_kwargs, **fit-kwargs}
    into every model fit; unknown keys must be ignored, not an error."""
    X, y = clf_xy
    m = _RecordingKernelModel()
    sel = PowerShap(
        model=m, power_iterations=3, automatic=False, epochs=7, batch_size=32
    )
    sel.fit(X, y, extra_flag=True)
    assert len(m.seen) == 3
    for kw in m.seen:
        assert kw == {"epochs": 7, "batch_size": 32, "extra_flag": True}


def test_automatic_topup_passes_stray_kwarg(clf_xy):
    """The reference convergence loop leaks a stray ``converge_shaps_df``
    into the automatic top-up's fit kwargs (powershap.py:472); kernels must
    receive and swallow it. Exercised directly on _automatic_fit with a
    crafted required-iterations estimate so the top-up batch is guaranteed."""
    X, y = clf_xy
    m = _RecordingKernelModel()
    sel = PowerShap(model=m, power_iterations=3, automatic=False)
    sel.fit(X, y)
    backend = sel._backend
    shaps_df = backend.explain(3, 0)
    m.seen.clear()
    processed = sel._processed_shaps_df.copy()
    processed["p_value"] = 0.0
    processed["0.99_power_its_req"] = 5.0  # > the 3 already run -> top-up
    sel._automatic_fit(
        backend, processed, 3, shaps_df, None,
        extra_fit_kwargs={"converge_shaps_df": shaps_df},
    )
    assert len(m.seen) > 0
    assert all("converge_shaps_df" in kw for kw in m.seen)


def test_tableio_parquet_roundtrip(spark, tmp_path):
    io = TableIO(spark, str(tmp_path))
    assert io.iceberg is False  # no iceberg jar in sandbox
    df = spark.range(100).withColumnRenamed("id", "x")
    io.write(df, "t1")
    assert io.read("t1").count() == 100
    io.append(df, "t1")
    assert io.read("t1").count() == 200


def test_iceberg_detection_without_catalog(spark):
    assert iceberg_available(spark) is False


def test_read_jsonl_corrupt_record_policy(spark):
    import os

    import pytest

    from powershap_spark.sources.jsonl import corrupt_stats, read_jsonl

    path = os.path.join(
        os.path.dirname(__file__), "fixtures", "docs_small.jsonl"
    )
    perm = read_jsonl(spark, path, mode="permissive")
    stats = corrupt_stats(perm).collect()[0]
    assert stats.n_lines == 22 and stats.n_corrupt == 2
    assert stats.corrupt_frac == pytest.approx(2 / 22)
    # the raw offending lines are preserved for quarantine
    bad = perm.filter(perm["_corrupt_record"].isNotNull()).toPandas()
    assert any("truncated" in s for s in bad["_corrupt_record"])

    dropped = read_jsonl(spark, path, mode="dropmalformed")
    assert dropped.count() == 20

    with pytest.raises(Exception):
        read_jsonl(spark, path, mode="failfast").count()

    with pytest.raises(ValueError):
        read_jsonl(spark, path, mode="bogus")


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key into the same bucket count must
    sort-merge join with ZERO Exchange — the write-once-shuffle-never
    co-location contract for repeated big-big joins."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from powershap_spark.sources.tableio import write_bucketed

    a = spark.createDataFrame(
        pd.DataFrame({"k": np.arange(1000) % 97, "va": np.arange(1000)})
    )
    b = spark.createDataFrame(
        pd.DataFrame({"k": np.arange(500) % 97, "vb": np.arange(500)})
    )
    write_bucketed(a, "bk_a", ["k"], n_buckets=8, sort_cols=["k"],
                   path=str(tmp_path / "bk_a"))
    write_bucketed(b, "bk_b", ["k"], n_buckets=8, sort_cols=["k"],
                   path=str(tmp_path / "bk_b"))
    try:
        ta, tb = spark.table("bk_a"), spark.table("bk_b")
        j = ta.join(tb.hint("merge"), "k")
        n = j.count()
        assert n > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_bucketed_transcripts_window_build_has_no_exchange(spark, tmp_path):
    """The BENCH pipeline's window-feature build over a transcript table
    STORED bucketed by conv_id (one file per bucket via a pre-repartition
    on the bucket key) plans ZERO Exchange: the bucketed scan's
    HashPartitioning satisfies the per-conversation window's required
    distribution, so a stable 100-TB transcript store pays its shuffle
    once at ingest and every feature build after that is per-bucket
    parallel (tools/bench_bucketed.py measures the wall delta at sf1;
    same results as the plain path, value-asserted here)."""
    from powershap_spark import synth
    from powershap_spark.pipeline import turn_features
    from powershap_spark.sources.tableio import write_bucketed

    t = synth.transcripts(spark, n_conv=40, mean_turns=12)
    write_bucketed(
        t.repartition(4, "conv_id"),
        "bk_transcripts",
        ["conv_id"],
        n_buckets=4,
        sort_cols=["conv_id", "turn_idx"],
        path=str(tmp_path / "bk_t"),
    )
    try:
        feats_b = turn_features(spark.table("bk_transcripts"), skew_safe=False)
        plan = feats_b._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # identical values to the plain (shuffled) build
        feats_p = turn_features(t, skew_safe=False)
        key = ["conv_id", "turn_idx"]
        pb = feats_b.toPandas().sort_values(key).reset_index(drop=True)
        pp = feats_p.toPandas().sort_values(key).reset_index(drop=True)
        import pandas as pd

        pd.testing.assert_frame_equal(pb[pp.columns], pp)
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_transcripts")


def test_skew_bounded_store_parity_and_cold_zero_exchange(spark, tmp_path):
    """write_bucketed_skew_bounded splits hot keys OUT of the bucketed
    table (round-5 finding: bucketing co-locates skew at scan time), so:
    (1) the hot conversation is detected and diverted; (2) the COLD table
    still builds its window features with ZERO Exchange; (3) cold plain
    window + hot salted two-phase, unioned, equals the plain build over
    the whole table value-for-value (conversations are wholly cold or
    wholly hot, so per-entity features compose exactly)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from powershap_spark import synth
    from powershap_spark.pipeline import turn_features
    from powershap_spark.sources.tableio import (
        read_skew_bounded,
        write_bucketed_skew_bounded,
    )

    # conv 0 is the planted hot key (~30% of rows here)
    t = synth.transcripts(spark, n_conv=40, mean_turns=12, hot_frac=0.3)
    per_key = dict(t.groupBy("conv_id").count().collect())
    bound = 100
    expect_hot = sorted(k for k, n in per_key.items() if n > bound)
    assert expect_hot, "fixture must contain a hot conversation"

    hot_keys = write_bucketed_skew_bounded(
        t,
        "sb_transcripts",
        key="conv_id",
        order_col="turn_idx",
        n_buckets=4,
        sort_cols=["conv_id", "turn_idx"],
        path=str(tmp_path / "sb_t"),
        rows_per_key_bound=bound,
    )
    try:
        assert sorted(hot_keys) == expect_hot
        cold, hot, hot_keys_rt = read_skew_bounded(
            spark, "sb_transcripts", str(tmp_path / "sb_t")
        )
        assert sorted(hot_keys_rt) == expect_hot
        # no row lost or duplicated by the split
        assert cold.count() + hot.count() == t.count()

        feats_cold = turn_features(cold, skew_safe=False)
        plan = feats_cold._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan

        # the hot side is stored spread over sub-chunks, not one file
        hot_files = hot.select(F.input_file_name()).distinct().count()
        assert hot_files > 1

        feats_hot = turn_features(hot, skew_safe=True)
        both = feats_cold.unionByName(feats_hot)
        ref = turn_features(t, skew_safe=False)
        key = ["conv_id", "turn_idx"]
        got = both.toPandas().sort_values(key).reset_index(drop=True)
        exp = ref.toPandas().sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(got[exp.columns], exp)
    finally:
        spark.sql("DROP TABLE IF EXISTS sb_transcripts")


def test_skew_bounded_store_no_hot_keys(spark, tmp_path):
    """With no key over the bound the whole table is bucketed cold, the
    hot side table exists but is empty, and the round trip is lossless."""
    from powershap_spark import synth
    from powershap_spark.sources.tableio import (
        read_skew_bounded,
        write_bucketed_skew_bounded,
    )

    t = synth.transcripts(spark, n_conv=20, mean_turns=8, hot_frac=0.0)
    hot_keys = write_bucketed_skew_bounded(
        t,
        "sb_nohot",
        key="conv_id",
        order_col="turn_idx",
        n_buckets=4,
        sort_cols=["conv_id", "turn_idx"],
        path=str(tmp_path / "sb_nh"),
        rows_per_key_bound=10_000_000,
    )
    try:
        assert hot_keys == []
        cold, hot, hot_rt = read_skew_bounded(spark, "sb_nohot", str(tmp_path / "sb_nh"))
        assert hot.count() == 0 and hot_rt == []
        assert cold.count() == t.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS sb_nohot")


def test_read_csv_corrupt_record_policy(spark):
    import os

    import pytest

    from powershap_spark.sources.csvio import corrupt_stats, read_csv

    path = os.path.join(os.path.dirname(__file__), "fixtures", "docs_small.csv")
    perm = read_csv(spark, path, mode="permissive")
    stats = corrupt_stats(perm).collect()[0]
    # full-schema accounting: both the type-failure line and the
    # arity-shortfall line count as corrupt (corrupt_stats probes every
    # typed column on purpose — CSV permissive tagging is
    # projection-dependent, see the corrupt_stats docstring)
    assert stats.n_lines == 22 and stats.n_corrupt == 2
    assert stats.corrupt_frac == pytest.approx(2 / 22)
    assert stats.n_parsed == 20
    bad = perm.filter(perm["_corrupt_record"].isNotNull()).toPandas()
    assert any("notanumber" in s for s in bad["_corrupt_record"])
    # permissive partial results: the arity-shortfall row is TAGGED but
    # keeps the fields it did carry (doc_id parsed, lang/url null)
    short = perm.filter(perm["doc_id"] == 999).toPandas()
    assert len(short) == 1 and short.lang.isna().iloc[0]
    assert short["_corrupt_record"].notna().iloc[0]

    got = (
        perm.filter(perm["_corrupt_record"].isNull())
        .orderBy("doc_id")
        .toPandas()
    )
    assert len(got) == 20
    assert list(got.doc_id[:3]) == [0, 1, 2]
    assert got.text.iloc[0] == "doc 0 text here"

    # DROPMALFORMED drops rows whose REQUESTED columns fail to parse; a
    # bare count() requests none (column pruning) and drops nothing —
    # materialize the typed columns to exercise the policy
    dropped = read_csv(spark, path, mode="dropmalformed")
    assert len(dropped.toPandas()) == 20

    with pytest.raises(Exception):
        # toPandas, not count(): pruning would skip the parse entirely
        read_csv(spark, path, mode="failfast").toPandas()

    with pytest.raises(ValueError):
        read_csv(spark, path, mode="bogus")


def test_read_warc_parse_and_quarantine(spark, tmp_path):
    import os

    from powershap_spark.sources.warc import read_warc, warc_stats

    path = os.path.join(os.path.dirname(__file__), "fixtures", "docs_small.warc")
    df = read_warc(spark, path)
    pdf = df.toPandas().reset_index(drop=True)
    assert len(pdf) == 6
    ok = pdf[~pdf._warc_malformed]
    assert list(ok.warc_type) == [
        "warcinfo", "response", "response", "conversion", "request",
    ]
    # payload sliced to EXACTLY Content-Length in BYTES (ISO 28500:
    # Content-Length is octets — character-based validation would reject
    # every non-ASCII payload); record trailers excluded
    assert (
        ok.payload.map(lambda s: len(s.encode())) == ok.content_length
    ).all()
    assert ok[ok.target_uri == "https://example.com/a"].payload.iloc[0] == (
        "<html>hello world</html>"
    )
    # the non-ASCII record round-trips byte-exactly (19 chars, 27 bytes)
    utf8 = ok[ok.target_uri == "https://example.com/utf8"].payload.iloc[0]
    assert utf8 == "café élève naïve 中文" and len(utf8.encode()) == 27
    # header extraction
    assert ok.record_id.str.startswith("<urn:uuid:").all()
    assert pdf[pdf._warc_malformed].payload.str.contains("GARBAGE").all()

    stats = warc_stats(df).collect()[0]
    assert (stats.n_records, stats.n_parsed, stats.n_malformed) == (6, 5, 1)
    assert stats.payload_bytes == int(ok.content_length.sum())

    # false-split trap: a payload CONTAINING the record delimiter splits
    # into two rows, and BOTH are quarantined (length mismatch / missing
    # headers) rather than silently mis-attributed
    trap_payload = "before\r\n\r\nWARC/1.0\r\nafter"
    trap = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        "WARC-Record-ID: <urn:uuid:t>\r\n"
        f"Content-Length: {len(trap_payload)}\r\n"
        "\r\n" + trap_payload + "\r\n\r\n"
    )
    p = tmp_path / "trap.warc"
    p.write_bytes(trap.encode())
    tp = read_warc(spark, str(p)).toPandas()
    assert len(tp) == 2 and tp._warc_malformed.all()


def test_read_warc_gz_member_split_parity(spark, tmp_path):
    """Splittable .warc.gz (VERDICT r7 #4): records written one-gzip-
    member-per-record (the Common Crawl layout) parse identically to the
    uncompressed reader on the same bytes — including the malformed
    quarantine rows — and the scan stage finds every member even with a
    chunk size small enough to force members to straddle chunk edges."""
    import gzip
    import os

    from powershap_spark.sources.warc import read_warc, read_warc_gz

    fix = os.path.join(os.path.dirname(__file__), "fixtures", "docs_small.warc")
    with open(fix, "rb") as f:
        raw = f.read()
    # split the fixture into records the same way the lineSep reader does
    # and re-wrap each as its own gzip member ending with CRLF CRLF
    recs = raw.split(b"\r\n\r\nWARC/1.0\r\n")
    recs = [recs[0]] + [b"WARC/1.0\r\n" + r for r in recs[1:]]
    gz = tmp_path / "members"
    gz.mkdir()
    # the lineSep split consumed each record's trailing CRLF CRLF except
    # the last one's — restore it without touching payload-owned CRLFs
    members = [
        r if r.endswith(b"\r\n\r\n") else r + b"\r\n\r\n" for r in recs
    ]
    blob = b"".join(gzip.compress(m) for m in members)
    (gz / "shard0.warc.gz").write_bytes(blob)
    (gz / "shard1.warc.gz").write_bytes(blob)

    base = read_warc(spark, fix).toPandas()
    cols = ["warc_type", "target_uri", "record_id", "content_length", "_warc_malformed"]

    def canon(pdf):
        # RAW payload compare — the readers must agree byte-for-byte
        # (stripping here would mask exactly the CRLF-trailer bugs the
        # gz reader's magic/trailer normalization exists to prevent)
        return (
            pdf[cols + ["payload"]]
            .sort_values(cols + ["payload"])
            .reset_index(drop=True)
        )

    # tiny chunk size forces many scan ranges per file (straddle coverage)
    got = read_warc_gz(spark, str(gz), chunk_bytes=256).toPandas()
    assert len(got) == 2 * len(base)
    import pandas as _pd

    twice = _pd.concat([base, base], ignore_index=True)
    assert canon(got).equals(canon(twice))

    # glob / single-file forms
    one = read_warc_gz(spark, str(gz / "shard0.warc.gz")).toPandas()
    assert canon(one).equals(canon(base))

    # truncated final member (partially landed shard): the decoded prefix
    # must surface as a quarantine row (_warc_malformed), never hang or
    # silently vanish
    cut = tmp_path / "cut"
    cut.mkdir()
    (cut / "t.warc.gz").write_bytes(blob[: len(blob) - 40])
    tp = read_warc_gz(spark, str(cut)).toPandas()
    assert len(tp) == len(base)  # every member surfaced, last one truncated
    assert tp._warc_malformed.sum() == base._warc_malformed.sum() + 1
