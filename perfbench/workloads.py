"""The benchmark's workloads. Each has

- ``prepare(ctx)``: load (or generate once per seed) its inputs;
- ``run(ctx, idx)``: one untraced pass through the public pipeline entry
  point, exactly as a user calls it;
- ``traced(ctx, idx)``: the same pass split into its layers, each called
  through its public function inside a span, with each layer's output
  persisted before the next layer starts so spans do not overlap;
- ``outputs(ctx, idx, full)``: the pass's checked outputs, read after the
  timed interval; ``full=False`` leaves out the ones that are costly to
  take;
- ``reset(ctx, idx)``: remove earlier passes' state, outside the timed
  interval, so every pass starts fresh.
"""

from __future__ import annotations

import os
import re
import shutil
import time
import warnings
from dataclasses import dataclass
from types import SimpleNamespace
from unittest import mock

import inputs as inputs_mod

ALPHA = 0.01
REQ_ITERATIONS = 0.99
ITERATIONS = 10
SORT_COLS = ["conv_id", "ts"]


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    cpus: int
    tracer: object


def _dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for base, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size


class Selection:
    """powershap selection over the point-in-time transcript matrix."""

    # JIT settles over the first passes: the third is still often ~10%
    # slower than the fourth, by a margin that varies from run to run
    warmup_passes = 3

    def __init__(self, name, shape, hot_threshold_rows, automatic):
        self.name = name
        self.shape = shape
        self.hot_threshold_rows = hot_threshold_rows
        self.automatic = automatic

    def prepare(self, ctx: Ctx) -> None:
        self.t, self.p, self.info = inputs_mod.transcripts(
            ctx.spark, ctx.work, ctx.seed, self.shape, self.name
        )
        self.rows = self.info["n_turns"]

    def _ckpt_root(self, ctx: Ctx) -> str:
        return os.path.join(ctx.work, "checkpoints", self.name)

    def reset(self, ctx: Ctx, idx: int) -> None:
        shutil.rmtree(self._ckpt_root(ctx), ignore_errors=True)

    def _selector_kw(self, ctx: Ctx, idx: int) -> dict:
        kw = dict(
            power_iterations=ITERATIONS,
            n_parts=ctx.cpus,
            probe_mode="keyed",
            show_progress=False,
        )
        if self.automatic:
            kw.update(
                automatic=True,
                checkpoint_dir=self._ckpt_root(ctx),
                run_id=f"pass{idx}",
            )
        return kw

    def run(self, ctx: Ctx, idx: int) -> None:
        from powershap_spark.pipeline import select_features

        sel, self._mat = select_features(
            self.t,
            self.p,
            skew_safe="auto",
            hot_threshold_rows=self.hot_threshold_rows,
            **self._selector_kw(ctx, idx),
        )
        self._selected = list(sel.selected_features_)

    def outputs(self, ctx: Ctx, idx: int, full: bool = True) -> dict:
        out = {"selected": self._selected, "turns": self.t.count()}
        if full:
            # recomputes the pass's point-in-time matrix
            out["matrix_rows"] = self._mat.count()
        if self.automatic:
            out.update(self._checkpoint_outputs(ctx, idx))
        return out

    def _checkpoint_outputs(self, ctx: Ctx, idx: int) -> dict:
        import pandas as pd

        run_dir = os.path.join(self._ckpt_root(ctx), f"pass{idx}")
        names = os.listdir(run_dir)
        first = pd.read_parquet(os.path.join(run_dir, "iter=main.0.parquet"))
        one_feature = first[first["feature"] == first["feature"].iloc[0]]
        return {
            "iterations": sum(n.endswith(".COMPLETE") for n in names),
            # each part's row count, summed over the parts of one iteration
            "fit_rows": int(one_feature["n_rows"].sum()),
        }

    def independent(self) -> dict:
        """Expected values computed without the program."""
        out = {"turns": self.info["n_turns"], "matrix_rows": self.info["n_matched"]}
        if self.automatic:
            out["fit_rows"] = self.info["n_matched"]
        return out

    # -- traced pass ---------------------------------------------------------

    def _explain(self, tr, idx, backend, *args):
        with tr.span("engine.explain", idx) as s, warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            shaps = backend.explain(*args)
        degenerate = 0
        for w in caught:
            m = re.match(r"(\d+) explain block\(s\) produced all-zero", str(w.message))
            degenerate += int(m.group(1)) if m else 0
        # one row per iteration, each fitted once on every part
        s["counts"].update(fits=len(shaps) * backend.n_parts, degenerate_blocks=degenerate)
        return shaps

    def _stats(self, tr, idx, *args):
        from powershap_spark.stats import statistical_analysis

        with tr.span("stats.statistical_analysis", idx):
            return statistical_analysis(*args)

    def _automatic(self, tr, idx, backend, shaps, processed):
        """The selector's own automatic top-up loop, with its explain and
        statistics calls in spans."""
        from powershap_spark import engine

        sel = engine.PowerShapSelector(
            power_iterations=ITERATIONS,
            power_alpha=ALPHA,
            power_req_iterations=REQ_ITERATIONS,
            automatic=True,
        )
        spanned = SimpleNamespace(explain=lambda *a: self._explain(tr, idx, backend, *a))
        stats = lambda *a: self._stats(tr, idx, *a)  # noqa: E731
        with mock.patch.object(engine, "statistical_analysis", stats):
            processed, _ = sel._automatic_fit(
                spanned, processed, ITERATIONS, shaps, exclude_cols=None
            )
        return processed

    def traced(self, ctx: Ctx, idx: int) -> None:
        from pyspark.sql import functions as F

        from powershap_spark.caching import tracking_scope
        from powershap_spark.engine import CheckpointStore, SparkExplainBackend
        from powershap_spark.kernel import RANDOM_COL, explain_iteration
        from powershap_spark.operators.salted import detect_hot_keys
        from powershap_spark.pipeline import (
            AUTO_SAMPLE_FRACTION,
            FEATURE_COLS,
            point_in_time_matrix,
            turn_features,
        )

        tr = ctx.tracer
        with tracking_scope():
            with tr.span("salted.detect_hot_keys", idx):
                hot = detect_hot_keys(
                    self.t,
                    "conv_id",
                    self.hot_threshold_rows,
                    sample_fraction=AUTO_SAMPLE_FRACTION,
                )
            salted = bool(hot)
            with tr.span("pipeline.turn_features", idx) as s:
                feats = turn_features(self.t, skew_safe=salted).persist()
                feats.count()
                s["counts"]["salted"] = int(salted)
            with tr.span("asof.point_in_time_matrix", idx) as s:
                mat = (
                    point_in_time_matrix(feats, self.p, skew_safe=salted)
                    .filter(F.col("feature_ts").isNotNull())
                    .persist()
                )
                n_mat = mat.count()
                s["counts"]["matched_frac"] = n_mat / self.info["n_probes"]
            store = None
            if self.automatic:
                store = CheckpointStore(self._ckpt_root(ctx), f"pass{idx}")
            with tr.span("engine.backend_init", idx):
                backend = SparkExplainBackend(
                    mat,
                    FEATURE_COLS,
                    "label",
                    n_parts=ctx.cpus,
                    probe_mode="keyed",
                    sort_cols=SORT_COLS,
                    store=store,
                    single_batch=not self.automatic,
                )
            try:
                shaps = self._explain(tr, idx, backend, ITERATIONS, 0)
                processed = self._stats(tr, idx, shaps, ALPHA, REQ_ITERATIONS)
                if self.automatic:
                    processed = self._automatic(tr, idx, backend, shaps, processed)
                with tr.span("kernel.explain_iteration", idx) as s:
                    # one partition block collected to the driver, then one fit
                    block = (
                        backend.df.withColumn("part_id", backend.part_expr)
                        .filter(F.col("part_id") == 0)
                        .toPandas()
                    )
                    t0 = time.perf_counter()
                    explain_iteration(
                        block,
                        FEATURE_COLS,
                        "label",
                        iteration=0,
                        probe_mode="keyed",
                        row_key_col=backend.row_key_col,
                        sort_cols=SORT_COLS,
                    )
                    s["counts"]["fit_s"] = time.perf_counter() - t0
            finally:
                backend.release()
                mat.unpersist()
                feats.unpersist()
        for rec in tr.spans:
            if rec["pass"] == idx and rec["layer"] == "engine.explain":
                rec["counts"]["rows_per_fit"] = n_mat / backend.n_parts
        p = processed.drop(index=RANDOM_COL)["p_value"]
        self._selected = [c for c in FEATURE_COLS if p[c] < ALPHA]
        self._mat = mat
        if self.automatic:
            files, size = _dir_stats(store.dir)
            tr.spans.append(
                {
                    "layer": "engine.checkpoint",
                    "pass": idx,
                    "counts": {"files": files, "bytes": size},
                }
            )


# the shipped 12-rule BPE merge table (the literals of __spark_entry__._BPE_RULES)
BPE_RULES = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"),
]

CHAIN_STAGES = [
    "ingest_extract_scrub",
    "exact_dedup",
    "lm_perplexity_filter",
    "bpe_encode_vocab_ids",
    "pack_contiguous",
    "shuffle_shards",
]


class CorpusChain:
    """WARC crawl to packed, shuffled token blocks as ``CorpusPipeline``
    stages; every stage writes parquet and a marker and is reloaded."""

    name = "corpus_chain"
    block_tokens = 512
    n_shards = 16
    warmup_passes = 1

    def __init__(self, shape=inputs_mod.CRAWL):
        self.shape = shape

    def prepare(self, ctx: Ctx) -> None:
        self.crawl, self.info = inputs_mod.crawl(ctx.spark, ctx.work, ctx.seed, self.shape)
        self.rows = self.info["pages"]

    def _root(self, ctx: Ctx) -> str:
        return os.path.join(ctx.work, "chain")

    def reset(self, ctx: Ctx, idx: int) -> None:
        shutil.rmtree(self._root(ctx), ignore_errors=True)

    def stages(self) -> list:
        from pyspark.sql import functions as F

        from powershap_spark.corpus import Stage
        from powershap_spark.operators.dedup import exact_dedup
        from powershap_spark.operators.scrub import extract_html_text, scrub_pii
        from powershap_spark.operators.sharding import (
            deterministic_shuffle_shards,
            pack_contiguous,
        )
        from powershap_spark.operators.text import (
            bpe_encode,
            build_vocab,
            lm_perplexity,
            tokens_to_ids,
        )
        from powershap_spark.sources.warc import read_warc

        held: dict = {}

        def release(key):
            def fn():
                held.pop(key).unpersist()

            return fn

        def ingest(spark, prev):
            pages = read_warc(spark, self.crawl).filter(
                ~F.col("_warc_malformed") & (F.col("warc_type") == "response")
            )
            return (
                pages.select(
                    F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("long").alias("doc_id"),
                    extract_html_text("payload", min_words=3).alias("text"),
                )
                .transform(scrub_pii)
                .select("doc_id", F.col("text_scrubbed").alias("text"))
            )

        def ppl_filter(spark, prev):
            # scores are read twice (quantile, then the semi join)
            ppl = held["ppl"] = lm_perplexity(prev).persist()
            q = ppl.approxQuantile("ppl", [0.95], 0.001)
            keep = ppl.filter((F.col("n_scored") == 0) | (F.col("ppl") <= q[0]))
            return prev.join(keep.select("doc_id"), "doc_id", "left_semi")

        def encode(spark, prev):
            # the tokens feed both the vocabulary count and the id mapping
            flat = held["tokens"] = (
                bpe_encode(prev, BPE_RULES, method="dict")
                .select("doc_id", "text", "tokens")
                .persist()
            )
            vocab = build_vocab(flat, size=1024, text_col="tokens")
            return tokens_to_ids(flat, vocab).select("doc_id", "text", "input_ids")

        def shuffle(spark, prev):
            blocks = prev.groupBy("block_id").agg(F.count("*").alias("n_docs"))
            return deterministic_shuffle_shards(blocks, "block_id", n_shards=self.n_shards)

        return [
            Stage(CHAIN_STAGES[0], ingest),
            Stage(CHAIN_STAGES[1], lambda spark, prev: exact_dedup(prev)),
            Stage(CHAIN_STAGES[2], ppl_filter, cleanup=release("ppl")),
            Stage(CHAIN_STAGES[3], encode, cleanup=release("tokens")),
            Stage(
                CHAIN_STAGES[4],
                lambda spark, prev: pack_contiguous(prev, self.block_tokens),
            ),
            Stage(CHAIN_STAGES[5], shuffle),
        ]

    def _pipeline(self, ctx: Ctx, idx: int, stages):
        from powershap_spark.corpus import CorpusPipeline

        return CorpusPipeline(self._root(ctx), f"pass{idx}", stages)

    def _stage_dir(self, ctx: Ctx, idx: int, k: int) -> str:
        # CorpusPipeline's documented layout: {root}/{run_id}/{idx:02d}_{stage}
        return os.path.join(self._root(ctx), f"pass{idx}", f"{k:02d}_{CHAIN_STAGES[k]}")

    def run(self, ctx: Ctx, idx: int) -> None:
        self._pipeline(ctx, idx, self.stages()).run(ctx.spark)

    def outputs(self, ctx: Ctx, idx: int, full: bool = True) -> dict:
        from pyspark.sql import functions as F

        rows = {
            m["stage"]: m["rows"]
            for m in self._pipeline(ctx, idx, self.stages()).metrics()
        }
        ids = ctx.spark.read.parquet(os.path.join(self._stage_dir(ctx, idx, 3), "data"))
        tokens = ids.select(F.sum(F.size("input_ids"))).collect()[0][0]
        return {
            "pages": rows["ingest_extract_scrub"],
            "after_dedup": rows["exact_dedup"],
            "after_filter": rows["lm_perplexity_filter"],
            "tokens": int(tokens),
            "spans": rows["pack_contiguous"],
            "blocks": rows["shuffle_shards"],
        }

    def independent(self) -> dict:
        return {"pages": self.info["pages"], "after_dedup": self.info["distinct_bodies"]}

    def traced(self, ctx: Ctx, idx: int) -> None:
        tr = ctx.tracer
        stages = self.stages()
        rows_in = self.info["pages"]
        for k, name in enumerate(CHAIN_STAGES):
            # the prefix run resumes stages < k from their markers and runs k
            with tr.span(f"corpus.{name}", idx) as s:
                pipe = self._pipeline(ctx, idx, stages[: k + 1])
                pipe.run(ctx.spark)
            rows_out = pipe.metrics()[-1]["rows"]
            data = os.path.join(self._stage_dir(ctx, idx, k), "data")
            s["counts"].update(
                rows_out=rows_out,
                keep_frac=rows_out / rows_in,
                bytes_written=_dir_stats(data)[1],
                files=sum(n.endswith(".parquet") for n in os.listdir(data)),
            )
            rows_in = rows_out
        with tr.span("corpus.resume", idx):
            self._pipeline(ctx, idx, stages).run(ctx.spark).count()


WORKLOADS = {
    "flagship": lambda: Selection(
        "flagship", inputs_mod.FLAGSHIP, hot_threshold_rows=1_000_000, automatic=False
    ),
    "hot_automatic": lambda: Selection(
        "hot_automatic", inputs_mod.HOT, hot_threshold_rows=100_000, automatic=True
    ),
    "corpus_chain": CorpusChain,
}
