"""spark-submit entry point for the RESUMABLE crawl-to-tensors chain —
the corpus-side twin of tools/submit_job.py.

    zip -r powershap_spark.zip powershap_spark
    spark-submit --py-files powershap_spark.zip tools/submit_corpus_chain.py \
        --crawl-dir s3://bucket/crawl --work-dir /mnt/shared/chain \
        --run-id daily42 --block-tokens 2048 --n-shards 65536

``--crawl-dir`` may be any Spark-readable URI; ``--work-dir`` must be a
POSIX-visible path shared across driver restarts (NFS / Lustre / a
fuse-mounted bucket) — the chain's COMPLETE markers and lineage are
driver-side file I/O, and CorpusPipeline rejects raw URIs loudly.

Runs WARC ingest -> HTML extract -> PII scrub -> exact dedup ->
LM-perplexity gate -> contiguous packing -> deterministic epoch shuffle
through ``corpus.CorpusPipeline``: every stage materializes to parquet
under ``--work-dir/--run-id`` with an atomic COMPLETE marker, so
re-submitting the SAME command after a failure resumes after the last
durable stage (a 10-hour ingest is never re-paid because the packer
OOMed). Stage lineage (rows, wall, file counts) lands in metrics.jsonl.

In the sandbox (no cluster manager) it runs on local[N]:
    python tools/submit_corpus_chain.py --local 8 \
        --crawl-dir /tmp/bench_crawl_x64 --work-dir /tmp/chain --run-id r1

The tokenizer stages (BPE learn/encode, vocab ids) are deliberately NOT
in this chain's default: a production run ships a FIXED tokenizer, and
learning one is a separate lifecycle (bpe_learn on the deduped stage's
parquet, which this layout makes trivially addressable).
"""

from __future__ import annotations

import argparse
import json
import sys

sys.path.insert(0, ".")


def build_stages(args):
    from pyspark.sql import functions as F

    from powershap_spark.corpus import Stage
    from powershap_spark.operators.dedup import exact_dedup
    from powershap_spark.operators.scrub import extract_html_text, scrub_pii
    from powershap_spark.operators.sharding import (
        deterministic_shuffle_shards,
        pack_contiguous,
    )
    from powershap_spark.operators.text import lm_perplexity
    from powershap_spark.sources.warc import read_warc

    def ingest(spark, prev):
        return (
            read_warc(spark, args.crawl_dir)
            .filter(~F.col("_warc_malformed") & (F.col("warc_type") == "response"))
            .select(
                F.xxhash64("target_uri").alias("doc_id"),
                F.col("target_uri").alias("url"),
                extract_html_text("payload", min_words=args.min_words).alias(
                    "text"
                ),
            )
            .filter(F.col("text").isNotNull())
        )

    def scrub(spark, prev):
        return (
            scrub_pii(prev)
            .drop("text")
            .withColumnRenamed("text_scrubbed", "text")
            .select("doc_id", "url", "text")
        )

    def dedup(spark, prev):
        return exact_dedup(prev)

    # the ppl table is consumed twice (quantile action + semi join) ->
    # persisted inside the stage; the Stage.cleanup hook releases it once
    # the stage's marker is durable so it doesn't ride the rest of the chain
    ppl_handles: list = []

    def ppl_gate(spark, prev):
        ppl = lm_perplexity(prev).persist()
        ppl_handles.append(ppl)
        q = ppl.approxQuantile("ppl", [1.0 - args.ppl_drop_frac], 0.001)
        # no scored docs at all (every doc < 2 tokens, or an empty crawl):
        # nothing to gate — pass everything through via the n_scored==0 arm
        thr = q[0] if q else float("inf")
        keep = ppl.filter(
            (F.col("n_scored") == 0) | (F.col("ppl") <= thr)
        ).select("doc_id")
        return prev.join(keep, "doc_id", "left_semi")

    def ppl_cleanup():
        while ppl_handles:
            ppl_handles.pop().unpersist()

    def pack(spark, prev):
        return pack_contiguous(prev, args.block_tokens)

    def shuffle(spark, prev):
        blocks = prev.groupBy("block_id").agg(F.count("*").alias("n_docs"))
        return deterministic_shuffle_shards(
            blocks, "block_id", n_shards=args.n_shards, seed=args.epoch_seed
        )

    return [
        Stage("ingest_extract", ingest),
        Stage("pii_scrub", scrub),
        Stage("exact_dedup", dedup),
        Stage("ppl_gate", ppl_gate, cleanup=ppl_cleanup),
        Stage("pack_contiguous", pack),
        Stage("epoch_shuffle", shuffle, repartition=max(1, args.n_shards // 64)),
    ]


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--crawl-dir", required=True, help=".warc shard directory")
    ap.add_argument("--work-dir", required=True, help="chain checkpoint root")
    ap.add_argument("--run-id", default="chain0")
    ap.add_argument("--block-tokens", type=int, default=2048)
    ap.add_argument("--n-shards", type=int, default=64)
    ap.add_argument("--min-words", type=int, default=5)
    ap.add_argument("--ppl-drop-frac", type=float, default=0.05)
    ap.add_argument("--epoch-seed", type=int, default=7)
    ap.add_argument("--local", type=int, help="sandbox: local[N] master")
    ap.add_argument("--master", help="explicit master URL; overrides --local")
    args = ap.parse_args(argv)

    from powershap_spark.corpus import CorpusPipeline
    from powershap_spark.session import submit_session

    spark = submit_session(args.master, args.local)

    pipe = CorpusPipeline(args.work_dir, args.run_id, build_stages(args))
    already = pipe.completed()
    out = pipe.run(spark)
    print(
        json.dumps(
            {
                "run_id": args.run_id,
                "resumed_past": already,
                "shards": int(out.select("shard").distinct().count()),
                "blocks": int(out.count()),
                "stages": pipe.metrics(),
            }
        )
    )


if __name__ == "__main__":
    main()
