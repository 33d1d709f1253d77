"""Measured ANN recall: LSH and IVF top-k vs exact brute force.

The similarity operators trade recall for candidate-set size; this tool
MEASURES that trade on the driver-generated embeddings table so the knob
guidance in ANALYSIS/README is backed by numbers, not intuition.

For each variant we report:
  recall@k       mean over queries of |approx_topk ∩ exact_topk| / k
  cand_frac      candidate pairs scored / (N_vectors * N_queries)
                 (the scan-reduction factor — the whole point of ANN)
  wall_s         end-to-end seconds for the top-k job (collect included)

Usage:
  python tools/bench_ann_recall.py [sf_dir] [k] [n_queries]
Defaults: $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1, k=10, 32 queries.
The session is sized from $SPARK_GRAFT_CPUS (``get_spark``).

Prints one JSON line (machine-readable) after a human table.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def _recall(approx_pdf, exact_sets, k):
    got = {}
    for qid, grp in approx_pdf.groupby("query_id"):
        got[qid] = set(grp["vec_id"].tolist())
    return sum(
        len(got.get(q, set()) & ids) / float(k) for q, ids in exact_sets.items()
    ) / len(exact_sets)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    n_queries = int(sys.argv[3]) if len(sys.argv) > 3 else 32

    from powershap_spark.session import get_spark
    from powershap_spark.operators.similarity import (
        _query_band_buckets,
        band_buckets,
        brute_force_topk,
        ivf_topk,
        lsh_bucket,
        lsh_topk,
        stride_centroids,
    )

    spark = get_spark()
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    emb = emb.persist()
    n_vec = emb.count()
    stride_q = max(1, n_vec // n_queries)
    queries = emb.filter(F.pmod(F.col("vec_id"), F.lit(stride_q)) == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).persist()
    n_q = queries.count()

    # ground truth (also the timing baseline for the exact path)
    t0 = time.monotonic()
    exact = brute_force_topk(emb, queries, k=k).toPandas()
    exact_wall = time.monotonic() - t0
    exact_sets = {
        qid: set(grp["vec_id"].tolist()) for qid, grp in exact.groupby("query_id")
    }

    results = []
    results.append(
        {
            "variant": "brute_force",
            "recall": 1.0,
            "cand_frac": 1.0,
            "wall_s": round(exact_wall, 2),
        }
    )

    for n_planes in (4, 6, 8):
        e_b = emb.select(
            "vec_id", lsh_bucket("embedding", n_planes).alias("__bucket")
        )
        q_b = queries.select(
            "query_id", lsh_bucket("query_vec", n_planes).alias("__bucket")
        )
        n_cand = e_b.join(F.broadcast(q_b), "__bucket").count()
        t0 = time.monotonic()
        approx = lsh_topk(emb, queries, k=k, n_planes=n_planes).toPandas()
        wall = time.monotonic() - t0
        results.append(
            {
                "variant": f"lsh_planes={n_planes}",
                "recall": round(_recall(approx, exact_sets, k), 4),
                "cand_frac": round(n_cand / (n_vec * n_q), 4),
                "wall_s": round(wall, 2),
            }
        )

    for n_planes, n_bands in ((8, 2), (8, 4), (8, 8), (8, 16), (10, 8), (10, 16)):
        # the candidate sets lsh_topk builds: frame bucketing on the table
        # side, the per-vector expression on the query side
        eb = band_buckets(emb, n_planes=n_planes, n_bands=n_bands).withColumnRenamed(
            "__id", "vec_id"
        )
        qb = _query_band_buckets(
            queries, "query_id", F.col("query_vec"), n_planes, n_bands, 5, "xxhash"
        )
        n_cand = (
            eb.join(F.broadcast(qb), ["band_id", "bucket"])
            .select("query_id", "vec_id")
            .distinct()
            .count()
        )
        t0 = time.monotonic()
        approx = lsh_topk(
            emb, queries, k=k, n_planes=n_planes, n_bands=n_bands
        ).toPandas()
        wall = time.monotonic() - t0
        results.append(
            {
                "variant": f"lsh_planes={n_planes}_bands={n_bands}",
                "recall": round(_recall(approx, exact_sets, k), 4),
                "cand_frac": round(n_cand / (n_vec * n_q), 4),
                "wall_s": round(wall, 2),
            }
        )

    from powershap_spark.operators.similarity import kmeans_centroids

    import numpy as np

    vecs = {
        int(r[0]): np.asarray(r[1], dtype=np.float64) for r in emb.collect()
    }
    qvecs = {
        int(r[0]): np.asarray(r[1], dtype=np.float64)
        for r in queries.collect()
    }

    kmeans_cache = {}
    for stride, nprobe, n_iters in (
        (64, 1, 0),
        (64, 2, 0),
        (64, 4, 0),
        (32, 2, 0),
        (32, 4, 0),
        (64, 1, 3),
        (64, 2, 3),
        (64, 4, 3),
        (32, 2, 3),
    ):
        if n_iters:
            if (stride, n_iters) not in kmeans_cache:
                kmeans_cache[(stride, n_iters)] = kmeans_centroids(
                    emb, stride=stride, n_iters=n_iters
                )
            cents_arg = kmeans_cache[(stride, n_iters)]
        else:
            cents_arg = None
        t0 = time.monotonic()
        approx = ivf_topk(
            emb, queries, k=k, stride=stride, nprobe=nprobe, centroids=cents_arg
        ).toPandas()
        wall = time.monotonic() - t0
        # approx contains only top-k rows; recount candidates via the same
        # assignment (cheap: one more pass at bench scale), using the SAME
        # centroids the query used (k-means-refined when n_iters > 0)
        cents = cents_arg if cents_arg is not None else stride_centroids(emb, stride)
        cmat = np.stack([np.asarray(c, dtype=np.float64) for _, c in cents])
        cmat /= np.linalg.norm(cmat, axis=1, keepdims=True) + 1e-30
        cell_sizes = {}
        for v in vecs.values():
            s = cmat @ (v / (np.linalg.norm(v) + 1e-30))
            c = int(np.argmax(s))
            cell_sizes[c] = cell_sizes.get(c, 0) + 1
        n_cand = 0
        for qv in qvecs.values():
            s = cmat @ (qv / (np.linalg.norm(qv) + 1e-30))
            probed = np.argsort(-s)[:nprobe]
            n_cand += sum(cell_sizes.get(int(c), 0) for c in probed)
        tag = f"_kmeans{n_iters}" if n_iters else ""
        results.append(
            {
                "variant": f"ivf_stride={stride}_nprobe={nprobe}{tag}",
                "recall": round(_recall(approx, exact_sets, k), 4),
                "cand_frac": round(n_cand / (n_vec * n_q), 4),
                "wall_s": round(wall, 2),
                "n_cells": len(cents),
            }
        )

    print(f"\n  ANN recall vs exact  (N={n_vec} vectors, Q={n_q} queries, k={k})")
    print(f"  {'variant':28s} {'recall@k':>8s} {'cand_frac':>9s} {'wall_s':>7s}")
    for r in results:
        print(
            f"  {r['variant']:28s} {r['recall']:8.4f} {r['cand_frac']:9.4f} "
            f"{r['wall_s']:7.2f}"
        )
    print(
        json.dumps(
            {"sf_dir": sf_dir, "k": k, "n_vec": n_vec, "n_q": n_q, "cells": results}
        )
    )


if __name__ == "__main__":
    main()
