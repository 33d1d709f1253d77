"""Seeded benchmark inputs, written once per (workload, seed) under the
benchmark's work directory and reused by every later run with that seed.

An input set is complete only when its ``_DONE`` marker exists; the marker
also holds the counts the benchmark computes independently of the program
(with duckdb over the written parquet, or in plain Python for the crawl),
which the output checks compare against.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

# bump when a generator below changes, so stale caches are not reused
INPUT_VERSION = 1

# flagship: ~340k turns, half of bench.py's sf0.1 table, whose hottest
# conversation (~34k turns) stays under the 1M salted-path threshold.
# hot_automatic: ~122k turns, one conversation holding ~104k of them, over the
# 100k threshold that workload passes. crawl: 5k pages, ~6% exact duplicates.
# Sized so that a run, set-up and warm-up included, takes under a minute on
# a 4-CPU host.
FLAGSHIP = {"n_conv": 9_180, "mean_turns": 25, "hot_frac": 0.10, "probe_frac": 0.2}
HOT = {"n_conv": 560, "mean_turns": 25, "hot_frac": 0.85, "probe_frac": 0.2}
CRAWL = {"n_docs": 1_250, "replicas": 4, "shards": 8, "dup_every": 12}


def _input_dir(work: str, tag: str, shape: dict, seed: int) -> str:
    key = hashlib.md5(json.dumps([INPUT_VERSION, shape], sort_keys=True).encode())
    return os.path.join(work, "inputs", f"{tag}-{key.hexdigest()[:10]}-seed{seed}")


def _done(path: str) -> dict | None:
    try:
        with open(os.path.join(path, "_DONE")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _finish(path: str, info: dict) -> dict:
    tmp = os.path.join(path, "_DONE.tmp")
    with open(tmp, "w") as f:
        json.dump(info, f)
    os.replace(tmp, os.path.join(path, "_DONE"))
    return info


def transcripts(spark, work: str, seed: int, shape: dict, tag: str):
    """Transcripts and probes from ``synth`` for ``seed``. Returns
    ``(transcripts_df, probes_df, info)``; ``info`` holds the input row
    counts and the number of probes that have an earlier-or-equal turn in
    their conversation (the rows the point-in-time matrix must keep)."""
    path = _input_dir(work, tag, shape, seed)
    info = _done(path)
    if info is None:
        from powershap_spark import synth

        shutil.rmtree(path, ignore_errors=True)
        t = synth.transcripts(
            spark,
            n_conv=shape["n_conv"],
            mean_turns=shape["mean_turns"],
            hot_frac=shape["hot_frac"],
            seed=seed,
            skew_safe=True,
        )
        t.write.parquet(os.path.join(path, "transcripts"))
        t = spark.read.parquet(os.path.join(path, "transcripts"))
        p = synth.probes(
            spark, t, probe_frac=shape["probe_frac"], task="classification", seed=seed
        )
        p.write.parquet(os.path.join(path, "probes"))
        info = _finish(path, _transcript_counts(path))
    t = spark.read.parquet(os.path.join(path, "transcripts"))
    p = spark.read.parquet(os.path.join(path, "probes"))
    return t, p, info


def _transcript_counts(path: str) -> dict:
    import duckdb

    t = os.path.join(path, "transcripts", "*.parquet")
    p = os.path.join(path, "probes", "*.parquet")
    con = duckdb.connect()
    try:
        (n_turns,) = con.execute(f"SELECT count(*) FROM read_parquet('{t}')").fetchone()
        n_probes, n_matched = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE p.ts >= f.first_ts) "
            f"FROM read_parquet('{p}') p LEFT JOIN (SELECT conv_id, "
            f"min(ts) AS first_ts FROM read_parquet('{t}') GROUP BY conv_id) f "
            f"USING (conv_id)"
        ).fetchone()
    finally:
        con.close()
    return {
        "n_turns": int(n_turns),
        "n_probes": int(n_probes),
        "n_matched": int(n_matched),
    }


def crawl(spark, work: str, seed: int, shape: dict) -> tuple[str, dict]:
    """A WARC crawl of ``n_docs`` seeded ``synth.documents`` x ``replicas``:
    replica 0 is the document text, each later replica mutates one word
    picked by a hash of (seed, replica, doc), and every ``dup_every``-th
    page of a later replica repeats its replica-0 body exactly. Returns the
    crawl directory and ``{"pages", "distinct_bodies"}``."""
    path = _input_dir(work, "crawl", shape, seed)
    info = _done(path)
    if info is not None:
        return path, info
    from powershap_spark import synth

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    rows = (
        synth.documents(spark, n_docs=shape["n_docs"], seed=seed)
        .select("doc_id", "text")
        .orderBy("doc_id")
        .collect()
    )
    shards: list[list[bytes]] = [[] for _ in range(shape["shards"])]
    bodies = set()
    pid = 0
    for rep in range(shape["replicas"]):
        for doc_id, text in rows:
            words = text.split()
            if rep and pid % shape["dup_every"] != 0:
                h = int(hashlib.md5(f"{seed}:{rep}:{doc_id}".encode()).hexdigest()[:8], 16)
                words[h % len(words)] = f"v{h % 997}"
            body = " ".join(words)
            bodies.add(body.lower())
            payload = (
                f"<html><head><title>p{pid}</title></head><body>"
                f"<h1>page {pid}</h1><p>{body}</p>"
                f"<script>var x=1;</script></body></html>"
            ).encode()
            shards[pid % len(shards)].append(
                b"WARC/1.0\r\nWARC-Type: response\r\n"
                + f"WARC-Target-URI: https://crawl.test/{pid}\r\n".encode()
                + f"WARC-Record-ID: <urn:uuid:{pid}>\r\n".encode()
                + f"Content-Length: {len(payload)}\r\n\r\n".encode()
                + payload
                + b"\r\n\r\n"
            )
            pid += 1
    for i, recs in enumerate(shards):
        with open(os.path.join(path, f"shard{i:03d}.warc"), "wb") as f:
            f.write(b"".join(recs))
    return path, _finish(path, {"pages": pid, "distinct_bodies": len(bodies)})
