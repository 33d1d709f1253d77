"""spark-submit entry point — the cluster deployment shape of the engine.

    zip -r powershap_spark.zip powershap_spark
    spark-submit --py-files powershap_spark.zip tools/submit_job.py \
        --transcripts s3://bucket/transcripts --probes s3://bucket/probes \
        --checkpoint-dir /mnt/shared/ckpt --run-id run42 \
        --iterations 10 --n-parts 2048 --output s3://bucket/selected

``--checkpoint-dir`` must be a POSIX-visible path shared across driver
restarts (NFS / Lustre / a fuse-mounted bucket): the iteration markers and
lineage are driver-side file I/O, and a URI root is rejected.

Reads the transcript + probe tables (Iceberg identifier or parquet path via
the TableIO seam), runs the full point-in-time powershap pipeline with
checkpointed, resumable iterations, and writes the selected-feature
statistics table. The same script serves both cluster sizes of the N vs 4N
scaling deployment — only --num-executors on the submit line changes.

In the sandbox (no cluster manager) it runs on local[N]:
    python tools/submit_job.py --local 8 --synthetic-sf 0.1

Deployment env knobs (read by the library, not this script):
    POWERSHAP_PERSIST_LEVEL=DISK_ONLY   bound the salted build's diamond
        persist on memory-budgeted executors (caching.py);
    spark.cleaner.referenceTracking.cleanCheckpoints=true   reclaim
        superseded reliable-checkpoint files in long-lived sessions
        running connected-components dedup repeatedly (dedup.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, ".")


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--transcripts", help="table path/identifier")
    ap.add_argument("--probes", help="table path/identifier")
    ap.add_argument("--synthetic-sf", type=float, help="generate input instead")
    ap.add_argument("--checkpoint-dir")
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--iterations", type=int, default=10)
    ap.add_argument("--automatic", action="store_true")
    ap.add_argument("--n-parts", type=int, default=128)
    ap.add_argument("--output")
    ap.add_argument("--local", type=int, help="sandbox: local[N] master")
    ap.add_argument(
        "--master",
        help="explicit master URL (e.g. local-cluster[8,4,12288] for "
        "process-isolated executors); overrides --local",
    )
    args = ap.parse_args(argv)

    from powershap_spark.pipeline import select_features
    from powershap_spark.session import submit_session

    spark = submit_session(args.master, args.local)

    if args.synthetic_sf:
        from bench import build_transcripts

        t, p = build_transcripts(spark, args.synthetic_sf)
    else:
        t = spark.read.parquet(args.transcripts)
        p = spark.read.parquet(args.probes)

    t0 = time.perf_counter()
    sel, _ = select_features(
        t,
        p,
        power_iterations=args.iterations,
        automatic=args.automatic,
        n_parts=args.n_parts,
        probe_mode="keyed",
        checkpoint_dir=args.checkpoint_dir,
        run_id=args.run_id,
    )
    wall = time.perf_counter() - t0

    stats = sel._processed_shaps_df.reset_index(names="feature")
    if args.output:
        spark.createDataFrame(stats).write.mode("overwrite").parquet(args.output)
    print(
        json.dumps(
            {
                "selected": sel.selected_features_,
                "wall_sec": round(wall, 2),
                "run_id": args.run_id,
            }
        )
    )


if __name__ == "__main__":
    main()
