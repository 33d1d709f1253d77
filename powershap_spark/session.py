"""SparkSession factory tuned for this engine.

Local-mode defaults match the sandbox (single JVM); the same settings are
what we'd submit cluster-side via spark-submit --conf. AQE is on so skew
joins and partition coalescing re-plan at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "powershap_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # coalescing is actively harmful for this engine's window-heavy
        # plans: the wide shuffles compress well, AQE coalesces them far
        # below the core count, and every window stage then runs at 2-3x
        # parallelism (measured 207s vs 17s on the sf1.0 matrix build).
        # Skew-join splitting stays on.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # WindowExec falls back to a spill-capable external buffer beyond
        # this many rows per window partition (default 4096) — the window-
        # heavy feature build pays that slower path on every conversation.
        # 128k keeps the salted path's 65k-row chunks fully in-memory
        # (~10 MB/task for the int32-narrowed rows) while genuinely hot
        # unchunked conversations still spill safely. Measured at sf1:
        # 6-14% on the window phase (BENCH/ANALYSIS_r04.md). CAVEAT: below
        # the threshold rows buffer in a plain untracked array — the 10 MB
        # estimate holds only for narrowed rows; window stages over WIDE
        # rows (e.g. text columns carried through) can hold 128k full rows
        # per task. Lower via env on memory-tight executors.
        .config(
            "spark.sql.windowExec.buffer.in.memory.threshold",
            os.environ.get("POWERSHAP_WINDOW_BUFFER_ROWS", "131072"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    # shuffle spill to RAM when a tmpfs is available: local-mode shuffles on
    # a virtualized disk add multi-x run-to-run noise (cluster deployments
    # use NVMe-backed local dirs / remote shuffle service instead)
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        b = b.config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def submit_session(master: str | None = None, local: int | None = None) -> SparkSession:
    """The session a spark-submit entry point (``tools/submit_*.py``) runs
    on: an explicit ``master`` URL wins over ``local`` (``local[N]`` with N
    shuffle partitions); with neither, the session spark-submit
    preconfigured. A ``local-cluster`` master's executors are separate
    processes, so they get the working directory on their PYTHONPATH."""
    if master is None and local:
        master = f"local[{local}]"
    if master is None:
        return SparkSession.builder.getOrCreate()
    extra = None
    if master.startswith("local-cluster"):
        extra = {"spark.executorEnv.PYTHONPATH": os.path.abspath(".")}
    return get_spark(master=master, shuffle_partitions=local, extra_conf=extra)
