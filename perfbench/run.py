"""End-to-end benchmark of powershap_spark.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 9 --trace 0

Run from the root of a checkout. One run is one fresh process: it pins the
sandbox (Spark ``local[N]`` with N the CPUs this process may use, one BLAS
thread per Python worker, a fixed JVM heap, spill and temp files inside
the checkout), starts Spark, loads the seeded inputs (generated once per
seed under ``perfbench/.work``), runs the workload's full-size warm-up
passes and then closed-loop passes (one client, each pass starts when the
last one ended) until ``--seconds`` have been measured. Every pass's
outputs are checked: against ``expected.json`` for a recorded seed, against
counts computed without the program, and against the first pass. Outputs
that are costly to take (the point-in-time matrix recount) are checked once
a run, on its last pass.

Workloads: ``flagship`` and ``corpus_chain`` (listed in BENCHMARK.json) and
``hot_automatic`` (salted windows, bucketed as-of, automatic mode with
checkpoints; too slow to fit the benchmark's time budget, kept for manual
and traced runs).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics (spans around
each layer's public function, task metrics from Spark's event log, CPU from
/proc). The last line of stdout is the JSON result; diagnostics go to
stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import procfs

DRIVER_MEM = "4g"
HERE = os.path.dirname(os.path.abspath(__file__))

END_TO_END = [
    ("wall_s", "s"),
    ("rows_per_s", "1/s"),
    ("cpu_s", "s"),
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
]

# layer -> [(metric, unit)]; every layer that issues Spark jobs also gets
# jobs / tasks / gc_s from the event log
SPARK_LAYERS = [
    ("salted.detect_hot_keys", [("wall_s", "s")]),
    (
        "pipeline.turn_features",
        [("wall_s", "s"), ("cpu_s", "s"), ("shuffle_write_bytes", "bytes"),
         ("spill_bytes", "bytes"), ("salted", "flag")],
    ),
    (
        "asof.point_in_time_matrix",
        [("wall_s", "s"), ("cpu_s", "s"), ("shuffle_write_bytes", "bytes"),
         ("matched_frac", "ratio")],
    ),
    (
        "engine.backend_init",
        [("wall_s", "s"), ("cpu_s", "s"), ("shuffle_write_bytes", "bytes")],
    ),
    (
        "engine.explain",
        [("wall_s", "s"), ("cpu_s", "s"), ("python_cpu_s", "s"), ("fits", "count"),
         ("batches", "count"), ("rows_per_fit", "rows"), ("degenerate_blocks", "count")],
    ),
    ("kernel.explain_iteration", [("wall_s", "s")]),
] + [
    (
        f"corpus.{stage}",
        [("wall_s", "s"), ("cpu_s", "s"), ("rows_out", "rows"), ("keep_frac", "ratio"),
         ("bytes_written", "bytes"), ("files", "count"),
         ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes")],
    )
    for stage in (
        "ingest_extract_scrub", "exact_dedup", "lm_perplexity_filter",
        "bpe_encode_vocab_ids", "pack_contiguous", "shuffle_shards",
    )
] + [("corpus.resume", [("wall_s", "s")])]

DRIVER_LAYERS = [
    ("stats.statistical_analysis", [("wall_s", "s")]),
    ("engine.checkpoint", [("files", "count"), ("bytes", "bytes")]),
]

TRACE_METRICS = [
    ("trace.traced_wall_s", "s"),
    ("trace.untraced_wall_s", "s"),
    ("trace.overhead_frac", "ratio"),
    ("trace.coverage_frac", "ratio"),
]


def per_layer_spec() -> list[tuple[str, str]]:
    spec = []
    for layer, metrics in SPARK_LAYERS + DRIVER_LAYERS:
        spec += [(f"{layer}.{m}", u) for m, u in metrics]
    for layer, _ in SPARK_LAYERS:
        spec += [(f"{layer}.jobs", "count"), (f"{layer}.tasks", "count"), (f"{layer}.gc_s", "s")]
    return spec + TRACE_METRICS


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["flagship", "hot_automatic", "corpus_chain"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def pin_environment(root: str, work: str, cpus: int) -> None:
    """Settings every run shares, exported before numpy or the JVM start."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    )
    sys.path.insert(0, root)


def load_expected(workload: str, seed: int) -> dict | None:
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f).get(workload, {}).get(str(seed))


def mismatches(outputs: dict, expected: dict) -> list[str]:
    """Keys of ``expected`` whose value ``outputs`` does not reproduce."""
    return [k for k, v in expected.items() if outputs.get(k) != v]


class Run:
    """Pass bookkeeping: attempts, failures and the reference outputs every
    pass is checked against."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.reference: dict = {}

    def check(self, what: str, outputs: dict, full: bool = True) -> bool:
        """Count a failure if ``outputs`` differ from the reference; a
        partial check compares only the outputs that were taken."""
        expected = self.reference
        if not full:
            expected = {k: v for k, v in expected.items() if k in outputs}
        bad = mismatches(outputs, expected)
        if bad:
            self.failed += 1
            self.problems.append(
                f"{what}: {', '.join(f'{k}={outputs.get(k)!r} expected {self.reference[k]!r}' for k in bad)}"
            )
        return not bad

    def one_pass(self, wl, ctx, idx: int, traced: bool) -> dict | None:
        """Run, time and check one pass, leaving out the outputs that are
        costly to take; None if it raised."""
        wl.reset(ctx, idx)
        self.attempted += 1
        c0 = procfs.cpu_seconds()["total"]
        t0 = time.perf_counter()
        try:
            if traced:
                wl.traced(ctx, idx)
            else:
                with ctx.tracer.label(f"pass#{idx}"):
                    wl.run(ctx, idx)
            wall = time.perf_counter() - t0
            cpu = procfs.cpu_seconds()["total"] - c0
            with ctx.tracer.label(f"check#{idx}"):
                outputs = wl.outputs(ctx, idx, full=False)
            check = time.perf_counter() - t0 - wall
        except Exception:
            self.failed += 1
            self.problems.append(f"pass {idx} raised:\n{traceback.format_exc()}")
            return None
        ok = self.check(f"pass {idx}", outputs, full=False)
        return {"wall_s": wall, "cpu_s": cpu, "check_s": check, "ok": ok, "outputs": outputs}

    def check_all(self, wl, ctx, idx: int) -> None:
        """Take and check every output of pass ``idx``, the costly ones too;
        a mismatch or an exception fails that pass."""
        try:
            with ctx.tracer.label(f"check#{idx}"):
                outputs = wl.outputs(ctx, idx, full=True)
        except Exception:
            self.failed += 1
            self.problems.append(f"pass {idx} check raised:\n{traceback.format_exc()}")
            return
        self.check(f"pass {idx}", outputs)


def stop_spark(spark) -> None:
    """Stop Spark, shut its JVM down and wait until the JVM and its Python
    workers have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    tree = procfs.descendants()[1:]
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    # a later get_spark in this process must launch a new JVM, not reuse
    # the dead gateway
    SparkContext._gateway = None
    SparkContext._jvm = None
    procfs.wait_gone(tree)


def main(argv=None) -> int:
    started = procfs.process_start_epoch()
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "powershap_spark", "__init__.py")):
        print(
            f"perfbench: no powershap_spark package under {root}; "
            "run from the root of a checkout",
            file=sys.stderr,
        )
        return 2
    work = os.path.join(HERE, ".work")
    cpus = len(os.sched_getaffinity(0))
    pin_environment(root, work, cpus)
    load_start = procfs.loadavg()

    from powershap_spark.session import get_spark

    import tracing
    from workloads import WORKLOADS, Ctx

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Xms{DRIVER_MEM}"
        ),
    }
    log_dir = os.path.join(work, f"eventlog-{os.getpid()}")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=conf,
    )
    tracer = tracing.Tracer(spark)
    with tracer.label("setup"):
        spark.range(1000).selectExpr("sum(id)").collect()
    setup_s = time.time() - started

    run = Run()
    ctx = Ctx(spark=spark, work=work, seed=args.seed, cpus=cpus, tracer=tracer)
    wl = WORKLOADS[args.workload]()
    diag: dict = {"cpus": cpus, "setup_s": setup_s}
    plain: list[dict] = []
    traced: list[dict] = []
    try:
        t0 = time.perf_counter()
        with tracer.label("inputs"):
            wl.prepare(ctx)
        diag["inputs_s"] = time.perf_counter() - t0
        recorded = load_expected(args.workload, args.seed)
        run.reference = {**(recorded or {}), **wl.independent()}
        diag["expected"] = "recorded" if recorded else "warm-up pass"

        # full-size warm-up passes: JIT and code generation settle over the
        # first passes, so these are checked but not measured
        first = run.one_pass(wl, ctx, 0, traced=False)
        if first is not None:
            diag.update(first_pass_s=first["wall_s"], outputs=first["outputs"])
            if recorded is None:
                # an unrecorded seed: later passes must repeat the first
                run.reference = {**first["outputs"], **run.reference}
        warm = [run.one_pass(wl, ctx, idx, traced=False) for idx in range(1, wl.warmup_passes)]
        diag["warmup_wall_cpu_s"] = [(r["wall_s"], r["cpu_s"]) for r in warm if r]

        # the peak is taken over the measured passes only
        procfs.reset_peak_rss()
        steal0 = procfs.steal_seconds()
        idx = wl.warmup_passes - 1
        t_end = time.perf_counter() + args.seconds
        while time.perf_counter() < t_end or not plain or (args.trace and not traced):
            idx += 1
            want_traced = bool(args.trace) and len(traced) < len(plain)
            res = run.one_pass(wl, ctx, idx, traced=want_traced)
            if res is not None:
                res["idx"] = idx
                (traced if want_traced else plain).append(res)
            if run.failed > 3:
                break
        peak_rss_mb = procfs.peak_rss_bytes() / 2**20
        diag["measured_steal_s"] = procfs.steal_seconds() - steal0
        # the costly outputs are taken once a run, for its last pass: a
        # program defect they would show repeats on every pass
        if res is not None and res["ok"]:
            run.check_all(wl, ctx, idx)
    finally:
        wl.reset(ctx, -1)
        stop_spark(spark)

    diag.update(
        pass_wall_s=[r["wall_s"] for r in plain],
        pass_cpu_s=[r["cpu_s"] for r in plain],
        pass_check_s=[r["check_s"] for r in plain],
        traced_wall_s=[r["wall_s"] for r in traced],
        loadavg_start=load_start,
        loadavg_end=procfs.loadavg(),
        problems=run.problems,
    )
    if not plain or (args.trace and not traced):
        metrics = {}
    elif args.trace:
        events = tracing.job_metrics(tracing.event_log_file(log_dir))
        shutil.rmtree(log_dir)
        diag["unlabelled_jobs"] = events.get("", {}).get("jobs", 0)
        metrics = layer_metrics(tracer.spans, events, plain, traced)
    else:
        wall = statistics.median(r["wall_s"] for r in plain)
        metrics = {
            "wall_s": wall,
            "rows_per_s": wl.rows / wall,
            "cpu_s": statistics.median(r["cpu_s"] for r in plain),
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss_mb,
        }
    units = dict(per_layer_spec() if args.trace else END_TO_END)
    print(json.dumps(diag, default=str), file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0 and bool(plain),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics.get(k, 0), "unit": u} for k, u in units.items()},
    }))
    return 0 if plain else 1


def layer_metrics(spans, events, plain, traced) -> dict:
    """Median over traced passes of each per-layer metric; a layer that the
    workload never calls reads 0."""
    additive = {"fits", "degenerate_blocks"}
    per_pass: dict[tuple[str, int], dict] = {}
    for s in spans:
        agg = per_pass.setdefault((s["layer"], s["pass"]), {})
        for k in ("wall_s", "cpu_s", "python_cpu_s"):
            if k in s:
                agg[k] = agg.get(k, 0.0) + s[k]
        for k, v in s["counts"].items():
            agg[k] = agg.get(k, 0) + v if k in additive else v
    for (layer, idx), agg in per_pass.items():
        agg.update(events.get(f"{layer}#{idx}", {}))
        if layer == "engine.explain":
            # each explain batch is one action over the matrix
            agg["batches"] = agg.get("sql_executions", 0)
        if layer == "kernel.explain_iteration":
            agg["wall_s"] = agg["fit_s"]  # the fit alone, not the block collect

    out = {}
    for name, _ in per_layer_spec():
        layer, metric = name.rsplit(".", 1)
        vals = [
            agg[metric] for (lay, _), agg in per_pass.items()
            if lay == layer and metric in agg
        ]
        if vals:
            out[name] = statistics.median(vals)
    t_wall = statistics.median(r["wall_s"] for r in traced)
    u_wall = statistics.median(r["wall_s"] for r in plain)
    covered = [
        sum(s.get("wall_s", 0.0) for s in spans if s["pass"] == r["idx"]) / r["wall_s"]
        for r in traced
    ]
    out.update({
        "trace.traced_wall_s": t_wall,
        "trace.untraced_wall_s": u_wall,
        "trace.overhead_frac": t_wall / u_wall - 1.0,
        "trace.coverage_frac": statistics.median(covered),
    })
    return out


if __name__ == "__main__":
    sys.exit(main())
