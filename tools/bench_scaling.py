"""Scaling-efficiency evidence (north rule: >=0.8 from N to 4N executors).

No real cluster exists in this sandbox, so the evidence is the SAME job on
the SAME input at two parallelism levels in fresh JVMs, reporting throughput
at both plus efficiency = T(N) / (4 * T(4N)). Two isolation models:

  thread cells (plain/salted/sel/nohot) — local[N] vs local[4N]: all
      executor threads share one JVM heap and memory allocator;
  process cells (lcplain/lcsalted/lcsel) — local-cluster[N/4,4,mem] vs
      local-cluster[N,4,mem]: separate executor JVMs with separate heaps,
      GC, and memory pools, 4 cores each — the closest single-box stand-in
      for the north rule's N -> 4N *executors* (what spark-submit would
      scale on a real cluster).

Each cell is min-of-REPEAT (this host's wall-clock fluctuates 2-5x between
identical runs; the minimum is the standard noise-robust estimator), with
rounds INTERLEAVED across cells because load drifts on a multi-minute scale.

  full      — transcript parquet -> windowed features -> as-of join ->
              10-iteration powershap selection (tools/profile_pipeline.py)
  selection — the partition-parallel powershap loop alone (40 iterations
              on the cached point-in-time matrix): the phase that
              dominates real selection runs (automatic mode raises the
              iteration count, the matrix is built once)

Writes BENCH/BASELINE.md. Usage:
  python tools/bench_scaling.py [N] [sf] [repeat] [cells]
  cells: comma list among plain,salted,sel,nohot,lcplain,lcsalted,lcsel
         (default: plain,salted,sel,lcplain,lcsalted,lcsel)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# per 4-core executor JVM: 12G fits the sf1 salted window build (8G hit
# heap OOM, exit 52); the 4N cell is 8 x 12G = 96G + a 16G driver, inside
# the 128G host with headroom for python workers
LC_EXEC_MEM_MB = 12288

SEL_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, ".")
for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[v] = "1"
cpus = int(os.environ["SPARK_GRAFT_CPUS"]); sf = os.environ["BENCH_SF"]
from powershap_spark.session import get_spark
from powershap_spark.pipeline import turn_features, point_in_time_matrix, FEATURE_COLS
from powershap_spark.engine import SparkExplainBackend
from pyspark.sql import functions as F
master = os.environ.get("BENCH_MASTER", f"local[{cpus}]")
extra = {}
if master.startswith("local-cluster"):
    extra = {"spark.executorEnv.PYTHONPATH": os.path.abspath(".")}
spark = get_spark(app_name=f"sel{cpus}", master=master,
                  shuffle_partitions=int(os.environ.get("BENCH_SHUFFLE", cpus)),
                  extra_conf=extra)
t = spark.read.parquet(f"/tmp/bench_input_sf{sf}/transcripts")
p = spark.read.parquet(f"/tmp/bench_input_sf{sf}/probes")
mat = point_in_time_matrix(turn_features(t, skew_safe=False), p, skew_safe=False) \
        .filter(F.col("feature_ts").isNotNull())
be = SparkExplainBackend(mat, FEATURE_COLS, "label", n_parts=128,
                         probe_mode="keyed", sort_cols=["conv_id", "ts"])
n = be.df.count()
be.explain(5, 0)  # warm python workers + codegen
t0 = time.perf_counter(); be.explain(40, 100); d = time.perf_counter() - t0
print("RESULT " + json.dumps({"cpus": cpus, "rows": n, "sec": round(d, 2),
      "row_iters_per_sec": round(n * 40 / d, 1)}))
"""


def _run(cmd, env_extra, attempts: int = 2):
    env = dict(os.environ, **env_extra)
    last = None
    for _ in range(attempts):
        out = subprocess.run(
            cmd, capture_output=True, text=True, env=env, cwd=ROOT, timeout=1800
        )
        for line in out.stdout.splitlines():
            if line.startswith("RESULT "):
                return json.loads(line[len("RESULT ") :])
        # local-cluster startups are occasionally flaky when a previous
        # JVM's teardown overlaps; one retry, never a silent skip
        last = f"no RESULT (rc={out.returncode}):\n{out.stderr[-1500:]}"
        print(f"retrying after failure: {cmd}", flush=True)
    raise RuntimeError(last)


def _lc_master(cpus: int) -> str:
    workers = max(1, cpus // 4)
    return f"local-cluster[{workers},4,{LC_EXEC_MEM_MB}]"


def _cell_env(spec, cpus, sf):
    env = {"SPARK_DRIVER_MEM": "48g"}
    env.update(spec.get("env", {}))
    if spec.get("lc"):
        env["BENCH_MASTER"] = _lc_master(cpus)
        # all compute lives in the executor JVMs; a fat driver heap would
        # push the 8 x 12G 4N cell past host memory
        env["SPARK_DRIVER_MEM"] = "16g"
        # FIXED shuffle partitioning at both parallelism levels — the way a
        # real N->4N scale-up runs (same dataset partitioning, more slots).
        # 128 also keeps per-task sort state inside the 12G executor heaps
        # (8 partitions of sf1 in a 12G heap OOMed, exit 52).
        env["BENCH_SHUFFLE"] = "128"
    return env


def make_runner(spec):
    if spec["run"] == "sel":
        def run(cpus, sf):
            env = _cell_env(spec, cpus, sf)
            env.update({"SPARK_GRAFT_CPUS": str(cpus), "BENCH_SF": str(sf)})
            return _run([sys.executable, "-c", SEL_CHILD], env)
    else:
        def run(cpus, sf):
            return _run(
                [sys.executable, "tools/profile_pipeline.py", str(cpus), str(sf),
                 spec["mode"]],
                _cell_env(spec, cpus, sf),
            )
    return run


CELLS = {
    "plain": {"run": "full", "mode": "plain"},
    "salted": {"run": "full", "mode": "salted"},
    "sel": {"run": "sel"},
    "nohot": {"run": "full", "mode": "plain", "env": {"BENCH_HOT_FRAC": "0.002"}},
    "lcplain": {"run": "full", "mode": "plain", "lc": True},
    "lcsalted": {"run": "full", "mode": "salted", "lc": True},
    "lcsel": {"run": "sel", "lc": True},
}

DEFAULT_CELLS = "plain,salted,sel,lcplain,lcsalted,lcsel"


_SF = 1.0  # set by main(); raw files are namespaced per sf except sf=1.0


def _raw_path(kind, cpus):
    sfx = "" if _SF == 1.0 else f"_sf{_SF:g}"
    return os.path.join(ROOT, "BENCH", f"raw_{kind}{sfx}_{cpus}.json")


def _load(kind, cpus):
    path = _raw_path(kind, cpus)
    return json.load(open(path)) if os.path.exists(path) else []


def _append(kind, cpus, rec):
    runs = _load(kind, cpus)
    runs.append(rec)
    json.dump(runs, open(_raw_path(kind, cpus), "w"))


def _best(kind, cpus):
    runs = _load(kind, cpus)
    if not runs:
        return None
    best = dict(min(runs, key=lambda r: r["sec"]))
    best["all_secs"] = [r["sec"] for r in runs]
    return best


def _cpu(kind, cpus):
    vals = [r.get("cpu_us_per_turn") for r in _load(kind, cpus)]
    vals = [v for v in vals if v]
    return min(vals) if vals else None


LABELS = {
    "plain": "plain windows (threads)",
    "salted": "salted skew-safe (threads)",
    "sel": "selection, 128-part grid (threads)",
    "nohot": "plain, NO hot conversation (threads)",
    "lcplain": "plain windows (process-isolated executors)",
    "lcsalted": "salted skew-safe (process-isolated executors)",
    "lcsel": "selection, 128-part grid (process-isolated executors)",
}


def write_report(n, sf, repeat):
    rows, effs, counts = [], {}, []
    for kind in CELLS:
        s, l = _best(kind, n), _best(kind, 4 * n)
        if not (s and l):
            continue
        counts += [len(s["all_secs"]), len(l["all_secs"])]
        eff = s["sec"] / (4 * l["sec"])
        effs[kind] = round(eff, 3)
        parallel_s = (
            _lc_master(n) if CELLS[kind].get("lc") else f"local[{n}]"
        )
        parallel_l = (
            _lc_master(4 * n) if CELLS[kind].get("lc") else f"local[{4*n}]"
        )
        tp_key = "turns_per_sec" if "turns_per_sec" in s else "row_iters_per_sec"
        rows.append(
            f"| {LABELS[kind]} | {parallel_s} | {s['sec']} | {s.get(tp_key)} |"
            f" {s.get('cpu_us_per_turn', '—')} | {s['all_secs']} |"
        )
        rows.append(
            f"| {LABELS[kind]} | {parallel_l} | {l['sec']} | {l.get(tp_key)} |"
            f" {l.get('cpu_us_per_turn', '—')} | {l['all_secs']} |"
        )
        rows.append(
            f"| | | | | **efficiency = {s['sec']}/(4 x {l['sec']}) = {eff:.3f}** | |"
        )

    any_full = _best("plain", n) or _best("lcplain", n)
    n_turns = any_full.get("n_turns", "n/a") if any_full else "n/a"
    lines = [
        "# BENCH baseline — scaling-efficiency evidence",
        "",
        "North rule: >=0.8 throughput scaling efficiency from N to 4N",
        "executors. No multi-executor cluster exists in this sandbox; the",
        f"evidence is the same job, same input (sf={sf}, {n_turns} turns,",
        "one hot conversation with ~10% of rows unless noted), at two",
        "parallelism levels in fresh JVMs, min over the cached interleaved",
        # the ACTUAL per-cell raw-run counts, not the last CLI repeat arg
        # (which once wrote 'up to 1' under columns listing 5 and 12 runs)
        f"runs ({min(counts) if counts else 0}-{max(counts) if counts else 0}"
        " per cell — exact counts visible in each row's raw-runs column;",
        "this host's wall-clock fluctuates 2-5x between identical runs).",
        "",
        "Two isolation models per workload:",
        "",
        "- **threads**: local[N] vs local[4N] — one JVM, shared heap/allocator;",
        "  thread counts scale but memory channels do not.",
        "- **process-isolated executors**: local-cluster[N/4,4,"
        f"{LC_EXEC_MEM_MB}] vs local-cluster[N,4,{LC_EXEC_MEM_MB}] —",
        "  separate executor JVMs (own heap, GC, memory pools), 4 cores each;",
        "  this is what `spark-submit` scales on a real cluster, minus the",
        "  fact that all executors still share one machine's DRAM channels.",
        "",
        "Full pipeline = parquet scan -> strictly-past windowed features ->",
        "sort-merge as-of join -> 10-iteration partition-parallel powershap.",
        "Selection = 40 powershap iterations on the cached 128-part grid",
        "(the phase that dominates automatic-mode runs at scale).",
        "",
        "| cell | parallelism | wall (s) | rows/sec | CPU us/turn | raw runs (s) |",
        "|---|---|---|---|---|---|",
        *rows,
        "",
        "## Efficiency summary",
        "",
        "| cell | efficiency N -> 4N |",
        "|---|---|",
        *[f"| {LABELS[k]} | {v} |" for k, v in effs.items()],
        "",
        "## CPU-per-row analysis (contention-robust companion metric)",
        "",
        "Best-case CPU microseconds per turn (driver + executor JVMs +",
        "python workers, /proc subtree, measured over the timed section):",
        "",
        "| cell | N cores | 4N cores | inflation |",
        "|---|---|---|---|",
    ]
    for kind in CELLS:
        c8, c32 = _cpu(kind, n), _cpu(kind, 4 * n)
        if c8 and c32:
            lines.append(f"| {LABELS[kind]} | {c8} | {c32} | {c32/c8:.2f}x |")
    lines += [
        "",
        "CPU burned per row grows from N to 4N cores on this single box:",
        "the window/shuffle stages are memory-bandwidth-bound, so the extra",
        "threads stall on the same DRAM channels (utime counts those stall",
        "cycles). That inflation is a SINGLE-NODE artifact: a real N -> 4N",
        "deployment adds nodes (each with its own memory channels), where",
        "per-row CPU stays at the N-core figure — the wall-clock efficiency",
        "measured here is therefore a lower bound on cluster scaling for",
        "the window phases. The process-isolated cells remove the shared-JVM",
        "component (heap, GC, allocator) from that bound.",
        "",
        "The bound is MEASURED, not inferred (round 5,",
        "BENCH/ANALYSIS_r05.md §3b-bis): a",
        "multiprocess STREAM triad puts this host's best-case N -> 4N",
        "efficiency for any pure-streaming workload at ~0.49 (64 GB/s",
        "aggregate at 8 processes vs 124 GB/s at 32). The window cells sit",
        "just under that hardware bound; the selection cells exceed it via",
        "arithmetic intensity.",
        "",
        "## Notes",
        "",
        '- Skew policy: `skew_safe="auto"` — per-conversation windows',
        "  while no conversation exceeds the per-task bound, halo-chunked /",
        "  two-phase operators beyond it (correctness of the salted path is",
        "  test-asserted identical).",
        "- The plain cells' efficiency is bounded by the planted hot",
        "  conversation (10% of ALL rows in one window partition): Amdahl on",
        "  the straggler task, by design of the skew fixture.",
        "- Shuffle dirs on tmpfs (/dev/shm); cluster deployments use NVMe",
        "  local dirs or a remote shuffle service.",
        "- The window exchange carries int32-only feature scalars (see",
        "  pipeline.turn_features) — the round-3 shuffle-byte cut.",
        "- Operator-level N->4N cells beyond the flagship pipeline live in",
        "  BENCH/ANALYSIS_r06.md: §7b (span dedup 0.58 / perplexity 0.69 /",
        "  tf-idf 0.46 on a 150k-doc corpus) and §7c (WARC parse 0.52 —",
        "  splittability measured on 16 files x 32 cores; html_extract 0.40",
        "  at the DRAM wall; quality-classifier featurize 0.46 one-time vs",
        "  0.74 recurring per-epoch, two-point decomposition). Same",
        "  fresh-JVM interleaved min-of-N protocol as the cells above.",
        "- Round-7 operator cells (BENCH/ANALYSIS_r07.md §6, over",
        "  synth.events with a 10% hot user): range_join 0.70 at 16M events (452M context pairs —",
        "  above the streaming ceiling via join arithmetic intensity, the",
        "  hot timeline spread across its time buckets);",
        "  decayed_past_mean plain 0.31 (hot user's window = one ~2 s",
        "  task, the right default at this size) with the grouped+chunked",
        "  escape hatch at 0.46 for the beyond-task-memory regime.",
        "- The END-TO-END crawl-to-tensors chain (WARC -> extract -> scrub",
        "  -> dedup -> perplexity gate -> BPE encode -> vocab ids ->",
        "  contiguous pack -> epoch shuffle) has its own N->4N cell since",
        "  round 7 (BENCH/ANALYSIS_r07.md §3):",
        "  320k pages / 56M tokens, 79.7 s at local[8] -> 55.2 s at",
        "  local[32] (697k -> 1.01M tokens/s), efficiency 0.361 vs the",
        "  box's ~0.49 streaming ceiling, with per-stage mins and the",
        "  measured tokenize-variant progression (the inline projection",
        "  scaled NEGATIVELY at 32 threads; the dict-vocabulary encode +",
        "  array-input vocab build is the shipped shape).",
    ]
    name = "BASELINE.md" if _SF == 1.0 else f"BASELINE_sf{_SF:g}.md"
    with open(os.path.join(ROOT, "BENCH", name), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(json.dumps({f"{k}_eff": v for k, v in effs.items()}))


def main():
    global _SF
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    sf = float(sys.argv[2]) if len(sys.argv) > 2 else 1.0
    repeat = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    kinds = (sys.argv[4] if len(sys.argv) > 4 else DEFAULT_CELLS).split(",")
    _SF = sf

    cells = []
    for kind in kinds:
        spec = CELLS[kind]
        cells.append((kind, n, make_runner(spec)))
        cells.append((kind, 4 * n, make_runner(spec)))

    os.makedirs(os.path.join(ROOT, "BENCH"), exist_ok=True)
    # INTERLEAVE rounds across cells: this host's load drifts on a multi-
    # minute scale (measured 5x between back-to-back identical runs), so
    # running each cell's repeats back-to-back would bias whole cells;
    # round-robin spreads the drift evenly and min-of-N filters it
    for r in range(repeat):
        for kind, cpus, fn in cells:
            if len(_load(kind, cpus)) <= r:
                _append(kind, cpus, fn(cpus, sf))
                print(f"round {r}: {kind}@{cpus} done", flush=True)
        write_report(n, sf, repeat)  # incremental: report survives a kill


if __name__ == "__main__":
    main()
