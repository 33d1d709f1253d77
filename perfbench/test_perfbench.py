"""Tests of the benchmark itself, on tiny seeded inputs.

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the root of a checkout. A child process (this file run as a
script) pins the environment, starts one Spark session with the event log
on, runs a traced selection pass (salted path, automatic mode, checkpoints)
and a traced corpus-chain pass, stops Spark and writes what it recorded as
JSON; the tests read that. Keeping Spark and the pinned environment in the
child leaves the test process, and any Spark session other tests share,
untouched.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procfs  # noqa: E402
import run as bench  # noqa: E402

TINY_TRANSCRIPTS = {"n_conv": 40, "mean_turns": 8, "hot_frac": 0.5, "probe_frac": 0.5}
TINY_CRAWL = {"n_docs": 60, "replicas": 2, "shards": 2, "dup_every": 12}
SEED = 7


def trace_tiny(work: str) -> dict:
    """Untraced then traced passes of both tiny workloads in one Spark
    session; returns their outputs, walls, CPU, spans and event-log job
    metrics."""
    cpus = len(os.sched_getaffinity(0))
    bench.pin_environment(ROOT, work, cpus)
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)

    from powershap_spark.session import get_spark

    import tracing
    from workloads import Ctx, CorpusChain, Selection

    spark = get_spark(
        app_name="perfbench-test",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    tracer = tracing.Tracer(spark)
    ctx = Ctx(spark=spark, work=work, seed=SEED, cpus=cpus, tracer=tracer)
    # a threshold below the hot conversation's size takes the salted path
    sel = Selection("tiny", TINY_TRANSCRIPTS, hot_threshold_rows=50, automatic=True)
    chain = CorpusChain(TINY_CRAWL)
    out = {"cpus": cpus}
    try:
        for wl in (sel, chain):
            with tracer.label("inputs"):
                wl.prepare(ctx)
                out[f"{wl.name}.independent"] = wl.independent()
            with tracer.label("warmup"):
                wl.run(ctx, 0)
                out[f"{wl.name}.untraced"] = wl.outputs(ctx, 0)
            c0 = procfs.cpu_seconds()["total"]
            t0 = time.perf_counter()
            wl.traced(ctx, 1)
            out[f"{wl.name}.wall_s"] = time.perf_counter() - t0
            out[f"{wl.name}.cpu_s"] = procfs.cpu_seconds()["total"] - c0
            with tracer.label("check"):
                out[f"{wl.name}.traced"] = wl.outputs(ctx, 1)
    finally:
        bench.stop_spark(spark)
    out["spans"] = tracer.spans
    out["jobs"] = tracing.job_metrics(tracing.event_log_file(log_dir))
    return out


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    work = tmp_path_factory.mktemp("work")
    result = work / "traced.json"
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), str(work), str(result)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    with open(result) as f:
        return json.load(f)


def test_every_job_carries_a_layer_label(traced):
    jobs = traced["jobs"]
    assert "" not in jobs, f"{jobs.get('')} unlabelled jobs"
    layers = {name.rsplit(".", 1)[0] for name, _ in bench.per_layer_spec()}
    traced_groups = {g for g in jobs if g.endswith("#1")}
    assert traced_groups, "the traced passes issued no jobs"
    for group in traced_groups:
        assert group.split("#")[0] in layers, group
    # every Spark layer of both workloads issued jobs under its own label
    spark_layers = {layer for layer, _ in bench.SPARK_LAYERS}
    assert {g.split("#")[0] for g in traced_groups} == spark_layers


def test_traced_pass_reproduces_untraced_outputs(traced):
    for name in ("tiny", "corpus_chain"):
        assert traced[f"{name}.traced"] == traced[f"{name}.untraced"]
    # the salted path, the top-up loop's checkpoints and the matrix counts
    spans = {s["layer"]: s for s in traced["spans"] if s["pass"] == 1}
    assert spans["pipeline.turn_features"]["counts"]["salted"] == 1
    assert spans["engine.checkpoint"]["counts"]["files"] > 0
    for name in ("tiny", "corpus_chain"):
        expected = traced[f"{name}.independent"]
        assert bench.mismatches(traced[f"{name}.traced"], expected) == []
    assert traced["tiny.independent"]["matrix_rows"] > 0
    # every explain call is one batch: one SQL execution in the event log
    explain_calls = sum(s["layer"] == "engine.explain" for s in traced["spans"] if s["pass"] == 1)
    assert traced["jobs"]["engine.explain#1"]["sql_executions"] == explain_calls


def test_proc_cpu_is_positive_and_bounded_by_wall_times_cpus(traced):
    for name in ("tiny", "corpus_chain"):
        cpu, wall = traced[f"{name}.cpu_s"], traced[f"{name}.wall_s"]
        assert 0 < cpu <= wall * traced["cpus"]
    for s in traced["spans"]:
        if "wall_s" in s:
            # /proc counts whole clock ticks: allow one tick per process
            assert 0 <= s["cpu_s"] <= s["wall_s"] * traced["cpus"] + 0.5, s


def test_output_check_fails_on_a_perturbed_expected_value(traced):
    outputs = traced["corpus_chain.untraced"]
    run = bench.Run()
    run.reference = dict(outputs)
    run.check("exact", outputs)
    assert run.failed == 0
    run.reference = {**outputs, "tokens": outputs["tokens"] + 1}
    run.check("perturbed", outputs)
    assert run.failed == 1 and "tokens" in run.problems[0]
    # a partial check compares the outputs it was given, and only those
    run.check("partial", {"tokens": outputs["tokens"]}, full=False)
    assert run.failed == 2
    run.check("partial", {"pages": outputs["pages"]}, full=False)
    assert run.failed == 2
    assert bench.mismatches(traced["tiny.untraced"], {"selected": []}) == ["selected"]


def test_benchmark_json_lists_the_metrics_run_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == bench.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == bench.per_layer_spec()
    from workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "flagship", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout == ""


if __name__ == "__main__":
    recorded = trace_tiny(sys.argv[1])
    with open(sys.argv[2], "w") as f:
        json.dump(recorded, f)
