"""Layer spans recorded from the benchmark's side of each public call, the
Spark job-group label every job carries, and the event-log reader that
attributes task metrics to those labels.

A span's job group is ``<layer>#<pass>``, so the event log separates the
same layer across passes. Regions that are not layers (set-up, input
generation, warm-up and untraced passes) carry plain labels, so every job
a run issues is attributed to something.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

from procfs import cpu_seconds


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []

    @contextmanager
    def label(self, group: str):
        """Run the body's Spark jobs under job group ``group``."""
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, layer: str, pass_idx: int):
        """Time one call into ``layer``; the body may add counts to the
        yielded record's ``counts``."""
        rec = {"layer": layer, "pass": pass_idx, "counts": {}}
        with self.label(f"{layer}#{pass_idx}"):
            c0 = cpu_seconds()
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec["wall_s"] = time.perf_counter() - t0
                c1 = cpu_seconds()
                rec["cpu_s"] = c1["total"] - c0["total"]
                rec["python_cpu_s"] = c1["python"] - c0["python"]
                self.spans.append(rec)


def event_log_file(log_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one Spark event log in {log_dir}, found {files}")
    return files[0]


_WANTED = (
    '{"Event":"SparkListenerJobStart"',
    '{"Event":"SparkListenerTaskEnd"',
)


def job_metrics(path: str) -> dict[str, dict]:
    """Per job group: jobs, SQL executions (one per action, however many
    jobs its shuffles split it into), tasks, shuffle bytes written, bytes
    spilled to disk and JVM GC seconds, summed over the tasks of the
    group's jobs. Jobs without a group are collected under the empty
    label."""
    stage_group: dict[int, str] = {}
    executions: dict[str, set] = {}
    out: dict[str, dict] = {}

    def bucket(group: str) -> dict:
        return out.setdefault(
            group,
            {"jobs": 0, "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0, "gc_s": 0.0},
        )

    with open(path) as f:
        for line in f:
            # only job starts and task ends are needed; skip decoding the rest
            if not line.startswith(_WANTED):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                bucket(group)["jobs"] += 1
                executions.setdefault(group, set()).add(props.get("spark.sql.execution.id"))
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                b = bucket(stage_group.get(ev.get("Stage ID"), ""))
                m = ev.get("Task Metrics") or {}
                b["tasks"] += 1
                b["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                b["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                b["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    for group, ids in executions.items():
        out[group]["sql_executions"] = len(ids - {None})
    return out
