"""Resumable staged corpus pipeline — checkpoint/resume for the
crawl-to-tensors chain.

The selection loop already resumes mid-iteration (``engine.CheckpointStore``
— atomic markers, per-partition lineage, metrics.jsonl; the north rule's
"resumable from checkpoint" contract). This module applies the SAME
contract to the corpus side: a multi-stage chain (ingest -> extract ->
dedup -> filter -> tokenize -> pack -> shuffle) where each stage's output
is a DataFrame, materialized to parquet with an atomic COMPLETE marker.
A re-run after a crash (or a new session on another driver) loads every
completed stage from its parquet instead of recomputing — stage functions
are never re-invoked for completed stages, so a 10-hour ingest is never
re-paid because the tokenizer OOMed.

Layout per run (plain parquet + markers, the Iceberg-table stand-in the
TableIO seam documents — SURVEY §7.6):

    {root}/{run_id}/{idx:02d}_{stage}/data/*.parquet   (spark write)
    {root}/{run_id}/{idx:02d}_{stage}.COMPLETE         (atomic marker)
    {root}/{run_id}/metrics.jsonl                      (one line per stage)

Why markers and not _SUCCESS: Spark writes _SUCCESS inside the data dir
as part of the job, but a stage is only resumable once the DRIVER-side
bookkeeping (row count, wall, lineage record) is also durable — the
marker is written after, atomically (write-tmp + rename), by the same
``rundir.RunDir`` that ``CheckpointStore`` uses.

Stage identity is POSITIONAL + NAMED: the marker and data paths embed
``(index, name)``, so resuming with a renamed, reordered, or inserted
stage finds no marker at the first mismatch and recomputes from there —
a silently changed chain cannot serve stale parquet as a later stage's
input (completion is the CONTIGUOUS marker prefix; a gap ends resume).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .rundir import RunDir

__all__ = ["CorpusPipeline", "Stage"]


@dataclass(frozen=True)
class Stage:
    """One chain stage: ``fn(spark, prev: DataFrame | None) -> DataFrame``.

    ``prev`` is the previous stage's (possibly reloaded) output; the first
    stage receives None and reads its own source. ``repartition`` reshapes
    the materialized output to that many files (packing loaders want few
    large files; a filter stage's 10k input splits shouldn't become 10k
    tiny files) via a full repartition — deliberately not ``coalesce``,
    which would collapse the stage's COMPUTE into that many tasks.
    ``cleanup`` runs after the stage's marker is durable — the hook for
    releasing stage-scoped resources (e.g. a persist the stage needed for
    a quantile action + the final plan), so they don't ride along for the
    rest of the chain."""

    name: str
    fn: Callable[[SparkSession, DataFrame | None], DataFrame]
    repartition: int | None = None
    cleanup: Callable[[], None] | None = None


class CorpusPipeline:
    def __init__(self, root: str, run_id: str, stages: list[Stage]):
        if not stages:
            raise ValueError("stages must be non-empty")
        names = [s.name for s in stages]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate stage names: {names}")
        # markers + lineage live in one RunDir (rejects URI roots: the
        # bookkeeping is driver-side os I/O)
        self._run_dir = RunDir(root, run_id)
        self.dir = self._run_dir.dir
        self.stages = list(stages)

    def _data_dir(self, idx: int) -> str:
        return os.path.join(self.dir, f"{idx:02d}_{self.stages[idx].name}", "data")

    def _marker(self, idx: int) -> str:
        return f"{idx:02d}_{self.stages[idx].name}.COMPLETE"

    def completed(self) -> list[str]:
        """Names of the contiguous completed prefix (a gap ends resume —
        a later marker without its predecessors is unusable)."""
        out = []
        for i, s in enumerate(self.stages):
            if not self._run_dir.marked(self._marker(i)):
                break
            out.append(s.name)
        return out

    def run(self, spark: SparkSession) -> DataFrame:
        """Run the chain, resuming after the last completed stage. Returns
        the final stage's DataFrame (loaded from parquet — the persisted
        copy IS the result, so a consumer crash later never recomputes)."""
        done = len(self.completed())
        # drop any STALE markers beyond the contiguous prefix before
        # recomputing: a renamed/reordered chain can leave a later stage's
        # old marker at a path the NEW chain also uses (same index+name),
        # and a crash mid-recompute would otherwise let the next resume
        # treat the stale/partial parquet under it as completed — the
        # marker must only ever cover bytes this run wrote
        for i in range(done, len(self.stages)):
            self._run_dir.unmark(self._marker(i))
        prev: DataFrame | None = (
            spark.read.parquet(self._data_dir(done - 1)) if done else None
        )
        for i in range(done, len(self.stages)):
            st = self.stages[i]
            t0 = time.perf_counter()
            out = st.fn(spark, prev)
            if st.repartition:
                # repartition, NOT coalesce: coalesce is a narrow
                # dependency, so coalesce(k) would run the ENTIRE stage's
                # compute in k tasks (a coalesce(1) epoch shuffle would
                # serialize every per-shard window sort into one task).
                # repartition keeps upstream parallelism — the shuffle is
                # the price of few output files without a compute funnel.
                out = out.repartition(st.repartition)
            data = self._data_dir(i)
            out.write.mode("overwrite").parquet(data)
            # reload from the persisted copy BEFORE declaring completion:
            # the marker must only ever cover bytes a resume would read
            prev = spark.read.parquet(data)
            n = prev.count()
            wall = round(time.perf_counter() - t0, 3)
            self._run_dir.log_metrics(
                {
                    "stage": st.name,
                    "idx": i,
                    "rows": int(n),
                    "wall_s": wall,
                    "n_files": len(
                        [f for f in os.listdir(data) if f.endswith(".parquet")]
                    ),
                }
            )
            self._run_dir.mark(
                self._marker(i), json.dumps({"rows": int(n), "wall_s": wall})
            )
            if st.cleanup is not None:
                st.cleanup()
        if prev is None:  # pragma: no cover — stages is non-empty
            raise RuntimeError("no stage produced output")
        return prev

    def metrics(self) -> list[dict]:
        return self._run_dir.metrics()
