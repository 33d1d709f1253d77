"""The distributed powershap selection engine.

Mirrors the reference control flow exactly (powershap/powershap.py:328-516:
initial batch -> statistical analysis -> automatic top-up -> optional
convergence recursion -> p-value mask). Every explain batch runs through
ONE driver, ``ExplainBackend.explain``; a backend only says where its
per-block function runs. ``SparkExplainBackend`` shuffles the feature
matrix ONCE on part_id and runs it per partition block inside
``groupBy(part_id).applyInPandas`` (Arrow transfer, no per-row Python);
``PandasExplainBackend`` calls it in-process on the whole frame as block 0.
All batch iterations loop over the block locally, returning per-feature
partials that are combined with a count-weighted mean (partial+final agg).

When a batch returns, each of its iterations is checkpointed (parquet +
completion marker) with per-partition lineage ``(iteration, seed_start,
part_id, n_rows, n_val_rows, wall_ms)``, plus one ``metrics.jsonl`` record
for the batch, so a killed run re-runs only unfinished batches and gives
byte-identical statistics (FIXTURES.md F6): seeds are pure functions of
the iteration index (probe: RandomState(local_i + seed_start), split:
RandomState(local_i)) exactly like the reference (shap_explainer.py:
109-122), and the cv split stream is a pure function of its position, so
resume = replay the driver control flow and skip completed iterations.

Faithful quirks kept: split seed restarts at 0 for each automatic top-up
batch while probe/model seeds continue (shap_explainer.py:109 vs :122);
the convergence loop passes a stray ``converge_shaps_df`` kwarg into fit
kwargs (powershap.py:472) — unknown kwargs are ignored, not an error.
"""

from __future__ import annotations

import os
import time
import warnings

import numpy as np
import pandas as pd

from .kernel import RANDOM_COL, explain_prepared, prepare_block
from .rundir import RunDir
from .stats import shaps_long_to_wide, statistical_analysis

_RESULT_SCHEMA = (
    "iteration int, part_id int, feature string, mean_abs_shap float, "
    "n_val_rows long, n_rows long, wall_ms double"
)


# ---------------------------------------------------------------------------
# Checkpoint store (Iceberg-style layout on plain parquet; see SURVEY §7.6)
# ---------------------------------------------------------------------------


class CheckpointStore(RunDir):
    """Append-only per-iteration results + metrics with atomic completion
    markers, in one ``RunDir``. Layout: {dir}/{run_id}/iter=PHASE.N.parquet
    + .COMPLETE; a partially-written iteration (no marker) is discarded on
    resume.

    Iterations are namespaced by PHASE ("main", "conv0", "conv1", ...)
    because the reference restarts seed streams inside convergence rounds
    (powershap.py:446-456 calls explain with the default seed start), so
    global iteration indices alone would collide across phases."""

    def _pq(self, phase: str, it: int) -> str:
        return self.path(f"iter={phase}.{it}.parquet")

    def completed_iterations(self, phase: str) -> set[int]:
        out = set()
        pre = f"iter={phase}."
        for f in os.listdir(self.dir):
            if f.startswith(pre) and f.endswith(".COMPLETE"):
                out.add(int(f[len(pre) : -len(".COMPLETE")]))
        return out

    def write_iteration(self, phase: str, it: int, pdf: pd.DataFrame) -> None:
        tmp = self._pq(phase, it) + ".tmp"
        pdf.to_parquet(tmp)
        os.replace(tmp, self._pq(phase, it))
        self.mark(f"iter={phase}.{it}.COMPLETE")

    def read_iteration(self, phase: str, it: int) -> pd.DataFrame:
        return pd.read_parquet(self._pq(phase, it))


# ---------------------------------------------------------------------------
# Explain-batch driver and its two backends
# ---------------------------------------------------------------------------


def _make_group_fn(
    feature_cols,
    label_col,
    iteration_pairs,
    seed_start,
    val_size,
    stratify_col,
    group_col,
    model,
    probe_mode,
    row_key_col,
    sort_cols,
    cv=None,
    cv_positions=None,
    fit_kwargs=None,
    matrix_dtype=np.float32,
):
    """Per-block function ``fn(key, pdf)`` (the applyInPandas UDF body on
    Spark, a direct call on pandas): the feature matrix block for one
    part_id is materialized ONCE (a single Arrow transfer per partition)
    and ALL batch iterations run on it in a local loop — the data is never
    replicated or re-shuffled per iteration. ``iteration_pairs`` = [(global_it, local_i)].

    ``cv`` (an ``InfiniteSplitter``) + ``cv_positions`` (global_it ->
    absolute stream position) reconstruct the reference's single global
    split stream inside the executor: the stream is a pure function of
    (cv, block, position), so fast-forwarding to each iteration's position
    reproduces exactly what the driver-side sequential loop would consume
    (powershap.py:144-176 / shap_explainer.py:117-120), per partition block.
    """

    def fn(key, pdf):
        part_id = int(key[0])
        if sort_cols:
            pdf = pdf.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
        # the float64 matrix + label/stratify/group arrays are built ONCE
        # per partition block; every batch iteration reuses them and only
        # the probe column is rewritten in place (pass elimination — the
        # per-iteration matrix rebuild was a full O(n*m) copy each time)
        blk = prepare_block(
            pdf,
            feature_cols,
            label_col,
            stratify_col=stratify_col,
            group_col=group_col,
            row_key_col=row_key_col,
            sort_cols=None,  # sorted once above
            matrix_dtype=matrix_dtype,
        )
        gen, cur = None, -1

        def _cv_error(e):
            # a whole-dataset splitter applied to one partition BLOCK can
            # fail data-dependently (fewer groups than n_splits, a single-
            # member class in the block); surface what to change instead of
            # a bare executor traceback
            return ValueError(
                f"cv split failed inside partition block part_id={part_id} "
                f"({len(pdf)} rows): {e}. With n_parts>1 each block must "
                "independently satisfy the splitter's group/class "
                "requirements — reduce n_parts, or set part_by to a column "
                "that keeps whole groups/classes together per block."
            )

        if cv is not None:
            y_ = (
                pdf[stratify_col].to_numpy()
                if stratify_col
                else pdf[label_col].to_numpy()
            )
            grp = pdf[group_col].to_numpy() if group_col else None
            first = cv_positions[iteration_pairs[0][0]]
            try:
                gen = cv.at_position(first, np.zeros((len(pdf), 1)), y=y_, groups=grp)
            except ValueError as e:
                raise _cv_error(e) from e
            cur = first
        outs = []
        for global_it, local_i in iteration_pairs:
            split = None
            if gen is not None:
                target = cv_positions[global_it]
                try:
                    while cur < target:
                        next(gen)
                        cur += 1
                    split = next(gen)
                except ValueError as e:
                    raise _cv_error(e) from e
                cur += 1
            t0 = time.perf_counter()
            out = explain_prepared(
                blk,
                iteration=local_i,
                seed_start=seed_start,
                val_size=val_size,
                model=model,
                probe_mode=probe_mode,
                split_override=split,
                fit_kwargs=fit_kwargs,
            )
            out.insert(0, "part_id", np.int32(part_id))
            out.insert(0, "iteration", np.int32(global_it))
            out["n_rows"] = np.int64(len(pdf))
            out["wall_ms"] = (time.perf_counter() - t0) * 1000.0
            outs.append(out)
        return pd.concat(outs, ignore_index=True)

    return fn


class ExplainBackend:
    """The explain-batch driver both backends share (reference
    ShapExplainer.explain): checkpoint replay, the batch's cv stream
    positions, one ``_make_group_fn`` block fn per batch, the driver-side
    empty-result error and degenerate-block warning, per-iteration
    checkpoints + one ``metrics.jsonl`` record per batch, and the long ->
    wide result. A backend supplies only ``_run(fn, its)``: where the block
    fn runs over the matrix's part_id blocks."""

    def __init__(
        self, feature_cols, label_col, *, val_size, stratify_col, group_col,
        model, store, cv, fit_kwargs, cv_start_pos, matrix_dtype,
        probe_mode="positional", sort_cols=None,
    ):
        self.matrix_dtype = np.dtype(matrix_dtype)
        self.feature_cols = list(feature_cols)
        self.label_col = label_col
        self.val_size = val_size
        self.stratify_col = stratify_col
        self.group_col = group_col
        self.model = model
        self.probe_mode = probe_mode
        self.sort_cols = sort_cols
        self.row_key_col = None
        self.n_parts = 1
        self.store = store
        self.phase = "main"
        self.cv = cv
        # absolute position in the selector-global cv stream (continues
        # across fits like the reference's persistent closure state)
        self.cv_pos = int(cv_start_pos)
        self.fit_kwargs = dict(fit_kwargs or {})

    def _run(self, fn, its: list[int]) -> pd.DataFrame:
        """Apply ``fn(key, block)`` to every part_id block of the matrix and
        return the concatenated long results; ``its`` are the batch's
        iterations (for progress labels)."""
        raise NotImplementedError

    def release(self) -> None:
        """Free what the backend holds (called by the selector when the fit
        completes); nothing by default."""

    def explain(
        self,
        loop_its: int,
        seed_start: int,
        exclude_cols: list[str] | None = None,
        extra_fit_kwargs: dict | None = None,
    ) -> pd.DataFrame:
        """Run one explain batch (reference ShapExplainer.explain). Returns the
        wide I x (m+1) shaps_df for THIS batch (float32), checkpoint-aware."""
        feats = [c for c in self.feature_cols if c not in set(exclude_cols or [])]
        global_its = list(range(seed_start, seed_start + loop_its))
        done = self.store.completed_iterations(self.phase) if self.store else set()

        # every iteration consumes exactly one split from the selector-global
        # cv stream, cached or not — positions stay aligned under checkpoint
        # resume because the driver control flow replays identically.
        # cv_pos itself only advances AFTER the batch completes (below):
        # consume-on-use, so a failed batch leaves the stream where it was
        # and an in-process retry replays the same splits (the reference's
        # sequential-generator semantics)
        cv_positions = {g: self.cv_pos + i for i, g in enumerate(sorted(global_its))}
        fit_kw = {**self.fit_kwargs, **(extra_fit_kwargs or {})}

        long_parts: list[pd.DataFrame] = []
        todo: list[int] = []
        for g in global_its:
            cached = self.store.read_iteration(self.phase, g) if g in done else None
            # a checkpointed iteration from a convergence round may have a
            # different feature set; only reuse when it matches
            if cached is not None and set(cached["feature"]) == set(feats) | {RANDOM_COL}:
                long_parts.append(cached)
            else:
                todo.append(g)

        if todo:
            # each partition block is materialized once and all todo
            # iterations loop over it locally
            fn = _make_group_fn(
                feats,
                self.label_col,
                [(int(g), int(g - seed_start)) for g in todo],
                seed_start,
                self.val_size,
                self.stratify_col,
                self.group_col,
                self.model,
                self.probe_mode,
                self.row_key_col,
                self.sort_cols,
                cv=self.cv,
                cv_positions=cv_positions,
                fit_kwargs=fit_kw,
                matrix_dtype=self.matrix_dtype,
            )
            t0 = time.perf_counter()
            res = self._run(fn, todo)
            wall = time.perf_counter() - t0
            if res.empty:
                raise ValueError(
                    "explain produced no results — the input DataFrame has no "
                    "rows (e.g. every probe fell before its conversation start)"
                )
            # Surface degenerate (no-signal) fits DRIVER-side: a single-class
            # block's zero-coefficient model yields all-zero partials for
            # every feature, and the executor-side UserWarning raised inside
            # applyInPandas never reaches the driver console (ADVICE r3).
            blk_max = res.groupby(["iteration", "part_id"])["mean_abs_shap"].max()
            degenerate = [
                (int(i), int(p)) for (i, p) in blk_max[blk_max == 0.0].index
            ]
            if degenerate:
                warnings.warn(
                    f"{len(degenerate)} explain block(s) produced all-zero "
                    f"SHAP partials (iteration, part_id)={degenerate[:10]} — "
                    "likely single-class fits (e.g. an unstratified part "
                    "holding one label); their statistically-neutral zeros "
                    "still fold into the selection statistics",
                    UserWarning,
                )
            for g, pdf_it in res.groupby("iteration"):
                pdf_it = pdf_it.reset_index(drop=True)
                pdf_it["seed_start"] = seed_start
                if self.store:
                    self.store.write_iteration(self.phase, int(g), pdf_it)
                long_parts.append(pdf_it)
            if self.store:
                blocks = res.drop_duplicates(["iteration", "part_id"])
                self.store.log_metrics(
                    {
                        "phase": self.phase,
                        "batch_iterations": [int(x) for x in todo],
                        "seed_start": seed_start,
                        "n_parts": self.n_parts,
                        "wall_s": wall,
                        # n_rows repeats on every feature row of a block:
                        # count each (iteration, part_id) block once
                        "rows_per_iteration": int(
                            blocks["n_rows"].sum() / max(1, blocks["iteration"].nunique())
                        ),
                        "degenerate_blocks": degenerate,
                    }
                )

        long_df = pd.concat(long_parts, ignore_index=True)
        long_df = long_df[long_df["iteration"].isin(global_its)]
        wide = shaps_long_to_wide(long_df, feats + [RANDOM_COL])
        self.cv_pos += len(global_its)  # batch completed: consume the splits
        return wide


class SparkExplainBackend(ExplainBackend):
    """Runs each explain batch as one grouped map over a cached Spark matrix."""

    def __init__(
        self,
        df,
        feature_cols: list[str],
        label_col: str,
        n_parts: int = 1,
        part_by: str | None = None,
        val_size: float = 0.2,
        stratify_col: str | None = None,
        group_col: str | None = None,
        model=None,
        probe_mode: str = "positional",
        sort_cols: list[str] | None = None,
        store: CheckpointStore | None = None,
        min_rows_per_part: int = 500,
        cv=None,
        fit_kwargs: dict | None = None,
        show_progress: bool = False,
        cv_start_pos: int = 0,
        matrix_dtype="float32",
        single_batch: bool = False,
    ):
        from pyspark.sql import functions as F

        super().__init__(
            feature_cols, label_col, val_size=val_size, stratify_col=stratify_col,
            group_col=group_col, model=model, probe_mode=probe_mode,
            sort_cols=sort_cols, store=store, cv=cv, fit_kwargs=fit_kwargs,
            cv_start_pos=cv_start_pos, matrix_dtype=matrix_dtype,
        )
        self.show_progress = show_progress

        keep = set(feature_cols) | {label_col}
        keep |= {c for c in (stratify_col, group_col, part_by) if c}
        keep |= set(sort_cols or [])
        d = df.select(*[c for c in df.columns if c in keep])
        if probe_mode == "keyed":
            key_cols = sort_cols or feature_cols
            d = d.withColumn("__row_key", F.xxhash64(*[F.col(c) for c in key_cols]))
            self.row_key_col = "__row_key"
        if self.matrix_dtype == np.dtype(np.float32):
            # narrow the FEATURE columns to float32 at the source: the
            # cached matrix, the part_id shuffle, and the Arrow transfer
            # into the Python workers all halve (keys / label / sort /
            # stratify / group columns keep their exact types). The single
            # JVM-side double->float rounding is the same IEEE rounding
            # pandas' astype(float32) applies, so the Spark and pandas
            # backends still produce identical matrices.
            numeric = {"double", "integer", "long", "short", "decimal"}
            d = d.withColumns(
                {
                    c: F.col(c).cast("float")
                    for c in self.feature_cols
                    if d.schema[c].dataType.typeName() in numeric
                }
            )
        proj = d.cache()
        self.spark = df.sparkSession

        # a partition-parallel fit on a handful of rows is statistical noise:
        # clamp n_parts so every partition model sees >= min_rows_per_part
        # rows. The count runs on the just-cached projection, so it doubles
        # as the cache materialization — no extra pipeline evaluation.
        if n_parts > 1:
            n_rows = proj.count()
            n_parts = max(1, min(n_parts, n_rows // max(1, min_rows_per_part)))
        self.n_parts = n_parts
        if n_parts <= 1:
            self.part_expr = F.lit(0).cast("int")
        elif part_by:
            self.part_expr = F.pmod(F.xxhash64(part_by), F.lit(n_parts)).cast("int")
        else:
            self.part_expr = F.pmod(
                F.xxhash64(*[F.col(c) for c in (sort_cols or feature_cols)]),
                F.lit(n_parts),
            ).cast("int")

        self.single_batch = bool(single_batch)
        if self.single_batch:
            # ONE explain call is statically known (non-automatic,
            # non-convergence fit): the post-shuffle persist below would
            # cost a cache-write + re-read pass it never earns back, so
            # keep the r5 flow — cache the projection, shuffle inside the
            # single batch. Falls back gracefully (just per-batch shuffles)
            # if explain is nevertheless called again.
            self.df = proj
            return

        # Persist the matrix POST-shuffle, partitioned by part_id and sorted
        # within partitions on (part_id, sort_cols): every explain batch's
        # groupBy finds its required distribution AND ordering already
        # satisfied by the cached plan, so the per-batch Exchange + Sort
        # vanish — automatic mode's incremental batches used to re-shuffle
        # and re-sort the SAME cached matrix on every call (the measured
        # per-batch fixed overhead, ANALYSIS_r05 §3b). The explicit
        # numPartitions pins one group per partition (no straggler packing),
        # and AQE leaves cached-plan output partitioning alone by default.
        d2 = proj.withColumn("part_id", self.part_expr)
        d2 = d2.repartition(max(1, n_parts), "part_id")
        d2 = d2.sortWithinPartitions("part_id", *(sort_cols or []))
        self.df = d2.cache()
        # EAGER materialization, deliberately: with AQE, a plan compiled
        # over an UNMATERIALIZED cached relation cannot see its output
        # partitioning and inserts a defensive ENSURE_REQUIREMENTS shuffle
        # + sort above the scan — a lazy cache would make the first batch
        # shuffle the matrix TWICE (measured; plans verified both ways).
        # Paying one up-front pass keeps every batch's plan clean.
        try:
            self.df.count()
        finally:
            proj.unpersist()  # the pre-shuffle copy is redundant (also on failure)

    def release(self) -> None:
        """Unpersist the cached partitioned matrix (called by the selector
        when the fit completes — repeated fits must not accumulate cached
        data)."""
        try:
            self.df.unpersist()
        except Exception:
            pass

    def _run(self, fn, its: list[int]) -> pd.DataFrame:
        if self.show_progress:
            # reference shows tqdm over iterations (shap_explainer.py:108);
            # distributed batches surface through the job group instead —
            # visible in the Spark UI / status tracker per explain batch
            self.spark.sparkContext.setJobGroup(
                f"powershap/{self.phase}",
                f"explain batch: iterations {its[0]}"
                f"..{its[-1]} over {self.n_parts} partitions",
            )
        try:
            # self.df is cached ALREADY partitioned by part_id and sorted
            # on (part_id, sort_cols), so the grouped map plans no
            # Exchange and no Sort (test_plans.py) — except for a
            # one-shot fit, which shuffles inside its single batch (no
            # persisted exchange to amortize)
            src = self.df
            if self.single_batch:
                src = src.withColumn("part_id", self.part_expr)
                if self.n_parts > 1:
                    src = src.repartition(self.n_parts, "part_id")
            return (
                src.groupBy("part_id")
                .applyInPandas(fn, schema=_RESULT_SCHEMA)
                .toPandas()
            )
        finally:
            if self.show_progress:
                # don't leave the group attached to the user's thread
                sc = self.spark.sparkContext
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)


class PandasExplainBackend(ExplainBackend):
    """Local single-process backend: the shared batch driver over ONE
    in-memory block (part_id 0, positional probes, no sort), used for
    pandas / numpy fits, parity unit tests and tiny inputs (no Spark
    session required)."""

    def __init__(
        self,
        X: pd.DataFrame,
        y,
        val_size: float = 0.2,
        stratify=None,
        groups=None,
        model=None,
        store: CheckpointStore | None = None,
        cv=None,
        fit_kwargs: dict | None = None,
        cv_start_pos: int = 0,
        matrix_dtype="float32",
    ):
        self.pdf = X.copy()
        self.pdf["__label"] = np.asarray(y)
        if stratify is not None:
            self.pdf["__strat"] = np.asarray(stratify)
        if groups is not None:
            self.pdf["__groups"] = np.asarray(groups)
        super().__init__(
            list(X.columns), "__label", val_size=val_size,
            stratify_col="__strat" if stratify is not None else None,
            group_col="__groups" if groups is not None else None, model=model,
            store=store, cv=cv, fit_kwargs=fit_kwargs, cv_start_pos=cv_start_pos,
            matrix_dtype=matrix_dtype,
        )

    def _run(self, fn, its: list[int]) -> pd.DataFrame:
        return fn((0,), self.pdf)


# ---------------------------------------------------------------------------
# Selector facade (reference PowerShap API, powershap.py:17-142)
# ---------------------------------------------------------------------------


class PowerShapSelector:
    def __init__(
        self,
        model=None,
        power_iterations: int = 10,
        power_alpha: float = 0.01,
        val_size: float = 0.2,
        power_req_iterations: float = 0.99,
        include_all: bool = False,
        automatic: bool = False,
        force_convergence: bool = False,
        limit_convergence_its: int = 0,
        limit_automatic: int = 10,
        limit_incremental_iterations: int = 10,
        limit_recursive_automatic: int = 3,
        stratify: bool = False,
        cv=None,
        show_progress: bool = True,
        verbose: bool = False,
        # Spark-specific
        n_parts: int = 1,
        part_by: str | None = None,
        min_rows_per_part: int = 500,
        probe_mode: str = "positional",
        sort_cols: list[str] | None = None,
        checkpoint_dir: str | None = None,
        run_id: str = "default",
        matrix_dtype: str = "float32",
        **fit_kwargs,
    ):
        self.model = model
        self.power_iterations = power_iterations
        self.power_alpha = power_alpha
        self.val_size = val_size
        self.power_req_iterations = power_req_iterations
        self.include_all = include_all
        self.automatic = automatic
        self.force_convergence = force_convergence
        self.limit_convergence_its = limit_convergence_its
        self.limit_automatic = limit_automatic
        self.limit_incremental_iterations = limit_incremental_iterations
        self.limit_recursive_automatic = limit_recursive_automatic
        self.stratify = stratify
        # the infinite re-seeding wrapper is built ONCE per selector and its
        # split stream persists across fit phases, like the reference
        # (powershap.py:173-176: self.cv = _infinite_splitter(cv))
        from .splitters import InfiniteSplitter

        self.cv = InfiniteSplitter(cv) if cv is not None else None
        # total splits consumed across fits — the selector-global stream
        # position (the pristine InfiniteSplitter is never generated from
        # directly; backends reconstruct at this position)
        self._cv_consumed = 0
        self.show_progress = show_progress
        self.verbose = verbose
        self.n_parts = n_parts
        self.part_by = part_by
        self.min_rows_per_part = min_rows_per_part
        self.probe_mode = probe_mode
        self.sort_cols = sort_cols
        self.checkpoint_dir = checkpoint_dir
        self.run_id = run_id
        # fit-matrix dtype ("float32" default / "float64"): float32 halves
        # the cached matrix, its shuffle+Arrow transfer, and every kernel
        # memory pass — see kernel.prepare_block. Statistics stay float64.
        self.matrix_dtype = matrix_dtype
        self.fit_kwargs = fit_kwargs

    def _print(self, *a):
        if self.verbose:
            print(*a)

    # -- fitting ------------------------------------------------------------

    def fit(
        self,
        X,
        y=None,
        stratify=None,
        groups=None,
        label_col: str = "label",
        feature_cols: list[str] | None = None,
        stratify_col: str | None = None,
        group_col: str | None = None,
        **kwargs,
    ):
        store = None
        if self.checkpoint_dir:
            store = CheckpointStore(self.checkpoint_dir, self.run_id)
        # per-call kwargs take precedence over constructor fit_kwargs
        # (reference powershap.py:353)
        fit_kw = {**self.fit_kwargs, **kwargs}
        if isinstance(X, pd.DataFrame) or isinstance(X, np.ndarray):
            if isinstance(X, np.ndarray):
                X = pd.DataFrame(X, columns=[str(i) for i in range(X.shape[1])])
            strat = stratify
            if strat is None and self.stratify:
                strat = np.asarray(y)
            backend = PandasExplainBackend(
                X, y, self.val_size, strat, groups, self.model, store,
                cv=self.cv, fit_kwargs=fit_kw, cv_start_pos=self._cv_consumed,
                matrix_dtype=self.matrix_dtype,
            )
            self.feature_names_in_ = np.asarray(list(X.columns))
        else:  # Spark DataFrame
            feature_cols = feature_cols or [
                f.name
                for f in X.schema.fields
                if f.name != label_col
                and f.dataType.typeName() in ("double", "float", "integer", "long", "short")
                and f.name not in {stratify_col, group_col}
                and (self.sort_cols is None or f.name not in self.sort_cols)
            ]
            if stratify_col is None and self.stratify:
                stratify_col = label_col
            backend = SparkExplainBackend(
                X,
                feature_cols,
                label_col,
                n_parts=self.n_parts,
                part_by=self.part_by,
                min_rows_per_part=self.min_rows_per_part,
                val_size=self.val_size,
                stratify_col=stratify_col,
                group_col=group_col,
                model=self.model,
                probe_mode=self.probe_mode,
                sort_cols=self.sort_cols,
                store=store,
                cv=self.cv,
                fit_kwargs=fit_kw,
                show_progress=self.show_progress,
                cv_start_pos=self._cv_consumed,
                matrix_dtype=self.matrix_dtype,
                # a plain fixed-iterations fit runs exactly ONE explain
                # batch — skip the post-shuffle persist it never amortizes
                single_batch=not self.automatic and not self.force_convergence,
            )
            self.feature_names_in_ = np.asarray(feature_cols)

        self._backend = backend
        loop_its = self.power_iterations
        if self.automatic:
            loop_its = 10

        try:
            shaps_df = backend.explain(loop_its, 0)
            processed = statistical_analysis(
                shaps_df, self.power_alpha, self.power_req_iterations, self.include_all
            )

            if self.automatic:
                processed, _ = self._automatic_fit(
                    backend, processed, loop_its, shaps_df, exclude_cols=None
                )
                if self.force_convergence:
                    processed = self._convergence_fit(backend, processed, loop_its)
        finally:
            # the stream position survives across fits (reference closure
            # semantics, powershap.py:144-176)
            self._cv_consumed = backend.cv_pos if self.cv is not None else 0
            # release the cached projected matrix — repeated fits in one
            # session must not accumulate cached DataFrames
            backend.release()

        sub = processed[processed.index != RANDOM_COL]
        order = {c: i for i, c in enumerate(self.feature_names_in_)}
        sub = sub.loc[sorted(sub.index, key=lambda c: order.get(c, 1 << 30))]
        self._p_values = sub.p_value.values
        self._processed_shaps_df = processed
        return self

    def _automatic_fit(
        self, backend, processed, loop_its, shaps_df, exclude_cols,
        extra_fit_kwargs=None,
    ):
        """Reference powershap.py:222-326, with the iteration budget counter
        returned for checkpoint-aware convergence batches."""
        req_col = str(self.power_req_iterations) + "_power_its_req"
        if not any(processed.p_value < self.power_alpha):
            self._print("No features selected after the initial iterations!")
            return processed, loop_its

        max_iterations = int(
            np.ceil(processed[processed.p_value < self.power_alpha][req_col].max())
        )
        max_iterations_old = loop_its
        recurs_counter = 0

        while (
            max_iterations > max_iterations_old
            and recurs_counter < self.limit_recursive_automatic
        ):
            if max_iterations - max_iterations_old > self.limit_automatic:
                add = self.limit_incremental_iterations
            else:
                add = max_iterations - max_iterations_old
            shaps_new = backend.explain(
                add, max_iterations_old, exclude_cols, extra_fit_kwargs
            )
            max_iterations_old += add

            shaps_df = pd.concat([shaps_df, shaps_new], ignore_index=True)
            processed = statistical_analysis(
                shaps_df, self.power_alpha, self.power_req_iterations, self.include_all
            )
            if not any(processed.p_value < self.power_alpha):
                return processed, max_iterations_old
            max_iterations = int(
                np.ceil(processed[processed.p_value < self.power_alpha][req_col].max())
            )
            recurs_counter += 1

        return processed, max_iterations_old

    def _convergence_fit(self, backend, processed, loop_its):
        """Reference powershap.py:423-496: repeatedly drop the significant
        features and re-run the full automatic cycle on the remainder,
        merging newly-significant rows into the result. Faithful to the
        reference, each round's seed stream restarts at 0 (powershap.py:446
        passes no random_seed_start); checkpoint uniqueness comes from the
        per-round phase namespace instead."""
        converge_df = processed.copy()
        significant = list(
            converge_df[converge_df.p_value < self.power_alpha].index.values
        )
        n_rec = 0
        try:
            while len(converge_df[converge_df.p_value < self.power_alpha]) > 0 and (
                self.limit_convergence_its <= 0 or n_rec < self.limit_convergence_its
            ):
                exclude = [c for c in significant if c != RANDOM_COL]
                if len(exclude) >= len(self.feature_names_in_):
                    break
                backend.phase = f"conv{n_rec}"
                shaps = backend.explain(loop_its, 0, exclude)
                converge_df = statistical_analysis(
                    shaps, self.power_alpha, self.power_req_iterations, self.include_all
                )
                # faithful quirk: the reference forwards a stray
                # ``converge_shaps_df`` kwarg into the model-fit kwargs here
                # (powershap.py:472); kernels ignore unknown kwargs
                converge_df, _ = self._automatic_fit(
                    backend, converge_df, loop_its, shaps, exclude,
                    extra_fit_kwargs={"converge_shaps_df": shaps},
                )
                newly = list(
                    converge_df[converge_df.p_value < self.power_alpha].index.values
                )
                significant += newly
                processed.loc[
                    converge_df[converge_df.p_value < self.power_alpha].index.values
                ] = converge_df[converge_df.p_value < self.power_alpha]
                n_rec += 1
            processed.loc[converge_df.index.values] = converge_df
        finally:
            backend.phase = "main"
        return processed

    # -- selection ----------------------------------------------------------

    def _get_support_mask(self) -> np.ndarray:
        return self._p_values < self.power_alpha

    @property
    def selected_features_(self) -> list[str]:
        return list(self.feature_names_in_[self._get_support_mask()])

    def transform(self, X):
        mask = self._get_support_mask()
        if isinstance(X, pd.DataFrame):
            assert list(X.columns) == list(self.feature_names_in_)
            return X.loc[:, mask]
        if isinstance(X, np.ndarray):
            return X[:, mask]
        # Spark DataFrame: project to the selected features (+ pass-through
        # of non-feature columns is the caller's business; keep pure)
        keep = set(self.selected_features_)
        return X.select(*[c for c in X.columns if c in keep])

    def fit_transform(self, X, y=None, **kw):
        return self.fit(X, y, **kw).transform(X)
