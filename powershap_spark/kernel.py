"""The per-iteration powershap kernel: probe injection, train/val split,
model fit, SHAP attribution, per-feature reduction.

Pure pandas/numpy — this module is what runs INSIDE the vectorized Arrow
UDF on executors (``applyInPandas`` groups), and also serves as the local
parity path. Semantics mirror the reference loop at
``powershap/shap_wrappers/shap_explainer.py:97-194``:

- probe: ``RandomState(iteration + seed_start).uniform(-1, 1, n)``
  positional over row order                          (shap_explainer.py:109-113)
- split: sklearn ``train_test_split(..., random_state=iteration)``
  permutation semantics, indices sorted ascending    (shap_explainer.py:119-156)
- reduce: ``mean(|shap|)`` over validation rows, max over outputs first
  if multi-output, cast float32                      (shap_explainer.py:171-181)

Models are pluggable through a registry probed in the reference factory's
order (shap_explainer_factory.py:19-26). In this sandbox catboost / lgbm /
xgboost / sklearn / shap are absent, so the default is a vendored numpy
linear (regression) / logistic (classification) model with EXACT linear
SHAP ``phi_ij = coef_j * (x_ij - mean(X_train_j))`` — the interventional
semantics of ``shap.explainers.Linear`` (shap_explainer.py:336).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

RANDOM_COL = "random_uniform_feature"


# ---------------------------------------------------------------------------
# Probe injection (reference shap_explainer.py:109-113)
# ---------------------------------------------------------------------------


def inject_probe_positional(n: int, iteration: int, seed_start: int = 0) -> np.ndarray:
    """Parity mode: the reference's positional uniform stream."""
    return np.random.RandomState(iteration + seed_start).uniform(-1, 1, n)


def inject_probe_keyed(keys: np.ndarray, iteration: int, seed_start: int = 0) -> np.ndarray:
    """Scale mode: order-independent counter-based uniforms.

    ``keys`` is an int64 row-key array (e.g. xxhash64(conv_id, turn_idx)
    computed JVM-side). Deterministic under any partitioning / resume —
    a pure function of (seed, row key), never of row position.
    Uses splitmix64 finalization for avalanche.
    """
    with np.errstate(over="ignore"):  # uint64 wraparound is the point
        x = keys.astype(np.uint64) + np.uint64(
            ((iteration + seed_start) * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        )
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    # uint64 -> [0,1) -> [-1,1)
    u = x.astype(np.float64) / float(2**64)
    return u * 2.0 - 1.0


# ---------------------------------------------------------------------------
# Train/val split (vendored sklearn-exact splitters; sklearn absent here)
# ---------------------------------------------------------------------------


def train_test_split_indices(
    n: int,
    val_size: float,
    seed: int,
    stratify: np.ndarray | None = None,
    groups: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """(train_idx, val_idx), both SORTED ascending (shap_explainer.py:153-156).

    Exactly the reference's split cascade (shap_explainer.py:119-149):

    - neither: ``train_test_split(arange(n), test_size, random_state=i)``
      == ShuffleSplit(n_splits=1) — one ``RandomState(i).permutation(n)``;
    - stratify only: StratifiedShuffleSplit(n_splits=1) — vendored with
      sklearn's exact approximate-mode allocation + draw order;
    - groups only: GroupShuffleSplit(n_splits=1, random_state=i);
    - both: first split of StratifiedGroupKFold(shuffle=True,
      random_state=i, n_splits=int(1/val_size)).
    """
    from .splitters import (
        GroupShuffleSplit,
        ShuffleSplit,
        StratifiedGroupKFold,
        StratifiedShuffleSplit,
    )

    X = np.zeros((n, 1))
    if groups is None and stratify is None:
        cv = ShuffleSplit(n_splits=1, test_size=val_size, random_state=seed)
        train_idx, val_idx = next(cv.split(X))
    elif groups is None:
        cv = StratifiedShuffleSplit(n_splits=1, test_size=val_size, random_state=seed)
        train_idx, val_idx = next(cv.split(X, np.asarray(stratify)))
    elif stratify is None:
        cv = GroupShuffleSplit(n_splits=1, test_size=val_size, random_state=seed)
        train_idx, val_idx = next(cv.split(X, groups=np.asarray(groups)))
    else:
        cv = StratifiedGroupKFold(
            n_splits=int(1 / val_size), shuffle=True, random_state=seed
        )
        train_idx, val_idx = next(
            cv.split(X, np.asarray(stratify), groups=np.asarray(groups))
        )
    return np.sort(train_idx), np.sort(val_idx)


# ---------------------------------------------------------------------------
# Vendored models + exact linear SHAP
# ---------------------------------------------------------------------------


def _work_dtype(X: np.ndarray) -> np.dtype:
    """Fit math follows the matrix dtype: float32 blocks run the whole
    GEMM/standardize pipeline in float32 (half the DRAM traffic, 2x BLAS
    throughput — the N->4N scaling lever), anything else computes in
    float64. The tiny (m x m) solves are promoted to float64 regardless:
    they cost nothing and keep the Newton/normal-equation steps stable."""
    return np.dtype(X.dtype) if X.dtype in (np.float32, np.float64) else np.dtype(
        np.float64
    )


@dataclass
class LinearRegressionModel:
    """OLS with a tiny ridge for conditioning; closed form. Normal-equation
    products run in the input dtype (see ``_work_dtype``); the m x m solve
    is float64."""

    l2: float = 1e-8
    coef_: np.ndarray | None = None
    intercept_: float = 0.0

    def fit(self, X: np.ndarray, y: np.ndarray, random_seed: int = 0):
        X = np.asarray(X)
        wd = _work_dtype(X)
        X = X.astype(wd, copy=False)
        y = np.asarray(y, dtype=wd)
        mu = X.mean(axis=0, dtype=wd)
        Xc = X - mu
        yc = y - y.mean(dtype=wd)
        A = (Xc.T @ Xc).astype(np.float64) + self.l2 * np.eye(X.shape[1])
        self.coef_ = np.linalg.solve(A, (Xc.T @ yc).astype(np.float64)).astype(wd)
        self.intercept_ = float(y.mean(dtype=np.float64) - mu @ self.coef_)
        return self

    def predict(self, X: np.ndarray) -> np.ndarray:
        return np.asarray(X) @ self.coef_ + self.intercept_


@dataclass
class LogisticRegressionModel:
    """Logistic regression via IRLS (Newton) with small L2.

    Binary labels fit one decision function (``coef_`` is 1-D). Three or
    more classes fit one-vs-rest — ``coef_`` becomes (n_classes, m) and the
    downstream linear SHAP is per-output 3-D, reduced by the reference's
    max-over-outputs rule (shap_explainer.py:173-177), exactly the shape
    catboost multiclass produces for the reference."""

    l2: float = 1e-6
    max_iter: int = 25
    tol: float = 1e-8
    coef_: np.ndarray | None = None
    intercept_: float = 0.0
    classes_: np.ndarray | None = None

    def fit(self, X: np.ndarray, y: np.ndarray, random_seed: int = 0):
        X = np.asarray(X)
        wd = _work_dtype(X)
        X = X.astype(wd, copy=False)
        y_raw = np.asarray(y)
        self.classes_ = np.unique(y_raw)
        if len(self.classes_) == 1:
            # a degenerate block (e.g. one partition of a stratify-less
            # n_parts split holding a single class) carries no
            # discriminative signal: zero coefficients -> zero SHAP for
            # every feature, a statistically neutral partial — never a
            # garbage fit silently folded into the selection statistics
            import warnings

            warnings.warn(
                "LogisticRegressionModel.fit received a single-class y; "
                "returning a zero-coefficient (no-signal) model",
                UserWarning,
            )
            self.coef_ = np.zeros(X.shape[1])
            self.intercept_ = 0.0
            return self
        if len(self.classes_) > 2:
            # one-vs-rest: k independent binary IRLS fits on the same
            # standardized design (reference parity: catboost multiclass ->
            # per-class SHAP outputs; OvR is the linear-model analogue)
            ws, bs = [], []
            for c in self.classes_:
                sub = LogisticRegressionModel(
                    l2=self.l2, max_iter=self.max_iter, tol=self.tol
                )
                sub.fit(X, (y_raw == c).astype(np.float64), random_seed=random_seed)
                ws.append(sub.coef_)
                bs.append(sub.intercept_)
            self.coef_ = np.vstack(ws)
            self.intercept_ = np.asarray(bs)
            return self
        # binary: map to {0,1} by class identity BEFORE any float cast so
        # string/object labels work exactly like 3+-class OvR does
        try:
            y = y_raw.astype(np.float64)
            if not set(np.unique(y)) <= {0.0, 1.0}:
                y = (y_raw == self.classes_[1]).astype(np.float64)
        except (ValueError, TypeError):
            y = (y_raw == self.classes_[1]).astype(np.float64)
        # standardize internally for conditioning; fold back at the end.
        # Everything O(n*m) stays in the work dtype (float32 blocks: half
        # the memory passes, sgemm); only the tiny (m+1)^2 Newton solve is
        # float64. The convergence tolerance is floored at the work
        # dtype's resolution — float32 steps bottom out ~1e-6, so the
        # float64 default tol would otherwise burn max_iter full passes.
        y = y.astype(wd, copy=False)
        mu, sd = X.mean(axis=0, dtype=wd), X.std(axis=0, dtype=wd)
        sd = np.where(sd < 1e-12, 1.0, sd).astype(wd)
        Z = X - mu
        Z /= sd
        n, m = Z.shape
        tol = max(self.tol, 100.0 * float(np.finfo(wd).eps))
        w = np.zeros(m, dtype=wd)
        b = float(np.log((y.mean(dtype=np.float64) + 1e-9) / (1 - y.mean(dtype=np.float64) + 1e-9)))
        ZW = np.empty_like(Z)  # weighted-Hessian workspace, one per fit
        for _ in range(self.max_iter):
            eta = np.clip(Z @ w + b, -35, 35)
            p = 1.0 / (1.0 + np.exp(-eta))
            g = Z.T @ (p - y) + self.l2 * w
            gb = float(np.sum(p - y, dtype=np.float64))
            W = np.maximum(p * (1 - p), 1e-9)
            np.multiply(Z, W[:, None], out=ZW)
            H = ZW.T @ Z + self.l2 * np.eye(m, dtype=wd)
            Hb = float(np.sum(W, dtype=np.float64))
            Hxb = Z.T @ W
            # full (m+1) Newton system including intercept (float64 solve)
            Hfull = np.empty((m + 1, m + 1))
            Hfull[:m, :m] = H
            Hfull[:m, m] = Hxb
            Hfull[m, :m] = Hxb
            Hfull[m, m] = Hb
            gfull = np.concatenate([g.astype(np.float64), [gb]])
            try:
                step = np.linalg.solve(Hfull, gfull)
            except np.linalg.LinAlgError:
                step = np.linalg.lstsq(Hfull, gfull, rcond=None)[0]
            w = w - step[:m].astype(wd)
            b -= step[m]
            if np.max(np.abs(step)) < tol:
                break
        self.coef_ = (w / sd).astype(wd)
        self.intercept_ = float(b - (mu / sd) @ w)
        return self

    def decision_function(self, X: np.ndarray) -> np.ndarray:
        X = np.asarray(X)
        if X.dtype not in (np.float32, np.float64):
            X = X.astype(np.float64)
        if self.coef_ is not None and self.coef_.ndim == 2:
            return X @ self.coef_.T + np.asarray(self.intercept_)[None, :]
        return X @ self.coef_ + self.intercept_

    def predict(self, X: np.ndarray) -> np.ndarray:
        d = self.decision_function(X)
        if d.ndim == 2:
            return self.classes_[np.argmax(d, axis=1)]
        return self.classes_[(d > 0).astype(int)] if self.classes_ is not None else (
            d > 0
        ).astype(int)


def linear_shap_values(
    coef: np.ndarray,
    X_train: np.ndarray,
    X_val: np.ndarray,
) -> np.ndarray:
    """Exact interventional linear SHAP: phi_ij = coef_j * (x_ij - mean_train_j).

    1-D coef -> (n_val, m); 2-D OvR coef (k, m) -> per-output (n_val, m, k),
    the multi-output layout the reference reduces with max-over-outputs
    (shap_explainer.py:173-177). Runs in the matrix's work dtype (float32
    blocks stay float32 end-to-end; the partial is float32 anyway)."""
    coef = np.asarray(coef)
    X_train = np.asarray(X_train)
    wd = _work_dtype(X_train)
    mu = X_train.astype(wd, copy=False).mean(axis=0, dtype=wd)
    X_val = np.asarray(X_val).astype(wd, copy=False)
    if coef.ndim == 2:
        return (X_val - mu)[:, :, None] * coef.T[None, :, :]
    return (X_val - mu) * coef.astype(wd, copy=False)


# ---------------------------------------------------------------------------
# Model registry (mirrors shap_explainer_factory.py:19-26 probe order)
# ---------------------------------------------------------------------------


def impute_nonfinite(X_train: np.ndarray, X_val: np.ndarray):
    """Replace NaN/Inf with the TRAIN column mean over finite entries (0.0
    for all-non-finite columns). The reference's robustness tests feed NaN /
    Inf columns and rows and rely on catboost's native missing-value
    handling (tests/test_catboost_powershap.py:44-113); the vendored linear
    models get the equivalent via train-only imputation — no val leakage.
    Dtype-preserving: float32 blocks are checked and imputed in float32."""
    X_train = np.asarray(X_train)
    X_val = np.asarray(X_val)
    if X_train.dtype not in (np.float32, np.float64):
        X_train = X_train.astype(np.float64)
    if X_val.dtype not in (np.float32, np.float64):
        X_val = X_val.astype(np.float64)
    if np.isfinite(X_train).all() and np.isfinite(X_val).all():
        return X_train, X_val  # common case: no copies in the hot loop
    X_train, X_val = X_train.copy(), X_val.copy()
    finite = np.isfinite(X_train)
    with np.errstate(invalid="ignore"):
        col_sum = np.where(finite, X_train, 0.0).sum(axis=0)
        col_n = finite.sum(axis=0)
        means = np.where(col_n > 0, col_sum / np.maximum(col_n, 1), 0.0)
    for X in (X_train, X_val):
        bad = ~np.isfinite(X)
        if bad.any():
            X[bad] = np.broadcast_to(means, X.shape)[bad]
    return X_train, X_val


class _VendoredLinearKernel:
    """Default kernel: vendored model + exact SHAP. Task from y dtype, like
    the reference's default-model rule (powershap.py:181-197): float y ->
    regressor, else classifier."""

    name = "vendored_linear"

    @staticmethod
    def supports_model(model) -> bool:
        return model is None or isinstance(
            model, (LinearRegressionModel, LogisticRegressionModel)
        )

    @staticmethod
    def fit_get_shap(X_train, Y_train, X_val, Y_val, random_seed, model=None, **kw):
        y = np.asarray(Y_train)
        if model is None:
            is_regr = np.issubdtype(y.dtype, np.number) and not np.issubdtype(
                y.dtype, np.integer
            )
            if (
                not is_regr
                and np.issubdtype(y.dtype, np.integer)
                and len(np.unique(y.ravel())) >= 5
            ):
                # reference warns-but-classifies here (powershap.py:190-194)
                import warnings

                warnings.warn(
                    "Classifying although there are >= 5 integers in the labels.",
                    UserWarning,
                )
            model = LinearRegressionModel() if is_regr else LogisticRegressionModel()
        else:
            model = type(model)()  # fresh copy per iteration, like clone()
        X_train, X_val = impute_nonfinite(X_train, X_val)
        model.fit(X_train, Y_train, random_seed=random_seed)
        return linear_shap_values(model.coef_, X_train, X_val)


def _try_external_kernels():
    """Probe for the real libraries in the reference factory's registration
    order — Catboost, LGBM, XGBoost, sklearn ensembles, sklearn linear,
    keras — with exception-swallowing, exactly like
    ``shap_explainer_factory.py:19-26,43-49``.

    Returns a list of (name, supports_fn, fit_get_shap_fn). In this sandbox
    all are absent; the hooks exist so the same code is reference-exact
    where the libraries are installed."""
    kernels = []

    try:  # pragma: no cover - catboost not installed in sandbox
        import shap  # noqa: F401
        from catboost import CatBoostClassifier  # noqa: F401

        def _cb_fit(X_train, Y_train, X_val, Y_val, random_seed, model=None, **kw):
            import shap

            m = (model or CatBoostClassifier(n_estimators=250, verbose=0)).copy()
            m.set_params(random_seed=random_seed)
            m.fit(X_train, Y_train, eval_set=(X_val, Y_val))
            return np.array(shap.TreeExplainer(m).shap_values(X_val))

        kernels.append(("catboost", lambda m: "catboost" in type(m).__module__, _cb_fit))
    except Exception:
        pass

    try:  # pragma: no cover - lightgbm not installed in sandbox
        import shap  # noqa: F401
        import lightgbm  # noqa: F401

        def _lgbm_fit(X_train, Y_train, X_val, Y_val, random_seed, model=None, **kw):
            import copy

            import shap

            m = copy.copy(model)  # reference works around a deepcopy bug
            m.set_params(random_state=random_seed)
            m.fit(X_train, Y_train, eval_set=[(X_val, Y_val)])
            return np.array(shap.TreeExplainer(m).shap_values(X_val))

        kernels.append(("lgbm", lambda m: "lightgbm" in type(m).__module__, _lgbm_fit))
    except Exception:
        pass

    try:  # pragma: no cover - xgboost not installed in sandbox
        import shap  # noqa: F401
        import xgboost  # noqa: F401

        def _xgb_fit(X_train, Y_train, X_val, Y_val, random_seed, model=None, **kw):
            import shap

            m = type(model)(**model.get_params())
            m.set_params(random_state=random_seed)
            m.fit(X_train, Y_train, eval_set=[(X_val, Y_val)], verbose=False)
            return np.array(shap.TreeExplainer(m).shap_values(X_val))

        kernels.append(("xgboost", lambda m: "xgboost" in type(m).__module__, _xgb_fit))
    except Exception:
        pass

    try:  # pragma: no cover - sklearn not installed in sandbox
        import shap  # noqa: F401
        from sklearn.base import clone  # noqa: F401
        from sklearn.ensemble import RandomForestClassifier  # noqa: F401

        def _ens_fit(X_train, Y_train, X_val, Y_val, random_seed, model=None, **kw):
            import shap
            from sklearn.base import clone

            m = clone(model)
            if "random_state" in m.get_params():
                m.set_params(random_state=random_seed)
            m.fit(X_train, Y_train)
            return np.array(shap.TreeExplainer(m).shap_values(X_val))

        def _lin_fit(X_train, Y_train, X_val, Y_val, random_seed, model=None, **kw):
            import shap
            from sklearn.base import clone

            m = clone(model)
            if "random_state" in m.get_params():
                m.set_params(random_state=random_seed)
            m.fit(X_train, Y_train)
            return np.array(shap.explainers.Linear(m, X_train).shap_values(X_val))

        def _is_ens(m):
            return "sklearn.ensemble" in type(m).__module__
        def _is_lin(m):
            mod = type(m).__module__
            return "sklearn.linear_model" in mod or "sklearn.svm" in mod

        kernels.append(("sklearn_ensemble", _is_ens, _ens_fit))
        kernels.append(("sklearn_linear", _is_lin, _lin_fit))
    except Exception:
        pass

    try:  # pragma: no cover - tensorflow not installed in sandbox
        import shap  # noqa: F401
        import tensorflow as tf  # noqa: F401

        def _dl_fit(X_train, Y_train, X_val, Y_val, random_seed, model=None, **kw):
            import shap
            import tensorflow as tf

            m = tf.keras.models.clone_model(model)
            m.compile(optimizer=kw["optimizer"], loss=kw["loss"], metrics=[kw.get("nn_metric")])
            m.fit(X_train, Y_train, batch_size=kw["batch_size"], epochs=kw["epochs"], verbose=0)
            return np.array(shap.DeepExplainer(m, X_train).shap_values(X_val))

        kernels.append(
            ("deep", lambda m: hasattr(m, "fit") and "keras" in type(m).__module__, _dl_fit)
        )
    except Exception:
        pass
    return kernels


EXTERNAL_KERNELS = _try_external_kernels()


def resolve_kernel(model=None):
    # extension point: a model that carries its own kernel (callable
    # ``fit_get_shap`` attribute) is used directly — the injection seam for
    # custom explainers and for asserting fit-kwargs threading in tests
    if model is not None and callable(getattr(model, "fit_get_shap", None)):
        return model.fit_get_shap
    for name, supports, fn in EXTERNAL_KERNELS:
        try:
            if supports(model):
                return fn
        except Exception:
            continue
    return _VendoredLinearKernel.fit_get_shap


# ---------------------------------------------------------------------------
# One full iteration on a pandas block  (the applyInPandas body)
# ---------------------------------------------------------------------------


def _feature_matrix(
    pdf: pd.DataFrame, feature_cols: list[str], dtype=np.float64
) -> np.ndarray:
    """Block -> float matrix in ``dtype``. Non-numeric (string / pandas
    category) feature columns are ordinal-encoded per block — the stand-in
    for the reference's catboost ``cat_features`` native handling
    (tests/test_catboost_powershap.py:88-113); NaN codes stay NaN and flow
    into the kernel's train-mean imputation."""
    dtype = np.dtype(dtype)
    cols = []
    for c in feature_cols:
        s = pdf[c]
        if isinstance(s.dtype, pd.CategoricalDtype):
            codes = s.cat.codes.to_numpy(dtype=dtype, copy=True)
            codes[codes < 0] = np.nan
            cols.append(codes)
        elif s.dtype == object or str(s.dtype).startswith("str"):
            # object dtype may still hold numbers (CSV parses, merges):
            # coerce first; factorize ONLY when genuinely non-numeric
            num = pd.to_numeric(s, errors="coerce")
            if (num.isna().to_numpy() == s.isna().to_numpy()).all():
                cols.append(num.to_numpy(dtype=dtype, copy=True))
            else:
                codes, _ = pd.factorize(s, use_na_sentinel=True)
                codes = codes.astype(dtype)
                codes[codes < 0] = np.nan
                cols.append(codes)
        else:
            cols.append(s.to_numpy(dtype=dtype, copy=True))
    return np.column_stack(cols) if cols else np.empty((len(pdf), 0), dtype=dtype)


def prepare_block(
    pdf: pd.DataFrame,
    feature_cols: list[str],
    label_col: str,
    stratify_col: str | None = None,
    group_col: str | None = None,
    row_key_col: str | None = None,
    sort_cols: list[str] | None = None,
    matrix_dtype=np.float32,
) -> dict:
    """Build the reusable per-partition fit context ONCE.

    The batched explain loop runs every iteration of a batch on the SAME
    pandas block; rebuilding the float64 matrix + label/stratify/group
    arrays per iteration is O(n*m) redundant memory traffic per iteration
    (the pass-elimination lever the N->4N scaling work targets: at 4N the
    contended resource is DRAM bandwidth, so every avoided full-matrix
    copy improves the ratio, not just the wall time). ``Xp`` is allocated
    with one spare trailing column for the random probe — each iteration
    overwrites ONLY that column in place instead of column_stacking a
    fresh (n, m+1) copy.

    ``matrix_dtype`` defaults to float32: the fit matrix at half width
    halves every downstream memory pass (Arrow transfer, standardize,
    GEMMs — the kernels follow the matrix dtype, see ``_work_dtype``) and
    float32 resolution (~7 decimal digits) is far beyond what a
    shuffled-probe significance test on mean-|SHAP| statistics needs; the
    checkpointed partials were float32 already. Pass float64 for exact
    parity with a float64 single-node run."""
    if sort_cols:
        pdf = pdf.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
    n = len(pdf)
    X = _feature_matrix(pdf, feature_cols, dtype=matrix_dtype)
    m = X.shape[1]
    Xp = np.empty((n, m + 1), dtype=matrix_dtype)
    Xp[:, :m] = X
    return {
        "n": n,
        "m": m,
        "Xp": Xp,
        "y": pdf[label_col].to_numpy(),
        "cols": list(feature_cols) + [RANDOM_COL],
        "stratify": pdf[stratify_col].to_numpy() if stratify_col else None,
        "groups": pdf[group_col].to_numpy() if group_col else None,
        "row_keys": (
            pdf[row_key_col].to_numpy(dtype=np.int64) if row_key_col else None
        ),
    }


def explain_prepared(
    blk: dict,
    iteration: int,
    seed_start: int = 0,
    val_size: float = 0.2,
    model=None,
    probe_mode: str = "positional",
    split_override: tuple | None = None,
    fit_kwargs: dict | None = None,
) -> pd.DataFrame:
    """Run ONE powershap iteration on a ``prepare_block`` context.

    ``split_override`` injects a pre-computed (train_idx, val_idx) pair —
    the cv path (reference shap_explainer.py:117-120: a custom
    cross-validator takes precedence over every train_test_split mode).
    ``fit_kwargs`` are forwarded to the model kernel verbatim, matching the
    reference's ``**kwargs`` threading (powershap.py:353 ->
    shap_explainer.py:163); unknown keys are ignored by kernels (the
    reference convergence loop deliberately passes a stray
    ``converge_shaps_df`` kwarg, powershap.py:472).

    Returns a long-format frame ``(feature:str, mean_abs_shap:float32,
    n_val_rows:int64)`` — the partial that the engine aggregates across
    partitions with a count-weighted mean (SURVEY §2.4 A3).
    """
    n, m, Xp, y = blk["n"], blk["m"], blk["Xp"], blk["y"]
    if probe_mode == "keyed" and blk["row_keys"] is not None:
        Xp[:, m] = inject_probe_keyed(blk["row_keys"], iteration, seed_start)
    else:
        Xp[:, m] = inject_probe_positional(n, iteration, seed_start)

    if split_override is not None:
        train_idx = np.sort(np.asarray(split_override[0]))
        val_idx = np.sort(np.asarray(split_override[1]))
    else:
        # reference seeds the SPLIT with the bare iteration index i
        # (shap_explainer.py:122), the MODEL with i + seed_start (:109,163)
        train_idx, val_idx = train_test_split_indices(
            n, val_size, iteration, stratify=blk["stratify"], groups=blk["groups"]
        )
    X_train = np.take(Xp, train_idx, axis=0)
    X_val = np.take(Xp, val_idx, axis=0)
    Y_train, Y_val = y[train_idx], y[val_idx]

    kernel = resolve_kernel(model)
    shap_vals = kernel(
        X_train,
        Y_train,
        X_val,
        Y_val,
        random_seed=iteration + seed_start,
        model=model,
        **(fit_kwargs or {}),
    )
    # abs in place skips a temporary; non-writable returns from external
    # kernels fall back to a copy
    shap_vals = np.asarray(shap_vals)
    if shap_vals.flags.writeable:
        np.abs(shap_vals, out=shap_vals)
    else:
        shap_vals = np.abs(shap_vals)
    if shap_vals.ndim > 2:  # (n, m, outputs) -> max over outputs
        shap_vals = np.max(shap_vals, axis=-1)
    mean_abs = np.mean(shap_vals, axis=0).astype("float32")

    return pd.DataFrame(
        {
            "feature": blk["cols"],
            "mean_abs_shap": mean_abs,
            "n_val_rows": np.int64(len(val_idx)),
        }
    )


def explain_iteration(
    pdf: pd.DataFrame,
    feature_cols: list[str],
    label_col: str,
    iteration: int,
    seed_start: int = 0,
    val_size: float = 0.2,
    stratify_col: str | None = None,
    group_col: str | None = None,
    model=None,
    probe_mode: str = "positional",
    row_key_col: str | None = None,
    sort_cols: list[str] | None = None,
    split_override: tuple | None = None,
    fit_kwargs: dict | None = None,
    matrix_dtype=np.float32,
) -> pd.DataFrame:
    """One-shot convenience wrapper: ``prepare_block`` + ``explain_prepared``.
    Batched callers (the engine's block fn, on both backends) prepare the
    block once and call ``explain_prepared`` per iteration —
    results are bit-identical either way (same matrix values, same probe,
    same split)."""
    blk = prepare_block(
        pdf,
        feature_cols,
        label_col,
        stratify_col=stratify_col,
        group_col=group_col,
        row_key_col=row_key_col,
        sort_cols=sort_cols,
        matrix_dtype=matrix_dtype,
    )
    return explain_prepared(
        blk,
        iteration,
        seed_start=seed_start,
        val_size=val_size,
        model=model,
        probe_mode=probe_mode,
        split_override=split_override,
        fit_kwargs=fit_kwargs,
    )


@dataclass
class GradientBoostedStumpsModel:
    """Vendored gradient-boosted depth-1 trees (stumps) with EXACT additive
    interventional SHAP — the nonlinear model option the sandbox's missing
    catboost/lightgbm would otherwise provide. A linear model's SHAP cannot
    surface non-monotone signal (e.g. y depends on |x|: the fitted
    coefficient is ~0, powershap never selects the feature); stumps split
    on thresholds, so symmetric/thresholded effects carry |SHAP| mass.

    Exactness: the ensemble is additive over stumps and each stump reads
    ONE feature, so interventional Shapley values decompose per stump with
    no approximation: phi_j(x) = sum over stumps s on feature j of
    (leaf_s(x) - mean(leaf_s over X_train)). No shap library needed.

    Fit is least-squares gradient boosting (classification targets are
    class codes / one-vs-rest indicators — LS-boost on indicators, the
    'gentle boost' form, is sufficient for selection statistics). All
    numpy, deterministic (quantile threshold grid, first-argmin
    tie-break). Plugs into the engine through the custom-kernel seam
    (``fit_get_shap``), like any user model (kernel.py resolve_kernel)."""

    n_stumps: int = 64
    learning_rate: float = 0.3
    n_thresholds: int = 15
    base_: float = 0.0
    stumps_: list | None = None  # per output: list of (j, thr, lval, rval)
    classes_: np.ndarray | None = None

    def _fit_one(self, X: np.ndarray, y: np.ndarray) -> list:
        n, d = X.shape
        qs = np.linspace(0.0, 1.0, self.n_thresholds + 2)[1:-1]
        thr = np.quantile(X, qs, axis=0)  # (n_thr, d)
        r = y - y.mean()
        stumps = []
        for _ in range(self.n_stumps):
            best = (np.inf, -1, 0.0)
            rsum = r.sum()
            for j in range(d):
                L = X[:, j][:, None] <= thr[:, j][None, :]  # (n, n_thr)
                nl = L.sum(axis=0)
                nr = n - nl
                sl = (r[:, None] * L).sum(axis=0)
                sr = rsum - sl
                score = -(
                    sl**2 / np.maximum(nl, 1) + sr**2 / np.maximum(nr, 1)
                )
                score[(nl == 0) | (nr == 0)] = np.inf
                k = int(np.argmin(score))
                if score[k] < best[0]:
                    best = (float(score[k]), j, float(thr[k, j]))
            if best[1] < 0:  # no valid split anywhere (constant features)
                break
            j, t = best[1], best[2]
            left = X[:, j] <= t
            lv = float(r[left].mean()) * self.learning_rate
            rv = float(r[~left].mean()) * self.learning_rate
            pred = np.where(left, lv, rv)
            r = r - pred
            if abs(lv) < 1e-12 and abs(rv) < 1e-12:
                break  # residual exhausted
            stumps.append((j, t, lv, rv))
        return stumps

    def fit(self, X, y, random_seed: int = 0):
        X = np.asarray(X, dtype=np.float64)
        y_raw = np.asarray(y)
        is_regr = np.issubdtype(y_raw.dtype, np.number) and not np.issubdtype(
            y_raw.dtype, np.integer
        )
        if is_regr:
            yy = y_raw.astype(np.float64)
            self.base_ = float(yy.mean())
            self.stumps_ = [self._fit_one(X, yy)]
            self.classes_ = None
            return self
        self.classes_ = np.unique(y_raw)
        if len(self.classes_) <= 2:
            yy = (y_raw == self.classes_[-1]).astype(np.float64)
            self.base_ = float(yy.mean())
            self.stumps_ = [self._fit_one(X, yy)]
        else:  # one-vs-rest: per-class stump ensembles -> 3-D SHAP
            self.stumps_ = [
                self._fit_one(X, (y_raw == c).astype(np.float64))
                for c in self.classes_
            ]
        return self

    @staticmethod
    def _shap_one(stumps, X_train, X_val):
        phi = np.zeros((len(X_val), X_train.shape[1]), dtype=np.float64)
        for j, t, lv, rv in stumps:
            c_val = np.where(X_val[:, j] <= t, lv, rv)
            c_bg = np.where(X_train[:, j] <= t, lv, rv).mean()
            phi[:, j] += c_val - c_bg
        return phi

    def shap_values(self, X_train, X_val) -> np.ndarray:
        """(n_val, m) for regression/binary; (n_val, m, k) for OvR."""
        X_train = np.asarray(X_train, dtype=np.float64)
        X_val = np.asarray(X_val, dtype=np.float64)
        outs = [self._shap_one(s, X_train, X_val) for s in self.stumps_]
        if len(outs) == 1:
            return outs[0]
        return np.stack(outs, axis=-1)

    def fit_get_shap(
        self, X_train, Y_train, X_val, Y_val, random_seed: int = 0, model=None, **kw
    ) -> np.ndarray:
        # fresh copy per iteration (clone() semantics, like the registry)
        m = GradientBoostedStumpsModel(
            n_stumps=self.n_stumps,
            learning_rate=self.learning_rate,
            n_thresholds=self.n_thresholds,
        )
        X_train, X_val = impute_nonfinite(
            np.asarray(X_train, dtype=np.float64),
            np.asarray(X_val, dtype=np.float64),
        )
        m.fit(X_train, Y_train, random_seed=random_seed)
        return m.shap_values(X_train, X_val)
