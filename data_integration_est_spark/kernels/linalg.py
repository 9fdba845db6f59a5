"""Driver-side solvers over Gram aggregates: GREG calibration, OLS, IRLS.

Each solver consumes the tiny (k x k per group) output of
``kernels.gram.gram_aggregate`` and pushes the solved k-vector back into the
plan as a broadcast column expression.  With ``group_cols`` the solves are
batched with numpy's stacked ``linalg.solve`` — thousands of Monte Carlo
replicates cost one vectorized solve (SURVEY.md §2.8 O1/O2).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_integration_est_spark.kernels.gram import gram_aggregate, gram_collect, gram_sums
from data_integration_est_spark.util import local_df


class CalibrationError(RuntimeError):
    """Mirrors the reference's calibration failure path (``PC.R:228-230``)."""


def _solve_stacked(A: np.ndarray, b: np.ndarray, what: str) -> np.ndarray:
    """Solve per-group k x k systems; raise CalibrationError when singular.

    The reference sidesteps collinear design matrices with ``~0 +`` formulas
    and a tryCatch that rethrows (``PC.R:221-230``); we detect rank
    deficiency explicitly and raise with the same intent.
    """
    try:
        return np.linalg.solve(A, b)
    except np.linalg.LinAlgError as e:
        raise CalibrationError(
            f"{what}: design matrix is singular (collinear columns?). "
            f"Reference behavior: calibration error is fatal (PC.R:229)."
        ) from e


def _solve_ols_stacked(A: np.ndarray, b: np.ndarray, what: str) -> np.ndarray:
    """Stacked OLS solve with R ``lm``'s aliasing behavior as the fallback.

    R's lm pivots rank-deficient designs: later columns aliased by earlier
    ones get NA coefficients and are ignored by predict (e.g. the
    reference's ``y ~ x1_i + x2_i`` outcome models, where the two dummies
    sum to the intercept — ``nb[37]:31-53``).  Here: try the fast stacked
    solve; for singular groups, greedily keep the in-order maximal
    independent column subset and zero the aliased coefficients — the
    same predictions R produces."""
    try:
        return np.linalg.solve(A, b)
    except np.linalg.LinAlgError:
        pass
    g, k = A.shape[0], A.shape[1]
    out = np.zeros((g, k, b.shape[2]))
    for i in range(g):
        G = A[i]
        keep: list[int] = []
        for j in range(k):
            trial = keep + [j]
            sub = G[np.ix_(trial, trial)]
            if np.linalg.matrix_rank(sub, hermitian=True) == len(trial):
                keep.append(j)
        if not keep:
            raise CalibrationError(f"{what}: design matrix has rank 0")
        out[i][keep] = np.linalg.solve(G[np.ix_(keep, keep)], b[i][keep])
    return out


@dataclass
class CalibrationResult:
    """Calibrated weights as a lazy column + the solved multipliers."""

    df: DataFrame  # input df with `weight_col` added
    weight_col: str
    x_cols: list[str]
    lambdas: np.ndarray  # (g, k)
    keys: list[tuple]
    group_cols: list[str]

    def lambda_for(self, key: tuple = ()) -> np.ndarray:
        return self.lambdas[{k: i for i, k in enumerate(self.keys)}[key]]


def calibrate(
    df: DataFrame,
    x_cols: list[str],
    totals: dict[str, float] | np.ndarray | list[float],
    d_col: str,
    out_col: str = "w_cal",
    group_cols: list[str] | None = None,
    totals_by_group: dict[tuple, np.ndarray] | None = None,
) -> CalibrationResult:
    """Linear (GREG / chi-square distance) calibration — ``survey::calibrate``
    with ``calfun="linear"`` (reference ``RegDI2.R:188-193``, ``PC.R:222-227``).

    Given design weights d over the sample rows of ``df``, find
    ``w_i = d_i * (1 + x_i^T lam)`` with ``lam`` solving

        (sum_s d_i x_i x_i^T) lam = T - sum_s d_i x_i

    so that ``sum_s w_i x_i = T`` exactly.  One Gram pass + one k x k driver
    solve + one broadcast column expression; nothing O(N) is collected.

    With ``group_cols`` (Monte Carlo vectorization) pass per-group totals via
    ``totals_by_group`` (key tuple -> k-vector) or a single shared ``totals``.
    """
    group_cols = list(group_cols or [])
    k = len(x_cols)
    # Fold the HT-totals pass (sum_s d_i x_i) into the SAME Gram pass by
    # appending a constant-1 column: row k of the augmented Gram is exactly
    # sum_s d_i x_j.  One shuffle instead of two per calibration.
    ones = "__cal_ones__"
    g_ext = gram_aggregate(
        df.withColumn(ones, F.lit(1.0)), list(x_cols) + [ones],
        weight_col=d_col, group_cols=group_cols,
    )
    keys = g_ext.keys

    if isinstance(totals, dict):
        T_shared = np.array([float(totals[c]) for c in x_cols]) if totals else None
    elif totals is not None:
        T_shared = np.asarray(totals, dtype=float).ravel()
        if T_shared.size != k:
            raise ValueError(f"expected {k} totals, got {T_shared.size}")
    else:
        T_shared = None

    T = np.zeros((len(keys), k))
    for i, key in enumerate(keys):
        if totals_by_group is not None:
            T[i] = np.asarray(totals_by_group[key], dtype=float).ravel()
        elif T_shared is not None:
            T[i] = T_shared
        else:
            raise ValueError("must provide `totals` or `totals_by_group`")

    out, lam = greg_weights(
        df, x_cols, g_ext.gram[:, :k, :k], g_ext.gram[:, k, :k], T, keys, group_cols,
        d_col=d_col, out_col=out_col,
    )
    return CalibrationResult(
        df=out, weight_col=out_col, x_cols=list(x_cols), lambdas=lam,
        keys=keys, group_cols=group_cols,
    )


def bind_group_values(
    df: DataFrame, group_cols: list[str], keys: list[tuple], values: dict[str, np.ndarray]
) -> DataFrame:
    """Attach per-group driver scalars (``name -> array aligned with keys``)
    as columns: literal columns when ungrouped (no join), else ONE
    broadcast join of an O(groups)-row table."""
    if not values:
        return df
    if not group_cols:
        return df.withColumns({n: F.lit(float(np.ravel(v)[0])) for n, v in values.items()})
    from pyspark.sql.types import DoubleType, StructField, StructType

    names = list(values)
    rows = [tuple(key) + tuple(float(values[n][i]) for n in names) for i, key in enumerate(keys)]
    schema = StructType(
        list(df.select(*group_cols).schema.fields)
        + [StructField(n, DoubleType(), False) for n in names]
    )
    table = local_df(df.sparkSession, rows, schema)
    return df.join(F.broadcast(table), on=group_cols, how="left")


def greg_weights(
    df: DataFrame,
    x_cols: list[str],
    G: np.ndarray,
    h: np.ndarray,
    T: np.ndarray,
    keys: list[tuple],
    group_cols: list[str],
    d_col: str,
    out_col: str,
    d: Column | None = None,
    extra: dict[str, np.ndarray] | None = None,
) -> tuple[DataFrame, np.ndarray]:
    """The GREG step behind :func:`calibrate` and the fused estimator
    passes: from the collected per-group Gram ``G = sum_s d x x'`` and
    ``h = sum_s d x``, solve ``G lam = T - h`` (one stacked solve) and add
    ``out_col = d_col * (1 + x'lam)``.  ``lam`` and the ``extra`` per-group
    scalars are bound in the same step (:func:`bind_group_values`); when
    ``d`` is given it becomes ``d_col`` first and may reference the
    ``extra`` columns, which stay on the frame.  Returns (frame, lam)."""
    k = len(x_cols)
    lam = _solve_stacked(G, (T - h)[..., None], "calibrate").reshape(len(keys), k)
    lam_cols = [f"__lam_{j}__" for j in range(k)]
    df = bind_group_values(df, group_cols, keys, {**dict(zip(lam_cols, lam.T)), **(extra or {})})
    if d is not None:
        df = df.withColumn(d_col, d)
    g: Column = F.lit(1.0)
    for lc, c in zip(lam_cols, x_cols):
        g = g + F.col(lc) * F.col(c).cast("double")
    return df.withColumn(out_col, F.col(d_col).cast("double") * g).drop(*lam_cols), lam


@dataclass
class FitResult:
    """A fitted linear/logistic model: coefficients + predict() machinery."""

    x_cols: list[str]  # design columns WITHOUT the implicit intercept
    intercept: bool
    coef: np.ndarray  # (g, k) — intercept first when intercept=True
    keys: list[tuple]
    group_cols: list[str]
    kind: str = "ols"  # "ols" | "logistic"
    # False when IRLS exited via max_iter without meeting the step tolerance
    # (R's glm warns in the same situation) — always True for OLS.
    converged: bool = True
    n_obs: int | None = None  # rows (min across groups) that entered the fit
    # Grouped fits only: keys whose group had fewer rows than design columns.
    # Their coefficient rows are NaN (the reference's guard, RegDI2.R:254-255,
    # is per-call — one undersized Monte Carlo cell must not abort the grid).
    degenerate_keys: tuple = ()

    def coef_for(self, key: tuple = ()) -> np.ndarray:
        return self.coef[{k: i for i, k in enumerate(self.keys)}[key]]

    def predict_expr_grouped(self, df: DataFrame) -> tuple[DataFrame, Column]:
        """``predict(fit, newdata=df, type="response")`` (``RegDI2.R:212``,
        ``PC.R:280-283,318``): bind the coefficients per group
        (:func:`bind_group_values` — literals when ungrouped), return
        (augmented df, prediction column)."""
        bcols = [f"__b_{j}__" for j in range(self.coef.shape[1])]
        df = bind_group_values(df, self.group_cols, self.keys, dict(zip(bcols, self.coef.T)))
        off = 1 if self.intercept else 0
        eta: Column = F.col(bcols[0]) if self.intercept else F.lit(0.0)
        for j, c in enumerate(self.x_cols):
            eta = eta + F.col(bcols[j + off]) * F.col(c).cast("double")
        if self.kind == "logistic":
            return df, F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
        if self.kind == "poisson":
            return df, F.exp(eta)
        return df, eta


def fit_ols(
    df: DataFrame,
    y_col: str,
    x_cols: list[str],
    weight_col: str | None = None,
    intercept: bool = True,
    group_cols: list[str] | None = None,
) -> FitResult:
    """OLS via normal equations over the Gram kernel — exact, unregularized
    parity with R ``lm`` (reference ``RegDI2.R:209,258``, ``PC.R:272,308``).

    Normal equations are numerically adequate here: every reference model has
    k <= ~5 well-scaled columns.  (QR on the driver is pointless — the Gram
    *is* the sufficient statistic that crosses the network.)
    """
    group_cols = list(group_cols or [])
    aggs = ols_sums(y_col, x_cols, intercept, F.lit(True), weight_col)
    rows = df.groupBy(*group_cols).agg(*aggs).collect()
    return ols_from_sums({tuple(r[c] for c in group_cols): r for r in rows},
                         y_col, x_cols, intercept, group_cols)


def ols_sums(y_col: str, x_cols: list[str], intercept: bool, sample: Column,
             weight_col: str | None = None) -> list[Column]:
    """:func:`fit_ols`'s sufficient statistics as masked sums over the rows
    of ``sample`` with no null or NaN in the response, the predictors or
    the weight (R ``lm``'s ``na.omit``), so the fit can also ride another
    aggregation pass; :func:`ols_from_sums` solves them."""
    ok = sample
    for c in [y_col, *x_cols] + ([weight_col] if weight_col else []):
        ok = ok & F.col(c).isNotNull() & ~F.isnan(F.col(c).cast("double"))
    w = F.lit(1.0) if weight_col is None else F.col(weight_col).cast("double")
    xs = ([F.lit(1.0)] if intercept else []) + [F.col(c).cast("double") for c in x_cols]
    return gram_sums(xs, [F.col(y_col).cast("double")], F.when(ok, w))


def ols_from_sums(rows: dict, y_col: str, x_cols: list[str], intercept: bool,
                  group_cols: list[str]) -> FitResult:
    """The :func:`fit_ols` result from collected :func:`ols_sums` rows
    (group key -> row)."""
    g = gram_collect(rows, (["__ones__"] if intercept else []) + list(x_cols), [y_col])
    k = g.gram.shape[1]
    n_min = int(g.count.min()) if len(g.keys) else 0
    bad = np.asarray(g.count) < k
    if n_min < k and not group_cols:
        # Mirrors the reference's validation-data guard (``RegDI2.R:254-255``)
        # with a clearer message than the singular-Gram failure it would hit.
        raise CalibrationError(
            f"fit_ols: insufficient rows (min group n={n_min}) for "
            f"{k} design columns"
        )
    gram, xy = g.gram, g.xy
    if bad.any():
        # Grouped fit: degrade ONLY the undersized groups to NaN instead of
        # aborting the whole (gamma, sim) grid — the reference's guard is
        # per-call, not global.  Identity Grams keep the stacked solve sane.
        gram[bad] = np.eye(k)
        xy[bad] = 0.0
    beta = _solve_ols_stacked(gram, xy[:, :, 0:1], "fit_ols").squeeze(-1).reshape(len(g.keys), k)
    if bad.any():
        beta[bad] = float("nan")
    return FitResult(
        x_cols=list(x_cols), intercept=intercept, coef=beta,
        keys=g.keys, group_cols=group_cols, kind="ols", n_obs=n_min,
        degenerate_keys=tuple(key for i, key in enumerate(g.keys) if bad[i]),
    )


def fit_logistic(
    df: DataFrame,
    y_col: str,
    x_cols: list[str],
    weight_col: str | None = None,
    intercept: bool = True,
    group_cols: list[str] | None = None,
    max_iter: int = 25,
    # max-abs coefficient step; R glm stops on 1e-8 *relative deviance*, so
    # 1e-8 here is still the stricter criterion (1e-10 sits below the float
    # noise floor of the distributed sums and oscillates forever)
    tol: float = 1e-8,
) -> FitResult:
    """Logistic regression via IRLS — parity with R ``glm(family=binomial)``
    (reference ``PC.R:274,311``).

    Each IRLS iteration is ONE distributed Gram pass with the working weights
    ``w * p(1-p)`` expressed as a column (coefficients broadcast back as
    literals / a tiny joined table); the (k+1)-dim Newton step solves on the
    driver.  Converges in <= ~8 iterations for every reference-shaped problem.
    """
    return _fit_irls(df, y_col, x_cols, weight_col, intercept, group_cols,
                     max_iter, tol, family="logistic")


def fit_poisson(
    df: DataFrame,
    y_col: str,
    x_cols: list[str],
    weight_col: str | None = None,
    intercept: bool = True,
    group_cols: list[str] | None = None,
    max_iter: int = 25,
    tol: float = 1e-8,
) -> FitResult:
    """Poisson (log-link) regression via IRLS — R ``glm(family=poisson)``
    parity, the count-outcome member of the same Newton family: per
    iteration mu = exp(eta), working weight ``w * mu``, score
    ``w (y - mu)``; ONE distributed Gram pass each, grouped fits stacked
    exactly like the logistic path."""
    return _fit_irls(df, y_col, x_cols, weight_col, intercept, group_cols,
                     max_iter, tol, family="poisson")


def _fit_irls(
    df: DataFrame,
    y_col: str,
    x_cols: list[str],
    weight_col: str | None,
    intercept: bool,
    group_cols: list[str] | None,
    max_iter: int,
    tol: float,
    family: str,
) -> FitResult:
    group_cols = list(group_cols or [])
    work = df
    ones = "__ones__"
    xs = list(x_cols)
    if intercept:
        work = work.withColumn(ones, F.lit(1.0))
        xs = [ones] + xs
    needed = list(dict.fromkeys(xs + [y_col] + ([weight_col] if weight_col else [])))
    work = work.na.drop(subset=needed)

    # IRLS re-scans its input once per Newton pass (plus the key-freeze
    # Gram below) — up to max_iter + 1 evaluations of the full lineage.
    # When that lineage is NOT already cache-fed (a parquet scan with
    # derived columns, a fold explosion), persist the narrow projection
    # the passes actually read (guide: cache iterative inputs); when the
    # input already reads from an InMemoryRelation (the MC grid pop, a
    # caller's persisted frame) a second cache would only add build cost.
    narrow = list(dict.fromkeys(group_cols + needed))
    persisted = None
    if max_iter > 1 and not _plan_uses_cache(df):
        # Size the cached frame's partition count from an ACTUAL row
        # count, not the optimizer estimate (which under-reports
        # fold-exploded lineages by 10x+ and would serialize every
        # Newton pass onto one core — a small parquet file reads as ONE
        # partition, and 25 Gram passes over 450k single-partition rows
        # measured 2x the whole query's budget).  One extra evaluation
        # of the narrow lineage for the count, amortized over the
        # max_iter+1 passes it right-sizes; ~16k rows per task keeps
        # passes compute-parallel without near-empty-task floors.
        import math

        work = work.select(*narrow)
        n_rows = work.count()
        sc = work.sparkSession.sparkContext
        target = max(1, min(sc.defaultParallelism, math.ceil(n_rows / 16384)))
        cur = work.rdd.getNumPartitions()
        if cur > 2 * target:
            work = work.coalesce(target)
        elif cur < target:
            work = work.repartition(target)
        work = work.persist()
        persisted = work

    try:
        return _fit_irls_passes(
            work, y_col, x_cols, xs, weight_col, intercept, group_cols,
            max_iter, tol, family,
        )
    finally:
        if persisted is not None:
            persisted.unpersist()


def _iter_input(df: DataFrame, cols: list[str], n_passes: int):
    """(iteration frame, persisted handle or None): persist the narrow
    projection an iterative calfun re-aggregates once per Newton /
    truncation pass (guide §5: cache iterated inputs) — the same class
    as ``_fit_irls``'s r16 cache, WITHOUT any repartition/coalesce so
    the partition layout (and therefore every per-group float
    accumulation order) is bit-identical to scanning the original
    lineage.  Skipped when the plan is already cache-fed or the loop
    runs a single pass.  The caller owns the unpersist."""
    if n_passes <= 1 or _plan_uses_cache(df):
        return df, None
    w = df.select(*cols).persist()
    return w, w


def _plan_uses_cache(df: DataFrame) -> bool:
    """True when any subtree of ``df``'s plan is served by a cached
    (InMemoryRelation) entry — a driver-side plan inspection only."""
    try:
        return "InMemoryRelation" in (
            df._jdf.queryExecution().withCachedData().toString()
        )
    except Exception:  # noqa: BLE001 — inspection is best-effort
        return False


def _fit_irls_passes(
    work: DataFrame,
    y_col: str,
    x_cols: list[str],
    xs: list[str],
    weight_col: str | None,
    intercept: bool,
    group_cols: list[str],
    max_iter: int,
    tol: float,
    family: str,
) -> FitResult:
    # freeze group keys/order from a first unweighted Gram pass
    g0 = gram_aggregate(work, xs, weight_col=weight_col, group_cols=group_cols)
    keys, ng, k = g0.keys, len(g0.keys), len(xs)
    n_min = int(g0.count.min()) if keys else 0
    bad = np.asarray(g0.count) < k
    if n_min < k and not group_cols:
        raise CalibrationError(
            f"fit_{family}: insufficient rows (min group n={n_min}) for "
            f"{k} design columns"
        )
    beta = np.zeros((ng, k))
    w_base = F.lit(1.0) if weight_col is None else F.col(weight_col).cast("double")
    y = F.col(y_col).cast("double")

    converged = False
    for _ in range(max_iter):
        bdf_fit = FitResult(x_cols=list(x_cols), intercept=intercept, coef=beta,
                            keys=keys, group_cols=group_cols, kind=family)
        joined, p = bdf_fit.predict_expr_grouped(work)
        iter_df = joined.withColumn("__p__", p)

        pcol = F.col("__p__")
        # IRLS working weight = w * V(mu): p(1-p) for binomial, mu for Poisson
        irls_w = (
            w_base * pcol * (F.lit(1.0) - pcol)
            if family == "logistic" else w_base * pcol
        )
        score_w = w_base * (y - pcol)
        aggs: list[Column] = []
        for i in range(k):
            xi = F.col(xs[i]).cast("double")
            for j in range(i, k):
                aggs.append(F.sum(irls_w * xi * F.col(xs[j]).cast("double")).alias(f"__h_{i}_{j}__"))
            aggs.append(F.sum(score_w * xi).alias(f"__s_{i}__"))
        if group_cols:
            rows = iter_df.groupBy(*group_cols).agg(*aggs).collect()
        else:
            rows = iter_df.agg(*aggs).collect()
        by_key = {tuple(r[c] for c in group_cols): r for r in rows}
        H = np.zeros((ng, k, k))
        s = np.zeros((ng, k))
        for gi, key in enumerate(keys):
            r = by_key[key]
            for i in range(k):
                for j in range(i, k):
                    v = r[f"__h_{i}_{j}__"] or 0.0
                    H[gi, i, j] = H[gi, j, i] = v
                s[gi, i] = r[f"__s_{i}__"] or 0.0
        if bad.any():
            # undersized groups (degraded to NaN below): identity Hessian /
            # zero score keeps the stacked solve non-singular, step stays 0
            H[bad] = np.eye(k)
            s[bad] = 0.0
        step = _solve_stacked(H, s[..., None], f"fit_{family}").squeeze(-1).reshape(ng, k)
        beta = beta + step
        if float(np.max(np.abs(step))) < tol:
            converged = True
            break

    if not converged:
        import warnings

        # |coef| blowing up is the signature of (quasi-)complete separation:
        # the MLE does not exist and IRLS walks the linear predictor toward
        # +/-inf (R glm emits "fitted probabilities numerically 0 or 1").
        max_coef = float(np.max(np.abs(beta)))
        hint = (
            " — coefficient magnitudes are diverging "
            f"(max|coef|={max_coef:.1f}); likely (quasi-)complete separation, "
            "the MLE does not exist for this data"
            if max_coef > 15.0 and family == "logistic"
            else ""
        )
        warnings.warn(
            f"fit_{family}: IRLS did not converge in {max_iter} iterations "
            f"(R glm warns here too); inspect FitResult.converged{hint}",
            RuntimeWarning,
            stacklevel=2,
        )
    if bad.any():
        beta[bad] = float("nan")
    return FitResult(
        x_cols=list(x_cols), intercept=intercept, coef=beta,
        keys=keys, group_cols=group_cols, kind=family,
        converged=converged, n_obs=n_min,
        degenerate_keys=tuple(key for i, key in enumerate(keys) if bad[i]),
    )


def calibrate_bounded(
    df: DataFrame,
    x_cols: list[str],
    totals: dict | np.ndarray | list | None,
    d_col: str,
    bounds: tuple,
    out_col: str = "w_cal",
    max_iter: int = 10,
    state_col: str | None = None,
    group_cols: list[str] | None = None,
    totals_by_group: dict[tuple, np.ndarray] | None = None,
) -> CalibrationResult:
    """Range-restricted linear calibration — ``survey::calibrate`` with
    ``bounds=c(L, U)``: weight ratios g_i = w_i/d_i are constrained to
    [L, U] by iterative truncation (clip violators to the bound, re-solve
    the GREG system on the free units against the residual totals, repeat
    until the clip set is stable).  Raises if the totals are infeasible
    within the bounds or the free-unit Gram goes singular.

    Scale shape: per iteration ONE aggregation pass (free-unit Gram +
    clipped-mass totals as CASE-weighted sums) and a k x k driver solve;
    the clip state is never materialized per row — it is a column
    expression derived from the lambda history, so the final weights are
    a single projection.  Iterations needed = number of distinct clip
    "waves", 2-3 in practice.

    With ``group_cols`` (domains / Monte Carlo cells — the
    ``survey::calibrate(bounds=)`` + ``svyby`` composition a stratified
    user makes inside nb[23]-style studies) every group runs its OWN
    truncation sequence in the SAME passes: per iteration one
    groupBy-aggregation and one stacked k x k solve; per-group lambda
    vectors rejoin as a broadcast O(groups)-row table, so the per-group
    sticky clip state is still a pure column expression and the shuffle
    count is independent of the group count.  Iterations run until EVERY
    group's clip set is stable.  Per-group totals via ``totals_by_group``
    (key tuple -> k-vector) or one shared ``totals``."""
    L, U = float(bounds[0]), float(bounds[1])
    if not (L < 1.0 < U):
        raise CalibrationError(
            f"bounds must straddle 1 (got L={L}, U={U}): g=1 is the "
            "uncalibrated ratio"
        )
    group_cols = list(group_cols or [])
    k = len(x_cols)
    if isinstance(totals, dict):
        T = np.array([float(totals[c]) for c in x_cols])
    elif totals is not None:
        T = np.asarray(totals, dtype=float).ravel()
        if T.size != k:
            raise CalibrationError(f"expected {k} totals, got {T.size}")
    elif totals_by_group is None:
        raise ValueError("must provide `totals` or `totals_by_group`")
    else:
        T = None
    if group_cols:
        return _calibrate_bounded_grouped(
            df, x_cols, T, d_col, L, U, out_col, max_iter, state_col,
            group_cols, totals_by_group,
        )

    d = F.col(d_col).cast("double")
    xs = [F.col(c).cast("double") for c in x_cols]

    def g_expr(lam: np.ndarray):
        e = F.lit(1.0)
        for b, xc in zip(lam, xs):
            e = e + xc * float(b)
        return e

    # state: a {-1, 0, 1} clip-state Column, sticky across iterations.
    # Each wave BINDS the new state into a named projection column
    # (lazy withColumn on the working frame) instead of composing raw
    # expressions: the sticky CASE references the previous state twice,
    # so raw composition doubles the expression tree per wave — 2^waves
    # codegen blowup (measured ~12 s at 6 waves; ~2 s bound).
    #
    # r17: the wave aggregations read only (x_cols, d_col) plus the
    # state expressions — run them over a persisted narrow projection
    # (layout-preserving, see _iter_input) while MIRRORING the state
    # columns onto the original df, which alone feeds the final full-
    # column weights projection.  The mirrored expressions are the same
    # Column trees bound to the same converged lambdas, so the final
    # weights are bit-identical.
    it_src, _it_handle = _iter_input(
        df, list(dict.fromkeys(x_cols + [d_col])), max_iter
    )
    work_iter = it_src
    work = df
    state = F.lit(0)
    helper_cols: list[str] = []
    lam = np.zeros(k)
    n_clipped_prev = -1
    for it in range(max_iter):
        free = state == 0
        w_clip = F.when(state == 1, U * d).when(state == -1, L * d)
        aggs = [F.sum(F.when(free, d).otherwise(0.0)).alias("n_free_mass")]
        for i in range(k):
            for j in range(i, k):
                aggs.append(
                    F.sum(F.when(free, d * xs[i] * xs[j]).otherwise(0.0))
                    .alias(f"g_{i}_{j}")
                )
            aggs.append(F.sum(F.when(free, d * xs[i]).otherwise(0.0)).alias(f"h_{i}"))
            aggs.append(F.sum(F.when(~free, w_clip * xs[i]).otherwise(0.0)).alias(f"c_{i}"))
        aggs.append(F.sum(F.when(~free, F.lit(1)).otherwise(0)).alias("n_clipped"))
        r = work_iter.agg(*aggs).collect()[0]
        n_clipped = int(r["n_clipped"] or 0)
        G = np.zeros((k, k))
        for i in range(k):
            for j in range(i, k):
                G[i, j] = G[j, i] = float(r[f"g_{i}_{j}"] or 0.0)
        h = np.array([float(r[f"h_{i}"] or 0.0) for i in range(k)])
        c = np.array([float(r[f"c_{i}"] or 0.0) for i in range(k)])
        try:
            lam = np.linalg.solve(G, T - c - h)
        except np.linalg.LinAlgError as e:
            raise CalibrationError(
                f"calibrate_bounded: free-unit Gram singular at iteration "
                f"{it} ({n_clipped} clipped) — totals infeasible in bounds?"
            ) from e
        # new state from this lambda: previously-clipped stay clipped
        ge = g_expr(lam)
        new_state = (
            F.when(state == 1, 1)
            .when(state == -1, -1)
            .when(ge > U, 1)
            .when(ge < L, -1)
            .otherwise(0)
        )
        st_col = f"__cbst{it}__"
        work_iter = work_iter.withColumn(st_col, new_state)
        work = work.withColumn(st_col, new_state)
        helper_cols.append(st_col)
        state = F.col(st_col)
        if n_clipped == n_clipped_prev:
            break
        n_clipped_prev = n_clipped
    else:
        raise CalibrationError(
            f"calibrate_bounded: clip set not stable after {max_iter} "
            "iterations"
        )

    if _it_handle is not None:
        _it_handle.unpersist()
    w = (
        F.when(state == 1, U * d)
        .when(state == -1, L * d)
        .otherwise(d * g_expr(lam))
    )
    out = work.withColumn(out_col, w)
    if state_col is not None:
        # -1 / 0 / 1 clip state (exactly the iteration's classification —
        # a FREE unit whose ratio lands numerically ON a bound is 0)
        out = out.withColumn(state_col, state)
    out = out.drop(*helper_cols)
    return CalibrationResult(
        df=out, weight_col=out_col, x_cols=list(x_cols),
        lambdas=lam.reshape(1, k), keys=[()], group_cols=[],
    )


def _calibrate_bounded_grouped(
    df: DataFrame,
    x_cols: list[str],
    T_shared,
    d_col: str,
    L: float,
    U: float,
    out_col: str,
    max_iter: int,
    state_col: str | None,
    group_cols: list[str],
    totals_by_group,
) -> CalibrationResult:
    """Grouped body of ``calibrate_bounded`` (see its docstring): every
    group's truncation sequence advances in the same groupBy pass; the
    per-group lambdas of each wave rejoin as broadcast columns so the
    sticky clip state stays a column expression."""
    k = len(x_cols)
    d = F.col(d_col).cast("double")
    xs = [F.col(c).cast("double") for c in x_cols]

    def g_expr_cols(lam_cols: list[str]):
        e = F.lit(1.0)
        for lc, xc in zip(lam_cols, xs):
            e = e + xc * F.col(lc)
        return e

    # r17: wave aggregations over a persisted narrow projection, state
    # chain mirrored onto the original df for the final projection —
    # see the ungrouped path's comment (layout-preserving, bit-equal)
    it_src, _it_handle = _iter_input(
        df, list(dict.fromkeys(group_cols + x_cols + [d_col])), max_iter
    )
    work_iter = it_src
    work = df
    state = F.lit(0)
    keys: list[tuple] | None = None
    T = None
    lam = None
    last_lam_cols: list[str] = []
    joined_lam_cols: list[str] = []
    n_clipped_prev: np.ndarray | None = None
    for it in range(max_iter):
        free = state == 0
        w_clip = F.when(state == 1, U * d).when(state == -1, L * d)
        aggs = []
        for i in range(k):
            for j in range(i, k):
                aggs.append(
                    F.sum(F.when(free, d * xs[i] * xs[j]).otherwise(0.0))
                    .alias(f"g_{i}_{j}")
                )
            aggs.append(F.sum(F.when(free, d * xs[i]).otherwise(0.0)).alias(f"h_{i}"))
            aggs.append(F.sum(F.when(~free, w_clip * xs[i]).otherwise(0.0)).alias(f"c_{i}"))
        aggs.append(F.sum(F.when(~free, F.lit(1)).otherwise(0)).alias("n_clipped"))
        rows = work_iter.groupBy(*group_cols).agg(*aggs).collect()
        by_key = {tuple(r[c] for c in group_cols): r for r in rows}
        if keys is None:
            keys = sorted(by_key)
            ng = len(keys)
            T = np.zeros((ng, k))
            for gi, key in enumerate(keys):
                if totals_by_group is not None:
                    T[gi] = np.asarray(totals_by_group[key], dtype=float).ravel()
                else:
                    T[gi] = T_shared
        ng = len(keys)
        G = np.zeros((ng, k, k))
        h = np.zeros((ng, k))
        c = np.zeros((ng, k))
        n_clipped = np.zeros(ng, dtype=int)
        for gi, key in enumerate(keys):
            r = by_key[key]
            for i in range(k):
                for j in range(i, k):
                    G[gi, i, j] = G[gi, j, i] = float(r[f"g_{i}_{j}"] or 0.0)
                h[gi, i] = float(r[f"h_{i}"] or 0.0)
                c[gi, i] = float(r[f"c_{i}"] or 0.0)
            n_clipped[gi] = int(r["n_clipped"] or 0)
        try:
            lam = np.linalg.solve(G, (T - c - h)[..., None]).squeeze(-1).reshape(ng, k)
        except np.linalg.LinAlgError as e:
            raise CalibrationError(
                f"calibrate_bounded: a group's free-unit Gram is singular "
                f"at iteration {it} — totals infeasible in bounds for some "
                "group?"
            ) from e
        # broadcast-join this wave's per-group lambdas onto both the
        # iteration projection and the original df
        lam_cols = [f"__cbw{it}_{j}__" for j in range(k)]
        lam_vals = dict(zip(lam_cols, lam.T))
        work_iter = bind_group_values(work_iter, group_cols, keys, lam_vals)
        work = bind_group_values(work, group_cols, keys, lam_vals)
        joined_lam_cols += lam_cols
        last_lam_cols = lam_cols
        ge = g_expr_cols(lam_cols)
        # bind the sticky state into a named projection column — the CASE
        # references the previous state twice, so raw expression
        # composition doubles the tree per wave (2^waves codegen blowup;
        # see the ungrouped path's comment)
        new_state = (
            F.when(state == 1, 1)
            .when(state == -1, -1)
            .when(ge > U, 1)
            .when(ge < L, -1)
            .otherwise(0)
        )
        st_col = f"__cbwst{it}__"
        work_iter = work_iter.withColumn(st_col, new_state)
        work = work.withColumn(st_col, new_state)
        joined_lam_cols.append(st_col)
        state = F.col(st_col)
        if n_clipped_prev is not None and np.array_equal(n_clipped, n_clipped_prev):
            break
        n_clipped_prev = n_clipped
    else:
        raise CalibrationError(
            f"calibrate_bounded: clip set not stable after {max_iter} "
            "iterations in at least one group"
        )

    if _it_handle is not None:
        _it_handle.unpersist()
    w = (
        F.when(state == 1, U * d)
        .when(state == -1, L * d)
        .otherwise(d * g_expr_cols(last_lam_cols))
    )
    out = work.withColumn(out_col, w)
    if state_col is not None:
        out = out.withColumn(state_col, state)
    out = out.drop(*joined_lam_cols)
    return CalibrationResult(
        df=out, weight_col=out_col, x_cols=list(x_cols),
        lambdas=lam, keys=keys, group_cols=group_cols,
    )


def calibrate_raking(
    df: DataFrame,
    x_cols: list[str],
    totals: dict | np.ndarray | list,
    d_col: str,
    out_col: str = "w_cal",
    n_iter: int = 8,
    tol: float | None = 1e-10,
    group_cols: list[str] | None = None,
    totals_by_group: dict[tuple, np.ndarray] | None = None,
) -> CalibrationResult:
    """Multiplicative (exponential-tilt) calibration —
    ``survey::calibrate`` with ``calfun="raking"`` on arbitrary
    (continuous or dummy) x-columns: find ``w_i = d_i * exp(x_i' lam)``
    with ``sum_s w_i x_i = T``.  Unlike the linear GREG (which can go
    negative) the raked weights are positive by construction; unlike
    :func:`kernels.rake.rake` (categorical margins via factor sweeps)
    this solves the GENERAL tilt by Newton iterations:

        r(lam) = T - sum d e^{x'lam} x,   J(lam) = sum d e^{x'lam} x x'
        lam <- lam + J^{-1} r

    Each iteration is ONE aggregation pass with the current weight as a
    column expression (k + k(k+1)/2 sums; grouped -> one groupBy pass +
    a stacked solve, same vectorization as ``calibrate``).  Converges
    quadratically for feasible totals; raises CalibrationError on a
    singular Jacobian (totals infeasible / collinear x).  Set
    ``tol=None`` to run exactly ``n_iter`` iterations — the mode the
    SQL gate oracle replays (an unrolled fixed-depth Newton, idempotent
    at convergence to well below the 6-dp gate rounding)."""
    group_cols = list(group_cols or [])
    k = len(x_cols)
    if isinstance(totals, dict):
        T_shared = np.array([float(totals[c]) for c in x_cols])
    elif totals is not None:
        T_shared = np.asarray(totals, dtype=float).ravel()
        if T_shared.size != k:
            raise CalibrationError(f"expected {k} totals, got {T_shared.size}")
    elif totals_by_group is None:
        raise ValueError("must provide `totals` or `totals_by_group`")
    else:
        T_shared = None

    d = F.col(d_col).cast("double")
    xs = [F.col(c).cast("double") for c in x_cols]

    def tilt_expr(lam_row) -> Column:
        e: Column = F.lit(0.0)
        for b, xc in zip(lam_row, xs):
            e = e + xc * float(b)
        return d * F.exp(e)

    def tilt_expr_cols(lam_cols: list[str]) -> Column:
        e: Column = F.lit(0.0)
        for lc, xc in zip(lam_cols, xs):
            e = e + xc * F.col(lc)
        return d * F.exp(e)

    keys: list[tuple] | None = None
    T = None
    lam = None
    # Newton passes re-aggregate only (group_cols, x_cols, d_col):
    # persist that narrow projection (r17; layout-preserving, see
    # _iter_input) instead of re-scanning the full lineage n_iter times
    it_src, _it_handle = _iter_input(
        df, list(dict.fromkeys(group_cols + x_cols + [d_col])), n_iter
    )
    work = it_src
    lam_cols = [f"__crk{j}__" for j in range(k)]

    def bind_lambdas(lam_mat: np.ndarray, src: DataFrame = df) -> DataFrame:
        # rebind from the ORIGINAL df each iteration (fixed column
        # names) so the plan holds exactly ONE broadcast join
        # regardless of n_iter — the r6 verdict's accumulating-join
        # fix (previously iteration i re-executed all i-1 joins)
        return bind_group_values(src, group_cols, keys, dict(zip(lam_cols, lam_mat.T)))

    for it in range(n_iter):
        if group_cols and lam is not None:
            w_expr = tilt_expr_cols(lam_cols)
        elif lam is not None:
            w_expr = tilt_expr(lam[0])
        else:
            w_expr = d
        aggs = []
        for i in range(k):
            for j in range(i, k):
                aggs.append(F.sum(w_expr * xs[i] * xs[j]).alias(f"j_{i}_{j}"))
            aggs.append(F.sum(w_expr * xs[i]).alias(f"r_{i}"))
        if group_cols:
            rows = work.groupBy(*group_cols).agg(*aggs).collect()
            by_key = {tuple(r[c] for c in group_cols): r for r in rows}
            if keys is None:
                keys = sorted(by_key)
                ng = len(keys)
                T = np.zeros((ng, k))
                for gi, key in enumerate(keys):
                    T[gi] = (
                        np.asarray(totals_by_group[key], dtype=float).ravel()
                        if totals_by_group is not None else T_shared
                    )
                lam = np.zeros((ng, k))
            ng = len(keys)
            J = np.zeros((ng, k, k))
            r = np.zeros((ng, k))
            for gi, key in enumerate(keys):
                row = by_key[key]
                for i in range(k):
                    for j in range(i, k):
                        J[gi, i, j] = J[gi, j, i] = float(row[f"j_{i}_{j}"] or 0.0)
                    r[gi, i] = T[gi, i] - float(row[f"r_{i}"] or 0.0)
            step = _solve_stacked(J, r[..., None], "calibrate_raking").squeeze(-1)
            step = step.reshape(ng, k)
            lam = lam + step
            work = bind_lambdas(lam, it_src)
        else:
            row = work.agg(*aggs).collect()[0]
            if lam is None:
                keys = [()]
                T = T_shared.reshape(1, k)
                lam = np.zeros((1, k))
            J = np.zeros((1, k, k))
            r = np.zeros((1, k))
            for i in range(k):
                for j in range(i, k):
                    J[0, i, j] = J[0, j, i] = float(row[f"j_{i}_{j}"] or 0.0)
                r[0, i] = T[0, i] - float(row[f"r_{i}"] or 0.0)
            step = _solve_stacked(J, r[..., None], "calibrate_raking").squeeze(-1)
            step = step.reshape(1, k)
            lam = lam + step
        if tol is not None and float(np.max(np.abs(step))) < tol:
            break
    else:
        if tol is not None:
            import warnings

            warnings.warn(
                f"calibrate_raking: Newton did not reach tol in {n_iter} "
                "iterations; inspect the result (totals near-infeasible?)",
                RuntimeWarning, stacklevel=2,
            )

    if _it_handle is not None:
        _it_handle.unpersist()
    if group_cols:
        # final weights must carry the caller's FULL columns: rebind the
        # converged lambdas from the original df
        work = bind_lambdas(lam)
        out = work.withColumn(out_col, tilt_expr_cols(lam_cols))
        out = out.drop(*lam_cols)
    else:
        out = df.withColumn(out_col, tilt_expr(lam[0]))
    return CalibrationResult(
        df=out, weight_col=out_col, x_cols=list(x_cols),
        lambdas=lam, keys=keys, group_cols=group_cols,
    )


def calibrate_logit(
    df: DataFrame,
    x_cols: list[str],
    totals: dict | np.ndarray | list | None,
    d_col: str,
    bounds: tuple,
    out_col: str = "w_cal",
    n_iter: int = 10,
    tol: float | None = 1e-10,
    group_cols: list[str] | None = None,
    totals_by_group: dict[tuple, np.ndarray] | None = None,
) -> CalibrationResult:
    """Logit-bounded calibration — ``survey::calibrate`` with
    ``calfun="logit"``, completing the engine's calfun matrix (linear,
    raking, truncated-linear, logit): the g-weights follow the SMOOTH
    bounded link

        g(u) = (L(U-1) + U(1-L) e^{A u}) / ((U-1) + (1-L) e^{A u}),
        A = (U-L) / ((1-L)(U-1)),

    which maps u = x'lam monotonically onto (L, U) with g(0) = 1 — the
    differentiable alternative to sticky truncation (no clip waves, no
    weights pinned exactly AT a bound).  Newton on lam: per iteration
    ONE aggregation pass with g and its derivative
    g'(u) = A (U - g)(g - L)/(U - L) as column expressions,

        r(lam) = T - sum d g x,   J(lam) = sum d g' x x',

    and a k x k driver solve.  ``tol=None`` runs a fixed ``n_iter``
    (the mode the SQL gate oracle unrolls).  Raises CalibrationError on
    a singular Jacobian (totals unreachable within the bounds: as any
    g saturates, its derivative — and eventually J — vanishes).

    Grouped (r7): ``group_cols``/``totals_by_group`` solve one logit
    system per group exactly like the other calfuns — ONE groupBy pass
    per Newton iteration carrying all groups' (J, r) sums, a stacked
    O(groups * k^3) driver solve, and the per-group lambdas rebound
    from the ORIGINAL df as a single broadcast join (constant plan
    depth in ``n_iter``)."""
    L, U = float(bounds[0]), float(bounds[1])
    if not (L < 1.0 < U):
        raise CalibrationError(
            f"bounds must straddle 1 (got L={L}, U={U}): g=1 is the "
            "uncalibrated ratio"
        )
    group_cols = list(group_cols or [])
    k = len(x_cols)
    if isinstance(totals, dict):
        T_shared = np.array([float(totals[c]) for c in x_cols])
    elif totals is not None:
        T_shared = np.asarray(totals, dtype=float).ravel()
        if T_shared.size != k:
            raise CalibrationError(f"expected {k} totals, got {T_shared.size}")
    elif totals_by_group is None:
        raise ValueError("must provide `totals` or `totals_by_group`")
    else:
        T_shared = None
    A = (U - L) / ((1.0 - L) * (U - 1.0))
    d = F.col(d_col).cast("double")
    xs = [F.col(c).cast("double") for c in x_cols]

    def g_of_u(u: Column):
        e = F.exp(F.lit(A) * u)
        g = (F.lit(L * (U - 1.0)) + F.lit(U * (1.0 - L)) * e) / (
            F.lit(U - 1.0) + F.lit(1.0 - L) * e
        )
        gp = F.lit(A) * (F.lit(U) - g) * (g - F.lit(L)) / F.lit(U - L)
        return g, gp

    def g_exprs(lam_row: np.ndarray):
        u: Column = F.lit(0.0)
        for b, xc in zip(lam_row, xs):
            u = u + xc * float(b)
        return g_of_u(u)

    def g_exprs_cols(lam_col_names: list[str]):
        u: Column = F.lit(0.0)
        for lc, xc in zip(lam_col_names, xs):
            u = u + xc * F.col(lc)
        return g_of_u(u)

    keys: list[tuple] | None = None
    T = None
    lam = None
    # the Newton passes re-aggregate ONLY (group_cols, x_cols, d_col):
    # persist that narrow projection instead of re-scanning the full
    # lineage n_iter times (r17; layout-preserving, see _iter_input)
    it_src, _it_handle = _iter_input(
        df, list(dict.fromkeys(group_cols + x_cols + [d_col])), n_iter
    )
    work = it_src
    lam_cols = [f"__clg{j}__" for j in range(k)]

    def bind_lambdas(lam_mat: np.ndarray, src: DataFrame = df) -> DataFrame:
        return bind_group_values(src, group_cols, keys, dict(zip(lam_cols, lam_mat.T)))

    for _ in range(n_iter):
        if group_cols and lam is not None:
            g, gp = g_exprs_cols(lam_cols)
        elif lam is not None:
            g, gp = g_exprs(lam[0])
        else:
            g, gp = g_exprs(np.zeros(k))
        aggs = []
        for i in range(k):
            for j in range(i, k):
                aggs.append(F.sum(d * gp * xs[i] * xs[j]).alias(f"j_{i}_{j}"))
            aggs.append(F.sum(d * g * xs[i]).alias(f"r_{i}"))
        if group_cols:
            rows = work.groupBy(*group_cols).agg(*aggs).collect()
            by_key = {tuple(r[c] for c in group_cols): r for r in rows}
            if keys is None:
                keys = sorted(by_key)
                ng = len(keys)
                T = np.zeros((ng, k))
                for gi, key in enumerate(keys):
                    T[gi] = (
                        np.asarray(totals_by_group[key], dtype=float).ravel()
                        if totals_by_group is not None else T_shared
                    )
                lam = np.zeros((ng, k))
            ng = len(keys)
            J = np.zeros((ng, k, k))
            r = np.zeros((ng, k))
            for gi, key in enumerate(keys):
                row = by_key[key]
                for i in range(k):
                    for j in range(i, k):
                        J[gi, i, j] = J[gi, j, i] = float(row[f"j_{i}_{j}"] or 0.0)
                    r[gi, i] = T[gi, i] - float(row[f"r_{i}"] or 0.0)
            try:
                step = np.linalg.solve(J, r[..., None]).squeeze(-1)
            except np.linalg.LinAlgError as e:
                raise CalibrationError(
                    "calibrate_logit: Jacobian singular in at least one "
                    f"group — totals unreachable within bounds ({L}, {U})?"
                ) from e
            step = step.reshape(ng, k)
            lam = lam + step
            work = bind_lambdas(lam, it_src)
        else:
            row = it_src.agg(*aggs).collect()[0]
            if lam is None:
                keys = [()]
                T = T_shared.reshape(1, k)
                lam = np.zeros((1, k))
            J = np.zeros((k, k))
            r = np.zeros(k)
            for i in range(k):
                for j in range(i, k):
                    J[i, j] = J[j, i] = float(row[f"j_{i}_{j}"] or 0.0)
                r[i] = T[0, i] - float(row[f"r_{i}"] or 0.0)
            try:
                step = np.linalg.solve(J, r)
            except np.linalg.LinAlgError as e:
                raise CalibrationError(
                    "calibrate_logit: Jacobian singular — totals unreachable "
                    f"within bounds ({L}, {U})?"
                ) from e
            step = step.reshape(1, k)
            lam = lam + step
        if tol is not None and float(np.max(np.abs(step))) < tol:
            break
    if _it_handle is not None:
        _it_handle.unpersist()
    if group_cols:
        # the final weights projection must carry the caller's FULL
        # columns: rebind the converged lambdas from the original df
        work = bind_lambdas(lam)
        g, _ = g_exprs_cols(lam_cols)
        out = work.withColumn(out_col, d * g).drop(*lam_cols)
    else:
        g, _ = g_exprs(lam[0])
        out = df.withColumn(out_col, d * g)
    return CalibrationResult(
        df=out, weight_col=out_col, x_cols=list(x_cols),
        lambdas=lam, keys=keys, group_cols=group_cols,
    )
