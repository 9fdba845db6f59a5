"""RegDI — calibration-based data integration estimator (Kim & Tam 2021).

Spark-first re-implementation of the reference's ``RegDI2()``
(``RegDI2.R:5-333``).  The estimator combines a probability sample S_A
(with design weights) and a big-data sample S_B by calibrating S_A's
weights to population totals that *include* S_B membership and S_B's
outcome total — so the calibrated mean of y over S_A "borrows" S_B's size.

Corrections (``RegDI2.R:20``):
  0/1  plain calibration estimate             (``RegDI2.R:244-248,320-325``)
  2    measurement-error correction: fit y_A ~ y_B on the A∩B validation
       overlap, map y_A onto B's scale via the inverse fit, recalibrate
       (``RegDI2.R:250-307``).  NOTE the estimand: correction 2 treats
       S_B as the measurement gold standard — ``y_corrected = (y_A -
       b0)/b1`` puts A's outcome on the B scale (``RegDI2.R:264-266``),
       so the reported mean targets E[y_B-scale], not E[y_A-scale].
       (The notebook's contaminated-proxy Scenario II instead uses
       correction 1 with ``y_B_col = tilde``, ``nb[5]:48-57``, which
       stays unbiased for E[y_A-scale].)
  3    doubly-robust: outcome model on A, DR point + ad-hoc variance
       (``RegDI2.R:196-241,309-318``; the reference README documents this
       variance as incomplete — we reproduce the code's formula)

One body (``_regdi_body``) serves ``regdi()`` and the grouped Monte Carlo /
domain callers (``estimators.vectorized``, ``estimators.domains``): with
``group_cols`` every group is its own population and runs in the SAME
passes.  Execution profile per call, at any scale and any number of groups
(nothing O(N) is collected):

  - the A/B join (two-table mode only; a shuffle each pass re-runs);
  - ONE fused aggregation: sizes, calibration totals, the A-masked
    calibration Gram (correction 2: the validation-fit sums instead;
    correction 3: plus the outcome model's OLS Gram, unless a shared fit
    is injected);
  - a stacked k x k driver solve, k = 3 + #aux; the per-group scalars
    return as literals when ungrouped (no join), else one broadcast join;
  - corrections 0/1: ONE svymean pass.  Correction 2: one recalibration
    Gram pass + one svymean pass.  Correction 3: ONE fused
    residual/prediction pass.

Nothing is cached: each pass re-reads the input (two-table mode: re-runs
the join).  Measured per call on a 4-core VM with uncached parquet input,
persisting for the two or three passes of one call cost more than it
saved on direct input (2M rows: 1.6-2.7 s with the cache vs 0.7-1.3 s
without) and made no measurable difference to the two-table join (20k and
2M rows, 20k in S_A: within run-to-run noise).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_integration_est_spark.design import SurveyDesign
from data_integration_est_spark.formula import Formula
from data_integration_est_spark.integrate import IntegrationError, integrate_samples
from data_integration_est_spark.kernels.linalg import (
    FitResult,
    _solve_ols_stacked,
    _solve_stacked,
    bind_group_values,
    calibrate,
    fit_logistic,
    fit_ols,
    greg_weights,
    ols_from_sums,
    ols_sums,
)
from data_integration_est_spark.kernels.stats import _collect_keyed, svymean


@dataclass
class RegDIResult:
    mean: float
    variance: float
    rmse: float | None = None
    r2: float | None = None
    # The combined table with derived columns (incl. calibrated weights for
    # corrections 0/1/2) — lazy; callers can inspect or reuse it.
    df: DataFrame | None = None
    weight_col: str | None = None

    @property
    def se(self) -> float:
        return float(self.variance) ** 0.5


class Cell(NamedTuple):
    """One group's output of an estimator body."""

    estimate: float
    variance: float | None = None
    rmse: float | None = None
    r2: float | None = None

    @property
    def se(self) -> float | None:
        return None if self.variance is None else float(self.variance) ** 0.5


@dataclass
class Estimates:
    """An estimator body's result: per-group cells and (n_A, n_B) sizes,
    the rows the estimate weights (carrying ``weight_col``), the model."""

    cells: dict
    sizes: dict
    df: DataFrame
    weight_col: str
    fit: FitResult | None = None


def _prepare(
    data,
    data_A,
    data_B,
    id_var_A,
    id_var_B,
    ind_var_A,
    ind_var_B,
    y_A_col,
    y_B_col,
    aux_vars,
):
    """Shared combine/validate step (``RegDI2.R:23-88``, ``PC.R:66-132``).

    Returns (df, ind_A, ind_B, y_A, y_B, aux_A, aux_B, data_direct).
    """
    data_direct = data is not None
    if not data_direct and (data_A is None or data_B is None):
        raise IntegrationError("must provide 'data' or both 'data_A' and 'data_B'")
    aux_vars = list(aux_vars or [])
    if data_direct:
        for c in [ind_var_A, ind_var_B, y_A_col, y_B_col]:
            if c is None:
                raise IntegrationError(
                    "direct mode requires 'ind_var_A', 'ind_var_B', 'y_A_col', 'y_B_col'"
                )
            if c not in data.columns:
                raise IntegrationError(f"column {c!r} not found in 'data'")
        for c in aux_vars:
            if c not in data.columns:
                raise IntegrationError(f"aux column {c!r} not found in 'data'")
        return data, ind_var_A, ind_var_B, y_A_col, y_B_col, aux_vars, aux_vars, True
    if id_var_A is None or id_var_B is None:
        raise IntegrationError(
            "must specify 'id_var_A' and 'id_var_B' when providing 'data_A' and 'data_B'"
        )
    integ = integrate_samples(data_A, data_B, id_var_A, id_var_B, y_A_col, y_B_col)
    aux_A = [integ.col_A(c) for c in aux_vars]
    aux_B = [integ.col_B(c) for c in aux_vars]
    return integ.df, integ.ind_A, integ.ind_B, integ.y_A, integ.y_B, aux_A, aux_B, False


def _fitter(model_type: str):
    if model_type == "normal":
        return fit_ols
    if model_type == "logistic":
        return fit_logistic
    raise ValueError("model_type must be 'normal' or 'logistic'")


def _fit(sample: DataFrame, formula: Formula, model_type: str, group_cols) -> FitResult:
    return _fitter(model_type)(
        sample, y_col=formula.response, x_cols=list(formula.predictors),
        intercept=formula.intercept, group_cols=group_cols,
    )


def _note_fit(diag: dict | None, fit: FitResult) -> None:
    """Accumulate fit-health counters into a caller-supplied dict — the
    Monte Carlo harness surfaces these on MCResult.diagnostics so silent
    numerical issues in big grids (unconverged IRLS, undersized cells)
    are visible without scraping warnings."""
    if diag is None:
        return
    diag["n_fits"] = diag.get("n_fits", 0) + 1
    if fit.kind == "logistic" and not fit.converged:
        diag["unconverged"] = diag.get("unconverged", 0) + 1
    diag["degenerate_groups"] = diag.get("degenerate_groups", 0) + len(fit.degenerate_keys)


def _arr(rows: dict, keys: list, name: str) -> np.ndarray:
    return np.array([float(rows[k][name] or 0.0) for k in keys])


def _size_aggs(indA: Column | None, indB: Column, wA: Column | None) -> list[Column]:
    aggs = [
        F.count(F.lit(1)).alias("nrows"),
        F.sum(F.when(indB, 1).otherwise(0)).alias("size_B"),
    ]
    if indA is not None:
        aggs.append(F.sum(F.when(indA, 1).otherwise(0)).alias("size_A"))
    if wA is not None:
        aggs.append(F.sum(F.when(indA, wA).otherwise(0.0)).alias("sum_wA"))
    return aggs


def _sample_sizes(rows, keys, group_cols, population, N_total, weights_A, has_A=True,
                  need_A=True):
    """(n_A, n_B, N, empty) per group; N is the given ``N_total``, else the
    row count (``population``: the frame IS the population), else the
    sample-A weight total (``RegDI2.R:91-116``, ``PC.R:149-171``).  A call
    without units in S_B (or in S_A, when ``need_A``) raises; with
    ``group_cols`` only that group is flagged in ``empty`` instead — one
    empty domain or Monte Carlo cell must not abort the others."""
    size_A = _arr(rows, keys, "size_A") if has_A else np.zeros(len(keys))
    size_B = _arr(rows, keys, "size_B")
    empty = (size_B == 0) | (need_A & (size_A == 0))
    if not group_cols and need_A and size_A[0] == 0:
        raise IntegrationError("no units in sample A")
    if not group_cols and size_B[0] == 0:
        raise IntegrationError("no units in sample B")
    if N_total is not None:
        N = np.full(len(keys), float(N_total))
    elif population:
        N = _arr(rows, keys, "nrows")
    elif weights_A is not None:
        N = _arr(rows, keys, "sum_wA")
    else:
        raise IntegrationError("to approximate N_total, provide sample-A weights ('weights_A')")
    return size_A, size_B, N, empty


def _drop_empty(est: Estimates, keys: list, empty: np.ndarray) -> Estimates:
    """``est`` without the cells of the ``empty`` groups."""
    skip = {k for k, e in zip(keys, empty) if e}
    est.cells = {k: c for k, c in est.cells.items() if k not in skip}
    return est


def _gram_aggs(w: Column, cols: list[str]) -> list[Column]:
    """The masked calibration Gram ``sum w x x'`` and ``sum w x`` as sums of
    the fused pass (mask weight 1 when the design weight is the constant
    N/n, scaled on the driver by :func:`_gram`)."""
    xs = [F.col(c).cast("double") for c in cols]
    k = len(xs)
    return [
        F.sum(w * xs[i] * xs[j]).alias(f"g_{i}_{j}") for i in range(k) for j in range(i, k)
    ] + [F.sum(w * x).alias(f"h_{i}") for i, x in enumerate(xs)]


def _gram(rows, keys, k: int, scale: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    G = np.zeros((len(keys), k, k))
    h = np.zeros((len(keys), k))
    for gi, key in enumerate(keys):
        r = rows[key]
        for i in range(k):
            for j in range(i, k):
                G[gi, i, j] = G[gi, j, i] = float(r[f"g_{i}_{j}"] or 0.0)
            h[gi, i] = float(r[f"h_{i}"] or 0.0)
    return scale[:, None, None] * G, scale[:, None] * h


def _fit_quality_aggs(indA: Column, y: Column, pred: Column) -> list[Column]:
    res2 = F.when(indA, F.pow(y - pred, 2))
    return [
        F.sum(res2).alias("ssr"),
        F.avg(res2).alias("mse"),
        F.var_samp(F.when(indA, y)).alias("var_y"),
    ]


def _fit_quality(r) -> tuple[float, float]:
    """(rmse, R²) of the outcome model on sample A (``RegDI2.R:227-240``,
    ``PC.R:330-340``) from the :func:`_fit_quality_aggs` sums."""
    sst = (r["var_y"] or 0.0) * max(int(r["n_A"] or 0) - 1, 0)
    r2 = 1.0 - (r["ssr"] or 0.0) / sst if sst > 0 else float("nan")
    return float((r["mse"] or 0.0) ** 0.5), float(r2)


def regdi(
    data: DataFrame | None = None,
    data_A: DataFrame | None = None,
    data_B: DataFrame | None = None,
    id_var_A: str | None = None,
    id_var_B: str | None = None,
    ind_var_A: str | None = None,
    ind_var_B: str | None = None,
    y_A_col: str = "",
    y_B_col: str = "",
    aux_vars: list[str] | None = None,
    N_total: float | None = None,
    weights_A: str | None = None,
    outcome_model: str | None = None,
    correction: int = 0,
    eval_model_performance: bool = False,
) -> RegDIResult:
    df, ind_A, ind_B, y_A, y_B, _, aux_B, data_direct = _prepare(
        data, data_A, data_B, id_var_A, id_var_B, ind_var_A, ind_var_B,
        y_A_col, y_B_col, aux_vars,
    )
    est = _regdi_body(
        df, ind_A, ind_B, y_A, y_B, aux_B, [], correction, population=data_direct,
        N_total=N_total, weights_A=weights_A, outcome_model=outcome_model,
        eval_model_performance=eval_model_performance,
    )
    c = est.cells[()]
    return RegDIResult(mean=c.estimate, variance=c.variance, rmse=c.rmse, r2=c.r2,
                       df=est.df, weight_col=est.weight_col)


def _regdi_body(
    df: DataFrame,
    ind_A: str,
    ind_B: str,
    y_A: str,
    y_B: str,
    aux_B: list[str],
    group_cols: list[str],
    correction: int = 0,
    *,
    population: bool = True,
    N_total: float | None = None,
    weights_A: str | None = None,
    outcome_model: str | None = None,
    eval_model_performance: bool = False,
    fit: FitResult | None = None,
    u_stats: dict | None = None,
    diag: dict | None = None,
) -> Estimates:
    """RegDI for every group of ``group_cols`` (none: one population).

    ``population`` says the frame holds the whole population, so the
    ``uno`` total is its row count; otherwise (two-table mode, or grouped
    calls with ``weights_A``) it is N — ``N_total`` or the sample-A weight
    total (``RegDI2.R:106-116``, the stratified-study call shape)."""
    if correction not in (0, 1, 2, 3):
        raise ValueError(f"invalid correction {correction!r}: must be 0, 1, 2 or 3")
    if correction == 3 and outcome_model is None and fit is None:
        raise ValueError("must specify the outcome model via 'outcome_model'")
    if weights_A is not None and weights_A not in df.columns:
        raise IntegrationError(f"'weights_A' column {weights_A!r} not found in the data")
    indA, indB = F.col(ind_A) == 1, F.col(ind_B) == 1
    wA = None if weights_A is None else F.col(weights_A).cast("double")

    # delta_* helper columns (``RegDI2.R:126-141``)
    delta_aux = [f"delta_{z}" for z in aux_B]
    df = df.withColumns({
        "uno": F.lit(1.0),
        "delta_i": F.when(indB, 1.0).otherwise(0.0),
        "delta_yi": F.when(indB, F.col(y_B).cast("double")).otherwise(0.0),
        **{dc: F.when(indB, F.col(z).cast("double")).otherwise(0.0)
           for dc, z in zip(delta_aux, aux_B)},
    })
    x_cols = ["uno", "delta_i", "delta_yi"] + delta_aux

    # ONE fused pass: sizes, weight total and calibration totals
    # (``RegDI2.R:91-168`` is several sequential sums in R) plus the
    # A-masked calibration Gram, or correction 2's validation sums
    aggs = _size_aggs(indA, indB, wA) + [F.sum(c).alias(f"t_{c}") for c in x_cols[1:]]
    if correction == 2:
        aggs += _c2_aggs(indA, indB, y_A, y_B)
    else:
        aggs += _gram_aggs(F.when(indA, wA if wA is not None else F.lit(1.0))
                           .otherwise(0.0), x_cols)
    if correction == 3 and fit is None:
        # the outcome model's Gram over S_A rides the same pass
        formula = Formula.parse(outcome_model).resolve(df.columns)
        ols = (formula.response, list(formula.predictors), formula.intercept)
        aggs += ols_sums(*ols, indA)
    rows = _collect_keyed(df, group_cols, aggs)
    keys = list(rows)
    size_A, size_B, N, empty = _sample_sizes(rows, keys, group_cols, population, N_total,
                                             weights_A)
    sizes = {k: (int(a), int(b)) for k, a, b in zip(keys, size_A, size_B)}

    # design weights d_i_A (``RegDI2.R:106-116``): the weight column,
    # or N/n_A bound per group next to the calibration multipliers
    if wA is not None:
        d, extra, scale = F.when(indA, wA).otherwise(0.0), {}, np.ones(len(keys))
    else:
        scale = N / np.maximum(size_A, 1)
        d, extra = F.when(indA, F.col("__dA__")).otherwise(0.0), {"__dA__": scale}
    # calibration totals (``RegDI2.R:143-168``)
    T = np.column_stack(
        [_arr(rows, keys, "nrows") if population else N]
        + [_arr(rows, keys, f"t_{c}") for c in x_cols[1:]]
    )
    if correction == 2:
        return _correction_2(df, rows, keys, sizes, T, d, extra, empty, indA, indB, y_A,
                             y_B, delta_aux, group_cols, diag)

    # the GREG solve (sum_A d x x') lam = T - sum_A d x (``RegDI2.R:188-193``);
    # an empty group keeps its design weights (lam = 0) and is dropped below
    G, h = _gram(rows, keys, len(x_cols), scale)
    G[empty], h[empty] = np.eye(len(x_cols)), T[empty]
    df, _ = greg_weights(df, x_cols, G, h, T, keys, group_cols, "d_i_A", "w_cal",
                         d=d, extra=extra)
    df = df.drop(*extra)
    sample_A = df.filter(indA)
    if correction == 3:
        if fit is None:
            fit = ols_from_sums(rows, *ols, group_cols)
        est = _correction_3(df, sample_A, dict(zip(keys, N)), sizes, indA, y_A,
                            group_cols, eval_model_performance, fit, u_stats, diag)
        return _drop_empty(est, keys, empty)
    design = SurveyDesign(
        df=sample_A, weight_col="w_cal", calibration_cols=x_cols, base_weight_col="d_i_A"
    )
    cells = {e.key: Cell(e.estimate, e.variance) for e in svymean(design, y_A, group_cols)}
    return _drop_empty(Estimates(cells, sizes, sample_A, "w_cal"), keys, empty)


def _c2_aggs(indA, indB, y_A, y_B) -> list[Column]:
    # Correction 2's y_A ~ y_B validation fit and corrected-outcome total
    # expand in a few sums, so they ride the fused pass instead of costing
    # a Gram job + a t_corr job (``RegDI2.R:250-265`` runs them serially).
    yAc = F.col(y_A).cast("double")
    yBc = F.col(y_B).cast("double")
    ok = indA & indB & yAc.isNotNull() & yBc.isNotNull()
    return [
        F.sum(F.when(ok, 1).otherwise(0)).alias("c2_n"),
        F.sum(F.when(ok, yBc)).alias("c2_syB"),
        F.sum(F.when(ok, yBc * yBc)).alias("c2_syB2"),
        F.sum(F.when(ok, yAc)).alias("c2_syA"),
        F.sum(F.when(ok, yAc * yBc)).alias("c2_syAyB"),
        # t_corr ingredients: overlap rows contribute (y_A-b0)/b1 whenever
        # y_A is present (y_B null or not), B-only rows contribute y_B
        F.sum(F.when(indA & indB, yAc)).alias("c2_syA_all"),
        F.sum(F.when(indA & indB & yAc.isNotNull(), 1).otherwise(0)).alias("c2_n_all"),
        F.sum(F.when(indB & ~indA, yBc)).alias("c2_syB_nonA"),
    ]


def _correction_2(df, rows, keys, sizes, T, d, extra, empty, indA, indB, y_A, y_B,
                  delta_aux, group_cols, diag) -> Estimates:
    """Measurement-error correction (``RegDI2.R:250-307``).

    The y_A ~ y_B validation OLS and the corrected-outcome total t_corr are
    closed forms in the ``c2_*`` sums of the fused pass, so correction 2
    adds NO data pass before the recalibration Gram.  Ungrouped, an
    unusable overlap raises (the reference's guard, ``RegDI2.R:254-255``);
    grouped, that group degrades to NaN and counts in ``diag``."""
    c2 = {c: _arr(rows, keys, f"c2_{c}") for c in (
        "n", "syB", "syB2", "syA", "syAyB", "syA_all", "n_all", "syB_nonA")}
    bad = c2["n"] < 2
    if bad.any() and not group_cols:
        raise IntegrationError(
            f"insufficient validation data for correction 2: {int(c2['n'][0])} usable "
            "S_A ∩ S_B overlap row(s), need >= 2 with y_A and y_B observed"
        )
    G = np.stack([np.stack([c2["n"], c2["syB"]], -1), np.stack([c2["syB"], c2["syB2"]], -1)], -2)
    rhs = np.stack([c2["syA"], c2["syAyB"]], -1)[..., None]
    G[bad], rhs[bad] = np.eye(2), 0.0
    solve = _solve_ols_stacked if group_cols else _solve_stacked
    b0, b1 = solve(G, rhs, "correction-2 fit")[..., 0].T
    flat = np.abs(b1) < 1e-10
    if flat.any() and not group_cols:
        raise IntegrationError(
            f"correction 2: fitted slope b1={b1[0]:.3e} is numerically zero — "
            "y_corrected = (y_A - b0)/b1 is undefined (no usable association "
            "between y_A and y_B on the validation overlap)"
        )
    b0, b1 = np.where(bad | flat, np.nan, b0), np.where(bad | flat, np.nan, b1)
    _note_fit(diag, FitResult(
        x_cols=[y_B], intercept=True, coef=np.column_stack([b0, b1]), keys=keys,
        group_cols=group_cols, degenerate_keys=tuple(k for k, z in zip(keys, bad | flat) if z),
    ))

    # y_corrected: de-biased y_A on A rows, raw y_B elsewhere (``RegDI2.R:264-265``);
    # the empty groups are left out (their recalibration Gram is singular)
    extra = {**extra, "__b0__": b0, "__b1__": b1, "__empty__": empty.astype(float)}
    df = bind_group_values(df, group_cols, keys, extra)
    y_corr = F.when(indA, (F.col(y_A).cast("double") - F.col("__b0__")) / F.col("__b1__"))
    df = (
        df.filter(F.col("__empty__") == 0)
        .withColumns({"d_i_A": d, "y_corrected": y_corr.otherwise(F.col(y_B).cast("double"))})
        .withColumn("delta_yi_corrected", F.when(indB, F.col("y_corrected")).otherwise(0.0))
        .drop(*extra)
    )
    # sum_B y_corrected = (sum_{A∩B} y_A − n·b0)/b1 + sum_{B∖A} y_B
    T = T.copy()
    T[:, 2] = (c2["syA_all"] - c2["n_all"] * b0) / b1 + c2["syB_nonA"]
    x_corr = ["uno", "delta_i", "delta_yi_corrected"] + delta_aux
    cal = calibrate(df.filter(indA), x_corr, None, d_col="d_i_A", out_col="w_cal",
                    group_cols=group_cols, totals_by_group=dict(zip(keys, T)))
    design = SurveyDesign(
        df=cal.df, weight_col="w_cal", calibration_cols=x_corr, base_weight_col="d_i_A"
    )
    cells = {e.key: Cell(e.estimate, e.variance)
             for e in svymean(design, "y_corrected", group_cols)}
    return Estimates(cells, sizes, cal.df, "w_cal")


def _correction_3(df, sample_A, N, sizes, indA, y_A, group_cols, eval_model_performance,
                  fit, u_stats, diag) -> Estimates:
    """Doubly-robust estimator (``RegDI2.R:196-241``).

    T_DR = (sum_A w_cal*(y - yhat) + sum_U yhat) / N
    V_DR = var(w_cal*(y - yhat))/n_A + var_U(yhat)/N      (the code's ad-hoc
    variance at ``RegDI2.R:222-225`` — reproduced as-is, see module doc).

    The A-side residual stats and the population-side prediction stats are
    indA-masked sums over the SAME table, so they run as one fused pass
    (null-skipping aggregates implement the mask).  ``u_stats`` injects
    shared prediction moments of the same ``fit``."""
    _note_fit(diag, fit)
    df, pred = fit.predict_expr_grouped(df)
    y = F.col(y_A).cast("double")
    wres = F.when(indA, F.col("w_cal") * (y - pred))  # null off-A -> skipped
    aggs = [
        F.sum(wres).alias("sum_wres"),
        F.var_samp(wres).alias("var_wres"),
        F.sum(F.when(indA, 1).otherwise(0)).alias("n_A"),
    ]
    if eval_model_performance:
        aggs += _fit_quality_aggs(indA, y, pred)
    if u_stats is None:
        aggs += [F.sum(pred).alias("sum_pred"), F.var_samp(pred).alias("var_pred")]
    rows = _collect_keyed(df, group_cols, aggs)
    cells = {}
    for key, r in rows.items():
        u, n_A = (u_stats or rows)[key], int(r["n_A"])
        t = ((r["sum_wres"] or 0.0) + (u["sum_pred"] or 0.0)) / N[key]
        v = (r["var_wres"] or 0.0) / max(n_A, 1) + (u["var_pred"] or 0.0) / N[key]
        rmse, r2 = _fit_quality(r) if eval_model_performance else (None, None)
        cells[key] = Cell(float(t), float(v), rmse, r2)
    return Estimates(cells, sizes, sample_A, "w_cal", fit)
