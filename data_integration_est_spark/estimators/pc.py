"""PC — pseudo-calibration estimator (Golini & Righi 2024).

Spark-first re-implementation of the reference's ``PC_Estimator()``
(``PC.R:47-358``).  The big-data sample S_B gets pseudo-design weights
calibrated to population auxiliary totals (known, or HT-estimated from the
probability sample S_A); three scenarios then produce the estimate:

  1  y observed in S_B: calibrated weighted mean of y_B + SE
     (``PC.R:240-253``)
  2  y NOT observed in S_B: fit prediction model on the A∩B overlap,
     Yhat = (sum_B d_B*yhat + sum_A d_A*(y_A - yhat)) / N   (``PC.R:255-297``)
  3  NMAR / DR1: fit model on A,
     Yhat = (sum_B d_B*(y_B - yhat) + sum_U yhat) / N       (``PC.R:299-354``)

Model types: ``"normal"`` (OLS) or ``"logistic"`` (IRLS GLM), with the
reference's dynamic formula re-resolution against join suffixes
(``construir_formula_dinamica``, ``PC.R:1-39``) via ``Formula.resolve``.

One body serves ``pc_estimator()`` and the grouped Monte Carlo / domain
callers: ``_calibrate_b`` (the S_B calibration every scenario starts from,
shareable through the grouped ``calb=`` hook) and ``_pc_body`` (the
scenario).  Execution profile per call, at any scale and any number of
groups (nothing O(N) is collected):

  - the A/B join (two-table mode only; a shuffle each pass re-runs);
  - ONE fused aggregation: sizes, weight sums, aux population totals
    (direct sums or the HT ingredients), the B-masked calibration Gram
    and, for a ``"normal"`` outcome model, its OLS Gram;
  - a stacked k x k driver solve, k = #aux; the per-group scalars return
    as literals when ungrouped (no join), else one broadcast join;
  - scenario 1: ONE svymean pass.  Scenarios 2/3: ONE fused masked pass
    (after one pass per IRLS step for a ``"logistic"`` model, or one Gram
    pass when the calibration or the fit is injected).

Nothing is cached (see ``estimators.regdi`` for the measurement).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_integration_est_spark.design import SurveyDesign
from data_integration_est_spark.estimators.regdi import (
    Cell,
    Estimates,
    _arr,
    _drop_empty,
    _fit,
    _fit_quality,
    _fit_quality_aggs,
    _fitter,
    _gram,
    _gram_aggs,
    _note_fit,
    _prepare,
    _sample_sizes,
    _size_aggs,
)
from data_integration_est_spark.formula import Formula
from data_integration_est_spark.integrate import IntegrationError
from data_integration_est_spark.kernels.linalg import (
    CalibrationError,
    FitResult,
    greg_weights,
    ols_from_sums,
    ols_sums,
)
from data_integration_est_spark.kernels.stats import _collect_keyed, svymean


@dataclass
class PCResult:
    estimate: float
    se: float | None = None
    model_coef: np.ndarray | None = None
    rmse: float | None = None
    r2: float | None = None
    df: DataFrame | None = None  # combined table with d_i_A / d_i_B columns
    weight_col: str | None = None  # calibrated B weights
    # IRLS convergence of the outcome model (scenarios 2/3); None when no
    # model is fit (scenario 1) — mirrors R glm's $converged.
    model_converged: bool | None = None


@dataclass
class PCCalibration:
    """The calibrated S_B weights (``PC.R:180-237``) for every group."""

    df: DataFrame  # the input rows + d_i_B, w_cal_B (and d_i_A given S_A)
    N: dict  # group key -> population size
    sizes: dict  # group key -> (n_A, n_B); n_A = 0 without S_A
    cal_cols: list[str]
    rows: dict  # group key -> the fused-pass row (with any ``extra_aggs``)
    empty: np.ndarray  # per key: no units to calibrate (see ``_sample_sizes``)


def pc_estimator(
    data: DataFrame | None = None,
    data_A: DataFrame | None = None,
    data_B: DataFrame | None = None,
    id_var_A: str | None = None,
    id_var_B: str | None = None,
    ind_var_A: str | None = None,
    ind_var_B: str | None = None,
    y_A_col: str | None = None,
    y_B_col: str | None = None,
    aux_vars: list[str] | None = None,
    N_total: float | None = None,
    weights_A: str | None = None,
    weights_B: str | None = None,
    outcome_model: str | None = None,
    model_type: str = "normal",
    scenario: int = 1,
    eval_model_performance: bool = False,
) -> PCResult:
    if scenario == 1 and y_B_col is None:
        raise ValueError("for scenario 1, 'y_B_col' cannot be None")
    df, ind_A, ind_B, y_A, y_B, aux_A, aux_B, data_direct = _prepare(
        data, data_A, data_B, id_var_A, id_var_B, ind_var_A, ind_var_B,
        # scenario 2 allows y_B_col=None conceptually, but the join/indicator
        # derivation needs B's observation marker; the reference requires the
        # same (ind derivation reads y_B_col, ``PC.R:95-109``).
        y_A_col or "", y_B_col or y_A_col or "", aux_vars,
    )
    est = _pc_body(
        df, scenario, y_A, y_B, ind_A, ind_B, aux_A, aux_B, [], population=data_direct,
        N_total=N_total, weights_A=weights_A, weights_B=weights_B,
        outcome_model=outcome_model, model_type=model_type,
        eval_model_performance=eval_model_performance,
    )
    c, fit = est.cells[()], est.fit
    return PCResult(
        estimate=c.estimate, se=c.se, rmse=c.rmse, r2=c.r2, df=est.df,
        weight_col=est.weight_col,
        model_coef=None if fit is None else fit.coef_for(()),
        model_converged=None if fit is None else fit.converged,
    )


def _calibrate_b(
    df: DataFrame,
    ind_A: str | None,
    ind_B: str,
    aux_A: list[str],
    aux_B: list[str],
    group_cols: list[str],
    *,
    population: bool = True,
    N_total: float | None = None,
    weights_A: str | None = None,
    weights_B: str | None = None,
    need_A: bool = False,
    extra_aggs: list | None = None,
) -> PCCalibration:
    """Design weights and the calibrated S_B weights for every group.

    ``population``: the frame holds the whole population, so the aux
    totals are its direct sums (``PC.R:182-187``); otherwise they are
    Horvitz-Thompson estimates from S_A (``PC.R:188-193`` — two-table mode,
    and grouped calls with ``weights_A``).  The reference calibrates on
    aux_vars_B with totals estimated on aux_vars_A; we keep that pairing.
    S_A must have units when the totals come from it or when ``need_A``."""
    for w, name in ((weights_A, "weights_A"), (weights_B, "weights_B")):
        if w is not None and w not in df.columns:
            raise IntegrationError(f"'{name}' column {w!r} not found in the data")
    indA = None if ind_A is None else F.col(ind_A) == 1
    indB = F.col(ind_B) == 1
    wA = None if weights_A is None else F.col(weights_A).cast("double")
    wB = None if weights_B is None else F.col(weights_B).cast("double")

    # ONE fused pass: sizes, weight sums, aux totals (direct sums or the
    # A-masked HT ingredients, scaled by N/n_A on the driver when weights_A
    # is absent) AND the B-side calibration Gram
    aggs = _size_aggs(indA, indB, wA)
    ht_w = F.lit(1.0) if population else F.when(indA, wA if wA is not None else 1.0).otherwise(0.0)
    aggs += [F.sum(ht_w * F.col(z).cast("double")).alias(f"t_{i}") for i, z in enumerate(aux_A)]
    aggs += _gram_aggs(F.when(indB, wB if wB is not None else F.lit(1.0)).otherwise(0.0), aux_B)
    rows = _collect_keyed(df, group_cols, aggs + list(extra_aggs or []))
    keys = list(rows)
    size_A, size_B, N, empty = _sample_sizes(
        rows, keys, group_cols, population, N_total, weights_A, has_A=indA is not None,
        need_A=need_A or not population,
    )
    T = np.column_stack([_arr(rows, keys, f"t_{i}") for i in range(len(aux_A))] or
                        [np.zeros((len(keys), 0))])
    if not population and wA is None:
        T = T * (N / np.maximum(size_A, 1))[:, None]

    # design weights (``PC.R:149-171``): weight columns, or N/n bound per
    # group next to the calibration multipliers
    extra = {}
    if wB is not None:
        dB, b_scale = F.when(indB, wB).otherwise(0.0), np.ones(len(keys))
    else:
        b_scale = extra["__dB__"] = N / np.maximum(size_B, 1)
        dB = F.when(indB, F.col("__dB__")).otherwise(0.0)
    if indA is not None and wA is None:
        extra["__dA__"] = N / np.maximum(size_A, 1)
    # calibrate S_B weights (``PC.R:216-237``); an empty group keeps its
    # design weights (lam = 0) and is left out of the estimates
    G, h = _gram(rows, keys, len(aux_B), b_scale)
    G[empty], h[empty] = np.eye(len(aux_B)), T[empty]
    df, _ = greg_weights(df, aux_B, G, h, T, keys, group_cols, "d_i_B", "w_cal_B",
                         d=dB, extra=extra)
    if indA is not None:
        dA = F.when(indA, wA if wA is not None else F.col("__dA__")).otherwise(0.0)
        df = df.withColumn("d_i_A", dA)
    sizes = {k: (int(a), int(b)) for k, a, b in zip(keys, size_A, size_B)}
    return PCCalibration(df.drop(*extra), dict(zip(keys, N)), sizes, list(aux_B), rows, empty)


def _pc_body(
    df: DataFrame,
    scenario: int,
    y_A: str | None,
    y_B: str,
    ind_A: str | None,
    ind_B: str,
    aux_A: list[str],
    aux_B: list[str],
    group_cols: list[str],
    *,
    population: bool = True,
    N_total: float | None = None,
    weights_A: str | None = None,
    weights_B: str | None = None,
    outcome_model: str | None = None,
    model_type: str = "normal",
    eval_model_performance: bool = False,
    fit: FitResult | None = None,
    calb: PCCalibration | None = None,
    u_stats: dict | None = None,
    diag: dict | None = None,
) -> Estimates:
    """PC scenario ``scenario`` for every group of ``group_cols`` (none:
    one population).  ``calb`` injects a :func:`_calibrate_b` result of the
    same arguments; ``fit``/``u_stats`` a shared outcome model and its
    population prediction moments (scenario 3)."""
    if scenario not in (1, 2, 3):
        raise ValueError(f"invalid scenario {scenario!r}: must be 1, 2 or 3")
    if scenario != 1:
        if outcome_model is None:
            raise ValueError("must provide 'outcome_model' for the prediction model")
        if not y_A:
            raise ValueError("must provide 'y_A_col' for the prediction model")
        _fitter(model_type)  # rejects a bad model_type before any Spark job
    indA, indB = (None if ind_A is None else F.col(ind_A) == 1), F.col(ind_B) == 1
    fused = None
    if scenario != 1:
        formula = Formula.parse(outcome_model).resolve(df.columns)
        sample = indA & indB if scenario == 2 else indA
        if calb is None and fit is None and model_type == "normal":
            # the outcome model's OLS Gram rides the calibration pass
            fused = (formula.response, list(formula.predictors), formula.intercept)
    cal = calb or _calibrate_b(
        df, ind_A, ind_B, aux_A, aux_B, group_cols, population=population,
        N_total=N_total, weights_A=weights_A, weights_B=weights_B, need_A=scenario != 1,
        extra_aggs=ols_sums(*fused, sample) if fused else None,
    )
    keys, b_df = list(cal.N), cal.df.filter(indB)
    if scenario == 1:
        design = SurveyDesign(
            df=b_df, weight_col="w_cal_B", calibration_cols=cal.cal_cols or None,
            base_weight_col="d_i_B" if cal.cal_cols else None,
        )
        cells = {e.key: Cell(e.estimate, e.variance) for e in svymean(design, y_B, group_cols)}
        return _drop_empty(Estimates(cells, cal.sizes, b_df, "w_cal_B"), keys, cal.empty)
    if fit is None:
        try:
            fit = (ols_from_sums(cal.rows, *fused, group_cols) if fused
                   else _fit(df.filter(sample), formula, model_type, group_cols))
        except CalibrationError as e:
            if scenario != 2:
                raise
            raise IntegrationError(
                f"cannot fit the prediction model on the S_A ∩ S_B intersection: {e}"
            ) from e
    _note_fit(diag, fit)
    work, pred = fit.predict_expr_grouped(cal.df)
    ya = F.col(y_A).cast("double")
    if scenario == 2:
        cells = _scenario_2(work, pred, indA, indB, ya, weights_A, group_cols, cal.N)
    else:
        cells = _scenario_3(work, pred, indA, indB, ya, y_B, group_cols, cal.N,
                            eval_model_performance, u_stats)
    # a group the fit never saw (no sample rows) has no estimate either
    fitted = set(fit.keys)
    unfit = cal.empty | np.array([k not in fitted for k in keys], dtype=bool)
    return _drop_empty(Estimates(cells, cal.sizes, b_df, "w_cal_B", fit), keys, unfit)


def _scenario_2(work, pred, indA, indB, ya, weights_A, group_cols, N) -> dict:
    """y unobserved in S_B: model on A∩B, combine (``PC.R:255-297``).

    term1 (over S_B) and term2 (over S_A) are indicator-masked sums over the
    same combined table, so they run as ONE fused aggregation; with no
    ``weights_A`` the constant d_A = N/n_A scales term2 on the driver."""
    wA = F.lit(1.0) if weights_A is None else F.col(weights_A).cast("double")
    rows = _collect_keyed(work, group_cols, [
        F.sum(F.when(indB, F.col("w_cal_B") * pred)).alias("t1"),
        F.sum(F.when(indA, wA * (ya - pred))).alias("t2"),
        F.sum(F.when(indA, 1).otherwise(0)).alias("n_A"),
    ])
    cells = {}
    for key, r in rows.items():
        t2 = (r["t2"] or 0.0) * (1.0 if weights_A else N[key] / max(r["n_A"], 1))
        cells[key] = Cell(float(((r["t1"] or 0.0) + t2) / N[key]))
    return cells


def _scenario_3(work, pred, indA, indB, ya, y_B, group_cols, N, eval_model_performance,
                u_stats) -> dict:
    """NMAR DR1 (``PC.R:299-354``):
    Yhat_DR1 = (sum_B w_cal_B*(y_B - yhat) + sum_U yhat) / N.

    The U-side prediction sum, the A-side residual stats, AND the B-side
    calibrated residual total are all masked sums over the same combined
    table — ONE fused aggregation after the model fit.  The reference's
    d_i_B holds the calibrated weights at this point (``PC.R:233``), zero
    off-B, so term1 only ranges over B rows (``PC.R:325``)."""
    aggs = [
        F.sum(F.when(indB, F.col("w_cal_B") * (F.col(y_B).cast("double") - pred))).alias("t1"),
        F.sum(F.when(indA, 1).otherwise(0)).alias("n_A"),
    ]
    if eval_model_performance:
        aggs += _fit_quality_aggs(indA, ya, pred)
    if u_stats is None:
        aggs.append(F.sum(pred).alias("sum_pred"))
    rows = _collect_keyed(work, group_cols, aggs)
    cells = {}
    for key, r in rows.items():
        est = ((r["t1"] or 0.0) + ((u_stats or rows)[key]["sum_pred"] or 0.0)) / N[key]
        rmse, r2 = _fit_quality(r) if eval_model_performance else (None, None)
        cells[key] = Cell(float(est), None, rmse, r2)
    return cells
