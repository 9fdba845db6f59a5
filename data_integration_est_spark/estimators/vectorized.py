"""Replicate-vectorized estimators — the Monte Carlo engine.

The reference runs its Monte Carlo studies as a serial R loop
(``nb[4]:29-196``) or a ``parLapply`` process pool over (gamma, sim) cells
(``nb[23]:130-143``).  Here the replicate and grid dimensions are ordinary
key columns of ONE DataFrame and every estimator below computes ALL cells
at once.  The RegDI and PC names are thin front doors over the SAME bodies
``regdi()`` / ``pc_estimator()`` run (``estimators.regdi._regdi_body``,
``estimators.pc._pc_body``) with ``group_cols`` set: one fused groupBy
aggregation collects every cell's sizes, totals and calibration Gram, the
per-cell k x k solves are one stacked ``numpy.linalg.solve`` on the
driver, and the solved scalars return to executors via ONE broadcast join.
Per estimator call: the fused pass plus one estimate pass (plus a model-fit
pass for a logistic model; an OLS fit rides the fused pass unless a
shared fit is injected), independent of the number of replicates — the
100 TB-shaped replacement for a process pool.
``group_cols=[]`` is exactly the scalar call (no join).

Only O(k^2 * groups) scalars ever reach the driver (k <= ~6, groups =
|grid| x n_sim — thousands).  Group keys must not be named like internal
columns (``uno``, ``delta_*``, ``d_i_A``...).

Each function returns ``{group_key_tuple: (estimate, se | None)}``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_integration_est_spark.estimators.pc import PCCalibration, _calibrate_b, _pc_body
from data_integration_est_spark.estimators.regdi import (
    Estimates,
    _fit,
    _note_fit,
    _regdi_body,
)
from data_integration_est_spark.formula import Formula
from data_integration_est_spark.kernels.linalg import bind_group_values, fit_ols


def _pairs(est: Estimates) -> dict[tuple, tuple]:
    return {key: (c.estimate, c.se) for key, c in est.cells.items()}


def naive_mean_grouped(
    df: DataFrame, y_col: str, ind_col: str, group_cols: list[str]
) -> dict[tuple, tuple]:
    """Unweighted sample mean + SRS se per group (``nb[4]:37-49``)."""
    rows = (
        df.filter(F.col(ind_col) == 1)
        .groupBy(*group_cols)
        .agg(
            F.avg(F.col(y_col).cast("double")).alias("m"),
            F.stddev_samp(F.col(y_col).cast("double")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    return {
        tuple(r[c] for c in group_cols): (
            float(r["m"]),
            float(r["s"]) / float(r["n"]) ** 0.5 if r["s"] is not None else None,
        )
        for r in rows
    }


def weighted_mean_grouped(
    df: DataFrame, y_col: str, ind_col: str, weight_col: str, group_cols: list[str]
) -> dict[tuple, tuple]:
    """Design-weighted sample mean per group — ``svymean(~y, svydesign(
    weights=~d))`` point estimate (``nb[12]:36-38``)."""
    w = F.col(weight_col).cast("double")
    y = F.col(y_col).cast("double")
    rows = (
        df.filter(F.col(ind_col) == 1)
        .groupBy(*group_cols)
        .agg(F.sum(w * y).alias("swy"), F.sum(w).alias("sw"))
        .collect()
    )
    # null guards match the sibling grouped estimators: an all-NULL y (or
    # weight) group yields NaN instead of raising TypeError on float(None)
    return {
        tuple(r[c] for c in group_cols): (
            float(r["swy"]) / float(r["sw"])
            if r["swy"] is not None and (r["sw"] or 0.0) != 0.0
            else float("nan"),
            None,
        )
        for r in rows
    }


def regdi_c0_grouped(
    df: DataFrame,
    y_A_col: str,
    y_B_col: str,
    ind_var_A: str,
    ind_var_B: str,
    group_cols: list[str],
    aux_vars: list[str] | None = None,
    weights_A: str | None = None,
) -> dict[tuple, tuple]:
    """RegDI correction-0 for every group at once (``RegDI2.R:126-193,
    244-248`` vectorized).  Direct mode: each group is its own population.
    With ``weights_A`` the design weights come from that column and the
    population size is approximated by their sum (``RegDI2.R:106-116`` —
    the stratified-study call shape, ``nb[12]:48-76``)."""
    return _pairs(_regdi_body(
        df, ind_var_A, ind_var_B, y_A_col, y_B_col, list(aux_vars or []), group_cols,
        0, population=weights_A is None, weights_A=weights_A,
    ))


def regdi_c2_grouped(
    df: DataFrame,
    y_A_col: str,
    y_B_col: str,
    ind_var_A: str,
    ind_var_B: str,
    group_cols: list[str],
    aux_vars: list[str] | None = None,
    diag: dict | None = None,
) -> dict[tuple, tuple]:
    """RegDI correction-2 (measurement error) for every group at once
    (``RegDI2.R:250-307`` vectorized): per-group OLS of y_A on y_B over
    the A∩B overlap, de-bias, recalibrate.  A group whose overlap cannot
    fit the line yields NaN and counts in ``diag['degenerate_groups']``."""
    return _pairs(_regdi_body(
        df, ind_var_A, ind_var_B, y_A_col, y_B_col, list(aux_vars or []), group_cols,
        2, diag=diag,
    ))


def regdi_dr_grouped(
    df: DataFrame,
    y_A_col: str,
    y_B_col: str,
    ind_var_A: str,
    ind_var_B: str,
    outcome_model: str,
    group_cols: list[str],
    aux_vars: list[str] | None = None,
    diag: dict | None = None,
    fit=None,
    u_stats: dict | None = None,
) -> dict[tuple, tuple]:
    """RegDI correction-3 (doubly robust) for every group
    (``RegDI2.R:196-241`` vectorized):
    T = (sum_A w_cal*(y - yhat) + sum_U yhat)/N,
    V = var(w*(y - yhat))/n_A + var_U(yhat)/N.

    ``fit``/``u_stats``: share hooks for a precomputed outcome model
    (:func:`fit_outcome_grouped`) and its full-population prediction
    moments (:func:`u_pred_stats_grouped`)."""
    return _pairs(_regdi_body(
        df, ind_var_A, ind_var_B, y_A_col, y_B_col, list(aux_vars or []), group_cols,
        3, outcome_model=outcome_model, fit=fit, u_stats=u_stats, diag=diag,
    ))


def calibrated_b_grouped(
    df: DataFrame,
    ind_var_B: str,
    aux_vars: list[str],
    group_cols: list[str],
    weights_A: str | None = None,
    ind_var_A: str | None = None,
) -> PCCalibration:
    """The PC calibration step (``PC.R:180-237`` vectorized) on its own —
    several PC battery members calibrate the SAME B sample to the SAME aux
    totals, so the Monte Carlo harness computes it once and hands it to
    each member's ``calb=`` hook (the caller's responsibility to pass a
    same-arguments result).  Default: direct population sums; with
    ``weights_A`` (and ``ind_var_A``) Horvitz-Thompson totals from the
    weighted probability sample and N = their weight sum — the reference's
    two-table shape (``PC.R:188-199``, ``nb[12]:78-88``)."""
    return _calibrate_b(
        df, ind_var_A, ind_var_B, list(aux_vars), list(aux_vars), group_cols,
        population=weights_A is None, weights_A=weights_A,
    )


def pc_s1_grouped(
    df: DataFrame,
    y_B_col: str,
    ind_var_B: str,
    aux_vars: list[str],
    group_cols: list[str],
    weights_A: str | None = None,
    ind_var_A: str | None = None,
    calb: PCCalibration | None = None,
) -> dict[tuple, tuple]:
    """PC scenario 1 for every group at once (``PC.R:240-253`` vectorized);
    ``weights_A`` switches to HT-estimated aux totals (``PC.R:188-193``);
    ``calb``: a :func:`calibrated_b_grouped` result of the same arguments."""
    return _pairs(_pc_body(
        df, 1, None, y_B_col, ind_var_A, ind_var_B, list(aux_vars), list(aux_vars),
        group_cols, population=weights_A is None, weights_A=weights_A, calb=calb,
    ))


def pc_s2_grouped(
    df: DataFrame,
    y_A_col: str,
    y_B_col: str,
    ind_var_A: str,
    ind_var_B: str,
    aux_vars: list[str],
    outcome_model: str,
    group_cols: list[str],
    model_type: str = "normal",
    weights_A: str | None = None,
    diag: dict | None = None,
    calb: PCCalibration | None = None,
) -> dict[tuple, tuple]:
    """PC scenario 2 (y unobserved in B) for every group
    (``PC.R:255-297`` vectorized):
    Yhat = (sum_B w_cal_B*yhat + sum_A d_A*(y_A - yhat)) / N.
    ``model_type='logistic'`` runs the grouped IRLS GLM (``PC.R:274``);
    ``weights_A`` uses the design-weight column for d_A and HT totals."""
    est = _pc_body(
        df, 2, y_A_col, y_B_col, ind_var_A, ind_var_B, list(aux_vars), list(aux_vars),
        group_cols, population=weights_A is None, weights_A=weights_A,
        outcome_model=outcome_model, model_type=model_type, calb=calb, diag=diag,
    )
    return {key: (c.estimate, None) for key, c in est.cells.items()}


def pc_dr1_grouped(
    df: DataFrame,
    y_A_col: str,
    y_B_col: str,
    ind_var_A: str,
    ind_var_B: str,
    aux_vars: list[str],
    outcome_model: str,
    group_cols: list[str],
    model_type: str = "normal",
    eval_model_performance: bool = False,
    diag: dict | None = None,
    fit=None,
    calb: PCCalibration | None = None,
    u_stats: dict | None = None,
) -> dict[tuple, tuple]:
    """PC scenario-3 DR1 for every group (``PC.R:299-328`` vectorized):
    Yhat = (sum_B w_cal_B*(y_B - yhat) + sum_U yhat) / N.
    ``model_type='logistic'`` runs the grouped IRLS GLM (``PC.R:311``).

    With ``eval_model_performance`` each value tuple gains the
    per-group A-sample R² of the outcome model (``PC.R:330-340``,
    recorded by the nb[37] study) — the residual stats ride the same
    pass as masked sums, no extra job.  Share hooks: ``fit`` (a
    :func:`fit_outcome_grouped` model), ``calb`` (a
    :func:`calibrated_b_grouped` result) and ``u_stats`` (its
    :func:`u_pred_stats_grouped` moments under the SAME fit)."""
    est = _pc_body(
        df, 3, y_A_col, y_B_col, ind_var_A, ind_var_B, list(aux_vars), list(aux_vars),
        group_cols, outcome_model=outcome_model, model_type=model_type,
        eval_model_performance=eval_model_performance, fit=fit, calb=calb,
        u_stats=u_stats, diag=diag,
    )
    if eval_model_performance:
        return {key: (c.estimate, None, c.r2) for key, c in est.cells.items()}
    return {key: (c.estimate, None) for key, c in est.cells.items()}


def fit_outcome_grouped(
    df: DataFrame,
    ind_var_A: str,
    outcome_model: str,
    group_cols: list[str],
    model_type: str = "normal",
):
    """The outcome-model fit the DR estimators run internally
    (A-sample, grouped) as a standalone call — EXACTLY the statement
    ``pc_dr1_grouped``/``regdi_dr_grouped`` issue, so a battery whose
    members share (sample, formula) can compute it once and inject it
    via their ``fit=`` hooks."""
    formula = Formula.parse(outcome_model).resolve(df.columns)
    return _fit(df.filter(F.col(ind_var_A) == 1), formula, model_type, group_cols)


def u_pred_stats_grouped(df: DataFrame, fit, group_cols: list[str]) -> dict:
    """Full-population prediction moments under ``fit``: key ->
    Row(sum_pred, var_pred), callable once and shared with every DR
    battery member that uses the SAME fit (``u_stats=`` hooks)."""
    u_join, u_pred = fit.predict_expr_grouped(df)
    u_rows = (
        u_join.select(*group_cols, u_pred.alias("__yhat__"))
        .groupBy(*group_cols)
        .agg(F.sum("__yhat__").alias("sum_pred"),
             F.var_samp("__yhat__").alias("var_pred"))
        .collect()
    )
    return {tuple(r[c] for c in group_cols): r for r in u_rows}


def clw_grouped(
    df: DataFrame,
    y_col: str,
    x_cols: list[str],
    ind_var_A: str,
    ind_var_B: str,
    group_cols: list[str],
    weights_A: str | None = None,
    n_iter: int = 8,
    outcome_x_cols: list[str] | None = None,
    variance: bool = True,
    diag: dict | None = None,
) -> dict[tuple, tuple]:
    """Chen–Li–Wu propensity-weighted integration for EVERY group in
    one battery pass — the grouped twin of ``estimators/ipw.
    propensity_weighted_mean`` (same pseudo-likelihood, same Hajek IPW
    / DR estimators, same plug-in sandwich SEs), which lets the CLW
    estimators sit in the MC bias/SE tables next to the reference
    families (``nb[23]:113-127`` report an SE for every estimator).

    Returns ``key -> (mean_ipw, se_ipw, mean_dr, se_dr)``.

    ``weights_A=None`` derives the self-representing design weight
    d_g = N_g / n_A,g per group (the MC grid layout, where each cell
    carries the full population) — the same convention as
    ``pc_s2_grouped``.  Groups whose pseudo-likelihood Hessian is
    singular yield NaN and are counted in ``diag['degenerate_groups']``.

    Cost: n_iter + 3 grouped aggregation passes (Newton score/Hessian
    per step; one OLS Gram via ``fit_ols``; one estimate+moment pass;
    one squared-influence variance pass) — per-group k x k solves on
    the driver, nothing O(N)."""
    if outcome_x_cols is None:
        outcome_x_cols = list(x_cols)
    if n_iter < 1:
        # diag['newton_passes'] reads the loop variable after the Newton
        # loop; zero passes would also silently return the theta=0 start
        raise ValueError(f"n_iter must be >= 1; got {n_iter}")
    k = len(x_cols) + 1
    ko = len(outcome_x_cols) + 1
    a = f"CAST({ind_var_A} AS DOUBLE)"
    b = f"CAST({ind_var_B} AS DOUBLE)"
    y = f"COALESCE(CAST({y_col} AS DOUBLE), 0.0)"
    xs = ["1.0"] + [f"CAST({c} AS DOUBLE)" for c in x_cols]
    oxs = ["1.0"] + [f"CAST({c} AS DOUBLE)" for c in outcome_x_cols]

    # Every moment below is a- or b-masked, so rows in NEITHER sample
    # contribute exactly zero to every sum — drop them once instead of
    # scanning them n_iter + 3 times (the MC grid layout carries the
    # full population per cell: A + B is ~2.5% of rows there).  The
    # population size for the default d = N/n_A is taken BEFORE the cut.
    in_sample = (F.col(ind_var_A) == 1) | (F.col(ind_var_B) == 1)
    if weights_A is not None:
        d = f"COALESCE(CAST({weights_A} AS DOUBLE), 0.0)"
        base = df.filter(in_sample)
        keys0 = [tuple(r[c] for c in group_cols)
                 for r in df.select(*group_cols).distinct().collect()]
    else:
        n_rows = {
            tuple(r[c] for c in group_cols): r
            for r in df.groupBy(*group_cols).agg(
                F.count(F.lit(1)).alias("nt"),
                F.sum(F.col(ind_var_A).cast("double")).alias("na"),
            ).collect()
        }
        keys0 = sorted(n_rows)
        dA = [float(n_rows[k]["nt"]) / max(float(n_rows[k]["na"] or 0.0), 1.0) for k in keys0]
        base = bind_group_values(df.filter(in_sample), group_cols, keys0,
                                 {"__dA__": np.array(dA)})
        d = "__dA__"
    # n_iter + 3 passes re-read this small (A ∪ B) frame: cache it so
    # each Newton step scans ~|A|+|B| rows, not the full population
    # (data-proportional partition count: the Newton passes pay a fixed
    # per-task floor on near-empty partitions otherwise)
    from data_integration_est_spark.util import adaptive_coalesce

    base = adaptive_coalesce(base).persist()
    # the cached (A ∪ B) frame must be released even when a solve
    # or collect raises mid-battery (else repeated failing MC runs
    # accumulate leaked executor cache blocks)
    try:

        thetas: dict[tuple, np.ndarray] = {key: np.zeros(k) for key in keys0}
        tcols = [f"__t{i}__" for i in range(k)]
        bad_keys: set = set()

        def bind_thetas(frame: DataFrame) -> DataFrame:
            th = np.array([thetas[key] for key in keys0]).reshape(len(keys0), k)
            return bind_group_values(frame, group_cols, keys0, dict(zip(tcols, th.T)))

        def eta_sql() -> str:
            return "(" + " + ".join(f"{tcols[i]} * {xs[i]}" for i in range(k)) + ")"

        for _it in range(n_iter):
            work = bind_thetas(base)
            # 1e-300 floor: an underflowed sigmoid (exact 0.0 at extreme
            # negative eta) would raise ANSI DIVIDE_BY_ZERO in every /p
            # moment; the floor binds only past double underflow (see
            # estimators/ipw.py)
            p = f"greatest(1e-300, (1.0 / (1.0 + exp(-{eta_sql()}))))"
            aggs = []
            for i in range(k):
                aggs.append(
                    F.expr(f"sum({b} * {xs[i]} - {a} * {d} * {p} * {xs[i]})")
                    .alias(f"u{i}")
                )
                for j in range(i, k):
                    aggs.append(
                        F.expr(
                            f"sum({a} * {d} * {p} * (1.0 - {p})"
                            f" * {xs[i]} * {xs[j]})"
                        ).alias(f"h{i}{j}")
                    )
            rows = work.groupBy(*group_cols).agg(*aggs).collect()
            max_step = 0.0
            for r in rows:
                key = tuple(r[c] for c in group_cols)
                if key in bad_keys:
                    continue
                H = np.empty((k, k))
                for i in range(k):
                    for j in range(i, k):
                        H[i, j] = H[j, i] = float(r[f"h{i}{j}"] or 0.0)
                U = np.array([float(r[f"u{i}"] or 0.0) for i in range(k)])
                try:
                    step = np.linalg.solve(H, U)
                except np.linalg.LinAlgError:
                    bad_keys.add(key)
                    continue
                thetas[key] = thetas[key] + step
                max_step = max(max_step, float(np.max(np.abs(step))))
            # every group converged: stop paying grid passes (Newton on the
            # smooth pseudo-likelihood typically lands in 5-6 iterations;
            # below 1e-10 further steps are FP noise, so the early stop is
            # invisible at the vectorized==scalar 1e-9 pin)
            if max_step < 1e-10:
                break

        if diag is not None:
            diag["newton_passes"] = diag.get("newton_passes", 0) + _it + 1
        if diag is not None and bad_keys:
            diag["degenerate_groups"] = (
                diag.get("degenerate_groups", 0) + len(bad_keys)
            )

        # outcome model on B (one grouped Gram); m(x) rides as a column
        fit = fit_ols(
            base.filter(F.col(ind_var_B) == 1), y_col=y_col,
            x_cols=list(outcome_x_cols), group_cols=group_cols,
        )
        _note_fit(diag, fit)

        work, m_col = fit.predict_expr_grouped(bind_thetas(base))
        p_c = F.expr(f"greatest(1e-300, (1.0 / (1.0 + exp(-{eta_sql()}))))")
        a_c, b_c = F.expr(a), F.expr(b)
        d_c, y_c = F.expr(d), F.expr(y)
        work = work.withColumn("__m__", m_col)
        m_c = F.col("__m__")

        aggs = [
            F.sum(a_c).alias("na"), F.sum(b_c).alias("nb"),
            F.sum(a_c * d_c).alias("nhat"),
            F.sum(b_c / p_c).alias("sinv"),
            F.sum(b_c * y_c / p_c).alias("sy"),
            F.sum(b_c * (y_c - m_c) / p_c).alias("sres"),
            F.sum(a_c * d_c * m_c).alias("sma"),
        ]
        if variance:
            for i in range(k):
                xi = F.expr(xs[i])
                for j in range(i, k):
                    aggs.append(
                        F.sum(a_c * d_c * p_c * (1.0 - p_c) * xi * F.expr(xs[j]))
                        .alias(f"h{i}{j}")
                    )
                aggs.append(
                    F.sum(b_c * (1.0 - p_c) / p_c * y_c * xi).alias(f"gy{i}")
                )
                aggs.append(F.sum(b_c * (1.0 - p_c) / p_c * xi).alias(f"gs{i}"))
                aggs.append(
                    F.sum(b_c * (1.0 - p_c) / p_c * (y_c - m_c) * xi)
                    .alias(f"gt{i}")
                )
            for i in range(ko):
                oxi = F.expr(oxs[i])
                aggs.append(F.sum(b_c * oxi / p_c).alias(f"gb1{i}"))
                aggs.append(F.sum(a_c * d_c * oxi).alias(f"gb2{i}"))
            # the per-group B Gram (ko x ko sums) rides the same pass —
            # it depends on nothing computed later, so a separate
            # grouped scan of `base` would be a pure extra pass
            for i in range(ko):
                for j in range(i, ko):
                    aggs.append(
                        F.expr(f"sum({b} * {oxs[i]} * {oxs[j]})")
                        .alias(f"xx{i}{j}")
                    )
        est_rows = {tuple(r[c] for c in group_cols): r
                    for r in work.groupBy(*group_cols).agg(*aggs).collect()}

        out: dict[tuple, tuple] = {}
        sol: dict[tuple, tuple] = {}
        nan4 = (float("nan"), None, float("nan"), None)
        for key, r in est_rows.items():
            sinv_ok = r["sinv"] is not None and 0.0 < float(r["sinv"]) < 1e100
            if key in bad_keys or not r["nb"] or not r["nhat"] or not sinv_ok:
                # sinv >= 1e100 marks a diverged ((quasi-)separable)
                # propensity fit: some B unit's p underflowed, 1/p exploded
                out[key] = nan4
                if diag is not None and not sinv_ok and key not in bad_keys:
                    diag["degenerate_groups"] = (
                        diag.get("degenerate_groups", 0) + 1
                    )
                continue
            mu_i = float(r["sy"] or 0.0) / float(r["sinv"])
            mu_d = (float(r["sres"] or 0.0) + float(r["sma"] or 0.0)) / float(
                r["nhat"]
            )
            out[key] = (mu_i, None, mu_d, None)
            if not variance or int(r["na"]) < 2:
                continue
            Hf = np.empty((k, k))
            for i in range(k):
                for j in range(i, k):
                    Hf[i, j] = Hf[j, i] = float(r[f"h{i}{j}"] or 0.0)
            gy = np.array([float(r[f"gy{i}"] or 0.0) for i in range(k)])
            gs = np.array([float(r[f"gs{i}"] or 0.0) for i in range(k)])
            gt = np.array([float(r[f"gt{i}"] or 0.0) for i in range(k)])
            gb = -np.array([float(r[f"gb1{i}"] or 0.0) for i in range(ko)]) + \
                np.array([float(r[f"gb2{i}"] or 0.0) for i in range(ko)])
            try:
                b_ipw = np.linalg.solve(Hf, -(gy - mu_i * gs))
                bt = np.linalg.solve(Hf, -gt)
            except np.linalg.LinAlgError:
                continue
            sol[key] = (mu_i, mu_d, b_ipw, bt, gb)
        # groups present in df but with NO in-sample rows never reach
        # est_rows (`base` is filtered to A ∪ B), so they would vanish
        # from the result despite the every-group contract: emit the
        # documented NaN tuple and count them degenerate
        for key in thetas:
            if key not in out:
                out[key] = nan4
                if diag is not None:
                    diag["degenerate_groups"] = (
                        diag.get("degenerate_groups", 0) + 1
                    )
        # bb needs the per-group B Gram, already collected in the
        # estimate pass (the xx{i}{j} aggregates ride `aggs` above)
        if variance and sol:
            names = (
                ["__mu_i__", "__mu_d__"]
                + [f"__bi{i}__" for i in range(k)]
                + [f"__bt{i}__" for i in range(k)]
                + [f"__bb{i}__" for i in range(ko)]
            )
            folded = {}
            for key, (mu_i, mu_d, b_ipw, bt, gb) in sol.items():
                r = est_rows[key]
                G = np.empty((ko, ko))
                for i in range(ko):
                    for j in range(i, ko):
                        G[i, j] = G[j, i] = float(r[f"xx{i}{j}"] or 0.0)
                try:
                    bb = np.linalg.solve(G, gb)
                except np.linalg.LinAlgError:
                    continue
                folded[key] = (mu_i, mu_d, *b_ipw, *bt, *bb)
            if folded:
                # groups left out of `folded` bind nulls and are skipped below
                fkeys = list(folded)
                fvals = np.array([folded[key] for key in fkeys]).reshape(len(fkeys), len(names))
                vwork = bind_group_values(bind_thetas(base), group_cols, fkeys,
                                          dict(zip(names, fvals.T)))
                vwork, m2 = fit.predict_expr_grouped(vwork)
                vwork = vwork.withColumn("__m__", m2)
                bx = sum(
                    (F.col(f"__bi{i}__") * F.expr(xs[i]) for i in range(k)),
                    F.lit(0.0),
                )
                btx = sum(
                    (F.col(f"__bt{i}__") * F.expr(xs[i]) for i in range(k)),
                    F.lit(0.0),
                )
                bbo = sum(
                    (F.col(f"__bb{i}__") * F.expr(oxs[i]) for i in range(ko)),
                    F.lit(0.0),
                )
                mu_i_c, mu_d_c = F.col("__mu_i__"), F.col("__mu_d__")
                m_c2 = F.col("__m__")
                zdr = d_c * ((m_c2 - mu_d_c) - p_c * btx)
                vrows = (
                    vwork.groupBy(*group_cols)
                    .agg(
                        F.sum(
                            b_c * (1.0 - p_c)
                            * F.pow((y_c - mu_i_c) / p_c + bx, F.lit(2.0))
                        ).alias("vb_i"),
                        F.sum(a_c * d_c * p_c * bx).alias("za1"),
                        F.sum(a_c * F.pow(d_c * p_c * bx, F.lit(2.0)))
                        .alias("za2"),
                        F.sum(
                            b_c * (1.0 - p_c)
                            * F.pow(
                                (y_c - m_c2) / p_c + btx + bbo * (y_c - m_c2),
                                F.lit(2.0),
                            )
                        ).alias("vb_d"),
                        F.sum(a_c * zdr).alias("zd1"),
                        F.sum(a_c * F.pow(zdr, F.lit(2.0))).alias("zd2"),
                    )
                    .collect()
                )
                for r in vrows:
                    key = tuple(r[c] for c in group_cols)
                    if key not in folded:
                        continue
                    er = est_rows[key]
                    na = float(er["na"])
                    mu_i, mu_d = out[key][0], out[key][2]

                    def _wr(s1, s2):
                        return na / (na - 1.0) * (s2 - s1 * s1 / na)

                    v_i = max(
                        (float(r["vb_i"] or 0.0)
                         + _wr(float(r["za1"] or 0.0), float(r["za2"] or 0.0)))
                        / float(er["sinv"]) ** 2,
                        0.0,
                    )
                    v_d = max(
                        (float(r["vb_d"] or 0.0)
                         + _wr(float(r["zd1"] or 0.0), float(r["zd2"] or 0.0)))
                        / float(er["nhat"]) ** 2,
                        0.0,
                    )
                    out[key] = (mu_i, float(np.sqrt(v_i)), mu_d,
                                float(np.sqrt(v_d)))
    finally:
        base.unpersist()
    return out
