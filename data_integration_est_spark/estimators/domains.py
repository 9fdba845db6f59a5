"""Domain (sub-population) estimation — the ``svyby`` companion surface.

The reference computes ONE population-level estimate per call
(``RegDI2.R:244-248``, ``PC.R:240-253``); its ecosystem's standard next
question is "the same estimate per domain" (region, stratum, source, ...)
— ``survey::svyby`` in R.  Here that is not a loop over domains: the
domain is the ``group_cols`` key of the SAME estimator body ``regdi()`` /
``pc_estimator()`` run, so every domain rides one fused groupBy pass
(sizes, totals, calibration Gram) plus one svymean pass, the per-domain
k x k solves are one stacked driver solve, the solved scalars return as
one broadcast join, and only O(k^2 * domains) scalars leave the
executors.  These wrappers return a tidy DataFrame, one row per domain.

Scale: identical plan shape at 5 domains or 50k domains — the pass count
is fixed; more domains just widen the (tiny) driver solve batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType, LongType, StructField, StructType,
)

from data_integration_est_spark.estimators.pc import _pc_body
from data_integration_est_spark.estimators.regdi import Estimates, _regdi_body
from data_integration_est_spark.util import local_df


def _to_df(data: DataFrame, domain_col: str, est: Estimates, round_to: int | None):
    def _r(v):
        if v is None:
            return None
        v = float(v)
        return round(v, round_to) if round_to is not None else v

    rows = []
    for key in sorted(est.cells, key=lambda k: (k[0] is None, k[0])):
        c = est.cells[key]
        na, nb = est.sizes.get(key, (0, 0))
        rows.append((key[0], _r(c.estimate), _r(c.se), na, nb))
    schema = StructType([
        StructField(domain_col, data.schema[domain_col].dataType, True),
        StructField("est_mean", DoubleType(), True),
        StructField("est_se", DoubleType(), True),
        StructField("n_a", LongType(), True),
        StructField("n_b", LongType(), True),
    ])
    return local_df(data.sparkSession, rows, schema)


def regdi_by(
    data: DataFrame,
    domain_col: str,
    y_A_col: str,
    y_B_col: str,
    ind_var_A: str,
    ind_var_B: str,
    aux_vars: list[str] | None = None,
    weights_A: str | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """Per-domain RegDI correction-0/1 (``RegDI2.R:126-193`` under a
    domain key): each domain is calibrated to ITS OWN population totals
    and gets its own linearized se — what a serial user would get from
    looping ``regdi`` over ``split(data, domain)``, in one distributed
    pass.  Returns (domain, est_mean, est_se, n_a, n_b), one row per
    domain, ordered by domain; a domain without S_A or S_B units has no
    estimate and no row."""
    est = _regdi_body(
        data, ind_var_A, ind_var_B, y_A_col, y_B_col, list(aux_vars or []), [domain_col],
        population=weights_A is None, weights_A=weights_A,
    )
    return _to_df(data, domain_col, est, round_to)


def pc_by(
    data: DataFrame,
    domain_col: str,
    y_B_col: str,
    ind_var_B: str,
    aux_vars: list[str],
    ind_var_A: str | None = None,
    weights_A: str | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """Per-domain PC scenario 1 (``PC.R:240-253`` under a domain key):
    the B sample of each domain calibrated to the domain's aux totals.
    Same output shape as ``regdi_by`` (n_a = 0 when no A indicator).  S_A
    is only needed for HT totals (``weights_A``): a domain without S_B
    units, or then without S_A units, has no row."""
    est = _pc_body(
        data, 1, None, y_B_col, ind_var_A, ind_var_B, list(aux_vars), list(aux_vars),
        [domain_col], population=weights_A is None, weights_A=weights_A,
    )
    return _to_df(data, domain_col, est, round_to)
