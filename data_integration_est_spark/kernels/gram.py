"""Gram-matrix aggregation — the shared kernel behind calibration, OLS,
IRLS logistic, and design-based variance (SURVEY.md §4.3-1).

Computes, in ONE distributed pass (optionally per group):

    G   = sum_i w_i * x_i x_i^T          (k x k, symmetric — k(k+1)/2 sums)
    c_y = sum_i w_i * x_i * y_i          (k-vector per target column y)
    sw  = sum_i w_i,  n = count(*)

k <= ~10 in every reference usage, so the aggregate row is tiny (< ~120
doubles); only this O(k^2 * groups) result ever reaches the driver.  The
data-side expression is pure Column arithmetic — whole-stage-codegen'd,
no Python in the hot path.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class GramResult:
    """Collected Gram aggregates.

    ``gram``: (g, k, k) stacked symmetric matrices, one per group (g=1 when
    ungrouped).  ``xy``: (g, k, m) cross-products for the m target columns.
    ``sum_w``: (g,) weight totals.  ``count``: (g,) row counts.
    ``keys``: list of group-key tuples aligned with axis 0.
    """

    x_cols: list[str]
    y_cols: list[str]
    keys: list[tuple]
    gram: np.ndarray
    xy: np.ndarray
    sum_w: np.ndarray
    count: np.ndarray

    def group_index(self) -> dict[tuple, int]:
        return {k: i for i, k in enumerate(self.keys)}


def _as_col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def gram_aggregate(
    df: DataFrame,
    x_cols: list[str],
    y_cols: list[str] | None = None,
    weight_col: str | Column | None = None,
    group_cols: list[str] | None = None,
) -> GramResult:
    """One-pass weighted cross-product aggregation; collects the k x k result.

    Null handling: rows with a null in any x/y/weight column are dropped
    (complete-case, matching R ``lm``'s ``na.action=na.omit``).
    """
    y_cols = list(y_cols or [])
    group_cols = list(group_cols or [])
    k = len(x_cols)
    if k == 0:
        raise ValueError("at least one design column is required")

    needed = list(dict.fromkeys(x_cols + y_cols))
    if isinstance(weight_col, str):
        needed.append(weight_col)
    df = df.na.drop(subset=needed)

    w = F.lit(1.0) if weight_col is None else _as_col(weight_col).cast("double")
    xs = [F.col(c).cast("double") for c in x_cols]
    ys = [F.col(c).cast("double") for c in y_cols]
    rows = df.groupBy(*group_cols).agg(*gram_sums(xs, ys, w, F.lit(1))).collect()
    return gram_collect({tuple(r[c] for c in group_cols): r for r in rows}, x_cols, y_cols)


def gram_sums(
    xs: list[Column], ys: list[Column], w: Column, counted: Column | None = None
) -> list[Column]:
    """The aggregates of one Gram (names private to it): ``sum w``, the
    count of rows where ``counted`` (default ``w``) is not null,
    ``sum w x x'`` and ``sum w x y`` — a null ``w`` leaves a row out, so a
    masked ``w`` lets the Gram ride another aggregation pass.
    :func:`gram_collect` reads them back."""
    k = len(xs)
    aggs: list[Column] = [
        F.sum(w).alias("__sw__"),
        F.count(w if counted is None else counted).alias("__n__"),
    ]
    for i in range(k):
        for j in range(i, k):
            aggs.append(F.sum(w * xs[i] * xs[j]).alias(f"__g_{i}_{j}__"))
    for i in range(k):
        for t in range(len(ys)):
            aggs.append(F.sum(w * xs[i] * ys[t]).alias(f"__c_{i}_{t}__"))
    return aggs


def gram_collect(rows: dict, x_cols: list[str], y_cols: list[str]) -> GramResult:
    """A :class:`GramResult` from collected :func:`gram_sums` rows
    (group key -> row)."""
    k, m, g = len(x_cols), len(y_cols), len(rows)
    gram = np.zeros((g, k, k))
    xy = np.zeros((g, k, m))
    sum_w = np.zeros(g)
    count = np.zeros(g, dtype=np.int64)
    for r, row in enumerate(rows.values()):
        sum_w[r] = row["__sw__"] or 0.0
        count[r] = row["__n__"] or 0
        for i in range(k):
            for j in range(i, k):
                gram[r, i, j] = gram[r, j, i] = row[f"__g_{i}_{j}__"] or 0.0
            for t in range(m):
                xy[r, i, t] = row[f"__c_{i}_{t}__"] or 0.0
    return GramResult(
        x_cols=list(x_cols), y_cols=list(y_cols), keys=list(rows), gram=gram, xy=xy,
        sum_w=sum_w, count=count,
    )
