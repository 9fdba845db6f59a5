"""One body per RegDI/PC variant: the scalar front doors and the grouped
Monte Carlo names run the same code.  Pins that ``group_cols=[]`` IS the
scalar call, that bad arguments fail before any Spark job, the Spark jobs
each call costs, and the session's default CPU count."""

import os
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_integration_est_spark import montecarlo as mc
from data_integration_est_spark.estimators import vectorized as V
from data_integration_est_spark.estimators.pc import pc_estimator
from data_integration_est_spark.estimators.regdi import regdi
from data_integration_est_spark.kernels.gram import gram_aggregate

BOTH = dict(ind_var_A="muestra_A", ind_var_B="muestra_B")
SAME = dict(y_A_col="y_i", y_B_col="y_i", **BOTH)
AUX2 = ["x1_i", "x2_i"]


@pytest.fixture(scope="module")
def pop(spark):
    df = mc.nmar_grid_population(
        spark, N=2_000, n_sim=1, gammas=(0.0,), size_a=300, size_b=600, seed=77
    ).persist()
    df.count()
    yield df
    df.unpersist()


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` launched, counting jobs of threads it starts too
    (they carry no job group)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"jobs-{uuid.uuid4().hex}"

    def ids():
        return set(tracker.getJobIdsForGroup(None)) | set(tracker.getJobIdsForGroup(group))

    before = ids()
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(ids() - before)


SCALAR_CALLS = {
    "regdi_c0": lambda df: regdi(data=df, aux_vars=["x1_i"], **SAME),
    "regdi_c2": lambda df: regdi(data=df, y_A_col="y_i", y_B_col="tilde_y_i",
                                 correction=2, **BOTH),
    "regdi_c3": lambda df: regdi(data=df, aux_vars=["x1_i"], outcome_model="y_i ~ x_i",
                                 correction=3, **SAME),
    "pc_s1": lambda df: pc_estimator(data=df, aux_vars=AUX2, scenario=1, **SAME),
    "pc_s2": lambda df: pc_estimator(data=df, y_A_col="y_i", y_B_col="tilde_y_i",
                                     aux_vars=AUX2, scenario=2,
                                     outcome_model="y_i ~ tilde_y_i", **BOTH),
    "pc_s3": lambda df: pc_estimator(data=df, aux_vars=AUX2, scenario=3,
                                     outcome_model="y_i ~ x_i", **SAME),
}

# each grouped name with group_cols=[] next to the scalar call it must equal
EMPTY_GROUP_CALLS = {
    "regdi_c0": lambda df: V.regdi_c0_grouped(df, "y_i", "y_i", "muestra_A", "muestra_B",
                                              [], aux_vars=["x1_i"]),
    "regdi_c2": lambda df: V.regdi_c2_grouped(df, "y_i", "tilde_y_i", "muestra_A",
                                              "muestra_B", []),
    "regdi_c3": lambda df: V.regdi_dr_grouped(df, "y_i", "y_i", "muestra_A", "muestra_B",
                                              "y_i ~ x_i", [], aux_vars=["x1_i"]),
    "pc_s1": lambda df: V.pc_s1_grouped(df, "y_i", "muestra_B", AUX2, []),
    "pc_s2": lambda df: V.pc_s2_grouped(df, "y_i", "tilde_y_i", "muestra_A", "muestra_B",
                                        AUX2, "y_i ~ tilde_y_i", []),
    "pc_s3": lambda df: V.pc_dr1_grouped(df, "y_i", "y_i", "muestra_A", "muestra_B",
                                         AUX2, "y_i ~ x_i", []),
}


@pytest.mark.parametrize("name", sorted(EMPTY_GROUP_CALLS))
def test_empty_group_cols_is_the_scalar_call(pop, name):
    grouped = EMPTY_GROUP_CALLS[name](pop)
    assert list(grouped) == [()]
    est, se = grouped[()]
    r = SCALAR_CALLS[name](pop)
    want_est = r.mean if hasattr(r, "mean") else r.estimate
    assert est == pytest.approx(want_est, rel=1e-12)
    if se is None:
        assert r.se is None
    else:
        assert se == pytest.approx(r.se, rel=1e-12)


def test_fused_outcome_fit_equals_injected_fit_with_missing_values(pop):
    """A null predictor or a NaN response leaves the row out of the
    outcome model whether the fit rides the fused pass or is injected."""
    h = F.abs(F.hash("x_i"))
    df = pop.withColumns({
        "x_n": F.when(h % 7 == 0, F.lit(None).cast("double")).otherwise(F.col("x_i")),
        "y_n": F.when(h % 11 == 0, F.lit(float("nan"))).otherwise(F.col("y_i")),
    })
    model = "y_n ~ x_n"
    shared = V.fit_outcome_grouped(df, "muestra_A", model, [])
    complete = df.filter((F.col("muestra_A") == 1) & (h % 7 != 0) & (h % 11 != 0)).count()
    assert 0 < shared.n_obs == complete < df.filter(F.col("muestra_A") == 1).count()

    fused = pc_estimator(data=df, aux_vars=AUX2, scenario=3, outcome_model=model, **SAME)
    np.testing.assert_allclose(fused.model_coef, shared.coef_for(()), rtol=1e-12)
    injected = V.pc_dr1_grouped(df, "y_i", "y_i", "muestra_A", "muestra_B", AUX2, model,
                                [], fit=shared)
    assert injected[()][0] == pytest.approx(fused.estimate, rel=1e-12)

    got = regdi(data=df, aux_vars=["x1_i"], outcome_model=model, correction=3, **SAME)
    want = V.regdi_dr_grouped(df, "y_i", "y_i", "muestra_A", "muestra_B", model, [],
                              aux_vars=["x1_i"], fit=shared)[()]
    assert want[0] == pytest.approx(got.mean, rel=1e-12)
    assert want[1] == pytest.approx(got.se, rel=1e-12)


def test_gram_aggregate_counts_rows_not_weights(spark):
    """``GramResult.count`` counts the rows aggregated; a null in a weight
    expression leaves the row out of the sums only."""
    df = spark.createDataFrame([(1.0, 1.0), (2.0, None), (3.0, 2.0)], "x double, w double")
    g = gram_aggregate(df, ["x"], weight_col=F.col("w"))
    assert g.count.tolist() == [3]
    assert g.gram[0, 0, 0] == pytest.approx(1.0 + 9.0 * 2.0)
    assert gram_aggregate(df, ["x"], weight_col="w").count.tolist() == [2]


BAD_CALLS = {
    "regdi correction": (lambda df: regdi(data=df, correction=5, **SAME),
                         "invalid correction"),
    "regdi no outcome model": (lambda df: regdi(data=df, correction=3, **SAME),
                               "outcome_model"),
    "pc scenario": (lambda df: pc_estimator(data=df, scenario=4, **SAME),
                    "invalid scenario"),
    "pc model type": (lambda df: pc_estimator(data=df, aux_vars=AUX2, scenario=2,
                                              outcome_model="y_i ~ x_i",
                                              model_type="probit", **SAME),
                      "model_type"),
    "pc no outcome model": (lambda df: pc_estimator(data=df, aux_vars=AUX2, scenario=3,
                                                    **SAME),
                            "outcome_model"),
    "pc s1 without y_B": (lambda df: pc_estimator(data=df, y_A_col="y_i", aux_vars=AUX2,
                                                  scenario=1, **BOTH),
                          "y_B_col"),
    "grouped model type": (lambda df: V.pc_dr1_grouped(
        df, "y_i", "y_i", "muestra_A", "muestra_B", AUX2, "y_i ~ x_i", ["gamma"],
        model_type="probit"), "model_type"),
}


@pytest.mark.parametrize("name", sorted(BAD_CALLS))
def test_bad_arguments_fail_before_any_spark_job(spark, pop, name):
    call, match = BAD_CALLS[name]

    def run():
        with pytest.raises(ValueError, match=match):
            call(pop)

    assert _jobs(spark, run) == 0


# Spark jobs per call on the ``pop`` fixture (4 cores, 8 shuffle
# partitions), measured at the commit before the RegDI/PC bodies were
# merged; a call may not cost more.
JOBS_BEFORE = {
    "regdi_c0": 4, "regdi_c2": 6, "regdi_c3": 6,
    "pc_s1": 4, "pc_s2": 6, "pc_s3": 6,
    "run_nmar_study": 58,
}


@pytest.mark.parametrize("name", sorted(SCALAR_CALLS))
def test_scalar_call_jobs_do_not_grow(spark, pop, name):
    SCALAR_CALLS[name](pop)  # warm
    jobs = _jobs(spark, lambda: SCALAR_CALLS[name](pop))
    assert jobs <= JOBS_BEFORE[name], jobs


def test_nmar_study_jobs_do_not_grow(spark):
    def study():
        return mc.run_nmar_study(spark, N=2_000, n_sim=2, gammas=(0.0, 1.0), size_a=300,
                                 size_b=600, seed=5).summary.collect()

    jobs = _jobs(spark, study)
    assert jobs <= JOBS_BEFORE["run_nmar_study"], jobs


def test_default_cpu_count_follows_affinity(monkeypatch):
    from data_integration_est_spark import session

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session._cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session._cpus() == "3"
