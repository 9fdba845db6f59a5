"""Monte Carlo study harness — replicate-column vectorization (SURVEY.md
§2.8 O1-O3).

The reference's NMAR study (``nb[23]``) runs ``run_simulation(gamma, sim)``
in an R ``parLapply`` pool over an 11-gamma x 100-sim grid, each cell
regenerating a population and calling ~9 estimators.  Here the whole grid
is ONE DataFrame keyed by (gamma, sim_id, unit id):

- population columns are pure functions of (sim_id, id, seed) — identical
  across gamma values for a given sim, mirroring the reference's
  ``seed_base = sim`` discipline (``nb[23]:14``);
- S_A is an exact-size SRS per sim; S_B is an exact-size unequal-
  probability (NMAR logistic) draw per (gamma, sim) — both as ranked
  windows, one shuffle for the entire grid;
- every estimator runs once over all cells via the grouped kernels
  (``estimators.vectorized``) — stacked driver solves, broadcast joins.

Total shuffle count for a full grid study: ~10, independent of grid size.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

from data_integration_est_spark import rng, sampling
from data_integration_est_spark.estimators import vectorized as V
from data_integration_est_spark.util import adaptive_coalesce, local_df

Y_TRUE = 3.0  # the S1/S3 population mean (``nb[4]:9``)


def _run_battery(tasks: dict) -> dict:
    """Run the per-study estimator battery CONCURRENTLY: each estimator is
    a chain of Spark jobs punctuated by tiny driver collects/solves, so
    sequential execution leaves the cluster idle between jobs.  Spark's
    scheduler interleaves jobs submitted from different threads (FIFO
    within a pool), overlapping one estimator's shuffle with another's
    driver solve — same results (all randomness is hash-derived, no
    shared mutable state), ~2-3x lower study wall-clock.  The thread
    count only bounds DRIVER-side concurrency; executor slots are
    arbitrated by the scheduler as usual."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(len(tasks), 8)) as ex:
        futures = {name: ex.submit(fn) for name, fn in tasks.items()}
        return {name: f.result() for name, f in futures.items()}


def nmar_grid_population(
    spark: SparkSession,
    N: int = 10_000,
    n_sim: int = 10,
    gammas: tuple[float, ...] = (0.0, 0.5, 1.0),
    size_a: int = 500,
    size_b: int = 2_000,
    c: float = 3.0,
    seed: int = 1234,
    stream: str = "xxhash64",
) -> DataFrame:
    """The expanded (gamma x sim x unit) NMAR population
    (``generate_population_NMAR`` x grid, ``nb[18]:2-51`` + ``nb[23]:1-14``).

    Generation is shuffle-free (range + hash-derived columns); the two
    exact-size draws are each one ranked window over the grid.
    ``stream="md5"`` derives every draw from the engine-portable hash
    stream (``rng``), making the WHOLE population — normals, both
    exact-size sample draws — replayable in a pure-SQL oracle."""
    base = (
        spark.range(n_sim * N)
        .select(
            (F.col("id") / N).cast("long").alias("sim_id"),
            (F.col("id") % N + 1).alias("uid"),
        )
        .withColumn("sim_id", F.col("sim_id") + 1)
    )
    keys = ["sim_id", "uid"]
    x = rng.normal(keys, seed, "x", mean=2.0, sd=1.0, stream=stream)
    base = base.withColumn("x_i", x)
    eta = rng.normal(keys, seed, "eta", sd=math.sqrt(0.51), stream=stream)
    base = base.withColumn("y_i", F.lit(3.0) + F.lit(0.7) * (F.col("x_i") - 2.0) + eta)
    # the contaminated proxy measured in S_B (``nb[2]:13``): scale/location
    # bias + noise — the Scenario-II outcome
    base = base.withColumn(
        "tilde_y_i",
        F.lit(2.0) + F.lit(0.9) * (F.col("y_i") - 3.0)
        + rng.normal(keys, seed, "tl", sd=0.5, stream=stream),
    )
    base = (
        base.withColumn("x1_i", F.when(F.col("x_i") <= 2.0, 1.0).otherwise(0.0))
        .withColumn("x2_i", F.when(F.col("x_i") > 2.0, 1.0).otherwise(0.0))
    )
    # S_A per sim (gamma-invariant), before the gamma expansion
    base = sampling.grouped_exact(
        base, key_cols=keys, group_cols=["sim_id"], n=size_a, seed=seed,
        out_col="muestra_A", tag="A", stream=stream,
    )

    gamma_df = local_df(spark, 
        [(float(g),) for g in gammas],
        StructType([StructField("gamma", DoubleType(), False)]),
    )
    grid = base.crossJoin(F.broadcast(gamma_df))
    prob = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-F.col("gamma") * (F.col("y_i") - F.lit(c)))
    )
    grid = grid.withColumn("__prob__", prob)
    # the A-ES keys are seeded by (sim_id, uid) only — the same underlying
    # uniforms across gamma values, as in the reference's per-sim seeding
    grid = sampling.grouped_exact(
        grid, key_cols=keys, group_cols=["gamma", "sim_id"], n=size_b, seed=seed,
        prob_col="__prob__", out_col="muestra_B", tag="B", stream=stream,
    )
    return grid.drop("__prob__")


@dataclass
class MCResult:
    """Per-cell estimates + the bias/SE/RMSE summary (both lazy-free)."""

    estimates: DataFrame  # (gamma, sim_id, estimator, estimate, se)
    summary: DataFrame    # (gamma, estimator, bias_mean, bias_sd, rmse, n_sim)
    # per-estimator fit health: {estimator: {n_fits, unconverged,
    # degenerate_groups}} for every battery member that fits a model —
    # silent numerical trouble in a big grid (IRLS at max_iter, an
    # undersized cell NaN'd by the grouped solvers) surfaces here instead
    # of only as a RuntimeWarning in the driver log.
    diagnostics: dict[str, dict] | None = None


@dataclass
class NMARv2Result:
    """The nb[37]-nb[42] end-to-end study artifacts."""

    results_wide: DataFrame  # (sim_id, gamma, mean_<est>_sd_<tag>, R2_..., ...) — the CSV shape
    bias_long: DataFrame     # (sim_id, gamma, estimator, sd, bias)
    summary: DataFrame       # (gamma, sd, estimator, bias_mean, bias_sd, rmse)
    anova: DataFrame         # Type-I table for bias ~ sd * gamma + estimator
    r2_summary: DataFrame | None = None  # (gamma, sd, estimator, r2_mean, r2_sd)


def run_nmar_study(
    spark: SparkSession,
    N: int = 10_000,
    n_sim: int = 10,
    gammas: tuple[float, ...] = (0.0, 0.5, 1.0),
    size_a: int = 500,
    size_b: int = 2_000,
    seed: int = 1234,
    y_true: float = Y_TRUE,
) -> MCResult:
    """The vectorized analogue of the reference's NMAR grid study
    (``nb[23]:130-159`` + the summary at ``nb[25]``): estimators
    Mean_S_A, Mean_S_B, RegDI_X1, PC_X1_X2, PC_DR, RegDI_DR per cell —
    plus (r10) CLW_IPW / CLW_DR, the Chen–Li–Wu propensity-weighted
    estimators with their plug-in sandwich SEs, sitting in the same
    bias/SE tables (``nb[23]:113-127`` report an SE per estimator).
    Under gamma > 0 the B-selection is NMAR, so CLW's ignorable-given-x
    propensity is misspecified by construction — its bias growth along
    the gamma axis is the informative row, exactly like Mean_S_B's."""
    pop = nmar_grid_population(
        spark, N=N, n_sim=n_sim, gammas=gammas, size_a=size_a, size_b=size_b,
        seed=seed,
    )
    # persist ONLY the columns the battery reads (guide §5/§2.3: project
    # before you materialize).  uid and tilde_y_i are unused by this
    # study's battery; pruning them lets Catalyst drop the tilde_y_i
    # Box-Muller stream (one of four per-row normals) from the cache
    # build entirely and narrows every battery scan.  The kept columns'
    # values are untouched — each RNG stream is an independent function
    # of (sim_id, uid, seed, tag).
    pop_cache = pop.select(
        "gamma", "sim_id", "y_i", "x_i", "x1_i", "x2_i",
        "muestra_A", "muestra_B",
    ).persist()
    pop_cache.count()
    pop = adaptive_coalesce(pop_cache)  # materialize once before the concurrent battery
    g = ["gamma", "sim_id"]
    diags: dict[str, dict] = {"PC_DR": {}, "RegDI_DR": {}, "CLW": {}}
    # shared battery prep (r17, guide §1.2/§2.4): PC_X1_X2 and PC_DR
    # calibrate the SAME B sample to the SAME aux totals; PC_DR and
    # RegDI_DR fit the IDENTICAL outcome model on the identical A
    # sample and both need its full-population prediction moments.
    # Compute each ONCE on prep futures so the battery still overlaps
    # (futures start immediately; battery thunks block on .result()).
    from concurrent.futures import ThreadPoolExecutor

    prep = ThreadPoolExecutor(max_workers=3)
    f_calb = prep.submit(
        V.calibrated_b_grouped, pop, "muestra_B", ["x1_i", "x2_i"], g
    )
    f_fit = prep.submit(
        V.fit_outcome_grouped, pop, "muestra_A", "y_i ~ x_i", g
    )
    f_ust = prep.submit(
        lambda: V.u_pred_stats_grouped(pop, f_fit.result(), g)
    )
    try:
        results: dict[str, dict[tuple, tuple]] = _run_battery({
            "Mean_S_A": lambda: V.naive_mean_grouped(pop, "y_i", "muestra_A", g),
            "Mean_S_B": lambda: V.naive_mean_grouped(pop, "y_i", "muestra_B", g),
            "RegDI_X1": lambda: V.regdi_c0_grouped(
                pop, "y_i", "y_i", "muestra_A", "muestra_B", g, aux_vars=["x1_i"]
            ),
            "PC_X1_X2": lambda: V.pc_s1_grouped(
                pop, "y_i", "muestra_B", ["x1_i", "x2_i"], g,
                calb=f_calb.result(),
            ),
            "PC_DR": lambda: V.pc_dr1_grouped(
                pop, "y_i", "y_i", "muestra_A", "muestra_B", ["x1_i", "x2_i"],
                "y_i ~ x_i", g, diag=diags["PC_DR"], fit=f_fit.result(),
                calb=f_calb.result(), u_stats=f_ust.result(),
            ),
            "RegDI_DR": lambda: V.regdi_dr_grouped(
                pop, "y_i", "y_i", "muestra_A", "muestra_B", "y_i ~ x_i", g,
                aux_vars=["x1_i"], diag=diags["RegDI_DR"],
                fit=f_fit.result(), u_stats=f_ust.result(),
            ),
            "_CLW": lambda: V.clw_grouped(
                pop, "y_i", ["x_i"], "muestra_A", "muestra_B", g,
                n_iter=8, diag=diags["CLW"],
            ),
        })
    finally:
        prep.shutdown(wait=False)
        pop_cache.unpersist()
    clw = results.pop("_CLW")
    results["CLW_IPW"] = {k: (v[0], v[1]) for k, v in clw.items()}
    results["CLW_DR"] = {k: (v[2], v[3]) for k, v in clw.items()}
    return _summarize(spark, results, y_true, diagnostics=diags)


def run_contaminated_study(
    spark: SparkSession,
    N: int = 10_000,
    n_sim: int = 10,
    gammas: tuple[float, ...] = (0.0, 0.5),
    size_a: int = 500,
    size_b: int = 2_000,
    seed: int = 1234,
    y_true: float = Y_TRUE,
) -> MCResult:
    """Scenario II (``nb[4]`` cells 2-5): S_B observes only the
    CONTAMINATED proxy tilde_y = 2 + 0.9(y-3) + noise.  Estimators and
    their estimands (the reference mixes scales here, deliberately):

    - Mean_S_B_tilde — naive proxy mean; biased ~-1 for E[y].
    - RegDI_tilde — correction 0/1 with y_B = tilde (exactly the
      notebook's Scenario-II call, ``nb[5]:48-57``): calibrating to the
      proxy total does NOT bias the calibrated mean of the clean y_A —
      unbiased for E[y] (the golden 0.000 row of cell 4).
    - RegDI_C2 — correction 2 maps y_A onto B's scale via the inverse
      measurement fit (``RegDI2.R:264-266``), i.e. it treats S_B as the
      gold standard: unbiased for the PROXY-scale mean E[tilde] = 2, and
      summarized against that truth.
    - PC_S2 — scenario 2 predicts the clean y from the proxy on the A∩B
      overlap: unbiased for E[y].
    """
    pop = nmar_grid_population(
        spark, N=N, n_sim=n_sim, gammas=gammas, size_a=size_a, size_b=size_b,
        seed=seed,
    )
    # battery-column pruning before the persist (see run_nmar_study):
    # this study's members read y_i/tilde_y_i but never uid or x_i
    pop_cache = pop.select(
        "gamma", "sim_id", "y_i", "tilde_y_i", "x1_i", "x2_i",
        "muestra_A", "muestra_B",
    ).persist()
    pop_cache.count()
    pop = adaptive_coalesce(pop_cache)  # materialize once before the concurrent battery
    g = ["gamma", "sim_id"]
    diags: dict[str, dict] = {"RegDI_C2": {}, "PC_S2": {}}
    try:
        results: dict[str, dict[tuple, tuple]] = _run_battery({
            "Mean_S_B_tilde": lambda: V.naive_mean_grouped(pop, "tilde_y_i", "muestra_B", g),
            "RegDI_tilde": lambda: V.regdi_c0_grouped(
                pop, "y_i", "tilde_y_i", "muestra_A", "muestra_B", g
            ),
            "RegDI_C2": lambda: V.regdi_c2_grouped(
                pop, "y_i", "tilde_y_i", "muestra_A", "muestra_B", g,
                diag=diags["RegDI_C2"],
            ),
            "PC_S2": lambda: V.pc_s2_grouped(
                pop, "y_i", "tilde_y_i", "muestra_A", "muestra_B",
                ["x1_i", "x2_i"], "y_i ~ tilde_y_i", g, diag=diags["PC_S2"],
            ),
        })
    finally:
        pop_cache.unpersist()
    tilde_true = 2.0 + 0.9 * (y_true - 3.0)
    return _summarize(
        spark, results, y_true, y_true_by_est={"RegDI_C2": tilde_true},
        diagnostics=diags,
    )


def stratified_grid_population(
    spark: SparkSession,
    N: int = 10_000,
    n_sim: int = 5,
    n_A_total: int = 500,
    n_B_total: int = 3_000,
    seed: int = 123,
    stream: str = "xxhash64",
) -> DataFrame:
    """The expanded (sim x unit) stratified population (S2 x grid,
    ``nb[7]`` + ``nb[12]:26-30``): 4 strata from (x<=9.5, z), proportional-
    allocation stratified S_A with weights N_h/n_Ah, biased Poisson S_B
    (pi 0.8/0.2 by stratum) with the reference's rescale-retry.

    Per-sim allocation is a (4 x n_sim)-row driver table broadcast back;
    the stratified draw is ONE ranked window over (sim, stratum).
    ``stream="md5"`` derives every draw from the engine-portable hash
    stream (``rng``) so the WHOLE population — normals, strata, the
    per-(sim, stratum) exact-size S_A draw, the rescale-retried Poisson
    S_B — replays in a pure-SQL oracle (``run_stratified_oracle_slice``)."""
    base = (
        spark.range(n_sim * N)
        .select(
            (F.col("id") / N).cast("long").alias("sim_id"),
            (F.col("id") % N + 1).alias("uid"),
        )
        .withColumn("sim_id", F.col("sim_id") + 1)
    )
    keys = ["sim_id", "uid"]
    base = base.withColumn(
        "x_i", rng.normal(keys, seed, "x", mean=10.0, sd=1.0, stream=stream)
    )
    base = base.withColumn(
        "z_i", rng.bernoulli(keys, seed, 0.5, "z", stream=stream)
    )
    base = base.withColumn(
        "stratum",
        F.when((F.col("x_i") <= 9.5) & (F.col("z_i") == 0), 1)
        .when((F.col("x_i") <= 9.5) & (F.col("z_i") == 1), 2)
        .when((F.col("x_i") > 9.5) & (F.col("z_i") == 0), 3)
        .otherwise(4),
    )
    base = base.withColumn(
        "y_i",
        F.lit(5.0) + F.lit(0.1) * F.col("x_i") + F.lit(3.0) * F.col("z_i")
        + rng.normal(keys, seed, "eps", stream=stream),
    )
    base = base.withColumn(
        "tilde_y_i",
        F.lit(7.5) + F.lit(3.0) * (F.col("y_i") - 7.5)
        + rng.normal(keys, seed, "e", sd=math.sqrt(0.5), stream=stream),
    )
    base = base.persist()

    # proportional allocation per (sim, stratum): 4*n_sim rows to the driver
    sizes = (
        base.groupBy("sim_id", "stratum")
        .agg(F.count(F.lit(1)).alias("N_h"))
        .collect()
    )
    tot_by_sim: dict[int, int] = {}
    for r in sizes:
        tot_by_sim[r["sim_id"]] = tot_by_sim.get(r["sim_id"], 0) + int(r["N_h"])
    alloc_rows = []
    for r in sizes:
        n_Ah = int(round(int(r["N_h"]) / tot_by_sim[r["sim_id"]] * n_A_total))
        alloc_rows.append(
            (int(r["sim_id"]), int(r["stratum"]), n_Ah,
             float(r["N_h"]) / max(n_Ah, 1))
        )
    alloc = local_df(spark, 
        alloc_rows,
        StructType([
            StructField("sim_id", LongType(), False),
            StructField("stratum", LongType(), False),
            StructField("n_Ah", LongType(), False),
            StructField("d_h", DoubleType(), False),
        ]),
    ).withColumn("stratum", F.col("stratum").cast(dict(base.dtypes)["stratum"]))
    grid = base.join(F.broadcast(alloc), on=["sim_id", "stratum"], how="left")
    grid = sampling.grouped_exact(
        grid, key_cols=keys, group_cols=["sim_id", "stratum"], n=F.col("n_Ah"),
        seed=seed, out_col="ind_A", tag="A", stream=stream,
    )
    grid = grid.withColumn(
        "d_i_A", F.when(F.col("ind_A") == 1, F.col("d_h")).otherwise(F.lit(None))
    ).drop("n_Ah", "d_h")

    # biased Poisson S_B with the reference's one-shot rescale-retry,
    # per sim (``nb[7]:69-80``)
    piB = F.when(F.col("stratum").isin(1, 2), 0.8).otherwise(0.2)
    grid = grid.withColumn("__piB__", piB)
    grid = grid.withColumn(
        "ind_B", rng.bernoulli(keys, seed, F.col("__piB__"), "B1", stream=stream)
    )
    got = {
        r["sim_id"]: int(r["nB"]) for r in
        grid.groupBy("sim_id").agg(F.sum("ind_B").alias("nB")).collect()
    }
    scale_rows = [
        (int(s), float(n_B_total) / max(nb, 1)) for s, nb in got.items()
    ]
    scale_df = local_df(spark, 
        scale_rows,
        StructType([StructField("sim_id", LongType(), False),
                    StructField("__scale__", DoubleType(), False)]),
    )
    grid = grid.join(F.broadcast(scale_df), "sim_id")
    pi_adj = F.least(F.col("__piB__") * F.col("__scale__"), F.lit(1.0))
    grid = grid.withColumn(
        "ind_B",
        F.when(F.col("__scale__") == 1.0, F.col("ind_B")).otherwise(
            rng.bernoulli(keys, seed, pi_adj, "B2", stream=stream)
        ),
    )
    out = grid.drop("__piB__", "__scale__")
    return out


def run_stratified_study(
    spark: SparkSession,
    N: int = 10_000,
    n_sim: int = 5,
    n_A_total: int = 500,
    n_B_total: int = 3_000,
    seed: int = 123,
    y_true: float = 7.5,
) -> MCResult:
    """The nb[12] stratified Monte Carlo: 9 estimator cells per sim over
    the S2 population — scenario I (y observed in B) and scenario II
    (only the contaminated tilde observed in B), all with the REAL
    stratified design weights d_i_A = N_h/n_Ah:

      Mean_S_A        design-weighted A mean          (``nb[12]:36-38``)
      Mean_S_B(_II)   naive B mean of y / tilde
      RegDI(_II)      correction 1, weights_A         (``nb[12]:48-60``)
      RegDI_X1(_II)   + aux (stratum, x_i)
      PC_X1           scenario 1, aux stratum, HT totals from A
      PC_X1_II        scenario 2, model y ~ tilde     (``nb[12]:105-117``)

    Golden bands (``nb[12]`` output, 1000 sims at N=1e5): RegDI bias
    -0.001 / SE 0.024, RegDI_X1 the same, Mean_S_B -0.056 (the
    stratum-selection bias the integration estimators remove); the
    RegDI rows stay in-band at any N (bias ~ 0 by calibration).  The
    reference's Mean_S_B_II row (+1.833) is NOT reproducible from the
    committed generator (tilde is centered: 3x the y-bias gives ~-0.17)
    — a notebook-session drift; we summarize against the committed
    generator's semantics.  Notably OUR PC_X1_II (stratum-only
    calibration) lands at +1.835 ≈ the 1.833 their table prints, and our
    scalar two-table pc_estimator with nb[13]'s rich-aux call gives
    ~+0.04 bias, consistent across the scalar and grouped paths — the
    engine is self-consistent; the notebook's row labeling is not."""
    pop = stratified_grid_population(
        spark, N=N, n_sim=n_sim, n_A_total=n_A_total, n_B_total=n_B_total,
        seed=seed,
    )
    # battery-column pruning before the persist (see run_nmar_study):
    # uid and z_i are unused by this study's battery
    pop_cache = pop.select(
        "sim_id", "stratum", "x_i", "y_i", "tilde_y_i",
        "ind_A", "d_i_A", "ind_B",
    ).persist()
    pop_cache.count()
    pop = adaptive_coalesce(pop_cache)  # materialize once before the concurrent battery
    g = ["sim_id"]
    # shared battery prep (r17; see run_nmar_study): PC_X1 and PC_X1_II
    # calibrate the SAME B sample to the SAME HT-estimated stratum
    # totals from the weighted A sample — compute the calibration once.
    from concurrent.futures import ThreadPoolExecutor

    prep = ThreadPoolExecutor(max_workers=1)
    f_calb = prep.submit(
        V.calibrated_b_grouped, pop, "ind_B", ["stratum"], g,
        weights_A="d_i_A", ind_var_A="ind_A",
    )
    try:
        results: dict[str, dict[tuple, tuple]] = _run_battery({
            "Mean_S_A": lambda: V.weighted_mean_grouped(pop, "y_i", "ind_A", "d_i_A", g),
            "Mean_S_B": lambda: V.naive_mean_grouped(pop, "y_i", "ind_B", g),
            "RegDI": lambda: V.regdi_c0_grouped(
                pop, "y_i", "y_i", "ind_A", "ind_B", g, weights_A="d_i_A"
            ),
            "RegDI_X1": lambda: V.regdi_c0_grouped(
                pop, "y_i", "y_i", "ind_A", "ind_B", g,
                aux_vars=["stratum", "x_i"], weights_A="d_i_A",
            ),
            "PC_X1": lambda: V.pc_s1_grouped(
                pop, "y_i", "ind_B", ["stratum"], g,
                weights_A="d_i_A", ind_var_A="ind_A", calb=f_calb.result(),
            ),
            "Mean_S_B_II": lambda: V.naive_mean_grouped(pop, "tilde_y_i", "ind_B", g),
            "RegDI_II": lambda: V.regdi_c0_grouped(
                pop, "y_i", "tilde_y_i", "ind_A", "ind_B", g, weights_A="d_i_A"
            ),
            "RegDI_X1_II": lambda: V.regdi_c0_grouped(
                pop, "y_i", "tilde_y_i", "ind_A", "ind_B", g,
                aux_vars=["stratum", "x_i"], weights_A="d_i_A",
            ),
            "PC_X1_II": lambda: V.pc_s2_grouped(
                pop, "y_i", "tilde_y_i", "ind_A", "ind_B", ["stratum"],
                "y_i ~ tilde_y_i", g, weights_A="d_i_A",
                calb=f_calb.result(),
            ),
        })
    finally:
        prep.shutdown(wait=False)
        pop_cache.unpersist()
    # gamma is not a dimension here; reuse the (gamma, sim) summary shape
    # with a constant 0.0 gamma slot
    keyed = {
        name: {(0.0, key[0]): val for key, val in cells.items()}
        for name, cells in results.items()
    }
    return _summarize(spark, keyed, y_true)


def _sd_tag(sd: float) -> str:
    """Column-name-safe sigma tag: 0.125 -> '0p125' (dots break F.col)."""
    return f"{sd:g}".replace(".", "p")


def nmar_v2_grid_population(
    spark: SparkSession,
    N: int = 10_000,
    n_sim: int = 10,
    gammas: tuple[float, ...] = (0.0, 0.5, 1.0),
    sd_vector: tuple[float, ...] = (0.0, 0.25, 0.5),
    size_a: int = 500,
    size_b: int = 2_000,
    c: float = 3.0,
    seed: int = 1234,
    stream: str = "xxhash64",
) -> DataFrame:
    """The expanded (gamma x sim x unit) NMAR-v2 population — S4's multi-σ
    outcomes over the Monte Carlo grid (``generate_population_NMAR_v2``
    x grid, ``nb[19]`` + ``nb[37]:20-23``).

    One outcome column per sigma (``y_sd_<tag>``, the dot-free alias of
    the reference's ``y_i_sd_<s>``), plus the e-cut auxiliaries the v2
    estimator battery uses.  S_B selection is driven by the FIRST sigma's
    outcome, exactly as the reference's ``muestra_B`` (``nb[19]:33-38``)."""
    base = (
        spark.range(n_sim * N)
        .select(
            (F.col("id") / N).cast("long").alias("sim_id"),
            (F.col("id") % N + 1).alias("uid"),
        )
        .withColumn("sim_id", F.col("sim_id") + 1)
    )
    keys = ["sim_id", "uid"]
    base = base.withColumn(
        "x_i", rng.normal(keys, seed, "x", mean=2.0, sd=1.0, stream=stream)
    )
    rho = 0.5
    v = rng.normal(keys, seed, "v", stream=stream)
    base = base.withColumn(
        "e_i", F.lit(rho) * F.col("x_i") + F.lit(math.sqrt(1 - rho**2)) * v
    )
    base = (
        base.withColumn("e1_i", F.when(F.col("e_i") <= 1.0, 1.0).otherwise(0.0))
        .withColumn("e2_i", F.when(F.col("e_i") > 1.0, 1.0).otherwise(0.0))
        .withColumn("x1_i", F.when(F.col("x_i") <= 2.0, 1.0).otherwise(0.0))
        .withColumn("x2_i", F.when(F.col("x_i") > 2.0, 1.0).otherwise(0.0))
    )
    y_cols = []
    for sd in sd_vector:
        name = f"y_sd_{_sd_tag(sd)}"
        eta = rng.normal(
            keys, seed, f"eta_{_sd_tag(sd)}", sd=float(sd), stream=stream
        )
        base = base.withColumn(
            name, F.lit(3.0) + F.lit(0.7) * (F.col("x_i") - 2.0) + eta
        )
        y_cols.append(name)

    base = sampling.grouped_exact(
        base, key_cols=keys, group_cols=["sim_id"], n=size_a, seed=seed,
        out_col="muestra_A", tag="A", stream=stream,
    )
    gamma_df = local_df(spark, 
        [(float(g),) for g in gammas],
        StructType([StructField("gamma", DoubleType(), False)]),
    )
    grid = base.crossJoin(F.broadcast(gamma_df))
    prob = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-F.col("gamma") * (F.col(y_cols[0]) - F.lit(c)))
    )
    grid = grid.withColumn("__prob__", prob)
    grid = sampling.grouped_exact(
        grid, key_cols=keys, group_cols=["gamma", "sim_id"], n=size_b, seed=seed,
        prob_col="__prob__", out_col="muestra_B", tag="B", stream=stream,
    )
    return grid.drop("__prob__")


def run_nmar_v2_study(
    spark: SparkSession,
    N: int = 10_000,
    n_sim: int = 10,
    gammas: tuple[float, ...] = (0.0, 0.5, 1.0),
    sd_vector: tuple[float, ...] = (0.0, 0.25, 0.5),
    size_a: int = 500,
    size_b: int = 2_000,
    seed: int = 1234,
    y_true: float = Y_TRUE,
    stream: str = "xxhash64",
) -> NMARv2Result:
    """The nb[37]→nb[42] NMAR-v2 study, end to end:

    grid generation (S4 x Monte Carlo) → 5-estimator battery per
    (gamma, sigma, sim) cell → the reference's wide results frame →
    ``mutate(across(...))`` bias columns (``nb[40]:6-7``) →
    ``pivot_longer`` + ``separate`` reshape (``nb[41]:2-10``) →
    (Gamma, Sd, Estimator) bias summary (``nb[41]:13-21``) →
    two-factor-with-interaction Type-I ANOVA on bias (``nb[42]:6-9``).

    Golden pattern (reference output, 11 gammas x 5 sigmas x 100 sims):
    F(Estimator)=10776.3 ≫ F(Gamma)=877.4 ≫ F(Sd)=0.62,
    interaction p = 1.0 — the estimator choice dominates, NMAR strength
    matters, the outcome's noise level does not, and the two don't
    interact.  ``tests/test_nmar_v2.py`` asserts this ordering.

    Scale shape: sigma is melted into a THIRD grid dimension, so the
    battery is 5 grouped-estimator runs total (each a handful of
    shuffles over the long grid), NOT 5 x |sd_vector| scalar loops —
    the reference's nested parLapply/for structure (``nb[37]:26-108``)
    collapses into a constant number of jobs at any grid size."""
    from data_integration_est_spark.ops.anova import anova_type1
    from data_integration_est_spark.reshape import melt, mutate_across, separate

    grid = nmar_v2_grid_population(
        spark, N=N, n_sim=n_sim, gammas=gammas, sd_vector=sd_vector,
        size_a=size_a, size_b=size_b, seed=seed, stream=stream,
    )
    id_vars = [c for c in grid.columns if not c.startswith("y_sd_")]
    long = (
        melt(grid, id_vars=id_vars, var_name="__ycol__", value_name="y_val")
        .withColumn(
            "sd",
            F.regexp_replace(
                F.regexp_extract("__ycol__", r"^y_sd_(.+)$", 1), "p", "."
            ).cast("double"),
        )
        .drop("__ycol__")
    )
    # battery-column pruning before the persist (see run_nmar_study):
    # uid, x_i and e_i are unused by the v2 battery (it reads the e/x
    # CUT dummies, not the raw values)
    long_cache = long.select(
        "gamma", "sd", "sim_id", "y_val", "x1_i", "x2_i", "e1_i", "e2_i",
        "muestra_A", "muestra_B",
    ).persist()
    long_cache.count()
    long = adaptive_coalesce(long_cache)  # materialize once before the concurrent battery
    g = ["gamma", "sd", "sim_id"]
    A, B = "muestra_A", "muestra_B"
    try:
        results: dict[str, dict[tuple, tuple]] = _run_battery({
            # the nb[37] battery: 2 PC-DR variants + 3 RegDI variants
            "PC_xi_DR": lambda: V.pc_dr1_grouped(
                long, "y_val", "y_val", A, B, ["x1_i", "x2_i"],
                "y_val ~ x1_i + x2_i", g, eval_model_performance=True,
            ),
            "PC_ei_DR": lambda: V.pc_dr1_grouped(
                long, "y_val", "y_val", A, B, ["e1_i", "e2_i"],
                "y_val ~ e1_i + e2_i", g, eval_model_performance=True,
            ),
            "RegDI_no_aux": lambda: V.regdi_c0_grouped(long, "y_val", "y_val", A, B, g),
            "RegDI_xi": lambda: V.regdi_c0_grouped(
                long, "y_val", "y_val", A, B, g, aux_vars=["x1_i"]
            ),
            "RegDI_ei": lambda: V.regdi_c0_grouped(
                long, "y_val", "y_val", A, B, g, aux_vars=["e1_i"]
            ),
        })
    finally:
        long_cache.unpersist()

    # the reference's wide CSV shape: one row per (sim, gamma), one
    # mean_<est>_sd_<tag> column per estimator x sigma, plus R2_... for
    # the model-assisted estimators (``nb[37]:110-124``)
    cells: dict[tuple, dict[str, float]] = {}
    r2_ests: list[str] = []
    for est, by_key in results.items():
        has_r2 = any(len(v) > 2 for v in by_key.values())
        if has_r2:
            r2_ests.append(est)
        for (gamma, sd, sim_id), vals in by_key.items():
            row = cells.setdefault((int(sim_id), float(gamma)), {})
            row[f"mean_{est}_sd_{_sd_tag(sd)}"] = float(vals[0])
            if has_r2:
                row[f"R2_{est}_sd_{_sd_tag(sd)}"] = float(vals[2])
    value_cols = [
        f"mean_{est}_sd_{_sd_tag(sd)}" for est in results for sd in sd_vector
    ]
    r2_cols = [f"R2_{est}_sd_{_sd_tag(sd)}" for est in r2_ests for sd in sd_vector]
    schema = StructType(
        [StructField("sim_id", LongType(), False),
         StructField("gamma", DoubleType(), False)]
        + [StructField(c, DoubleType(), True) for c in value_cols + r2_cols]
    )
    rows = [
        (sim_id, gamma, *[vals.get(c) for c in value_cols + r2_cols])
        for (sim_id, gamma), vals in sorted(cells.items())
    ]
    wide = local_df(spark, rows, schema)

    # nb[40]: bias_<col> = <col> - 3 for every mean_ column
    wide = mutate_across(
        wide, "mean_", lambda c: c - F.lit(float(y_true)), names="bias_{col}"
    )
    # nb[41]: pivot_longer over the bias columns + separate into
    # (Estimator, Sd); the reference's sep="_mean_|_sd_" regex split
    bias_long = melt(
        wide.select("sim_id", "gamma", *[f"bias_{c}" for c in value_cols]),
        id_vars=["sim_id", "gamma"],
        var_name="est_sd", value_name="bias",
    )
    bias_long = separate(
        bias_long, "est_sd", ["estimator", "__sdtag__"],
        r"^bias_mean_(.+)_sd_(.+)$",
    )
    bias_long = bias_long.withColumn(
        "sd", F.regexp_replace("__sdtag__", "p", ".").cast("double")
    ).drop("__sdtag__")

    summary = (
        bias_long.groupBy("gamma", "sd", "estimator")
        .agg(
            F.round(F.avg("bias"), 3).alias("bias_mean"),
            F.round(F.stddev_samp("bias"), 3).alias("bias_sd"),
        )
        .withColumn(
            "rmse",
            F.round(F.sqrt(F.col("bias_mean") ** 2
                           + F.coalesce(F.col("bias_sd"), F.lit(0.0)) ** 2), 3),
        )
    )
    # nb[41]:24-46: the R2 reshape + (Gamma, Sd, Estimator) summary for
    # the model-assisted estimators
    r2_summary = None
    if r2_cols:
        r2_long = melt(
            wide.select("sim_id", "gamma", *r2_cols),
            id_vars=["sim_id", "gamma"], var_name="est_sd", value_name="r2",
        )
        r2_long = separate(
            r2_long, "est_sd", ["estimator", "__sdtag__"], r"^R2_(.+)_sd_(.+)$"
        ).withColumn(
            "sd", F.regexp_replace("__sdtag__", "p", ".").cast("double")
        ).drop("__sdtag__")
        r2_summary = (
            r2_long.groupBy("gamma", "sd", "estimator")
            .agg(
                F.round(F.avg("r2"), 3).alias("r2_mean"),
                F.round(F.stddev_samp("r2"), 3).alias("r2_sd"),
            )
        )

    # nb[42]: aov(Bias ~ factor(Sd) * factor(Gamma) + Estimator) — R's
    # term order is Sd, Gamma, Estimator, Sd:Gamma (interaction last)
    anova = anova_type1(
        bias_long, "bias",
        [("sd",), ("gamma",), ("estimator",), ("sd", "gamma")],
    )
    return NMARv2Result(
        results_wide=wide, bias_long=bias_long, summary=summary, anova=anova,
        r2_summary=r2_summary,
    )


def _summarize(
    spark,
    results: dict[str, dict[tuple, tuple]],
    y_true: float,
    y_true_by_est: dict[str, float] | None = None,
    diagnostics: dict[str, dict] | None = None,
) -> MCResult:
    """``y_true_by_est`` overrides the truth per estimator — used when an
    estimator targets a different estimand (e.g. the proxy-scale mean)."""
    y_true_by_est = y_true_by_est or {}
    est_schema = StructType([
        StructField("gamma", DoubleType(), False),
        StructField("sim_id", LongType(), False),
        StructField("estimator", StringType(), False),
        StructField("estimate", DoubleType(), True),
        StructField("se", DoubleType(), True),
        StructField("y_true", DoubleType(), False),
    ])
    rows = [
        (float(key[0]), int(key[1]), name, float(est),
         None if se is None else float(se),
         float(y_true_by_est.get(name, y_true)))
        for name, cells in results.items()
        for key, (est, se) in cells.items()
    ]
    estimates = local_df(spark, rows, est_schema)

    # O3: bias = mean(est - y_true), SE = sd(est), RMSE = sqrt(bias^2 + se^2)
    # (``nb[4]:198-228``, ``nb[23]:113-127``)
    summary = (
        estimates.groupBy("gamma", "estimator")
        .agg(
            F.round(F.avg(F.col("estimate") - F.col("y_true")), 6).alias("bias_mean"),
            F.round(F.stddev_samp(F.col("estimate")), 6).alias("bias_sd"),
            F.count(F.lit(1)).alias("n_sim"),
        )
        .withColumn(
            "rmse",
            F.round(F.sqrt(F.col("bias_mean") ** 2 + F.coalesce(F.col("bias_sd"), F.lit(0.0)) ** 2), 6),
        )
        .select("gamma", "estimator", "bias_mean", "bias_sd", "rmse", "n_sim")
    )
    return MCResult(estimates=estimates, summary=summary, diagnostics=diagnostics)


def run_nmar_oracle_slice(
    spark: SparkSession,
    N: int = 2_000,
    n_sim: int = 3,
    gammas: tuple[float, ...] = (0.0, 0.5),
    size_a: int = 100,
    size_b: int = 600,
    seed: int = 1234,
    y_true: float = Y_TRUE,
) -> MCResult:
    """The SEEDED NMAR study made hash-checkable (r10 verdict #2): the
    REAL ``nmar_grid_population`` — Box-Muller normals, the per-sim
    exact-size S_A draw, the per-(gamma, sim) Efraimidis-Spirakis S_B
    draw — run on the engine-portable md5 hash stream
    (``rng.uniform(stream="md5")``), so a DuckDB oracle can replay every
    uniform, every normal, both selected SETS, and the estimators from
    nothing but the (seed, tag) discipline.  ``run_deterministic_study``
    certifies the O1-O3 grid/battery/summary machinery with hashes
    standing in for randomness; this slice closes the remaining gap —
    the ``rng`` stream itself and the samplers it drives.

    The battery keeps the closed-form members (naive A/B means + RegDI
    correction-0 with aux, i.e. the 4-regressor GREG per cell) — the
    Newton-loop estimators are certified by their own gate rows
    (``ipw_clw_orders``, ``pc_s2_logistic``, ...)."""
    pop = nmar_grid_population(
        spark, N=N, n_sim=n_sim, gammas=gammas, size_a=size_a,
        size_b=size_b, seed=seed, stream="md5",
    )
    pop_cache = pop.persist()
    pop_cache.count()
    pop = adaptive_coalesce(pop_cache)
    g = ["gamma", "sim_id"]
    try:
        results: dict[str, dict[tuple, tuple]] = _run_battery({
            "Mean_S_A": lambda: V.naive_mean_grouped(pop, "y_i", "muestra_A", g),
            "Mean_S_B": lambda: V.naive_mean_grouped(pop, "y_i", "muestra_B", g),
            "RegDI_X1": lambda: V.regdi_c0_grouped(
                pop, "y_i", "y_i", "muestra_A", "muestra_B", g,
                aux_vars=["x1_i"],
            ),
            # Scenario-II members (the contaminated proxy tilde_y):
            # the naive proxy mean targets E[tilde] = 2, and RegDI with
            # y_B = tilde stays unbiased for E[y] (nb[5]:48-57's golden
            # 0.000 row) — certifying the THIRD hash-RNG stream ("tl")
            # and the proxy-calibrated GREG in the same oracle row
            "Mean_S_B_tilde": lambda: V.naive_mean_grouped(
                pop, "tilde_y_i", "muestra_B", g
            ),
            "RegDI_tilde": lambda: V.regdi_c0_grouped(
                pop, "y_i", "tilde_y_i", "muestra_A", "muestra_B", g,
                aux_vars=["x1_i"],
            ),
        })
    finally:
        pop_cache.unpersist()
    return _summarize(
        spark, results, y_true,
        y_true_by_est={"Mean_S_B_tilde": 2.0},
    )


def run_stratified_oracle_slice(
    spark: SparkSession,
    N: int = 2_000,
    n_sim: int = 3,
    n_A_total: int = 100,
    n_B_total: int = 600,
    seed: int = 123,
    y_true: float = 7.5,
) -> MCResult:
    """The SEEDED stratified study made hash-checkable (r11 verdict #3)
    — the one reference study whose distinct machinery (strata) had no
    oracle-checked seeded twin: the REAL ``stratified_grid_population``
    — Box-Muller normals, the Bernoulli stratifier, the per-(sim,
    stratum) proportional allocation with Python banker's rounding, the
    per-stratum exact-size S_A draw (S6) with N_h/n_Ah design weights,
    the rescale-retried Poisson S_B — on the engine-portable md5 stream,
    so a DuckDB oracle replays every draw, both selected SETS, and the
    estimators from nothing but the (seed, tag) discipline.

    The battery keeps the closed-form members: the design-weighted A
    mean, naive B means (clean + contaminated tilde), RegDI correction-0
    with the REAL stratified weights (no-aux k=3, aux=[stratum] k=4, and
    the study's own aux=[stratum, x_i] k=5 GREG), and PC scenario 1
    with HT-estimated totals from the weighted
    A sample — the ``weights_A`` code paths the NMAR slice does not
    touch.  E[y] = 5 + 0.1*10 + 3*0.5 = 7.5 = E[tilde]."""
    pop = stratified_grid_population(
        spark, N=N, n_sim=n_sim, n_A_total=n_A_total, n_B_total=n_B_total,
        seed=seed, stream="md5",
    )
    pop_cache = pop.persist()
    pop_cache.count()
    pop = adaptive_coalesce(pop_cache)  # materialize once before the concurrent battery
    g = ["sim_id"]
    try:
        results: dict[str, dict[tuple, tuple]] = _run_battery({
            "Mean_S_A": lambda: V.weighted_mean_grouped(
                pop, "y_i", "ind_A", "d_i_A", g
            ),
            "Mean_S_B": lambda: V.naive_mean_grouped(pop, "y_i", "ind_B", g),
            "Mean_S_B_II": lambda: V.naive_mean_grouped(
                pop, "tilde_y_i", "ind_B", g
            ),
            "RegDI": lambda: V.regdi_c0_grouped(
                pop, "y_i", "y_i", "ind_A", "ind_B", g, weights_A="d_i_A"
            ),
            "RegDI_X1": lambda: V.regdi_c0_grouped(
                pop, "y_i", "y_i", "ind_A", "ind_B", g,
                aux_vars=["stratum"], weights_A="d_i_A",
            ),
            # the study's own aux shape (nb[12]:48-60): TWO aux
            # constraints on top of the base pair — a k=5 GREG, the
            # widest Cramer replay in the oracle family
            "RegDI_X2": lambda: V.regdi_c0_grouped(
                pop, "y_i", "y_i", "ind_A", "ind_B", g,
                aux_vars=["stratum", "x_i"], weights_A="d_i_A",
            ),
            "PC_X1": lambda: V.pc_s1_grouped(
                pop, "y_i", "ind_B", ["stratum"], g,
                weights_A="d_i_A", ind_var_A="ind_A",
            ),
        })
    finally:
        pop_cache.unpersist()
    # gamma is not a dimension here; reuse the (gamma, sim) summary shape
    keyed = {
        name: {(0.0, key[0]): val for key, val in cells.items()}
        for name, cells in results.items()
    }
    return _summarize(spark, keyed, y_true)


def run_deterministic_study(
    spark: SparkSession,
    orders: DataFrame,
    n_sim: int = 3,
    gammas: tuple[float, ...] = (0.0, 1.0),
) -> MCResult:
    """RNG-free grid study — the HASH-CHECKABLE twin of ``run_nmar_study``.

    The reference's MC studies (``nb[23]:113-159``) are gate-checkable only
    rows-only because their populations come from RNG streams no second
    engine can replay.  This variant freezes everything: the population is
    a real table (orders), and each cell's samples are MODULAR-ARITHMETIC
    functions of (unit id, sim_id, gamma) — S_A = (id+sim) % 7 == 0,
    S_B drawn by a Knuth-hash uniform against a gamma-tilted (NMAR-shaped)
    threshold.  Every stage — grid expansion, the grouped estimator
    battery (``estimators.vectorized``), and the O3 bias/SE/RMSE summary
    (``_summarize``) — is the SAME code path as the real studies, so a
    DuckDB oracle of this query certifies the whole O1-O3 pipeline
    end-to-end, not a parallel reimplementation.

    The battery covers every vectorized estimator family the seeded
    studies use: naive A/B means, RegDI correction-0 with aux, RegDI
    correction-3 (DR), and PC scenarios 1-3 (including the per-cell OLS
    outcome models) — so the hash certificate extends to the grouped
    calibration, grouped OLS fit/predict, and DR composition paths, not
    just the GREG solve.
    """
    key = F.col("o_orderkey")
    price = F.col("o_totalprice")
    base = orders.select(
        key.alias("uid"),
        F.log(price).alias("y_i"),
        (price / 1000.0).alias("x_i"),
        # deterministic proxy outcome (scale/location bias + hash noise) —
        # the same shape as entry_queries._population's yb
        (0.9 * F.log(price) + 0.3 + ((key % 97) / 97.0 - 0.5) * 0.2).alias("yb_i"),
        F.when(price <= 250000, 1.0).otherwise(0.0).alias("x1_i"),
        F.when(price > 250000, 1.0).otherwise(0.0).alias("x2_i"),
    )
    y_true = float(base.agg(F.avg("y_i")).collect()[0][0])
    sims = local_df(spark, 
        [(s,) for s in range(1, n_sim + 1)],
        StructType([StructField("sim_id", LongType(), False)]),
    )
    gamma_df = local_df(spark, 
        [(float(g),) for g in gammas],
        StructType([StructField("gamma", DoubleType(), False)]),
    )
    grid = base.crossJoin(F.broadcast(sims)).crossJoin(F.broadcast(gamma_df))
    # deterministic uniform in [0, 1): Knuth multiplicative hash of the
    # unit id, decorrelated across sims by a prime stride — bit-identical
    # in any engine with 64-bit integer % (exactly mirrored in the SQL
    # oracle)
    u = ((F.col("uid") * F.lit(2654435761) + F.col("sim_id") * F.lit(7919))
         % 1000).cast("double") / 1000.0
    grid = (
        grid.withColumn(
            "muestra_A",
            F.when((F.col("uid") + F.col("sim_id")) % 7 == 0, 1).otherwise(0),
        )
        .withColumn(
            "muestra_B",
            F.when(
                u < F.lit(0.15) + F.lit(0.25) * F.col("gamma") * F.col("x2_i"), 1
            ).otherwise(0),
        )
    )
    grid_cache = grid.persist()
    grid_cache.count()
    grid = adaptive_coalesce(grid_cache)
    g = ["gamma", "sim_id"]
    # shared battery prep (r17; see run_nmar_study): PC_S1/S2/S3
    # calibrate the SAME B sample to the SAME aux totals; PC_S3 and
    # RegDI_DR fit the IDENTICAL "y_i ~ x_i" on the identical A sample
    # and share its full-population prediction moments.
    from concurrent.futures import ThreadPoolExecutor

    prep = ThreadPoolExecutor(max_workers=3)
    f_calb = prep.submit(
        V.calibrated_b_grouped, grid, "muestra_B", ["x1_i", "x2_i"], g
    )
    f_fit = prep.submit(
        V.fit_outcome_grouped, grid, "muestra_A", "y_i ~ x_i", g
    )
    f_ust = prep.submit(
        lambda: V.u_pred_stats_grouped(grid, f_fit.result(), g)
    )
    try:
        results: dict[str, dict[tuple, tuple]] = _run_battery({
            "Mean_S_A": lambda: V.naive_mean_grouped(grid, "y_i", "muestra_A", g),
            "Mean_S_B": lambda: V.naive_mean_grouped(grid, "y_i", "muestra_B", g),
            "RegDI_X1": lambda: V.regdi_c0_grouped(
                grid, "y_i", "y_i", "muestra_A", "muestra_B", g, aux_vars=["x1_i"]
            ),
            "RegDI_DR": lambda: V.regdi_dr_grouped(
                grid, "y_i", "y_i", "muestra_A", "muestra_B", "y_i ~ x_i", g,
                aux_vars=["x_i"], fit=f_fit.result(), u_stats=f_ust.result(),
            ),
            "PC_S1": lambda: V.pc_s1_grouped(
                grid, "y_i", "muestra_B", ["x1_i", "x2_i"], g,
                calb=f_calb.result(),
            ),
            "PC_S2": lambda: V.pc_s2_grouped(
                grid, "y_i", "yb_i", "muestra_A", "muestra_B",
                ["x1_i", "x2_i"], "y_i ~ yb_i", g, calb=f_calb.result(),
            ),
            "PC_S3": lambda: V.pc_dr1_grouped(
                grid, "y_i", "y_i", "muestra_A", "muestra_B",
                ["x1_i", "x2_i"], "y_i ~ x_i", g, fit=f_fit.result(),
                calb=f_calb.result(), u_stats=f_ust.result(),
            ),
        })
    finally:
        prep.shutdown(wait=False)
        grid_cache.unpersist()
    return _summarize(spark, results, y_true)
