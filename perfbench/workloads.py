"""The benchmark's workloads: inputs, the ops of one cycle, output checks.

A workload builds its inputs from the seed (``build``, repeatable), computes
the expected outputs once (``oracle``) and hands the loop one cycle of ops.
Each op calls the package's public functions only and returns plain Python
values; ``check`` raises ``Mismatch`` when an output is wrong.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import inputs

RTOL = 1e-9  # estimate and SE against the numpy oracle
BATTERY_SIZE = 8  # estimators per Monte Carlo cell


class Mismatch(AssertionError):
    pass


def _close(got, want, what):
    if want is None:
        return
    if got is None or not math.isclose(got, want, rel_tol=RTOL, abs_tol=0.0):
        raise Mismatch(f"{what}: got {got!r}, oracle {want!r}")


@dataclass
class EstimateMix:
    """The seven-call estimator mix on one seeded population."""

    n: int
    name: str = "estimate_small"
    items: str = "estimates"
    # the first cycle after a cold start is still ~25% slower than later ones
    warmup_cycles: int = 2
    expected: dict = field(default_factory=dict)

    def build(self, spark, work, seed):
        self.pop = inputs.population(self.n, seed)
        paths = inputs.write_population(self.pop, os.path.join(work, self.name))
        self.df = spark.read.parquet(paths["pop"])
        self.data_A = spark.read.parquet(paths["A"])
        self.data_B = spark.read.parquet(paths["B"])

    def _specs(self):
        both = dict(ind_var_A="muestra_A", ind_var_B="muestra_B")
        same = dict(y_A_col="y_i", y_B_col="y_i", **both)
        aux2 = ["x1_i", "x2_i"]
        # kind -> (engine call, oracle function, oracle arguments)
        return {
            "regdi_c0": (
                lambda m: m.regdi(data=self.df, aux_vars=["x1_i"], **same),
                "regdi_np", dict(aux_vars=["x1_i"])),
            "regdi_c2": (
                lambda m: m.regdi(data=self.df, y_A_col="y_i", y_B_col="tilde_y_i",
                                  correction=2, **both),
                "regdi_np", dict(y_B_col="tilde_y_i", correction=2)),
            "regdi_c3": (
                lambda m: m.regdi(data=self.df, aux_vars=["x1_i"], outcome_model="y_i ~ x_i",
                                  correction=3, **same),
                "regdi_np", dict(aux_vars=["x1_i"], correction=3, outcome_model_cols=["x_i"])),
            "regdi_two_table": (
                lambda m: m.regdi(data_A=self.data_A, data_B=self.data_B, id_var_A="id",
                                  id_var_B="id", y_A_col="y_i", y_B_col="y_i",
                                  weights_A="d_i_A", correction=1),
                "regdi_np", dict(N_total=self.n)),
            "pc_s1": (
                lambda m: m.pc_estimator(data=self.df, aux_vars=aux2, scenario=1, **same),
                "pc_np", dict(aux_vars=aux2, scenario=1)),
            "pc_s2": (
                lambda m: m.pc_estimator(data=self.df, aux_vars=aux2, scenario=2,
                                         outcome_model="y_i ~ tilde_y_i", **same),
                "pc_np", dict(aux_vars=aux2, scenario=2, outcome_model_cols=["tilde_y_i"])),
            "pc_s3": (
                lambda m: m.pc_estimator(data=self.df, aux_vars=aux2, scenario=3,
                                         outcome_model="y_i ~ x_i", **same),
                "pc_np", dict(aux_vars=aux2, scenario=3, outcome_model_cols=["x_i"])),
        }

    def oracle(self):
        import oracle_np

        for kind, (_, fn, kw) in self._specs().items():
            kw = {"y_A_col": "y_i", "y_B_col": "y_i", **kw}
            out = getattr(oracle_np, fn)(self.pop, ind_A="muestra_A", ind_B="muestra_B", **kw)
            if "mean" in out:
                self.expected[kind] = (out["mean"], math.sqrt(out["var"]))
            else:
                self.expected[kind] = (out["estimate"], out.get("se"))

    def cycle(self):
        import data_integration_est_spark as m

        def op(call):
            def run():
                r = call(m)
                if hasattr(r, "mean"):
                    return (float(r.mean), r.se)
                return (float(r.estimate), None if r.se is None else float(r.se))
            return run

        return [(kind, op(call)) for kind, (call, _, _) in self._specs().items()]

    def check(self, kind, out):
        (est, se), (want_est, want_se) = out, self.expected[kind]
        _close(est, want_est, f"{kind} estimate")
        _close(se, want_se, f"{kind} se")

    def items_per_op(self):
        return 1


@dataclass
class MonteCarloGrid:
    """``run_nmar_study`` over a gamma x replicate grid; one study per op."""

    n: int
    n_sim: int
    gammas: tuple
    name: str = "mc_grid"
    items: str = "fits"
    warmup_cycles: int = 1  # a cold study costs ~2.5 warm ones
    reference: tuple | None = None

    def build(self, spark, work, seed):
        # the program builds its grid from the seed; there is no input file
        self.spark, self.seed = spark, seed

    def oracle(self):
        """Nothing to precompute: the first (warm-up) op's output becomes
        the reference in ``check``."""

    def cycle(self):
        import data_integration_est_spark as m

        def run():
            r = m.run_nmar_study(self.spark, N=self.n, n_sim=self.n_sim, gammas=self.gammas,
                               size_a=500, size_b=2000, seed=self.seed)
            summary = sorted(tuple(row) for row in r.summary.collect())
            estimates = sorted(tuple(row) for row in r.estimates.collect())
            return summary, estimates

        return [("study", run)]

    def check(self, kind, out):
        summary, estimates = out
        want = self.items_per_op()
        if len(estimates) != want:
            raise Mismatch(f"{len(estimates)} estimate rows, want {want}")
        for row in estimates + summary:
            for v in row:
                if isinstance(v, float) and not math.isfinite(v):
                    raise Mismatch(f"non-finite value in {row!r}")
        if self.reference is None:
            self.reference = out
        elif out != self.reference:
            raise Mismatch("study output differs from the warm-up op's")

    def items_per_op(self):
        return self.n_sim * len(self.gammas) * BATTERY_SIZE


def make(name: str, smoke: bool):
    if name == "estimate_small":
        return EstimateMix(n=4_000 if smoke else 20_000)
    if name == "mc_grid":
        if smoke:
            return MonteCarloGrid(n=5_000, n_sim=1, gammas=(0.0, 1.0))
        return MonteCarloGrid(n=20_000, n_sim=2, gammas=(0.0, 0.25, 0.5, 0.75, 1.0))
    raise KeyError(name)


NAMES = ("estimate_small", "mc_grid")
