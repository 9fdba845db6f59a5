"""Seeded workload inputs, generated with numpy and written to parquet.

Nothing here imports the package under test: a change to the program's own
generators cannot change what the benchmark feeds it.  The same seed gives
byte-identical columns.

Population model (the NMAR population of the reference notebook, fixed
gamma): x ~ N(2, 1); y = 3 + 0.7 (x - 2) + N(0, sqrt(.51));
tilde_y = 2 + 0.9 (y - 3) + N(0, .5); x1 = [x <= 2], x2 = [x > 2];
S_A a simple random sample of ~1%; S_B an exact-size ~25% draw whose
inclusion probability is logistic in y, 1 / (1 + exp(-0.25 (y - 3))).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

POP_COLUMNS = ("id", "x_i", "y_i", "tilde_y_i", "x1_i", "x2_i", "muestra_A", "muestra_B")
FRAC_A = 0.01
FRAC_B = 0.25
GAMMA, C = 0.25, 3.0

def population(n: int, seed: int) -> dict[str, np.ndarray]:
    """The estimator workloads' population as a dict of numpy columns."""
    rng = np.random.default_rng([seed, n])
    x = rng.normal(2.0, 1.0, n)
    y = 3.0 + 0.7 * (x - 2.0) + rng.normal(0.0, np.sqrt(0.51), n)
    tilde_y = 2.0 + 0.9 * (y - 3.0) + rng.normal(0.0, 0.5, n)
    a = np.zeros(n, dtype=np.int32)
    a[rng.choice(n, max(2, round(FRAC_A * n)), replace=False)] = 1
    # exact-size weighted draw without replacement (Efraimidis-Spirakis keys)
    p = 1.0 / (1.0 + np.exp(-GAMMA * (y - C)))
    keys = np.log(rng.uniform(size=n)) / p
    b = np.zeros(n, dtype=np.int32)
    b[np.argpartition(keys, n - round(FRAC_B * n))[n - round(FRAC_B * n):]] = 1
    return {
        "id": np.arange(1, n + 1, dtype=np.int64),
        "x_i": x,
        "y_i": y,
        "tilde_y_i": tilde_y,
        "x1_i": (x <= 2.0).astype(np.int32),
        "x2_i": (x > 2.0).astype(np.int32),
        "muestra_A": a,
        "muestra_B": b,
    }


def write_population(pop: dict[str, np.ndarray], out_dir: str) -> dict[str, str]:
    """Write the population plus the two-table inputs (A with its design
    weight, B) as parquet under ``out_dir``; return their paths."""
    os.makedirs(out_dir, exist_ok=True)
    n = len(pop["id"])
    in_a = pop["muestra_A"] == 1
    in_b = pop["muestra_B"] == 1
    side = ("id", "x_i", "x1_i", "y_i")
    paths = {k: os.path.join(out_dir, f"{k}.parquet") for k in ("pop", "A", "B")}
    pq.write_table(pa.table({c: pop[c] for c in POP_COLUMNS}), paths["pop"])
    table_a = {c: pop[c][in_a] for c in side}
    table_a["d_i_A"] = np.full(int(in_a.sum()), n / in_a.sum())
    pq.write_table(pa.table(table_a), paths["A"])
    pq.write_table(pa.table({c: pop[c][in_b] for c in side}), paths["B"])
    return paths
