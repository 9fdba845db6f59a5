"""Run each workload K times with different seeds; print every metric's
median, quartile spread and its bound from BENCHMARK.json.

    python3 perfbench/repeat.py --runs 10 [--workloads estimate_small mc_grid] [--first-seed 1]

Spread is (Q3 - Q1) / median over the K runs, with the quartiles of
``statistics.quantiles(values, n=4)``.  A metric is steady when its spread
is below a third of its bound.  ``setup_s`` is reported but has no spread
requirement.  The report also lands in ``perfbench/_work/repeat-*.json``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1]), wall


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def main(argv=None):
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = p.parse_args(argv)

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report, ok = {}, True
    for wl in args.workloads:
        results, walls = [], []
        for i in range(args.runs):
            res, wall = run_once(wl, args.first_seed + i, args.seconds, 0)
            results.append(res)
            walls.append(wall)
            print(f"{wl} seed {args.first_seed + i}: {wall:.1f}s wall, correct={res['correct']}, "
                  + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
        rows = {}
        for name, bound in bounds.items():
            med, spr = spread([r["metrics"][name]["value"] for r in results])
            steady = name == "setup_s" or spr < bound / 3
            ok &= steady
            rows[name] = {"median": med, "spread": spr, "bound": bound, "steady": steady}
            print(f"  {wl:15s} {name:15s} median {med:10.4f}  spread {spr:6.3f}  "
                  f"bound {bound:.2f}  {'ok' if steady else 'WIDE'}", flush=True)
        failed = sum(r["failed"] for r in results)
        ok &= failed == 0 and all(r["correct"] for r in results)
        print(f"  {wl}: failed ops {failed}, run wall median {statistics.median(walls):.1f}s, "
              f"max {max(walls):.1f}s", flush=True)
        report[wl] = {"metrics": rows, "walls": walls, "failed": failed,
                      "runs": [r["metrics"] for r in results]}
    out = HERE / "_work" / f"repeat-{int(time.time())}.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(report, indent=1))
    print(f"{'steady' if ok else 'NOT steady'}; report in {out.relative_to(ROOT)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
