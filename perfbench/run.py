"""Benchmark driver: one workload, one seed, one closed loop with one client.

    python3 perfbench/run.py --workload estimate_small --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  Spark runs on ``local[<cpus>]`` with
``SPARK_GRAFT_CPUS`` set to the CPUs this process may use.  Inputs, Spark's
scratch space and the result files go to ``perfbench/_work/``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` installs span
wrappers on the package's public functions and prints the per-layer
metrics, alternating untraced and traced cycles so the tracing overhead is
measured in the same run.  The last line of stdout is the result object.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

import workloads
from tracing import JOB_GROUP, OP_SPANS, Tracer, aggregate, op_layers

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
SETUP_REPEATS = 3  # input builds per run; setup reports their median


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="minimum input sizes (for smoke.py); not for measurement")
    return p.parse_args(argv)


def prepare_environment() -> int:
    """Point Spark and temp files into the checkout; return the CPU count."""
    for need in (ROOT / "data_integration_est_spark" / "__init__.py",
                 ROOT / "tests" / "oracle_np.py"):
        if not need.is_file():
            sys.exit(f"perfbench: {need.relative_to(ROOT)} not found; run from a checkout root")
    cpus = len(os.sched_getaffinity(0))
    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    for d in (tmp, local, WORK / "results"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    java_opts = os.environ.get("JDK_JAVA_OPTIONS", "")
    os.environ["JDK_JAVA_OPTIONS"] = f"{java_opts} -Djava.io.tmpdir={tmp}".strip()
    sys.path[:0] = [str(ROOT), str(ROOT / "tests"), str(HERE)]
    return cpus


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM the gateway launched; wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Loop:
    """The closed loop: runs whole cycles of the workload's ops until the
    measured time is up, checking every output as it arrives."""

    def __init__(self, wl, spark, tracer):
        self.wl, self.spark, self.tracer = wl, spark, tracer
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.op_no = 0

    def one(self, kind, fn, traced=False):
        self.op_no += 1
        if traced:
            ungrouped = self._trace_begin()
        t = time.perf_counter()
        try:
            out = fn()
            dt = time.perf_counter() - t
            self.wl.check(kind, out)
            ok = True
        except Exception:
            dt = time.perf_counter() - t
            ok = False
            self.errors.append(f"{kind}: {traceback.format_exc(limit=3)}")
            print(self.errors[-1], file=sys.stderr)
        self.attempted += 1
        self.failed += not ok
        layers = self._trace_end(ungrouped) if traced else None
        return dt, layers

    def _trace_begin(self):
        sc = self.spark.sparkContext
        tr = self.tracer
        tr.op, tr.enabled = self.op_no, True
        sc.setLocalProperty(JOB_GROUP, f"perfbench-op-{self.op_no}")
        return set(sc.statusTracker().getJobIdsForGroup(None))

    def _trace_end(self, ungrouped_before):
        sc, tr, op = self.spark.sparkContext, self.tracer, self.op_no
        tr.enabled, tr.op = False, None
        sc.setLocalProperty(JOB_GROUP, None)
        tr.settle()
        tr.count_spans(op)
        tracker = sc.statusTracker()
        spans = [s for s in tr.spans if s.op == op]
        ids = set(tracker.getJobIdsForGroup(f"perfbench-op-{op}"))
        ids |= set(tracker.getJobIdsForGroup(None)) - ungrouped_before
        for s in spans:
            ids |= set(tracker.getJobIdsForGroup(s.group))
        layers = op_layers(spans)
        (layers["spark.jobs"], layers["spark.stages"], layers["spark.tasks"],
         layers["spark.failed_tasks"]) = tr.job_counts(sorted(ids))
        return layers

    def run(self, ops, seconds, trace):
        """Cycles until ``seconds`` have passed.  With ``trace`` the cycles
        run untraced, traced, traced, untraced, ..., at least one of each, so
        a drift across the run falls on both sides of the overhead
        comparison alike."""
        lat = {False: [], True: []}  # traced? -> [(kind, seconds)]
        per_op = []
        t0 = time.perf_counter()
        cycle = 0
        while True:
            traced = trace and cycle % 4 in (1, 2)
            for kind, fn in ops:
                dt, layers = self.one(kind, fn, traced)
                lat[traced].append((kind, dt))
                if layers is not None:
                    per_op.append((kind, layers))
            cycle += 1
            if time.perf_counter() - t0 >= seconds and (not trace or lat[True] and lat[False]):
                break
        return lat, per_op, time.perf_counter() - t0


def mix_mean(samples) -> float:
    """Median latency of each op kind, averaged over the kinds: the median
    op of one balanced cycle, whatever the order the kinds ran in."""
    return aggregate([(k, {"v": v}) for k, v in samples])["v"]


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to others, summed over CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def main(argv=None) -> int:
    args = parse_args(argv)
    cpus = prepare_environment()
    if args.workload not in workloads.NAMES:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; one of {workloads.NAMES}")
    wl = workloads.make(args.workload, args.smoke)
    load_before, steal_before = os.getloadavg(), cpu_steal_s()
    tracer = None
    if args.trace:
        tracer = Tracer()
        tracer.install()
        tracer.enabled = True

    from data_integration_est_spark.session import get_spark  # needs prepare_environment

    t = time.perf_counter()
    spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    session_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        if tracer is not None:
            tracer.enabled = False
            tracer.sc = spark.sparkContext
        loop = Loop(wl, spark, tracer)

        builds = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.build(spark, str(WORK), args.seed)
            builds.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.oracle()
        oracle_s = time.perf_counter() - t
        ops = wl.cycle()
        t = time.perf_counter()
        for _ in range(wl.warmup_cycles):  # untimed, but checked
            for kind, fn in ops:
                loop.one(kind, fn)
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(builds) + oracle_s + warm_s

        lat, per_op, wall = loop.run(ops, args.seconds, bool(args.trace))
        peak_rss = vm_hwm_mb("self") + vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
        env = {
            "nproc": cpus,
            "spark_master": spark.sparkContext.master,
            "loadavg_before": load_before,
            "loadavg_after": os.getloadavg(),
            "cpu_steal_s": cpu_steal_s() - steal_before,
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "SPARK_LOCAL_DIRS": os.environ["SPARK_LOCAL_DIRS"],
        }
    finally:
        stop_spark(spark)

    if args.trace:
        layers = {f"{n}.{m}": 0.0 for n in OP_SPANS for m in ("s", "self_s", "jobs")}
        layers.update({k: 0.0 for k in ("spark.jobs", "spark.stages", "spark.tasks",
                                         "spark.failed_tasks", "montecarlo.battery_overlap")})
        if per_op:
            layers.update(aggregate(per_op))
        setup_spans = [s for s in tracer.spans if s.name == "session.get_spark"]
        layers["session.get_spark.s"] = sum(s.end - s.start for s in setup_spans)
        layers["trace.overhead"] = mix_mean(lat[True]) / mix_mean(lat[False]) - 1.0
        layers["error_rate"] = loop.failed / loop.attempted
        layers["peak_rss_mb"] = peak_rss
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "latency_p50_s": {"value": mix_mean(lat[False]), "unit": "s"},
            "items_per_s": {"value": wl.items_per_op() * len(lat[False]) / wall, "unit": "1/s"},
        }

    detail = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke, "items": wl.items,
        "items_per_op": wl.items_per_op(), "env": env,
        "setup": {"session_s": session_s, "build_s": builds, "oracle_s": oracle_s,
                  "warmup_s": warm_s},
        "timed_wall_s": wall,
        "latency_s": {"untraced": lat[False], "traced": lat[True]},
        "errors": loop.errors, "metrics": metrics,
    }
    stem = WORK / "results" / f"{wl.name}-seed{args.seed}-trace{args.trace}"
    stem.with_suffix(".json").write_text(json.dumps(detail, indent=1))
    if tracer is not None:
        tracer.dump(str(stem) + ".spans.jsonl")
    print("perfbench " + json.dumps({k: detail[k] for k in ("workload", "seed", "env", "setup")}))
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }))
    return 0


def unit_of(name: str) -> str:
    if name == "peak_rss_mb":
        return "MB"
    if name.endswith((".jobs", ".stages", ".tasks", "failed_tasks")):
        return "count"
    if name.endswith((".s", "_s")):
        return "s"
    return "ratio"


if __name__ == "__main__":
    sys.exit(main())
