"""Span tracing around the package's public functions, installed from outside.

``Tracer.install()`` replaces each traced function by a wrapper, on its
defining module and on every module of the package that bound the same
function object with ``from ... import``.  Nothing in the package is edited;
while ``enabled`` is false a wrapper only calls through.

A span is (id, name, start, end, parent, thread, op).  Spans live in memory
and are written out once, at the end of the run.  Each span runs its Spark
jobs under a job group of its own, so the jobs a span launched itself are
``SparkStatusTracker.getJobIdsForGroup(<its group>)``.  A span opened on a
thread with no open span (the threads the Monte Carlo battery runs on) takes
as parent the innermost span open on the thread that installed the tracer.
"""

from __future__ import annotations

import importlib
import itertools
import json
import statistics
import sys
import threading
import time
from dataclasses import asdict, dataclass

PKG = "data_integration_est_spark"

# (module relative to the package, function).  The battery functions are the
# nine grouped estimators ``montecarlo.run_nmar_study`` calls.
TRACED = (
    ("session", "get_spark"),
    ("estimators.regdi", "regdi"),
    ("estimators.pc", "pc_estimator"),
    ("integrate", "integrate_samples"),
    ("kernels.stats", "svymean"),
    ("kernels.linalg", "calibrate"),
    ("kernels.linalg", "fit_ols"),
    ("kernels.linalg", "fit_logistic"),
    ("montecarlo", "run_nmar_study"),
    ("estimators.vectorized", "naive_mean_grouped"),
    ("estimators.vectorized", "regdi_c0_grouped"),
    ("estimators.vectorized", "calibrated_b_grouped"),
    ("estimators.vectorized", "fit_outcome_grouped"),
    ("estimators.vectorized", "u_pred_stats_grouped"),
    ("estimators.vectorized", "pc_s1_grouped"),
    ("estimators.vectorized", "pc_dr1_grouped"),
    ("estimators.vectorized", "regdi_dr_grouped"),
    ("estimators.vectorized", "clw_grouped"),
)
SPAN_NAMES = tuple(f"{m}.{f}" for m, f in TRACED)
SETUP_SPANS = ("session.get_spark",)
OP_SPANS = tuple(n for n in SPAN_NAMES if n not in SETUP_SPANS)
STUDY = "montecarlo.run_nmar_study"
BATTERY = tuple(n for n in SPAN_NAMES if n.startswith("estimators.vectorized."))
JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: int
    op: int | None
    group: str | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.sc = None  # SparkContext, once the session exists
        self.op: int | None = None
        self.enabled = False
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._home = threading.get_ident()
        self._home_stack: list[Span] = []

    # -- wrappers ---------------------------------------------------------

    def install(self) -> None:
        for mod_name, fn_name in TRACED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            original = getattr(mod, fn_name)
            wrapper = self._wrap(f"{mod_name}.{fn_name}", original)
            for other in list(sys.modules.values()):
                name = getattr(other, "__name__", "") or ""
                if not (name == PKG or name.startswith(PKG + ".")):
                    continue
                for attr, value in list(vars(other).items()):
                    if value is original:
                        setattr(other, attr, wrapper)

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._home:
            return self._home_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _wrap(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            if stack:
                parent = stack[-1].id
            elif tracer._home_stack:
                parent = tracer._home_stack[-1].id
            else:
                parent = None
            span = Span(next(tracer._ids), name, 0.0, 0.0, parent,
                        threading.get_ident(), tracer.op)
            sc = tracer.sc
            if sc is not None:
                span.group = f"perfbench-{span.id}"
                prev = sc.getLocalProperty(JOB_GROUP)
                sc.setLocalProperty(JOB_GROUP, span.group)
            stack.append(span)
            span.start = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                stack.pop()
                if sc is not None:
                    sc.setLocalProperty(JOB_GROUP, prev)
                tracer.spans.append(span)
            return out

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        traced.__doc__ = getattr(fn, "__doc__", None)
        return traced

    # -- Spark counts -----------------------------------------------------

    def settle(self) -> None:
        """Wait until the Spark listener bus has delivered every event, so
        the status tracker reflects the jobs that already finished."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def job_counts(self, job_ids) -> tuple[int, int, int, int]:
        tracker = self.sc.statusTracker()
        stages = tasks = failed = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += st.numCompletedTasks + st.numFailedTasks
                failed += st.numFailedTasks
        return len(job_ids), stages, tasks, failed

    def count_spans(self, op: int) -> None:
        tracker = self.sc.statusTracker()
        for s in self.spans:
            if s.op == op and s.group is not None:
                ids = tracker.getJobIdsForGroup(s.group)
                s.jobs, s.stages, s.tasks, s.failed_tasks = self.job_counts(ids)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


# -- derived per-layer numbers ----------------------------------------------


def _union(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Duration minus the part of the span's interval its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [(max(lo, s.start), min(hi, s.end)) for lo, hi in kids.get(s.id, [])]
        out[s.id] = (s.end - s.start) - _union([c for c in clipped if c[1] > c[0]])
    return out


def op_layers(spans: list[Span]) -> dict[str, float]:
    """Per-layer numbers of ONE op from its spans: for each traced name the
    total time (outermost calls only, so a name nested in itself is not
    counted twice), the self time and the Spark jobs its spans launched."""
    by_id = {s.id: s for s in spans}
    selfs = self_times(spans)
    out: dict[str, float] = {}
    for name in OP_SPANS:
        out[f"{name}.s"] = out[f"{name}.self_s"] = out[f"{name}.jobs"] = 0.0
    for s in spans:
        anc, nested = s.parent, False
        while anc is not None and anc in by_id:
            if by_id[anc].name == s.name:
                nested = True
                break
            anc = by_id[anc].parent
        if not nested:
            out[f"{s.name}.s"] += s.end - s.start
        out[f"{s.name}.self_s"] += selfs[s.id]
        out[f"{s.name}.jobs"] += s.jobs
    battery = [s for s in spans if s.name in BATTERY
               and s.parent in by_id and by_id[s.parent].name == STUDY]
    wall = _union([(s.start, s.end) for s in battery])
    out["montecarlo.battery_overlap"] = (
        sum(s.end - s.start for s in battery) / wall if wall > 0 else 0.0
    )
    return out


def aggregate(per_op: list[tuple[str, dict[str, float]]]) -> dict[str, float]:
    """Median over the ops of each kind, then the mean over the kinds: the
    per-op figure of one balanced pass through the workload's op mix."""
    kinds: dict[str, list[dict[str, float]]] = {}
    for kind, vals in per_op:
        kinds.setdefault(kind, []).append(vals)
    keys = sorted({k for _, vals in per_op for k in vals})
    return {
        k: statistics.fmean(
            statistics.median(v[k] for v in ops if k in v) for ops in kinds.values()
            if any(k in v for v in ops)
        )
        for k in keys
    }
