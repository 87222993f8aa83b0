"""Layer spans and Spark event-log figures for the traced run.

Spans are recorded from the benchmark's side: the public functions of each
``core`` layer are wrapped at every module that holds a reference to them
(``from ... import fit_base_learner`` binds the function into the importing
module, so patching ``core.utils`` alone would miss those call sites). Spans
carry a parent id, so self time (duration minus the union of the children's
intervals) can be computed; threads started by ``run_parallel`` inherit the
``run_parallel`` span as their parent. Spans stay in memory until the run
ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass

PKG = "spark_ensemble_spark"

# (module, function) pairs wrapped in traced passes; the span name is the
# module path below the package plus the function name.
LAYER_FUNCTIONS = [
    ("core.utils", "fit_base_learner"),
    ("core.utils", "run_parallel"),
    ("core.base", "score_base_models"),
    ("core.optim", "minimize_scalar_bounded"),
    ("core.optim", "minimize_nonneg"),
    ("core.optim", "minimize_nonneg_batched"),
    ("core.optim", "minimize_scalar_batched"),
    ("core.instances", "extract_instances"),
    ("core.instances", "get_num_features"),
    ("core.instances", "get_num_classes"),
    ("core.subbag", "draw_subspace"),
    ("core.subbag", "sample_bag"),
    ("core.subbag", "slice_features"),
    ("core.subbag", "fit_bagged_models"),
]
# (module, class, method) wrapped the same way.
LAYER_METHODS = [("core.utils", "DFIterationCache", "update")]


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    evals: int = 0  # objective evaluations, for the optimizer spans


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list = []

    # -- span bookkeeping ---------------------------------------------------
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str) -> Span:
        stack = self._stack()
        sp = Span(next(self._ids), stack[-1].id if stack else None, name, time.perf_counter())
        with self._lock:
            self.spans.append(sp)
        stack.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack().pop()

    def _wrap(self, name: str, fn):
        tracer = self

        if name.endswith(".run_parallel"):

            @functools.wraps(fn)
            def run_parallel(thunks, parallelism):
                sp = tracer._open(name)
                try:
                    return fn([tracer._child_of(sp, t) for t in thunks], parallelism)
                finally:
                    tracer._close(sp)

            return run_parallel

        counts_evals = name.startswith("core.optim.")

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = tracer._open(name)
            if counts_evals:
                args = [tracer._counting(sp, a) for a in args]
                kwargs = {k: tracer._counting(sp, v) for k, v in kwargs.items()}
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(sp)

        return traced

    def _child_of(self, parent: Span, thunk):
        def run():
            stack = self._stack()
            saved = list(stack)
            stack[:] = [parent]
            try:
                return thunk()
            finally:
                stack[:] = saved

        return run

    @staticmethod
    def _counting(sp: Span, value):
        if not callable(value):
            return value

        def counted(*a, **k):
            sp.evals += 1
            return value(*a, **k)

        return counted

    # -- patching -------------------------------------------------------------
    def install(self) -> None:
        """Wrap every layer function at every module that references it."""
        mods = [m for n, m in list(sys.modules.items()) if n.startswith(PKG) and m]
        for mod_name, fn_name in LAYER_FUNCTIONS:
            orig = getattr(sys.modules[f"{PKG}.{mod_name}"], fn_name)
            wrapper = self._wrap(f"{mod_name}.{fn_name}", orig)
            for m in mods:
                for attr, value in list(vars(m).items()):
                    if value is orig:
                        setattr(m, attr, wrapper)
                        self._restore.append((m, attr, orig))
        for mod_name, cls_name, meth in LAYER_METHODS:
            cls = getattr(sys.modules[f"{PKG}.{mod_name}"], cls_name)
            orig = cls.__dict__[meth]
            setattr(cls, meth, self._wrap(f"{mod_name}.{cls_name}.{meth}", orig))
            self._restore.append((cls, meth, orig))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._restore):
            setattr(obj, attr, orig)
        self._restore.clear()

    # -- summaries ------------------------------------------------------------
    def self_times(self) -> dict:
        """span id -> duration minus the union of its children's intervals."""
        kids: dict = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in sorted(
                (max(c.start, sp.start), min(c.end, sp.end)) for c in kids.get(sp.id, [])
            ):
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[sp.id] = (sp.end - sp.start) - covered
        return out

    def layer_metrics(self, passes: int) -> dict:
        """Per-pass layer figures over every recorded span."""
        passes = max(passes, 1)
        own = self.self_times()
        by_id = {sp.id: sp for sp in self.spans}

        def named(prefix):
            return [sp for sp in self.spans if sp.name.startswith(prefix)]

        def busy(prefix):
            return sum(own[sp.id] for sp in named(prefix)) / passes

        def under_pool(sp):
            p = sp.parent
            while p is not None:
                if by_id[p].name == "core.utils.run_parallel":
                    return True
                p = by_id[p].parent
            return False

        fits = named("core.utils.fit_base_learner")
        fit_d = [sp.end - sp.start for sp in fits]
        pools = named("core.utils.run_parallel")
        pool_wall = sum(sp.end - sp.start for sp in pools)
        pooled_fit = sum(sp.end - sp.start for sp in fits if under_pool(sp))
        scores = named("core.base.score_base_models")
        optim = named("core.optim.")
        updates = named("core.utils.DFIterationCache.update")
        return {
            "core.utils.fit_base_learner.calls": len(fits) / passes,
            "core.utils.fit_base_learner.busy_s": sum(fit_d) / passes,
            "core.utils.fit_base_learner.p50_s": statistics.median(fit_d) if fit_d else 0.0,
            "core.utils.run_parallel.wall_s": pool_wall / passes,
            "core.utils.run_parallel.overlap": pooled_fit / pool_wall if pool_wall else 0.0,
            "core.optim.calls": len(optim) / passes,
            "core.optim.objective_evals": sum(sp.evals for sp in optim) / passes,
            "core.optim.busy_s": busy("core.optim."),
            "core.utils.DFIterationCache.update.calls": len(updates) / passes,
            "core.utils.DFIterationCache.update.busy_s": busy("core.utils.DFIterationCache.update"),
            "core.instances.busy_s": busy("core.instances."),
            "core.subbag.busy_s": busy("core.subbag."),
            "core.base.score_base_models.calls": len(scores) / passes,
            "core.base.score_base_models.busy_s": busy("core.base.score_base_models"),
        }

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines (times relative to the first span)."""
        if not self.spans:
            return
        t0 = min(sp.start for sp in self.spans)
        own = self.self_times()
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": sp.id,
                            "parent": sp.parent,
                            "name": sp.name,
                            "start_s": round(sp.start - t0, 6),
                            "dur_s": round(sp.end - sp.start, 6),
                            "self_s": round(own[sp.id], 6),
                            "evals": sp.evals,
                        }
                    )
                    + "\n"
                )


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

SPARK_METRICS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.task_s",
    "spark.gc_s",
    "spark.shuffle_read_mb",
    "spark.shuffle_write_mb",
    "spark.spill_mb",
    "spark.driver_gap_s",
    "spark.jobs_per_learner",
    "spark.core_util",
)


def _union_within(intervals, lo, hi) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def event_log_metrics(log_dir: str, windows, cores: int, learners: float) -> dict:
    """Spark figures per pass for events inside ``windows``.

    ``windows`` are (start, end) wall-clock seconds of the measured passes.
    Jobs, stages and tasks count when they start inside a window; the
    driver gap is the window time during which no job was running.
    """
    files = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.startswith(".") and not f.endswith(".crc")
    ]
    if not files:
        raise RuntimeError("no Spark event log was written")
    jobs, stages, tasks = {}, 0, []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = [ev["Submission Time"] / 1000.0, None]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    sub = ev["Stage Info"].get("Submission Time")
                    if sub is not None and _inside(sub / 1000.0, windows):
                        stages += 1
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    if not _inside(info["Launch Time"] / 1000.0, windows):
                        continue
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        (
                            m.get("Executor Run Time", 0) / 1000.0,
                            m.get("JVM GC Time", 0) / 1000.0,
                            rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                            wr.get("Shuffle Bytes Written", 0),
                            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        )
                    )
    n = max(len(windows), 1)
    wall = sum(e - s for s, e in windows)
    spans = [(s, e if e is not None else s) for s, e in jobs.values()]
    n_jobs = sum(1 for s, _ in spans if _inside(s, windows))
    covered = sum(_union_within(spans, lo, hi) for lo, hi in windows)
    task_s = sum(t[0] for t in tasks)
    mb = 1024.0 * 1024.0
    return {
        "spark.jobs": n_jobs / n,
        "spark.stages": stages / n,
        "spark.tasks": len(tasks) / n,
        "spark.task_s": task_s / n,
        "spark.gc_s": sum(t[1] for t in tasks) / n,
        "spark.shuffle_read_mb": sum(t[2] for t in tasks) / mb / n,
        "spark.shuffle_write_mb": sum(t[3] for t in tasks) / mb / n,
        "spark.spill_mb": sum(t[4] for t in tasks) / mb / n,
        "spark.driver_gap_s": (wall - covered) / n,
        "spark.jobs_per_learner": n_jobs / learners if learners else 0.0,
        "spark.core_util": task_s / (wall * cores) if wall else 0.0,
    }


def _inside(t: float, windows) -> bool:
    return any(lo <= t <= hi for lo, hi in windows)
