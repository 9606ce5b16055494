"""Tracing for the benchmark's traced run, kept outside the program.

``Tracer`` wraps the public entry points of each ``calcite_spark`` layer
(patched where callers look the name up) and records one span per call:
name, start, end, parent span and query id. ``SparkProbe`` attributes
Spark jobs, stages and Catalyst phase times to one query through a job
group and a QueryExecutionListener. ``HostProbe`` reads the CPU time and
peak RSS of this process and the JVM from /proc.

Nothing here is installed in untraced rounds: ``Tracer.install`` patches,
``Tracer.uninstall`` restores the original objects.
"""

from __future__ import annotations

import functools
import os
import re
import resource
import sys
import time
from collections import Counter
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: int  # perf_counter_ns
    end: int
    parent: int | None  # index into Tracer.spans
    qid: str | None


def self_times(spans: list[Span]) -> list[int]:
    """Each span's duration minus the part of its interval that its
    direct children cover (children may overlap each other)."""
    kids: dict[int, list[tuple[int, int]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0, None, None
        for lo, hi in sorted(kids.get(i, ())):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(s.end - s.start - covered)
    return out


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.counts: Counter = Counter()
        self.rule_counts: Counter = Counter()  # (rule, "calls"|"fires")
        self.hits: Counter = Counter()  # "module.Class.attr" -> calls
        self.qid: str | None = None
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------

    def span(self, name: str, fn, /, *args, **kwargs):
        """Call ``fn`` inside a span named ``name``."""
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        span = Span(name, time.perf_counter_ns(), 0, parent, self.qid)
        self.spans.append(span)
        self.stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            self.stack.pop()
            span.end = time.perf_counter_ns()

    def active(self, name: str) -> bool:
        return any(self.spans[i].name == name for i in self.stack)

    def _wrap(self, name: str, fn):
        tracer = self
        site = f"{fn.__module__}.{fn.__qualname__}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            tracer.hits[site] += 1
            return tracer.span(name, fn, *args, **kwargs)

        wrapper.__perfbench_original__ = fn
        return wrapper

    def _wrap_lowering(self, fn):
        """RelNode.to_df: only the outermost call is a span; a lowering
        started under a rewrite span is counted as a planning-time
        lowering."""
        tracer = self
        site = f"{fn.__module__}.{fn.__qualname__}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            tracer.hits[site] += 1
            if tracer.active("plans.ir"):
                return fn(*args, **kwargs)
            if tracer.active("plans.rewrite"):
                tracer.counts["plans.rewrite.lowerings"] += 1
            return tracer.span("plans.ir", fn, *args, **kwargs)

        wrapper.__perfbench_original__ = fn
        return wrapper

    def _wrap_rule(self, rule_name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(node, catalog):
            out = fn(node, catalog)
            tracer.rule_counts[(rule_name, "calls")] += 1
            if out is not None and out is not node:
                tracer.rule_counts[(rule_name, "fires")] += 1
            return out

        wrapper.__perfbench_original__ = fn
        return wrapper

    # -- patching --------------------------------------------------------

    def _set(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _patch_function(self, name: str, module, attr: str) -> None:
        """Replace a module-level function in its own module and in every
        loaded calcite_spark module that bound it by ``from ... import``."""
        original = getattr(module, attr)
        wrapper = self._wrap(name, original)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("calcite_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is original:
                    self._set(mod, key, wrapper)

    def _patch_method(self, name: str, cls, attr: str) -> None:
        self._set(cls, attr, self._wrap(name, cls.__dict__[attr]))

    def install(self) -> None:
        """Patch every traced entry point. Import the query registry first,
        so that every module that binds a traced function is loaded."""
        from calcite_spark import catalog
        from calcite_spark.plans import ir, materialize, rewrite
        from calcite_spark.sources import modify
        from calcite_spark.sql import ddl, frontend

        self._patch_function("catalog.open", catalog, "open_catalog")
        self._patch_method("catalog.table", catalog.Catalog, "table")
        self._patch_method("plans.rewrite", rewrite.BoundProgram, "run")
        for rule in rewrite.DEFAULT_RULES:
            self._set(rule, "transform", self._wrap_rule(rule.name, rule.transform))
        for cls in _subclasses(ir.RelNode):
            if "to_df" in cls.__dict__:
                self._set(cls, "to_df", self._wrap_lowering(cls.__dict__["to_df"]))
        for cls in (materialize.MaterializationRegistry, materialize.LatticeSuggester):
            for attr in list(cls.__dict__):
                if attr.startswith(("define", "substitute")) or attr in (
                    "incremental_refresh",
                    "suggest",
                    "auto_build",
                ):
                    self._patch_method("plans.materialize", cls, attr)
        for attr in ("merge_into", "insert_into", "update_set", "delete_where"):
            self._patch_function("sources.modify", modify, attr)
        self._patch_method("sql.ddl", ddl.DdlExecutor, "execute")
        self._patch_method("sql.frontend", frontend.SqlFrontend, "parse")

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- per-query summary ----------------------------------------------

    def mark(self) -> tuple[int, Counter, Counter]:
        return len(self.spans), Counter(self.counts), Counter(self.rule_counts)

    def summarize(self, mark) -> dict[str, float]:
        """Layer totals for the spans and counts recorded since ``mark``."""
        first, counts0, rules0 = mark
        spans = self.spans[first:]
        shifted = [
            Span(s.name, s.start, s.end, None if s.parent is None or s.parent < first else s.parent - first, s.qid)
            for s in spans
        ]
        selfs = self_times(shifted)
        out: Counter = Counter()
        for s, own in zip(shifted, selfs):
            out[f"{s.name}.self_ms"] += own / 1e6
            out[f"{s.name}.total_ms"] += (s.end - s.start) / 1e6
            out[f"{s.name}.calls"] += 1
        for k, v in self.counts.items():
            out[k] += v - counts0.get(k, 0)
        calls = fires = mv = 0
        for (rule, kind), v in self.rule_counts.items():
            d = v - rules0.get((rule, kind), 0)
            if kind == "calls":
                calls += d
            else:
                fires += d
                if rule.startswith("MaterializedView"):
                    mv += d
        out["plans.rewrite.rule_calls"] += calls
        out["plans.rewrite.rule_fires"] += fires
        out["plans.rewrite.mv_substitutions"] += mv
        return dict(out)


def _subclasses(cls):
    seen, todo = [], [cls]
    while todo:
        c = todo.pop()
        if c not in seen:
            seen.append(c)
            todo.extend(c.__subclasses__())
    return seen


_PYTHON_OPS = re.compile(r"\b(BatchEvalPython|ArrowEvalPython|\w+InPandas|\w*InArrow|\w*PythonUDTF)\w*")


def _phases(qe) -> dict[str, float]:
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


class _QueryListener:
    """py4j implementation of Spark's QueryExecutionListener: keeps the
    Catalyst phase times and Python operator count of each action."""

    def __init__(self):
        self.events: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):
        python_ops = len(_PYTHON_OPS.findall(qe.executedPlan().toString()))
        self.events.append({"phases": _phases(qe), "python_ops": python_ops})

    def onFailure(self, func_name, qe, exception):
        self.events.append({"phases": _phases(qe), "python_ops": 0})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkProbe:
    """Per-query Spark attribution: ``begin`` sets a job group before the
    registry callable runs (tile writes launch jobs during build), ``end``
    drains the listener bus and reads the status store."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.sc = spark.sparkContext
        ensure_callback_server_started(self.sc._gateway)
        self.listener = _QueryListener()
        self._manager = spark._jsparkSession.listenerManager()
        self._manager.register(self.listener)
        self._bus = self.sc._jsc.sc().listenerBus()
        self._store = self.sc._jsc.sc().statusStore()
        self._first_event = 0

    def close(self) -> None:
        self._manager.unregister(self.listener)

    def begin(self, qid: str) -> None:
        self._bus.waitUntilEmpty()
        self._first_event = len(self.listener.events)
        self.sc.setJobGroup(qid, qid)

    def job_ids(self, qid: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(qid))

    def end(self, qid: str, df, exec_ms: float) -> dict[str, float]:
        self._bus.waitUntilEmpty()
        self.sc._jsc.clearJobGroup()
        out: Counter = Counter()
        if df is not None:
            # the DataFrame was analysed eagerly while it was built
            out["catalyst.analysis_ms"] += _phases(df._jdf.queryExecution()).get("analysis", 0.0)
        for ev in self.listener.events[self._first_event :]:
            for phase, ms in ev["phases"].items():
                out[f"catalyst.{phase}_ms"] += ms
            out["spark_exec.python_ops"] += ev["python_ops"]
        jobs = self.job_ids(qid)
        out["spark_exec.jobs"] += len(jobs)
        tracker = self.sc.statusTracker()
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # aged out of the status store
                    continue
                out["spark_exec.stages"] += 1
                if sd.status().toString() == "SKIPPED":
                    out["spark_exec.stages_skipped"] += 1
                    continue
                out["spark_exec.tasks"] += sd.numTasks()
                out["spark_exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["spark_exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spark_exec.executor_run_ms"] += sd.executorRunTime()
                out["spark_exec.executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["spark_exec.gc_ms"] += sd.jvmGcTime()
        out["spark_exec.ms"] += exec_ms
        return dict(out)


class HostProbe:
    """CPU seconds and peak RSS of this process plus the JVM and its
    descendants (Python workers), read from /proc."""

    def __init__(self, jvm_pid: int | None):
        self.jvm_pid = jvm_pid
        self._tick = os.sysconf("SC_CLK_TCK")

    def _tree(self) -> list[int]:
        if self.jvm_pid is None:
            return []
        parents: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        fields = f.read().rsplit(")", 1)[1].split()
                    parents[int(d)] = int(fields[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, todo = [], [self.jvm_pid]
        while todo:
            p = todo.pop()
            tree.append(p)
            todo.extend(c for c, pp in parents.items() if pp == p)
        return tree

    def cpu_s(self) -> float:
        t = os.times()
        total = t.user + t.system
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # utime stime cutime cstime
            total += sum(int(x) for x in fields[11:15]) / self._tick
        return total

    def peak_rss_mb(self) -> float:
        mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            mb += int(line.split()[1]) / 1024.0
            except OSError:
                continue
        return mb
