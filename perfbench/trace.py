"""Spans recorded from outside the engine, and the Spark stage metrics
of the jobs each span caused.

A span is (id, name, start, end, parent, run id). Spans are kept in
memory and written out when the run ends. While a span is open, every
Spark job the driver thread submits carries the job description
``pb/<run id>/<span id>``; threads started with pyspark's
``inheritable_thread_target`` inherit it. Stage metrics are read once
at the end from ``statusStore().stageList`` and grouped by that
description, so a span's jobs are its own plus its children's.

``instrument`` wraps the public functions of engine modules so a call
opens a span; the engine's source is not touched, the wrappers are
installed on the module objects for the traced run and removed after.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    run: str


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval that its children
    cover (overlapping children count once; a child's time outside
    its parent does not count)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted((max(c.start, s.start), min(c.end, s.end))
                             for c in kids.get(s.id, ())):
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
        out[s.id] = (s.end - s.start) - covered
    return out


class Tracer:
    """Span recorder. A disabled tracer opens no spans and sets no
    job descriptions, so the untraced runs pay nothing for it."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.sc = None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def description(self, span: Span) -> str:
        return f"pb/{self.run_id}/{span.id}"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            s = Span(len(self.spans), name, time.perf_counter(), None,
                     stack[-1].id if stack else None, self.run_id)
            self.spans.append(s)
        stack.append(s)
        sc = self.sc
        if sc is not None:
            prev = sc.getLocalProperty("spark.job.description")
            sc.setLocalProperty("spark.job.description", self.description(s))
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.job.description", prev)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def instrument(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Wrap ``owner.attr`` (a function on a module, or a plain or
    class method on a class) in a span named ``name`` and rebind every
    module-level alias of the same function object inside the engine
    package (``from x import f`` copies the reference). Returns an
    undo callable."""
    undo = []
    for owner, attr, name in targets:
        raw = owner.__dict__[attr]
        if isinstance(raw, classmethod):
            new = classmethod(tracer.wrap(name, raw.__func__))
        else:
            new = tracer.wrap(name, raw)
        setattr(owner, attr, new)
        undo.append((owner, attr, raw))
        if isinstance(owner, type) or isinstance(raw, classmethod):
            continue
        for mod in list(sys.modules.values()):
            if mod is None or mod is owner or not getattr(
                    mod, "__name__", "").startswith("osmnightwatch_spark"):
                continue
            for k, v in list(vars(mod).items()):
                if v is raw:
                    setattr(mod, k, new)
                    undo.append((mod, k, raw))

    def restore():
        for owner, attr, raw in reversed(undo):
            setattr(owner, attr, raw)
    return restore


@contextmanager
def capture(owner, attr: str):
    """While open, record every call to ``owner.attr`` as ``(args,
    kwargs, result)``: how the benchmark gets hold of the intermediate
    DataFrames an engine function builds (its dirty set, its recompute
    input) without touching the engine's source."""
    calls: list[tuple] = []
    raw = getattr(owner, attr)

    @functools.wraps(raw)
    def recorded(*args, **kwargs):
        out = raw(*args, **kwargs)
        calls.append((args, kwargs, out))
        return out

    setattr(owner, attr, recorded)
    try:
        yield calls
    finally:
        setattr(owner, attr, raw)


# -- SQL operator metrics -------------------------------------------------------

# physical operators that wrap the plan they ran, and how to reach it
_WRAPPERS = {"AdaptiveSparkPlanExec": "executedPlan",
             "ShuffleQueryStageExec": "plan", "BroadcastQueryStageExec": "plan",
             "ResultQueryStageExec": "plan", "TableCacheQueryStageExec": "plan"}


def plan_nodes(df) -> list:
    """The physical operators ``df`` ran, through adaptive query
    stages; call it after an action on ``df`` itself (``collect`` or
    ``toPandas``), when its adaptive plan is final. A reused exchange
    is not descended into, so no operator is counted twice."""
    out, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls in _WRAPPERS:
            todo.append(getattr(node, _WRAPPERS[cls])())
            continue
        out.append(node)
        if cls != "ReusedExchangeExec":
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def python_udf_rows(df) -> int:
    """Rows the plan's Arrow-batched Python UDFs evaluated (the SQL
    metric ``pythonNumRowsReceived`` of every ``ArrowEvalPythonExec``)."""
    total = 0
    for node in plan_nodes(df):
        if node.getClass().getSimpleName() == "ArrowEvalPythonExec":
            m = node.metrics().get("pythonNumRowsReceived")
            if m.isDefined():
                total += int(m.get().value())
    return total


# -- Spark stage metrics ------------------------------------------------------

STAGE_FIELDS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s",
                "executor_noncpu_s", "shuffle_bytes", "peak_exec_mem_bytes")


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _opt(scala_opt):
    return scala_opt.get() if scala_opt.isDefined() else None


def stage_metrics(sc, prefix: str) -> dict[str, dict]:
    """Per job description starting with ``prefix``: jobs, tasks and
    the executor metrics of their stages. Shuffle bytes are the bytes
    written by shuffle map stages; non-CPU time is executor run time
    minus executor CPU time (mostly Python-worker time and waits)."""
    store = sc._jsc.sc().statusStore()
    out: dict[str, dict] = {}

    def slot(desc):
        return out.setdefault(desc, dict.fromkeys(STAGE_FIELDS, 0))

    for job in _seq(store.jobsList(None)):
        desc = _opt(job.description())
        if desc and desc.startswith(prefix):
            slot(desc)["jobs"] += 1
    empty = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    for st in _seq(store.stageList(None, False, False, empty, None)):
        desc = _opt(st.description())
        if not desc or not desc.startswith(prefix):
            continue
        m = slot(desc)
        m["tasks"] += st.numCompleteTasks()
        m["executor_run_s"] += st.executorRunTime() / 1e3
        m["executor_cpu_s"] += st.executorCpuTime() / 1e9
        m["shuffle_bytes"] += st.shuffleWriteBytes()
        m["peak_exec_mem_bytes"] = max(m["peak_exec_mem_bytes"],
                                       st.peakExecutionMemory())
    for m in out.values():
        m["executor_noncpu_s"] = m["executor_run_s"] - m["executor_cpu_s"]
    return out


def span_stage_metrics(tracer: Tracer, by_desc: dict[str, dict]) -> dict[int, dict]:
    """Inclusive stage metrics per span: its own jobs plus those of
    every descendant."""
    kids: dict[int, list[int]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)
    own = {s.id: by_desc.get(tracer.description(s)) for s in tracer.spans}
    memo: dict[int, dict] = {}

    def total(sid):
        if sid in memo:
            return memo[sid]
        acc = dict.fromkeys(STAGE_FIELDS, 0)
        parts = [own[sid]] + [total(k) for k in kids.get(sid, ())]
        for p in parts:
            if not p:
                continue
            for f in STAGE_FIELDS:
                if f == "peak_exec_mem_bytes":
                    acc[f] = max(acc[f], p[f])
                else:
                    acc[f] += p[f]
        memo[sid] = acc
        return acc

    return {s.id: total(s.id) for s in tracer.spans}
