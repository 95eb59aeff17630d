"""Traced runs: spans recorded from outside the package, plus per-op
readouts from Spark's status store and Catalyst.

Spans are recorded by wrapping, from the benchmark's side, the public
functions of ``impc_etl_spark.{sources,operators,multimodal,plans}``, the
registry entries, ``DataFrameReader.parquet`` / ``DataFrameWriter.parquet``
and each op's action. A span has a name, start, end, parent and the op id
shared by every span of one op. Spans stay in memory and are written once,
when the run ends.

After each op, ``StatusReader`` reads (never computes) what Spark recorded
for it: the op's jobs and their stages from ``AppStatusStore`` (works with
``spark.ui.enabled=false``), Catalyst phase times from each
``QueryExecution.tracker()`` delivered to a ``QueryExecutionListener``, and
the SQL metrics of the Python-evaluation plan nodes. None of these reads
launches a Spark job.

Jobs are attributed to spans by time: an action blocks its caller until its
jobs end, so each job's submission lies inside the innermost span that
launched it.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import re
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# layers whose public functions get spans; a module's layer is its path
# under the package (operators.dedup, multimodal.media, plans.runner, ...)
PACKAGES = ("sources", "operators", "multimodal", "plans")

PY_NODE = re.compile(r'label="[^"]*(?:Python|Pandas|InArrow|ArrowEval)[^"]*"')


@dataclass
class Span:
    id: int
    name: str     # "<layer>:<function>" or a boundary name
    start: float  # epoch seconds
    end: float
    parent: int | None
    op: str | None

    @property
    def layer(self) -> str:
        return self.name.split(":", 1)[0]


def interval_union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it covered by its children (the
    union of their intervals, clipped to the parent). Never negative."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {s.id: max(0.0, (s.end - s.start) - interval_union(
                ((c.start, c.end) for c in kids.get(s.id, ())), s.start, s.end))
            for s in spans}


class Tracer:
    """In-memory span recorder with function wrappers."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        s = Span(sid, name, time.time(), 0.0,
                 self._stack[-1] if self._stack else None, self.op)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _set(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def instrument(self, extra_modules=()) -> None:
        """Wrap every public function and method of the traced packages and
        rebind each reference to it in the package's modules (and in
        ``extra_modules``); ``restore`` undoes it."""
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        for pkg in PACKAGES:
            mod = importlib.import_module(f"impc_etl_spark.{pkg}")
            for info in pkgutil.walk_packages(mod.__path__, mod.__name__ + "."):
                importlib.import_module(info.name)
        originals: dict[int, object] = {}
        for mname, mod in list(sys.modules.items()):
            parts = mname.split(".")
            if parts[0] != "impc_etl_spark" or len(parts) < 2 or parts[1] not in PACKAGES:
                continue
            layer = ".".join(parts[1:])
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_"):
                    continue
                if inspect.isfunction(obj) and obj.__module__ == mname:
                    originals[id(obj)] = self.wrap(obj, f"{layer}:{attr}")
                elif inspect.isclass(obj) and obj.__module__ == mname:
                    for mattr, meth in list(vars(obj).items()):
                        if inspect.isfunction(meth) and not mattr.startswith("_"):
                            self._set(obj, mattr,
                                      self.wrap(meth, f"{layer}:{attr}.{mattr}"))
        targets = [m for n, m in list(sys.modules.items())
                   if n.split(".")[0] == "impc_etl_spark"] + list(extra_modules)
        for mod in targets:
            for attr, obj in list(vars(mod).items()):
                w = originals.get(id(obj))
                if w is not None:
                    self._set(mod, attr, w)
        self._set(DataFrameReader, "parquet", self.wrap(DataFrameReader.parquet, "sources:read"))
        self._set(DataFrameWriter, "parquet", self.wrap(DataFrameWriter.parquet, "plans.runner:write"))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


class StatusReader:
    """Reads what Spark recorded for an op. Every call here is a status
    store / plan read; none launches a job."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._om = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._om.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._graph = jvm.org.apache.spark.ui.scope.RDDOperationGraph
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._next_job = self._job_count()
        self._seen_stages: set[int] = set()
        ensure_callback_server_started(self.sc._gateway)
        self._listener = _QeListener()
        spark._jsparkSession.listenerManager().register(self._listener)

    def _json(self, obj):
        return json.loads(self._om.writeValueAsString(obj))

    def _job_count(self) -> int:
        jobs = self._json(self._store.jobsList(None))
        return max((j["jobId"] for j in jobs), default=-1) + 1

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self._listener)

    def read(self) -> dict:
        """Everything recorded since the previous ``read``."""
        from py4j.protocol import Py4JJavaError

        self._bus.waitUntilEmpty()
        jobs = []
        while True:
            try:
                j = self._json(self._store.job(self._next_job))
            except Py4JJavaError:
                break
            self._next_job += 1
            jobs.append(j)
        stages = []
        for j in jobs:
            for sid in j["stageIds"]:
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                for a in self._json(self._store.stageData(
                        sid, False, None, False, self._no_quantiles)):
                    ran = a["status"] not in ("SKIPPED", "PENDING")
                    py = False
                    if ran and a["executorRunTime"] > 0:
                        dot = self._graph.makeDotFile(self._store.operationGraphForStage(sid))
                        py = bool(PY_NODE.search(dot))
                    stages.append({k: a[k] for k in _STAGE_KEYS} | {"python": py})
        catalyst = []
        for func, qe in self._listener.take():
            phases = self._json(qe.tracker().phases())
            rec = {"func": func, **{p: (v["endTimeMs"] - v["startTimeMs"]) / 1e3
                                    for p, v in phases.items()}}
            rec.update(_python_node_metrics(qe.executedPlan()))
            catalyst.append(rec)
        return {"jobs": [{k: j.get(k) for k in _JOB_KEYS} for j in jobs],
                "stages": stages, "queries": catalyst}


_JOB_KEYS = ("jobId", "jobGroup", "submissionTime", "completionTime", "status",
             "stageIds", "numFailedTasks")
_STAGE_KEYS = (
    "stageId", "attemptId", "status", "numCompleteTasks", "numFailedTasks",
    "executorRunTime", "executorCpuTime", "jvmGcTime", "inputBytes",
    "outputBytes", "shuffleReadBytes", "shuffleWriteBytes",
    "shuffleFetchWaitTime", "memoryBytesSpilled", "diskBytesSpilled",
)


class _QeListener:
    """``QueryExecutionListener`` implemented over the Py4J callback server
    (its methods run on callback threads); it only keeps the QueryExecution
    handles for ``StatusReader.read``."""

    def __init__(self):
        self._lock = threading.Lock()
        self._qes: list[tuple[str, object]] = []

    def take(self) -> list[tuple[str, object]]:
        with self._lock:
            out, self._qes = self._qes, []
        return out

    def onSuccess(self, func, qe, duration_ns):  # noqa: N802 (Java interface)
        with self._lock:
            self._qes.append((func, qe))

    def onFailure(self, func, qe, exc):  # noqa: N802
        with self._lock:
            self._qes.append((func, qe))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _python_node_metrics(plan) -> dict:
    """Sum the SQL metrics of the Python-evaluation nodes of an executed
    plan (walking through adaptive and query-stage wrappers)."""
    out = {"py_rows_out": 0, "py_bytes_out": 0}
    if not re.search(r"Python|Pandas|InArrow|ArrowEval", plan.toString()):
        return out
    todo = [plan]
    while todo:
        p = todo.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        if cls.startswith("Reused"):
            continue
        ms = p.metrics()
        if ms.contains("pythonNumRowsReceived"):
            out["py_rows_out"] += ms.apply("pythonNumRowsReceived").value()
            out["py_bytes_out"] += ms.apply("pythonDataReceived").value()
        kids = p.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
        subs = p.subqueries()
        todo.extend(subs.apply(i) for i in range(subs.size()))
    return out


@dataclass
class OpRecord:
    op: str
    name: str
    start: float
    end: float
    ok: bool
    readout: dict


def _span_jobs(spans: list[Span], jobs: list[dict]) -> dict[int, list[dict]]:
    """Innermost span (same op) whose interval holds each job's submission."""
    by_op: dict[str | None, list[Span]] = {}
    for s in spans:
        by_op.setdefault(s.op, []).append(s)
    out: dict[int, list[dict]] = {}
    for j in jobs:
        t = (j.get("submissionTime") or 0) / 1e3
        best = None
        for s in by_op.get(j.get("_op"), ()):
            # submission times are whole milliseconds
            if s.start - 1e-3 <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        if best is not None:
            out.setdefault(best.id, []).append(j)
    return out


def layer_metrics(spans: list[Span], ops: list[OpRecord], layers: list[str]) -> dict[str, float]:
    """Per-layer totals over the traced ops. ``layers`` lists the operator
    and multimodal layers reported by name."""
    selft = self_times(spans)
    jobs = [j | {"_op": o.op} for o in ops for j in o.readout.get("jobs", ())]
    stages = [s for o in ops for s in o.readout.get("stages", ())]
    queries = [q for o in ops for q in o.readout.get("queries", ())]
    span_jobs = _span_jobs(spans, jobs)
    by_id = {s.id: s for s in spans}

    def under(s: Span, prefix: str) -> bool:
        while s is not None:
            if s.name.startswith(prefix):
                return True
            s = by_id.get(s.parent) if s.parent is not None else None
        return False

    def outermost(prefix: str):
        return [s for s in spans if s.name.startswith(prefix)
                and not (s.parent is not None and under(by_id[s.parent], prefix))]

    def dur(ss):
        return sum(s.end - s.start for s in ss)

    def jobs_in(pred):
        return sum(len(v) for sid, v in span_jobs.items() if pred(by_id[sid]))

    def is_read(s: Span) -> bool:
        return s.name == "sources:read" or s.layer == "sources.readers"

    m: dict[str, float] = {}
    reads = [s for s in spans if is_read(s)]
    m["sources.read_calls"] = len(reads)
    m["sources.read_s"] = dur(s for s in reads if not (
        s.parent is not None and is_read(by_id[s.parent])))
    m["sources.read_jobs"] = jobs_in(is_read)
    for phase in ("build", "action"):
        m[f"queries.{phase}_s"] = dur(outermost(f"queries.{phase}"))
        m[f"queries.{phase}_jobs"] = sum(
            1 for j in jobs if (j.get("jobGroup") or "").endswith(f":{phase}"))
    for layer in layers:
        ss = [s for s in spans if s.layer == layer]
        m[f"{layer}.calls"] = len(ss)
        m[f"{layer}.self_s"] = sum(selft[s.id] for s in ss)
        m[f"{layer}.jobs"] = jobs_in(lambda s, layer=layer: s.layer == layer)
    m["plans.observations.self_s"] = sum(
        selft[s.id] for s in spans if s.layer == "plans.observations")
    m["plans.runner.task_s"] = dur(outermost("plans.runner:Pipeline.run"))
    m["plans.runner.write_s"] = dur(outermost("plans.runner:write"))
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_s"] = sum(q.get(phase, 0.0) for q in queries)
    ran = [s for s in stages if s["status"] not in ("SKIPPED", "PENDING")]
    run_s = sum(s["executorRunTime"] for s in stages) / 1e3
    cpu_s = sum(s["executorCpuTime"] for s in stages) / 1e9
    m.update({
        "exec.jobs": len(jobs),
        "exec.stages": len(ran),
        "exec.tasks": sum(s["numCompleteTasks"] for s in stages),
        "exec.run_s": run_s,
        "exec.cpu_s": cpu_s,
        "exec.cpu_util": cpu_s / run_s if run_s else 0.0,
        "exec.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "exec.input_bytes": sum(s["inputBytes"] for s in stages),
        "exec.failed_tasks": sum(s["numFailedTasks"] for s in stages),
        "exchange.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "exchange.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
        "exchange.fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3,
        "exchange.spill_memory_bytes": sum(s["memoryBytesSpilled"] for s in stages),
        "exchange.spill_disk_bytes": sum(s["diskBytesSpilled"] for s in stages),
        "pyworker.rows_out": sum(q.get("py_rows_out", 0) for q in queries),
        "pyworker.bytes_out": sum(q.get("py_bytes_out", 0) for q in queries),
        "pyworker.stage_run_s": sum(s["executorRunTime"] for s in stages if s["python"]) / 1e3,
    })
    gap = 0.0
    for o in ops:
        iv = [((j.get("submissionTime") or 0) / 1e3, (j.get("completionTime") or 0) / 1e3)
              for j in o.readout.get("jobs", ())]
        gap += (o.end - o.start) - interval_union(iv, o.start, o.end)
    m["driver.gap_s"] = gap
    return m


def dump(path: str, spans: list[Span], ops: list[OpRecord], layers: list[str]) -> None:
    """Write the run's ops (with their readouts and per-op layer metrics)
    and spans (with self time) as JSON lines."""
    selft = self_times(spans)
    with open(path, "w") as fh:
        for o in ops:
            mine = [s for s in spans if s.op == o.op]
            fh.write(json.dumps({"kind": "op", **asdict(o),
                                 "layers": layer_metrics(mine, [o], layers)}) + "\n")
        for s in spans:
            fh.write(json.dumps({"kind": "span", **asdict(s), "self_s": selft[s.id]}) + "\n")
