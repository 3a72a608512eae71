"""Spans around calls into kgflow, attributed through Spark's status stores.

A span is one call into a layer's public function.  While it runs, the
calling thread carries a Spark job group unique to the span, so every job
the call launches, and every stage of those jobs, can be read back from
the status stores afterwards:

* ``statusTracker()`` maps the job group to job ids and job ids to stage
  ids;
* ``SparkContext.statusStore().lastStageAttempt(id)`` gives each stage's
  executor run/CPU/GC time, input, shuffle and spill bytes and failed
  tasks, and ``taskSummary`` its task-time quantiles (the skew signal);
* ``SharedState.statusStore()`` gives per-operator row counts of the SQL
  executions those jobs belong to.

Spans are kept in memory and read out after the traced run, so reading
the stores never lands inside a timed window.  Nothing in kgflow changes:
the tracer wraps module attributes for the duration of a ``patched``
block and restores them on exit.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import re
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    layer: str
    name: str
    group: str
    start: float
    end: float = 0.0
    jobs: list = field(default_factory=list)
    stages: list = field(default_factory=list)  # one dict per stage
    operators: list = field(default_factory=list)  # (node, desc, metric, value)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        group = f"perfbench-{next(self._ids)}-{name}"
        sp = Span(layer, name, group, time.monotonic())
        # a nested span hands the thread back to its parent's group on exit
        outer = (self.sc.getLocalProperty("spark.jobGroup.id"),
                 self.sc.getLocalProperty("spark.job.description"))
        self.sc.setJobGroup(group, f"{layer}:{name}")
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            self.sc.setLocalProperty("spark.jobGroup.id", outer[0])
            self.sc.setLocalProperty("spark.job.description", outer[1])
            with self._lock:
                self.spans.append(sp)

    def wrap(self, layer: str, fn, name: str | None = None, name_of=None):
        """``fn`` with a span around each call; ``name_of(args)`` may
        name the span from the call's arguments."""
        label = name or fn.__name__

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            nm = name_of(args, kwargs) if name_of else label
            with self.span(layer, nm):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def patched(self, targets):
        """``targets``: (module, attribute, layer, name_of) tuples; each
        attribute is replaced by its traced wrapper inside the block."""
        saved = []
        try:
            for mod, attr, layer, name_of in targets:
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, self.wrap(layer, orig, attr, name_of))
            yield self
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)

    # ------------------------------------------------------------------
    # read-out (after the traced run)
    # ------------------------------------------------------------------
    def collect(self) -> None:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        quant = self.sc._gateway.new_array(jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        sql = self.spark._jsparkSession.sharedState().statusStore()
        exec_jobs = _execution_jobs(sql, jvm)
        for sp in self.spans:
            sp.jobs = sorted(tracker.getJobIdsForGroup(sp.group))
            infos = [tracker.getJobInfo(j) for j in sp.jobs]
            stage_ids = sorted({s for info in infos if info is not None
                                for s in info.stageIds})
            for sid in stage_ids:
                st = _stage_metrics(store, sid, quant)
                if st is not None:
                    sp.stages.append(st)
            jobset = set(sp.jobs)
            for eid, jobs in exec_jobs.items():
                if jobs & jobset:
                    sp.operators.extend(_operator_rows(sql, eid))


def _stage_metrics(store, sid: int, quant) -> "dict | None":
    try:
        sd = store.lastStageAttempt(sid)
    except Exception:  # py4j: stage evicted from the store or never ran
        return None
    if sd.status().toString() != "COMPLETE":
        return None
    med = mx = 0.0
    opt = store.taskSummary(sid, sd.attemptId(), quant)
    if opt.isDefined():
        rt = opt.get().executorRunTime()
        med, mx = float(rt.apply(0)), float(rt.apply(1))
    return {
        "id": sid,
        "tasks": sd.numTasks(),
        "run_ms": sd.executorRunTime(),
        "cpu_ns": sd.executorCpuTime(),
        "gc_ms": sd.jvmGcTime(),
        "input_bytes": sd.inputBytes(),
        "shuffle_read": sd.shuffleReadBytes(),
        "shuffle_write": sd.shuffleWriteBytes(),
        "spill": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
        "failed_tasks": sd.numFailedTasks(),
        "task_med_ms": med,
        "task_max_ms": mx,
    }


def _execution_jobs(sql, jvm) -> dict:
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    out = {}
    execs = sql.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        out[e.executionId()] = {int(k) for k in conv.asJava(e.jobs().keySet())}
    return out


_WANTED = ("number of output rows", "size of files read")
_SIZE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB)?")
_UNIT = {None: 1, "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _metric_value(text: str) -> float:
    """First number of a status-store metric string; sizes print as
    e.g. '262.1 MiB' (4 significant digits)."""
    first = text.split("\n")[-1] if text.startswith("total") else text
    m = _SIZE.search(first)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


def _operator_rows(sql, eid: int) -> list:
    """(node name, node description, metric name, value) for the
    operator metrics the layers use."""
    graph = sql.planGraph(eid)
    values = sql.executionMetrics(eid)
    nodes = graph.allNodes()
    out = []
    for j in range(nodes.size()):
        node = nodes.apply(j)
        ms = node.metrics()
        for m in range(ms.size()):
            metric = ms.apply(m)
            if metric.name() not in _WANTED:
                continue
            v = values.get(metric.accumulatorId())
            if v.isDefined():
                out.append((node.name(), node.desc(), metric.name(), _metric_value(v.get())))
    return out
