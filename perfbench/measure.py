"""What the benchmark reads about a run: /proc counters, plan metrics, spans.

``psutil`` is not installed, so CPU and memory come from ``/proc``: the
JVM is the gateway process PySpark launched, and the Python workers are
its descendants. Plan metrics are read from the executed (AQE-final)
physical plan of a query the benchmark ran itself, and stage input
records from the status store; both work with ``spark.ui.enabled=false``.
Spans are kept in memory and written out once, at the end of a run.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- /proc -------------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            raw = fh.read()
    except OSError:
        return None
    # fields after "(comm)"; comm may itself hold spaces or parentheses
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU of the tree, counting reaped children too."""
    total = 0
    for pid in process_tree(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            total += sum(int(v) for v in st[11:15])
    return total / _CLK_TCK


def python_workers_hwm_mb(root: int) -> float:
    """Highest ``VmHWM`` of any Python process under the JVM."""
    best = 0
    for pid in process_tree(root)[1:]:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                status = fh.read()
        except OSError:
            continue
        if "python" not in status.split("\n", 1)[0]:
            continue
        for line in status.splitlines():
            if line.startswith("VmHWM:"):
                best = max(best, int(line.split()[1]))
    return best / 1024


def load_average() -> list[float]:
    return list(os.getloadavg())


def host_probe_s() -> float:
    """Seconds for a fixed single-thread CPU task that does not use the program.

    Other tenants of a shared host can change how fast its CPUs run without
    showing in this container's load average; this number shows it.
    """
    block = bytes(range(256)) * 256
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(256):
        h.update(block)
    total = 0
    for i in range(300_000):
        total += i * i % 7
    return time.perf_counter() - t0


# -- plan metrics -------------------------------------------------------------

def run_and_harvest(df) -> tuple[int, list[tuple[str, dict[str, int]]]]:
    """Execute ``df``'s own physical plan, then read its per-node SQL metrics.

    A ``write`` would plan the query again inside a command, leaving the
    metrics of ``df``'s plan at zero, so the plan's RDD is counted instead.
    """
    qe = df._jdf.queryExecution()
    n = qe.toRdd().count()
    nodes: list[tuple[str, dict[str, int]]] = []
    todo = [qe.executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            metrics[m.name().get() if m.name().isDefined() else kv._1()] = int(m.value())
        nodes.append((node.nodeName(), metrics))
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif cls == "ReusedExchangeExec":
            todo.append(node.child())
        else:
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
    return n, nodes


def metric_sum(nodes, node_prefix: str, metric: str) -> int:
    return sum(m.get(metric, 0) for name, m in nodes if name.startswith(node_prefix))


def _stages(spark):
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(None, False, False,
                             sc._gateway.new_array(sc._gateway.jvm.double, 0), [])
    return [stages.apply(i) for i in range(stages.size())]


def stage_ids(spark) -> set[int]:
    return {s.stageId() for s in _stages(spark)}


def input_records_since(spark, before: set[int]) -> int:
    """Records read from data sources by stages not in ``before``."""
    return sum(s.inputRecords() for s in _stages(spark) if s.stageId() not in before)


# -- spans --------------------------------------------------------------------

class Tracer:
    """In-memory spans: name, start, end, parent span and attributes."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "trace": self.trace_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_time(self, span: dict) -> float:
        """Duration minus the part covered by direct children."""
        kids = [s for s in self.spans if s["parent"] == span["id"] and s["end"] is not None]
        return (span["end"] - span["start"]) - sum(k["end"] - k["start"] for k in kids)

    def write(self, path: str) -> None:
        out = [dict(s, self_s=self.self_time(s)) for s in self.spans if s["end"] is not None]
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(out, fh, indent=1)
