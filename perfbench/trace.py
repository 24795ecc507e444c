"""Measurement helpers: the span recorder, Spark's SQL metrics read back
from the status store, /proc readers (peak RSS, host steal) and the
single-thread kernel split.

Spans are recorded only around calls into the program's public
functions from the benchmark's own code; nothing inside the program is
instrumented. They stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Span recorder: name, start, end, parent and run id per span.

    While a span is open its name is also Spark's job description, so
    the SQL executions it starts can be attributed to it afterwards."""

    def __init__(self, run_id: str, enabled: bool, spark_context=None):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        prev = self.sc.getLocalProperty("spark.job.description") \
            if self.sc else None
        if self.sc:
            self.sc.setJobDescription(name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc:
                self.sc.setJobDescription(prev)

    def self_times(self, root: int) -> dict[str, float]:
        """Self time (duration minus time covered by children) summed
        per span name over the tree under span `root`."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}

        def walk(s):
            child = kids.get(s["id"], [])
            own = (s["end"] - s["start"]) - sum(
                c["end"] - c["start"] for c in child)
            out[s["name"]] = out.get(s["name"], 0.0) + own
            for c in child:
                walk(c)

        walk(self.spans[root])
        return out

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --- Spark SQL metrics from the status store -------------------------

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
          "ns": 1e-9}
_NUM = r"(\d[\d.,]*)\s*(B|KiB|MiB|GiB|TiB|ms|s|min|h|ns)?"


def _num(text: str, unit: str | None) -> float:
    return float(text.replace(",", "")) * _UNITS.get(unit or "", 1.0)


def parse_metric(value: str) -> dict:
    """Spark's formatted metric → {'total', 'min', 'med', 'max'} in base
    units (bytes, seconds, counts); the per-task stats exist only for
    size and timing metrics."""
    lines = value.strip().splitlines()
    if len(lines) == 2 and lines[0].startswith("total"):
        nums = re.findall(_NUM, lines[1])
        vals = [_num(t, u) for t, u in nums[:4]]
        return dict(zip(("total", "min", "med", "max"), vals))
    m = re.match(_NUM, lines[-1]) if lines else None
    return {"total": _num(m.group(1), m.group(2)) if m else 0.0}


class SqlMetrics:
    """Reads SQL executions from `spark._jsparkSession.sharedState()
    .statusStore()`, which the listener fills even with the UI off."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.seen = self._last_id()

    def _last_id(self) -> int:
        execs = self.store.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def new_executions(self) -> list[dict]:
        """Executions finished since the previous call, each as
        {'description', 'nodes': [{'name', 'desc', 'metrics'}],
        'tasks'} with metrics parsed by name."""
        out = []
        execs = self.store.executionsList()
        tracker = self.spark.sparkContext.statusTracker()
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= self.seen:
                continue
            values = self.store.executionMetrics(eid)
            graph = self.store.planGraph(eid)
            nodes = []
            all_nodes = graph.allNodes()
            for j in range(all_nodes.size()):
                node = all_nodes.apply(j)
                metrics = {}
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = parse_metric(v.get())
                nodes.append({"name": node.name(), "desc": node.desc(),
                              "metrics": metrics})
            tasks = 0
            it = e.stages().iterator()
            while it.hasNext():
                info = tracker.getStageInfo(int(it.next()))
                if info is not None:
                    tasks = max(tasks, info.numTasks)
            out.append({"id": eid, "description": e.description(),
                        "nodes": nodes, "tasks": tasks})
            self.seen = max(self.seen, eid)
        return out


def metric_sum(executions: list[dict], name: str, stat: str = "total",
               node_filter=None) -> float:
    return sum(
        node["metrics"][name].get(stat, 0.0)
        for e in executions for node in e["nodes"]
        if name in node["metrics"]
        and (node_filter is None or node_filter(node)))


# --- /proc readers ---------------------------------------------------

def _status_kb(pid: int, key: str) -> int:
    try:
        text = Path(f"/proc/{pid}/status").read_text()
    except OSError:
        return 0
    m = re.search(rf"^{key}:\s+(\d+) kB", text, re.M)
    return int(m.group(1)) if m else 0


def _children(pid: int) -> list[int]:
    kids = []
    for task in Path(f"/proc/{pid}/task").glob("*"):
        try:
            kids += [int(c) for c in (task / "children").read_text().split()]
        except OSError:
            continue
    return kids


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = _children(p)
        out += kids
        todo += kids
    return out


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of one process, in clock ticks;
    a reaped child's time moves into its parent's cutime/cstime."""
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return 0
    return sum(int(x) for x in stat[stat.rfind(")") + 2:].split()[11:15])


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under
    it: the JVM, the Python daemons and their workers."""
    me = os.getpid()
    return sum(_cpu_ticks(p) for p in [me, *descendants(me)]
               ) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(jvm_pid: int) -> dict[str, float]:
    """VmHWM in MB of this driver process, the JVM and each process
    under the JVM (the Python daemons and their forked workers)."""
    return {"driver": _status_kb(os.getpid(), "VmHWM") / 1024.0,
            "jvm": _status_kb(jvm_pid, "VmHWM") / 1024.0,
            "workers": [_status_kb(p, "VmHWM") / 1024.0
                        for p in descendants(jvm_pid)]}


def cpu_times() -> list[int]:
    """The aggregate `cpu` line of /proc/stat (jiffies)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return d[7] / total if total > 0 and len(d) > 7 else 0.0


# --- single-thread kernel split ---------------------------------------

def kernel_split(rows: list[tuple[str, bytes]]) -> dict[str, float]:
    """µs/doc for parse (model.parse_document), tables
    (tablepipe.page_tables) and assembly (batch.extract_one minus both),
    run in this process over `rows`. Both passes start from an empty
    classify cache, so they see the same cache hits as each other."""
    from pdf_extraction_api_spark.kernel import tablepipe
    from pdf_extraction_api_spark.kernel.batch import extract_one
    from pdf_extraction_api_spark.kernel.model import parse_document

    tablepipe._CLS_CACHE.clear()
    t0 = time.perf_counter_ns()
    for url, html in rows:
        extract_one(url, html)
    total_ns = time.perf_counter_ns() - t0

    tablepipe._CLS_CACHE.clear()
    parse_ns = tables_ns = 0
    for _url, html in rows:
        t0 = time.perf_counter_ns()
        m = parse_document(html if html is not None else b"")
        t1 = time.perf_counter_ns()
        for page in sorted(m.tables):
            slot = m.tables[page]
            tablepipe.page_tables(page, slot["lattice"], slot["stream"])
        parse_ns += t1 - t0
        tables_ns += time.perf_counter_ns() - t1
    n = max(1, len(rows))
    return {
        "kernel.parse_us_per_doc": parse_ns / n / 1e3,
        "kernel.tables_us_per_doc": tables_ns / n / 1e3,
        "kernel.assemble_us_per_doc":
            max(0.0, total_ns - parse_ns - tables_ns) / n / 1e3,
    }
