"""Per-layer counters read from Spark and the OS, never from the engine.

* ``Tracer``: spans kept in memory around the benchmark's calls into the
  engine's public functions (``Query.build``, ``tables.load_table``, the
  terminal ``collect``), plus one span per Spark job placed under the
  call that started it.  Work is scoped by job group, one group per call.
* ``stage_counters``: run, CPU and GC time, input, output, shuffle and
  spill bytes, and task-time quantiles per stage, from the application
  status store (``statusStore().job`` / ``lastStageAttempt`` /
  ``taskSummary``).
* ``plan_counters``: SQL node metrics (``scanTime``, ``aggTime``,
  ``python*``, scan ``filesSize``) from walking the final adaptive plan
  through its query stages.
* ``persistent_rdds``: the ids of the persistent RDDs, for a before/after
  census of checkpoint pins.
* ``RssSampler``: resident memory of the Spark JVM and every process
  below it (the Python workers), sampled from ``/proc``.
"""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans in memory: (id, parent, name, start, end, attrs), times on the
    ``time.perf_counter`` clock.  Written out once, at exit."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        #: epoch seconds minus perf_counter, to place Spark's epoch stamps
        self.epoch_offset = time.time() - time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        self.spans.append(
            {"id": len(self.spans), "parent": parent, "name": name, "start": start,
             "end": end, **attrs}
        )

    def innermost(self, within: int, t: float) -> int:
        """Id of the deepest span under ``within`` (inclusive) open at ``t``."""
        best, depth = within, 0
        for s in self.spans[within + 1:]:
            if s["end"] is None or not s["start"] <= t <= s["end"]:
                continue
            d, p = 0, s["id"]
            while p is not None and p != within:
                p = self.spans[p]["parent"]
                d += 1
            if p == within and d > depth:
                best, depth = s["id"], d
        return best

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part covered by its
        children (the layer's self time)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


def wrap_load_table(wrapper_factory):
    """Replace ``load_table`` in every engine module that bound it
    (``from ..tables import load_table``) with one wrapper; returns a
    function that restores the original."""
    target = sys.modules["crawl_streams_spark.tables"].load_table
    wrapped = wrapper_factory(target)
    patched = [
        mod for name, mod in list(sys.modules.items())
        if name.startswith("crawl_streams_spark") and getattr(mod, "load_table", None) is target
    ]
    for mod in patched:
        mod.load_table = wrapped

    def restore():
        for mod in patched:
            mod.load_table = target

    return restore


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def job_ids(sc, group: str) -> list[int]:
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def job_times(sc, job_id: int) -> tuple[float, float] | None:
    """(submitted, completed) in epoch seconds, if the store still has it."""
    try:
        jd = sc._jsc.sc().statusStore().job(job_id)
    except Exception:  # noqa: BLE001 - evicted from the status store
        return None
    sub, done = jd.submissionTime(), jd.completionTime()
    if sub.isEmpty() or done.isEmpty():
        return None
    return sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0


STAGE_KEYS = (
    "stages", "tasks", "task_s", "task_cpu_s", "gc_s", "scan_rows", "write_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def stage_counters(sc, jobs: list[int]) -> tuple[dict[str, float], list[float]]:
    """Summed stage counters of ``jobs`` and, per stage with more than one
    task, the ratio of its slowest task to its median task."""
    store = sc._jsc.sc().statusStore()
    quant = sc._gateway.new_array(sc._jvm.double, 2)
    quant[0], quant[1] = 0.5, 1.0
    out = dict.fromkeys(STAGE_KEYS, 0.0)
    skew = []
    seen = set()
    for j in jobs:
        try:
            stage_ids = list(_scala_iter(store.job(j).stageIds()))
        except Exception:  # noqa: BLE001 - evicted from the status store
            continue
        for sid in stage_ids:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["task_s"] += st.executorRunTime() / 1e3
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["scan_rows"] += st.inputRecords()
            out["write_bytes"] += st.outputBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if st.numTasks() > 1:
                q = store.taskSummary(sid, st.attemptId(), quant)
                if q.isDefined():
                    run = q.get().executorRunTime()
                    med, top = run.apply(0), run.apply(1)
                    if med > 0:
                        skew.append(top / med)
    return out, skew


_STAGE_WRAPPERS = {
    "ShuffleQueryStageExec", "BroadcastQueryStageExec", "TableCacheQueryStageExec",
    "ResultQueryStageExec",
}


def _node_metrics(node) -> dict[str, int]:
    vals = {}
    for kv in _scala_iter(node.metrics()):
        vals[kv._1()] = kv._2().value()
    return vals


def plan_counters(df) -> dict[str, float]:
    """Node metrics of ``df``'s executed plan, after it has run."""
    out = {k: 0.0 for k in ("scan_s", "scan_bytes", "agg_s", "python_rows",
                            "python_bytes", "python_s", "python_boot_s")}
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.finalPhysicalPlan())
            continue
        if cls in _STAGE_WRAPPERS:
            todo.append(node.plan())
            continue
        m = _node_metrics(node)
        if "scanTime" in m:
            out["scan_s"] += m["scanTime"] / 1e3
            out["scan_bytes"] += m.get("filesSize", 0)
        out["agg_s"] += m.get("aggTime", 0) / 1e3
        if "pythonDataSent" in m:
            out["python_rows"] += m.get("pythonNumRowsReceived", 0)
            out["python_bytes"] += m.get("pythonDataSent", 0) + m.get("pythonDataReceived", 0)
            out["python_s"] += m.get("pythonTotalTime", 0) / 1e3
            out["python_boot_s"] += (m.get("pythonBootTime", 0) + m.get("pythonInitTime", 0)) / 1e3
        todo.extend(_scala_iter(node.children()))
    return out


def codegen_s(sc) -> float:
    """Cumulative whole-stage codegen compile time of this JVM, seconds."""
    return sc._jvm.org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime() / 1e9


def persistent_rdds(sc) -> set[int]:
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet()}


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def find_jvm(root_pid: int) -> int | None:
    """The Spark JVM: the ``java`` process below ``root_pid``."""
    kids = _children_map()
    todo = list(kids.get(root_pid, []))
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
        todo.extend(kids.get(pid, []))
    return None


class RssSampler:
    """Peak summed RSS of a process tree, sampled on a daemon thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self.root: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self, root: int) -> None:
        self.root = root
        self._thread.start()

    def sample(self) -> None:
        if self.root is None:
            return
        kids = _children_map()
        total, todo = 0, [self.root]
        while todo:
            pid = todo.pop()
            total += _rss_kb(pid)
            todo.extend(kids.get(pid, []))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        """Stop sampling; peak in MiB."""
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default
