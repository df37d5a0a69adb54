"""Measurement plumbing: span tracer, memory sampler, executed-plan SQL
metrics, Spark status-tracker counts and event-log attribution.

Nothing here knows a workload. The tracer records spans in memory and
writes them once, when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


def median(xs):
    return statistics.median(xs) if xs else 0.0


def high_percentile(xs):
    """(p, value) for the highest of p99/p95/p90/p75/p50 that leaves at
    least ten samples above it, or None when there are too few samples."""
    xs = sorted(xs)
    for p in (99, 95, 90, 75, 50):
        if len(xs) * (100 - p) / 100.0 >= 10:
            k = min(len(xs) - 1, int(round(p / 100.0 * (len(xs) - 1))))
            return p, xs[k]
    return None


# ------------------------------------------------------------------ spans
class Tracer:
    """Spans around layer calls: name, start, end, parent, rep id.

    When enabled each span also becomes the Spark job group of the jobs
    it runs, so stage task metrics in the event log can be attributed to
    it afterwards. When disabled `span` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None
        self.rep = None

    def bind(self, sc) -> None:
        self._sc = sc

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "name": name, "rep": self.rep,
             "parent": parent["id"] if parent else None}
        s["group"] = f"pb-{s['id']}"
        self.spans.append(s)
        self._stack.append(s)
        if self._sc is not None:
            self._sc.setJobGroup(s["group"], name)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                if parent is not None:
                    self._sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)

    def duration(self, s) -> float:
        return s["end"] - s["start"]

    def named(self, name: str) -> list[dict]:
        """Finished spans called `name` inside measured reps."""
        return [s for s in self.spans
                if s["name"] == name and "end" in s and s["rep"] is not None]

    def groups_under(self, s) -> list[str]:
        """Job groups of span s and every span nested in it."""
        ids = {s["id"]}
        out = [s["group"]]
        for t in self.spans[s["id"] + 1:]:
            if t["parent"] in ids:
                ids.add(t["id"])
                out.append(t["group"])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=float) + "\n")


# ------------------------------------------------------------- processes
def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(children by parent pid, resident pages by pid) from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended while we read it
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
        rss[int(name)] = pages
    return children, rss


def descendants(root: int, children: dict[int, list[int]] | None = None) -> list[int]:
    if children is None:
        children, _ = _proc_table()
    out, todo = [], list(children.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


class RssSampler:
    """Samples the summed RSS of this process tree (driver Python, the
    JVM, Python workers) every `period` seconds; keeps the peak."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me, page_kb = os.getpid(), os.sysconf("SC_PAGE_SIZE") // 1024
        while not self._stop.is_set():
            children, rss = _proc_table()
            tree = [me] + descendants(me, children)
            self.peak_kb = max(self.peak_kb, page_kb * sum(rss.get(p, 0) for p in tree))
            self._stop.wait(self.period)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)


# ------------------------------------------------------ SQL plan metrics
def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _plan_nodes(node, out):
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return _plan_nodes(node.executedPlan(), out)
    if name.endswith("QueryStage"):
        return _plan_nodes(node.plan(), out)
    metrics = {}
    for kv in _seq(node.metrics().toSeq()):
        m = kv._2()
        v, kind = m.value(), m.metricType()
        if kind == "timing":
            v = v / 1e3
        elif kind == "nsTiming":
            v = v / 1e9
        metrics[kv._1()] = v
    out.append((name, metrics))
    for c in _seq(node.children()):
        _plan_nodes(c, out)
    return out


def plan_metrics(df) -> list[tuple[str, dict]]:
    """(node name, {metric: value}) for every operator of the plan that
    `df`'s last action executed. Times are in seconds, summed over
    tasks. Read from the DataFrame's own queryExecution: a separate
    write would run a fresh execution and read zero here."""
    return _plan_nodes(df._jdf.queryExecution().executedPlan(), [])


def metric_sum(nodes, node_prefix: str, metric: str) -> float:
    return float(sum(m.get(metric, 0) for n, m in nodes if n.startswith(node_prefix)))


# ------------------------------------------------------- status tracker
def job_counts(sc, groups: list[str]) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under the given job groups."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    for g in groups:
        for j in st.getJobIdsForGroup(g):
            jobs += 1
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                stages += 1
                si = st.getStageInfo(sid)
                tasks += si.numTasks if si else 0
    return jobs, stages, tasks


# --------------------------------------------------------------- event log
def event_log_by_group(path: str) -> dict[str, dict]:
    """Task metrics of a finished event log, summed per job group."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                tm = ev.get("Task Metrics")
                if g is None or not tm:
                    continue
                a = out.setdefault(g, dict.fromkeys(
                    ("run_s", "cpu_s", "gc_s", "shuffle_write_bytes",
                     "shuffle_read_bytes", "spill_bytes", "input_bytes",
                     "tasks"), 0))
                a["tasks"] += 1
                a["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                a["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                a["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                a["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                a["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                     + tm.get("Disk Bytes Spilled", 0))
                a["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
    return out


def attribute(tracer: Tracer, by_group: dict[str, dict]) -> None:
    """Copy each span's own task metrics (not its children's) onto it."""
    for s in tracer.spans:
        s["tasks"] = by_group.get(s["group"], {})


def span_total(tracer: Tracer, s, key: str) -> float:
    """Task metric `key` over span s and its nested spans."""
    groups = set(tracer.groups_under(s))
    return float(sum(t["tasks"].get(key, 0) for t in tracer.spans
                     if t["group"] in groups))


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under path; data files exclude markers/crc."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            if not n.startswith((".", "_")):
                files += 1
    return total, files
