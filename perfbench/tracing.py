"""Tracing for the benchmark's traced runs.

* ``Spans`` records (name, start, end, parent, run id) around each
  benchmark-side call into an engine layer, in memory, and reports self time
  (span time minus the time its child spans cover).
* ``fold_event_log`` reads an uncompressed Spark event log and folds task
  metrics and SQL-metric accumulators onto job groups and operator classes.
* ``analysis_ms`` and ``planning_ms`` give a DataFrame's Catalyst phases.
* ``ProgressCollector`` is a StreamingQueryListener that keeps every
  micro-batch progress.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
    "AggregateInPandas",
    "WindowInPandas",
)


class Spans:
    """Spans nest per thread: a span opened in a streaming callback thread
    is a root, not a child of whatever the main thread has open."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.records: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "run_id": self.run_id,
            **attrs,
        }
        with self._lock:
            self.records.append(rec)
            idx = len(self.records) - 1
        stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def with_self_time(self) -> list[dict]:
        child = defaultdict(float)
        for r in self.records:
            if r["parent"] is not None and r["end"] is not None:
                child[r["parent"]] += r["end"] - r["start"]
        out = []
        for i, r in enumerate(self.records):
            total = (r["end"] or r["start"]) - r["start"]
            out.append({**r, "self_s": total - child[i]})
        return out

    def self_time_by_name(self) -> dict[str, float]:
        acc = defaultdict(float)
        for r in self.with_self_time():
            acc[r["name"]] += r["self_s"]
        return dict(acc)


def analysis_ms(df) -> float:
    """Analysis time of ``df``'s plan, from its QueryPlanningTracker.

    Read it before anything else runs on the plan: the tracker merges a
    re-entered phase into one span from its first start to its last end, and
    writes and forced planning re-enter analysis.
    """
    jvm = df.sparkSession._jvm
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        df._jdf.queryExecution().tracker().phases()
    )
    return float(phases.get("analysis").durationMs()) if phases.containsKey("analysis") else 0.0


def planning_ms(df) -> dict[str, float]:
    """Optimization and planning time of ``df``'s own plan, timed while
    forcing them. Actions run other plans, so both are computed here from
    scratch."""
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    qe.optimizedPlan()
    t1 = time.perf_counter()
    qe.executedPlan()
    t2 = time.perf_counter()
    return {"optimization": (t1 - t0) * 1e3, "planning": (t2 - t1) * 1e3}


def cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def _walk_plan(info, out: dict):
    node = info.get("nodeName", "")
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (node, m["name"], m.get("metricType", "sum"))
    for c in info.get("children", []):
        _walk_plan(c, out)


def _events(log_dir: str):
    files = [
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    ]

    def order(p):
        base = os.path.basename(p)
        tail = base.split("_")
        return (os.path.dirname(p), int(tail[1]) if base.startswith("events_") else 0)

    for p in sorted(files, key=order):
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _new_group():
    return {
        "jobs": 0,
        "stages": set(),
        "tasks": 0,
        "run_ms": 0.0,
        "cpu_ns": 0.0,
        "gc_ms": 0.0,
        "spill_bytes": 0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "fetch_wait_ms": 0.0,
        "task_ms_by_stage": defaultdict(list),
        "operators": defaultdict(float),
        "first_submit": None,
        "last_complete": None,
    }


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Fold an event log onto job groups.

    Returns ``{job_group: table}``; each table has job, stage and task
    counts, summed task metrics, task durations per stage and
    ``operators[(node_class, metric_name, metric_type)]`` totals from the
    SQL-metric accumulators. Jobs with no group land under ``""``.
    """
    acc_meta: dict[int, tuple[str, str, str]] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(_new_group)
    for ev in _events(log_dir):
        kind = ev.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _walk_plan(ev.get("sparkPlanInfo", {}), acc_meta)
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or ""
            job_group[ev["Job ID"]] = g
            tab = groups[g]
            tab["jobs"] += 1
            for s in ev.get("Stage IDs", []):
                stage_group.setdefault(s, g)
            t = ev.get("Submission Time")
            if t is not None and (tab["first_submit"] is None or t < tab["first_submit"]):
                tab["first_submit"] = t
        elif kind == "SparkListenerJobEnd":
            tab = groups[job_group.get(ev["Job ID"], "")]
            t = ev.get("Completion Time")
            if t is not None and (tab["last_complete"] is None or t > tab["last_complete"]):
                tab["last_complete"] = t
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            tab = groups[stage_group.get(sid, "")]
            tab["stages"].add(sid)
            tab["tasks"] += 1
            info = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            tab["run_ms"] += tm.get("Executor Run Time", 0)
            tab["cpu_ns"] += tm.get("Executor CPU Time", 0)
            tab["gc_ms"] += tm.get("JVM GC Time", 0)
            tab["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            sr = tm.get("Shuffle Read Metrics") or {}
            tab["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            tab["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            tab["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            if info.get("Finish Time") and info.get("Launch Time"):
                tab["task_ms_by_stage"][sid].append(info["Finish Time"] - info["Launch Time"])
            for a in info.get("Accumulables", []):
                meta = acc_meta.get(a.get("ID"))
                if meta is not None:
                    try:
                        tab["operators"][meta] += float(a.get("Update", 0))
                    except (TypeError, ValueError):
                        pass
    return dict(groups)


def merge_groups(groups: dict[str, dict], keep) -> dict:
    """Sum the tables of every group whose name satisfies ``keep``."""
    out = _new_group()
    for name, tab in groups.items():
        if not keep(name):
            continue
        out["jobs"] += tab["jobs"]
        out["stages"] |= tab["stages"]
        for k in ("tasks", "run_ms", "cpu_ns", "gc_ms", "spill_bytes",
                  "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms"):
            out[k] += tab[k]
        for sid, v in tab["task_ms_by_stage"].items():
            out["task_ms_by_stage"][sid].extend(v)
        for k, v in tab["operators"].items():
            out["operators"][k] += v
    return out


def task_skew(tab: dict) -> float:
    """Worst stage's max ÷ median task time, over stages with ≥ 2 tasks."""
    worst = 1.0
    for times in tab["task_ms_by_stage"].values():
        if len(times) >= 2:
            med = statistics.median(times)
            if med > 0:
                worst = max(worst, max(times) / med)
    return worst


def python_eval_s(tab: dict) -> float:
    """SQL-metric time of the Python-evaluation operators, in seconds."""
    total = 0.0
    for (node, _name, mtype), v in tab["operators"].items():
        if any(node.startswith(p) for p in PYTHON_NODES):
            if mtype == "timing":
                total += v / 1e3
            elif mtype == "nsTiming":
                total += v / 1e9
    return total


def operator_table(tab: dict, top: int = 12) -> list[dict]:
    """Largest operator-class metrics (time metrics first), for the record."""
    rows = [
        {"node": n, "metric": m, "type": t, "value": v}
        for (n, m, t), v in tab["operators"].items()
        if t in ("timing", "nsTiming", "size")
    ]
    rows.sort(key=lambda r: -(r["value"] / 1e6 if r["type"] == "nsTiming" else r["value"]))
    return rows[:top]


class ProgressCollector(StreamingQueryListener):
    """Keeps every micro-batch progress as a plain dict."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
