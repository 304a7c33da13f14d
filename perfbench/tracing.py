"""Spans, Spark counters and the process-tree memory and CPU readers.

A ``Tracer`` records one span per layer call made from the benchmark's own
files: name, start, end, parent span and a run id shared by all spans of the
run. Each span runs its Spark work under its own job group, so the jobs it
started, their stages and the SQL executions behind them can be attributed
to it afterwards. Spans stay in memory until ``write``.

``spark_counters`` reads those jobs back from Spark's own status stores
(job/stage store and SQL store), so nothing in the engine is instrumented.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import Counter
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.sc = None  # bound once the session exists
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def bind(self, spark) -> None:
        """Attach the session once it exists (the session span opens first)."""
        self.sc = spark.sparkContext

    def _set_group(self, group: str, desc: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(group, desc, False)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "group": f"{self.run_id}-{sid}",
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self._set_group(outer["group"], outer["name"])
            else:
                self._set_group(f"{self.run_id}-idle", "idle")

    def subtree(self, sid: int) -> list[dict]:
        out = [self.spans[sid]]
        for s in self.spans[sid + 1:]:
            if s["parent"] is not None and any(s["parent"] == o["id"] for o in out):
                out.append(s)
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its direct children cover."""
        res = {}
        for s in self.spans:
            kids = sorted(
                (c["start"], c["end"]) for c in self.spans if c["parent"] == s["id"]
            )
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in kids:
                a, b = max(a, s["start"]), min(b, s["end"])
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            res[s["id"]] = (s["end"] - s["start"]) - covered
        return res

    def write(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [
            {
                "id": s["id"],
                "name": s["name"],
                "parent": s["parent"],
                "run_id": s["run_id"],
                "start_s": s["start"] - t0,
                "end_s": s["end"] - t0,
                "self_s": selfs[s["id"]],
                "attrs": s["attrs"],
            }
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "spans": spans}, f, indent=1)


# --------------------------------------------------------------------------
# Spark counters


_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_TOTAL = " total (min, med, max (stageId: taskId))"
_NODE = re.compile(r'label="(?:<br>)?<b>([^<]+)</b><br><br>(.*?)" tooltip="([^"]*)"')


def _parse_value(text: str) -> float:
    """'1,014' | '12 ms' | '11.7 s' | '806.4 KiB' -> bytes, seconds or count."""
    text = text.split(" (", 1)[0].strip()
    parts = text.split()
    num = float(parts[0].replace(",", ""))
    return num * _UNITS[parts[1]] if len(parts) > 1 else num


def _plan_nodes(dot: str):
    """(node name, tooltip, {metric: value}) for every node of a plan graph."""
    for name, body, tooltip in _NODE.findall(dot):
        items = body.split("<br>")
        metrics: dict[str, float] = {}
        i = 0
        while i < len(items):
            item = items[i]
            if item.endswith(_TOTAL) and i + 1 < len(items):
                metrics[item[: -len(_TOTAL)]] = _parse_value(items[i + 1])
                i += 2
                continue
            if ": " in item:
                k, v = item.split(": ", 1)
                try:
                    metrics[k] = _parse_value(v)
                except (ValueError, KeyError, IndexError):
                    pass
            i += 1
        yield name, tooltip, metrics


def drain_listener_bus(spark) -> None:
    """Job, stage and SQL stores are filled asynchronously by listeners."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def spark_counters(spark, groups: list[str]) -> Counter:
    """Jobs, stages, task time, shuffle and SQL-node metrics of the jobs run
    under ``groups``. Seconds for times, bytes for sizes."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    job_ids: set[int] = set()
    for g in groups:
        job_ids.update(tracker.getJobIdsForGroup(g))
    stage_ids: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    c: Counter = Counter()
    c["jobs"] = len(job_ids)
    store = sc._jsc.sc().statusStore()
    for sid in stage_ids:
        try:
            d = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage that never ran has no entry
            continue
        if str(d.status()) == "SKIPPED":
            continue
        c["stages"] += 1
        c["tasks"] += d.numTasks()
        c["failed_tasks"] += d.numFailedTasks()
        c["executor_run_s"] += d.executorRunTime() / 1e3
        c["executor_cpu_s"] += d.executorCpuTime() / 1e9
        c["shuffle_bytes"] += d.shuffleWriteBytes()
        c["shuffle_records"] += d.shuffleWriteRecords()

    sql = spark._jsparkSession.sharedState().statusStore()
    execs = sql.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        ejobs = {int(x) for x in re.findall(r"\d+", e.jobs().keySet().toString())}
        if not ejobs & job_ids:
            continue
        eid = e.executionId()
        dot = sql.planGraph(eid).makeDotFile(sql.executionMetrics(eid))
        for name, _, m in _plan_nodes(dot):
            c["python_s"] += m.get("time to run Python workers", 0.0)
            c["python_bytes_in"] += m.get("data sent to Python workers", 0.0)
            c["python_bytes_out"] += m.get("data returned from Python workers", 0.0)
            if name == "BroadcastExchange":
                c["broadcast_bytes"] += m.get("data size", 0.0)
            if name == "InMemoryTableScan" or name.startswith("Scan "):
                c["scan_rows"] += m.get("number of output rows", 0.0)
            if "Join" in name:
                c["join_rows"] += m.get("number of output rows", 0.0)
    return c


# --------------------------------------------------------------------------
# Process tree: the driver JVM plus the Python workers it forks


_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


class ProcTree:
    """Memory and CPU time of a process and its descendants, read from /proc.

    ``peak_rss`` is sampled every ``interval`` s while the tree is entered.
    ``cpu_s`` counts user + system time, including that of children already
    reaped, so a worker that exits keeps its share. ``jit_cpu_s`` is the part
    of it spent in the root JVM's JIT compiler threads (the JVM must run with
    ``-XX:-UseDynamicNumberOfCompilerThreads`` so that none of them exits
    and takes its time along). ``driver_cpu_s`` is the
    CPU time of this (driver) process, which is not in the tree, less that
    of the sampling thread."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_rss = 0
        self._sampler_cpu = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _stats(self) -> list[list[str]]:
        """/proc/<pid>/stat fields from the state field on, for the tree."""
        stats: dict[int, list[str]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as f:
                        stats[int(entry)] = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
        kids: dict[int, list[int]] = {}
        for pid, fields in stats.items():
            kids.setdefault(int(fields[1]), []).append(pid)
        out, todo = [], [self.root_pid]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out.append(stats[pid])
                todo.extend(kids.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        # utime, stime, cutime, cstime are stat fields 14-17
        return sum(sum(int(v) for v in f[11:15]) for f in self._stats()) / _CLK_TCK

    def jit_cpu_s(self) -> float:
        total = 0
        task_dir = f"/proc/{self.root_pid}/task"
        for tid in os.listdir(task_dir):
            try:
                with open(f"{task_dir}/{tid}/stat") as f:
                    head, fields = f.read().rsplit(")", 1)
            except OSError:
                continue
            if head.split("(", 1)[1].startswith(("C1 CompilerThre", "C2 CompilerThre")):
                total += sum(int(v) for v in fields.split()[11:13])  # utime, stime
        return total / _CLK_TCK

    def sample(self) -> None:
        rss = sum(int(f[21]) for f in self._stats()) * _PAGE  # field 24
        self.peak_rss = max(self.peak_rss, rss)

    def driver_cpu_s(self) -> float:
        return time.process_time() - self._sampler_cpu

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()
            self._sampler_cpu = time.thread_time()

    def __enter__(self) -> "ProcTree":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
