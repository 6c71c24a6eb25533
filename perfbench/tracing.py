"""Spans, host probes and Spark event-log parsing for the benchmark.

Spans are recorded around the benchmark's own calls into the engine's
public functions; nothing inside the engine is instrumented. A disabled
:class:`Tracer` records nothing, so the untraced run pays only an
attribute check per call.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import threading
import time
from collections import defaultdict


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile of ``xs`` (``q`` in 0..1)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = min(len(xs) - 1, max(0, int(round(q * len(xs) + 0.5)) - 1))
    return xs[k]


class Tracer:
    """In-memory spans: name, id, start, end and parent span index."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._stack = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, ident=None):
        if not self.enabled:
            yield
            return
        stack = self._stack.__dict__.setdefault("s", [])
        rec = {
            "name": name,
            "id": ident,
            "parent": stack[-1] if stack else None,
            "start": time.perf_counter(),
        }
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def self_times_ms(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time its
        direct children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for i, s in enumerate(self.spans):
            if "end" in s:
                out[s["name"]] += (s["end"] - s["start"] - child[i]) * 1000.0
        return dict(out)


class RssSampler:
    """Peak resident set of this process plus every descendant (the
    driver JVM and its Python workers), sampled from /proc."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> float:
        root = os.getpid()
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        for path in glob.glob("/proc/[0-9]*/stat"):
            try:
                with open(path) as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            pid = int(path.split("/")[2])
            parent[pid] = int(fields[1])
            rss[pid] = int(fields[21]) * page_kb
        total = 0
        for pid, kb in rss.items():
            p = pid
            while p and p != root:
                p = parent.get(p, 0)
            if p == root:
                total += kb
        mb = total / 1024.0
        self.peak_mb = max(self.peak_mb, mb)
        return mb

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)


def host_fields(spark) -> dict:
    """bench.py's no-op floor (best of 3 noop writes of a 32-partition
    frame), the load average and the core count."""
    floor_df = spark.range(32).repartition(32)
    floor = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        floor_df.write.mode("overwrite").format("noop").save()
        floor = min(floor, time.perf_counter() - t0)
    return {"host.floor_s": floor, "host.loadavg": os.getloadavg()[0],
            "host.nproc": len(os.sched_getaffinity(0))}


# ------------------------------------------------------------ event log --


_SQL = "org.apache.spark.sql.execution.ui."


def _plan_nodes(info: dict):
    yield info
    for c in info.get("children", []):
        yield from _plan_nodes(c)


def _scans(node: dict, table: str) -> bool:
    """Does ``node`` read ``table`` without an intervening exchange?"""
    pattern = re.compile(rf"\b{re.escape(table)}\b")
    for c in node.get("children", []):
        name = c["nodeName"]
        if name.startswith("Scan") and pattern.search(c.get("simpleString", "")):
            return True
        if "Exchange" not in name and "QueryStage" not in name and _scans(c, table):
            return True
    return False


class EventLog:
    """One pass over an uncompressed, non-rolling Spark event log.

    Jobs are keyed by their job group (set by the benchmark per query,
    append and serve) and by the streaming batch id Structured Streaming
    stamps on every job of a micro-batch."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.task = defaultdict(lambda: defaultdict(float))  # job -> metrics
        self.exec_plan: dict[int, dict] = {}  # execution id -> final plan
        self.exec_accum_names: dict[int, dict[int, str]] = defaultdict(dict)
        self.accum = defaultdict(float)  # (exec, accumulator id) -> value
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            self.jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "batch": props.get("streaming.sql.batchId"),
                "stream": props.get("sql.streaming.queryId"),
                "execution": props.get("spark.sql.execution.id"),
                "stages": 0,
            }
            for sid in ev.get("Stage IDs", []):
                self.stage_job[sid] = jid
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            jid = self.stage_job.get(info["Stage ID"])
            if jid is not None:
                self.jobs[jid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = self.stage_job.get(ev["Stage ID"])
            tm = ev.get("Task Metrics") or {}
            if jid is None or not tm:
                return
            m = self.task[jid]
            m["tasks"] += 1
            m["run_ms"] += tm.get("Executor Run Time", 0)
            m["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            m["shuffle_write_bytes"] += (
                tm.get("Shuffle Write Metrics") or {}
            ).get("Shuffle Bytes Written", 0)
            m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            ex = self.jobs[jid]["execution"]
            if ex is not None:
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    self._add(int(ex), acc.get("ID"), acc.get("Update"))
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            ex = ev["executionId"]
            info = ev["sparkPlanInfo"]
            self.exec_plan[ex] = info
            for node in _plan_nodes(info):
                for met in node.get("metrics", []):
                    self.exec_accum_names[ex][met["accumulatorId"]] = (
                        f"{node['nodeName']}:{met['name']}"
                    )
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            ex = ev["executionId"]
            for acc_id, value in ev.get("accumUpdates", []):
                self._add(ex, acc_id, value)

    def _add(self, ex: int, acc_id, value) -> None:
        if acc_id in self.exec_accum_names.get(ex, {}):
            self.accum[(ex, acc_id)] += float(value or 0)

    def _sql(self, ex: int) -> dict[str, float]:
        """SQL metrics of one execution, summed by node and metric name."""
        out = defaultdict(float)
        for acc_id, name in self.exec_accum_names.get(ex, {}).items():
            out[name] += self.accum.get((ex, acc_id), 0.0)
        return out

    # -- aggregates ------------------------------------------------------

    def totals(self, job_ids) -> dict[str, float]:
        """Jobs, stages, tasks and task metrics summed over ``job_ids``;
        plus the unique Exchange nodes of their executions' final plans
        and every SQL metric of those executions."""
        job_ids = list(job_ids)
        out = defaultdict(float)
        out["jobs"] = len(job_ids)
        execs = set()
        for j in job_ids:
            out["stages"] += self.jobs[j]["stages"]
            for k, v in self.task.get(j, {}).items():
                out[k] += v
            if self.jobs[j]["execution"] is not None:
                execs.add(int(self.jobs[j]["execution"]))
        for ex in execs:
            plan = self.exec_plan.get(ex)
            if plan is not None:
                out["exchanges"] += sum(
                    1 for n in _plan_nodes(plan)
                    if n["nodeName"].endswith("Exchange")
                    and not n["nodeName"].startswith("Reused")
                )
            for name, v in self._sql(ex).items():
                out["sql:" + name] += v
        return dict(out)

    def by_group(self, prefix: str) -> dict[str, dict[str, float]]:
        groups = defaultdict(list)
        for j, info in self.jobs.items():
            g = info["group"]
            if g is not None and g.startswith(prefix):
                groups[g].append(j)
        return {g: self.totals(js) for g, js in groups.items()}

    def by_batch(self) -> dict[tuple, dict[str, float]]:
        """Totals per (streaming query, micro-batch id)."""
        batches = defaultdict(list)
        for j, info in self.jobs.items():
            if info["batch"] is not None:
                batches[(info["stream"], info["batch"])].append(j)
        return {b: self.totals(js) for b, js in batches.items()}

    def sql_total(self, metric: str) -> float:
        """One SQL metric summed over every node of every execution."""
        return sum(
            v for ex in self.exec_accum_names
            for name, v in self._sql(ex).items() if name.endswith(":" + metric)
        )

    def filter_rows(self, group: str, table: str) -> float:
        """Rows out of the Filter nodes that sit directly over a scan of
        ``table``, in the final plans of job group ``group``."""
        execs = {
            int(info["execution"]) for info in self.jobs.values()
            if info["group"] == group and info["execution"] is not None
        }
        total = 0.0
        for ex in execs:
            for node in _plan_nodes(self.exec_plan.get(ex, {"nodeName": ""})):
                if node["nodeName"] != "Filter" or not _scans(node, table):
                    continue
                for met in node.get("metrics", []):
                    if met["name"] == "number of output rows":
                        total += self.accum.get((ex, met["accumulatorId"]), 0.0)
        return total


def find_event_log(log_dir: str) -> str | None:
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    return max(files, key=os.path.getsize) if files else None
