"""Measurement helpers: spans, Spark status-store readers, a streaming
progress listener and a resident-memory sampler.

Everything here observes the package from outside: spans wrap the
benchmark's own calls into each layer, and the layer counters are read back
from Spark's SQL and application status stores (both are populated with
``spark.ui.enabled=false``) after the work is done.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Spans:
    """In-memory span log: name, start, end and parent span id per record.

    Disabled instances record nothing, so untraced runs pay one attribute
    check per boundary.
    """

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {"run": self.run_id, "id": len(self.records), "name": name,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.records.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total(self, name: str) -> float:
        """Summed duration in seconds of every span called ``name``."""
        return sum(r["end"] - r["start"] for r in self.records if r["name"] == name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for r in self.records:
                fh.write(json.dumps(r) + "\n")


def drain_listener_bus(spark) -> None:
    """Block until Spark's listener bus has delivered every queued event, so
    the status stores and streaming listeners reflect all finished work."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


# --- SQL status store: per-physical-node metrics --------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_TOTAL = re.compile(r"^\s*(-?[\d.,]+)\s*([A-Za-z]*)")

# (node-name predicate, metric name) -> layer counter
_NODE_METRICS = {
    "scan_rows": (lambda n: n.startswith("Scan "), "number of output rows"),
    "scan_bytes": (lambda n: n.startswith("Scan "), "size of files read"),
    "scan_ms": (lambda n: n.startswith("Scan "), "scan time"),
    "py_start_ms": (None, "time to start Python workers"),
    "py_init_ms": (None, "time to initialize Python workers"),
    "py_run_ms": (None, "time to run Python workers"),
    "arrow_sent_bytes": (None, "data sent to Python workers"),
    "arrow_returned_bytes": (None, "data returned from Python workers"),
}


def parse_metric(text: str, metric_type: str) -> float:
    """Total of one formatted SQL metric value (``"1,234"``,
    ``"total (min, med, max ...)\\n2.6 s (...)"``, ``"75.5 KiB"``), in rows,
    bytes or milliseconds."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _TOTAL.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if metric_type == "size":
        return value * _SIZE.get(unit, 1)
    if metric_type in ("timing", "nsTiming"):
        return value * _TIME_MS.get(unit or "ms", 1.0)
    return value


def sql_execution_ids(spark) -> list[int]:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [execs.apply(i).executionId() for i in range(execs.size())]


def sql_node_counters(spark, exec_ids: list[int]) -> dict[str, float]:
    """Sum per-node counters over the given SQL executions; also count the
    Exchange nodes of their executed plans and the LSH verification counts
    (rows entering and leaving the node that evaluates the Jaccard
    predicate, a Filter or a join condition)."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = {k: 0.0 for k in _NODE_METRICS}
    out.update(exchanges=0.0, lsh_candidates=0.0, lsh_kept=0.0)
    for eid in exec_ids:
        values = store.executionMetrics(eid)
        graph = store.planGraph(eid)
        nodes = graph.allNodes()
        rows_by_node: dict[int, float] = {}
        verify: list[int] = []  # nodes evaluating the Jaccard predicate
        names: dict[int, str] = {}
        edges = graph.edges()
        child_of: dict[int, list[int]] = {}
        for k in range(edges.size()):
            e = edges.apply(k)
            child_of.setdefault(e.toId(), []).append(e.fromId())
        for j in range(nodes.size()):
            node = nodes.apply(j)
            name = node.name()
            names[node.id()] = name
            if name in ("Exchange", "BroadcastExchange"):
                out["exchanges"] += 1
            if "array_intersect" in node.desc():
                verify.append(node.id())
            metrics = node.metrics()
            for k in range(metrics.size()):
                met = metrics.apply(k)
                val = values.get(met.accumulatorId())
                if not val.isDefined():
                    continue
                v = parse_metric(val.get(), met.metricType())
                if met.name() == "number of output rows":
                    rows_by_node[node.id()] = v
                for key, (pred, mname) in _NODE_METRICS.items():
                    if met.name() == mname and (pred is None or pred(name)):
                        out[key] += v
        for vid in verify:
            if vid not in rows_by_node:
                continue  # a projection of the score, not the predicate
            out["lsh_kept"] += rows_by_node[vid]
            # rows entering: the nearest counted node on the probe side
            # (the broadcast side holds the shingle sets, not candidates)
            frontier = list(child_of.get(vid, []))
            while frontier:
                hit = [c for c in frontier if c in rows_by_node and names.get(c) != "BroadcastExchange"]
                if hit:
                    out["lsh_candidates"] += rows_by_node[hit[0]]
                    break
                frontier = [g for c in frontier if names.get(c) != "BroadcastExchange"
                            for g in child_of.get(c, [])]
    return out


# --- application status store: stage task metrics and job durations ------

def stage_ids(spark) -> set[tuple[int, int]]:
    return {(s.stageId(), s.attemptId()) for s in _stages(spark)}


def _stages(spark):
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.stageList(None, False, False, spark.sparkContext._gateway.new_array(jvm.double, 0), None)
    return [seq.apply(i) for i in range(seq.size())]


def stage_counters(spark, skip: set[tuple[int, int]]) -> dict[str, float]:
    """Task-metric totals over every stage attempt not in ``skip``."""
    out = dict(shuffle_bytes=0.0, fetch_wait_ms=0.0, task_cpu_ms=0.0, gc_ms=0.0, spill_bytes=0.0)
    for s in _stages(spark):
        if (s.stageId(), s.attemptId()) in skip:
            continue
        out["shuffle_bytes"] += s.shuffleWriteBytes()
        out["fetch_wait_ms"] += s.shuffleFetchWaitTime()
        out["task_cpu_ms"] += s.executorCpuTime() / 1e6
        out["gc_ms"] += s.jvmGcTime()
        out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return out


def job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def job_durations_ms(spark, skip: set[int]) -> list[float]:
    """Wall durations of finished Spark jobs not in ``skip``."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for jid in sorted(job_ids(spark) - skip):
        job = store.job(jid)
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            out.append(float(done.get().getTime() - sub.get().getTime()))
    return out


# --- streaming progress ------------------------------------------------------

class ProgressLog(StreamingQueryListener):
    """Keeps the per-micro-batch durations and state-operator counters of
    every streaming query the session runs."""

    def __init__(self):
        self.records: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ops = p.stateOperators or []
        rec = {
            "query": str(p.id),
            "name": p.name,
            "batch": p.batchId,
            "rows": p.numInputRows,
            "duration": dict(p.durationMs or {}),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_bytes": sum(o.memoryUsedBytes for o in ops),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
            "late_dropped": sum(o.numRowsDroppedByWatermark for o in ops),
        }
        with self._lock:
            self.records.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def mark(self) -> int:
        with self._lock:
            return len(self.records)

    def since(self, mark: int) -> list[dict]:
        with self._lock:
            return list(self.records[mark:])


def stream_counters(records: list[dict]) -> dict[str, float]:
    def dur(key):
        return float(sum(r["duration"].get(key, 0) for r in records))

    last_per_query: dict[str, dict] = {}
    for r in records:
        last_per_query[r["query"]] = r
    return {
        "batches": float(len(records)),
        "input_rows": float(sum(r["rows"] for r in records)),
        "trigger_ms": dur("triggerExecution"),
        "add_batch_ms": dur("addBatch"),
        "wal_commit_ms": dur("walCommit"),
        "commit_offsets_ms": dur("commitOffsets"),
        "query_planning_ms": dur("queryPlanning"),
        "state_commit_ms": float(sum(r["state_commit_ms"] for r in records)),
        "state_rows": float(sum(r["state_rows"] for r in last_per_query.values())),
        "state_bytes": float(sum(r["state_bytes"] for r in last_per_query.values())),
        "late_dropped_rows": float(sum(r["late_dropped"] for r in records)),
    }


# --- resident memory -----------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_tree(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        parent[int(name)] = int(stat[stat.rindex(b")") + 2:].split()[1])
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def _rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the resident memory of a process tree (the driver JVM and
    the Python workers it forks) on a background thread; ``peak`` is the
    largest sum seen."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, _rss_bytes(process_tree(self.root_pid)))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _rss_bytes(process_tree(self.root_pid)))
