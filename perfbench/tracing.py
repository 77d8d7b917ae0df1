"""Traced-run tooling: in-memory spans and a Spark event-log parser.

Spans are recorded by the benchmark around its calls into each layer
and written out once at the end. Spark jobs are attached to a span when
they were submitted inside the span's interval: ops run one at a time,
and threads the program starts itself do not inherit job-group tags, so
the interval is the reliable key.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float  # epoch seconds, comparable with event-log times
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans of one run, kept in memory. One stack is shared by all
    threads: the driver and the streaming callback thread never run a
    span at the same time, because one op is in flight at a time."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        with self._lock:
            s = Span(
                len(self.spans),
                self._stack[-1] if self._stack else None,
                name,
                time.time(),
                attrs=attrs,
            )
            self.spans.append(s)
            self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            with self._lock:
                self._stack.remove(s.id)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of the interval its children cover."""
        return span.dur - covered(
            [(c.start, c.end) for c in self.children(span)], span.start, span.end
        )

    def write(self, path: Path) -> None:
        path.write_text(
            json.dumps(
                {"run_id": self.run_id, "spans": [asdict(s) for s in self.spans]}
            )
        )


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
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


# ---------------------------------------------------------------------------
# Event log

_SQL = "org.apache.spark.sql.execution.ui."
#: plan node names of the Python/Arrow evaluation operators
_PYTHON_NODES = ("Python", "Arrow", "Pandas")


@dataclass
class Task:
    stage: int
    failed: bool
    metrics: dict
    sched_delay_ms: int
    accums: dict  # accumulator id -> update


@dataclass
class EventLog:
    """SQL execution -> job -> stage -> task, from one uncompressed log."""

    jobs: list[tuple[int, float, list[int]]] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)
    sql_start: dict[int, float] = field(default_factory=dict)
    plans: dict[int, dict] = field(default_factory=dict)  # final (AQE) plan
    driver_accums: dict[int, int] = field(default_factory=dict)

    def jobs_in(self, lo: float, hi: float) -> list[tuple[int, float, list[int]]]:
        return [j for j in self.jobs if lo <= j[1] <= hi]

    def executions_in(self, lo: float, hi: float) -> list[int]:
        return [e for e, t in self.sql_start.items() if lo <= t <= hi]


def parse_event_log(path: Path) -> EventLog:
    log = EventLog()
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                log.jobs.append(
                    (
                        e["Job ID"],
                        e["Submission Time"] / 1000.0,
                        [s["Stage ID"] for s in e["Stage Infos"]],
                    )
                )
            elif kind == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                duration = info["Finish Time"] - info["Launch Time"]
                delay = duration - sum(
                    m.get(k, 0)
                    for k in (
                        "Executor Deserialize Time",
                        "Executor Run Time",
                        "Result Serialization Time",
                    )
                ) - info.get("Getting Result Time", 0)
                log.tasks.append(
                    Task(
                        e["Stage ID"],
                        info["Failed"] or e["Task End Reason"]["Reason"] != "Success",
                        m,
                        max(0, delay),
                        {
                            a["ID"]: int(a["Update"])
                            for a in info.get("Accumulables", [])
                            # SQL metrics log their updates as strings
                            if str(a.get("Update", "")).isdigit()
                        },
                    )
                )
            elif kind == _SQL + "SparkListenerSQLExecutionStart":
                log.sql_start[e["executionId"]] = e["time"] / 1000.0
                log.plans[e["executionId"]] = e["sparkPlanInfo"]
            elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                log.plans[e["executionId"]] = e["sparkPlanInfo"]
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for acc, val in e["accumUpdates"]:
                    log.driver_accums[acc] = log.driver_accums.get(acc, 0) + val
    return log


def _nodes(plan: dict):
    yield plan
    for child in plan.get("children", []):
        yield from _nodes(child)


def _metric_id(node: dict, name: str) -> int | None:
    for m in node.get("metrics", []):
        if m["name"] == name:
            return m["accumulatorId"]
    return None


def _feeding_rows_id(node: dict) -> int | None:
    """Accumulator of the rows that flow INTO a Python node: the output
    rows of the nearest operator under it that counts them (codegen
    wrappers and projections do not)."""
    for child in node.get("children", []):
        found = _metric_id(child, "number of output rows")
        if found is None:
            found = _feeding_rows_id(child)
        if found is not None:
            return found
    return None


def plan_stats(plans: list[dict]) -> dict:
    """Node count, sort-merge joins and the Python nodes' metric ids."""
    stats = {"nodes": 0, "smj": 0, "py_sent": set(), "py_recv": set(), "py_rows_in": set()}
    for plan in plans:
        for node in _nodes(plan):
            stats["nodes"] += 1
            name = node["nodeName"]
            if name.startswith("SortMergeJoin"):
                stats["smj"] += 1
            if any(k in name for k in _PYTHON_NODES):
                for key, metric in (
                    ("py_sent", "data sent to Python workers"),
                    ("py_recv", "data returned from Python workers"),
                ):
                    acc = _metric_id(node, metric)
                    if acc is not None:
                        stats[key].add(acc)
                acc = _feeding_rows_id(node)
                if acc is not None:
                    stats["py_rows_in"].add(acc)
    return stats


def exec_metrics(log: EventLog, lo: float, hi: float, cores: int) -> dict:
    """Layer metrics of everything Spark ran in [lo, hi]."""
    jobs = log.jobs_in(lo, hi)
    stages = {s for _, _, ss in jobs for s in ss}
    tasks = [t for t in log.tasks if t.stage in stages]
    execs = log.executions_in(lo, hi)
    ps = plan_stats([log.plans[e] for e in execs])

    def tsum(key, sub=None):
        return sum(
            (t.metrics.get(key) or {}).get(sub, 0) if sub else t.metrics.get(key, 0)
            for t in tasks
        )

    def acc_sum(ids):
        return sum(t.accums.get(i, 0) for t in tasks for i in ids) + sum(
            log.driver_accums.get(i, 0) for i in ids
        )

    run_s = tsum("Executor Run Time") / 1e3
    return {
        "exec.sql_executions": len(execs),
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": len(tasks),
        "exec.failed_tasks": sum(t.failed for t in tasks),
        "exec.sched_delay_s": sum(t.sched_delay_ms for t in tasks) / 1e3,
        "exec.run_s": run_s,
        "exec.cpu_s": tsum("Executor CPU Time") / 1e9,
        "exec.gc_s": tsum("JVM GC Time") / 1e3,
        "exec.slot_util": run_s / max(1e-9, (hi - lo) * cores),
        "exec.input_bytes": tsum("Input Metrics", "Bytes Read"),
        "exec.output_bytes": tsum("Output Metrics", "Bytes Written"),
        "exec.shuffle_read_bytes": tsum("Shuffle Read Metrics", "Remote Bytes Read")
        + tsum("Shuffle Read Metrics", "Local Bytes Read"),
        "exec.shuffle_write_bytes": tsum("Shuffle Write Metrics", "Shuffle Bytes Written"),
        "exec.spill_bytes": tsum("Memory Bytes Spilled") + tsum("Disk Bytes Spilled"),
        "exec.plan_nodes": ps["nodes"],
        "exec.smj_joins": ps["smj"],
        "llmdata.python_rows_in": acc_sum(ps["py_rows_in"]),
        "llmdata.python_bytes_sent": acc_sum(ps["py_sent"]),
        "llmdata.python_bytes_received": acc_sum(ps["py_recv"]),
    }
