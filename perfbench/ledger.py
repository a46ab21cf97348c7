"""Per-span ledger read from one Spark event log.

The benchmark puts a job group and an in-memory :class:`Span` around
every call it makes into a layer's public function, with Spark's own
event log enabled (``spark.eventLog.*``, plain JSON lines). This module
turns that log plus the span list into per-span numbers:

- ``wall_s``: the span's wall time;
- ``jobs`` / ``tasks``: jobs attributed to the span and their tasks;
- ``idle_s``: wall time during which no task of the span ran on any core
  (wall minus the union of task-running intervals) — the planning,
  scheduling and commit floor;
- ``task_cpu_s``: executor CPU time of those tasks;
- ``shuffle_bytes``: shuffle bytes written; ``spill_bytes``: memory plus
  disk bytes spilled; ``output_bytes`` / ``output_rows``: what the
  span's tasks wrote through a file sink;
- ``max_operator_rows``: the largest "number of output rows" SQL metric
  of any physical operator run by the span (for pair-expansion
  amplification);
- ``failed_tasks``: task attempts that did not end in ``Success``.

A job belongs to a span when its job group is the span's name. Jobs
submitted under another group (a streaming query sets its own run id as
the group) belong to the span whose wall interval contains their
submission time; the benchmark runs one call at a time, so the intervals
do not overlap.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

_OUTPUT_ROWS = "number of output rows"


@dataclass
class Span:
    """One call into a layer: ``name`` is ``<module>.<function>[.tag]``,
    times are epoch milliseconds (the event log's clock)."""

    name: str
    start_ms: float
    end_ms: float


@dataclass
class SpanLedger:
    wall_s: float
    jobs: int = 0
    tasks: int = 0
    idle_s: float = 0.0
    task_cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    output_rows: int = 0
    max_operator_rows: int = 0
    failed_tasks: int = 0
    _intervals: list = field(default_factory=list, repr=False)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    covered, end = 0.0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            covered += hi - lo
            end = hi
        elif hi > end:
            covered += hi - end
            end = hi
    return covered


def _plan_metric_ids(plan: dict, out: set[int]) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == _OUTPUT_ROWS:
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_metric_ids(child, out)


def read_events(path: str):
    with open(path) as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


def build(events, spans: list[Span]) -> dict[str, SpanLedger]:
    """Attribute an event stream to ``spans`` (unique names); returns one
    ledger per span."""
    by_name = {s.name: s for s in spans}
    if len(by_name) != len(spans):
        raise ValueError("span names must be unique")
    stage_span: dict[int, str] = {}
    exec_span: dict[int, str] = {}
    row_ids: set[int] = set()
    acc_rows: dict[str, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    sql_acc: list[tuple[int, int, int]] = []
    out = {s.name: SpanLedger((s.end_ms - s.start_ms) / 1000.0) for s in spans}

    def owner(group: str | None, t_ms: float) -> str | None:
        if group in by_name:
            return group
        for s in spans:
            if s.start_ms <= t_ms <= s.end_ms:
                return s.name
        return None

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            name = owner(props.get("spark.jobGroup.id"), ev["Submission Time"])
            if name is None:
                continue
            out[name].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_span[sid] = name
            ex = props.get("spark.sql.execution.id")
            if ex is not None:
                exec_span[int(ex)] = name
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            _plan_metric_ids(ev.get("sparkPlanInfo", {}), row_ids)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev.get("accumUpdates", []):
                sql_acc.append((ev["executionId"], acc_id, value))
        elif kind == "SparkListenerTaskEnd":
            name = stage_span.get(ev["Stage ID"])
            if name is None:
                continue
            led = out[name]
            info = ev["Task Info"]
            led.tasks += 1
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                led.failed_tasks += 1
            span = by_name[name]
            lo = max(info["Launch Time"], span.start_ms)
            hi = min(info["Finish Time"], span.end_ms)
            if hi > lo:
                led._intervals.append((lo, hi))
            m = ev.get("Task Metrics") or {}
            led.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            led.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            led.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            o = m.get("Output Metrics", {})
            led.output_bytes += o.get("Bytes Written", 0)
            led.output_rows += o.get("Records Written", 0)
            for acc in info.get("Accumulables", []):
                if "Update" in acc and "ID" in acc:
                    acc_rows[name][acc["ID"]] += int(acc["Update"])
    for ex, acc_id, value in sql_acc:
        name = exec_span.get(ex)
        if name is not None:
            acc_rows[name][acc_id] += int(value)
    for name, led in out.items():
        led.idle_s = max(0.0, led.wall_s - _union_ms(led._intervals) / 1000.0)
        led.max_operator_rows = max(
            (v for k, v in acc_rows[name].items() if k in row_ids), default=0
        )
    return out
