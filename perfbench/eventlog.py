"""Offline parser for Spark's event log: per-op Spark layer metrics.

The traced run enables ``spark.eventLog`` from outside the program and
keeps, per measured op, its wall-clock span. After the session stops,
:func:`attribute` reads the log and charges every job to the op span
that contains the job's submission time. The load is serial (one
client, closed loop), so this also catches jobs that run on a
streaming query's own thread, which job groups miss. Stages follow
their job; tasks follow their stage.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

# per-op counters this module reports, in BENCHMARK.json order
SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "driver_gap_ms",
    "exec_run_ms",
    "exec_cpu_ms",
    "gc_ms",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "result_bytes",
    "input_bytes",
    "input_rows",
)


@dataclass
class OpSpark:
    """Spark work charged to one op span (wall-clock epoch ms)."""

    start_ms: float
    end_ms: float
    counters: dict = field(default_factory=lambda: dict.fromkeys(SPARK_COUNTERS, 0.0))
    stage_intervals: list = field(default_factory=list)


def read_events(log_dir: str):
    """Yield the JSON events of every (uncompressed, unrolled) event log
    in ``log_dir``."""
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def attribute(events, spans) -> list[OpSpark]:
    """Charge jobs, stages and tasks from ``events`` to ``spans``, a
    list of ``(start_ms, end_ms)``. Work outside every span (set-up,
    warm-up, correctness checks) is dropped."""
    ops = [OpSpark(a, b) for a, b in spans]
    stage_op: dict[int, OpSpark] = {}

    def op_at(t_ms: float):
        for o in ops:
            if o.start_ms <= t_ms <= o.end_ms:
                return o
        return None

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            o = op_at(ev["Submission Time"])
            if o is None:
                continue
            o.counters["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_op.setdefault(sid, o)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            o = stage_op.get(info["Stage ID"])
            if o is None or "Submission Time" not in info:
                continue
            o.counters["stages"] += 1
            o.stage_intervals.append((info["Submission Time"], info["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            o = stage_op.get(ev["Stage ID"])
            if o is None:
                continue
            m = ev.get("Task Metrics") or {}
            c = o.counters
            c["tasks"] += 1
            c["exec_run_ms"] += m.get("Executor Run Time", 0)
            c["exec_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            c["gc_ms"] += m.get("JVM GC Time", 0)
            c["result_bytes"] += m.get("Result Size", 0)
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            inp = m.get("Input Metrics") or {}
            c["input_bytes"] += inp.get("Bytes Read", 0)
            c["input_rows"] += inp.get("Records Read", 0)
    for o in ops:
        busy = _union_ms(o.stage_intervals, o.start_ms, o.end_ms)
        o.counters["driver_gap_ms"] = (o.end_ms - o.start_ms) - busy
    return ops
