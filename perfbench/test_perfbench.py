"""Fast self-tests of the benchmark itself (no Spark session).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import re
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import eventlog  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
SF = 0.001


def _sink_table(body: bytes) -> pa.Table:
    """What the declared-schema permissive parse lands in the sink: a
    malformed line becomes a row whose every column is NULL."""
    rows = []
    for line in body.decode().splitlines():
        try:
            rec = json.loads(line)
        except json.JSONDecodeError:
            rec = {}
        rows.append({c: rec.get(c) for c in workloads._NAMES_COLS})
    return pa.Table.from_pylist(rows)


def test_generators_give_identical_bytes_for_a_seed(tmp_path):
    assert gen.names_file(7, 3) == gen.names_file(7, 3)
    assert gen.names_file(7, 3)[0] != gen.names_file(8, 3)[0]
    a, b = tmp_path / "a", tmp_path / "b"
    rows = gen.write_tables(7, str(a), scale=SF)
    assert rows == gen.write_tables(7, str(b), scale=SF)
    assert rows["lineitem"] == 6000 and rows["nation"] == 25
    for name in rows:
        assert (a / f"{name}.parquet").read_bytes() == (b / f"{name}.parquet").read_bytes()
    docs = gen.documents(7, scale=SF)
    e1, e2 = gen.curation_epochs(7, docs), gen.curation_epochs(7, docs)
    assert all(x.docs.equals(y.docs) and x.units.equals(y.units) and x.plants == y.plants
               for x, y in zip(e1, e2))


def test_names_file_counts_match_the_athena_checks():
    body, expect = gen.names_file(11, 0)
    assert len(body.splitlines()) == expect.lines == gen.NAMES_PER_FILE
    assert workloads.check_names(_sink_table(body), expect) == []


def test_a_dropped_sink_row_fails_the_op():
    body, expect = gen.names_file(11, 1)
    table = _sink_table(body)
    dropped = pa.concat_tables([table.slice(0, 17), table.slice(18)])
    op = workloads.Op(1.0, 0.0, 1.0)
    op.problems += workloads.check_names(dropped, expect)
    assert not op.ok
    assert any(p.startswith("lines: sink 9999") for p in op.problems)


def _events():
    def job(jid, t, stages):
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
                "Stage IDs": stages}

    def stage(sid, a, b):
        return {"Event": "SparkListenerStageCompleted",
                "Stage Info": {"Stage ID": sid, "Submission Time": a, "Completion Time": b}}

    def task(sid, run_ms, shuffle_w=0, records=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": 1, "Result Size": 100, "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 5},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Input Metrics": {"Bytes Read": 10, "Records Read": records}}}

    return [
        job(0, 50, [0]), stage(0, 50, 60), task(0, 9),  # set-up: before every span
        job(1, 110, [1, 2]), stage(1, 110, 130), task(1, 15, shuffle_w=7, records=3),
        task(1, 5), stage(2, 125, 150), task(2, 20),
        job(2, 210, [3]),  # submitted inside op 2 (e.g. on a stream thread)
        stage(3, 220, 240), task(3, 12, records=4),
        job(3, 400, [4]), stage(4, 400, 410), task(4, 3),  # correctness check, after
    ]


def test_span_attribution_on_a_synthetic_event_log(tmp_path):
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in _events()) + "\n")
    op1, op2 = eventlog.attribute(eventlog.read_events(str(tmp_path)), [(100, 200), (200, 300)])
    c1, c2 = op1.counters, op2.counters
    assert (c1["jobs"], c1["stages"], c1["tasks"]) == (1, 2, 3)
    assert (c2["jobs"], c2["stages"], c2["tasks"]) == (1, 1, 1)
    assert c1["exec_run_ms"] == 40 and c1["exec_cpu_ms"] == pytest.approx(40)
    assert c1["shuffle_write_bytes"] == 7 and c1["shuffle_read_bytes"] == 15
    assert c1["input_rows"] == 3 and c2["input_rows"] == 4
    # op 1 is 100 ms long; stages cover 110..150 -> 60 ms outside any stage
    assert c1["driver_gap_ms"] == 60
    assert c2["driver_gap_ms"] == 80


def _synthetic_run(workload: str) -> dict:
    ops = []
    for i in range(6):
        op = workloads.Op(100.0 + i, 1000.0 * i, 1000.0 * i + 100.0 + i)
        if workload == "lake":
            op.parts = {q: 10.0 for q in workloads.LAKE_MIX}
        elif workload == "curation":
            op.parts = {"dedup": 60.0, "mg": 40.0 + i}
        if workload != "lake":
            op.progress = [{"batchId": i, "numInputRows": 5, "durationMs": {
                "addBatch": 50, "walCommit": 5, "commitOffsets": 5, "latestOffset": 2,
                "getBatch": 1, "queryPlanning": 3, "triggerExecution": 70}}]
        ops.append(op)
    return {"ops": ops, "setup_s": 9.5, "rows_per_op": 1000, "peak_rss_mb": 900.0,
            "store_files": 12, "build_ms": 4000.0, "warmup_ms": 3000.0}


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_every_benchmark_metric_is_emitted_under_a_valid_name(workload):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    r = _synthetic_run(workload)
    e2e = run.end_to_end(r)
    spans = [(o.start_ms, o.end_ms) for o in r["ops"]]
    layers = run.per_layer(r, eventlog.attribute(_events(), spans), 100.0)
    for spec, emitted in ((bench["end_to_end"], e2e), (bench["per_layer"], layers)):
        assert sorted(m["name"] for m in spec) == sorted(emitted)
        for m in spec:
            assert NAME.fullmatch(m["name"])
            value = emitted[m["name"]]
            value = value["value"] if isinstance(value, dict) else value
            assert isinstance(value, float) and math.isfinite(value)
    assert all(v > 0 for v in e2e.values())
    units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert units == {k: v["unit"] for k, v in layers.items()}
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
