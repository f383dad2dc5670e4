"""Benchmark entry point: one workload, one seed, one client process.

    python3 perfbench/run.py --workload ingest|lake|curation --seed N \
        --seconds S --trace 0|1

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run enables Spark's event log, attributes it to the ops offline and
reports the per-layer metrics of every other measured op; the ops in
between run with the event log paused and give the tracing overhead.
See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402
import workloads  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}
STREAM_PHASES = {  # StreamingQueryProgress.durationMs key -> metric
    "addBatch": "streaming.add_batch_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "latestOffset": "streaming.latest_offset_ms",
    "getBatch": "streaming.get_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
}
SPARK_UNITS = {"jobs": "count", "stages": "count", "tasks": "count", "input_rows": "count"}


def _spark_metric(counter: str) -> str:
    layer = "sources" if counter.startswith("input_") else "spark"
    return f"{layer}.{counter}_per_op"


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric the traced run emits, with its unit."""
    out = {
        _spark_metric(c): SPARK_UNITS.get(c, "bytes" if c.endswith("bytes") else "ms")
        for c in eventlog.SPARK_COUNTERS
    }
    for m in STREAM_PHASES.values():
        out[m] = "ms"
    out.update({
        "streaming.wait_ms": "ms",
        "streaming.dedup_epoch_ms": "ms",
        "streaming.mg_epoch_ms": "ms",
        "streaming.epoch_growth": "ratio",
        "streaming.store_files": "count",
    })
    for q in workloads.LAKE_MIX:
        out[f"plans.{q}.p50_ms"] = "ms"
    out.update({
        "session.build_ms": "ms",
        "session.warmup_ms": "ms",
        "op.p90_ms": "ms",
        "op.samples": "count",
        "trace.overhead_pct": "%",
    })
    return out


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _p90(xs) -> float:
    xs = sorted(xs)
    return float(xs[min(len(xs) - 1, int(0.9 * len(xs)))]) if xs else 0.0


def _growth(xs) -> float:
    """Median of the last third of a series over the median of its first third."""
    k = max(1, len(xs) // 3)
    first = _median(xs[:k])
    return _median(xs[-k:]) / first if first else 0.0


def end_to_end(run: dict) -> dict:
    ms = [o.ms for o in run["ops"]]
    return {
        "setup_s": run["setup_s"],
        "op_p50_ms": _median(ms),
        "rows_per_s": run["rows_per_op"] * len(ms) / (sum(ms) / 1000.0),
        "peak_rss_mb": run["peak_rss_mb"],
    }


def per_layer(run: dict, spark_ops, untraced_p50_ms: float) -> dict:
    ops = run["ops"]
    ms = [o.ms for o in ops]
    names = per_layer_names()
    out = dict.fromkeys(names, 0.0)
    for c in eventlog.SPARK_COUNTERS:
        out[_spark_metric(c)] = _median(o.counters[c] for o in spark_ops)
    trig = [sum(p["durationMs"].get("triggerExecution", 0) for p in o.progress) for o in ops]
    for phase, m in STREAM_PHASES.items():
        out[m] = _median(sum(p["durationMs"].get(phase, 0) for p in o.progress) for o in ops)
    if any(o.progress for o in ops):
        out["streaming.wait_ms"] = _median(o.ms - t for o, t in zip(ops, trig))
    out["streaming.dedup_epoch_ms"] = _median(o.parts["dedup"] for o in ops if "dedup" in o.parts)
    out["streaming.mg_epoch_ms"] = _median(o.parts["mg"] for o in ops if "mg" in o.parts)
    series = [o.parts.get("dedup", o.ms) for o in ops]
    out["streaming.epoch_growth"] = _growth(series)
    out["streaming.store_files"] = float(run["store_files"])
    for q in workloads.LAKE_MIX:
        out[f"plans.{q}.p50_ms"] = _median(o.parts[q] for o in ops if q in o.parts)
    out["session.build_ms"] = run["build_ms"]
    out["session.warmup_ms"] = run["warmup_ms"]
    out["op.p90_ms"] = _p90(ms)
    out["op.samples"] = float(len(ms))
    p50 = _median(ms)
    out["trace.overhead_pct"] = (p50 - untraced_p50_ms) / untraced_p50_ms * 100.0
    return {k: {"value": v, "unit": names[k]} for k, v in out.items()}


def _peak_rss_mb(spark) -> float:
    """Peak RSS of the driver JVM plus this client process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def _configure_env(work: str, event_log: str | None) -> None:
    """Spark settings made from outside the program: local, temp and
    (traced run) event-log directories inside the checkout, and the
    repository on the Python workers' path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # A fixed heap and young generation make GC sizing, and so peak RSS,
    # independent of how fast a run happens to go.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    args = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -Xmn512m",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if event_log:
        os.makedirs(event_log)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{event_log}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = tmp


class EventLogSwitch:
    """Pauses Spark's event log between ops of the traced run, so that
    traced and untraced ops interleave in one JVM and their latencies
    give the tracing overhead as an A/B free of run-to-run noise."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.listener = self.sc.eventLogger().get()
        self.on = True

    def set(self, on: bool) -> None:
        if on != self.on:
            # deliver the previous op's queued events before switching
            self.sc.listenerBus().waitUntilEmpty()
            (self.sc.addSparkListener if on else self.sc.removeSparkListener)(self.listener)
            self.on = on


def run_workload(name: str, seed: int, seconds: float, work: str, event_log: str | None) -> dict:
    """Set up, warm up and measure one workload. With ``event_log`` every
    other measured op is traced, and each side gets the minimum op count."""
    _configure_env(work, event_log)
    from pyspark import SparkContext

    from api_kakfa_spark_airflow_s3_athena_spark.session import local_test_session

    cores = min(2, len(os.sched_getaffinity(0)))
    wl = workloads.WORKLOADS[name](seed, os.path.join(work, "data"))
    min_ops = wl.min_ops * (2 if event_log else 1)
    t0 = time.perf_counter()
    spark = local_test_session(f"perfbench-{name}", cores=cores)
    gateway = SparkContext._gateway
    build_ms = (time.perf_counter() - t0) * 1000.0
    try:
        switch = EventLogSwitch(spark) if event_log else None
        wl.setup(spark)
        t0 = time.perf_counter()
        warm = [wl.op(i) for i in range(wl.warmup_ops)]
        t_first = time.perf_counter()
        ops, traced = [], []
        while (len(ops) < min_ops or time.perf_counter() - t_first < seconds) \
                and len(warm) + len(ops) < wl.max_ops:
            traced.append(switch is not None and len(ops) % 2 == 0)
            if switch:
                switch.set(traced[-1])
            ops.append(wl.op(len(warm) + len(ops)))
        peak = _peak_rss_mb(spark)
        problems = wl.finish(spark, warm + ops)
        problems += [f"warm-up op {i}: {p}" for i, o in enumerate(warm) for p in o.problems]
        store_files = wl.store_files()
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    return {
        "workload": name, "seed": seed, "local_cores": cores,
        "ops": ops, "traced": traced, "warm": warm, "problems": problems,
        "setup_s": t_first - T_START, "build_ms": build_ms,
        "warmup_ms": (t_first - t0) * 1000.0,
        "rows_per_op": wl.rows_per_op, "peak_rss_mb": peak, "store_files": store_files,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    try:
        run = run_workload(args.workload, args.seed, args.seconds, work, event_log)
        if args.trace:
            traced = [o for o, t in zip(run["ops"], run["traced"]) if t]
            untraced = [o.ms for o, t in zip(run["ops"], run["traced"]) if not t]
            spans = [(o.start_ms, o.end_ms) for o in traced]
            spark_ops = eventlog.attribute(eventlog.read_events(event_log), spans)
            metrics = per_layer(dict(run, ops=traced), spark_ops, _median(untraced))
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end(run).items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still owns the temp root

    ops = run["ops"]
    failed = sum(not o.ok for o in ops)
    for i, o in enumerate(ops):
        for p in o.problems:
            print(f"FAILED op {len(run['warm']) + i}: {p}")
    for p in run["problems"]:
        print(f"FAILED {p}")
    print(json.dumps({
        "workload": run["workload"], "seed": run["seed"], "local_cores": run["local_cores"],
        "seconds": args.seconds, "trace": args.trace,
        "warmup_ms": [round(o.ms, 1) for o in run["warm"]],
        "op_ms": [round(o.ms, 1) for o in ops],
        "traced": run["traced"] if args.trace else None,
    }))
    print(json.dumps({
        "correct": failed == 0 and not run["problems"],
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }), flush=True)


if __name__ == "__main__":
    main()
