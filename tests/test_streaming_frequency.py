"""Streaming per-key heavy-hitter maintenance (streaming/frequency.py):
the MG-summary sink's mergeable-summary bounds, deduction-ledger
exactness, bounded state, and replay idempotence — plus the
containment guarantee the registered contract leans on (every true
hitter above the num_counters threshold survives in the final state).
"""

from __future__ import annotations

import collections

from pyspark.sql import functions as F


def _run_hh_stream(spark, base, files, num_counters=4, src=None):
    from api_kakfa_spark_airflow_s3_athena_spark.streaming.frequency import (
        mg_summary_sink,
    )

    src = src or f"{base}/src"
    for b, rows in enumerate(files):
        spark.createDataFrame(rows, ["grp", "unit"]).coalesce(1).write.mode(
            "append" if b else "overwrite"
        ).parquet(src)
    stream = (
        spark.readStream.schema("grp string, unit string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = mg_summary_sink(
        stream,
        ["grp"],
        "unit",
        num_counters=num_counters,
        store_path=f"{base}/store",
        checkpoint=f"{base}/ckpt",
        available_now=True,
    )
    q.awaitTermination()


def _truth(files):
    freq: dict = collections.Counter()
    for rows in files:
        freq.update(rows)
    totals: dict = collections.Counter()
    for (g, _u), c in freq.items():
        totals[g] += c
    return freq, totals


def _skewed_files():
    # 3 epochs, one skewed group: 'hot' dominates, the mid-frequency
    # unit crosses the threshold only in aggregate (never in a single
    # epoch), and a long tail forces reductions in every epoch.
    return [
        [("g", "hot")] * 30 + [("g", "mid")] * 4 + [("g", f"t0{i}") for i in range(8)],
        [("g", "hot")] * 25 + [("g", "mid")] * 5 + [("g", f"t1{i}") for i in range(8)],
        [("g", "mid")] * 5 + [("g", f"t2{i}") for i in range(8)] + [("h", "solo")] * 3,
    ]


def test_mg_bounds_and_containment_hold_with_observed_deduction(spark, tmp_path):
    base = str(tmp_path / "run")
    files = _skewed_files()
    k = 4
    _run_hh_stream(spark, base, files, num_counters=k)
    freq, totals = _truth(files)

    state = {
        (r.grp, r.unit): r.cnt
        for r in spark.read.parquet(f"{base}/store/summary/epoch=2").collect()
    }
    meta = {
        r.grp: (r.n_units, r.deduction)
        for r in spark.read.parquet(f"{base}/store/meta/epoch=2").collect()
    }
    # totals exact, deduction within the worst-case mergeable bound
    for g, n in totals.items():
        assert meta[g][0] == n
        assert 0 <= meta[g][1] <= n // (k + 1)
    # band: stored <= true <= stored + deduction, for EVERY true unit
    for (g, u), true in freq.items():
        stored = state.get((g, u), 0)
        assert stored <= true <= stored + meta[g][1], (g, u, stored, true, meta[g])
    # no phantom units: state counts never exceed truth (units absent
    # from the stream cannot appear)
    for (g, u), stored in state.items():
        assert freq.get((g, u), 0) >= stored
    # containment: every true hitter at the k-threshold is in state
    for (g, u), true in freq.items():
        if true * k > totals[g]:
            assert (g, u) in state, (g, u)


def test_state_is_bounded_per_key(spark, tmp_path):
    base = str(tmp_path / "run")
    k = 3
    # skewed: a hot head so reductions leave survivors (a perfectly
    # uniform batch legitimately cancels to an EMPTY summary — every
    # count equals the (k+1)-th largest; that's MG working as designed)
    files = [
        [("g", "hot")] * 10 + [("g", f"a{i}") for i in range(20)],
        [("g", "hot2")] * 8 + [("g", f"b{i}") for i in range(20)],
    ]
    _run_hh_stream(spark, base, files, num_counters=k)
    store = spark.read.parquet(f"{base}/store/summary")
    per_key = (
        store.groupBy("epoch", "grp").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert per_key and all(r.n <= k for r in per_key)


def test_replay_is_idempotent(spark, tmp_path):
    base = str(tmp_path / "run")
    files = _skewed_files()[:2]
    _run_hh_stream(spark, base, files)
    read = lambda part: {
        tuple(r) for r in spark.read.parquet(f"{base}/store/{part}").collect()
    }
    before = (read("summary"), read("meta"))
    _run_hh_stream(spark, base, [], src=f"{base}/src")  # restart, no new files
    assert (read("summary"), read("meta")) == before


def test_single_epoch_equals_exact_histogram_truncation(spark, tmp_path):
    # one epoch, fewer distinct units than counters: the summary IS
    # the exact histogram and the deduction ledger is zero
    base = str(tmp_path / "run")
    files = [[("g", "x")] * 3 + [("g", "y")] * 2 + [("h", "z")]]
    _run_hh_stream(spark, base, files, num_counters=4)
    state = {
        (r.grp, r.unit): r.cnt
        for r in spark.read.parquet(f"{base}/store/summary/epoch=0").collect()
    }
    meta = {
        r.grp: (r.n_units, r.deduction)
        for r in spark.read.parquet(f"{base}/store/meta/epoch=0").collect()
    }
    assert state == {("g", "x"): 3, ("g", "y"): 2, ("h", "z"): 1}
    assert meta == {"g": (5, 0), "h": (1, 0)}


def test_mg_epoch_fold_gap_fails_loudly(spark, tmp_path):
    """The sketches-sink gap discipline applies to the MG summary fold
    too: a missing predecessor epoch with other epochs present raises
    instead of silently restarting the fold (ADVICE r10)."""
    import pytest

    from api_kakfa_spark_airflow_s3_athena_spark.streaming.frequency import (
        mg_summary_batch,
    )

    store = str(tmp_path / "store")
    batch = spark.createDataFrame(
        [("en", f"w{i % 5}") for i in range(40)], ["lang", "unit"]
    )
    mg_summary_batch(batch, 0, ["lang"], "unit", 3, store)
    mg_summary_batch(batch, 1, ["lang"], "unit", 3, store)
    with pytest.raises(ValueError, match="gap"):
        mg_summary_batch(batch, 4, ["lang"], "unit", 3, store)


def test_stream_bench_records_spark_epoch_seconds(spark, sf_dir):
    """The streaming rows' bench_fn records one positive per-epoch
    duration (Spark's addBatch) for each of the three staged epochs,
    keyed by the registry name."""
    from api_kakfa_spark_airflow_s3_athena_spark.plans.queries import (
        REGISTRY,
        STREAM_EPOCH_SEC,
    )

    name = "streaming_heavy_hitters"
    STREAM_EPOCH_SEC.pop(name, None)
    out = REGISTRY[name].bench_fn(spark, sf_dir)
    assert out.count() > 0
    (epochs,) = STREAM_EPOCH_SEC[name]
    assert len(epochs) == 3 and all(sec > 0 for sec in epochs)
