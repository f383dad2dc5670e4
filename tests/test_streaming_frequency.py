"""Streaming per-key heavy-hitter maintenance (streaming/frequency.py):
the MG-summary sink's mergeable-summary bounds, deduction-ledger
exactness, bounded state, and replay idempotence — plus the
containment guarantee the registered contract leans on (every true
hitter above the num_counters threshold survives in the final state).
"""

from __future__ import annotations

import collections
import shutil

import pytest
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


@pytest.mark.parametrize("lost", ["meta", "summary"])
def test_mg_one_store_lost_fails_loudly(spark, tmp_path, lost):
    """The summary and the deduction ledger fold in step: with one of
    the two stores wiped after epoch 0, epoch 1 raises the gap error
    instead of restarting that store's fold while the other keeps
    accumulating."""
    from api_kakfa_spark_airflow_s3_athena_spark.streaming.frequency import (
        mg_summary_batch,
    )

    store = str(tmp_path / "store")
    batch = spark.createDataFrame(
        [("en", f"w{i % 5}") for i in range(40)], ["lang", "unit"]
    )
    mg_summary_batch(batch, 0, ["lang"], "unit", 3, store)
    shutil.rmtree(f"{store}/{lost}")
    with pytest.raises(ValueError, match="gap"):
        mg_summary_batch(batch, 1, ["lang"], "unit", 3, store)


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


def _mg_reference(epochs, k):
    """Pure-Python Misra-Gries epoch fold: merge the batch histogram of
    non-NULL units into the prior summary, subtract each key's
    (k+1)-th largest count ``t`` from all its counters, keep the
    positive ones, and charge ``t`` to the key's deduction ledger.
    Returns, per epoch, ``(summary, meta)`` as
    ``{(key, unit): cnt}`` and ``{key: (n_units, deduction)}``."""
    summary, meta, out = {}, {}, []
    for rows in epochs:
        batch = collections.Counter((g, u) for g, u in rows if u is not None)
        merged = collections.Counter(summary)
        merged.update(batch)
        for (g, _u), c in batch.items():
            n, ded = meta.get(g, (0, 0))
            meta[g] = (n + c, ded)
        by_key = collections.defaultdict(list)
        for (g, u), c in merged.items():
            by_key[g].append(c)
        summary = {}
        for g, counts in by_key.items():
            counts.sort(reverse=True)
            t = counts[k] if len(counts) > k else 0
            n, ded = meta[g]
            meta[g] = (n, ded + t)
            for (gg, u), c in merged.items():
                if gg == g and c > t:
                    summary[(g, u)] = c - t
        out.append((dict(summary), dict(meta)))
    return out


def test_mg_fold_equals_python_reference_on_adversarial_epochs(spark, tmp_path):
    """Exact summary and meta stores, epoch by epoch, against a
    pure-Python MG fold on the edge cases of the reduction: ties at
    exactly the (k+1)-th count, a key whose counters all reduce to
    zero, a key carried only by the prior state, and NULL units (which
    count nowhere, and a key with only NULL units gets no meta row)."""
    from api_kakfa_spark_airflow_s3_athena_spark.streaming.frequency import (
        mg_summary_batch,
    )

    def units(lang, **counts):
        return [(lang, u) for u, c in counts.items() for _ in range(c)]

    k = 3
    epochs = [
        # 'tie': the 4th-5th largest tie with the 3rd at 3 -> t = 3;
        # 'flat': four equal counters -> all reduce to zero;
        # 'old': seen only in this epoch
        units("tie", a=5, b=4, c=3, d=3, e=3)
        + units("flat", w=2, x=2, y=2, z=2)
        + units("old", p=4, q=1)
        + [("tie", None), ("nul", None), ("nul", None)],
        # 'tie' merges with its stored counters: the 4th and 5th
        # largest tie at 2 -> t = 2; 'flat' starts over from no state;
        # 'old' is carried by the stored summary alone from here on
        units("tie", a=2, b=1, c=2, f=3, g=3)
        + units("flat", w=1, v=3)
        + [("flat", None)],
        # 'tie': three counters tie with the 4th at 1 and all drop
        units("tie", b=2, h=6, i=1)
        + units("flat", v=1, u=1, s=1, r=1)
        + units("nul", m=2),
    ]
    store = str(tmp_path / "store")
    for e, rows in enumerate(epochs):
        batch = spark.createDataFrame(rows, "lang string, unit string")
        mg_summary_batch(batch, e, ["lang"], "unit", k, store)

    want = _mg_reference(epochs, k)
    for e, (summary, meta) in enumerate(want):
        got_summary = {
            (r.lang, r.unit): r.cnt
            for r in spark.read.parquet(f"{store}/summary/epoch={e}").collect()
        }
        got_meta = {
            r.lang: (r.n_units, r.deduction)
            for r in spark.read.parquet(f"{store}/meta/epoch={e}").collect()
        }
        assert got_summary == summary, e
        assert got_meta == meta, e
    # the adversarial cases really occurred
    summary0, meta0 = want[0]
    assert meta0["tie"] == (18, 3) and meta0["flat"] == (8, 2)
    assert "nul" not in meta0
    assert not any(g == "flat" for g, _ in summary0)
    assert want[2][0][("old", "p")] == 4 and want[2][1]["old"] == (5, 0)
    assert want[2][0][("tie", "h")] == 5 and ("tie", "i") not in want[2][0]


def test_stream_bench_dir_is_removed_by_exit_cleanup(spark, sf_dir, monkeypatch):
    """A streaming row's bench run writes its store into a temp dir
    that the returned frame reads lazily: the dir outlives the call
    and is removed by the exit hook ``_cleanup_stage_dirs``, not
    leaked."""
    import os

    from api_kakfa_spark_airflow_s3_athena_spark.plans import queries as Q

    # only this test's dirs: the session's staged inputs stay put
    monkeypatch.setattr(Q, "_STAGE_CACHE", {})
    out = Q.REGISTRY["streaming_heavy_hitters"].bench_fn(spark, sf_dir)
    (base,) = Q._STAGE_CACHE.values()
    assert os.path.isdir(base) and out.count() > 0
    Q._cleanup_stage_dirs()
    assert not os.path.exists(base)


def test_mg_fold_reduces_a_null_key_like_any_key(spark, tmp_path):
    """NULL is one more key value: its counters are MG-reduced and its
    deduction charged like any other key's, so its state stays bounded
    by ``num_counters``."""
    from api_kakfa_spark_airflow_s3_athena_spark.streaming.frequency import (
        mg_summary_batch,
    )

    epochs = [
        [(None, u) for u in "abcdef"] + [(None, "a")] * 3 + [("en", "x")],
        [(None, u) for u in "abg"],
    ]
    store = str(tmp_path / "store")
    for e, rows in enumerate(epochs):
        batch = spark.createDataFrame(rows, "lang string, unit string")
        mg_summary_batch(batch, e, ["lang"], "unit", 2, store)
    for e, (summary, meta) in enumerate(_mg_reference(epochs, 2)):
        got_summary = {
            (r.lang, r.unit): r.cnt
            for r in spark.read.parquet(f"{store}/summary/epoch={e}").collect()
        }
        got_meta = {
            r.lang: (r.n_units, r.deduction)
            for r in spark.read.parquet(f"{store}/meta/epoch={e}").collect()
        }
        assert got_summary == summary, e
        assert got_meta == meta, e
    assert _mg_reference(epochs, 2)[0][1][None] == (9, 1)
