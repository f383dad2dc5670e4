"""KMV distinct-sketch contracts: determinism, the k-smallest merge
property that makes set operations exact-on-synopses, estimator
accuracy in both regimes, and bit-parity with an independent Python
md5 reference."""

import hashlib

import pytest
from pyspark.sql import functions as F

from api_kakfa_spark_airflow_s3_athena_spark.operators.sketches import (
    kmv_estimate,
    kmv_set_estimates,
    kmv_sketch,
)


def _py_hash(v) -> int:
    return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)


def _frame(spark, values, group="g", parts=4):
    return spark.createDataFrame(
        [(group, v) for v in values], ["grp", "val"]
    ).repartition(parts)


def test_sketch_matches_python_reference_and_is_partition_invariant(spark):
    values = [f"tok{i}" for i in range(500)] + ["tok7"] * 40  # dups collapse
    k = 64
    expected = sorted(_py_hash(v) for v in set(values))[:k]
    for parts in (1, 7):
        got = (
            kmv_sketch(_frame(spark, values, parts=parts), ["grp"], F.col("val"), k=k)
            .collect()
        )
        assert len(got) == 1
        assert got[0].kmv_hashes == expected


def test_unsaturated_sketch_is_exact(spark):
    df = _frame(spark, [f"v{i}" for i in range(30)])
    sk = kmv_sketch(df, ["grp"], F.col("val"), k=256)
    est = sk.select(kmv_estimate(F.col("kmv_hashes"), 256).alias("e")).collect()[0].e
    assert est == 30.0


def test_saturated_estimate_within_tolerance(spark):
    n, k = 5000, 256  # RSE ~ 1/sqrt(k-2) ~ 6.3%; assert < 4 sigma
    df = _frame(spark, [f"item-{i}" for i in range(n)], parts=8)
    sk = kmv_sketch(df, ["grp"], F.col("val"), k=k)
    est = sk.select(kmv_estimate(F.col("kmv_hashes"), k).alias("e")).collect()[0].e
    assert abs(est - n) / n < 0.25, est


def test_merged_synopsis_equals_sketch_of_union(spark):
    """k-smallest(sketch(A) ∪ sketch(B)) == sketch(A ∪ B) — the
    structural property set operations rely on (Beyer et al. §4)."""
    k = 32
    a_vals = [f"a{i}" for i in range(300)] + [f"shared{i}" for i in range(100)]
    b_vals = [f"b{i}" for i in range(200)] + [f"shared{i}" for i in range(100)]
    a = kmv_sketch(_frame(spark, a_vals), ["grp"], F.col("val"), k=k)
    b = kmv_sketch(_frame(spark, b_vals), ["grp"], F.col("val"), k=k)
    direct = kmv_sketch(
        _frame(spark, a_vals + b_vals), ["grp"], F.col("val"), k=k
    ).collect()[0].kmv_hashes
    merged = (
        a.join(b.withColumnRenamed("kmv_hashes", "hb"), "grp")
        .select(F.slice(F.array_sort(F.array_union("kmv_hashes", "hb")), 1, k).alias("L"))
        .collect()[0]
        .L
    )
    assert merged == direct


def test_set_estimates_exact_regime(spark):
    """Both sides unsaturated -> union, overlap, jaccard all EXACT."""
    k = 256
    a_vals = [f"a{i}" for i in range(40)] + [f"s{i}" for i in range(10)]
    b_vals = [f"b{i}" for i in range(20)] + [f"s{i}" for i in range(10)]
    a = kmv_sketch(_frame(spark, a_vals), ["grp"], F.col("val"), k=k)
    b = kmv_sketch(_frame(spark, b_vals), ["grp"], F.col("val"), k=k)
    r = kmv_set_estimates(a, b, ["grp"], k).collect()[0]
    assert r.est_a == 50.0 and r.est_b == 30.0
    assert r.k_union == 70 and r.est_union == 70.0
    assert r.overlap == 10
    assert r.jaccard_est == 10 / 70


def test_set_estimates_saturated_regime(spark):
    """True Jaccard 1/3 (1000 shared, 1000 unique each side), k=256:
    rho's sigma ~ sqrt(J(1-J)/k) ~ 0.03 — assert within 4 sigma, and
    the union estimate within its own 4-sigma band."""
    k = 256
    shared = [f"s{i}" for i in range(1000)]
    a_vals = [f"a{i}" for i in range(1000)] + shared
    b_vals = [f"b{i}" for i in range(1000)] + shared
    a = kmv_sketch(_frame(spark, a_vals, parts=8), ["grp"], F.col("val"), k=k)
    b = kmv_sketch(_frame(spark, b_vals, parts=8), ["grp"], F.col("val"), k=k)
    r = kmv_set_estimates(a, b, ["grp"], k).collect()[0]
    assert abs(r.jaccard_est - 1 / 3) < 0.12, r.jaccard_est
    assert abs(r.est_union - 3000) / 3000 < 0.25, r.est_union
    # intersection estimate (caller-side multiply, documented)
    est_inter = r.jaccard_est * r.est_union
    assert abs(est_inter - 1000) / 1000 < 0.35, est_inter


def test_null_values_ignored_and_missing_groups_absent(spark):
    df = spark.createDataFrame(
        [("g1", "x"), ("g1", None), ("g2", None)], ["grp", "val"]
    )
    rows = kmv_sketch(df, ["grp"], F.col("val"), k=8).collect()
    assert len(rows) == 1 and rows[0].grp == "g1"
    assert rows[0].kmv_hashes == [_py_hash("x")]


def test_kmv_merge_equals_sketch_of_concatenation(spark):
    """kmv_merge is EXACT: merged synopsis == sketching the
    concatenated inputs, including groups present on one side only."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.sketches import (
        kmv_merge,
    )

    k = 16
    a_rows = [("g1", f"a{i}") for i in range(100)] + [("only_a", "x")]
    b_rows = [("g1", f"b{i}") for i in range(80)] + [("only_b", "y")]
    mk = lambda rows: kmv_sketch(
        spark.createDataFrame(rows, ["grp", "val"]).repartition(3),
        ["grp"],
        F.col("val"),
        k=k,
    )
    merged = {
        r.grp: r.kmv_hashes
        for r in kmv_merge(mk(a_rows), mk(b_rows), ["grp"], k).collect()
    }
    direct = {r.grp: r.kmv_hashes for r in mk(a_rows + b_rows).collect()}
    assert merged == direct
    assert set(merged) == {"g1", "only_a", "only_b"}


def _run_kmv_stream(spark, base, files, k=16, src=None):
    from api_kakfa_spark_airflow_s3_athena_spark.streaming.sketches import (
        kmv_sketch_sink,
    )

    src = src or f"{base}/src"
    for b, rows in enumerate(files):
        spark.createDataFrame(rows, ["grp", "val"]).coalesce(1).write.mode(
            "append" if b else "overwrite"
        ).parquet(src)
    stream = (
        spark.readStream.schema("grp string, val string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = kmv_sketch_sink(
        stream,
        ["grp"],
        "val",
        k=k,
        store_path=f"{base}/store",
        checkpoint=f"{base}/ckpt",
        available_now=True,
    )
    q.awaitTermination()


def test_streaming_synopsis_equals_batch_and_is_monotone(spark, tmp_path):
    base = str(tmp_path / "run")
    k = 16
    files = [
        [("g1", f"e0-{i}") for i in range(60)],
        [("g1", f"e1-{i}") for i in range(60)] + [("g2", "solo")],
        [("g1", f"e0-{i}") for i in range(30)],  # pure-duplicate epoch
    ]
    _run_kmv_stream(spark, base, files, k=k)
    final = {
        r.grp: r.kmv_hashes
        for r in spark.read.parquet(f"{base}/store/epoch=2").collect()
    }
    batch = {
        r.grp: r.kmv_hashes
        for r in kmv_sketch(
            spark.createDataFrame(sum(files, []), ["grp", "val"]),
            ["grp"],
            F.col("val"),
            k=k,
        ).collect()
    }
    assert final == batch  # streaming == batch, bit-exact arrays
    # per-epoch time series: synopsis only grows (duplicate-only epoch
    # leaves it unchanged)
    store = spark.read.parquet(f"{base}/store")
    sizes = {
        (r.epoch): r.n
        for r in store.filter("grp = 'g1'")
        .select("epoch", F.size("kmv_hashes").alias("n"))
        .collect()
    }
    assert sizes[0] <= sizes[1] and sizes[1] == sizes[2] == k


def test_streaming_synopsis_replay_is_idempotent(spark, tmp_path):
    base = str(tmp_path / "run")
    files = [[("g1", f"a{i}") for i in range(40)], [("g1", f"b{i}") for i in range(40)]]
    _run_kmv_stream(spark, base, files)
    before = {
        (r.epoch, r.grp, tuple(r.kmv_hashes))
        for r in spark.read.parquet(f"{base}/store").collect()
    }
    _run_kmv_stream(spark, base, [], src=f"{base}/src")  # restart, no new files
    after = {
        (r.epoch, r.grp, tuple(r.kmv_hashes))
        for r in spark.read.parquet(f"{base}/store").collect()
    }
    assert after == before


def test_sketch_multi_column_groups(spark):
    """Multi-column grouping (the staged queries group by (lang,
    unit)): per-(g1,g2) synopses match the Python reference and keys
    never bleed across groups."""
    rows = [("a", "x", f"t{i}") for i in range(40)] + [
        ("a", "y", f"t{i}") for i in range(5)
    ] + [("b", "x", "t0")]
    df = spark.createDataFrame(rows, ["g1", "g2", "val"]).repartition(5)
    got = {
        (r.g1, r.g2): r.kmv_hashes
        for r in kmv_sketch(df, ["g1", "g2"], F.col("val"), k=8).collect()
    }
    assert set(got) == {("a", "x"), ("a", "y"), ("b", "x")}
    assert got[("a", "x")] == sorted(_py_hash(f"t{i}") for i in range(40))[:8]
    assert got[("a", "y")] == sorted(_py_hash(f"t{i}") for i in range(5))
    assert got[("b", "x")] == [_py_hash("t0")]


def test_epoch_fold_gap_fails_loudly(spark, tmp_path):
    """ADVICE r10: an epoch id whose predecessor synopsis is missing
    while OTHER epochs exist means the store and checkpoint disagree
    (compacted/removed epoch dir, or a checkpoint restarted against
    the wrong store) — the fold must raise, not silently restart from
    the batch alone and drop accumulated state. A genuinely fresh
    store (no epoch dirs at all) still starts cleanly."""
    import pytest

    from api_kakfa_spark_airflow_s3_athena_spark.streaming.sketches import (
        kmv_sketch_batch,
    )

    store = str(tmp_path / "store")
    batch = spark.createDataFrame([("a", i) for i in range(20)], ["g", "v"])
    kmv_sketch_batch(batch, 0, ["g"], "v", k=8, store_path=store)
    # consecutive epoch: fine
    kmv_sketch_batch(batch, 1, ["g"], "v", k=8, store_path=store)
    # gap (epoch 3 with only 0,1 present): loud failure
    with pytest.raises(ValueError, match="gap"):
        kmv_sketch_batch(batch, 3, ["g"], "v", k=8, store_path=store)
    # fresh store at a nonzero epoch id (no epoch dirs): first epoch
    fresh = str(tmp_path / "fresh")
    kmv_sketch_batch(batch, 5, ["g"], "v", k=8, store_path=fresh)
    assert spark.read.parquet(f"{fresh}/epoch=5").count() > 0


def test_sketch_from_hashes_equals_sketch(spark):
    """The round-13 prehashed seam: sketching a materialized kmv_hash
    stream must produce the identical synopsis kmv_sketch builds from
    raw values (incl. duplicate rows, which the k-min pass drops)."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.sketches import (
        kmv_hash,
        kmv_sketch_from_hashes,
    )

    values = [f"tok{i % 300}" for i in range(900)]  # heavy duplication
    df = _frame(spark, values)
    k = 64
    plain = kmv_sketch(df, ["grp"], F.col("val"), k=k).collect()
    hashed = df.select("grp", kmv_hash(F.col("val")).alias("h"))
    from_h = kmv_sketch_from_hashes(hashed, ["grp"], "h", k=k).collect()
    assert {(r.grp, tuple(r.kmv_hashes)) for r in plain} == {
        (r.grp, tuple(r.kmv_hashes)) for r in from_h
    }


def test_containment_exact_phase_shuffles_a_large_eval_side(spark):
    """The exact containment phase of ``kmv_containment_screen``
    broadcasts the eval hash stream only while its size estimate fits
    the broadcast threshold; past the threshold both joins on the hash
    shuffle instead, with the same per-pair intersections."""
    import re

    from api_kakfa_spark_airflow_s3_athena_spark.plans.queries import _kcs_exact

    ev = {d: set(range(d, d + 5)) for d in range(3)}
    tr = {"a": set(range(8)), "b": set(range(0, 8, 2))}
    evh = spark.createDataFrame(
        [(d, h) for d, hs in ev.items() for h in hs], "doc_id long, h long"
    )
    trh = spark.createDataFrame(
        [(s, h) for s, hs in tr.items() for h in hs], "source string, h long"
    )
    screen = spark.createDataFrame(
        [(d, s, len(ev[d]), 0, 0, 0.0) for d in ev for s in tr],
        "eval_id long, key string, n_eval_units long, n_in_region long, "
        "n_found long, screen_est double",
    )
    want = sorted((d, s, len(ev[d] & tr[s])) for d in ev for s in tr)

    def run():
        df = _kcs_exact(screen, evh, trh)
        got = sorted((r.eval_id, r.source, r.n_inter) for r in df.collect())
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]  # the plan AQE ran
        return got, re.findall(r"(\w+Join) \[h#\d+L?\], \[h#", plan)

    got, joins = run()
    assert got == want
    assert joins == ["BroadcastHashJoin"] * 2
    keys = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold")
    prev = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        got, joins = run()
    finally:
        for k, v in prev.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
    assert got == want
    assert len(joins) == 2 and "BroadcastHashJoin" not in joins
