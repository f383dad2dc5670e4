"""Round-14 fusion seams: every restructured internal must be
value-identical to the path it replaced.

- ``minhash_delta_dedup_pairs(delta_bands=...)`` (the streaming ingest
  sink's single-signature-pass seam) == the default two-pass path;
- ``_pq_encode_with_error`` == ``_pq_encode_with_cells`` rows +
  ``pq_quantization_error`` mse (non-residual), and == ``pq_encode``
  rows + ``residual_quantization_error`` mse (residual);
- ``ivfpq_index_and_baseline`` == ``ivfpq_index`` /
  ``ivfpq_residual_index`` artifacts + the unfused baseline.
"""

import math

import pytest
from pyspark.sql import functions as F

from api_kakfa_spark_airflow_s3_athena_spark.operators import dedup as DD
from api_kakfa_spark_airflow_s3_athena_spark.operators import similarity as SIM


def _emb(spark, n=40, dims=8, parts=4):
    vecs = [[math.cos(i * 0.9 + j) + 0.1 * j for j in range(dims)] for i in range(n)]
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    ).repartition(parts)


def _docs(spark):
    rows = [
        (i, f"alpha beta gamma delta {i % 7} epsilon zeta eta theta {i % 3}")
        for i in range(30)
    ]
    # exact copies so near-dup pairs exist
    rows += [(100 + i, rows[i][1]) for i in range(6)]
    return spark.createDataFrame(rows, "doc_id long, text string").repartition(3)


def test_delta_bands_seam_matches_default(spark):
    docs = _docs(spark)
    corpus = docs.filter(F.col("doc_id") < 20)
    delta = docs.filter(F.col("doc_id") >= 20)
    index = DD.minhash_band_index(corpus, num_hashes=32, bands=8)
    default = DD.minhash_delta_dedup_pairs(
        delta, corpus, index, threshold=0.5, num_hashes=32, bands=8
    ).collect()
    bidx = DD.minhash_band_index(
        delta, "text", "doc_id", 32, 8, 3, 1
    ).localCheckpoint(eager=True)
    seamed = DD.minhash_delta_dedup_pairs(
        delta, corpus, index, threshold=0.5, num_hashes=32, bands=8,
        delta_bands=bidx,
    ).collect()
    key = lambda rows: {(r.id_a, r.id_b): r.jaccard for r in rows}
    assert key(seamed) == key(default) and len(default) > 0


def _err_row(df):
    r = df.collect()[0]
    return r.n_vectors, r.mse


def test_pq_encode_with_error_nonresidual(spark):
    emb = _emb(spark)
    centroids = SIM.ivf_centroids(emb, 4)
    books = SIM.pq_codebooks(emb, m=4, ksub=4, iters=2, seed=11)
    fused = SIM._pq_encode_with_error(emb, books, centroids=centroids)
    rows = fused.filter(F.col("__n").isNull()).select("vec_id", "codes", "cell")
    err = fused.filter(F.col("__n").isNotNull()).agg(
        F.sum("__n").cast("long").alias("n_vectors"),
        (F.sum("__sq") / F.sum("__n")).alias("mse"),
    )
    ref_rows = SIM._pq_encode_with_cells(emb, books, centroids).collect()
    ref = {r.vec_id: (list(r.codes), r.cell) for r in ref_rows}
    got = {r.vec_id: (list(r.codes), r.cell) for r in rows.collect()}
    assert got == ref and len(ref) == 40
    n_ref, mse_ref = _err_row(SIM.pq_quantization_error(emb, books))
    n_got, mse_got = _err_row(err)
    assert n_got == n_ref == 40
    assert mse_got == pytest.approx(mse_ref, rel=1e-12)


def test_materialize_once_modes(spark):
    """The shared materialization seam returns the same rows with the
    lineage cut: the materialized plan scans the checkpointed RDD, not
    the source."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators._util import (
        materialize_once,
    )

    df = spark.range(100).withColumn("v", F.col("id") * 2)
    ref = sorted((r.id, r.v) for r in df.collect())
    out = materialize_once(df)
    assert sorted((r.id, r.v) for r in out.collect()) == ref
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in plan and "Range" not in plan


def test_xxh64_long_np_matches_spark(spark):
    """The vectorized hashLong twin must equal Spark's xxhash64 on
    random longs, both as a single-arg hash (seed 42) and chained —
    the composition the shingle chain relies on."""
    import random

    import numpy as np

    from api_kakfa_spark_airflow_s3_athena_spark.operators.dedup import (
        _xxh64_long_np,
    )

    rng = random.Random(7)
    vals = [rng.randint(-(2**63), 2**63 - 1) for _ in range(512)] + [
        0, -1, 1, 2**63 - 1, -(2**63)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    ref1 = [r[0] for r in df.select(F.xxhash64("x")).collect()]
    ref2 = [r[0] for r in df.select(F.xxhash64("x", "x")).collect()]
    x = np.array(vals, dtype=np.int64).view(np.uint64)
    got1 = _xxh64_long_np(x, np.uint64(42)).view(np.int64)
    got2 = _xxh64_long_np(x, _xxh64_long_np(x, np.uint64(42))).view(np.int64)
    assert list(got1) == ref1
    assert list(got2) == ref2


def test_oph_signatures_arrow_matches_jvm_fold(spark):
    """The Arrow OPH signature pass must be bit-identical to the
    former interpreted JVM fold — including empty/short/duplicate
    token streams and NULL text."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.dedup import (
        _oph_signatures_arrow,
        _shingles_from_th,
        oph_minhash_dense,
        token_hashes,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta"),
        (2, ""),
        (3, "one"),
        (4, "one two"),
        (5, "one two three"),
        (6, None),
        (7, "a a a a a a a a"),
        (8, "  spaced   out  tokens  here  now  "),
    ] + [(100 + i, f"w{i % 5} w{(i + 1) % 7} w{(i + 2) % 3} common tail {i}")
         for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(3)
    for nh in (32, 64):
        with_th = df.select(
            "doc_id", token_hashes(F.col("text"), 1).alias("th")
        )
        jvm = {
            r.doc_id: r.sig
            for r in with_th.select(
                "doc_id",
                oph_minhash_dense(
                    _shingles_from_th(F.col("th"), 3), nh
                ).alias("sig"),
            ).collect()
        }
        arw = {
            r.doc_id: r.sig
            for r in _oph_signatures_arrow(with_th, "doc_id", nh, 3).collect()
        }
        assert arw == jvm


def test_sq8_phase1_matches_jvm_expression(spark):
    """The round-14 Arrow phase-1 keys must be bit-identical to the
    former JVM ``double(int_dot(q_codes, c_codes)) · c_scale`` on the
    same quantized operands — including zero vectors, exact ties and a
    NULL vector (NULL key, ranked last)."""
    import numpy as np

    vecs = [[math.sin(i * 0.7 + j) for j in range(6)] for i in range(25)]
    vecs[5] = [0.0] * 6                # zero vector: scale 0, codes 0
    vecs[7] = list(vecs[3])            # exact tie with vec 3
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    rows.append((99, None))            # NULL vector row
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(3)
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for normalize in (False, True):
        got = SIM.sq8_rerank_topk(
            q, emb, k=26, candidates=26, normalize=normalize
        ).collect()
        # JVM reference: quantize both sides with the original
        # expressions and rank on the original key
        qd = SIM.sq8_quantize(
            SIM._l2_normalized(q, "embedding") if normalize else q,
            "embedding",
        ).select("query_id", "embedding", "sq8_codes").collect()
        cd = SIM.sq8_quantize(
            SIM._l2_normalized(emb, "embedding") if normalize else emb,
            "embedding",
        ).select("vec_id", "embedding", "sq8_codes", "sq8_scale").collect()
        exp = {}
        for qr in qd:
            keys = []
            for cr in cd:
                if cr.vec_id == qr.query_id:
                    continue
                if cr.sq8_codes is None:
                    keys.append((float("-inf"), cr.vec_id))
                    continue
                dot = sum(
                    int(a) * int(b)
                    for a, b in zip(qr.sq8_codes, cr.sq8_codes)
                )
                keys.append((float(dot) * cr.sq8_scale, cr.vec_id))
            keys.sort(key=lambda t: (-t[0], t[1]))
            # exact-cosine rerank ordering over ALL candidates
            def cos(a, b):
                if a is None or b is None:
                    return None
                na = math.sqrt(sum(x * x for x in a))
                nb = math.sqrt(sum(x * x for x in b))
                if na * nb == 0:
                    return None
                return round(
                    sum(x * y for x, y in zip(a, b)) / (na * nb), 6
                )
            qvec = next(r.embedding for r in cd if r.vec_id == qr.query_id)
            scored = []
            for _, nid in keys:
                cvec = next(r.embedding for r in cd if r.vec_id == nid)
                scored.append((nid, cos(qvec, cvec)))
            exp[qr.query_id] = sorted(
                scored,
                key=lambda t: (
                    -(t[1] if t[1] is not None else float("-inf")),
                    t[0],
                ),
            )
        by_q = {}
        for r in got:
            by_q.setdefault(r.query_id, []).append(r)
        for qid, rs in by_q.items():
            rs.sort(key=lambda r: r.rank)
            assert [(r.neighbor_id, r.score) for r in rs] == exp[qid][: len(rs)]


def test_ivfpq_index_and_baseline_residual(spark):
    emb = _emb(spark)
    cen_f, books_f, enc_f, base_f = SIM.ivfpq_index_and_baseline(
        emb, n_centroids=4, m=4, ksub=4, iters=2, residual=True
    )
    cen_u, books_u, enc_u = SIM.ivfpq_residual_index(
        emb, n_centroids=4, m=4, ksub=4, iters=2
    )
    assert sorted(r.centroid_id for r in cen_f.collect()) == sorted(
        r.centroid_id for r in cen_u.collect()
    )
    import numpy as np

    assert np.array_equal(np.asarray(books_f), np.asarray(books_u))
    key = lambda rows: {r.vec_id: (list(r.codes), r.cell) for r in rows}
    assert key(enc_f.collect()) == key(enc_u.collect())
    n_u, mse_u = _err_row(
        SIM.residual_quantization_error(emb, cen_u, books_u)
    )
    n_f, mse_f = _err_row(base_f)
    assert n_f == n_u == 40
    assert mse_f == pytest.approx(mse_u, rel=1e-12)
