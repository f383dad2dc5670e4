"""Dedup and similarity operators on constructed corpora with planted
duplicates/near-duplicates, verified against exact computations."""

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from api_kakfa_spark_airflow_s3_athena_spark.operators import dedup as DD
from api_kakfa_spark_airflow_s3_athena_spark.operators.similarity import (
    brute_force_topk,
    brute_force_topk_arrow,
    ivf_topk,
    kmeans_refine,
    lsh_topk,
    semdedup_pairs,
)

BASE = (
    "spark shuffles data between stages when wide dependencies require "
    "repartitioning across the cluster nodes during query execution"
)


def _docs(spark):
    rows = [
        Row(doc_id=0, text=BASE),
        Row(doc_id=1, text=BASE),  # exact dup of 0
        Row(doc_id=2, text=BASE.replace("cluster", "compute")),  # near dup
        Row(doc_id=3, text="completely different content about cooking pasta al dente"),
        Row(doc_id=4, text="another unrelated document describing mountain hiking trails"),
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup(spark):
    out = DD.exact_dedup(_docs(spark)).collect()
    assert len(out) == 4  # 0 and 1 collapse
    collapsed = [r for r in out if r.n_copies == 2][0]
    assert collapsed.doc_id == 0  # keeps min id


def test_jaccard_exact(spark):
    df = spark.createDataFrame([Row(a=["x", "y", "z"], b=["y", "z", "w"])])
    got = df.select(DD.jaccard(F.col("a"), F.col("b")).alias("j")).collect()[0].j
    assert got == 0.5  # |{y,z}| / |{x,y,z,w}|


def test_minhash_finds_planted_near_dups(spark):
    pairs = DD.minhash_dedup_pairs(
        _docs(spark), threshold=0.5, num_hashes=32, bands=16, shingle_n=3
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in found  # exact dup always survives
    assert (0, 2) in found or (1, 2) in found  # near dup caught
    for r in pairs:
        assert not (r.id_a in (3, 4) or r.id_b in (3, 4))  # no false positives


def test_minhash_jaccard_estimate_close_to_exact(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in DD.minhash_dedup_pairs(
            _docs(spark), threshold=0.0, num_hashes=32, bands=16
        ).collect()
    }
    # the reported jaccard is EXACT (verification stage), so dup pair = 1.0
    assert pairs[(0, 1)] == 1.0


def test_simhash_identical_for_exact_dups(spark):
    sigs = {
        r.doc_id: r.sig
        for r in _docs(spark).select("doc_id", DD.simhash(F.col("text")).alias("sig")).collect()
    }
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[3]
    clusters = DD.simhash_dedup_pairs(_docs(spark)).collect()
    assert any(set(c.ids) >= {0, 1} for c in clusters)


def test_simhash_hamming_pairs_match_brute_force(spark):
    # Corpus with a spectrum of edit sizes: substituting words in BASE
    # flips a few signature bits; unrelated docs are far in Hamming
    # space. Banding must find EXACTLY the brute-force pair set —
    # pigeonhole recall is perfect, the bit_count filter is exact.
    words = BASE.split()
    rows = [Row(doc_id=0, text=BASE)]
    for i in range(1, 30):
        w = list(words)
        for j in range(i % 4):  # 0-3 word substitutions
            w[(i * 3 + j) % len(w)] = f"tok{i}_{j}"
        rows.append(Row(doc_id=i, text=" ".join(w)))
    docs = spark.createDataFrame(rows)

    k = 3
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in DD.simhash_hamming_pairs(docs, max_distance=k).collect()
    }
    sigs = docs.select("doc_id", DD.simhash(F.col("text")).alias("sig"))
    a, b = sigs.alias("a"), sigs.alias("b")
    want = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= k)
        .collect()
    }
    assert got == want
    assert want  # the corpus must actually contain close pairs


def _embeddings(spark, n=40, dim=16, seed=3):
    rng = np.random.RandomState(seed)
    vecs = rng.randn(n, dim).astype(np.float32)
    vecs[1] = vecs[0] + rng.randn(dim).astype(np.float32) * 0.01  # planted near-dup of 0
    return (
        spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(x) for x in vecs[i]]) for i in range(n)]
        ),
        vecs,
    )


def test_embedding_near_dup_lsh_finds_planted_pair(spark):
    df, _ = _embeddings(spark)
    pairs = DD.embedding_dedup_pairs(df, threshold=0.95, planes=6).collect()
    assert any((r.id_a, r.id_b) == (0, 1) for r in pairs)


def test_embedding_lsh_max_bucket_caps_degenerate_bucket(spark):
    # 1000 identical vectors: one bucket, 499 500 potential pairs.
    # With max_bucket the degenerate bucket is dropped entirely and
    # the job completes with bounded output.
    vec = [1.0, 0.0, 0.5, -0.25]
    df = spark.createDataFrame([Row(vec_id=i, embedding=vec) for i in range(1000)])
    capped = DD.embedding_dedup_pairs(df, threshold=0.9, planes=4, max_bucket=100)
    assert capped.count() == 0  # bucket of 1000 > cap of 100 -> dropped
    # sanity: with the cap disabled the same bucket explodes quadratically
    uncapped = DD.embedding_dedup_pairs(df.limit(50), threshold=0.9, planes=4, max_bucket=None)
    assert uncapped.count() == 50 * 49 // 2


def test_brute_force_topk_matches_numpy(spark):
    df, vecs = _embeddings(spark)
    q = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = brute_force_topk(q, df, k=5).collect()
    norms = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norms @ norms[0]
    sims[0] = -np.inf  # exclude self
    expected = list(np.argsort(-sims)[:5])
    assert [r.neighbor_id for r in sorted(got, key=lambda r: r.rank)] == expected
    assert got[0].score <= 1.0 and got[0].rank == 1


def test_arrow_topk_matches_jvm_fold(spark):
    """The numpy/BLAS scorer must return the same neighbors as the
    codegen fold: scores are ulp-close doubles, identical after the
    shared 6 dp rounding, and both paths cut ties by (score desc, id)."""
    df, _ = _embeddings(spark, n=60)
    queries = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    jvm = {
        (r.query_id, r.rank): (r.neighbor_id, r.score)
        for r in brute_force_topk(queries, df, k=7).collect()
    }
    arrow = {
        (r.query_id, r.rank): (r.neighbor_id, r.score)
        for r in brute_force_topk_arrow(queries, df, k=7).collect()
    }
    assert jvm == arrow


def test_kmeans_refine_inertia_monotone_and_deterministic(spark):
    df, vecs = _embeddings(spark, n=80, dim=8, seed=7)
    out1, hist1 = kmeans_refine(df, k=4, iters=4)
    rows1 = sorted((r.id, r.cluster) for r in out1.collect())
    # Lloyd's guarantee: inertia never increases between iterations
    assert all(b <= a + 1e-9 for a, b in zip(hist1, hist1[1:])), hist1
    assert hist1[-1] < hist1[0]  # and it actually improved
    # every point assigned exactly once, to a valid cluster
    assert len(rows1) == 80
    assert {c for _, c in rows1} <= set(range(4))
    # deterministic end to end (seeded init, first-min tie-breaks)
    out2, hist2 = kmeans_refine(df, k=4, iters=4)
    assert hist1 == hist2
    assert rows1 == sorted((r.id, r.cluster) for r in out2.collect())


def test_semdedup_finds_planted_pair_within_cluster(spark):
    df, _ = _embeddings(spark, n=60, dim=8, seed=5)  # 1 is near-dup of 0
    pairs = semdedup_pairs(df, k=4, iters=2, threshold=0.95).collect()
    assert any((r.id_a, r.id_b) == (0, 1) for r in pairs)
    for r in pairs:
        assert r.id_a < r.id_b and r.cos >= 0.95


def test_semdedup_arrow_matches_fold_path(spark):
    """The Gram-block arrow scorer must emit the SAME pair set as the
    JVM fold, with cosines within the shared-rounding tolerance (numpy
    half-even vs JVM half-up can differ one 6th-decimal step)."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.similarity import (
        semdedup_pairs_arrow,
    )

    df, _ = _embeddings(spark, n=60, dim=8, seed=5)
    fold = {(r.id_a, r.id_b): r.cos
            for r in semdedup_pairs(df, k=4, iters=2, threshold=0.9).collect()}
    arrow = {(r.id_a, r.id_b): r.cos
             for r in semdedup_pairs_arrow(df, k=4, iters=2, threshold=0.9).collect()}
    assert set(fold) == set(arrow)
    assert all(abs(fold[k] - arrow[k]) < 1.1e-6 for k in fold)
    assert (0, 1) in arrow


def test_semdedup_arrow_blocking_is_exact(spark):
    """Strip-wise Gram computation (block smaller than the cell) must
    not drop or duplicate pairs across strip boundaries."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.similarity import (
        semdedup_pairs_arrow,
    )

    df, _ = _embeddings(spark, n=60, dim=8, seed=5)
    whole = {(r.id_a, r.id_b)
             for r in semdedup_pairs_arrow(df, k=1, iters=1, threshold=0.2).collect()}
    stripped = {(r.id_a, r.id_b)
                for r in semdedup_pairs_arrow(df, k=1, iters=1, threshold=0.2,
                                              block=7).collect()}
    assert whole == stripped and len(whole) > 10


def test_brute_force_guard_rejects_huge_query_sets(spark):
    df, _ = _embeddings(spark)
    q = df.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="brute_force_topk"):
        brute_force_topk(q, df, k=3, max_queries=10)


def test_lsh_topk_recall_against_exact(spark):
    df, _ = _embeddings(spark)
    q = df.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(q, df, k=3).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(q, df, k=3, planes=2).collect()  # few planes -> high recall
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5  # approximate, but must overlap substantially
    # every reported neighbor shares the query's bucket and is real
    assert all(qid != nid for qid, nid in approx)


def test_lsh_multiprobe_lifts_recall(spark):
    df, _ = _embeddings(spark, n=80)
    q = df.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r.query_id, r.neighbor_id) for r in brute_force_topk(q, df, k=5).collect()}

    def recall(probes):
        approx = {
            (r.query_id, r.neighbor_id)
            for r in lsh_topk(q, df, k=5, planes=6, probes=probes).collect()
        }
        return len(exact & approx) / len(exact)

    r0, r6 = recall(0), recall(6)
    assert r6 >= r0  # probing neighbor buckets can only add candidates
    assert r6 >= 0.4  # and must reach usable recall (measured: 0.15 -> 0.425)


def test_ivf_topk_recall_and_probe_monotonicity(spark):
    df, _ = _embeddings(spark, n=120)
    q = df.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r.query_id, r.neighbor_id) for r in brute_force_topk(q, df, k=5).collect()}

    def recall(nprobe):
        approx = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(q, df, k=5, n_centroids=8, nprobe=nprobe).collect()
        }
        return len(exact & approx) / len(exact)

    r1, r4 = recall(1), recall(4)
    assert r4 >= r1  # probing more cells can only add candidates
    assert r4 >= 0.5  # half the cells probed -> substantial recall
    # planted near-dup of vector 0 must be found even at nprobe=1
    top = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_topk(q, df, k=5, n_centroids=8, nprobe=1).collect()
    }
    assert top.get((0, 1)) == 1


def test_delta_dedup_equals_full_dedup_restricted_to_delta(spark, tmp_path):
    """The incremental path's equivalence contract: pairs from
    minhash_delta_dedup_pairs(delta, corpus, index) == pairs from the
    full batch operator over corpus+delta, restricted to pairs with a
    delta member — same params, same bucket caps."""
    import itertools

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    rows = []
    for i, perm in enumerate(itertools.permutations(words, 6)):
        if i >= 30:
            break
        rows.append(Row(doc_id=i, text=" ".join(perm * 3)))
    # make some near-dups across the corpus/delta split (delta ids are
    # doc_id >= 20): 21 copies 1, 25 copies 5 with a one-word change
    rows[21] = Row(doc_id=21, text=rows[1].text)
    rows[25] = Row(doc_id=25, text=rows[5].text.replace("alpha", "omega", 1))
    rows[22] = Row(doc_id=22, text=rows[20].text)  # delta-delta dup
    docs = spark.createDataFrame(rows)
    corpus = docs.filter(F.col("doc_id") < 20)
    delta = docs.filter(F.col("doc_id") >= 20)

    idx_dir = str(tmp_path / "mh_index")
    DD.minhash_band_index(corpus, num_hashes=32, bands=8).write.parquet(idx_dir)
    index = spark.read.parquet(idx_dir)

    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in DD.minhash_delta_dedup_pairs(
            delta, corpus, index, threshold=0.5, num_hashes=32, bands=8
        ).collect()
    }
    full = {
        (r.id_a, r.id_b, r.jaccard)
        for r in DD.minhash_dedup_pairs(
            docs, threshold=0.5, num_hashes=32, bands=8
        ).collect()
        if r.id_a >= 20 or r.id_b >= 20
    }
    assert got == full
    assert (1, 21) in {(a, b) for a, b, _ in got}  # delta-corpus dup via index
    assert (20, 22) in {(a, b) for a, b, _ in got}  # delta-delta dup


def test_delta_dedup_reingested_id_verifies_against_delta_text(spark, tmp_path):
    """A doc_id present in BOTH corpus and delta (re-ingest/update of
    an existing document): the unioned verify text set is keyed with
    delta winning, so the output has no duplicate (id_a, id_b) rows
    and the jaccard is computed against the NEW text, not the stale
    corpus copy."""
    other = "totally different words about gardens and soil and rain"
    corpus = spark.createDataFrame(
        [Row(doc_id=1, text=BASE), Row(doc_id=5, text=other)]
    )
    # doc 5 re-ingested, now a copy of doc 1
    delta = spark.createDataFrame([Row(doc_id=5, text=BASE)])
    idx_dir = str(tmp_path / "mh_index3")
    DD.minhash_band_index(corpus, num_hashes=32, bands=8).write.parquet(idx_dir)
    index = spark.read.parquet(idx_dir)
    got = DD.minhash_delta_dedup_pairs(
        delta, corpus, index, threshold=0.5, num_hashes=32, bands=8
    ).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in got] == [(1, 5, 1.0)]


def test_delta_dedup_never_emits_corpus_only_pairs(spark, tmp_path):
    """Corpus-corpus duplicates must NOT reappear in an incremental
    run — they were handled when the corpus was deduped."""
    rows = [Row(doc_id=i, text=BASE) for i in range(4)]  # all identical
    rows.append(Row(doc_id=10, text="totally different words about gardens and soil"))
    docs = spark.createDataFrame(rows)
    corpus = docs.filter(F.col("doc_id") < 10)
    delta = docs.filter(F.col("doc_id") >= 10)
    idx_dir = str(tmp_path / "mh_index2")
    DD.minhash_band_index(corpus, num_hashes=32, bands=8).write.parquet(idx_dir)
    index = spark.read.parquet(idx_dir)
    got = DD.minhash_delta_dedup_pairs(
        delta, corpus, index, threshold=0.5, num_hashes=32, bands=8
    ).collect()
    assert got == []  # the 4 corpus dups never surface


def test_delta_dedup_hot_bucket_guard_drops_only_hot_pairs(spark):
    """The delta path's hot-bucket guard: an index bucket with more
    than ``max_bucket`` members that a delta doc shares is dropped
    before candidate generation, so pairs that meet only there vanish,
    while a pair that also meets in another band survives. Index and
    delta bands are given directly, so the bucket layout is exact; the
    texts still go through the Jaccard verify."""
    other = "totally different words about gardens and soil and rain"
    hot = 777
    # corpus 1-5 copy BASE, corpus 6 copies `other`; delta 100 copies
    # BASE, delta 200 copies `other`. All eight share band 0's bucket;
    # only 6 and 200 also share a band-1 bucket.
    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=BASE) for i in range(1, 6)] + [Row(doc_id=6, text=other)]
    )
    delta = spark.createDataFrame(
        [Row(doc_id=100, text=BASE), Row(doc_id=200, text=other)]
    )
    schema = "doc_id long, band int, bucket long"
    index = spark.createDataFrame(
        [(i, 0, hot) for i in range(1, 7)]
        + [(i, 1, 1000 + i) for i in range(1, 6)]
        + [(6, 1, 888)],
        schema,
    )
    delta_bands = spark.createDataFrame(
        [(100, 0, hot), (100, 1, 1100), (200, 0, hot), (200, 1, 888)], schema
    )

    def pairs(max_bucket):
        return {
            (r.id_a, r.id_b, r.jaccard)
            for r in DD.minhash_delta_dedup_pairs(
                delta, corpus, index, threshold=0.5, num_hashes=32, bands=8,
                max_bucket=max_bucket, delta_bands=delta_bands,
            ).collect()
        }

    # uncapped, the hot bucket yields the five BASE copies' pairs too
    assert pairs(4096) == {(i, 100, 1.0) for i in range(1, 6)} | {(6, 200, 1.0)}
    # 8 members > 4: the hot bucket is dropped, the band-1 pair stays
    assert pairs(4) == {(6, 200, 1.0)}


def test_ivf_indexed_equals_inline(spark, tmp_path):
    """ivf_topk_from_index over a parquet-persisted index must return
    exactly what the inline ivf_topk computes with the same params —
    the probed-cell pre-filter and the storage roundtrip may not
    change a single row."""
    import os

    rng = np.random.RandomState(3)
    rows = [
        Row(vec_id=i, embedding=[float(x) for x in rng.rand(16)]) for i in range(120)
    ]
    emb = spark.createDataFrame(rows)
    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    from api_kakfa_spark_airflow_s3_athena_spark.operators.similarity import (
        ivf_index,
        ivf_topk_from_index,
    )

    centroids, cells = ivf_index(emb, n_centroids=8)
    cdir, xdir = str(tmp_path / "cent"), str(tmp_path / "cells")
    centroids.write.parquet(cdir)
    cells.write.partitionBy("cell").parquet(xdir)
    got = {
        (r.query_id, r.neighbor_id, r.score, r.rank)
        for r in ivf_topk_from_index(
            queries,
            spark.read.parquet(cdir),
            spark.read.parquet(xdir),
            k=5,
            nprobe=3,
        ).collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.score, r.rank)
        for r in ivf_topk(queries, emb, k=5, n_centroids=8, nprobe=3).collect()
    }
    assert got == want and got


def test_pq_encode_deterministic_and_shaped(spark):
    from api_kakfa_spark_airflow_s3_athena_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    df, _ = _embeddings(spark, n=60, dim=8, seed=5)
    books = pq_codebooks(df, m=4, ksub=4, iters=2)
    assert books.shape == (4, 4, 2)
    codes1 = {r.vec_id: r.codes for r in pq_encode(df, books).collect()}
    codes2 = {r.vec_id: r.codes for r in pq_encode(df, books).collect()}
    assert codes1 == codes2
    assert all(len(c) == 4 and all(0 <= x < 4 for x in c) for c in codes1.values())
    # the planted near-identical pair (0, 1) should share codes
    assert codes1[0] == codes1[1]


def test_pq_codebooks_sampled_trainer_properties(spark):
    """Round-8: the bounded driver-sample trainer (default path) —
    deterministic across calls and partition layouts; ksub padding on
    a corpus smaller than ksub keeps the (m, ksub, dsub) shape without
    changing encodings; self adist is the global minimum (LUT of a
    row's own code is the per-subspace min)."""
    import numpy as np

    from api_kakfa_spark_airflow_s3_athena_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_topk,
    )

    df, _ = _embeddings(spark, n=60, dim=8, seed=7)
    b1 = pq_codebooks(df, m=4, ksub=4, iters=2)
    b2 = pq_codebooks(df.repartition(7), m=4, ksub=4, iters=2)
    assert np.array_equal(b1, b2)

    tiny, _ = _embeddings(spark, n=3, dim=8, seed=7)
    bt = pq_codebooks(tiny, m=4, ksub=8, iters=2)
    assert bt.shape == (4, 8, 2)  # padded to ksub

    # self-retrieval: scoring each vector as its own query must put
    # the vector itself at the per-query minimum adist
    q = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = pq_topk(q, pq_encode(df, b1), b1, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rows in by_q.items():
        best = min(r.adist for r in rows)
        self_rows = [r for r in rows if r.neighbor_id == qid]
        assert self_rows and self_rows[0].adist == best


def test_pq_codebooks_string_ids_and_empty_corpus(spark):
    """Round-8 review regressions: the sampled trainer must accept
    non-integer id columns (the distributed path always did), and an
    empty corpus must fail loudly at the training call site instead
    of crashing pq_encode deep in an Arrow worker."""
    import numpy as np
    import pytest as _pytest

    from api_kakfa_spark_airflow_s3_athena_spark.operators.similarity import (
        pq_codebooks,
    )

    df, _ = _embeddings(spark, n=30, dim=8, seed=11)
    sdf = df.select(
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias("vec_id"),
        "embedding",
    )
    b1 = pq_codebooks(sdf, m=4, ksub=4, iters=2)
    b2 = pq_codebooks(sdf.repartition(5), m=4, ksub=4, iters=2)
    assert b1.shape == (4, 4, 2) and np.array_equal(b1, b2)

    empty = df.filter(F.col("vec_id") < 0)
    with _pytest.raises(ValueError, match="empty corpus"):
        pq_codebooks(empty, m=4, ksub=4, iters=2)


def test_pq_string_ids_end_to_end(spark):
    """Second review pass: string ids must survive the WHOLE chain
    (train -> encode -> ADC top-k), not just the trainer — encode and
    topk previously hardcoded int64 and crashed one step later. Tie
    ordering for equal adist is lexicographic on the string id,
    matching the final window's neighbor_id asc."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_topk,
    )

    df, _ = _embeddings(spark, n=30, dim=8, seed=19)
    sdf = df.select(
        F.concat(F.lit("doc-"), F.format_string("%03d", "vec_id")).alias("vec_id"),
        "embedding",
    )
    books = pq_codebooks(sdf, m=4, ksub=4, iters=2)
    enc = pq_encode(sdf, books)
    assert enc.schema["vec_id"].dataType.simpleString() == "string"
    q = sdf.filter(F.col("vec_id") < "doc-003").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = pq_topk(q, enc, books, k=4)
    assert out.schema["query_id"].dataType.simpleString() == "string"
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {"doc-000", "doc-001", "doc-002"}
    for qid, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        # self is the global ADC minimum; zero-padded ids make the
        # lexicographic tie-break match the planted near-dup ordering
        assert rs[0].adist == min(r.adist for r in rs)
        assert any(r.neighbor_id == qid for r in rs)


def test_pq_adc_matches_explicit_lookup(spark):
    """pq_topk's ADC distance equals the hand-computed LUT sum for
    every returned (query, neighbor) pair."""
    import numpy as np

    from api_kakfa_spark_airflow_s3_athena_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_topk,
    )

    df, vecs = _embeddings(spark, n=40, dim=8, seed=3)
    books = pq_codebooks(df, m=4, ksub=4, iters=2)
    codes = {r.vec_id: np.array(r.codes) for r in pq_encode(df, books).collect()}
    q = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = pq_topk(q, pq_encode(df, books), books, k=4).collect()
    qvecs = {i: np.asarray(vecs[i], dtype=np.float64) for i in range(3)}
    for r in out:
        qv, c = qvecs[r.query_id], codes[r.neighbor_id]
        expect = sum(
            ((qv[j * 2 : (j + 1) * 2] - books[j][c[j]]) ** 2).sum() for j in range(4)
        )
        assert abs(r.adist - round(max(expect, 0.0), 6)) < 1e-9


def test_pq_self_is_global_adc_minimum(spark):
    """ADC(q, q) <= ADC(q, x) for all x — the contract property: the
    query's own codeword minimizes every subspace distance."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_topk,
    )

    df, _ = _embeddings(spark, n=50, dim=8, seed=7)
    books = pq_codebooks(df, m=4, ksub=4, iters=2)
    q = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = pq_topk(q, pq_encode(df, books), books, k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rnk)
        self_d = next(r.adist for r in rows if r.neighbor_id == qid)
        # rank-1 achieves the self distance — nothing scores closer; a
        # co-coded vector (the fixture plants 1 as a near-dup of 0) may
        # TIE and win on id order, so rank-1 identity is not asserted
        assert rows[0].adist == self_d
        assert any(r.neighbor_id == qid for r in rows[:2])


def test_simhash_hamming_blocks_variants_identical(spark):
    """The block-combination tables (Manku-style wide keys) must return
    EXACTLY the default banding's pair set — blocks only trades
    shuffle volume against key collisions, never results."""
    words = BASE.split()
    rows = [Row(doc_id=0, text=BASE)]
    for i in range(1, 30):
        w = list(words)
        for j in range(i % 4):
            w[(i * 3 + j) % len(w)] = f"tok{i}_{j}"
        rows.append(Row(doc_id=i, text=" ".join(w)))
    docs = spark.createDataFrame(rows)
    base = {
        (r.id_a, r.id_b, r.hamming)
        for r in DD.simhash_hamming_pairs(docs, max_distance=3).collect()
    }
    for nb in (6, 8):
        wide = {
            (r.id_a, r.id_b, r.hamming)
            for r in DD.simhash_hamming_pairs(docs, max_distance=3, blocks=nb).collect()
        }
        assert wide == base, f"blocks={nb} diverged"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="blocks"):
        DD.simhash_hamming_pairs(docs, max_distance=3, blocks=3)


def _mirror_banded_keys(sig: int, nblocks: int, d: int, fixed_offset: bool):
    """Pure-Python mirror of ``_banded_sigs``'s packed band key, over
    an unsigned 64-bit ``sig``. ``fixed_offset=False`` reproduces the
    round-6 variable-offset packing (band index shifted by THIS combo's
    payload width) for the regression demonstration."""
    from itertools import combinations

    width = 64 // nblocks

    def nb(c):
        return 64 - c * width if c == nblocks - 1 else width

    def bits(c):
        return (sig >> (c * width)) & ((1 << nb(c)) - 1)

    combos = list(combinations(range(nblocks), nblocks - d))
    band_offset = max(sum(nb(c) for c in combo) for combo in combos)
    out = []
    for t, combo in enumerate(combos):
        payload = 0
        for c in combo:
            payload = (payload << nb(c)) | bits(c)
        key = (
            (t << band_offset) | payload
            if fixed_offset
            else (t << sum(nb(c) for c in combo)) | payload
        )
        out.append(((t, tuple(bits(c) for c in combo)), key))
    return out


def test_banded_key_packing_injective(spark):
    """Round-7 ADVICE regression: the packed band key must be injective
    in (table index, chunk values) — a variable band-index offset is
    not when chunk widths differ within a layout (the last chunk
    absorbs 64 mod nblocks extra bits), so keys from different tables
    could collide, merging unrelated buckets (and a merged bucket can
    cross max_bucket and be dropped, losing true pairs).

    Three pins: (1) injectivity of the fixed-offset packing over
    random signatures at every measured layout; (2) a CONSTRUCTED
    old-scheme cross-table collision (blocks=7, d=3: short combo t=7
    packs 36 payload bits, long combo t=3 packs 37, and
    7<<36 == 3<<37 + 1<<36 — note blocks=6 was accidentally safe:
    overlap needs a fat-chunk combo at t<=1 but lexicographic order
    places the first at t=3) that the new packing separates; (3) the
    Spark-side keys equal the Python mirror bit-for-bit."""
    import random

    rng = random.Random(13)
    for nblocks, d in ((4, 3), (6, 3), (7, 3), (8, 3), (5, 3), (2, 1)):
        seen = {}
        for _ in range(300):
            sig = rng.getrandbits(64)
            for ident, key in _mirror_banded_keys(sig, nblocks, d, True):
                prev = seen.setdefault(key, ident)
                assert prev == ident, (
                    f"blocks={nblocks}: key {key} maps to both {prev} and {ident}"
                )

    # (2) constructed old-scheme collision at blocks=7, d=3: chunks of
    # sig_a's combo 7 = (0,1,4,5) pack payload ps; chunks of sig_b's
    # combo 3 = (0,1,2,6) pack pl = 1<<36 | ps => old keys equal.
    # width 9, chunk6 is 10 bits. Pick ps = 0: sig_a zero on chunks
    # 0,1,4,5; sig_b needs (0,1,2,6)-payload = 1<<36 => chunk0 of the
    # packing loop... payload = ((((b0)<<9|b1)<<9|b2)<<10|b6); 1<<36 =
    # bit 36 => b0 = 1<<(36-28) = 256? 36 - (9+9+10) = 8 => b0 bit 8.
    sig_a = 0  # all chunks zero
    sig_b = (1 << 8) << (0 * 9)  # chunk0 = 256, rest zero
    old_a = dict((k, i) for i, k in _mirror_banded_keys(sig_a, 7, 3, False))
    old_b = dict((k, i) for i, k in _mirror_banded_keys(sig_b, 7, 3, False))
    collided = [
        (old_a[k], old_b[k])
        for k in set(old_a) & set(old_b)
        if old_a[k] != old_b[k]
    ]
    assert collided, "constructed scenario should collide under the old packing"
    new_a = dict((k, i) for i, k in _mirror_banded_keys(sig_a, 7, 3, True))
    new_b = dict((k, i) for i, k in _mirror_banded_keys(sig_b, 7, 3, True))
    for k in set(new_a) & set(new_b):
        assert new_a[k] == new_b[k], "fixed-offset packing must not merge tables"

    # (3) Spark parity with the mirror (keys are < 2^47 for these
    # layouts, so signed long == unsigned value)
    sigs = [rng.getrandbits(63) for _ in range(8)]  # positive longs
    df = spark.createDataFrame([Row(doc_id=i, sig=s) for i, s in enumerate(sigs)])
    for nblocks in (4, 6, 7, 8):
        got = {
            (r.id, r.key)
            for r in DD._banded_sigs(df, "doc_id", "sig", 3, nblocks).collect()
        }
        want = {
            (i, key)
            for i, s in enumerate(sigs)
            for _, key in _mirror_banded_keys(s, nblocks, 3, True)
        }
        assert got == want, f"blocks={nblocks} Spark keys diverge from mirror"


def test_banded_struct_fallback_layout(spark):
    """A layout whose band + payload bits exceed 63 (d=1, blocks=16:
    60 payload + 4 band bits) falls back to the exact struct key and
    still returns the default layout's exact pair set."""
    words = BASE.split()
    rows = [Row(doc_id=0, text=BASE)]
    for i in range(1, 20):
        w = list(words)
        w[(i * 3) % len(w)] = f"tok{i}"
        rows.append(Row(doc_id=i, text=" ".join(w)))
    docs = spark.createDataFrame(rows)
    base = {
        (r.id_a, r.id_b, r.hamming)
        for r in DD.simhash_hamming_pairs(docs, max_distance=1).collect()
    }
    wide = {
        (r.id_a, r.id_b, r.hamming)
        for r in DD.simhash_hamming_pairs(docs, max_distance=1, blocks=16).collect()
    }
    assert wide == base


def test_simhash_arrow_pairs_match_brute_force_on_own_signatures(spark):
    """The arrow pipeline's pair set must equal the brute-force
    all-pairs compare over ITS OWN signatures (the hash family differs
    from the JVM fold, so equality is checked within-family)."""
    words = BASE.split()
    rows = [Row(doc_id=0, text=BASE)]
    for i in range(1, 30):
        w = list(words)
        for j in range(i % 4):
            w[(i * 3 + j) % len(w)] = f"tok{i}_{j}"
        rows.append(Row(doc_id=i, text=" ".join(w)))
    docs = spark.createDataFrame(rows)
    k = 3
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in DD.simhash_hamming_pairs_arrow(docs, max_distance=k).collect()
    }
    sigs = DD.simhash_signatures_arrow(docs)
    a, b = sigs.alias("a"), sigs.alias("b")
    want = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= k)
        .collect()
    }
    assert got == want


def test_simhash_arrow_signatures_deterministic_across_partitionings(spark):
    """SipHash-keyed signatures must not depend on batch/partition
    boundaries — same doc, same signature, any layout."""
    rows = [Row(doc_id=i, text=f"alpha beta gamma delta tok{i} epsilon") for i in range(40)]
    one = {r.doc_id: r.sig for r in DD.simhash_signatures_arrow(
        spark.createDataFrame(rows).coalesce(1)).collect()}
    many = {r.doc_id: r.sig for r in DD.simhash_signatures_arrow(
        spark.createDataFrame(rows).repartition(13)).collect()}
    assert one == many
    # empty + null text -> signature 0, rows preserved
    edge = spark.createDataFrame([Row(doc_id=100, text=""), Row(doc_id=101, text=None)])
    sigs = {r.doc_id: r.sig for r in DD.simhash_signatures_arrow(edge).collect()}
    assert sigs == {100: 0, 101: 0}


def test_simhash_delta_equivalence_with_full_banding(spark):
    """Delta pairs through the persisted signature index == full
    banding over corpus+delta restricted to delta-touching pairs."""
    words = BASE.split()
    rows = []
    for i in range(40):
        w = list(words)
        for j in range(i % 4):
            w[(i * 3 + j) % len(w)] = f"tok{i}_{j}"
        rows.append(Row(doc_id=i, text=" ".join(w)))
    all_docs = spark.createDataFrame(rows)
    corpus = all_docs.filter(F.col("doc_id") % 5 != 0)
    delta = all_docs.filter(F.col("doc_id") % 5 == 0)

    index = DD.simhash_signatures_arrow(corpus)
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in DD.simhash_delta_hamming_pairs(delta, index, max_distance=3).collect()
    }
    full = DD.hamming_pairs_from_sigs(
        DD.simhash_signatures_arrow(all_docs), max_distance=3
    )
    delta_ids = {r.doc_id for r in delta.select("doc_id").collect()}
    want = {
        (r.id_a, r.id_b, r.hamming)
        for r in full.collect()
        if r.id_a in delta_ids or r.id_b in delta_ids
    }
    assert got == want and got  # non-vacuous


def test_simhash_delta_reingested_id_uses_fresh_signature(spark):
    """A doc_id present in both index and delta must use the DELTA's
    text: the stale index signature is replaced, no duplicate pairs."""
    corpus = spark.createDataFrame(
        [Row(doc_id=0, text="a b c d e f"), Row(doc_id=1, text="a b c d e f")]
    )
    index = DD.simhash_signatures_arrow(corpus)
    # doc 1 re-ingested with totally different text + a new exact dup of 0
    delta = spark.createDataFrame(
        [Row(doc_id=1, text="q r s t u v w x y z"), Row(doc_id=2, text="a b c d e f")]
    )
    pairs = DD.simhash_delta_hamming_pairs(delta, index, max_distance=0).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 2) in got          # new exact dup found through the index
    assert (0, 1) not in got      # stale signature for 1 must NOT match
    assert len(pairs) == len(got)  # no duplicate rows


def test_minhash_arrow_finds_planted_near_dups(spark):
    """Same planted corpus as the JVM path: exact dup always survives
    (identical text => identical Arrow signatures => same band
    buckets), near dup caught, unrelated docs never paired."""
    pairs = DD.minhash_dedup_pairs_arrow(
        _docs(spark), threshold=0.5, num_hashes=32, bands=16, shingle_n=3
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in found
    assert (0, 2) in found or (1, 2) in found
    for r in pairs:
        assert not (r.id_a in (3, 4) or r.id_b in (3, 4))
    # the reported jaccard is EXACT (same verify stage as the JVM path)
    j = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert j[(0, 1)] == 1.0


def test_minhash_arrow_signatures_deterministic_across_partitionings(spark):
    """SipHash-keyed signatures must not depend on batch/partition
    boundaries — same doc, same signature, any layout."""
    rows = [
        Row(doc_id=i, text=f"alpha beta gamma delta tok{i} epsilon zeta eta")
        for i in range(40)
    ]
    one = {r.doc_id: tuple(r.sig) for r in DD.minhash_signatures_arrow(
        spark.createDataFrame(rows).coalesce(1)).collect()}
    many = {r.doc_id: tuple(r.sig) for r in DD.minhash_signatures_arrow(
        spark.createDataFrame(rows).repartition(13)).collect()}
    assert one == many
    assert all(len(s) == 64 and all(v is not None for v in s) for s in one.values())


def test_minhash_arrow_densification_matches_reference(spark):
    """The vectorized rotation densification must equal a transparent
    per-doc Python reimplementation (empty bin takes the value of the
    next occupied bin, wrapping past the end to the first) over the
    SAME shingle hashes."""
    import pandas as pd

    num_bins = 16
    texts = {
        0: "a b c d e f g h i j",
        1: "one two three four five",
        2: "x y z",          # exactly one 3-shingle -> 1 occupied bin
        3: "p q",            # too short: no shingles -> all-null sig
        4: "",
    }
    df = spark.createDataFrame([Row(doc_id=k, text=v) for k, v in texts.items()])
    got = {
        r.doc_id: r.sig
        for r in DD.minhash_signatures_arrow(
            df, num_bins=num_bins, shingle_n=3, seed=1
        ).collect()
    }

    hash_key = f"{1:016d}"[-16:]
    for doc_id, text in texts.items():
        toks = text.split()
        shingles = [
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        ]
        if not shingles:
            assert got[doc_id] == [None] * num_bins
            continue
        h = pd.util.hash_array(np.array(shingles, dtype=object), hash_key=hash_key)
        bins = {}
        for v in h:
            # int() BEFORE the modulo: numpy uint64 % python int
            # promotes to float64 and loses the low bits
            b = int(v) % num_bins
            bins[b] = min(bins.get(b, 1 << 64), int(v))
        # rotation: empty bin i takes the next occupied bin ABOVE it,
        # wrapping past the end to the LOWEST occupied bin
        expected = []
        occupied = sorted(bins)
        for b in range(num_bins):
            if b in bins:
                expected.append(bins[b])
            else:
                above = [o for o in occupied if o > b]
                src = above[0] if above else occupied[0]
                expected.append(bins[src])
        signed = [v - (1 << 64) if v >= (1 << 63) else v for v in expected]
        assert got[doc_id] == signed, f"doc {doc_id}"


def test_minhash_arrow_empty_docs_band_together_harmlessly(spark):
    """Docs with no shingles get all-null signatures; the banding
    sentinel groups them into one bucket whose pairs then verify at
    Jaccard 0 and are filtered by any positive threshold."""
    df = spark.createDataFrame(
        [Row(doc_id=0, text=""), Row(doc_id=1, text=None), Row(doc_id=2, text="x y")]
    )
    pairs = DD.minhash_dedup_pairs_arrow(df, threshold=0.1, num_hashes=32, bands=8).collect()
    assert pairs == []


def test_prefix_jaccard_join_equals_brute_force(spark):
    """The prefix-filtered join is EXACT: its pair set must equal the
    all-pairs token-set Jaccard compare, including borderline sizes
    where the length filter is tight."""
    rows = [
        Row(doc_id=0, text="a b c d e f g h i j"),
        Row(doc_id=1, text="a b c d e f g h i j"),        # exact dup
        Row(doc_id=2, text="a b c d e f g h i k"),        # 9/11
        Row(doc_id=3, text="a b c d e f g h i j k"),      # 10/11 superset
        Row(doc_id=4, text="z y x w v u t s r q"),
        Row(doc_id=5, text="z y x w v u t s r q p o"),    # 10/12
        Row(doc_id=6, text="m"),
        Row(doc_id=7, text=""),
    ]
    docs = spark.createDataFrame(rows)
    # bitset_max_vocab=0 forces the array_intersect verify; the default
    # engages the bitset verify on this tiny vocabulary — both must
    # match the brute force EXACTLY (same pairs, same 6dp jaccard)
    for t in (0.5, 0.8, 0.9, 1.0):
        for cap in (0, 4096):
            got = {
                (r.id_a, r.id_b): r.jaccard
                for r in DD.prefix_jaccard_join(
                    docs, threshold=t, bitset_max_vocab=cap
                ).collect()
            }
            sets = {r.doc_id: set(r.text.split()) - {""} for r in rows}
            want = {}
            for a in sets:
                for b in sets:
                    if a < b and sets[a] and sets[b]:
                        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                        if round(j, 6) >= t:
                            want[(a, b)] = round(j, 6)
            assert got == want, (t, cap)


def test_prefix_jaccard_bitset_verify_equals_array_verify(spark):
    """The bitset verify (popcount over ⌈V/64⌉-long masks) must be
    bit-identical to the array_intersect verify on a corpus large
    enough for borderline ratios: same exact integer |∩| and |∪| feed
    the same single IEEE division, so even the 6dp-rounded jaccards
    compare EQUAL, not approximately. Vocabulary of 70 tokens forces
    a 2-word mask (exercises the multi-word AND+popcount fold and the
    signed-int64 two's-complement packing of bit 63)."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(70)]
    rows = []
    for i in range(300):
        base = rng.sample(vocab, rng.randint(5, 40))
        rows.append(Row(doc_id=i, text=" ".join(base)))
        if i % 3 == 0:  # planted near-dups: drop one token
            rows.append(
                Row(doc_id=1000 + i, text=" ".join(base[:-1] or base))
            )
    docs = spark.createDataFrame(rows)
    bits = {
        (r.id_a, r.id_b): r.jaccard
        for r in DD.prefix_jaccard_join(docs, threshold=0.8).collect()
    }
    arr = {
        (r.id_a, r.id_b): r.jaccard
        for r in DD.prefix_jaccard_join(
            docs, threshold=0.8, bitset_max_vocab=0
        ).collect()
    }
    assert bits == arr
    assert len(bits) >= 100  # the plants guarantee a non-trivial pair set

def test_simhash_auto_blocks_threshold():
    """blocks=None sizes the banding layout from the corpus: minimal
    d+1 tables below the measured 5M-doc crossover, the Manku 6-block
    layout at/above it; unmeasured distances keep the minimal layout."""
    t = DD.SIMHASH_BLOCKS_AUTO_THRESHOLD
    assert DD._auto_blocks(t - 1, 3) == 4
    assert DD._auto_blocks(t, 3) == 6
    assert DD._auto_blocks(10 * t, 3) == 6
    # only the d=3 crossover is measured
    assert DD._auto_blocks(10 * t, 2) == 3
    assert DD._auto_blocks(10 * t, 4) == 5

def test_auto_blocks_for_memoizes_count(spark):
    """The sizing count() is paid once per (application, semantic
    plan): the second call must answer from the cache — proven by
    poisoning the cached count above the crossover and observing the
    layout flip, which also demonstrates that a stale count changes
    only the (output-invariant) layout choice."""
    df = spark.createDataFrame([Row(doc_id=i, text="a b c") for i in range(5)])
    DD._NDOC_CACHE.clear()
    assert DD._auto_blocks_for(df, 3) == 4
    assert len(DD._NDOC_CACHE) == 1
    key = next(iter(DD._NDOC_CACHE))
    assert DD._NDOC_CACHE[key] == 5
    DD._NDOC_CACHE[key] = DD.SIMHASH_BLOCKS_AUTO_THRESHOLD
    assert DD._auto_blocks_for(df, 3) == 6  # served from cache, not recounted
    DD._NDOC_CACHE.clear()


def test_prefix_jaccard_positional_filter_survives_bucket_drops(spark):
    """Round-6 review regression: the PPJoin positional bound is only
    valid for a pair's FIRST common token; if that token's bucket is
    dropped by max_bucket, the pair must still be found via later
    shared tokens, where the bound does not hold. Construction:
    X == Y (J = 1.0, 20 tokens, t = 0.9 -> prefix = 3 rarest). Their
    two rarest shared tokens r1, r2 sit in hot buckets (7 prefix
    carriers > max_bucket = 4 -> dropped); the only surviving shared
    bucket is r3 at position 2 in both prefixes, where the first-
    common-token bound min(20-2, 20-2) = 18 < 18.95 required — an
    unconditional positional filter silently loses the identical
    pair. The operator must detect the drop and disable positional
    pruning (exactness over speed)."""
    fill = [f"c{j}" for j in range(18)]
    docs = []
    xy = ["r1", "r2", "r3"] + fill[:17]
    docs.append((0, " ".join(xy)))
    docs.append((1, " ".join(xy)))
    for i in range(5):  # hot carriers of r1+r2 (prefix = {r1, r2, filler})
        docs.append((10 + i, " ".join(["r1", "r2"] + fill)))
    for i in range(6):  # r3 carriers whose prefixes are their unique tokens
        uniq = [f"u{i}_0", f"u{i}_1", f"u{i}_2"]
        docs.append((20 + i, " ".join(uniq + ["r3"] + fill[:16])))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        (r.id_a, r.id_b): r.jaccard
        for r in DD.prefix_jaccard_join(
            df, threshold=0.9, max_bucket=4
        ).collect()
    }
    assert (0, 1) in out, "identical pair lost to positional pruning"
    assert out[(0, 1)] == 1.0


def test_ivf_append_equals_rebuild(spark):
    """ivf_index_append under FROZEN centroids must be row-identical
    to a full re-assignment of corpus+delta, and queries through the
    appended index must return exactly the rebuild's results — the
    append-equals-rebuild property that makes incremental ANN index
    maintenance trustworthy."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.similarity import (
        _ivf_assign,
        ivf_index,
        ivf_index_append,
        ivf_topk_from_index,
    )

    df, _ = _embeddings(spark, n=60, dim=8, seed=9)
    corpus = df.filter(F.col("vec_id") < 40)
    delta = df.filter(F.col("vec_id") >= 40)
    centroids, idx = ivf_index(corpus, n_centroids=4)
    appended = idx.unionByName(ivf_index_append(delta, centroids))
    rebuilt = _ivf_assign(
        df.select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
        ),
        centroids,
        "neighbor_id",
        "c_vec",
        keep=1,
    )
    got = {(r.neighbor_id, r.cell) for r in appended.collect()}
    want = {(r.neighbor_id, r.cell) for r in rebuilt.collect()}
    assert got == want and len(got) == 60

    q = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    t_app = sorted(
        map(tuple, ivf_topk_from_index(q, centroids, appended, k=3, nprobe=2).collect())
    )
    t_reb = sorted(
        map(tuple, ivf_topk_from_index(q, centroids, rebuilt, k=3, nprobe=2).collect())
    )
    assert t_app == t_reb


def test_multi_key_dedup_signals_and_null_empty_keys(spark):
    """multi_key_dedup: each signal groups what only it can see, and
    NULL/empty metadata keys must NEVER group (round-7 self-review:
    the first cut prefixed keys with "url:" BEFORE the != "" filter,
    so every empty-url doc shared the non-empty key "url:" and merged
    into one cluster)."""
    rows = [
        # exact-dup pair (same text, distinct urls)
        Row(doc_id=0, text=BASE, url="http://a/0"),
        Row(doc_id=1, text=BASE, url="http://a/1"),
        # url-dup pair (distinct text, same url)
        Row(doc_id=2, text="completely different content about cooking pasta",
            url="http://same/page"),
        Row(doc_id=3, text="another unrelated document on mountain hiking",
            url="http://same/page"),
        # unrelated docs with EMPTY url -> must stay singletons
        Row(doc_id=4, text="the quick brown fox jumps over the lazy dog today",
            url=""),
        Row(doc_id=5, text="metric spaces admit a completion via cauchy sequences",
            url=""),
        # unrelated docs with NULL url -> must stay singletons
        Row(doc_id=6, text="parquet row groups store column chunks with statistics",
            url=None),
        Row(doc_id=7, text="watermarks bound state retention in streaming windows",
            url=None),
    ]
    out = DD.multi_key_dedup(
        spark.createDataFrame(rows),
        key_cols=("url",),
        threshold=0.9,
        num_hashes=32,
        bands=8,
    )
    cl = {r.doc_id: r.cluster for r in out.collect()}
    assert cl[0] == cl[1]  # digest signal
    assert cl[2] == cl[3]  # url signal
    # empty/NULL keys never group
    singles = [cl[4], cl[5], cl[6], cl[7]]
    assert len(set(singles)) == 4
    assert cl[0] != cl[2] and cl[4] not in (cl[0], cl[2])
    # survivor = policy argmax (longest text, min-id tie-break)
    surv = {r.cluster: r.survivor_id for r in out.filter("is_survivor").collect()}
    assert surv[cl[0]] == 0  # equal length -> min id
    n_surv = out.filter("is_survivor").count()
    assert n_surv == out.select("cluster").distinct().count()

def test_multi_key_dedup_custom_policy_via_policy_cols(spark):
    """Round-7 review regression: a custom policy_order referencing an
    input column must actually resolve — the survivor frame carries
    the columns named in policy_cols. Freshest-fetch-wins policy: the
    SHORTER but newer copy must survive, inverting the default."""
    rows = [
        Row(doc_id=0, text=BASE + " extra words making this the longest copy",
            url="http://same/page", fetch_ts=100),
        Row(doc_id=1, text=BASE, url="http://same/page", fetch_ts=200),
    ]
    out = DD.multi_key_dedup(
        spark.createDataFrame(rows),
        key_cols=("url",),
        threshold=0.9,
        num_hashes=32,
        bands=8,
        policy_order=[F.col("fetch_ts").desc(), F.col("id").asc()],
        policy_cols=("fetch_ts",),
    )
    surv = {r.doc_id: r.is_survivor for r in out.collect()}
    assert surv == {0: False, 1: True}

def test_pairs_from_bands_guard_identical_output(spark):
    """guard_hot_buckets=True (checkpoint + census pre-drop) must be
    pair-for-pair identical to the default collect-then-filter,
    including a bucket exactly AT the cap (kept) and one over it
    (dropped)."""
    rows = []
    for i in range(4):          # bucket exactly at cap 4 -> kept
        rows.append(Row(doc_id=i, band=0, bucket=7))
    for i in range(5):          # over-cap bucket -> dropped either way
        rows.append(Row(doc_id=100 + i, band=1, bucket=9))
    rows += [Row(doc_id=200, band=2, bucket=1), Row(doc_id=201, band=2, bucket=1)]
    banded = spark.createDataFrame(rows)
    plain = {(r.id_a, r.id_b) for r in DD._pairs_from_bands(banded, "doc_id", 4).collect()}
    guarded = {
        (r.id_a, r.id_b)
        for r in DD._pairs_from_bands(
            banded, "doc_id", 4, guard_hot_buckets=True
        ).collect()
    }
    assert plain == guarded
    assert (200, 201) in plain
    assert all(not (100 <= a <= 104) for a, _ in plain)  # hot bucket gone
    assert len([p for p in plain if p[0] < 100]) == 6    # C(4,2) at-cap pairs


def test_minhash_candidates_guard_auto_by_corpus_size(spark, monkeypatch):
    """Round-8 VERDICT #4: the default guard_hot_buckets=None derives
    the census guard from corpus size like _auto_blocks does for the
    banding layout — below the threshold the unguarded path runs,
    at/above it the guard turns on, and both produce identical
    pairs."""
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta gamma delta {i} epsilon zeta") for i in range(20)]
        + [Row(doc_id=100, text="same same same text here okay"),
           Row(doc_id=101, text="same same same text here okay")]
    )
    base = {(r.id_a, r.id_b) for r in DD.minhash_candidates(docs, guard_hot_buckets=False).collect()}

    monkeypatch.setattr(DD, "GUARD_HOT_BUCKETS_AUTO_THRESHOLD", 5)
    auto_on = {(r.id_a, r.id_b) for r in DD.minhash_candidates(docs).collect()}
    assert auto_on == base

    monkeypatch.setattr(DD, "GUARD_HOT_BUCKETS_AUTO_THRESHOLD", 10**9)
    auto_off = {(r.id_a, r.id_b) for r in DD.minhash_candidates(docs).collect()}
    assert auto_off == base
    assert (100, 101) in base


def test_ndocs_for_memoizes(spark):
    docs = spark.createDataFrame([Row(doc_id=i, text="x") for i in range(7)])
    DD._NDOC_CACHE.clear()
    n1 = DD._ndocs_for(docs)
    key = (spark.sparkContext.applicationId, docs.semanticHash())
    assert n1 == 7 and DD._NDOC_CACHE[key] == 7
    # poison the cache: a second call must serve the memo, not recount
    DD._NDOC_CACHE[key] = 42
    assert DD._ndocs_for(docs) == 42
    DD._NDOC_CACHE.clear()


def test_pq_books_roundtrip_and_index_append_equals_rebuild(spark, tmp_path):
    """Round-9 (VERDICT r08 #4): codebooks must round-trip storage
    bit-exactly, and appending a delta encoded against the FROZEN
    reloaded books must equal a full re-encode of corpus+delta —
    the append-equals-rebuild property that makes incremental PQ
    maintenance trustworthy."""
    import numpy as np

    from api_kakfa_spark_airflow_s3_athena_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_index_append,
        pq_load_books,
        pq_quantization_error,
        pq_save_books,
    )

    df, _ = _embeddings(spark, n=60, dim=8, seed=7)
    corpus = df.filter("vec_id % 3 != 0")
    delta = df.filter("vec_id % 3 = 0")
    books = pq_codebooks(corpus, m=4, ksub=4, iters=2)

    path = str(tmp_path / "books")
    pq_save_books(spark, books, path)
    reloaded = pq_load_books(spark, path)
    assert reloaded.shape == books.shape
    assert np.array_equal(reloaded, books)  # bit-exact, not approx

    codes_dir = str(tmp_path / "codes")
    pq_encode(corpus, reloaded).write.mode("overwrite").parquet(codes_dir)
    pq_index_append(delta, reloaded).write.mode("append").parquet(codes_dir)
    appended = {
        r.vec_id: r.codes for r in spark.read.parquet(codes_dir).collect()
    }
    rebuilt = {
        r.vec_id: r.codes for r in pq_encode(df, books).collect()
    }
    assert appended == rebuilt and len(appended) == 60


def test_pq_quantization_error_baseline_and_drift(spark):
    """The drift observable: error is ~0 when vectors ARE codewords
    (ksub >= n distinct vectors), positive otherwise, and a shifted
    distribution scores strictly worse than the build corpus — the
    signal pq_index_append's re-train trigger reads."""
    from pyspark.sql import functions as F

    from api_kakfa_spark_airflow_s3_athena_spark.operators.similarity import (
        pq_codebooks,
        pq_quantization_error,
    )

    df, _ = _embeddings(spark, n=60, dim=8, seed=9)
    books = pq_codebooks(df, m=4, ksub=4, iters=2)
    base = pq_quantization_error(df, books).collect()[0]
    assert base.n_vectors == 60 and base.mse > 0

    # shift every vector far outside the trained domain: error must
    # grow well past the 1.5x re-train band
    shifted = df.select(
        "vec_id",
        F.transform("embedding", lambda x: x + F.lit(100.0)).alias("embedding"),
    )
    drift = pq_quantization_error(shifted, books).collect()[0]
    assert drift.mse > 1.5 * base.mse


def test_ivfpq_full_probe_equals_pq_and_pruning_subsets(spark):
    """Round-9 IVF-PQ composition: with nprobe >= n_centroids the
    probe mask passes every cell, so ivfpq_topk must be ROW-IDENTICAL
    to plain pq_topk over the same books/codes; with nprobe=1 each
    query's results are a subset of the full-probe candidate set and
    every neighbor really lives in the query's single probed cell."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_topk,
        pq_encode,
        pq_topk,
    )

    df, _ = _embeddings(spark, n=80, dim=8, seed=13)
    centroids, books, enc_cells = ivfpq_index(
        df, n_centroids=8, m=4, ksub=4, iters=2
    )
    enc_cells = enc_cells.cache()
    q = df.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    full = {
        (r.query_id, r.neighbor_id, r.adist, r.rnk)
        for r in ivfpq_topk(q, centroids, books, enc_cells, k=5, nprobe=8).collect()
    }
    plain = {
        (r.query_id, r.neighbor_id, r.adist, r.rnk)
        for r in pq_topk(q, pq_encode(df, books), books, k=5).collect()
    }
    assert full == plain and full

    pruned = ivfpq_topk(q, centroids, books, enc_cells, k=5, nprobe=1).collect()
    full_pairs = {(a, b) for a, b, _, _ in full}
    cell_of = {r.vec_id: r.cell for r in enc_cells.collect()}
    # query cell = its own row's cell (queries are corpus rows here)
    for r in pruned:
        assert cell_of[r.neighbor_id] == cell_of[r.query_id]
    # self is always in its own probed cell AT the per-query minimum
    # adist (rank 1 can go to a code-identical twin with a lower id —
    # vec 1 is the planted near-dup of vec 0, same tie rule as pq_topk)
    by_q = {}
    for r in pruned:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4, 5}
    for qid, rows in by_q.items():
        best = min(r.adist for r in rows)
        self_rows = [r for r in rows if r.neighbor_id == qid]
        assert self_rows and self_rows[0].adist == best
    # pruning never ADDS candidates: nprobe=1 pairs whose neighbor made
    # the full-probe top-5 must agree with the full-probe scores
    full_scores = {(a, b): (d, rk) for a, b, d, rk in full}
    for r in pruned:
        if (r.query_id, r.neighbor_id) in full_scores:
            assert full_scores[(r.query_id, r.neighbor_id)][0] == r.adist
    enc_cells.unpersist()


def test_ivfpq_planted_duplicate_ties_at_rank1(spark):
    """An exact-duplicate plant shares its original's cell AND codes,
    so even under aggressive pruning (nprobe=1) the original comes
    back at rank 1 with adist tied at the minimum (id tie-break)."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_topk,
    )

    df, _ = _embeddings(spark, n=60, dim=8, seed=17)
    plants = df.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    corpus = df.unionByName(plants)
    centroids, books, enc_cells = ivfpq_index(
        corpus, n_centroids=6, m=4, ksub=4, iters=2
    )
    hits = ivfpq_topk(
        plants.select(F.col("vec_id").alias("query_id"), "embedding"),
        centroids,
        books,
        enc_cells,
        k=3,
        nprobe=1,
    ).collect()
    rank1 = {r.query_id: r.neighbor_id for r in hits if r.rnk == 1}
    assert rank1 == {q: q - 1000 for q in rank1}
    assert set(rank1) == {1000, 1010, 1020, 1030, 1040, 1050}


def test_contrastive_pairs_tiny_corpus_and_injected_candidates(spark):
    """Round-9 triplet mining: on a hand-built corpus the anchor picks
    its best >= 0.9 partner as positive and its best < 0.9 partner as
    hard negative; anchors missing either side are dropped; an
    injected candidate frame replaces the default prefix join."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.dedup import (
        contrastive_pairs,
    )

    docs = spark.createDataFrame(
        [
            # 0 and 1: identical 10-token sets (J = 1.0)
            Row(doc_id=0, text="a b c d e f g h i j"),
            Row(doc_id=1, text="a b c d e f g h i j"),
            # 2: shares 8 of 12 distinct-union tokens with 0 (J = 8/12)
            Row(doc_id=2, text="a b c d e f g h x y"),
            # 3: disjoint
            Row(doc_id=3, text="p q r s t u v w"),
        ]
    )
    out = {
        r.anchor_id: r
        for r in contrastive_pairs(
            docs, pos_threshold=0.9, cand_threshold=0.5
        ).collect()
    }
    # anchors 0 and 1 have positive (each other) and negative (2)
    assert set(out) == {0, 1}
    assert (out[0].positive_id, out[0].negative_id) == (1, 2)
    assert (out[1].positive_id, out[1].negative_id) == (0, 2)
    assert out[0].pos_jaccard == 1.0
    assert out[0].neg_jaccard == round(8 / 12, 6)
    # 2 has only a negative-band partner -> dropped; 3 has nothing

    injected = spark.createDataFrame(
        [
            Row(id_a=0, id_b=1, jaccard=0.95),
            Row(id_a=0, id_b=2, jaccard=0.6),
            Row(id_a=1, id_b=2, jaccard=0.55),
        ]
    )
    out2 = {
        r.anchor_id: r
        for r in contrastive_pairs(
            docs, pairs=injected, cand_threshold=0.5
        ).collect()
    }
    # the floor applies to injected frames too: at the default 0.7
    # floor the 0.55/0.6 candidates are NOT eligible negatives
    assert contrastive_pairs(docs, pairs=injected).count() == 0
    assert set(out2) == {0, 1}
    assert (out2[0].positive_id, out2[0].negative_id) == (1, 2)
    assert out2[1].neg_jaccard == 0.55


def test_ivfpq_index_append_equals_frozen_rebuild(spark):
    """Round-9 composed delta path: (corpus index from ivfpq_index) +
    (delta appended via ivfpq_index_append) must be row-identical to
    encoding+assigning corpus+delta in one pass under the SAME frozen
    artifacts — the append-equals-rebuild property for the
    composition."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_index_append,
    )

    df, _ = _embeddings(spark, n=50, dim=8, seed=19)
    corpus = df.filter(F.col("vec_id") < 40)
    delta = df.filter(F.col("vec_id") >= 40)
    centroids, books, enc_cells = ivfpq_index(
        corpus, n_centroids=6, m=4, ksub=4, iters=2
    )
    appended = enc_cells.unionByName(
        ivfpq_index_append(delta, centroids, books)
    )
    full = ivfpq_index_append(df, centroids, books)
    got = {
        (r.vec_id, tuple(r.codes), r.cell) for r in appended.collect()
    }
    want = {(r.vec_id, tuple(r.codes), r.cell) for r in full.collect()}
    assert got == want and len(got) == 50


def test_arrow_ann_twins_empty_queries_and_string_ids(spark):
    """Round-9 review contract fixes: the Arrow ANN twins must match
    their fold twins on (a) EMPTY query sets (typed empty result, not
    a driver IndexError/AxisError) and (b) non-integer id columns
    (the round-8 pq_encode rule, previously unapplied here)."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_arrow,
        ivfpq_index,
        ivfpq_topk,
        pq_codebooks,
        pq_encode,
        pq_topk,
    )

    df, _ = _embeddings(spark, n=30, dim=8, seed=23)
    empty_q = df.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk_arrow(empty_q, df, k=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "score", "rank",
    ]
    books = pq_codebooks(df, m=4, ksub=4, iters=2)
    out2 = pq_topk(empty_q, pq_encode(df, books), books, k=3)
    assert out2.count() == 0
    assert [f.name for f in out2.schema.fields] == [
        "query_id", "neighbor_id", "adist", "rnk",
    ]

    sdf = df.select(
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias("vec_id"),
        "embedding",
    )
    sq = sdf.filter(F.col("vec_id").isin("doc-0", "doc-1")).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in brute_force_topk_arrow(sq, sdf, k=3).collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in brute_force_topk(sq, sdf, k=3).collect()
    }
    assert got == want and got

    # ivfpq guard: undercount via nprobe > n_centroids must not let
    # extra queries slip under the row-limit pre-check
    centroids, books2, enc = ivfpq_index(df, n_centroids=1, m=4, ksub=4, iters=1)
    q3 = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="ivfpq_topk got"):
        ivfpq_topk(q3, centroids, books2, enc, k=2, nprobe=4, max_queries=2)


def test_semdedup_arrow_accepts_string_ids(spark):
    """semdedup_pairs_arrow previously hardcoded int64 ids while its
    fold twin passed any id type through (round-9 review): string ids
    must produce the same pair set as the fold path."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.similarity import (
        semdedup_pairs,
        semdedup_pairs_arrow,
    )

    df, _ = _embeddings(spark, n=40, dim=8, seed=29)
    sdf = df.select(
        F.concat(F.lit("d"), F.col("vec_id").cast("string")).alias("vec_id"),
        "embedding",
    )
    fold = {
        (r.id_a, r.id_b)
        for r in semdedup_pairs(sdf, k=4, threshold=0.4, iters=2).collect()
    }
    arrow = {
        (r.id_a, r.id_b)
        for r in semdedup_pairs_arrow(sdf, k=4, threshold=0.4, iters=2).collect()
    }
    assert arrow == fold and arrow
