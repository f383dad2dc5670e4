"""Empty-input robustness: at 100 TB scale plenty of partitions (and
after a selective filter, whole inputs) are empty — every operator must
return an empty, correctly-schemaed result instead of throwing.
mapInPandas/Arrow paths see zero-row batches routinely."""

import pytest
from pyspark.sql import types as T

from api_kakfa_spark_airflow_s3_athena_spark.operators import dedup as DD
from api_kakfa_spark_airflow_s3_athena_spark.operators.similarity import (
    brute_force_topk_arrow,
    kmeans_refine,
)


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame(
        [], T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        )
    )


@pytest.fixture(scope="module")
def empty_vecs(spark):
    return spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )


def test_dedup_family_on_empty_corpus(empty_docs):
    assert DD.exact_dedup(empty_docs).count() == 0
    assert DD.minhash_dedup_pairs(empty_docs, num_hashes=16, bands=4).count() == 0
    assert DD.simhash_dedup_pairs(empty_docs).count() == 0
    assert DD.simhash_hamming_pairs(empty_docs).count() == 0


def test_embedding_ops_on_empty_corpus(spark, empty_vecs):
    assert DD.embedding_dedup_pairs(empty_vecs).count() == 0
    one_q = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, embedding array<float>"
    )
    # empty corpus, non-empty queries: zero neighbors, not an error
    assert brute_force_topk_arrow(one_q, empty_vecs, k=3).count() == 0


def test_kmeans_with_fewer_rows_than_k(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    out, hist = kmeans_refine(df, k=8, iters=2)
    rows = out.collect()
    assert len(rows) == 3
    assert len(hist) == 2


def test_heavy_hitters_on_empty_corpus(empty_docs):
    from api_kakfa_spark_airflow_s3_athena_spark.operators.frequency import (
        heavy_hitters,
    )

    assert heavy_hitters(empty_docs, num_counters=8).count() == 0


def test_delta_dedup_with_empty_delta(spark, empty_docs):
    """An empty crawl batch is a legitimate snapshot: the incremental
    path must return zero pairs, not fail on empty banding."""
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    index = DD.minhash_band_index(docs, num_hashes=16, bands=4)
    out = DD.minhash_delta_dedup_pairs(
        empty_docs, docs, index, num_hashes=16, bands=4
    )
    assert out.count() == 0


def test_delta_dedup_with_empty_corpus_index(spark, empty_docs):
    """First-ever batch: empty index, delta dedups only against
    itself."""
    from pyspark.sql import Row

    delta = spark.createDataFrame(
        [
            Row(doc_id=1, text="one two three four five six seven eight nine ten"),
            Row(doc_id=2, text="one two three four five six seven eight nine ten"),
        ]
    )
    empty_index = DD.minhash_band_index(empty_docs, num_hashes=16, bands=4)
    got = DD.minhash_delta_dedup_pairs(
        delta, empty_docs, empty_index, threshold=0.5, num_hashes=16, bands=4
    ).collect()
    assert {(r.id_a, r.id_b) for r in got} == {(1, 2)}


def test_round5_ops_on_empty_corpus(spark, empty_docs, empty_vecs):
    from api_kakfa_spark_airflow_s3_athena_spark.operators.retrieval import (
        bm25_scores,
        keyword_topk,
    )
    from api_kakfa_spark_airflow_s3_athena_spark.operators.scoring import (
        linear_text_classifier,
        pseudo_weights,
    )
    from api_kakfa_spark_airflow_s3_athena_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        semdedup_pairs_arrow,
    )

    assert bm25_scores(empty_docs, ["x"]).count() == 0
    assert keyword_topk(empty_docs, ["x"], k=3).count() == 0
    w = pseudo_weights(spark, 16)
    assert linear_text_classifier(empty_docs, w, n_buckets=16).count() == 0
    assert semdedup_pairs_arrow(empty_vecs, k=2, iters=1).count() == 0

    # PQ: codebooks need data (training), but ENCODE/SCORE must accept
    # an empty corpus — a filtered-out ingest batch is routine
    import numpy as np

    books = np.zeros((2, 2, 1))
    assert pq_encode(empty_vecs, books).count() == 0
    one_q = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, embedding array<float>"
    )
    assert pq_topk(one_q, pq_encode(empty_vecs, books), books, k=3).count() == 0


def test_resize_on_empty_payloads(spark):
    from api_kakfa_spark_airflow_s3_athena_spark.operators.multimodal import (
        resize_media,
    )

    empty = spark.createDataFrame([], "doc_id long, payload binary")
    assert resize_media(empty).count() == 0


def test_round5b_ops_on_empty_inputs(spark, empty_docs, empty_vecs):
    """Session-2 operators: Arrow MinHash, PageRank, whitening
    transform — empty inputs yield empty correctly-schemaed output
    (whitening FIT on empty is a documented ValueError, pinned in
    test_whitening.py)."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.dedup import (
        minhash_dedup_pairs_arrow,
        minhash_signatures_arrow,
    )
    from api_kakfa_spark_airflow_s3_athena_spark.operators.graph import pagerank
    from api_kakfa_spark_airflow_s3_athena_spark.operators.whitening import (
        PCAWhitening,
        whiten,
    )
    import numpy as np

    sigs = minhash_signatures_arrow(empty_docs, num_bins=16)
    assert sigs.count() == 0
    assert [f.name for f in sigs.schema.fields] == ["doc_id", "sig"]
    assert minhash_dedup_pairs_arrow(empty_docs, num_hashes=16, bands=4).count() == 0

    empty_edges = spark.createDataFrame([], "src long, dst long, w double")
    ranks = pagerank(empty_edges, iters=2)
    assert ranks.count() == 0
    assert [f.name for f in ranks.schema.fields] == ["node", "rank"]

    model = PCAWhitening(
        mean=np.zeros(2), components=np.eye(2), eigvals=np.ones(2), n=2
    )
    out = whiten(
        spark.createDataFrame([], "vec_id long, embedding array<double>"),
        model,
        id_col="vec_id",
    )
    assert out.count() == 0


def test_round6_ops_on_empty_inputs(spark, empty_docs):
    """Round-6 paths: the eager prefix join (bucket-aggregate
    checkpoint + drop probe run at call time — must not blow up on
    zero rows) and the indexed PageRank twin on an empty edge set."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.graph import (
        pagerank_edge_index,
        pagerank_from_index,
    )
    from api_kakfa_spark_airflow_s3_athena_spark.sources.tables import (
        ensure_database,
    )

    out = DD.prefix_jaccard_join(empty_docs, threshold=0.9)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id_a", "id_b", "jaccard"]

    ensure_database(spark, "pr_test")
    spark.sql("DROP TABLE IF EXISTS pr_test.trans_empty")
    pagerank_edge_index(
        spark.createDataFrame([], "src long, dst long, w double"),
        "pr_test.trans_empty",
        buckets=2,
    )
    ranks = pagerank_from_index(spark, "pr_test.trans_empty", iters=2)
    assert ranks.count() == 0
    spark.sql("DROP TABLE IF EXISTS pr_test.trans_empty")


def test_round9_ops_on_empty_inputs(spark, empty_docs, empty_vecs):
    """Round-9 operators under empty/degenerate inputs: k-core and
    LPA on empty edge lists, IVFPQ with an EMPTY QUERY SET (the
    bounded-collect early-exit branch must return a correctly-typed
    empty frame), contrastive mining and BPE on empty corpora, JL
    projection's loud empty-input failure."""
    import numpy as np
    import pytest as _pytest

    from api_kakfa_spark_airflow_s3_athena_spark.operators.dedup import (
        contrastive_pairs,
    )
    from api_kakfa_spark_airflow_s3_athena_spark.operators.graph import (
        kcore,
        label_propagation,
    )
    from api_kakfa_spark_airflow_s3_athena_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_topk,
    )
    from api_kakfa_spark_airflow_s3_athena_spark.operators.tokenizer import (
        bpe_encode,
        bpe_learn_merges,
    )
    from api_kakfa_spark_airflow_s3_athena_spark.operators.whitening import (
        random_projection,
    )

    empty_edges = spark.createDataFrame([], "u long, v long")
    assert kcore(empty_edges, k=2).count() == 0
    assert label_propagation(empty_edges, rounds=2).count() == 0

    # IVFPQ: real corpus, empty query set -> typed empty result
    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.5]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    centroids, books, enc = ivfpq_index(vecs, n_centroids=3, m=2, ksub=4, iters=1)
    empty_q = spark.createDataFrame([], "query_id long, embedding array<float>")
    out = ivfpq_topk(empty_q, centroids, books, enc, k=3, nprobe=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "adist", "rnk",
    ]

    assert contrastive_pairs(empty_docs).count() == 0

    merges = bpe_learn_merges(empty_docs, n_merges=5)
    assert merges == []
    assert bpe_encode(empty_docs, merges).count() == 0

    with _pytest.raises(ValueError, match="empty"):
        random_projection(empty_vecs)


def test_staged_round10_ops_on_empty_inputs(spark, empty_docs):
    """Session-3 staged operators: KMV sketching/merging/estimating,
    per-key heavy hitters, containment join, prior/RRF arms, and the
    byte-level tokenizer must all return empty, correctly-schemaed
    results on empty inputs (or on one empty side)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from api_kakfa_spark_airflow_s3_athena_spark.operators.dedup import (
        containment_join,
    )
    from api_kakfa_spark_airflow_s3_athena_spark.operators.frequency import (
        heavy_hitters_by_key,
    )
    from api_kakfa_spark_airflow_s3_athena_spark.operators.retrieval import (
        prior_topk,
        rrf_fuse,
    )
    from api_kakfa_spark_airflow_s3_athena_spark.operators.sketches import (
        kmv_merge,
        kmv_pairwise_matrix,
        kmv_set_estimates,
        kmv_sketch,
    )
    from api_kakfa_spark_airflow_s3_athena_spark.operators.tokenizer import (
        bpe_encode,
        bpe_encode_ids,
    )

    empty_units = spark.createDataFrame(
        [], "k string, unit string"
    )
    # KMV: empty corpus -> empty synopsis frame; merge/set-ops with an
    # empty side keep the non-empty side / return no pairs
    sk_e = kmv_sketch(empty_units, ["k"], F.col("unit"), k=8)
    assert sk_e.count() == 0
    assert sk_e.columns == ["k", "kmv_hashes"]
    one = kmv_sketch(
        spark.createDataFrame([("g", "v")], ["k", "unit"]), ["k"], F.col("unit"), k=8
    )
    assert kmv_set_estimates(one, sk_e, ["k"], 8).count() == 0  # inner join
    merged = kmv_merge(one, sk_e, ["k"], 8).collect()
    assert len(merged) == 1 and len(merged[0].kmv_hashes) == 1
    assert kmv_pairwise_matrix(sk_e, "k", 8).count() == 0
    assert kmv_pairwise_matrix(one, "k", 8).count() == 0  # 1 key, no pair

    # per-key heavy hitters on an empty unit stream
    hh = heavy_hitters_by_key(empty_units, ["k"], "unit", num_counters=5)
    assert hh.count() == 0
    assert hh.columns == ["k", "unit", "freq", "n_units"]

    # containment join: either side empty -> no pairs
    eu = spark.createDataFrame([], "eval_id long, units array<string>")
    tu = spark.createDataFrame(
        [(1, ["a", "b"])], "train_id long, units array<string>"
    )
    assert containment_join(eu, tu, 0.5).count() == 0
    assert containment_join(
        tu.withColumnRenamed("train_id", "eval_id"), eu.withColumnRenamed("eval_id", "train_id"), 0.5
    ).count() == 0

    # prior arm / fusion over empty docs and an empty arm
    empty_nchars = empty_docs.withColumn("n_chars", F.lit(1))
    assert prior_topk(empty_nchars, F.col("n_chars"), 5).count() == 0
    arm = spark.createDataFrame([(1, 1)], "id long, rnk int")
    none = spark.createDataFrame([], "id long, rnk int")
    fused = rrf_fuse({"a": arm, "b": none}, k=5, id_col="doc_id").collect()
    assert len(fused) == 1 and fused[0].in_a and not fused[0].in_b

    # byte-level tokenizer on an empty corpus (zero Arrow batches)
    assert bpe_encode(empty_docs, [("a", "b")], byte_level=True).count() == 0
    assert bpe_encode_ids(empty_docs, [("a", "b")]).count() == 0


# ---- round-11 staged operator families ------------------------------


def test_quantile_family_on_empty_input(spark):
    from api_kakfa_spark_airflow_s3_athena_spark.operators.quantiles import (
        discrete_quantiles,
        quantile_rank_check,
        robust_stats,
        sampled_quantiles,
        weighted_discrete_quantiles,
    )

    empty = spark.createDataFrame([], "grp string, id long, value double")
    assert discrete_quantiles(empty, ["grp"], "value", "id", [0.5]).count() == 0
    est = sampled_quantiles(empty, ["grp"], "value", "id", [0.5], rate_num=524288)
    assert est.count() == 0
    # empty estimates against non-empty data (and vice versa): no rows
    data = spark.createDataFrame([("g", 1, 2.0)], ["grp", "id", "value"])
    assert quantile_rank_check(est, data, ["grp"], "value", 0.1).count() == 0
    assert robust_stats(empty, ["grp"], "value", "id").count() == 0
    emptyw = spark.createDataFrame([], "grp string, v long, w long, id long")
    assert (
        weighted_discrete_quantiles(emptyw, ["grp"], "v", "w", "id", [(1, 2)]).count()
        == 0
    )


def test_cms_family_on_empty_input(spark):
    from api_kakfa_spark_airflow_s3_athena_spark.operators.frequency import (
        cms_lookup,
        cms_merge,
        count_min_counters,
    )

    empty = spark.createDataFrame([], "unit string")
    counters = count_min_counters(empty, "unit", 16, 3)
    assert counters.count() == 0
    assert cms_merge(counters, counters).count() == 0
    # lookups against an empty sketch estimate 0 (coalesce path)
    q = spark.createDataFrame([("x",)], ["unit"])
    assert cms_lookup(counters, q, "unit", 16, 3).collect()[0].cms_est == 0
    # empty query set against a non-empty sketch
    full = count_min_counters(
        spark.createDataFrame([("a",)], ["unit"]), "unit", 16, 3
    )
    assert cms_lookup(full, empty, "unit", 16, 3).count() == 0


def test_hll_family_on_empty_input(spark):
    from api_kakfa_spark_airflow_s3_athena_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )
    from pyspark.sql import functions as F

    empty = spark.createDataFrame([], "grp string, val string")
    regs = hll_registers(empty, ["grp"], F.col("val"))
    assert regs.count() == 0
    assert hll_merge(regs, ["grp"]).count() == 0
    assert hll_estimate(regs, ["grp"]).count() == 0


def test_bloom_on_empty_sides(spark):
    from api_kakfa_spark_airflow_s3_athena_spark.operators.bloom import (
        bloom_bits,
        bloom_candidates,
    )

    empty = spark.createDataFrame([], "key long")
    fact = spark.createDataFrame([(1,), (2,)], ["key"])
    # empty dim: filter has no set bits, everything pruned
    bits = bloom_bits(empty, "key", m=64, n_hashes=2)
    assert bits.count() == 0
    assert bloom_candidates(fact, "key", bits, m=64, n_hashes=2).count() == 0
    # empty fact against a non-empty filter
    full_bits = bloom_bits(fact, "key", m=64, n_hashes=2)
    assert bloom_candidates(empty, "key", full_bits, m=64, n_hashes=2).count() == 0


def test_phrase_and_sq8_on_empty_input(spark):
    from api_kakfa_spark_airflow_s3_athena_spark.operators.retrieval import (
        phrase_search,
        positional_postings,
    )
    from api_kakfa_spark_airflow_s3_athena_spark.operators.similarity import (
        sq8_quantize,
        sq8_rerank_topk,
    )
    from pyspark.sql import functions as F

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert positional_postings(empty_docs).count() == 0
    assert phrase_search(empty_docs, ["a", "b"]).count() == 0
    empty_vecs = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert sq8_quantize(empty_vecs, "embedding").count() == 0
    q = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    assert sq8_rerank_topk(q, empty_vecs, k=3).count() == 0


# ---- round-12 staged operator families ------------------------------


def test_quantile_drift_on_empty_samples(spark):
    from api_kakfa_spark_airflow_s3_athena_spark.operators.quantiles import (
        quantile_drift,
    )

    empty = spark.createDataFrame([], "id long, v double")
    data = spark.createDataFrame([(1, 1.0), (2, 2.0)], ["id", "v"])
    # empty A: no quantile elements, no drift rows (an absent epoch is
    # "no signal", not a crash)
    assert quantile_drift(empty, data, "v", "id", [0.5]).count() == 0
    # empty B: nothing to rank against, no rows
    assert quantile_drift(data, empty, "v", "id", [0.5]).count() == 0


def test_sq8_normalize_on_zero_vectors(spark):
    """Zero vectors pass through _l2_normalized unchanged (no NaN/div0)
    and quantize to all-zero codes under normalize=True."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.similarity import (
        sq8_rerank_topk,
    )

    corpus = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(10, [1.0, 0.0])], "query_id long, embedding array<double>"
    )
    rows = sq8_rerank_topk(
        q, corpus, k=3, candidates=3, normalize=True
    ).collect()
    assert [r.neighbor_id for r in rows if r.rank == 1] == [1]
    assert all(r.score == r.score for r in rows)  # no NaN



def _sq8_searches():
    from api_kakfa_spark_airflow_s3_athena_spark.operators.similarity import (
        ivf_sq8_topk,
        sq8_rerank_topk,
    )

    return [
        sq8_rerank_topk,
        lambda q, c, **kw: ivf_sq8_topk(q, c, n_centroids=2, nprobe=2, **kw),
    ]


def _untouchable_corpus(spark):
    """A corpus whose every evaluation raises: the NULL-query check
    must fire before any corpus work."""
    from pyspark.sql import functions as F

    return spark.range(3).select(
        F.col("id").alias("vec_id"),
        F.raise_error(F.lit("corpus touched"))
        .cast("array<double>")
        .alias("embedding"),
    )


def test_sq8_searches_reject_one_null_query_vector(spark):
    q = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, None), (12, [0.0, 1.0])],
        "query_id long, embedding array<double>",
    )
    for search in _sq8_searches():
        with pytest.raises(ValueError, match=r"NULL query vector .*ids 11;"):
            search(q, _untouchable_corpus(spark), k=2)


def test_sq8_searches_reject_all_null_query_vectors(spark):
    q = spark.createDataFrame(
        [(10, None), (11, None)], "query_id long, embedding array<double>"
    )
    for search in _sq8_searches():
        with pytest.raises(ValueError, match=r"NULL query vector .*ids 10, 11;"):
            search(q, _untouchable_corpus(spark), k=2)
