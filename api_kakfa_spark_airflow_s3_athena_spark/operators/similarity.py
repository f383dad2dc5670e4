"""Similarity search (ANN) over embedding columns.

Driver-mandated extension (SURVEY.md §2f): brute-force cosine top-k as
the exact baseline, plus an LSH-bucketed approximate variant as the
scale path. Both pure DataFrame ops — the dot products run inside
whole-stage codegen via higher-order functions (functions/vectors.py).

Scale design:
- *Brute force* is O(|Q|·|C|) — correct tool when the query set is
  small: broadcast Q (no shuffle of the 100 TB corpus), one scan, one
  top-k-per-query aggregation. A guard refuses accidental quadratic
  blowups when |Q| is itself huge.
- *LSH ANN*: both sides get a random-hyperplane bucket signature; the
  join is bucket-equality, so the corpus shuffles once on a small int
  key (or not at all if pre-bucketed at write time). Probing multiple
  neighboring buckets (bit-flip probes) recovers recall.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._util import materialize_once

from ..functions.vectors import cosine

__all__ = [
    "brute_force_topk",
    "brute_force_topk_arrow",
    "lsh_topk",
    "ivf_centroids",
    "ivf_index",
    "ivf_topk",
    "ivf_topk_from_index",
    "kmeans_refine",
    "semdedup_pairs",
    "semdedup_pairs_arrow",
    "pq_codebooks",
    "pq_encode",
    "pq_topk",
    "pq_save_books",
    "pq_load_books",
    "pq_index_append",
    "pq_quantization_error",
    "ivf_index_append",
    "ivfpq_index",
    "ivfpq_topk",
    "ivfpq_index_append",
    "ivfpq_residual_index",
    "ivfpq_residual_topk",
    "ivfpq_residual_index_append",
    "residual_quantization_error",
    "sq8_quantize",
    "sq8_rerank_topk",
    "ivf_sq8_index",
    "ivf_sq8_topk",
]


def _ranked_topk(scored: DataFrame, query_id: str, k: int) -> DataFrame:
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, "neighbor_id", "score", "rank")
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set against the corpus.

    ``queries`` must be small (guarded); the corpus side never
    shuffles — each task scores its local partition and the final
    top-k-per-query is a skinny (query_id, neighbor_id, score) shuffle.
    """
    # guard probe bounded by limit: scans at most max_queries+1 rows
    # however large the query set is (the old bare count() was O(|Q|))
    if queries.limit(max_queries + 1).count() > max_queries:
        raise ValueError(
            f"brute_force_topk got > {max_queries} queries; "
            "use lsh_topk for large query sets — brute force would be "
            "O(|Q|*|corpus|)"
        )
    # Norms hoisted out of the per-pair cosine (round-13, guide §1.2
    # "per-task work"): each side's L2 norm is computed ONCE per row in
    # its own projection (an attribute flowing through the join — the
    # join boundary stops Catalyst from re-inlining the fold), so each
    # of the |Q|·|corpus| pairs pays one dot fold instead of three.
    # Same IEEE ops on the same operands => bit-identical scores.
    from ..functions.vectors import dot, l2_norm

    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("__cn"),
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(~(F.col("neighbor_id") == F.col("query_id")) if exclude_self else F.lit(True))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.when(
                    F.col("__qn") * F.col("__cn") > 0,
                    dot(F.col("q_vec"), F.col("c_vec"))
                    / (F.col("__qn") * F.col("__cn")),
                ),
                6,
            ).alias("score"),
        )
    )
    return _ranked_topk(scored, "query_id", k)


def brute_force_topk_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k, Arrow/numpy scorer — same contract as
    :func:`brute_force_topk`, different hot path: each Arrow batch of
    the corpus is scored as ONE BLAS matrix product against the
    (driver-collected, closure-broadcast) normalized query matrix, and
    only the per-batch top-k per query leaves Python. The corpus still
    never shuffles; the final exchange carries |batches|*|Q|*k skinny
    rows merged by one row_number window.

    This is the 100 TB fast path: a matrix product amortizes to a few
    FLOPs/element where the per-element codegen fold spends an
    expression-tree walk (measured ~4-6x faster at sf0.1 — NOTES.md).
    The JVM fold remains the oracle-checked reference; scores here are
    numpy doubles, ulp-close but not bit-identical to the fold (both
    round to 6 dp in the output).
    """
    import numpy as np
    import pandas as pd

    qrows = (
        queries.select(F.col(query_id), F.col(vec_col))
        .limit(max_queries + 1)
        .collect()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"brute_force_topk_arrow got > {max_queries} queries; "
            "use lsh_topk for large query sets"
        )
    qid_type = queries.schema[query_id].dataType.simpleString()
    nid_type = corpus.schema[corpus_id].dataType.simpleString()
    if not qrows:
        # empty query set: typed empty result, per the repo's pinned
        # empty-input contract (a fully-filtered query frame is
        # routine at scale; round-9 review finding)
        return (
            corpus.select(
                F.col(corpus_id).alias("neighbor_id"),
                F.lit(0.0).alias("score"),
                F.lit(1).alias("rank"),
            )
            .withColumn("query_id", F.lit(None).cast(qid_type))
            .select("query_id", "neighbor_id", "score", "rank")
            .limit(0)
        )
    # ids keep their input types (string/decimal ids work end to end —
    # the pq_encode/pq_topk round-8 rule applied here too; np.lexsort
    # orders object arrays lexicographically, matching the final
    # window's neighbor_id tie-break)
    qids = np.array([r[0] for r in qrows])
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)
    qmat = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-300)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[corpus_id].to_numpy()
            v = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            v = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-300)
            scores = v @ qmat.T  # (batch, |Q|)
            for j, qid in enumerate(qids):
                s = scores[:, j]
                keep = ids != qid if exclude_self else np.ones_like(ids, dtype=bool)
                # round BEFORE the local cut: the merge ranks on the
                # rounded score, so the local order must match or a
                # boundary id could be cut here yet win at the merge
                s, nid = np.round(s[keep], 6), ids[keep]
                order = np.lexsort((nid, -s))[:k]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": nid[order],
                        "score": s[order],
                    }
                )

    scored = corpus.select(F.col(corpus_id), F.col(vec_col)).mapInPandas(
        score, schema=f"query_id {qid_type}, neighbor_id {nid_type}, score double"
    )
    return _ranked_topk(scored, "query_id", k)


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
) -> DataFrame:
    """Deterministic IVF centroid set: the ``n_centroids`` corpus
    vectors with the smallest seeded id-hash — a uniform sample
    reproducible with no stored model. Plans as distributed top-k
    (orderBy+limit => TakeOrderedAndProject), never a single-partition
    window. Returns ``(centroid_id, centroid_vec)``."""
    return (
        corpus.select(
            F.col(corpus_id).alias("centroid_id"),
            F.col(vec_col).alias("centroid_vec"),
            F.pmod(F.xxhash64(F.col(corpus_id), F.lit(seed)), F.lit(1_000_003)).alias("__h"),
        )
        .orderBy("__h", "centroid_id")
        .limit(n_centroids)
        .drop("__h")
    )


def _centroid_arrays(centroids: DataFrame):
    """Bounded collect of the centroid set, sorted by id: returns
    ``(cent_ids ndarray, cmat float64 ndarray, cnorm float64 ndarray)``
    with the per-centroid norm computed by the identical left fold of
    squares + sqrt the JVM cosine performs (Python floats are
    IEEE-754 doubles). Shared by :func:`_ivf_assign` and the fused
    encode pass so the two can never drift."""
    import math

    import numpy as np

    cent_rows = sorted(
        centroids.select("centroid_id", "centroid_vec").collect(),
        key=lambda r: r["centroid_id"],
    )
    if not cent_rows:
        return None, None, None
    cent_ids = np.array([r["centroid_id"] for r in cent_rows])
    cmat = np.asarray([r["centroid_vec"] for r in cent_rows], dtype=np.float64)
    cnorm = np.empty(len(cent_rows), dtype=np.float64)
    for ci, r in enumerate(cent_rows):
        acc = 0.0
        for x in r["centroid_vec"]:
            acc = acc + float(x) * float(x)
        cnorm[ci] = math.sqrt(acc)
    return cent_ids, cmat, cnorm


def _assign_order_np(v, cmat, cnorm):
    """The row-local nearest-cell math over a float64 batch ``v``:
    strict ascending-dimension accumulation (one IEEE multiply + one
    IEEE add per element — the JVM cosine fold's op order), NULL/zero
    vectors scoring -inf, stable argsort so ties keep centroid-id
    order. Returns the (n_rows, n_centroids) preference order."""
    import numpy as np

    n_rows, dim = v.shape
    dots = np.zeros((n_rows, cmat.shape[0]), dtype=np.float64)
    sq = np.zeros(n_rows, dtype=np.float64)
    for d in range(dim):
        col = v[:, d]
        dots += col[:, None] * cmat[None, :, d]
        sq += col * col
    denom = np.sqrt(sq)[:, None] * cnorm[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        scores = np.where(denom > 0, dots / denom, -np.inf)
    return np.argsort(-scores, axis=1, kind="stable")


def _ivf_assign(
    df: DataFrame, centroids: DataFrame, id_out: str, vec_out: str, keep: int
) -> DataFrame:
    """Assign each row to its ``keep`` nearest centroid cells (ties
    break on the lower centroid id).

    Round-13 optimization (guide §2.4 "remove shuffles outright" +
    §4.2 "vectorized native code per batch"): the former shape
    broadcast-joined the centroid set — an ×n_centroids row explosion
    carrying the FULL vector — then hash-exchanged the exploded frame
    by id and ranked a window: a shuffle+sort of n_centroids·|df| wide
    rows whose only product is one small cell id per row. The centroid
    set is bounded and tiny (the same bound ``ivf_topk_from_index``
    already collects for its probe list), so the nearest-cell choice
    is computed ROW-LOCALLY in one Arrow pass. Plan shape:
    scan → MapInPandas; zero Exchange, zero sort, nothing widened.

    Bit-exactness: scores accumulate in strict ascending-dimension
    order with separate multiply/add steps and per-side norms folded
    the same way — the exact IEEE-754 op sequence of the former
    per-pair ``cosine`` higher-order fold (zip_with products, left
    aggregate, one divide), so every (row, centroid) score and
    therefore every cell choice is bit-identical to the former
    window plan (pinned by
    tests/test_ivf_sq8.py::test_assign_matches_window_reference).
    A zero/NULL vector scores ``-inf`` everywhere, reproducing the
    former NULL-cosine → NULLS LAST → lowest-centroid-id outcome.
    """
    import numpy as np
    import pandas as pd

    cell_type = centroids.schema["centroid_id"].dataType.simpleString()
    id_type = df.schema[id_out].dataType.simpleString()
    vec_type = df.schema[vec_out].dataType.simpleString()
    out_schema = f"{id_out} {id_type}, {vec_out} {vec_type}, cell {cell_type}"
    # bounded collect: n_centroids rows of (id, small vector)
    cent_ids, cmat, cnorm = _centroid_arrays(centroids)
    if cent_ids is None:
        return (
            df.select(
                F.col(id_out),
                F.col(vec_out),
                F.lit(None).cast(cell_type).alias("cell"),
            ).limit(0)
        )
    keep_eff = min(keep, len(cent_ids))

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            raw = pdf[vec_out]
            null_mask = np.array([v is None for v in raw])
            vals = [
                (np.zeros(cmat.shape[1]) if n else v)
                for v, n in zip(raw, null_mask)
            ]
            v = np.asarray([np.asarray(x, dtype=np.float64) for x in vals])
            # stable ascending sort on the negated score: equal scores
            # keep centroid-id order (cent_rows sorted asc) — the
            # former (score desc, centroid_id asc) window tie-break
            order = _assign_order_np(v, cmat, cnorm)[:, :keep_eff]
            yield pd.DataFrame(
                {
                    id_out: np.repeat(pdf[id_out].to_numpy(), keep_eff),
                    vec_out: np.repeat(raw.to_numpy(), keep_eff),
                    "cell": cent_ids[order].ravel(),
                }
            )

    return df.select(F.col(id_out), F.col(vec_out)).mapInPandas(
        assign, schema=out_schema
    )


def ivf_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
):
    """The persistable IVF artifact pair: ``(centroids, cell_index)``
    where ``cell_index`` is the corpus keyed by its nearest-centroid
    ``cell`` — write it ``partitionBy("cell")`` once per snapshot and
    every later query scans ONLY its probed cells via partition
    pruning (:func:`ivf_topk_from_index`). The 100 TB inverted-file
    shape: index build cost is one broadcast scoring pass, amortized
    over every query batch that follows."""
    centroids = ivf_centroids(corpus, n_centroids, corpus_id, vec_col, seed)
    cell_index = _ivf_assign(
        corpus.select(F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("c_vec")),
        centroids,
        "neighbor_id",
        "c_vec",
        keep=1,
    )
    return centroids, cell_index


def ivf_index_append(
    delta: DataFrame,
    centroids: DataFrame,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental IVF maintenance — the ANN twin of
    ``dedup.minhash_band_index`` + delta append: assign a NEW vector
    batch to an existing FROZEN centroid set (one broadcast scoring
    pass over the delta ONLY) and return rows in the ``cell_index``
    schema, ready to ``mode("append").partitionBy("cell")`` into the
    stored inverted file. The append touches only the delta's cells;
    the stored corpus is never re-read, never re-assigned.

    Centroids are deliberately frozen: an IVF centroid set is a
    trained artifact (here the deterministic smallest-hash sample),
    and re-deriving it per batch would silently re-shard the whole
    index — periodic retraining is a REBUILD, not an append. Under
    frozen centroids the appended index is row-identical to a full
    re-assignment of corpus+delta (pinned by the
    ``ann_ivf_delta_append`` contract and
    tests/test_dedup_similarity.py), so queries through
    :func:`ivf_topk_from_index` see exactly the rebuild's results.
    """
    return _ivf_assign(
        delta.select(
            F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        ),
        centroids,
        "neighbor_id",
        "c_vec",
        keep=1,
    )


def ivf_topk_from_index(
    queries: DataFrame,
    centroids: DataFrame,
    cell_index: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """ANN search against a PERSISTED IVF index (:func:`ivf_index`
    read back from storage): queries are assigned to their ``nprobe``
    nearest cells by one broadcast pass over the (tiny) centroid set,
    the probed cell list filters the index — a partition-pruned scan
    when the index was written ``partitionBy("cell")`` — and scoring
    joins the broadcast query assignments against only those cells.
    The corpus is never re-assigned, never fully scanned."""
    q_assigned = _ivf_assign(
        queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("q_vec")),
        centroids,
        "query_id",
        "q_vec",
        keep=nprobe,
    )
    # probed cells are a subset of the centroid ids, so this collect is
    # bounded by n_centroids whatever the query-set size — turning the
    # cell restriction into a LITERAL IN-filter gives guaranteed STATIC
    # partition pruning on a partitionBy("cell") index (PartitionFilters
    # in the scan), instead of relying on runtime DPP to fire
    probed = [r.cell for r in q_assigned.select("cell").distinct().collect()]
    scored = (
        cell_index.filter(F.col("cell").isin(probed))
        .join(F.broadcast(q_assigned), "cell")
        .filter(~(F.col("neighbor_id") == F.col("query_id")) if exclude_self else F.lit(True))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("score"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _ranked_topk(scored, "query_id", k)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 11,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-style approximate top-k: centroid-partitioned search with
    the index built inline (:func:`ivf_index` composed with
    :func:`ivf_topk_from_index`, minus the probed-cell pre-filter that
    only pays off once the index is stored partitioned).

    Training-free inverted file: ``n_centroids`` corpus vectors are
    chosen deterministically (smallest seeded hash of the id — a
    uniform sample reproducible with no stored model); every corpus
    row is assigned to its nearest centroid (one broadcast scoring
    pass), queries probe their ``nprobe`` nearest centroid cells and
    scan only those cells.

    Versus hyperplane LSH: cells track the data distribution (better
    recall/candidate ratio on clustered embeddings) at the cost of the
    one-off assignment pass. At scale, persist the index with
    :func:`ivf_index` and query with :func:`ivf_topk_from_index`.
    """
    centroids, c_assigned = ivf_index(corpus, n_centroids, corpus_id, vec_col, seed)
    q_assigned = _ivf_assign(
        queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("q_vec")),
        centroids,
        "query_id",
        "q_vec",
        keep=nprobe,
    )
    scored = (
        c_assigned.join(F.broadcast(q_assigned), "cell")
        .filter(~(F.col("neighbor_id") == F.col("query_id")) if exclude_self else F.lit(True))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("score"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _ranked_topk(scored, "query_id", k)


def _hyperplane_bucket(vec_col: str, planes: int, seed: int):
    dim_idx = F.sequence(F.lit(0), F.size(F.col(vec_col)) - 1)
    bucket = F.lit(0).cast("long")
    for i in range(planes):
        signed = F.zip_with(
            F.col(vec_col),
            dim_idx,
            lambda v, d: v.cast("double")
            * F.when(F.pmod(F.xxhash64(d, F.lit(seed), F.lit(i)), 2) == 0, 1.0).otherwise(-1.0),
        )
        s = F.aggregate(signed, F.lit(0.0), lambda acc, x: acc + x)
        bucket = bucket * 2 + F.when(s >= 0, F.lit(1)).otherwise(F.lit(0))
    return bucket


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    seed: int = 5,
    exclude_self: bool = True,
    probes: int = 0,
) -> DataFrame:
    """Approximate cosine top-k via shared random-hyperplane buckets.

    Candidates = corpus rows in the query's bucket; exact cosine only
    on candidates. Recall < 1 by construction; raise it with fewer
    planes or with ``probes`` > 0 (multi-probe: each query also
    searches the ``probes`` nearest alternative buckets — single-bit
    sign flips — multiplying candidates by probes+1 on the query side
    only; the corpus is never re-bucketed). The corpus-side bucket
    column is a pure per-row expression — at scale, persist it (or
    partition the table by it) and the query never shuffles the corpus
    at all.
    """
    probes = min(probes, planes)
    bucket = _hyperplane_bucket(vec_col, planes, seed)
    probe_buckets = F.array(
        bucket, *[bucket.bitwiseXOR(F.lit(1 << i)) for i in range(probes)]
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(probe_buckets).alias("bucket"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _hyperplane_bucket(vec_col, planes, seed).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(~(F.col("neighbor_id") == F.col("query_id")) if exclude_self else F.lit(True))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("score"),
        )
        # multi-probe can surface the same pair via several buckets
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _ranked_topk(scored, "query_id", k)


def kmeans_refine(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 9,
    return_centroids: bool = False,
):
    """Lloyd's k-means over the embedding column — the clustering pass
    behind SemDeDup-style curation (cluster, then drop near-identical
    members per cluster) and IVF / product-quantization index builds.

    Spark shape per iteration (the standard distributed Lloyd's):
    centroids live on the DRIVER as a k x dim float array (tiny) and
    ship to executors inside the Arrow-UDF closure; assignment is one
    `mapInPandas` pass computing the argmin of squared distance as a
    numpy matrix product (never a |corpus| x k join materialization);
    the centroid update is one partial-aggregated groupBy over
    (cluster, posexploded dim) — so each iteration is exactly one scan
    + one skinny shuffle, and only k x dim numbers ever hit the
    driver. Deterministic throughout: seeds are the k corpus vectors
    with the smallest seeded id-hash (same trick as ivf_topk), and
    argmin ties break on the lower cluster id.

    Returns ``(assignments DataFrame[id, cluster, sq_dist], inertia
    per iteration list)``, or with ``return_centroids=True`` a third
    element: the final k x dim numpy centroid matrix (already on the
    driver — the PQ codebook path needs it verbatim).
    """
    import numpy as np
    import pandas as pd

    seeds = (
        corpus.select(
            F.col(vec_col).alias("v"),
            F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1_000_003)).alias("__h"),
            F.col(id_col).alias("__id"),
        )
        .orderBy("__h", "__id")
        .limit(k)
        .collect()
    )
    km_id_type = corpus.schema[id_col].dataType.simpleString()
    if not seeds:
        # empty corpus (a fully-filtered ingest batch is routine at
        # scale): empty assignment, no iterations, 0 x 0 centroids
        empty = corpus.sparkSession.createDataFrame(
            [], f"id {km_id_type}, cluster int, sq_dist double"
        )
        if return_centroids:
            return empty, [], np.zeros((0, 0))
        return empty, []
    cents = np.asarray([r.v for r in seeds], dtype=np.float64)
    base = corpus.select(F.col(id_col), F.col(vec_col))
    inertia_history = []

    def _argmin(c, v):
        # ||v - c||^2 = ||v||^2 - 2 v.c + ||c||^2 ; np.argmin returns
        # the FIRST minimum -> ties break on the lower cluster id,
        # deterministically.
        d = v @ c.T * -2.0 + (c * c).sum(axis=1)
        cl = np.argmin(d, axis=1)
        sq = d[np.arange(len(v)), cl] + (v * v).sum(axis=1)
        return cl, np.maximum(sq, 0.0)

    def make_assign(c):
        def assign(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                v = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
                cl, sq = _argmin(c, v)
                yield pd.DataFrame(
                    {
                        # no dtype coercion: ids keep their input type
                        # (string ids crashed here while the join-side
                        # consumers accepted them — round-9 review)
                        "id": pdf[id_col].to_numpy(),
                        "cluster": cl.astype(np.int32),
                        "sq_dist": sq,
                    }
                )

        return assign

    def make_partials(c):
        dim = c.shape[1]

        def partials(batches):
            # per-batch partial sums: the update pass emits k x (dim+1)
            # rows per Arrow batch, NOT per input row — the shuffle
            # carries centroids-worth of data however big the corpus
            for pdf in batches:
                if not len(pdf):
                    continue
                v = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
                cl, sq = _argmin(c, v)
                rows = {"cluster": [], "dim": [], "sx": []}
                for cid in np.unique(cl):
                    m = cl == cid
                    sums = v[m].sum(axis=0)
                    rows["cluster"].extend([int(cid)] * (dim + 1))
                    rows["dim"].extend(list(range(dim)) + [-1])
                    # dim -1 carries (count, inertia) piggybacked:
                    # sx = count, and inertia rides in a second field
                    rows["sx"].extend(list(sums) + [float(m.sum())])
                pdf_out = pd.DataFrame(rows)
                pdf_out["inertia"] = 0.0
                pdf_out.loc[pdf_out["dim"] == -1, "inertia"] = [
                    float(sq[cl == cid].sum()) for cid in np.unique(cl)
                ]
                yield pdf_out

        return partials

    for _ in range(iters):
        upd = (
            base.mapInPandas(
                make_partials(cents),
                schema="cluster int, dim int, sx double, inertia double",
            )
            .groupBy("cluster", "dim")
            .agg(F.sum("sx").alias("sx"), F.sum("inertia").alias("it"))
            .collect()
        )
        new_cents = cents.copy()
        counts = {r.cluster: r.sx for r in upd if r.dim == -1}
        inertia = sum(r.it for r in upd if r.dim == -1)
        for r in upd:
            if r.dim >= 0 and counts.get(r.cluster, 0) > 0:
                new_cents[r.cluster, r.dim] = r.sx / counts[r.cluster]
        inertia_history.append(float(inertia))
        cents = new_cents

    final = base.mapInPandas(
        make_assign(cents), schema=f"id {km_id_type}, cluster int, sq_dist double"
    )
    if return_centroids:
        return final, inertia_history, cents
    return final, inertia_history


def semdedup_pairs(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 2,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cluster: int = 10_000,
    seed: int = 9,
):
    """SemDeDup: cluster the embedding space with k-means, then verify
    cosine similarity ONLY within clusters — semantic near-duplicates
    land in the same cell, so the quadratic compare shrinks from
    |corpus|² to sum(|cluster|²) with k tunable to bound cluster size.

    The within-cluster self-join shuffles once on the (int) cluster id;
    clusters above ``max_cluster`` are dropped (same guard as the LSH
    dedup paths — a degenerate cluster would reintroduce the quadratic
    blowup this operator exists to avoid). NOTE: a dropped cell takes
    ALL its pairs with it — recall guarantees (e.g. planted-duplicate
    contracts) hold only while every cell stays under ``max_cluster``;
    size ``k`` ~ |corpus|/4000 to keep expected cells far below it.
    Returns distinct ``(id_a, id_b, cos)`` with ``id_a < id_b`` and
    cos >= threshold.
    """
    assigned, _ = kmeans_refine(
        corpus, k=k, iters=iters, vec_col=vec_col, id_col=id_col, seed=seed
    )
    # lazy local checkpoint: the assignment is a PYTHON mapInPandas
    # corpus pass, and the plan consumes `member` multiple times (cell
    # census + bounded join + the pair compare) — without truncation
    # every consumer re-runs the assignment (audited: 4 passes in the
    # fold path, 2 in the arrow path). The checkpointed relation is
    # skinny: (id, cluster, sq_dist).
    assigned = assigned.localCheckpoint(eager=False)
    member = corpus.select(F.col(id_col), F.col(vec_col)).join(
        assigned.select(F.col("id").alias(id_col), "cluster"), id_col
    )
    keep = (
        member.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= max_cluster)
        .select("cluster")
    )
    bounded = member.join(F.broadcast(keep), "cluster")
    a, b = bounded.alias("a"), bounded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def semdedup_pairs_arrow(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 2,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cluster: int = 10_000,
    seed: int = 9,
    block: int = 1024,
) -> DataFrame:
    """:func:`semdedup_pairs` with the within-cell compare as numpy
    Gram-matrix blocks instead of the JVM expression fold — the
    production hot path (same clustering, same oversize-cell guard,
    same output contract).

    The in-cell compare is inherently sum(|cell|^2) cosine
    evaluations; at ~2.5k-vector cells the codegen fold walks an
    expression tree per element (measured: minutes at 20k vectors)
    where one BLAS product per cell block amortizes to a few
    FLOPs/element (seconds). Cells arrive whole via
    ``applyInPandas(groupBy(cluster))`` — bounded by ``max_cluster``,
    which also bounds executor memory: the Gram matrix is computed in
    ``block``-row strips (block x max_cluster doubles, ~80 MB at the
    defaults) so peak memory never scales with cell size squared.

    Scores are numpy doubles rounded to 6 dp: ulp-close to the JVM
    fold but not bit-identical at rounding boundaries (same caveat as
    :func:`brute_force_topk_arrow`); equivalence to the fold path is
    pinned in tests with a 1.1e-6 tolerance.
    """
    import numpy as np
    import pandas as pd

    assigned, _ = kmeans_refine(
        corpus, k=k, iters=iters, vec_col=vec_col, id_col=id_col, seed=seed
    )
    # lazy local checkpoint: the assignment is a PYTHON mapInPandas
    # corpus pass, and the plan consumes `member` multiple times (cell
    # census + bounded join + the pair compare) — without truncation
    # every consumer re-runs the assignment (audited: 4 passes in the
    # fold path, 2 in the arrow path). The checkpointed relation is
    # skinny: (id, cluster, sq_dist).
    assigned = assigned.localCheckpoint(eager=False)
    member = corpus.select(F.col(id_col), F.col(vec_col)).join(
        assigned.select(F.col("id").alias(id_col), "cluster"), id_col
    )
    keep = (
        member.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= max_cluster)
        .select("cluster")
    )
    bounded = member.join(F.broadcast(keep), "cluster")

    # ids keep their input types (the pq_encode/pq_topk round-8 rule;
    # the fold twin always accepted string ids — round-9 review): the
    # elementwise compare in the swap below orders object arrays
    # lexicographically, matching the fold path's least/greatest
    id_type = corpus.schema[id_col].dataType.simpleString()

    def cell_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {
                    "id_a": pd.Series(dtype=object),
                    "id_b": pd.Series(dtype=object),
                    "cos": pd.Series(dtype="float64"),
                }
            )
        ids = pdf[id_col].to_numpy()
        v = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
        v = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-300)
        out_a, out_b, out_c = [], [], []
        for s in range(0, n, block):
            e = min(s + block, n)
            g = np.round(v[s:e] @ v.T, 6)  # (strip, n)
            # upper triangle only: global col index > global row index
            ri, ci = np.nonzero(g >= threshold)
            m = ci > (ri + s)
            ri, ci = ri[m], ci[m]
            a, b = ids[ri + s], ids[ci]
            swap = a > b
            a2 = np.where(swap, b, a)
            b2 = np.where(swap, a, b)
            out_a.append(a2)
            out_b.append(b2)
            out_c.append(g[ri, ci])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cos": np.concatenate(out_c),
            }
        )

    return bounded.groupBy("cluster").applyInPandas(
        cell_pairs, schema=f"id_a {id_type}, id_b {id_type}, cos double"
    )


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 9,
    train_sample: int = 65536,
):
    """Product-quantization codebooks (Jegou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    vector into ``m`` contiguous subspaces and run Lloyd's
    independently in each. Returns the (m, ksub, dim//m) numpy
    codebook tensor (m * ksub * dim/m doubles — driver-tiny).

    Training runs on a BOUNDED deterministic sample (``train_sample``
    rows picked by seeded id-hash order, one collect; 65536 x 64 dims
    = 33 MB however large the corpus) with all m * iters Lloyd's
    rounds in numpy on the driver — codebook training on a corpus
    sample is the standard practice (FAISS does the same), and the
    distributed alternative pays m * iters scan+shuffle jobs to
    compute the identical k x dim/m aggregate (measured 25 s of pure
    job overhead on a 572-row corpus). ``train_sample=0`` keeps the
    fully-distributed path (:func:`kmeans_refine` per subspace) for
    corpora whose sample must be the whole table.

    Deterministic either way: per-subspace seeds derive from
    ``seed + subspace``, argmin ties break on the lower code
    (numpy first-min), empty codes keep their previous codeword —
    the same rules as :func:`kmeans_refine`.
    """
    import numpy as np

    def _dims(dim: int):
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        return dim // m

    if not train_sample:
        head = corpus.select(vec_col).first()
        if head is None:
            raise ValueError("pq_codebooks: cannot train on an empty corpus")
        dsub = _dims(len(head[0]))
        books = []
        for j in range(m):
            sub = corpus.select(
                F.col(id_col),
                F.slice(F.col(vec_col), j * dsub + 1, dsub).alias(vec_col),
            )
            _, _, cents = kmeans_refine(
                sub,
                k=ksub,
                iters=iters,
                vec_col=vec_col,
                id_col=id_col,
                seed=seed + j,
                return_centroids=True,
            )
            books.append(cents)
        return np.asarray(books)

    # bounded driver sample: seeded-hash order = deterministic and
    # corpus-partitioning-invariant (same pick rule as kmeans seeds;
    # shared helper so the rule can't drift between the sampled
    # trainers — round-9 review)
    from ..functions.sampling import seeded_sample_rows

    rows = seeded_sample_rows(corpus, [id_col, vec_col], train_sample, seed, id_col)
    if not rows:
        # fail loudly here: a (m, 0, dsub) tensor would crash
        # pq_encode deep in an Arrow worker with an opaque
        # empty-argmin error (round-8 review finding); dim and the
        # emptiness check both come from the sample collect — no
        # separate first() job (second review pass)
        raise ValueError("pq_codebooks: cannot train on an empty corpus")
    dsub = _dims(len(rows[0][1]))
    raw_ids = [r[0] for r in rows]
    if all(isinstance(i, int) for i in raw_ids):
        ids = np.array(raw_ids, dtype=np.int64)
    else:
        # string/decimal/any ids: md5-derived 64-bit keys give the
        # same deterministic, partition-invariant sample ordering the
        # integer path gets from splitmix (round-8 review finding —
        # the previous int64 cast crashed non-integer id columns,
        # which the distributed path has always accepted)
        import hashlib

        ids = np.array(
            [
                int.from_bytes(
                    hashlib.md5(str(i).encode()).digest()[:8], "big", signed=True
                )
                for i in raw_ids
            ],
            dtype=np.int64,
        )
    vecs = np.asarray([r[1] for r in rows], dtype=np.float64)

    def _h64(vals, s):
        # xxhash64-equivalent seed ordering is only needed WITHIN the
        # sample; any deterministic id-derived hash gives the same
        # partitioning-invariance, so use a splitmix64 mix (cheap,
        # pure numpy) keyed by (id, subspace seed)
        x = vals.astype(np.uint64) + np.uint64(
            (s * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        )
        x ^= x >> np.uint64(30)
        x = (x * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        x ^= x >> np.uint64(27)
        x = (x * np.uint64(0x94D049BB133111EB)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        return x ^ (x >> np.uint64(31))

    books = []
    for j in range(m):
        sub = vecs[:, j * dsub : (j + 1) * dsub]
        order = np.lexsort((ids, _h64(ids, seed + j)))
        k = min(ksub, len(sub))
        cents = sub[order[:k]].copy()
        for _ in range(iters):
            d = sub @ cents.T * -2.0 + (cents * cents).sum(axis=1)
            cl = np.argmin(d, axis=1)  # first-min tie-break
            new = cents.copy()
            for cid in range(k):
                mask = cl == cid
                if mask.any():
                    new[cid] = sub[mask].mean(axis=0)
            cents = new
        if k < ksub:
            # degenerate tiny corpus: pad by repeating the last
            # codeword so the tensor shape contract (m, ksub, dsub)
            # holds; duplicates never win argmin over their twin's
            # lower index, so encoding is unaffected
            cents = np.vstack([cents, np.repeat(cents[-1:], ksub - k, axis=0)])
        books.append(cents)
    return np.asarray(books)


def pq_encode(
    corpus: DataFrame,
    books,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: tuple = (),
) -> DataFrame:
    """Encode every vector as m byte-sized codes (nearest codeword per
    subspace, first-min tie-break => deterministic): 64-dim float
    corpus -> m ints per row, a ~32x storage cut. One narrow
    mapInPandas pass — the encoded table is what a 100 TB deployment
    persists (and re-encodes incrementally per ingest batch). The
    output ``vec_id`` inherits ``id_col``'s actual type (string ids
    work end to end — round-8 review fix; a hardcoded int64 cast
    crashed one step after the trainer accepted them).

    ``keep_cols`` passes extra input columns through the Arrow pass
    unchanged (round-13 optimization: the IVF-PQ builders carry
    ``cell`` through the encode instead of re-attaching it with a
    corpus-sized shuffle join on the id — guide §2.4)."""
    import numpy as np
    import pandas as pd

    books = np.asarray(books)
    m, _, dsub = books.shape
    id_type = corpus.schema[id_col].dataType.simpleString()
    keep_cols = tuple(keep_cols)
    keep_types = {
        c: corpus.schema[c].dataType.simpleString() for c in keep_cols
    }
    out_schema = f"vec_id {id_type}, codes array<int>" + "".join(
        f", {c} {keep_types[c]}" for c in keep_cols
    )

    def enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.empty((len(v), m), dtype=np.int32)
            for j in range(m):
                sub = v[:, j * dsub : (j + 1) * dsub]
                d = sub @ books[j].T * -2.0 + (books[j] ** 2).sum(axis=1)
                codes[:, j] = np.argmin(d, axis=1)
            out = {
                "vec_id": pdf[id_col].to_numpy(),
                "codes": list(codes),
            }
            for c in keep_cols:
                out[c] = pdf[c].to_numpy()
            yield pd.DataFrame(out)

    return corpus.select(id_col, vec_col, *keep_cols).mapInPandas(
        enc, schema=out_schema
    )


def pq_topk(
    queries: DataFrame,
    encoded: DataFrame,
    books,
    k: int = 10,
    query_id: str = "query_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over a PQ-encoded corpus: per
    query, an (m x ksub) lookup table of exact subspace distances to
    every codeword is built once on the driver; scoring a corpus row
    is then m table lookups + adds — no floats from the corpus are
    read at all. The encoded table never shuffles: each Arrow batch
    emits its local top-k per query and one TakeOrdered-style merge
    ranks the |batches| * |Q| * k skinny rows.

    Returns ``(query_id, neighbor_id, adist, rnk)`` ranked by
    ascending approximate distance (rounded to 6 dp), neighbor id as
    tie-break. Approximate by construction: quantization error bounds
    recall, but an EXACT-duplicate pair has identical codes, so its
    ADC distances tie exactly — the property the planted contract
    pins. Id columns keep their input types (string ids sort their
    ties lexicographically — round-8 review fix)."""
    import numpy as np
    import pandas as pd

    books = np.asarray(books)
    m, ksub, dsub = books.shape
    qid_type = queries.schema[query_id].dataType.simpleString()
    nid_type = encoded.schema["vec_id"].dataType.simpleString()
    qrows = queries.select(F.col(query_id), F.col(vec_col)).limit(
        max_queries + 1
    ).collect()
    if len(qrows) > max_queries:
        raise ValueError(f"pq_topk got > {max_queries} queries")
    if not qrows:
        # typed empty result (empty-input contract; the LUT build
        # below would IndexError on a 1-d empty qmat — round-9 review)
        return (
            encoded.select(
                F.col("vec_id").alias("neighbor_id"),
                F.lit(0.0).alias("adist"),
                F.lit(1).alias("rnk"),
            )
            .withColumn("query_id", F.lit(None).cast(qid_type))
            .select("query_id", "neighbor_id", "adist", "rnk")
            .limit(0)
        )
    qids = [r[0] for r in qrows]
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)
    # luts[q, j, c] = ||q_sub_j - books[j, c]||^2  (exact, driver-side)
    luts = np.empty((len(qids), m, ksub), dtype=np.float64)
    for j in range(m):
        sub = qmat[:, j * dsub : (j + 1) * dsub]
        luts[:, j, :] = (
            (sub * sub).sum(axis=1, keepdims=True)
            - 2.0 * sub @ books[j].T
            + (books[j] ** 2).sum(axis=1)
        )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # no dtype coercion: int64 ids stay int64, string ids stay
            # object — np.lexsort orders both (lexicographic for str),
            # matching the final window's neighbor_id asc tie-break
            ids = pdf["vec_id"].to_numpy()
            codes = np.asarray(pdf["codes"].tolist(), dtype=np.int64)  # (n, m)
            for qi, qid in enumerate(qids):
                # adist[i] = sum_j lut[j, codes[i, j]]
                d = luts[qi][np.arange(m), codes].sum(axis=1)
                d = np.round(np.maximum(d, 0.0), 6)
                order = np.lexsort((ids, d))[:k]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": ids[order],
                        "adist": d[order],
                    }
                )

    scored = encoded.mapInPandas(
        score, schema=f"query_id {qid_type}, neighbor_id {nid_type}, adist double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "adist", "rnk")
    )


def pq_save_books(spark, books, path: str) -> None:
    """Persist a :func:`pq_codebooks` tensor as a tiny parquet
    artifact — one row per (subspace, code) with its centroid array —
    the same snapshot-fit/serve split as ``whitening.save_model`` and
    the IVF centroid table: train once per corpus snapshot, every
    later encode/query job reloads the identical codebooks.
    Doubles round-trip parquet bit-exactly, so a reloaded tensor
    encodes every vector to the same codes."""
    import numpy as np

    books = np.asarray(books)
    m, ksub, _ = books.shape
    rows = [
        (int(j), int(c), [float(x) for x in books[j, c]])
        for j in range(m)
        for c in range(ksub)
    ]
    spark.createDataFrame(
        rows, "subspace int, code int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def pq_load_books(spark, path: str):
    """Reload a :func:`pq_save_books` artifact, bit-identical."""
    import numpy as np

    # the artifact's schema is fixed by pq_save_books — declaring it
    # skips the footer-inference job a bare read runs per reload (the
    # streaming sink reloads every epoch; round-14, guide §6)
    rows = spark.read.schema(
        "subspace int, code int, centroid array<double>"
    ).parquet(path).collect()
    m = 1 + max(r.subspace for r in rows)
    ksub = 1 + max(r.code for r in rows)
    dsub = len(rows[0].centroid)
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for r in rows:
        books[r.subspace, r.code] = r.centroid
    return books


def pq_index_append(
    delta: DataFrame,
    books,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Incremental PQ index maintenance — the encoded-table twin of
    :func:`ivf_index_append` (round-8 VERDICT #4: IVF had a delta
    path, PQ didn't, so a nightly 100 TB ingest would have re-encoded
    the whole corpus): encode ONLY the new vector batch against the
    existing FROZEN codebooks (one row-local Arrow pass over the
    delta) and return rows in the :func:`pq_encode` schema, ready to
    ``mode("append")`` into the stored code table. The stored corpus
    is never re-read, never re-encoded.

    Codebooks are deliberately frozen, exactly like the IVF
    centroids: the tensor is a trained artifact, and re-deriving it
    per batch would silently re-code the whole corpus — under frozen
    books the appended table is row-identical to a full re-encode of
    corpus+delta (``pq_encode`` is row-local and deterministic), the
    append-equals-rebuild property the ``ann_pq_delta_append``
    contract pins.

    Codebook-drift re-train trigger: quantization error is the
    observable. Record :func:`pq_quantization_error` over the build
    corpus when the index is trained; when a delta batch's error sits
    well above that baseline (the registered contract uses 1.5x as
    its pinned band; FAISS practice is the same order), the incoming
    distribution has drifted off the codebooks and retraining is due.
    Retraining is a REBUILD — new books re-code every stored vector —
    which is why the trigger is measured per delta batch instead of
    retrained per batch."""
    return pq_encode(delta, books, vec_col=vec_col, id_col=id_col)


def pq_quantization_error(
    corpus: DataFrame,
    books,
    vec_col: str = "embedding",
) -> DataFrame:
    """Mean squared PQ reconstruction error of ``corpus`` under
    ``books`` — one row ``(n_vectors, mse)``. This is the
    codebook-drift observable for :func:`pq_index_append`: computed
    over the build corpus at train time it is the baseline; computed
    over an ingest delta it is the drift signal. One row-local Arrow
    pass (encode + subtract reconstruction, per-batch partial sums),
    one scalar-row aggregate — no shuffle wider than the partial
    rows, linear at any corpus size."""
    import numpy as np
    import pandas as pd

    books = np.asarray(books)
    m, _, dsub = books.shape

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            sq = 0.0
            for j in range(m):
                sub = v[:, j * dsub : (j + 1) * dsub]
                d = sub @ books[j].T * -2.0 + (books[j] ** 2).sum(axis=1)
                codes = np.argmin(d, axis=1)
                diff = sub - books[j][codes]
                sq += float((diff * diff).sum())
            yield pd.DataFrame({"n": [float(len(v))], "sq": [sq]})

    return (
        corpus.select(F.col(vec_col))
        .mapInPandas(partials, schema="n double, sq double")
        .agg(
            F.sum("n").cast("long").alias("n_vectors"),
            (F.sum("sq") / F.sum("n")).alias("mse"),
        )
    )


def residual_quantization_error(
    batch: DataFrame,
    centroids: DataFrame,
    books,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """RESIDUAL-space drift observable for a residual index
    (:func:`ivfpq_residual_index`): assign the batch to the frozen
    centroids, subtract the assigned centroid, and measure
    :func:`pq_quantization_error` on the residuals — the space the
    codebooks were trained in; raw-space error would compare against
    the wrong baseline. One row ``(n_vectors, mse)``. Shared by the
    streaming residual sink's per-epoch metric and the baseline the
    registered contracts band against."""
    cells = _ivf_assign(
        batch.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")),
        centroids,
        "vec_id",
        "c_vec",
        keep=1,
    )
    resid = _ivf_residuals(cells, centroids, "vec_id", "c_vec")
    return pq_quantization_error(resid, books, vec_col="__resid")


def _collect_query_probes(
    queries: DataFrame,
    centroids: DataFrame,
    query_id: str,
    vec_col: str,
    nprobe: int,
    max_queries: int,
    fn_name: str,
):
    """Shared IVFADC query-side scaffold: assign queries to their
    ``nprobe`` nearest cells and collect probe sets + query vectors in
    ONE bounded job (q_assigned duplicates the vector per probed cell
    — at most max_queries * nprobe skinny rows, cheaper than two
    jobs). Returns ``(sorted qids, {qid: vec}, {qid: [cells]})``.

    Guarded twice: the row-limit pre-check alone undercounts when
    queries land fewer than nprobe cells (n_centroids < nprobe),
    letting up to nprobe-fold extra queries through — the collect
    stays bounded either way, the LUT/loop budget must not (round-9
    review finding, now enforced for every caller)."""
    q_assigned = _ivf_assign(
        queries.select(
            F.col(query_id).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        centroids,
        "query_id",
        "q_vec",
        keep=nprobe,
    )
    arows = q_assigned.limit(max_queries * nprobe + 1).collect()
    if len(arows) > max_queries * nprobe:
        raise ValueError(f"{fn_name} got > {max_queries} queries")
    qvecs: dict = {}
    qcells: dict = {}
    for r in arows:
        qvecs[r["query_id"]] = r["q_vec"]
        qcells.setdefault(r["query_id"], []).append(r["cell"])
    if len(qcells) > max_queries:
        raise ValueError(f"{fn_name} got > {max_queries} queries")
    return sorted(qcells), qvecs, qcells


def _empty_adist_frame(encoded_cells: DataFrame, qid_type: str) -> DataFrame:
    """Typed-empty ``(query_id, neighbor_id, adist, rnk)`` result for
    an empty query frame."""
    return (
        encoded_cells.select(
            F.col("vec_id").alias("neighbor_id"),
            F.lit(0.0).alias("adist"),
            F.lit(1).alias("rnk"),
        )
        .withColumn("query_id", F.lit(None).cast(qid_type))
        .select("query_id", "neighbor_id", "adist", "rnk")
        .limit(0)
    )


def _ranked_adist_topk(scored: DataFrame, k: int) -> DataFrame:
    """Merge per-batch local top-k candidates into the global per-query
    top-k: one skinny ranked window over adist asc, id tie-break."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "adist", "rnk")
    )


def _pq_encode_with_cells(
    corpus: DataFrame,
    books,
    centroids: DataFrame,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ONE Arrow pass producing the non-residual ``encoded_cells``
    rows ``(vec_id, codes, cell)``: nearest-cell assignment (the
    :func:`_ivf_assign` math via the shared helpers — bit-identical
    cells) and the PQ codes computed on the same float64 batch
    (identical argmin inputs to :func:`pq_encode`). Round-13: the
    former assign-pass → encode-pass chain crossed the Python
    boundary twice per corpus row; the builders and the delta append
    now cross once."""
    import numpy as np
    import pandas as pd

    books = np.asarray(books)
    m, _, dsub = books.shape
    id_type = corpus.schema[corpus_id].dataType.simpleString()
    cell_type = centroids.schema["centroid_id"].dataType.simpleString()
    out_schema = f"vec_id {id_type}, codes array<int>, cell {cell_type}"
    cent_ids, cmat, cnorm = _centroid_arrays(centroids)
    if cent_ids is None:
        return (
            corpus.select(
                F.col(corpus_id).alias("vec_id"),
                F.array().cast("array<int>").alias("codes"),
                F.lit(None).cast(cell_type).alias("cell"),
            ).limit(0)
        )

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            order = _assign_order_np(v, cmat, cnorm)[:, 0]
            codes = np.empty((len(v), m), dtype=np.int32)
            for j in range(m):
                sub = v[:, j * dsub : (j + 1) * dsub]
                d = sub @ books[j].T * -2.0 + (books[j] ** 2).sum(axis=1)
                codes[:, j] = np.argmin(d, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[corpus_id].to_numpy(),
                    "codes": list(codes),
                    "cell": cent_ids[order],
                }
            )

    return corpus.select(corpus_id, vec_col).mapInPandas(run, schema=out_schema)


def _pq_encode_with_error(
    corpus: DataFrame,
    books,
    centroids: DataFrame = None,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple = (),
) -> DataFrame:
    """One Arrow pass emitting BOTH the encoded rows and the
    quantization-error partials — the streaming index sink's per-epoch
    fusion (round-14, guide §4.2): the former shape ran one crossing
    for the append (:func:`_pq_encode_with_cells` / :func:`pq_encode`)
    and a SECOND full crossing for the drift metric
    (:func:`pq_quantization_error`), re-computing the identical argmin
    codes both times.

    With ``centroids`` given, behaves like :func:`_pq_encode_with_cells`
    (nearest-cell assignment fused in — the non-residual append);
    without, like :func:`pq_encode` with ``keep_cols`` (the residual
    append, whose input already carries ``cell``). Output rows carry
    two extra nullable columns ``__n/__sq``: data rows leave them
    NULL, and each pandas batch appends ONE sentinel row (ids/codes
    NULL) holding that batch's ``(n, Σ‖v − reconstruction‖²)`` —
    computed with the exact expressions and accumulation order of
    :func:`pq_quantization_error`, so
    ``sum(__sq)/sum(__n)`` reproduces its mse. Codes are the same
    argmin on the same float64 batch ⇒ bit-identical rows."""
    import numpy as np
    import pandas as pd

    books = np.asarray(books)
    m, _, dsub = books.shape
    id_type = corpus.schema[corpus_id].dataType.simpleString()
    keep_cols = tuple(keep_cols)
    keep_types = {
        c: corpus.schema[c].dataType.simpleString() for c in keep_cols
    }
    with_cells = centroids is not None
    if with_cells:
        cell_type = centroids.schema["centroid_id"].dataType.simpleString()
        cent_ids, cmat, cnorm = _centroid_arrays(centroids)
        out_schema = (
            f"vec_id {id_type}, codes array<int>, cell {cell_type}, "
            "__n double, __sq double"
        )
        if cent_ids is None:
            return (
                corpus.select(
                    F.col(corpus_id).alias("vec_id"),
                    F.array().cast("array<int>").alias("codes"),
                    F.lit(None).cast(cell_type).alias("cell"),
                    F.lit(None).cast("double").alias("__n"),
                    F.lit(None).cast("double").alias("__sq"),
                ).limit(0)
            )
    else:
        out_schema = (
            f"vec_id {id_type}, codes array<int>"
            + "".join(f", {c} {keep_types[c]}" for c in keep_cols)
            + ", __n double, __sq double"
        )

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.empty((len(v), m), dtype=np.int32)
            sq = 0.0
            for j in range(m):
                sub = v[:, j * dsub : (j + 1) * dsub]
                d = sub @ books[j].T * -2.0 + (books[j] ** 2).sum(axis=1)
                cj = np.argmin(d, axis=1)
                codes[:, j] = cj
                # the pq_quantization_error expressions, verbatim:
                # same operands, same per-subspace accumulation order
                diff = sub - books[j][cj]
                sq += float((diff * diff).sum())
            out = {
                "vec_id": pdf[corpus_id].to_numpy(),
                "codes": list(codes),
            }
            if with_cells:
                order = _assign_order_np(v, cmat, cnorm)[:, 0]
                out["cell"] = cent_ids[order]
            else:
                for c in keep_cols:
                    out[c] = pdf[c].to_numpy()
            # data rows: error columns NULL (object-None, not NaN —
            # dtype-safe for every id type); sentinel row: ids NULL,
            # this batch's partial — two frames, no dtype coercion
            data = pd.DataFrame(out)
            data["__n"] = pd.Series([None] * len(v), dtype=object)
            data["__sq"] = pd.Series([None] * len(v), dtype=object)
            sentinel = {k: [None] for k in data.columns}
            sentinel["__n"] = [float(len(v))]
            sentinel["__sq"] = [sq]
            yield data
            yield pd.DataFrame(sentinel)

    cols = (
        (corpus_id, vec_col)
        if with_cells
        else (corpus_id, vec_col) + keep_cols
    )
    return corpus.select(*cols).mapInPandas(run, schema=out_schema)


def ivfpq_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
    train_sample: int = 65536,
):
    """IVF-PQ index build — the composed inverted-file + product-
    quantization artifact (Jegou et al. 2011 §IV "IVFADC", the shape
    FAISS deploys as ``IndexIVFPQ``): ``(centroids, books,
    encoded_cells)`` where ``encoded_cells`` is the corpus as
    ``(vec_id, codes, cell)`` — m byte codes (~32x storage cut) keyed
    by nearest-centroid cell. Persist it ``partitionBy("cell")`` once
    per snapshot; :func:`ivfpq_topk` then reads ONLY probed cells
    (static partition pruning) and scores them by ADC lookups — the
    two pruning levers multiply: cells cut the rows read, codes cut
    the bytes per row, which is what makes exhaustive-quality ANN
    affordable at 100 TB.

    Codes quantize the RAW vectors (the non-residual IVFADC variant):
    residual encoding would subtract each row's centroid before
    quantizing — slightly tighter codes, but the encoded table would
    then be unusable without the centroid join and the plain-PQ delta
    path (:func:`pq_index_append`) could no longer feed both indexes
    from one encode pass. Incremental maintenance composes the two
    existing delta paths: :func:`ivf_index_append` for the cell,
    :func:`pq_index_append` for the codes, joined on the id."""
    centroids = ivf_centroids(corpus, n_centroids, corpus_id, vec_col, seed)
    books = pq_codebooks(
        corpus, m=m, ksub=ksub, iters=iters, vec_col=vec_col,
        id_col=corpus_id, seed=seed, train_sample=train_sample,
    )
    # assignment + codes in ONE Arrow pass — no corpus-sized id join
    # (the pre-round shape), no second Python crossing (the first
    # round-13 cut): see _pq_encode_with_cells
    encoded_cells = _pq_encode_with_cells(
        corpus, books, centroids, corpus_id=corpus_id, vec_col=vec_col
    )
    return centroids, books, encoded_cells


def ivfpq_index_and_baseline(
    corpus: DataFrame,
    n_centroids: int = 16,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
    train_sample: int = 65536,
    residual: bool = False,
):
    """:func:`ivfpq_index` / :func:`ivfpq_residual_index` build PLUS
    the build-time drift baseline, sharing one encode pass (round-14,
    guide §1.2): the former snapshot-build sequence ran the corpus
    encode once for the stored index and a second full pass
    (:func:`pq_quantization_error` / :func:`residual_quantization_error`)
    for the baseline — and the residual build additionally re-executed
    the assign+centroid-subtract subtree per consumer (codebook
    sample, encode, baseline). Returns ``(centroids, books,
    encoded_cells, baseline)`` where ``encoded_cells`` is materialized
    (eager localCheckpoint — the caller persists it anyway) and
    ``baseline`` is the one-row ``(n_vectors, mse)`` frame. Artifacts
    are value-identical to the unfused builders: same centroid/book
    training calls, same argmin codes, and the baseline partials use
    the :func:`pq_quantization_error` expressions verbatim
    (see :func:`_pq_encode_with_error`)."""
    centroids = ivf_centroids(corpus, n_centroids, corpus_id, vec_col, seed)
    if residual:
        cells = _ivf_assign(
            corpus.select(
                F.col(corpus_id).alias("vec_id"), F.col(vec_col).alias("c_vec")
            ),
            centroids,
            "vec_id",
            "c_vec",
            keep=1,
        )
        # materialized once: the codebook sample collect, the encode
        # and the baseline all read it — lazily each re-ran the
        # assign pass + centroid join
        resid = materialize_once(
            _ivf_residuals(cells, centroids, "vec_id", "c_vec")
        )
        books = pq_codebooks(
            resid, m=m, ksub=ksub, iters=iters, vec_col="__resid",
            id_col="vec_id", seed=seed, train_sample=train_sample,
        )
        fused = _pq_encode_with_error(
            resid, books, corpus_id="vec_id", vec_col="__resid",
            keep_cols=("cell",),
        )
    else:
        books = pq_codebooks(
            corpus, m=m, ksub=ksub, iters=iters, vec_col=vec_col,
            id_col=corpus_id, seed=seed, train_sample=train_sample,
        )
        fused = _pq_encode_with_error(
            corpus, books, centroids=centroids, corpus_id=corpus_id,
            vec_col=vec_col,
        )
    fused = materialize_once(fused)
    encoded_cells = fused.filter(F.col("__n").isNull()).select(
        "vec_id", "codes", "cell"
    )
    baseline = fused.filter(F.col("__n").isNotNull()).agg(
        F.sum("__n").cast("long").alias("n_vectors"),
        (F.sum("__sq") / F.sum("__n")).alias("mse"),
    )
    return centroids, books, encoded_cells, baseline


def ivfpq_topk(
    queries: DataFrame,
    centroids: DataFrame,
    books,
    encoded_cells: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
    max_queries: int = 10_000,
) -> DataFrame:
    """ADC top-k restricted to each query's ``nprobe`` nearest cells —
    the IVFADC query path over an :func:`ivfpq_index` artifact. One
    broadcast pass assigns queries to cells; the probed-cell union
    becomes a LITERAL IN-filter on the encoded table (static partition
    pruning on a ``partitionBy("cell")`` index — same lever as
    :func:`ivf_topk_from_index`); each Arrow batch scores each query
    against ONLY its own probed cells (vectorized ``isin`` mask + m
    LUT lookups per surviving row) and emits its local top-k, merged
    by one skinny ranked window. Corpus floats are never read, the
    code table never shuffles.

    Returns ``(query_id, neighbor_id, adist, rnk)`` like
    :func:`pq_topk` — with ``nprobe >= |cells|`` the two are
    row-identical (the probe mask passes everything; pinned in
    tests), and smaller ``nprobe`` trades recall for the pruned scan.
    Approximation stacks: quantization error (PQ) + cell pruning
    (IVF); an exact-duplicate pair still ties at the minimum adist
    INSIDE a shared probed cell, so the planted-retrieval contract
    survives composition."""
    import numpy as np
    import pandas as pd

    books = np.asarray(books)
    m, ksub, dsub = books.shape
    qid_type = queries.schema[query_id].dataType.simpleString()
    nid_type = encoded_cells.schema["vec_id"].dataType.simpleString()
    qids, qvecs, qcells = _collect_query_probes(
        queries, centroids, query_id, vec_col, nprobe, max_queries, "ivfpq_topk"
    )
    if not qids:
        return _empty_adist_frame(encoded_cells, qid_type)
    qmat = np.asarray([qvecs[q] for q in qids], dtype=np.float64)
    probe_sets = [np.asarray(sorted(qcells[q])) for q in qids]
    luts = np.empty((len(qids), m, ksub), dtype=np.float64)
    for j in range(m):
        sub = qmat[:, j * dsub : (j + 1) * dsub]
        luts[:, j, :] = (
            (sub * sub).sum(axis=1, keepdims=True)
            - 2.0 * sub @ books[j].T
            + (books[j] ** 2).sum(axis=1)
        )
    probed = sorted({c for s in qcells.values() for c in s})

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            cells = pdf["cell"].to_numpy()
            codes = np.asarray(pdf["codes"].tolist(), dtype=np.int64)
            for qi, qid in enumerate(qids):
                mask = np.isin(cells, probe_sets[qi])
                if not mask.any():
                    continue
                sub_ids = ids[mask]
                d = luts[qi][np.arange(m), codes[mask]].sum(axis=1)
                d = np.round(np.maximum(d, 0.0), 6)
                order = np.lexsort((sub_ids, d))[:k]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": sub_ids[order],
                        "adist": d[order],
                    }
                )

    scored = (
        encoded_cells.filter(F.col("cell").isin(probed))
        .mapInPandas(
            score,
            schema=f"query_id {qid_type}, neighbor_id {nid_type}, adist double",
        )
    )
    return _ranked_adist_topk(scored, k)


def ivfpq_index_append(
    delta: DataFrame,
    centroids: DataFrame,
    books,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental IVF-PQ maintenance: the composed index appends by
    composing its two delta paths — :func:`pq_index_append` encodes
    the new batch against the FROZEN codebooks (one row-local Arrow
    pass), :func:`ivf_index_append` assigns it to the FROZEN
    centroids (one broadcast pass), and the join on the id yields
    rows in the :func:`ivfpq_index` ``encoded_cells`` schema, ready
    to ``mode("append").partitionBy("cell")`` into the stored index.
    Only the delta is read; only the delta's cell partitions are
    touched. Both artifacts frozen => append is row-identical to a
    full re-encode+re-assign of corpus+delta under the same
    artifacts (the append-equals-rebuild property both parent paths
    pin individually; the registered contract pins the composition).
    Retraining either artifact is a REBUILD — the drift trigger is
    :func:`pq_quantization_error` measured per delta batch, exactly
    as documented on :func:`pq_index_append`."""
    # one fused delta pass: assignment + codes in a single Arrow
    # crossing — no delta-sized id join, no chained second crossing
    return _pq_encode_with_cells(
        delta, books, centroids, corpus_id=corpus_id, vec_col=vec_col
    )


def _ivf_residuals(cells: DataFrame, centroids: DataFrame, id_out: str, vec_out: str) -> DataFrame:
    """Subtract each row's OWN cell centroid: ``(id, cell, __resid)``.
    One broadcast join (centroids are kilobytes); the subtraction is a
    JVM ``zip_with`` — float input minus double centroid widens to
    double, deterministically."""
    return (
        cells.join(
            F.broadcast(
                centroids.select(
                    F.col("centroid_id").alias("cell"), "centroid_vec"
                )
            ),
            "cell",
        )
        .select(
            F.col(id_out),
            F.col("cell"),
            F.zip_with(
                F.col(vec_out), F.col("centroid_vec"), lambda a, b: a - b
            ).alias("__resid"),
        )
    )


def ivfpq_residual_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
    train_sample: int = 65536,
):
    """RESIDUAL-encoding IVF-PQ index — the full IVFADC construction
    (Jegou et al. 2011 §IV): codes quantize ``vec - centroid[cell]``
    instead of the raw vector. Residuals concentrate around the
    origin with per-cell variance removed, so the same code budget
    (equal m, ksub — equal BYTES) spends its codewords on a tighter
    distribution. Measured (NOTES.md round 9): on CLUSTERED vectors
    (12 well-separated clusters, the regime real embedding corpora
    live in) recall@10 vs exact L2 is 0.24 residual vs 0.09
    non-residual at identical storage — 2.6x; on the deliberately
    near-uniform driver fixture the two tie (~0.26-0.31 both ways,
    residual a hair lower), because with no cluster structure there
    is no per-cell offset to remove. Residual is the right default
    when the corpus actually clusters; the knob exists because the
    answer is data-dependent and the drift metric tells you which
    regime you are in.

    The price, as documented on :func:`ivfpq_index`: the codebooks
    are meaningful only RELATIVE to a cell, so every encode (build or
    delta) needs the centroid join first, and the plain-PQ delta path
    cannot feed this index from its raw-vector encode pass —
    :func:`ivfpq_residual_index_append` is the composed delta path.
    Query-side LUTs are per (query, probed cell) rather than per
    query (``nprobe`` × the LUT build, still driver-tiny).

    Returns ``(centroids, books, encoded_cells)`` with the same
    ``encoded_cells`` schema as :func:`ivfpq_index` — persist
    ``partitionBy("cell")``, prune statically on reads."""
    centroids = ivf_centroids(corpus, n_centroids, corpus_id, vec_col, seed)
    cells = _ivf_assign(
        corpus.select(
            F.col(corpus_id).alias("vec_id"), F.col(vec_col).alias("c_vec")
        ),
        centroids,
        "vec_id",
        "c_vec",
        keep=1,
    )
    resid = _ivf_residuals(cells, centroids, "vec_id", "c_vec")
    books = pq_codebooks(
        resid, m=m, ksub=ksub, iters=iters, vec_col="__resid",
        id_col="vec_id", seed=seed, train_sample=train_sample,
    )
    encoded_cells = pq_encode(
        resid, books, vec_col="__resid", id_col="vec_id", keep_cols=("cell",)
    )
    return centroids, books, encoded_cells


def ivfpq_residual_index_append(
    delta: DataFrame,
    centroids: DataFrame,
    books,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental maintenance of the residual index: assign the new
    batch to the FROZEN centroids, subtract the assigned centroid,
    encode the residuals against the FROZEN books — delta-only reads,
    rows in the ``encoded_cells`` schema ready to
    ``mode("append").partitionBy("cell")``. Frozen artifacts =>
    append-equals-rebuild, exactly as the non-residual composition
    pins; the drift observable is the residual-space
    :func:`pq_quantization_error` per delta batch."""
    cells = _ivf_assign(
        delta.select(
            F.col(corpus_id).alias("vec_id"), F.col(vec_col).alias("c_vec")
        ),
        centroids,
        "vec_id",
        "c_vec",
        keep=1,
    )
    resid = _ivf_residuals(cells, centroids, "vec_id", "c_vec")
    return pq_encode(
        resid, books, vec_col="__resid", id_col="vec_id", keep_cols=("cell",)
    )


def ivfpq_residual_topk(
    queries: DataFrame,
    centroids: DataFrame,
    books,
    encoded_cells: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
    max_queries: int = 10_000,
) -> DataFrame:
    """ADC top-k over a RESIDUAL-encoded index: per (query, probed
    cell), the LUT is built from the query's residual AGAINST THAT
    CELL (``q - centroid[cell]``), so
    ``lut.sum ≈ ||q - (centroid + decoded_residual)||²`` — the same
    approximate L2 the non-residual path computes, with tighter
    codes. LUT memory is |Q| × nprobe × m × ksub doubles — still
    driver-tiny at the query-batch cap. Plan shape is identical to
    :func:`ivfpq_topk`: one bounded collect for probes+vectors, a
    literal probed-cell IN-filter (static partition pruning on the
    stored index), per-Arrow-batch LUT scoring, one skinny ranked
    merge. An exact duplicate lands in the same cell with the same
    residual codes, so planted rank-1 retrieval survives (id
    tie-break)."""
    import numpy as np
    import pandas as pd

    books = np.asarray(books)
    m, ksub, dsub = books.shape
    qid_type = queries.schema[query_id].dataType.simpleString()
    nid_type = encoded_cells.schema["vec_id"].dataType.simpleString()
    cent_rows = centroids.collect()  # bounded: n_centroids rows
    cent = {
        r["centroid_id"]: np.asarray(r["centroid_vec"], dtype=np.float64)
        for r in cent_rows
    }
    qids, qvecs, qcells = _collect_query_probes(
        queries, centroids, query_id, vec_col, nprobe, max_queries,
        "ivfpq_residual_topk",
    )
    if not qids:
        return _empty_adist_frame(encoded_cells, qid_type)
    # per-(query, probed cell) LUTs from the query residual AGAINST
    # THAT CELL, built as ONE vectorized batch over all (q, cell)
    # pairs (review finding: the first cut looped per pair per
    # subspace in Python — |Q|*nprobe*m scalar LUT builds)
    pair_list = [(qid, c) for qid in qids for c in qcells[qid]]
    rmat = np.asarray(
        [np.asarray(qvecs[qid], dtype=np.float64) - cent[c] for qid, c in pair_list]
    )
    pair_luts = np.empty((len(pair_list), m, ksub), dtype=np.float64)
    for j in range(m):
        sub = rmat[:, j * dsub : (j + 1) * dsub]
        pair_luts[:, j, :] = (
            (sub * sub).sum(axis=1, keepdims=True)
            - 2.0 * sub @ books[j].T
            + (books[j] ** 2).sum(axis=1)
        )
    luts = {pair: pair_luts[i] for i, pair in enumerate(pair_list)}
    probed = sorted({c for s in qcells.values() for c in s})

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            cells = pdf["cell"].to_numpy()
            codes = np.asarray(pdf["codes"].tolist(), dtype=np.int64)
            for qid in qids:
                parts_i, parts_d = [], []
                for c in qcells[qid]:
                    mask = cells == c
                    if not mask.any():
                        continue
                    lut = luts[(qid, c)]
                    d = lut[np.arange(m), codes[mask]].sum(axis=1)
                    parts_i.append(ids[mask])
                    parts_d.append(d)
                if not parts_i:
                    continue
                sub_ids = np.concatenate(parts_i)
                d = np.round(np.maximum(np.concatenate(parts_d), 0.0), 6)
                order = np.lexsort((sub_ids, d))[:k]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": sub_ids[order],
                        "adist": d[order],
                    }
                )

    scored = (
        encoded_cells.filter(F.col("cell").isin(probed))
        .mapInPandas(
            score,
            schema=f"query_id {qid_type}, neighbor_id {nid_type}, adist double",
        )
    )
    return _ranked_adist_topk(scored, k)


# =====================================================================
# Scalar (int8) quantization + exact rerank — the SQ8 two-phase search
# =====================================================================


def sq8_quantize(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-vector symmetric int8 quantization: ``scale = max|x|/127``,
    ``code_i = floor(x_i/scale + 0.5)`` ∈ [−127, 127] (floor(x+0.5)
    instead of round(): IEEE floor of engine-identical operands is
    bit-deterministic across engines, where round() half-case rules
    differ). Adds ``sq8_codes array<int>`` and ``sq8_scale double``;
    zero vectors get all-zero codes with scale 0.

    This is the standard memory-bandwidth lever for vector search
    (public practice in FAISS's SQ8 / ScaNN's fixed-point AH): 4× less
    scan traffic than float32 at ≈ρ>0.99 rank correlation, no
    codebook training, exact per-vector reconstruction bound
    ``|x − scale·code| ≤ scale/2``."""
    v = F.col(vec_col)
    maxabs = F.aggregate(
        F.transform(v, lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    scale = maxabs / F.lit(127.0)
    codes = F.when(maxabs > 0, F.transform(
        v, lambda x: F.floor(x.cast("double") / scale + F.lit(0.5)).cast("int")
    )).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.withColumn("sq8_scale", scale).withColumn("sq8_codes", codes)


def _int_dot(a, b):
    """Exact integer dot product of two code arrays (values ≤ 127²·dim
    ≈ 10⁶ at dim 64 — long arithmetic, no FP)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _l2_normalized(df: DataFrame, vec_col: str) -> DataFrame:
    """Replace ``vec_col`` with its L2-normalized image (zero vectors
    pass through unchanged). Used by the SQ8 searches' ``normalize``
    path so the quantized dot product becomes ∝ cosine."""
    v = F.col(vec_col)
    nrm = F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return df.withColumn(
        vec_col,
        F.when(nrm > 0, F.transform(v, lambda x: x.cast("double") / nrm))
        .otherwise(F.transform(v, lambda x: x.cast("double"))),
    )


def _l2_normalize_np(v):
    """numpy twin of :func:`_l2_normalized`, op-for-op: the norm is a
    strict ascending-dimension accumulation of squares (the JVM
    aggregate fold's IEEE sequence), one sqrt, one divide per element;
    zero-norm rows pass through. Bit-identical to the JVM path on the
    same float64 operands."""
    import numpy as np

    acc = np.zeros(len(v), dtype=np.float64)
    for d in range(v.shape[1]):
        col = v[:, d]
        acc = acc + col * col
    nrm = np.sqrt(acc)
    return np.where(nrm[:, None] > 0, v / nrm[:, None], v)


def _sq8_quantize_np(v):
    """numpy twin of :func:`sq8_quantize`, op-for-op: ``maxabs`` is an
    exact max, ``scale = maxabs/127`` one divide, codes
    ``floor(x/scale + 0.5)`` — floor of engine-identical operands, the
    same bit-deterministic recipe. Returns ``(codes int64, scale)``;
    zero vectors get all-zero codes with scale 0."""
    import numpy as np

    maxabs = np.max(np.abs(v), axis=1) if v.size else np.zeros(len(v))
    scale = maxabs / 127.0
    safe = np.where(scale > 0, scale, 1.0)
    codes = np.where(
        (maxabs > 0)[:, None], np.floor(v / safe[:, None] + 0.5), 0.0
    ).astype(np.int64)
    return codes, scale


def _sq8_phase1_partials(
    scan: DataFrame,
    out_qid_type: str,
    q_ids,
    q_codes,
    candidates: int,
    corpus_id: str,
    vec_col: str,
    exclude_self: bool,
    normalize: bool,
    probe_sets=None,
    cell_col: str = "cell",
    codes_col: str = None,
    scale_col: str = None,
) -> DataFrame:
    """The SQ8 phase-1 scorer as one Arrow pass with per-partition
    partial top-``candidates`` (round-14, guide §4.2 + §2.3): the
    former shape broadcast-joined the query codes against the corpus
    and evaluated an interpreted higher-order ``zip_with``+``aggregate``
    dot per (query, row) pair, then exchanged EVERY pair into a
    window sort. Here each Arrow batch computes all dots as one int64
    matrix product and emits only its local top-``candidates`` per
    query; the global window (the caller keeps it) ranks
    ``≤ partitions·|Q|·candidates`` skinny rows.

    Bit-exactness: the ordering key is ``double(int_dot) · c_scale``
    — integer dot (exact in any order) and ONE IEEE multiply of
    engine-identical operands, with quantization/normalization per
    :func:`_sq8_quantize_np` / :func:`_l2_normalize_np` — so every
    key equals the former JVM expression and the local cut keeps
    exactly what the global window would rank on top (same
    (key desc, neighbor_id) comparator; NULL-vector rows are emitted
    with NULL keys and rank after every scored row, as before).
    Non-finite vector components are outside the contract (the JVM
    window ranked NaN keys first; this path ranks them with +inf —
    documented limitation, matching the ADVICE r13 note on
    ``_assign_order_np``).

    Two input shapes: the FLAT corpus (``codes_col is None`` — vectors
    are quantized here, optionally normalized first) and the IVF-SQ8
    code index (``codes_col/scale_col/cell_col`` set, ``probe_sets``
    mapping each query to its probed cells — only rows in a query's
    probed cells are scored, exactly the former join-on-cell
    semantics)."""
    import numpy as np
    import pandas as pd

    nid_type = scan.schema[corpus_id].dataType.simpleString()
    out_schema = (
        f"query_id {out_qid_type}, neighbor_id {nid_type}, akey double"
    )
    q_ids = list(q_ids)
    nq = len(q_ids)
    qmat_t = q_codes.T.copy()

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[corpus_id].to_numpy()
            if codes_col is not None:
                cmat = np.asarray(pdf[codes_col].tolist(), dtype=np.int64)
                cscale = pdf[scale_col].to_numpy(dtype=np.float64)
                cells = pdf[cell_col].to_numpy()
                nn_mask = np.ones(len(ids), dtype=bool)
            else:
                raw = pdf[vec_col]
                nn_mask = np.array([x is not None for x in raw])
                vals = [np.asarray(x, dtype=np.float64) for x in raw[nn_mask]]
                v = (
                    np.asarray(vals)
                    if vals
                    else np.zeros((0, q_codes.shape[1]))
                )
                if normalize and len(v):
                    v = _l2_normalize_np(v)
                cmat, cscale = _sq8_quantize_np(v)
                cells = None
            ids_nn = ids[nn_mask]
            akeys = (
                (cmat @ qmat_t).astype(np.float64) * cscale[:, None]
                if len(ids_nn)
                else np.zeros((0, nq))
            )
            for qi, qid in enumerate(q_ids):
                keep = np.ones(len(ids_nn), dtype=bool)
                if cells is not None:
                    keep &= np.isin(cells, probe_sets[qi])
                if exclude_self:
                    keep &= ids_nn != qid
                if keep.any():
                    a = akeys[keep, qi]
                    nid = ids_nn[keep]
                    sel = np.where(np.isnan(a), np.inf, a)
                    order = np.lexsort((nid, -sel))[:candidates]
                    yield pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": nid[order],
                            "akey": a[order],
                        }
                    )
                if cells is None and not nn_mask.all():
                    # NULL-vector rows: NULL key (ranks after every
                    # scored row, neighbor-id ties — the former plan's
                    # NULLS LAST outcome); keep the smallest ids, the
                    # only ones the global window could still rank in
                    nid = ids[~nn_mask]
                    if exclude_self:
                        nid = nid[nid != qid]
                    nid = np.sort(nid)[:candidates]
                    if len(nid):
                        yield pd.DataFrame(
                            {
                                "query_id": qid,
                                "neighbor_id": nid,
                                "akey": [None] * len(nid),
                            }
                        )

    return scan.mapInPandas(score, schema=out_schema)


def _reject_null_queries(null_ids: list, fn_name: str) -> None:
    """Fail loudly on NULL query vectors, naming the query ids: a NULL
    has no quantized code or probe cell, and numpy would otherwise
    turn the query matrix ragged (one NULL) or into a 1-D NaN array
    (all NULL)."""
    if null_ids:
        shown = ", ".join(repr(q) for q in sorted(null_ids)[:20])
        more = f" (+{len(null_ids) - 20} more)" if len(null_ids) > 20 else ""
        raise ValueError(
            f"{fn_name}: NULL query vector for query ids {shown}{more}; "
            "drop or fill them before searching"
        )


def sq8_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    candidates: int = 50,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
    exclude_self: bool = True,
    normalize: bool = False,
) -> DataFrame:
    """Two-phase exact-rerank search: phase 1 ranks the corpus by the
    QUANTIZED dot product (integer codes; scan reads 1/4 the bytes and
    does integer MACs), keeps ``candidates`` per query; phase 2
    computes the exact float cosine ONLY on candidates and emits the
    top ``k``.

    Phase-1 ordering key: ``int_dot(q_codes, c_codes) · c_scale`` — the
    query's own scale is a positive per-query constant, so dropping it
    preserves ranking while keeping the key a SINGLE multiply of
    engine-identical operands (the NOTES float recipe: one IEEE op is
    bit-stable, chains are not). Ties break on neighbor id.

    Recall caveat (NOT just int8 rounding): the phase-1 key is a raw
    inner product while the final score is cosine, so with the default
    ``normalize=False`` the candidate set assumes NEAR-UNIFORM vector
    norms — on a corpus with heterogeneous norms a high-cosine but
    small-norm neighbor can be excluded from the candidates. Pass
    ``normalize=True`` to L2-normalize both sides before quantization
    (dot ∝ cosine; the inversions-only-between-near-equal-scores bound
    then holds unconditionally), at the cost of a float normalization
    chain ahead of quantization — fine for engine use, but the
    registered oracle twin pins the default path precisely because
    that chain is not bit-reproducible across engines. Either way the
    registry entry carries a MEASURED recall contract against the
    exact brute force rather than a claim.

    Scale shape: corpus never shuffles in phase 1 (queries broadcast,
    per-partition scoring, skinny candidate rows out); phase 2 touches
    ``candidates × |Q|`` rows."""
    import numpy as np

    qid_type = queries.schema[query_id].dataType.simpleString()
    # bounded collect doubles as the query-count guard (the former
    # separate limit+count job is gone — round-14, guide §1.5)
    qrows = (
        queries.select(F.col(query_id), F.col(vec_col))
        .limit(max_queries + 1)
        .collect()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"sq8_rerank_topk got > {max_queries} queries; bound the "
            "query set — phase 1 is O(|Q|·|corpus|) integer ops"
        )
    _reject_null_queries(
        [r[0] for r in qrows if r[1] is None], "sq8_rerank_topk"
    )
    if not qrows:
        # typed empty result (empty-input contract)
        return (
            corpus.select(
                F.col(corpus_id).alias("neighbor_id"),
                F.lit(0.0).alias("score"),
                F.lit(1).alias("rank"),
            )
            .withColumn("query_id", F.lit(None).cast(qid_type))
            .select("query_id", "neighbor_id", "score", "rank")
            .limit(0)
        )
    if normalize:
        queries = _l2_normalized(
            queries.select(F.col(query_id).alias(query_id), F.col(vec_col)),
            vec_col,
        )
        corpus = _l2_normalized(
            corpus.select(F.col(corpus_id).alias(corpus_id), F.col(vec_col)),
            vec_col,
        )
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    q_ids = [r[0] for r in qrows]
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)
    if normalize:
        qmat = _l2_normalize_np(qmat)
    q_codes, _ = _sq8_quantize_np(qmat)
    # phase 1: one Arrow pass, int64 matrix dots, per-partition local
    # top-candidates — the corpus never shuffles and the window below
    # ranks only ≤ partitions·|Q|·candidates skinny partials (formerly
    # EVERY (query, row) pair crossed the exchange and paid an
    # interpreted per-pair fold; see _sq8_phase1_partials)
    phase1 = _sq8_phase1_partials(
        corpus.select(F.col(corpus_id), F.col(vec_col)),
        qid_type,
        q_ids,
        q_codes,
        candidates,
        corpus_id,
        vec_col,
        exclude_self,
        normalize,
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("akey").desc(), F.col("neighbor_id")
    )
    cands = (
        phase1.withColumn("crank", F.row_number().over(w1))
        .filter(F.col("crank") <= candidates)
        .select("query_id", "neighbor_id")
    )
    rescored = (
        corpus.select(
            F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        )
        .join(F.broadcast(cands), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("score"),
        )
    )
    return _ranked_topk(rescored, "query_id", k)


def ivf_sq8_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
):
    """The composed IVF-SQ8 artifact pair ``(centroids, code_index)``
    — the FAISS ``IVF,SQ8`` shape: the corpus keyed by its
    nearest-centroid ``cell`` with per-vector int8 codes instead of
    floats. ``code_index`` rows are ``(cell, neighbor_id, sq8_codes,
    sq8_scale)`` — ~1/4 the bytes of the float cell index, written
    ``partitionBy("cell")`` once so queries scan only probed cells
    via partition pruning AND read quarter-width rows inside them:
    the two scan levers (prune cells, shrink bytes) compose."""
    centroids, cell_index = ivf_index(
        corpus, n_centroids, corpus_id, vec_col, seed
    )
    coded = sq8_quantize(cell_index, "c_vec").select(
        "cell", "neighbor_id", "sq8_codes", "sq8_scale"
    )
    return centroids, coded


def ivf_sq8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    candidates: int = 50,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
    max_queries: int = 10_000,
    exclude_self: bool = True,
    normalize: bool = False,
) -> DataFrame:
    """IVF-SQ8 search: probe each query's ``nprobe`` nearest cells,
    rank the probed cells' int8 codes by the quantized dot product
    (skinny (query, neighbor, key) rows only — the
    :func:`sq8_rerank_topk` phase-1 discipline), exact-rerank the
    ``candidates`` survivors against the float corpus by id.
    ``normalize=True`` L2-normalizes both sides first — see the
    :func:`sq8_rerank_topk` recall caveat for when the default raw
    inner-product candidate key is insufficient (heterogeneous norms).

    Cost at 100 TB: cells pruned at the scan (nprobe/n_centroids of
    the corpus), int8 bytes inside them (1/4 width), exact floats
    touched only for candidates·|Q| rows. With nprobe ≥ n_centroids
    and candidates ≥ |corpus| this is row-identical to
    :func:`sq8_rerank_topk` with full coverage (test-pinned)."""
    import numpy as np

    qid_type = queries.schema[query_id].dataType.simpleString()
    # query-side checks before the index build: the bounded collect of
    # skinny (id, is-NULL) rows doubles as the query-count guard
    qflags = (
        queries.select(F.col(query_id), F.col(vec_col).isNull())
        .limit(max_queries + 1)
        .collect()
    )
    if len(qflags) > max_queries:
        raise ValueError(f"ivf_sq8_topk got > {max_queries} queries")
    _reject_null_queries([r[0] for r in qflags if r[1]], "ivf_sq8_topk")
    if normalize:
        queries = _l2_normalized(
            queries.select(F.col(query_id).alias(query_id), F.col(vec_col)),
            vec_col,
        )
        corpus = _l2_normalized(
            corpus.select(F.col(corpus_id).alias(corpus_id), F.col(vec_col)),
            vec_col,
        )
    centroids, codes = ivf_sq8_index(
        corpus, n_centroids, corpus_id, vec_col, seed
    )
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    # one bounded job assigns probes AND collects the query vectors
    # (guard included) — the former shape paid a separate count job, a
    # JVM quantize and a probe-frame broadcast join (round-14)
    qids, qvecs, qcells = _collect_query_probes(
        q, centroids, "query_id", "q_vec", nprobe, max_queries, "ivf_sq8_topk"
    )
    if not qids:
        return (
            corpus.select(
                F.col(corpus_id).alias("neighbor_id"),
                F.lit(0.0).alias("score"),
                F.lit(1).alias("rank"),
            )
            .withColumn("query_id", F.lit(None).cast(qid_type))
            .select("query_id", "neighbor_id", "score", "rank")
            .limit(0)
        )
    qmat = np.asarray([qvecs[qq] for qq in qids], dtype=np.float64)
    q_codes, _ = _sq8_quantize_np(qmat)
    probe_sets = [np.asarray(sorted(qcells[qq])) for qq in qids]
    probed = sorted({c for s in qcells.values() for c in s})
    # probed cells only, as a LITERAL IN-filter — static partition
    # pruning on a partitionBy("cell") store (the ivfpq_topk recipe);
    # scoring reads the STORED int8 codes and ranks per partition in
    # one Arrow pass (see _sq8_phase1_partials)
    phase1 = _sq8_phase1_partials(
        codes.filter(F.col("cell").isin(probed)).select(
            "cell", "neighbor_id", "sq8_codes", "sq8_scale"
        ),
        qid_type,
        qids,
        q_codes,
        candidates,
        "neighbor_id",
        vec_col,
        exclude_self,
        normalize,
        probe_sets=probe_sets,
        cell_col="cell",
        codes_col="sq8_codes",
        scale_col="sq8_scale",
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("akey").desc(), F.col("neighbor_id")
    )
    cands = (
        phase1.withColumn("crank", F.row_number().over(w1))
        .filter(F.col("crank") <= candidates)
        .select("query_id", "neighbor_id")
    )
    rescored = (
        corpus.select(F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
        .join(F.broadcast(cands), "neighbor_id")
        .join(F.broadcast(q.select("query_id", "q_vec")), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("score"),
        )
    )
    return _ranked_topk(rescored, "query_id", k)
