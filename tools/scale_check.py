"""sf1.0-scale validation of the heavy operators (round-5 verdict #2).

All CORRECTNESS evidence is sf<=0.1; the 100 TB claims rest on plan
shape. This tool makes the scaling claim *measured*: it generates a
10x documents/embeddings dataset (sf1.0-equivalent: 50k docs, 20k
vectors — same schemas, same text/vector character as the driver's
testdata, plus ~2% planted near-dups so the dedup candidate structure
stays realistic), runs each heavy operator end-to-end (noop sink) at
sf0.1 and at sf1.0, and prints the wall-time ratio per operator.

Pass criterion (from VERDICT r04): ratio <~ 12x is near-linear;
>= 30x exposes a hidden quadratic or plan blowup before a real
cluster would.

The generated data lives under .scale/ (gitignored) and is a
PERFORMANCE fixture only — correctness always runs against the
driver's /root/testdata parquet.

    python tools/scale_check.py [--mult 10] [--ops op1,op2]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE_SF = "/root/testdata/sf0.1"

# The sf0.1 corpus vocabulary (documents.text is space-joined picks
# from this set — same flavor as the driver generator's output).
VOCAB = [
    "spark", "line", "column", "order", "small", "sort", "fast", "value",
    "batch", "part", "scan", "query", "agg", "table", "stream", "hash",
    "filter", "customer", "slow", "vector", "join", "shuffle", "key",
    "row", "page", "cache", "disk", "plan", "stage", "task", "node",
    "block", "index", "merge", "split", "group", "window", "frame",
]

HEAVY_OPS = [
    "minhash_near_dup_pairs",
    "delta_dedup_incremental",
    "simhash_hamming_pairs",
    "ann_cosine_topk_ivf_indexed",
    "heavy_hitter_tokens",
    "embedding_kmeans_clusters",
    # the JVM-fold semdedup (semdedup_near_dup_pairs bench_fn) is
    # deliberately absent: measured >20 min at 20k vectors (the
    # expression fold pays an expression-tree walk per Gram element);
    # the arrow path below is the production hot path at scale
    "semdedup_pairs_arrow",
    "boilerplate_span_coverage",
    "keyword_search_bm25",
    "quality_classifier_scores",
    "doc_chunking_for_embedding",
    "cluster_aware_split",
    "bpe_pair_stats",
    "embedding_pca_whitening",
    "ngram_lm_perplexity",
    # round-9 additions (documents/embeddings fixtures)
    "ann_cosine_topk_ivfpq",
    "ann_ivfpq_delta_append",
    "bpe_tokenizer_encode",
    "embedding_random_projection",
    "multimodal_frame_sample",
    # registered in round 10 (formerly staged; documents/embeddings
    # fixtures)
    "kmv_source_overlap",
    "heavy_hitters_per_lang",
    "hybrid_search_rrf3",
    "ann_cosine_topk_ivfpq_residual",
    "bpe_byte_level_encode",
    "containment_decontamination",
    # registered in round 11 (documents/embeddings fixtures — the
    # events-based ops (quantile_sketch_events, robust_stats_value)
    # have no scale fixture here: their scale argument is structural,
    # the sample filter/sort touches p·n rows)
    "countmin_trigram_freq",
    "hll_distinct_trigrams",
    "ngram_novelty_scores",
    "phrase_top_bigram",
    "ann_sq8_rerank",
    # registered in round 12 (documents/embeddings fixtures; the
    # streaming/events-based ones — quantile_drift_monitor,
    # streaming_bloom_decontaminate — are measured on the testdata
    # decade instead, NOTES round 11)
    "pii_redaction_stats",
    "gopher_repetition_filter",
    "ann_ivf_sq8",
    "embedding_isotropy_probe",
    # registered in round 13 (documents fixture; the warehouse
    # ones — proration, ABC, islands, sweep-line — are relational
    # and live in R5_RELATIONAL_OPS below)
    "bigram_pmi_topk",
]


def generate(spark, mult: int, out_dir: str, docs_only: bool = False) -> None:
    """10x-scale documents + embeddings with the driver tables'
    schemas. Fully distributed (spark.range + xxhash64 picks — no
    driver-side data), deterministic, with planted near-dup pairs:
    every doc with id % 50 == 1 is a one-word-appended copy of id-1,
    so LSH/banding finds real candidates instead of an empty set."""
    n_docs = 5000 * mult
    n_vecs = 2000 * mult

    os.makedirs(out_dir, exist_ok=True)

    vocab = F.array(*[F.lit(w) for w in VOCAB])
    base = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    # near-dup plant: text is generated from base_id, identical for
    # (id-1, id) pairs where id % 50 == 1, then the copy gets a suffix
    base = base.withColumn(
        "base_id",
        F.when(F.col("doc_id") % 50 == 1, F.col("doc_id") - 1).otherwise(
            F.col("doc_id")
        ),
    )
    n_words = (F.pmod(F.xxhash64("base_id", F.lit("len")), F.lit(70)) + 10)
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda i: F.element_at(
            vocab,
            F.pmod(F.xxhash64(F.col("base_id"), i), F.lit(len(VOCAB))).cast("int")
            + 1,
        ),
    )
    text = F.concat_ws(" ", words)
    text = F.when(
        F.col("doc_id") % 50 == 1, F.concat(text, F.lit(" extra"))
    ).otherwise(text)
    langs = F.array(*[F.lit(x) for x in ("en", "en", "en", "zh", "de", "fr", "es")])
    docs = base.select(
        "doc_id",
        text.alias("text"),
        F.element_at(
            langs, F.pmod(F.xxhash64("doc_id", F.lit("lang")), F.lit(7)).cast("int") + 1
        ).alias("lang"),
        F.concat(
            F.lit("src"),
            F.pmod(F.xxhash64("doc_id", F.lit("src")), F.lit(20)).cast("int"),
        ).alias("source"),
    ).withColumn("n_chars", F.length("text"))
    docs.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )
    if docs_only:
        return

    # embeddings: 64-dim float vectors = weak label signal + dominant
    # noise, both from xxhash64 -> U(-1,1). The driver's sf0.1 fixture
    # is near-uniform (its most-similar natural pair sits at cos 0.479,
    # per the semdedup docstring); a tightly-clustered fixture would
    # make every within-cell pair clear semdedup's 0.4 threshold and
    # turn the benchmark into an output-volume test (measured: ~25M
    # emitted pairs, >15 min at 20k vectors). Signal 0.5 / noise 1.0
    # puts same-label cosine ~0.2: structure for kmeans, realistic
    # pair counts.
    def u(seedcol, d):
        return (
            F.pmod(F.xxhash64(seedcol, d), F.lit(1_000_003)).cast("double")
            / 500_001.5
            - 1.0
        )

    vecs = (
        spark.range(n_vecs)
        .withColumnRenamed("id", "vec_id")
        .withColumn("label", (F.col("vec_id") % 10).cast("int"))
    )
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda d: (0.5 * u(F.col("label").cast("long"), d) + u(F.col("vec_id"), d))
        .cast("float"),
    )
    vecs.select("vec_id", emb.alias("embedding"), "label").repartition(
        32
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "embeddings.parquet"))


# round-5 closing operators (VERDICT r05 #6): read the relational
# tables, so their scale fixture is generated by generate_relational
R5_RELATIONAL_OPS = [
    "scd2_point_in_time_join",
    "ordered_funnel_3step",
    "event_seasonality_profile",
    "event_sequence_trigrams",
    "data_expectations_gate",
    "referential_integrity_audit",
    "benford_first_digit_audit",
    # round 7: binned range join (orders+lineitem; measured sf1->sf10
    # ratio 1.6x)
    "shipdate_window_range_join_binned",
    # round 8: co-purchase graph metrics (lineitem)
    "graph_degree_distribution",
    "graph_triangle_count",
    # round 9: co-purchase graph decomposition/communities (lineitem)
    "graph_kcore_membership",
    "graph_label_propagation",
    # round 12: warehouse ops (orders/lineitem/events fixtures)
    "order_line_proration",
    "pareto_abc_parts",
    "user_activity_islands",
    "peak_concurrent_activity",
    # r12 promotions on the events fixture
    "cusum_changepoint_daily",
    "retention_cohort_matrix",
    "event_transition_matrix",
    "rfm_customer_segments",
    "revenue_concentration_gini",
]
# (the remaining r5 closers — weighted_sample_aes, doc_token_entropy —
# read the documents fixture, which generate() already covers, as does
# round 7's corpus_snapshot_diff: measured sf1->sf10 ratio 1.3x)


def generate_relational(spark, mult: int, out_dir: str) -> None:
    """Scaled orders/lineitem/customer/supplier/events with the driver
    tables' schemas and value domains (status/priority enums, 1995-2001
    order dates, 30-day event window, signup/view/click/purchase/error
    types) — deterministic xxhash64 draws, referentially intact keys.
    PERFORMANCE fixture only, like the documents generator: correctness
    always runs against /root/testdata."""
    # coefficient = one tenth of the sf0.1 driver count (150k orders /
    # 600k lineitem / 15k customer / 1k supplier / 100k events), so
    # mult=10 => 10x sf0.1 — the same convention as the documents
    # generator (5000 * mult). Round-6 bug note: the first cut used
    # coefficients 10x too small, silently producing sf0.1-SIZED
    # "sf1" fixtures; the first measurement pass compared same-sized
    # data and had to be redone.
    os.makedirs(out_dir, exist_ok=True)
    n_orders = 150_000 * mult
    n_cust = 15_000 * mult
    n_supp = max(1_000 * mult, 100)
    n_events = 100_000 * mult

    def h(col, tag, mod):
        return F.pmod(F.xxhash64(col, F.lit(tag)), F.lit(mod))

    o = spark.range(n_orders).withColumnRenamed("id", "o_orderkey")
    status = F.array(F.lit("O"), F.lit("F"), F.lit("P"))
    prio = F.array(*[F.lit(p) for p in (
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")])
    orders = o.select(
        "o_orderkey",
        h(F.col("o_orderkey"), "cust", n_cust).alias("o_custkey"),
        F.element_at(status, h(F.col("o_orderkey"), "st", 3).cast("int") + 1
                     ).alias("o_orderstatus"),
        (h(F.col("o_orderkey"), "tp", 49_900_000).cast("double") / 100.0 + 1000.0
         ).alias("o_totalprice"),
        F.timestamp_seconds(
            F.lit(788918400)  # 1995-01-01 UTC
            + h(F.col("o_orderkey"), "dt", 2400).cast("long") * 86400
        ).alias("o_orderdate"),
        F.element_at(prio, h(F.col("o_orderkey"), "pr", 5).cast("int") + 1
                     ).alias("o_orderpriority"),
    )
    orders.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "orders.parquet"))

    li = spark.range(n_orders * 4).withColumnRenamed("id", "k")
    rf = F.array(F.lit("N"), F.lit("A"), F.lit("R"))
    ls = F.array(F.lit("O"), F.lit("F"))
    lineitem = li.select(
        (F.col("k") % n_orders).alias("l_orderkey"),
        h(F.col("k"), "part", 20_000 * mult).alias("l_partkey"),
        h(F.col("k"), "supp", n_supp).alias("l_suppkey"),
        (F.col("k") / n_orders).cast("int").alias("l_linenumber"),
        (h(F.col("k"), "qty", 50).cast("double") + 1.0).alias("l_quantity"),
        (h(F.col("k"), "px", 9_000_000).cast("double") / 100.0 + 1000.0
         ).alias("l_extendedprice"),
        (h(F.col("k"), "disc", 11).cast("double") / 100.0).alias("l_discount"),
        (h(F.col("k"), "tax", 9).cast("double") / 100.0).alias("l_tax"),
        F.element_at(rf, h(F.col("k"), "rf", 3).cast("int") + 1).alias("l_returnflag"),
        F.element_at(ls, h(F.col("k"), "ls", 2).cast("int") + 1).alias("l_linestatus"),
        F.timestamp_seconds(
            F.lit(788918400) + h(F.col("k"), "sd", 2520).cast("long") * 86400
        ).alias("l_shipdate"),
    )
    lineitem.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "lineitem.parquet"))

    seg = F.array(*[F.lit(s) for s in (
        "FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD")])
    spark.range(n_cust).withColumnRenamed("id", "c_custkey").select(
        "c_custkey",
        F.format_string("Customer#%09d", F.col("c_custkey")).alias("c_name"),
        h(F.col("c_custkey"), "nat", 25).cast("int").alias("c_nationkey"),
        (h(F.col("c_custkey"), "bal", 1_100_000).cast("double") / 100.0 - 1000.0
         ).alias("c_acctbal"),
        F.element_at(seg, h(F.col("c_custkey"), "seg", 5).cast("int") + 1
                     ).alias("c_mktsegment"),
    ).repartition(8).write.mode("overwrite").parquet(
        os.path.join(out_dir, "customer.parquet"))

    spark.range(n_supp).withColumnRenamed("id", "s_suppkey").select(
        "s_suppkey",
        F.format_string("Supplier#%09d", F.col("s_suppkey")).alias("s_name"),
        h(F.col("s_suppkey"), "nat", 25).cast("int").alias("s_nationkey"),
        (h(F.col("s_suppkey"), "bal", 1_100_000).cast("double") / 100.0 - 1000.0
         ).alias("s_acctbal"),
    ).repartition(4).write.mode("overwrite").parquet(
        os.path.join(out_dir, "supplier.parquet"))

    # part: the key domain the lineitem generator draws from
    # (20_000 * mult); names from the driver tables' 8x8 vocab so
    # string ops (record linkage blocking, name ranks) see the same
    # distinct-name structure at every mult
    adjs = F.array(*[F.lit(a) for a in (
        "blue", "cold", "hot", "large", "new", "old", "red", "small")])
    nouns = F.array(*[F.lit(n) for n in (
        "anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")])
    ptype = F.array(*[F.lit(t) for t in (
        "ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")])
    spark.range(20_000 * mult).withColumnRenamed("id", "p_partkey").select(
        "p_partkey",
        F.concat_ws(
            " ",
            F.element_at(adjs, h(F.col("p_partkey"), "adj", 8).cast("int") + 1),
            F.element_at(nouns, h(F.col("p_partkey"), "nn", 8).cast("int") + 1),
        ).alias("p_name"),
        F.format_string(
            "Brand#%d", h(F.col("p_partkey"), "br", 25).cast("int") + 1
        ).alias("p_brand"),
        F.element_at(ptype, h(F.col("p_partkey"), "pt", 6).cast("int") + 1
                     ).alias("p_type"),
        (h(F.col("p_partkey"), "sz", 50).cast("int") + 1).alias("p_size"),
        (h(F.col("p_partkey"), "rp", 1000).cast("double") / 10.0 + 900.0
         ).alias("p_retailprice"),
    ).repartition(8).write.mode("overwrite").parquet(
        os.path.join(out_dir, "part.parquet"))

    et = F.array(*[F.lit(t) for t in ("signup", "view", "click", "purchase", "error")])
    spark.range(n_events).withColumnRenamed("id", "event_id").select(
        "event_id",
        F.timestamp_seconds(
            F.lit(1704067200)  # 2024-01-01 UTC
            + h(F.col("event_id"), "ts", 30 * 86400).cast("long")
        ).alias("ts"),
        h(F.col("event_id"), "usr", n_events // 20).alias("user_id"),
        F.element_at(et, h(F.col("event_id"), "et", 5).cast("int") + 1
                     ).alias("event_type"),
        (h(F.col("event_id"), "val", 56021).cast("double") / 100.0).alias("value"),
        F.format_string('{"k": %d}', h(F.col("event_id"), "pk", 100).cast("int")
                        ).alias("props"),
    ).repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "events.parquet"))


def generate_zipf(spark, mult: int, out_dir: str) -> None:
    """Zipfian-vocabulary documents fixture — the similarity PROFILE
    of real text for set-similarity joins. The base generator's
    38-word vocabulary is adversarial for prefix filtering (long docs
    saturate the vocab, so every doc shares every token and the join
    is output-bound: 190,925 true pairs at t=0.95 on the sf0.1 driver
    corpus). Real corpora have heavy-tailed vocabularies where
    rarest-first prefixes are highly selective; this fixture samples
    token RANKS from Zipf(s=1) over a 50k vocabulary via the inverse
    CDF (rank = floor(V^u), giving p(rank) ∝ 1/rank), so common words
    dominate text but rare words exist to anchor prefixes — the shape
    prefix filtering is designed for. Near-dup plants as in
    :func:`generate` (id % 50 == 1 copies id-1, one word appended)."""
    n_docs = 5000 * mult
    vocab_size = 50_000

    os.makedirs(out_dir, exist_ok=True)

    base = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    base = base.withColumn(
        "base_id",
        F.when(F.col("doc_id") % 50 == 1, F.col("doc_id") - 1).otherwise(
            F.col("doc_id")
        ),
    )
    n_words = (F.pmod(F.xxhash64("base_id", F.lit("len")), F.lit(70)) + 10)
    u01 = lambda i: (  # noqa: E731 — U(0,1) from the word-slot hash
        F.pmod(F.xxhash64(F.col("base_id"), i), F.lit(1_000_003)).cast("double")
        / 1_000_003.0
    )
    import math

    lnV = math.log(vocab_size)
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda i: F.concat(
            F.lit("w"), F.floor(F.exp(u01(i) * F.lit(lnV))).cast("long")
        ),
    )
    text = F.concat_ws(" ", words)
    text = F.when(
        F.col("doc_id") % 50 == 1, F.concat(text, F.lit(" zzextra"))
    ).otherwise(text)
    docs = base.select(
        "doc_id",
        text.alias("text"),
        F.lit("en").alias("lang"),
        F.concat(
            F.lit("src"),
            F.pmod(F.xxhash64("doc_id", F.lit("src")), F.lit(20)).cast("int"),
        ).alias("source"),
    ).withColumn("n_chars", F.length("text"))
    docs.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )


def generate_graph(spark, mult: int, out_dir: str) -> None:
    """Zipfian-DEGREE undirected graph fixture (round-9, VERDICT r08
    #5): the lineitem co-purchase graph the registry queries measure
    is hub-free by construction (orders cap at 7 lines), so it cannot
    exercise triangle_count's degree-ordered orientation — the whole
    point of that algorithm is surviving hubs. Here both endpoints of
    every edge sample their node RANK from Zipf(s=1) over
    ``n_nodes = 10_000 * mult/10`` via the inverse CDF
    (node = floor(N^u), p(node) ∝ 1/node — the generate_zipf trick),
    giving a heavy-tailed degree distribution whose top hub touches
    ~n_edges/H_N edges (~7% of the graph at any scale). Edges are
    distinct with u < v (the triangle_count input contract);
    ``n_edges = 50_000 * mult`` raw samples before dedup, so
    --mult 100 yields a ~5M-edge graph with a ~300k-degree hub — the
    regime where the naive wedge join dies and the oriented one must
    stay near-linear."""
    import math

    n_edges = 50_000 * mult
    n_nodes = 10_000 * max(mult // 10, 1)
    lnN = math.log(n_nodes)

    os.makedirs(out_dir, exist_ok=True)
    base = spark.range(n_edges)
    u01 = lambda tag: (  # noqa: E731 — U(0,1) per endpoint slot
        F.pmod(F.xxhash64("id", F.lit(tag)), F.lit(1_000_003)).cast("double")
        / 1_000_003.0
    )
    a = F.floor(F.exp(u01("a") * F.lit(lnN))).cast("long")
    b = F.floor(F.exp(u01("b") * F.lit(lnN))).cast("long")
    (
        base.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "edges.parquet"))
    )


def _graph_edges(spark, d):
    return spark.read.parquet(os.path.join(d, "edges.parquet"))


def _graph_fns():
    from api_kakfa_spark_airflow_s3_athena_spark.operators import graph as GR

    return {
        "graph_triangle_count_zipf": lambda spark, d: GR.triangle_count(
            _graph_edges(spark, d)
        ),
        "graph_degree_distribution_zipf": lambda spark, d: GR.degree_distribution(
            _graph_edges(spark, d)
        ),
        # k=3 keeps a non-trivial core on the Zipf fixture (hub +
        # dense head survive; the 1-degree tail peels in round 1)
        "graph_kcore_zipf": lambda spark, d: GR.kcore(
            _graph_edges(spark, d), k=3
        ),
        "graph_lpa_zipf": lambda spark, d: GR.label_propagation(
            _graph_edges(spark, d), rounds=4
        ),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument(
        "--zipf",
        action="store_true",
        help="use the Zipfian-vocabulary documents fixture (set-similarity"
        " joins); default ops become the exact prefix join",
    )
    ap.add_argument(
        "--graph",
        action="store_true",
        help="use the Zipfian-degree edge-list fixture (hubby graph);"
        " default ops become the graph operators run directly on it",
    )
    ap.add_argument(
        "--docs-only",
        action="store_true",
        help="generate only documents.parquet (text-operator sweeps at"
        " multiples where the embeddings fixture would be dead weight)",
    )
    ap.add_argument("--ops", type=str, default=",".join(HEAVY_OPS))
    # best-of-2 by default: the first run at each scale pays codegen
    # compile (cached across scales — same plan, different data), which
    # otherwise deflates the big-scale run's ratio below 1.0
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument(
        "--base",
        type=str,
        default=BASE_SF,
        help="comparison dir (e.g. .scale/sf1 to measure the sf1->sf10 step)",
    )
    args = ap.parse_args()

    from api_kakfa_spark_airflow_s3_athena_spark.plans.queries import REGISTRY
    from api_kakfa_spark_airflow_s3_athena_spark.session import local_test_session

    spark = local_test_session("scale_check")
    prefix = "graph" if args.graph else ("zipf" if args.zipf else "sf")
    scale_dir = os.path.join(REPO, ".scale", f"{prefix}{args.mult / 10:g}")

    if args.graph:
        if args.ops == ",".join(HEAVY_OPS):
            args.ops = ",".join(_graph_fns())
        # the base dir is a graph fixture too — auto-generate it from
        # its encoded mult (".scale/graphG" => mult = 10*G) so one
        # invocation measures the whole step
        for d in (args.base, scale_dir):
            m = re.match(r".*graph([0-9.]+)$", d.rstrip("/"))
            if m and not os.path.exists(os.path.join(d, "edges.parquet")):
                t0 = time.time()
                generate_graph(spark, int(float(m.group(1)) * 10), d)
                print(
                    f"generated {d} in {time.time() - t0:.1f}s", file=sys.stderr
                )
    elif args.zipf:
        if args.ops == ",".join(HEAVY_OPS):
            args.ops = "exact_jaccard_join_prefix"
        if not os.path.exists(os.path.join(scale_dir, "documents.parquet")):
            t0 = time.time()
            generate_zipf(spark, args.mult, scale_dir)
            print(f"generated {scale_dir} in {time.time() - t0:.1f}s", file=sys.stderr)
    elif not os.path.exists(
        os.path.join(
            scale_dir,
            "documents.parquet" if args.docs_only else "embeddings.parquet",
        )
    ):
        t0 = time.time()
        generate(spark, args.mult, scale_dir, docs_only=args.docs_only)
        print(f"generated {scale_dir} in {time.time() - t0:.1f}s", file=sys.stderr)
    if not args.zipf and any(
        op in R5_RELATIONAL_OPS for op in args.ops.split(",")
    ):
        # existence alone is not enough: the round-6 10x-undersizing
        # bug left wrong-sized orders.parquet files behind, and a
        # stale fixture silently reproduces the bogus ~1.0 "ratios".
        # Validate the row count against the documented size and
        # regenerate on any mismatch.
        opath = os.path.join(scale_dir, "orders.parquet")
        expected = 150_000 * args.mult
        stale = (
            not os.path.exists(opath)
            or spark.read.parquet(opath).count() != expected
            # part joined the generator in round 12; refresh dirs
            # built before that
            or not os.path.exists(os.path.join(scale_dir, "part.parquet"))
        )
        if stale:
            t0 = time.time()
            generate_relational(spark, args.mult, scale_dir)
            print(
                f"generated relational fixture in {scale_dir} "
                f"({time.time() - t0:.1f}s)", file=sys.stderr,
            )

    graph_fns = _graph_fns()

    def run(name: str, sf_dir: str) -> float:
        if name in graph_fns:
            fn = graph_fns[name]
        else:
            spec = REGISTRY[name]
            fn = spec.bench_fn or spec.fn
        best = None
        for _ in range(args.runs):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            took = time.time() - t0
            best = took if best is None else min(best, took)
        return best

    # warm both dirs' file listings + session codegen outside timing
    # (zipf fixtures carry documents only; relational fixtures exist
    # only when an op needs them). load_table, not bare read — the
    # driver's events.parquet is TIMESTAMP(NANOS).
    from api_kakfa_spark_airflow_s3_athena_spark.sources.tables import load_table

    base_dir = args.base
    for d in (base_dir, scale_dir):
        for t in ("documents", "embeddings", "orders", "lineitem",
                  "customer", "supplier", "events"):
            if os.path.exists(os.path.join(d, f"{t}.parquet")):
                load_table(spark, d, t).count()
        if os.path.exists(os.path.join(d, "edges.parquet")):
            _graph_edges(spark, d).count()

    results = {}
    for name in args.ops.split(","):
        t_small = run(name, base_dir)
        t_big = run(name, scale_dir)
        ratio = t_big / t_small if t_small else float("inf")
        results[name] = {
            "base_sec": round(t_small, 2),
            f"sf{args.mult / 10:g}_sec": round(t_big, 2),
            "ratio": round(ratio, 1),
            "verdict": "near-linear"
            if ratio <= 12
            else ("watch" if ratio < 30 else "SUPERLINEAR"),
        }
        print(json.dumps({name: results[name]}), file=sys.stderr)

    print(json.dumps({"mult": args.mult, "base": base_dir, "results": results}, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
