"""Property-based tests (hypothesis) for the transform/text/dedup
kernels: invariants that must hold for ANY input, driven through Spark
on small generated batches."""

import json
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.errors import PySparkException
from pyspark.sql import Row
from pyspark.sql import functions as F

from api_kakfa_spark_airflow_s3_athena_spark.functions.text import fingerprint, tokens
from api_kakfa_spark_airflow_s3_athena_spark.functions.transforms import (
    parse_kafka_value,
    pseudonymize_zip_py,
)
from api_kakfa_spark_airflow_s3_athena_spark.operators.dedup import jaccard, simhash

SLOW = settings(
    max_examples=8,  # each example is a Spark job; keep the budget sane
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

words = st.lists(st.text(alphabet="abcdefg", min_size=1, max_size=6), min_size=0, max_size=30)


@SLOW
@given(ws=words)
def test_fingerprint_invariant_under_permutation_and_dup(spark, ws):
    doc = " ".join(ws)
    doc_rev = " ".join(list(reversed(ws)) + ws[:1])  # permuted + a duplicated token
    df = spark.createDataFrame([Row(t=doc), Row(t=doc_rev)])
    fps = [r.fp for r in df.select(fingerprint(F.col("t")).alias("fp")).collect()]
    assert fps[0] == fps[1]


@SLOW
@given(a=words, b=words)
def test_jaccard_bounds_and_identity(spark, a, b):
    df = spark.createDataFrame(
        [(a, b, a)], schema="a array<string>, b array<string>, c array<string>"
    )
    row = df.select(
        jaccard(F.col("a"), F.col("b")).alias("ab"),
        jaccard(F.col("a"), F.col("c")).alias("aa"),
    ).collect()[0]
    assert 0.0 <= row.ab <= 1.0
    if a:
        assert row.aa == 1.0  # self-similarity
    else:
        assert row.aa == 0.0  # defined-zero for empty sets


@SLOW
@given(ws=st.lists(st.text(alphabet="abc", min_size=1, max_size=4), min_size=4, max_size=20))
def test_simhash_deterministic_and_stable(spark, ws):
    doc = " ".join(ws)
    df = spark.createDataFrame([Row(t=doc), Row(t=doc)])
    sigs = [r.s for r in df.select(simhash(F.col("t")).alias("s")).collect()]
    assert sigs[0] == sigs[1]


@SLOW
@given(
    name=st.one_of(st.none(), st.text(max_size=20)),
    lat=st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False, width=32)),
)
def test_kafka_json_roundtrip_any_payload(spark, name, lat):
    payload = {"name": name, "latitude": lat}
    df = spark.createDataFrame([Row(value=json.dumps(payload).encode())])
    row = parse_kafka_value(df).collect()[0]
    assert row.name == name
    if lat is None:
        assert row.latitude is None
    else:
        assert abs(row.latitude - lat) < 1e-6 * max(1.0, abs(lat))
    assert row.email is None  # absent field -> NULL


@given(z=st.text(max_size=30))
@settings(max_examples=50, deadline=None)
def test_zip_pseudonym_is_md5_int(z):
    import hashlib

    assert pseudonymize_zip_py(z) == str(int(hashlib.md5(str(z).encode()).hexdigest(), 16))


@SLOW
@given(ws=st.lists(st.text(alphabet="abcd", min_size=1, max_size=5), min_size=0, max_size=25))
def test_word_shingles_count_and_width(spark, ws):
    from api_kakfa_spark_airflow_s3_athena_spark.functions.text import word_shingles

    doc = " ".join(ws)
    for n in (2, 3):
        out = (
            spark.createDataFrame([Row(t=doc)])
            .select(word_shingles(F.col("t"), n).alias("s"))
            .collect()[0]
            .s
        )
        assert len(out) == max(0, len(ws) - n + 1)
        assert all(len(sh.split(" ")) == n for sh in out)


@SLOW
@given(
    ws=st.lists(st.text(alphabet="abcdefgh", min_size=1, max_size=6), min_size=8, max_size=16),
    flips=st.lists(st.integers(min_value=0, max_value=15), min_size=0, max_size=4),
)
def test_simhash_hamming_pairs_equal_brute_force_random(spark, ws, flips):
    """Pigeonhole banding must reproduce the brute-force dist<=k pair
    set on ANY corpus — recall is structural, not probabilistic."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.dedup import (
        simhash,
        simhash_hamming_pairs,
    )

    rows = [Row(doc_id=0, text=" ".join(ws))]
    for i, f in enumerate(flips, start=1):
        w = list(ws)
        w[f % len(w)] = f"mut{i}"
        rows.append(Row(doc_id=i, text=" ".join(w)))
    docs = spark.createDataFrame(rows)
    k = 3
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_hamming_pairs(docs, max_distance=k).collect()
    }
    sigs = docs.select("doc_id", simhash(F.col("text")).alias("sig"))
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


@SLOW
@given(ws=st.lists(st.text(alphabet="abc", min_size=1, max_size=3), min_size=1, max_size=90))
def test_chunking_covers_every_token_and_reconstructs(spark, ws):
    """Every token position lands in >= 1 chunk; stride-aligned chunk
    prefixes reconstruct the document exactly."""
    from api_kakfa_spark_airflow_s3_athena_spark.plans.queries import (
        doc_chunking_for_embedding,
    )
    import tempfile

    d = tempfile.mkdtemp(prefix="chunk_prop_")
    spark.createDataFrame(
        [(0, " ".join(ws), "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = sorted(
        doc_chunking_for_embedding(spark, d).collect(), key=lambda r: r.chunk_id
    )
    n = len(ws)
    covered = set()
    for r in rows:
        assert 1 <= r.chunk_start <= n
        assert r.n_chunk_tokens == len(r.chunk_text.split(" "))
        covered.update(range(r.chunk_start, r.chunk_start + r.n_chunk_tokens))
    assert covered == set(range(1, n + 1))
    # non-overlapping reconstruction: first `stride` tokens of each
    # chunk, plus the tail of the last one
    recon = []
    for r in rows:
        recon.extend(r.chunk_text.split(" ")[:16])
    recon.extend(rows[-1].chunk_text.split(" ")[16:])
    assert recon == ws


@SLOW
@given(ws=st.lists(st.text(alphabet="abcd", min_size=1, max_size=4), min_size=1, max_size=40))
def test_classifier_score_bounded_by_one(spark, ws):
    """|score| = |sum w_i| / (n * WEIGHT_SCALE) <= 1 for any text."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.scoring import (
        linear_text_classifier,
        pseudo_weights,
    )

    docs = spark.createDataFrame([(1, " ".join(ws))], "doc_id long, text string")
    out = linear_text_classifier(docs, pseudo_weights(spark, 32), n_buckets=32).collect()
    assert len(out) == 1
    assert -1.0 <= out[0].score <= 1.0
    assert out[0].n_feats == len(ws) + max(len(ws) - 1, 0)


@SLOW
@given(
    a=st.lists(st.text(alphabet="xy", min_size=1, max_size=2), min_size=1, max_size=20),
    b=st.lists(st.text(alphabet="xy", min_size=1, max_size=2), min_size=1, max_size=20),
)
def test_cluster_split_leakage_invariant(spark, a, b):
    """Docs with equal bag-of-words ALWAYS share a split, whatever the
    corpus around them."""
    from api_kakfa_spark_airflow_s3_athena_spark.plans.queries import (
        cluster_aware_split,
    )
    import tempfile

    d = tempfile.mkdtemp(prefix="split_prop_")
    rows = [
        (0, " ".join(a), "en", "s", 1),
        (1, " ".join(reversed(a)), "en", "s", 1),  # same bag
        (2, " ".join(b), "en", "s", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r.doc_id: r for r in cluster_aware_split(spark, d).collect()}
    assert out[0].split == out[1].split
    assert out[0].cluster_rep == out[1].cluster_rep == 0


@SLOW
@given(ws=words)
def test_bpe_pair_count_conservation(spark, ws):
    """For any token list, the total adjacent-pair count across the
    corpus equals sum(max(len-1, 0)) per doc, and every counted pair
    occurs in some document's adjacent positions."""
    text = " ".join(ws)
    from api_kakfa_spark_airflow_s3_athena_spark.plans.queries import REGISTRY
    import tempfile as _tf
    import os as _os

    d = _tf.mkdtemp(prefix="bpe_prop_")
    spark.createDataFrame(
        [Row(doc_id=0, text=text), Row(doc_id=1, text=" ".join(reversed(ws)))]
    ).write.mode("overwrite").parquet(_os.path.join(d, "documents.parquet"))
    rows = REGISTRY["bpe_pair_stats"].fn(spark, d).collect()
    toks = [w for w in text.split(" ") if w]
    rev = list(reversed(toks))
    valid = {f"{a} {b}" for a, b in zip(toks, toks[1:])} | {
        f"{a} {b}" for a, b in zip(rev, rev[1:])
    }
    # exact conservation whenever the distinct-pair count fits the
    # top-100 limit (always true at max_size=30 tokens)
    if len(valid) <= 100:
        assert sum(r.freq for r in rows) == 2 * max(len(toks) - 1, 0)
    assert {r.pair for r in rows} <= valid


@SLOW
@given(ws=words)
def test_minhash_arrow_identical_text_identical_signature(spark, ws):
    """Within the Arrow OPH family, identical text => identical
    signature; appending a token may change it but never its LENGTH
    or nullability class."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.dedup import (
        minhash_signatures_arrow,
    )

    text = " ".join(ws)
    df = spark.createDataFrame(
        [Row(doc_id=0, text=text), Row(doc_id=1, text=text),
         Row(doc_id=2, text=text + " zzz")]
    )
    sigs = {r.doc_id: r.sig for r in minhash_signatures_arrow(df, num_bins=16).collect()}
    assert sigs[0] == sigs[1]
    assert len(sigs[2]) == 16
    n_tok = len([w for w in text.split(" ") if w])
    if n_tok + 1 < 3:  # still too short for a 3-shingle after append
        assert sigs[2] == [None] * 16


@SLOW
@given(vals=st.lists(st.floats(min_value=-100, max_value=100,
                               allow_nan=False, allow_infinity=False),
                     min_size=2, max_size=12))
def test_pagerank_rank_floor_and_mass(spark, vals):
    """On any single-cycle digraph the ranks are exactly 1.0; with any
    positive weights every rank >= 1 - d and total mass <= n (no
    source of rank beyond the floor + redistributed mass)."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.graph import pagerank

    n = len(vals)
    rows = [Row(src=i, dst=(i + 1) % n, w=abs(float(v)) + 0.1) for i, v in enumerate(vals)]
    got = pagerank(spark.createDataFrame(rows), iters=3, damping=0.85).collect()
    assert len(got) == n
    total = sum(r.rank for r in got)
    assert all(r.rank >= 0.15 - 1e-12 for r in got)
    assert total <= n + 1e-9


@SLOW
@given(
    pts=st.lists(
        st.integers(min_value=-40, max_value=120), min_size=0, max_size=25
    ),
    ivs=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=110),
            st.integers(min_value=-10, max_value=40),
        ),
        min_size=0,
        max_size=12,
    ),
    width=st.sampled_from([None, 1, 3, 2.5]),
)
def test_binned_interval_join_property(spark, pts, ivs, width):
    """For ANY point set, interval set (including inverted lo>hi rows
    from negative deltas), and bin width: the binned equi-join must
    emit exactly the BETWEEN pairs, each exactly once."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.intervals import (
        binned_interval_join,
    )

    fact = spark.createDataFrame(
        [Row(pid=i, p=float(p)) for i, p in enumerate(pts)],
        schema="pid int, p double",
    )
    intervals = spark.createDataFrame(
        [Row(tag=j, lo=float(lo), hi=float(lo + d)) for j, (lo, d) in enumerate(ivs)],
        schema="tag int, lo double, hi double",
    )
    got = sorted(
        (r.pid, r.tag)
        for r in binned_interval_join(
            fact, intervals, "p", bin_width=width
        ).collect()
    )
    want = sorted(
        (i, j)
        for i, p in enumerate(pts)
        for j, (lo, d) in enumerate(ivs)
        if lo <= p <= lo + d
    )
    assert got == want


@SLOW
@given(
    old=st.dictionaries(
        st.integers(min_value=0, max_value=15),
        st.one_of(st.none(), st.text(alphabet="xyz", max_size=3)),
        max_size=10,
    ),
    new=st.dictionaries(
        st.integers(min_value=0, max_value=15),
        st.one_of(st.none(), st.text(alphabet="xyz", max_size=3)),
        max_size=10,
    ),
)
def test_snapshot_diff_property(spark, old, new):
    """For ANY pair of (id -> nullable content) snapshots, the diff is
    exactly the set-algebra answer: added = new-only ids, removed =
    old-only, changed = shared ids whose content IS DISTINCT."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.maintenance import (
        snapshot_diff,
    )

    mk = lambda d: spark.createDataFrame(
        [Row(id=k, c=v) for k, v in d.items()], schema="id int, c string"
    )
    got = {
        (r.id, r.status)
        for r in snapshot_diff(mk(old), mk(new), "id", ("c",)).collect()
    }
    want = (
        {(k, "added") for k in new.keys() - old.keys()}
        | {(k, "removed") for k in old.keys() - new.keys()}
        | {
            (k, "changed")
            for k in old.keys() & new.keys()
            if old[k] != new[k]
        }
    )
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    edges=st.sets(
        st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(
            lambda t: t[0] < t[1]
        ),
        min_size=1,
        max_size=40,
    )
)
def test_triangle_count_equals_brute_force(spark, edges):
    """Degree-ordered triangle counting equals the O(n^3) brute force
    on arbitrary small graphs (hubs, cliques, disconnected bits —
    whatever hypothesis draws)."""
    import itertools

    from api_kakfa_spark_airflow_s3_athena_spark.operators.graph import (
        triangle_count,
    )

    eset = set(edges)
    nodes = sorted({n for e in eset for n in e})
    naive = sum(
        1
        for x, y, z in itertools.combinations(nodes, 3)
        if (x, y) in eset and (y, z) in eset and (x, z) in eset
    )
    df = spark.createDataFrame([Row(u=a, v=b) for a, b in sorted(eset)])
    r = triangle_count(df).collect()[0]
    assert r.n_triangles == naive
    assert r.n_edges == len(eset) and r.n_nodes == len(nodes)


@SLOW
@given(
    edges=st.sets(
        st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(
            lambda t: t[0] < t[1]
        ),
        min_size=1,
        max_size=40,
    ),
    k=st.integers(2, 4),
)
def test_kcore_equals_brute_force_peeling(spark, edges, k):
    """Distributed k-core equals the sequential peeling fixpoint on
    arbitrary small graphs — node set AND in-core degrees."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.graph import kcore

    eset = set(edges)
    while True:
        deg = {}
        for a, b in eset:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        drop = {n for n, d in deg.items() if d < k}
        if not drop:
            break
        eset = {(a, b) for a, b in eset if a not in drop and b not in drop}
    want = {}
    for a, b in eset:
        want[a] = want.get(a, 0) + 1
        want[b] = want.get(b, 0) + 1
    want = {(n, d) for n, d in want.items() if d >= k}

    df = spark.createDataFrame([Row(u=a, v=b) for a, b in sorted(edges)])
    got = {(r.node, r.core_degree) for r in kcore(df, k=k).collect()}
    assert got == want


@SLOW
@given(
    edges=st.sets(
        st.tuples(st.integers(0, 11), st.integers(0, 11)).filter(
            lambda t: t[0] < t[1]
        ),
        min_size=1,
        max_size=30,
    ),
    rounds=st.integers(1, 3),
)
def test_label_propagation_equals_brute_force_sync(spark, edges, rounds):
    """Distributed synchronous LPA equals the sequential simulation
    with the same most-frequent/min-label rule after exactly R
    rounds, on arbitrary small graphs."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.graph import (
        label_propagation,
    )

    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    lbl = {n: n for n in adj}
    for _ in range(rounds):
        nxt = {}
        for n, nbrs in adj.items():
            counts = {}
            for m in nbrs:
                counts[lbl[m]] = counts.get(lbl[m], 0) + 1
            nxt[n] = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        lbl = nxt
    want = set(lbl.items())

    df = spark.createDataFrame([Row(u=a, v=b) for a, b in sorted(edges)])
    got = {
        (r.node, r.community)
        for r in label_propagation(df, rounds=rounds).collect()
    }
    assert got == want


@SLOW
@given(
    ws=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=8), min_size=1, max_size=25
    )
)
def test_bpe_roundtrip_any_corpus(spark, ws):
    """For ANY corpus: training terminates, encoding reconstructs the
    whitespace-stripped text exactly, token count never exceeds
    character count, and every emitted token is a substring of its
    source word chain."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.tokenizer import (
        bpe_encode,
        bpe_learn_merges,
    )

    text = " ".join(ws)
    docs = spark.createDataFrame([Row(doc_id=0, text=text)])
    merges = bpe_learn_merges(docs, n_merges=20)
    row = bpe_encode(docs, merges).collect()[0]
    stripped = "".join(text.split())
    assert "".join(row.tokens) == stripped
    assert row.n_tokens <= len(stripped)


@SLOW
@given(
    docs=st.lists(
        st.lists(
            st.text(alphabet="ab", min_size=1, max_size=3),
            min_size=1,
            max_size=8,
        ),
        min_size=2,
        max_size=10,
    )
)
def test_contrastive_triplet_invariants(spark, docs):
    """For ANY corpus: every emitted triplet has three distinct doc
    ids, the positive clears the 0.9 band, the negative sits in
    [0.5, 0.9), and the positive is at least as similar as the
    negative — the band semantics that make a triplet trainable."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.dedup import (
        contrastive_pairs,
    )

    df = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(ws)) for i, ws in enumerate(docs)]
    )
    out = contrastive_pairs(
        df, pos_threshold=0.9, cand_threshold=0.5
    ).collect()
    for r in out:
        assert r.anchor_id != r.positive_id
        assert r.anchor_id != r.negative_id
        # the bands are disjoint, so one partner cannot be both
        assert r.positive_id != r.negative_id
        assert r.pos_jaccard >= 0.9
        assert 0.5 <= r.neg_jaccard < 0.9
        assert r.pos_jaccard >= r.neg_jaccard


@SLOW
@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.sampled_from(["g1", "g2", "g3"]),
                st.integers(min_value=0, max_value=200),
            ),
            min_size=0,
            max_size=25,
        ),
        min_size=1,
        max_size=6,
    ),
    k=st.integers(min_value=1, max_value=7),
)
def test_kmv_partial_pass_equals_brute_force_k_smallest(batches, k):
    """The mapInPandas partial's carry-state logic (operators/
    sketches._partial_kmin), driven directly as a pandas generator:
    for ANY batch sequence, the emitted rows per group are exactly the
    k smallest DISTINCT hashes seen across all batches — duplicate
    re-arrivals, group interleaving, and empty batches included."""
    import pandas as pd

    from api_kakfa_spark_airflow_s3_athena_spark.operators.sketches import (
        _partial_kmin,
    )

    gen = _partial_kmin(["g"], k)
    pdfs = (
        pd.DataFrame(b, columns=["g", "__h"]) if b else pd.DataFrame(
            {"g": pd.Series(dtype=object), "__h": pd.Series(dtype="int64")}
        )
        for b in batches
    )
    out = list(gen(pdfs))
    got = {}
    if out:
        res = pd.concat(out, ignore_index=True)
        got = {
            g: sorted(grp["__h"].tolist())
            for g, grp in res.groupby("g")
        }
    want = {}
    for b in batches:
        for g, h in b:
            want.setdefault(g, set()).add(h)
    want = {g: sorted(v)[:k] for g, v in want.items() if v}
    assert got == want


@SLOW
@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=10_000),
        min_size=4,
        max_size=40,
        unique=True,
    )
)
def test_quantile_drift_properties(spark, vals):
    """For ANY distinct-valued sample: (a) displacement is in [0, 1];
    (b) drift of a sample against ITSELF is bounded by the ceil
    rounding (< 1/n per q); (c) drift against a disjoint right-shifted
    copy of itself puts every quantile element BELOW all of B, so
    displacement equals q exactly."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.quantiles import (
        quantile_drift,
    )

    qs = [0.25, 0.5, 0.9]
    a = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], ["id", "v"]
    )
    rows = quantile_drift(a, a, "v", "id", qs).collect()
    assert len(rows) == len(qs)
    for r in rows:
        assert 0.0 <= r.displacement <= 1.0
        assert r.displacement < 1.0 / r.n_b + 1e-9
    shift = max(vals) + 1
    b = spark.createDataFrame(
        [(i, float(v + shift)) for i, v in enumerate(vals)], ["id", "v"]
    )
    for r in quantile_drift(a, b, "v", "id", qs).collect():
        assert r.n_le_b == 0
        assert abs(r.displacement - r.q) < 1e-9


# --- fixed-point money kernel (plans/queries.py) ---------------------------
# Each value's unscaled long must equal the unscaled value of the
# CAST(x AS DECIMAL(p,s)) it replaces, and every money sum must round to
# the same double as the DECIMAL sum it replaces.

_NON_2DP = [1.005, 2.675, 0.125, 1e-7, -1.005, -2.675, 0.994999, 0.995, -0.005, 12.3456]


def _dp2(digits):
    return st.integers(-(10**digits) + 1, 10**digits - 1).map(lambda n: n / 100)


def _values(digits, lim):
    return st.one_of(
        _dp2(digits),
        st.sampled_from(_NON_2DP),
        st.floats(min_value=-lim, max_value=lim),
        st.just(-0.0),
        st.none(),
    )


def _unscaled(d, s):
    return None if d is None else int(d.scaleb(s))


@SLOW
@given(
    rows=st.lists(
        st.tuples(_values(12, 1e9), _values(4, 99.0), _values(4, 99.0)),
        min_size=1,
        max_size=60,
    )
)
def test_fixed_point_value_equals_decimal_cast(spark, rows):
    """For ANY double (2-dp, non-2-dp, negative, -0.0, NULL) the kernel's
    unscaled long equals CAST(x AS DECIMAL(p,s)) scaled by 10^s, and the
    three-factor charge product equals the DECIMAL product."""
    from api_kakfa_spark_airflow_s3_athena_spark.plans.queries import _m, _r

    df = spark.createDataFrame(rows, "e double, d double, t double")
    e, d, t = _m("e"), _r("d"), _r("t")
    dec_e, dec_d, dec_t = (
        F.col("e").cast("decimal(12,2)"), F.col("d").cast("decimal(4,2)"), F.col("t").cast("decimal(4,2)")
    )
    got = df.select(
        F.expr(e.u).alias("e"), F.expr(d.u).alias("d"), F.expr(t.u).alias("t"),
        F.expr((e * (1 - d) * (1 + t)).u).alias("charge"),
        dec_e.alias("de"), dec_d.alias("dd"), dec_t.alias("dt"),
        (dec_e * (1 - dec_d) * (1 + dec_t)).alias("dcharge"),
    ).collect()
    for r in got:
        assert (r.e, r.d, r.t) == (_unscaled(r.de, 2), _unscaled(r.dd, 2), _unscaled(r.dt, 2))
        assert (None if r.charge is None else int(r.charge)) == _unscaled(r.dcharge, 6)


def test_fixed_point_out_of_range_and_non_finite_match_the_cast(spark):
    """Past 10^p, and for NaN/±inf, the kernel takes the cast itself: the
    same ANSI error class (out of range) or the same NULL (non-finite)."""
    from api_kakfa_spark_airflow_s3_athena_spark.plans.queries import _m, _r

    def outcome(x, col):
        df = spark.createDataFrame([(x,)], "x double")
        try:
            return ("value", df.select(col.alias("v")).collect()[0].v)
        except PySparkException as exc:
            return ("error", exc.getCondition())

    cases = [(_m, "decimal(12,2)", v) for v in (1e10, -1e10, 9999999999.995, 1e300)]
    cases += [(_r, "decimal(4,2)", v) for v in (100.0, 99.995, -100.5)]
    cases += [(_m, "decimal(12,2)", v) for v in (float("nan"), float("inf"), float("-inf"))]
    for kernel, dec, x in cases:
        got = outcome(x, F.expr(kernel("x").u))
        want = outcome(x, F.col("x").cast(dec))
        if want[0] == "value":
            want = ("value", _unscaled(want[1], 2))
        assert got == want, x
        assert (want[0] == "error") == math.isfinite(x), x


def test_fixed_point_sums_round_like_the_decimal_sums(spark):
    """Frame test: a group whose 4-dp sum lands exactly on a .XX50
    boundary (both signs), and sum_charge-shaped sums of 10^4 rows at
    the largest DECIMAL(12,2) magnitude — one whose per-row product fits
    a long but whose sum does not, one whose per-row product overflows
    a long — round to the same doubles as the DECIMAL path."""
    from api_kakfa_spark_airflow_s3_athena_spark.plans.queries import (
        _exact_sum,
        _m,
        _money_sum,
        _r,
    )

    top = 9999999999.99
    groups = [
        ("tie", 1.01, 0.50, 0.0), ("tie", 2.00, 0.50, 0.0),
        ("neg_tie", -1.01, 0.50, 0.0), ("neg_tie", -2.00, 0.50, 0.0),
    ]
    small = spark.createDataFrame(groups, "g string, e double, d double, t double")
    big = spark.range(10_000).crossJoin(
        spark.createDataFrame(
            [("fits", top, 0.0, 0.0), ("wide", top, -99.99, 99.99), ("wide_neg", -top, -99.99, 99.99)],
            "g string, e double, d double, t double",
        )
    ).drop("id")
    df = small.unionByName(big)
    e, d, t = _m("e"), _r("d"), _r("t")
    dec_e, dec_d, dec_t = (
        F.col("e").cast("decimal(12,2)"), F.col("d").cast("decimal(4,2)"), F.col("t").cast("decimal(4,2)")
    )
    got = {
        r.g: r
        for r in df.groupBy("g").agg(
            _money_sum(e * (1 - d), "disc_price"),
            _money_sum(e * (1 - d) * (1 + t), "charge"),
            (_exact_sum(e).cast("double") / F.count(F.lit(1))).alias("avg_e"),
            F.round(F.sum(dec_e * (1 - dec_d)), 2).cast("double").alias("want_disc_price"),
            F.round(F.sum(dec_e * (1 - dec_d) * (1 + dec_t)), 2).cast("double").alias("want_charge"),
            (F.sum(dec_e).cast("double") / F.count(F.lit(1))).alias("want_avg_e"),
        ).collect()
    }
    assert set(got) == {"tie", "neg_tie", "fits", "wide", "wide_neg"}
    for g, r in got.items():
        assert (r.disc_price, r.charge, r.avg_e) == (r.want_disc_price, r.want_charge, r.want_avg_e), g
    assert (got["tie"].disc_price, got["neg_tie"].disc_price) == (1.51, -1.51)  # HALF_UP
    assert got["fits"].charge == 99_999_999_999_900.0  # unscaled sum ~10^20 > 2^63
