"""Deduplication operators for web-scale corpora.

Exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine
near-dup — the driver-mandated training-data-pipeline extensions
(SURVEY.md §2f; the reference itself has no dedup beyond Athena's
duplicate-email GROUP BY/HAVING audit,
``docs/athena-integrity-check.md:60``).

Scale design notes (the point of each implementation):

- *Exact*: one hash-shuffle on a 16-byte digest, never on the full
  text. ``min(id)`` keeps a deterministic survivor.
- *MinHash+LSH*: signatures are computed per-row with higher-order
  functions (no explode => no row blowup), then only the b band keys
  are exploded (b ~ 8-16 rows per doc, each a tiny struct). Candidate
  generation is a self-join on the band key — a shuffle on small keys
  — and exact verification runs only on candidates, never all pairs.
  O(n·b) shuffle instead of O(n²) compare.
- *SimHash*: 64-bit signature per doc via bit-vote over token hashes,
  computed entirely with built-ins; near-dup = identical signature
  (or banded prefixes for Hamming<k).
- *Embedding near-dup*: random-hyperplane LSH buckets (deterministic
  seed), cosine verified within buckets only.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..functions.vectors import cosine
from ._util import materialize_once

__all__ = [
    "exact_dedup",
    "token_hashes",
    "minhash_signature",
    "oph_minhash_dense",
    "minhash_candidates",
    "minhash_band_index",
    "minhash_dedup_pairs",
    "minhash_delta_dedup_pairs",
    "minhash_signatures_arrow",
    "minhash_dedup_pairs_arrow",
    "shingle_hashes",
    "simhash",
    "simhash_dedup_pairs",
    "simhash_hamming_pairs",
    "jaccard",
    "embedding_dedup_pairs",
    "containment_join",
]

_HASH_PRIME = 2147483647  # 2^31 - 1; Carter-Wegman universe for MinHash


def _ngram_fold(text: Column, n: int, seed: int, init_out: Column, update) -> Column:
    """One-pass fold over a document's word n-gram hashes.

    Tokens are hashed exactly once (``transform`` over the token array
    is the fold input, evaluated a single time); the accumulator keeps
    a ring buffer of the last n-1 token hashes plus the caller's
    output array, and ``update(out, shingle_hash)`` folds each n-gram
    hash in as it forms. This avoids BOTH per-shingle string
    materialization and the quadratic re-evaluation that nested
    higher-order-function references to the token array cause
    (HOF lambdas inline subtrees; only true fold state is evaluated
    once). Cost: O(tokens) hashes + O(tokens) updates per row.

    Note: n-grams arrive as a multiset (no dedup) — harmless for min
    (MinHash) and the standard frequency-weighted formulation for
    SimHash votes.
    """
    toks = tokens(text)
    th = F.transform(toks, lambda t: F.xxhash64(t, F.lit(seed)))
    init = F.struct(
        F.array().cast("array<bigint>").alias("win"),
        init_out.alias("out"),
    )

    def step(acc, x):
        ready = F.size(acc["win"]) == n - 1
        sh = F.xxhash64(*([F.element_at(acc["win"], k + 1) for k in range(n - 1)] + [x]))
        new_out = F.when(ready, update(acc["out"], sh)).otherwise(acc["out"])
        # ring buffer: drop the oldest only once the window is full
        grown = F.concat(acc["win"], F.array(x))
        new_win = F.when(ready, F.slice(grown, 2, n - 1)).otherwise(grown)
        return F.struct(new_win.alias("win"), new_out.alias("out"))

    return F.aggregate(th, init, step, lambda acc: acc["out"])


def token_hashes(text: Column, seed: int = 1) -> Column:
    """xxhash64 of every whitespace token, as ``array<bigint>``.

    Pipelines MUST materialize this as its own projection (an
    attribute) before building shingles from it: the shingle
    construction references its input 2n times, and if that input is
    the raw expression rather than a column, the tokenize+hash subtree
    is duplicated 2n times in the plan — 6-10x the analysis, codegen,
    and per-row evaluation cost (measured on the minhash pipeline).
    """
    return F.transform(tokens(text), lambda t: F.xxhash64(t, F.lit(seed)))


def _shingles_from_th(th: Column, n: int) -> Column:
    """Word n-gram hashes from a (materialized) token-hash column:
    a chain of n-1 ``zip_with`` passes over shifted slices
    (h = xxhash64(...xxhash64(h_i, h_{i+1})..., h_{i+n-1})),
    O(tokens) per row. No shingle strings are ever materialized; zip
    inputs are plain arguments, so nothing re-evaluates per element
    (NOTES.md HOF-capture rule)."""
    length = F.greatest(F.size(th) - F.lit(n - 1), F.lit(0))
    out = F.slice(th, 1, length)
    for k in range(1, n):
        out = F.zip_with(
            out, F.slice(th, 1 + k, length), lambda a, x: F.xxhash64(a, x)
        )
    return out


def shingle_hashes(text: Column, n: int, seed: int = 1) -> Column:
    """All word n-gram hashes of a document as ``array<bigint>``.

    Convenience composition for one-off use. Inside a pipeline,
    materialize :func:`token_hashes` as a column first and call
    :func:`_shingles_from_th` on the attribute — this inline form
    embeds the tokenization 2n times (see :func:`token_hashes`).
    """
    return _shingles_from_th(token_hashes(text, seed), n)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per distinct text digest.

    Hashes before grouping so the shuffle moves 16-byte digests, not
    documents; at 100 TB this is the difference between shipping the
    corpus and shipping a key column.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_signature(text: Column, num_hashes: int = 64, shingle_n: int = 3, seed: int = 1) -> Column:
    """MinHash signature as array<bigint> of length ``num_hashes``.

    Universal-hash family h_i(x) = (a_i * x64 + b_i) mod p over the
    xxhash64 of each word n-gram. ONE fold over the token-hash stream
    (:func:`_ngram_fold`): each token is hashed once, each n-gram hash
    updates all K running minima via ``zip_with``. No shingle strings,
    no per-hash passes, zero shuffle; per-row work O(tokens * K).
    (MinHash is duplicate-insensitive, so the multiset stream is
    equivalent to the shingle set.)
    """
    coeff_a = F.array(
        *[
            F.lit((seed * 1_000_003 + i * 2_147_483_629) % _HASH_PRIME or 1)
            for i in range(num_hashes)
        ]
    )
    coeff_b = F.array(
        *[F.lit((seed * 998_244_353 + i * 1_000_000_007) % _HASH_PRIME) for i in range(num_hashes)]
    )
    init = F.array_repeat(F.lit(_HASH_PRIME).cast("long"), num_hashes)

    def update(mins, sh):
        x = F.pmod(sh, F.lit(_HASH_PRIME))
        return F.zip_with(
            mins,
            F.zip_with(coeff_a, coeff_b, lambda a, b: F.pmod(x * a + b, F.lit(_HASH_PRIME))),
            lambda cur, cand: F.least(cur, cand),
        )

    return _ngram_fold(text, shingle_n, seed, init, update)


def oph_minhash_dense(
    sh: Column, num_bins: int = 64
) -> Column:
    """Densified one-permutation MinHash signature over a shingle-hash
    array column: ``array<bigint>`` of length ``num_bins``. ``sh``
    should be a materialized column (see :func:`token_hashes`).

    Rotation densification (Shrivastava & Li 2014, public literature):
    an empty bin takes the value of the next occupied bin, wrapping
    past the end to the first — without it, short documents leave most
    bins empty and an LSH band's key collapses to ~1 effective hash
    (measured: 1.4M candidate pairs instead of ~350 at sf0.1).

    Implemented as a segment-fill fold over the compact (bin-sorted)
    entries: each entry (b, v) emits ``v`` for every dense position in
    (prev_b, b], and the finish step fills the tail with the wrap
    value — dense[0] IS the first entry's value, so the wrap needs no
    second lookup. One expression tree, O(S log S + num_bins) per row;
    a per-position "first occupied bin >= i" lookup would duplicate
    the scan subtree ``num_bins`` times and bloat analysis/codegen.
    """
    srt = F.array_sort(
        F.transform(
            sh,
            lambda h: F.struct(
                F.pmod(h, F.lit(num_bins)).cast("int").alias("bin"), h.alias("val")
            ),
        )
    )
    # One fold over the (bin, val)-sorted multiset: the FIRST entry of
    # each bin is its minimum and emits the fill segment (prev_bin, b];
    # later entries of the same bin are skipped. Fused into a single
    # aggregate (rather than first-per-bin + fill passes) to keep the
    # expression tree shallow — codegen compile time is part of a
    # query's cost at bench scale.
    init = F.struct(
        F.lit(-1).cast("int").alias("last_bin"),
        F.array().cast("array<bigint>").alias("out"),
    )
    return F.aggregate(
        srt,
        init,
        lambda acc, e: F.when(e["bin"] == acc["last_bin"], acc).otherwise(
            F.struct(
                e["bin"].alias("last_bin"),
                F.concat(
                    acc["out"], F.array_repeat(e["val"], e["bin"] - acc["last_bin"])
                ).alias("out"),
            )
        ),
        lambda acc: F.concat(
            acc["out"],
            F.array_repeat(
                F.get(acc["out"], 0), F.lit(num_bins - 1) - acc["last_bin"]
            ),
        ),
    )


_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def _xxh64_long_np(x, seed):
    """Vectorized twin of Spark's ``XXH64.hashLong`` (the single-long
    path every multi-argument ``xxhash64`` chains through): uint64
    modular arithmetic, bit-identical to the JVM — pinned by
    tests/test_r14_fusions.py against ``F.xxhash64`` on random longs.
    ``x``/``seed`` are uint64 ndarrays (or scalars broadcast)."""
    import numpy as np

    def rotl(v, r):
        return (v << np.uint64(r)) | (v >> np.uint64(64 - r))

    h = seed + np.uint64((_XXH_P5 + 8) & 0xFFFFFFFFFFFFFFFF)
    h = h ^ (rotl(x * np.uint64(_XXH_P2), 31) * np.uint64(_XXH_P1))
    h = rotl(h, 27) * np.uint64(_XXH_P1) + np.uint64(_XXH_P4)
    h ^= h >> np.uint64(33)
    h *= np.uint64(_XXH_P2)
    h ^= h >> np.uint64(29)
    h *= np.uint64(_XXH_P3)
    h ^= h >> np.uint64(32)
    return h


def _oph_signatures_arrow(
    with_th: DataFrame, id_col: str, num_bins: int, shingle_n: int
) -> DataFrame:
    """Vectorized twin of ``_shingles_from_th`` + ``oph_minhash_dense``
    over a materialized token-hash column — the round-14 signature
    fast path (guide §4.2): the JVM form evaluates an interpreted
    per-element aggregate whose accumulator CONCATENATES an array per
    occupied bin (O(bins²) element copies per row, expression-tree
    walks per step). Here the whole batch is flattened once and the
    shingle chain (``xxhash64`` hashLong composition, exact uint64
    arithmetic), per-(row, bin) minima (one lexsort) and the rotation
    densification (one ``np.repeat``) are C-level passes.

    Bit-exactness: identical hashLong composition per shingle,
    identical signed-min per bin (``array_sort`` on (bin, val) structs
    == lexsort by (bin, signed val)), identical fill semantics —
    positions (prev_bin, b] take b's min, the tail wraps to the first
    dense value, zero-shingle rows yield ``num_bins`` NULLs and NULL
    token arrays yield a NULL signature, exactly the fold's outcomes
    (pinned by tests/test_r14_fusions.py on real corpus + edges)."""
    import numpy as np
    import pandas as pd

    id_type = with_th.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, sig array<bigint>"
    nb = num_bins
    n = shingle_n

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col]
            raw = pdf["th"]
            null_mask = np.array([t is None for t in raw])
            toks_list = [
                np.asarray(t, dtype=np.int64) for t in raw[~null_mask]
            ]
            sigs = [None] * len(pdf)
            nn_pos = np.flatnonzero(~null_mask)
            if len(toks_list):
                lens = np.array([len(t) for t in toks_list], dtype=np.int64)
                flat = (
                    np.concatenate(toks_list)
                    if lens.sum()
                    else np.zeros(0, dtype=np.int64)
                ).view(np.uint64)
                starts = np.zeros(len(lens), dtype=np.int64)
                np.cumsum(lens[:-1], out=starts[1:])
                s_counts = np.maximum(lens - (n - 1), 0)
                total_s = int(s_counts.sum())
                if total_s:
                    grp_starts = np.repeat(starts, s_counts)
                    grp_off = np.arange(total_s) - np.repeat(
                        np.concatenate(([0], np.cumsum(s_counts)[:-1])),
                        s_counts,
                    )
                    base = grp_starts + grp_off
                    h = flat[base]
                    seed42 = np.uint64(42)
                    for k in range(1, n):
                        h = _xxh64_long_np(
                            flat[base + k], _xxh64_long_np(h, seed42)
                        )
                    hv = h.view(np.int64)
                    rows = np.repeat(
                        np.arange(len(lens), dtype=np.int64), s_counts
                    )
                    bins = hv % nb  # pmod: numpy % is sign-of-divisor
                    order = np.lexsort((hv, bins, rows))
                    r_s, b_s, v_s = rows[order], bins[order], hv[order]
                    first = np.ones(len(r_s), dtype=bool)
                    first[1:] = (r_s[1:] != r_s[:-1]) | (b_s[1:] != b_s[:-1])
                    r_e, b_e, v_e = r_s[first], b_s[first], v_s[first]
                    row_first = np.ones(len(r_e), dtype=bool)
                    row_first[1:] = r_e[1:] != r_e[:-1]
                    prev_b = np.empty_like(b_e)
                    prev_b[0] = -1
                    prev_b[1:] = b_e[:-1]
                    prev_b[row_first] = -1
                    counts_e = b_e - prev_b
                    # per-row tail: wrap with the row's FIRST dense
                    # value (== the first entry's min)
                    rows_present = r_e[row_first]
                    v0 = v_e[row_first]
                    last_mask = np.ones(len(r_e), dtype=bool)
                    last_mask[:-1] = r_e[1:] != r_e[:-1]
                    tail = nb - 1 - b_e[last_mask]
                    vals_all = np.concatenate([v_e, v0])
                    cnts_all = np.concatenate([counts_e, tail])
                    rows_all = np.concatenate([r_e, rows_present])
                    is_tail = np.zeros(len(vals_all), dtype=np.int8)
                    is_tail[len(v_e):] = 1
                    oo = np.lexsort((is_tail, rows_all))
                    dense = np.repeat(vals_all[oo], cnts_all[oo]).reshape(
                        -1, nb
                    )
                    for i, ri in enumerate(rows_present):
                        sigs[nn_pos[ri]] = dense[i].tolist()
                # zero-shingle rows (incl. empty token arrays): the
                # fold's finish step fills from a NULL head — nb NULLs
                for ri in np.flatnonzero(s_counts == 0):
                    sigs[nn_pos[ri]] = [None] * nb
            yield pd.DataFrame({id_col: ids, "sig": sigs})

    return with_th.mapInPandas(gen, schema=out_schema)


def minhash_band_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 1,
) -> DataFrame:
    """The persistable LSH band index: one ``(id, band, bucket)`` row
    per document per band — the signature is one-permutation MinHash
    (:func:`oph_minhash_dense`), banded into ``bands`` groups of
    consecutive bins.

    This is the 100 TB incremental-dedup artifact: write it ONCE per
    corpus snapshot (partitioned/bucketed by ``(band, bucket)`` at
    scale) and each new crawl batch dedups against it via
    :func:`minhash_delta_dedup_pairs` without ever re-shingling the
    corpus — the index rows are 3 small ints/longs however fat the
    documents are.
    """
    # Token hashes stay a JVM projection (cheap codegen transform);
    # the shingle chain + OPH densification run as ONE vectorized
    # Arrow pass (round-14 — the former interpreted fold walked an
    # expression tree per element and concatenated an array per
    # occupied bin; see _oph_signatures_arrow, bit-identical and
    # test-pinned); banding back in the JVM, unchanged.
    with_th = df.select(
        F.col(id_col), token_hashes(F.col(text_col), seed).alias("th")
    )
    with_sig = _oph_signatures_arrow(with_th, id_col, num_hashes, shingle_n)
    return _bands_from_sig(with_sig, id_col, num_hashes, bands)


def _bands_from_sig(
    with_sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """Band a ``(id, sig array<bigint>)`` frame into ``(id, band,
    bucket)`` rows: each band's bucket is the xxhash64 of its slice of
    the signature, so downstream candidate generation shuffles 3 small
    ints per doc per band — never the signature, never the text.
    Shared by the JVM and Arrow signature families (the bucket hash is
    family-agnostic: any array<bigint> signature bands the same way)."""
    bins_per_band = num_hashes // bands
    return with_sig.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.array_join(
                            F.transform(
                                F.slice(F.col("sig"), b * bins_per_band + 1, bins_per_band),
                                lambda v: v.cast("string"),
                            ),
                            ",",
                            "~",  # docs with no shingles: null -> sentinel
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.bucket")


def _pairs_from_bands(
    banded: DataFrame,
    id_col: str,
    max_bucket: int,
    guard_hot_buckets: bool = False,
) -> DataFrame:
    """Distinct ordered candidate pairs from an ``(id, band, bucket)``
    frame: group each bucket into its sorted id list and explode
    ordered pairs — one aggregation instead of a self-join (~3x
    faster, same output). Buckets over ``max_bucket`` are dropped (a
    size-k bucket yields k²/2 pairs; near-dups still meet in their
    other, more selective bands).

    Memory note: by default the cap bounds the PAIR blowup, not the
    aggregation buffer — an over-cap bucket's id array is materialized
    (one object per hot group; ObjectHashAggregate spills between
    groups) before the size filter discards it. ``banded`` is live
    lineage here (a census pre-drop would re-run the whole signature
    pass), so the default stands; the delta path, whose inputs are
    stored, always pre-drops hot buckets with a count window instead.
    ``guard_hot_buckets=True`` buys the same bound for this path by
    checkpointing the banded frame once (O(n·bands) skinny rows) and
    censusing it before collect — measured +9-18% wall at
    sf0.1/sf1/sf10 with identical output (NOTES round 7); turn it on
    for corpora that may carry mega-duplicate boilerplate NOT already
    removed by the standard exact_dedup-first pipeline order."""
    if guard_hot_buckets:
        banded = banded.localCheckpoint(eager=True)
        hot = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket)
            .select("band", "bucket")
        )
        banded = banded.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    grouped = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda a: F.transform(
                F.filter(F.col("ids"), lambda b: b > a),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 1,
    max_bucket: int = 4096,
    guard_hot_buckets: Optional[bool] = None,
) -> DataFrame:
    """LSH candidate pairs: docs sharing >=1 band of the signature
    (:func:`minhash_band_index` built inline) — O(S log S) per row
    where the classic per-hash scheme is O(S·num_hashes). NOTE: with
    the default ``guard_hot_buckets=None`` this launches one eager
    sizing ``count()`` Spark job on ``df`` at CALL time (memoized per
    semantic plan, shared with ``_auto_blocks_for``) — a derived or
    expensive input re-executes its upstream plan once to pick the
    knob; size-aware callers building many frames in a loop should
    pass an explicit bool (the contract queries do).

    Returns ``(id_a, id_b)`` with id_a < id_b, distinct. Pair
    generation groups each band bucket into its (sorted) id list and
    explodes ordered pairs — one aggregation instead of a self-join,
    ~3x faster, same output. Buckets larger than ``max_bucket`` are
    dropped: a bucket of size k yields k²/2 pairs, so a degenerate
    bucket (boilerplate shingles hashing together) would dominate the
    output with low-information pairs and blow memory; dropping
    oversized buckets is standard LSH practice (near-dups still meet
    in their other, more selective bands). ``guard_hot_buckets=True``
    additionally keeps over-cap buckets out of the aggregation buffer
    itself (see :func:`_pairs_from_bands`). The default (``None``)
    auto-selects by corpus size exactly like :func:`_auto_blocks_for`
    picks the banding layout: ON at >=
    ``GUARD_HOT_BUCKETS_AUTO_THRESHOLD`` docs (one memoized count()
    on the input), where the guard's measured relative cost has
    crossed under the noise floor and an unguarded worst-case bucket
    buffer is no longer trivially small; OFF below, where the
    unguarded path's measured 9-19% edge is real money and a
    worst-case buffer is bounded by the corpus itself (round-8
    VERDICT #4, measurements in NOTES).
    """
    if guard_hot_buckets is None:
        guard_hot_buckets = _ndocs_for(df) >= GUARD_HOT_BUCKETS_AUTO_THRESHOLD
    banded = minhash_band_index(
        df, text_col, id_col, num_hashes, bands, shingle_n, seed
    )
    return _pairs_from_bands(banded, id_col, max_bucket, guard_hot_buckets)


def jaccard(a_tokens: Column, b_tokens: Column) -> Column:
    """Exact Jaccard over two token/shingle arrays (set semantics)."""
    inter = F.size(F.array_intersect(a_tokens, b_tokens)).cast("double")
    union = F.size(F.array_union(a_tokens, b_tokens)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 1,
    guard_hot_buckets: Optional[bool] = None,
) -> DataFrame:
    """MinHash LSH candidates, set-Jaccard verified at ``threshold``.

    Verification semi-joins the corpus down to candidate rows, then
    compares hashed shingle sets — only candidate rows pay the array
    cost, the 100 TB remainder is never touched after banding.
    ``guard_hot_buckets`` passes through to
    :func:`minhash_candidates`; callers that KNOW their corpus size
    (fixture-scale contract queries) pass ``False`` to skip the
    sizing count the ``None`` auto-default pays on derived inputs.
    """
    # Candidate pairs are the small side (O(near-dups), not O(corpus));
    # materialize THEM — they are consumed three times below (id set +
    # both sides of the verify join).
    cands = materialize_once(
        minhash_candidates(
            df,
            text_col,
            id_col,
            num_hashes,
            bands,
            shingle_n,
            seed,
            guard_hot_buckets=guard_hot_buckets,
        )
    )
    return _verify_jaccard(cands, df, text_col, id_col, threshold, shingle_n, seed)


def _verify_jaccard(
    cands: DataFrame,
    docs: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_n: int,
    seed: int,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against ``docs``.

    Shingle sets are computed ONLY for rows that appear in some
    candidate pair: broadcast the candidate id set so the corpus-side
    semi-join is a map-side filter (no corpus shuffle), then
    materialize just those rows' shingle sets — nothing corpus-sized
    is pinned. Shingles are verified as 64-bit hashes (same fold as
    the signature stream, no string materialization); set Jaccard over
    the hashed shingles equals the string-shingle Jaccard up to a
    ~2^-64 collision probability.

    Every multi-consumer frame here — ``cands`` (callers pass it
    materialized) and the shingle sets, read by both sides of the
    verify join — is an eager ``materialize_once``: computed by one
    job each, where a lazy ``.cache()`` under AQE is materialized once
    PER CONSUMER. Nothing is left in executor storage to unpersist;
    the local checkpoints are released when their frames are garbage
    collected. The returned (id_a, id_b, jaccard) frame is the verify
    join over those two materialized inputs, left lazy: its consumer's
    own action (a store write, a collect) runs it, so no job
    checkpoints a result that is read once, and a second action
    repeats only the joins, never the banding or the shingling.
    """
    # both ids of every pair, duplicates kept: they only feed a
    # broadcast semi-join, where a distinct would cost a shuffle job
    cand_ids = cands.select(F.explode(F.array("id_a", "id_b")).alias(id_col))
    shingled = materialize_once(
        docs.join(F.broadcast(cand_ids), id_col, "leftsemi")
        # token hashes materialized as their own projection so the
        # shingle zip-chain references an attribute, not 2n copies of
        # the tokenize+hash subtree (see token_hashes)
        .select(F.col(id_col), token_hashes(F.col(text_col), seed).alias("th"))
        .select(
            F.col(id_col),
            F.array_distinct(_shingles_from_th(F.col("th"), shingle_n)).alias("sh"),
        )
    )
    a = shingled.alias("a")
    b = shingled.alias("b")
    return (
        cands.join(a, cands.id_a == F.col(f"a.{id_col}"))
        .join(b, cands.id_b == F.col(f"b.{id_col}"))
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("a.sh"), F.col("b.sh")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_delta_dedup_pairs(
    delta: DataFrame,
    corpus: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 1,
    max_bucket: int = 4096,
    delta_bands: Optional[DataFrame] = None,
) -> DataFrame:
    """Incremental dedup: near-dup pairs touching a NEW batch, found
    against a PERSISTED corpus band index — the shape a 100 TB
    training pipeline actually runs per crawl snapshot.

    ``delta_bands``: optionally the delta's ALREADY-COMPUTED band
    index (``minhash_band_index(delta, ...)`` with identical params),
    for callers that also persist it — the streaming ingest sink both
    appends the batch's bands to the index store and dedups with
    them, and passing the materialized frame here means ONE signature
    pass per batch instead of two (round-14, guide §1.2).

    ``index`` is ``minhash_band_index(corpus)`` written once (at scale:
    stored partitioned by ``(band, bucket)``); ``corpus`` supplies text
    only for the exact-Jaccard verify of candidate rows. Per batch:

    1. band the DELTA only (the corpus is never re-shingled);
    2. the delta's ``(band, bucket)`` keys (a tiny set) are
       BROADCAST into a semi join against the index — the corpus-sized
       side is reduced by a map-side filter, no index shuffle, no
       corpus scan beyond the index files those buckets live in when
       partitioned;
    3. the hot-bucket guard counts only the buckets the delta touches
       (bounded by |delta| x bands, not the index), as a window on the
       same partitioning the candidate aggregation uses;
    4. candidate generation joins the (small, broadcast) delta bands
       against the surviving index slice — pairs must touch the delta
       by construction (delta-delta pairs included: the delta's own
       bands are unioned into the slice);
    5. exact-Jaccard verify fetches text for candidate ids only, from
       corpus+delta, via the same broadcast semi-join as the batch
       operator.

    Equivalence contract: output == ``minhash_dedup_pairs(corpus +
    delta)`` restricted to pairs with a delta member (same params) —
    pinned in tests/test_dedup_similarity.py. Returns distinct
    ``(id_a, id_b, jaccard)``, id_a < id_b.
    """
    dband = (
        delta_bands
        if delta_bands is not None
        else materialize_once(
            minhash_band_index(
                delta, text_col, id_col, num_hashes, bands, shingle_n, seed
            )
        )
    )
    all_b = index.select(F.col(id_col), "band", "bucket").withColumn(
        "__delta", F.lit(False)
    ).unionByName(dband.withColumn("__delta", F.lit(True)))
    # Index slice: only buckets the delta touches survive — a map-side
    # broadcast SEMI join on the corpus-sized side. A semi join ignores
    # duplicate keys, so the delta's (band, bucket) rows are broadcast
    # as they are, with no distinct (and no shuffle job) in front.
    hit = all_b.join(
        F.broadcast(dband.select("band", "bucket")), ["band", "bucket"], "leftsemi"
    )
    # Hot-bucket guard: buckets over ``max_bucket`` are dropped by a
    # COUNT window before the collect_list, so the aggregation never
    # materializes a mega-bucket's array only to discard it (a delta
    # doc touching a degenerate million-copy index bucket would
    # otherwise build the full array in one aggregation buffer — the
    # exact regime the guard exists for). The window's row buffer
    # spills to disk, and the window and the groupBy share one
    # (band, bucket) hash partitioning, so the census costs no shuffle
    # of its own and nothing is read twice.
    grouped = (
        hit.withColumn(
            "__n", F.count(F.lit(1)).over(Window.partitionBy("band", "bucket"))
        )
        .filter(F.col("__n") <= max_bucket)
        .groupBy("band", "bucket")
        .agg(
            F.collect_list(
                F.struct(F.col(id_col).alias("id"), F.col("__delta"))
            ).alias("es")
        )
        .filter(F.size("es") > 1)
    )
    pairs = F.flatten(
        F.transform(
            F.col("es"),
            lambda a: F.transform(
                F.filter(
                    F.col("es"),
                    lambda b: (b["id"] > a["id"]) & (a["__delta"] | b["__delta"]),
                ),
                lambda b: F.struct(a["id"].alias("id_a"), b["id"].alias("id_b")),
            ),
        )
    )
    cands = materialize_once(
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    # Delta rows win when a doc_id exists in both stores (re-ingest /
    # update of an existing document): without keying the union the two
    # id joins in _verify_jaccard would fan out — duplicate (id_a,id_b)
    # rows, some verified against the stale corpus copy. A broadcast
    # anti-join on the (small) delta's ids keys it without shuffling
    # the corpus-sized side.
    texts = corpus.select(F.col(id_col), F.col(text_col)).join(
        F.broadcast(delta.select(id_col)), id_col, "left_anti"
    ).unionByName(delta.select(F.col(id_col), F.col(text_col)))
    return _verify_jaccard(cands, texts, text_col, id_col, threshold, shingle_n, seed)


def simhash(text: Column, bits: int = 64, shingle_n: int = 2, seed: int = 7) -> Column:
    """SimHash signature (bigint): sign of the per-bit vote over word
    n-gram hashes (frequency-weighted: each occurrence votes). Bit b
    of the signature is 1 iff more n-gram hashes have bit b set than
    unset.

    Single fold over the token-hash stream (:func:`_ngram_fold`): the
    accumulator carries per-bit set-counts, each n-gram hash updates
    all bits via ``zip_with`` against a literal power-of-two mask
    array. One pass, no shuffle, no UDF.
    """
    # Two's-complement masks; bit 63 is the sign bit.
    masks = F.array(
        *[F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long") for b in range(bits)]
    )
    counts = _ngram_fold(
        text,
        shingle_n,
        seed,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc, masks, lambda c, m: c + F.when(h.bitwiseAND(m) != 0, 1).otherwise(0)
        ),
    )
    # number of n-grams = votes cast (token count arithmetic, no re-hash)
    n = F.greatest(F.size(tokens(text)) - F.lit(shingle_n - 1), F.lit(0))
    # Majority vote per bit -> OR the masks (disjoint bits => sum == OR).
    return F.aggregate(
        F.zip_with(counts, masks, lambda c, m: F.when(c * 2 > n, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def simhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    seed: int = 7,
) -> DataFrame:
    """Docs with identical 64-bit SimHash (strong near-dup signal).

    Groups on the signature — one shuffle of (int64, id) pairs. For
    Hamming-distance-k matching, band the signature into k+1 chunks and
    join per chunk (same LSH trick as MinHash); identical-signature
    grouping is the conservative default.
    """
    sigs = df.select(F.col(id_col), simhash(F.col(text_col), 64, shingle_n, seed).alias("sig"))
    return (
        sigs.groupBy("sig")
        .agg(F.collect_list(id_col).alias("ids"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select("sig", F.array_sort("ids").alias("ids"), "n")
    )


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 3,
    shingle_n: int = 2,
    seed: int = 7,
    max_bucket: int = 4096,
    blocks: Optional[int] = None,
) -> DataFrame:
    """All pairs with SimHash Hamming distance <= ``max_distance``.

    Pigeonhole banding (the Manku/Jain/Sarma web-dedup construction):
    split the 64-bit signature into ``blocks`` contiguous chunks
    (default ``max_distance + 1``) and build one table per
    ``blocks - max_distance``-chunk COMBINATION, keyed on those
    chunks' concatenated bits: <= ``max_distance`` differing bits
    touch at most ``max_distance`` chunks, so some combination is
    entirely clean and the pair collides in that table — perfect
    recall; the exact ``bit_count(xor)`` filter then gives perfect
    precision. Work is C(blocks, blocks-d) shuffles of (key, id) rows
    plus in-bucket pair generation — never an all-pairs compare.

    ``blocks`` trades table count against key width: the default
    (d+1 tables, 64/(d+1)-bit keys) is cheapest below ~1M docs, but
    its 16-bit keys saturate at ~65k buckets — in-bucket work then
    grows as n^2/65k even for uniform signatures. At larger corpus
    sizes set ``blocks=6`` (d=3): C(6,3)=20 tables with ~32-bit keys,
    5x the shuffle volume for ~2^16x fewer key collisions — the
    Manku-style table/width trade a 100 TB dedup runs.

    Same bucket-aggregation shape as :func:`minhash_candidates`
    (collect-sort-cap-explode): buckets above ``max_bucket`` are
    dropped, bounding the quadratic in-bucket blowup; a true near-dup
    pair lost to one hot table still meets in another unless all of
    its tables are hot.

    Returns distinct ``(id_a, id_b, hamming)`` with ``id_a < id_b``
    — identical output for every valid ``blocks`` setting (test-pinned
    against the brute-force compare).

    ``blocks=None`` picks the layout from corpus size
    (:func:`_auto_blocks_for`): one count() job on the input — cheap
    on a bare parquet scan (footer row counts), ONE EXTRA PASS when
    the input is a derived frame (union, filter) that can't answer
    from metadata, and memoized per (application, semantic plan) so
    repeat invocations over the same frame pay it once; callers who
    already know the corpus size should still pass ``blocks``
    explicitly. Note this makes plan construction eager.
    """
    if blocks is None:
        blocks = _auto_blocks_for(df, max_distance)
    sigs = df.select(
        F.col(id_col), simhash(F.col(text_col), 64, shingle_n, seed).alias("sig")
    )
    return hamming_pairs_from_sigs(
        sigs, id_col=id_col, max_distance=max_distance,
        max_bucket=max_bucket, blocks=blocks,
    )


# Corpus size where the default 4-table/16-bit-key banding loses to
# the Manku blocks=6 (20-table/~30-bit-key) layout for d=3. The
# 16-bit keys saturate at 65,536 buckets per table, so in-bucket pair
# generation grows as n²/2^16 per table even on uniform signatures
# (census at 5M docs: all 4x65,536 buckets full, avg 76, 1.12e9
# candidate pairs — 100x the 500k count for 10x the docs), while the
# 6-block layout pays 5x the shuffle rows for ~2^14x the key space.
# MEASURED banding+verify over stored Arrow signatures, PACKED 8-byte
# band keys (NOTES r06): 500k docs 2.0 s (4-block) vs 3.6 s
# (6-block); 2M docs 6.4 vs 8.1; 5M docs 30.9 vs 16.0 (6-block wins
# decisively once in-bucket quadratics bite); 10M docs ~146 vs
# 33.1 s. Crossover sits between 2M and 5M. (Pre-packing, struct
# keys made the 6-block layout shuffle-bound and pushed the
# crossover to ~5M: 33.3 s at 5M, 128.8 s at 10M — key packing alone
# bought 2-4x on the wide layout.)
SIMHASH_BLOCKS_AUTO_THRESHOLD = 3_000_000

# Corpus size above which minhash_candidates turns the hot-bucket
# census guard ON by default (round-8 VERDICT #4). MEASURED
# minhash_candidates end-to-end on the .scale driver-shaped corpora
# (best-of-2, noop sink, 48g heap): 500k docs 10.3 -> 12.3 s (+19%
# guarded); 5M docs 522 -> 461 s (guard NEGATIVE cost, -12%) — the
# same 16-bit-band-key saturation that flips _auto_blocks to the
# wide layout near 3M docs (avg bucket occupancy ~76 at 5M) makes
# the census pre-drop pay for itself: dropping over-cap buckets
# BEFORE collect_list saves more than the banded checkpoint costs.
# Below the threshold the unguarded path's measured 9-19% edge is
# kept and the worst-case single-bucket buffer is bounded by the
# corpus itself (<=3M ids ~= 50 MB per hot group — survivable);
# above it the guard is both the OOM protection and the faster
# plan. Same crossover driver as SIMHASH_BLOCKS_AUTO_THRESHOLD, so
# the knobs deliberately share the 3M value.
GUARD_HOT_BUCKETS_AUTO_THRESHOLD = 3_000_000


def _auto_blocks(n_docs: int, max_distance: int) -> int:
    """Pick the banding layout from corpus size: the Manku wide-key
    trade (blocks=6) past the measured crossover, the minimal d+1
    tables below it. Only the d=3 crossover is measured; other
    distances keep the minimal layout until they have numbers."""
    if max_distance == 3 and n_docs >= SIMHASH_BLOCKS_AUTO_THRESHOLD:
        return 6
    return max_distance + 1


# (applicationId, semanticHash) -> row count, for the size-derived
# auto knobs. Bounded: cleared wholesale at 1024 entries (values are
# ints; the bound exists so a long-lived interactive session can't
# grow it without limit).
_NDOC_CACHE: dict = {}


def _ndocs_for(df: DataFrame) -> int:
    """Corpus row count memoized per (application, semantic plan):
    repeat invocations over the same frame — an interactive session
    probing thresholds, the delta path called per epoch against the
    same stored index — pay the sizing job once (round-7 VERDICT
    follow-up). Staleness is bounded AND benign: a same-plan frame
    whose underlying files changed serves the old count, but every
    knob derived from it is output-invariant (test-pinned for every
    valid ``blocks`` / both guard settings) — a stale count can only
    pick the slower exact plan, never a wrong answer."""
    key = (df.sparkSession.sparkContext.applicationId, df.semanticHash())
    n = _NDOC_CACHE.get(key)
    if n is None:
        n = df.count()
        if len(_NDOC_CACHE) >= 1024:
            _NDOC_CACHE.clear()
        _NDOC_CACHE[key] = n
    return n


def _auto_blocks_for(df: DataFrame, max_distance: int) -> int:
    """:func:`_auto_blocks` with the count() memoized via
    :func:`_ndocs_for`."""
    return _auto_blocks(_ndocs_for(df), max_distance)


def _banded_sigs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    max_distance: int = 3,
    blocks: Optional[int] = None,
) -> DataFrame:
    """Pigeonhole band keys for a signature relation: one row per
    (signature, block-combination table), the table index and the
    combo's chunk bits PACKED into a single 64-bit long — one 8-byte
    equality key through every exchange instead of an (int, struct)
    pair (round-6: the 6-block layout is shuffle-bound at 10M docs, so
    key width is the cost driver). Packing is injective: the band
    index sits at a FIXED offset (the layout's maximum combo payload
    width — 34 bits for blocks=6, 40 for blocks=8) with every combo's
    chunk fields packed below it from bit 0. A variable offset (shift
    t left by THIS combo's payload width, the round-6 first cut) is
    NOT injective when chunk widths differ within a layout: blocks=6
    has five 10-bit chunks plus one 14-bit chunk, so short-combo keys
    with t >= 16 collided with long-combo t=1 keys, silently merging
    unrelated buckets — extra candidates were filtered by the exact
    hamming verify, but a merged bucket could cross ``max_bucket`` and
    be dropped, losing true pairs (round-7 ADVICE finding; packing
    injectivity is now pinned by
    tests/test_dedup_similarity.py::test_banded_key_packing_injective).
    Layouts whose band-index + payload bits exceed 64 (none of the
    measured ones; e.g. a hypothetical d=1/blocks=16) fall back to an
    exact (band, chunk-array) struct key. Row-local bit ops only —
    banding a STORED signature table costs no re-hash of text, which
    is what makes the incremental path cheap. Columns:
    ``(id, sig, key)``."""
    from itertools import combinations

    nblocks = blocks if blocks is not None else max_distance + 1
    if nblocks <= max_distance:
        raise ValueError(
            f"blocks={nblocks} must exceed max_distance={max_distance} "
            "(pigeonhole needs one clean combination)"
        )
    width = 64 // nblocks
    sigs = sigs.select(F.col(id_col), F.col(sig_col).alias("sig"))

    def chunk_nbits(c: int) -> int:
        return 64 - c * width if c == nblocks - 1 else width

    def chunk_bits(c: int) -> Column:
        nbits = chunk_nbits(c)
        # nbits == 64 only for the degenerate nblocks=1 (max_distance
        # 0) layout: the chunk is the whole signature and a 2^64-1
        # literal would overflow long
        if nbits >= 64:
            return F.col("sig")
        mask = (1 << nbits) - 1
        return F.shiftrightunsigned(F.col("sig"), c * width).bitwiseAND(
            F.lit(mask).cast("long")
        )

    combos = list(combinations(range(nblocks), nblocks - max_distance))
    # fixed band-index offset: the widest combo's payload (the last
    # chunk absorbs 64 mod nblocks leftover bits, so combos containing
    # it pack more payload than the rest)
    combo_bits = [sum(chunk_nbits(c) for c in combo) for combo in combos]
    band_offset = max(combo_bits)
    band_bits = max((len(combos) - 1).bit_length(), 1)

    def packed_key(t: int, combo) -> Column:
        if band_offset >= 64:
            # single-table whole-signature layout (or a full-width
            # payload with one combo): the key IS the payload; t == 0
            expr = F.lit(0).cast("long")
            for c in combo:
                nbits = chunk_nbits(c)
                expr = (
                    chunk_bits(c)
                    if nbits >= 64
                    else F.shiftleft(expr, nbits).bitwiseOR(chunk_bits(c))
                )
            return expr
        # t at the fixed offset; chunks packed from bit 0 below it.
        # Different combos' payloads may occupy different widths, but
        # (t, payload) -> key is injective because t's field never
        # overlaps any payload bit.
        expr = F.lit(0).cast("long")
        for c in combo:
            expr = F.shiftleft(expr, chunk_nbits(c)).bitwiseOR(chunk_bits(c))
        return F.shiftleft(F.lit(t).cast("long"), band_offset).bitwiseOR(expr)

    if band_offset < 64 and band_offset + band_bits > 63 and len(combos) > 1:
        # packed key cannot hold band + payload without touching the
        # sign bit ambiguously: exact struct key (band, chunks) —
        # wider, but only reachable for layouts no measured corpus
        # uses (e.g. d=1 with 16 blocks: 60 payload + 4 band bits)
        keys = [
            F.struct(
                F.lit(t).alias("band"),
                F.array(*[chunk_bits(c) for c in combo]).alias("chunks"),
            )
            for t, combo in enumerate(combos)
        ]
    else:
        keys = [packed_key(t, combo) for t, combo in enumerate(combos)]

    return sigs.select(
        F.col(id_col).alias("id"),
        F.col("sig"),
        F.explode(F.array(*keys)).alias("key"),
    )


def hamming_pairs_from_sigs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    max_distance: int = 3,
    max_bucket: int = 4096,
    blocks: Optional[int] = None,
) -> DataFrame:
    """The banding half of :func:`simhash_hamming_pairs`, reusable over
    ANY 64-bit signature column (JVM fold, Arrow scorer, or a stored
    signature table — the per-crawl-snapshot shape persists signatures
    and re-bands only)."""
    banded = _banded_sigs(sigs, id_col, sig_col, max_distance, blocks)

    grouped = (
        banded.groupBy("key")  # band index is packed into the key
        # id is the struct's first field, so array_sort orders by id
        .agg(F.array_sort(F.collect_list(F.struct("id", "sig"))).alias("entries"))
        .filter((F.size("entries") > 1) & (F.size("entries") <= max_bucket))
    )
    pairs = F.flatten(
        F.transform(
            F.col("entries"),
            lambda a: F.transform(
                F.filter(F.col("entries"), lambda b: b["id"] > a["id"]),
                lambda b: F.struct(
                    a["id"].alias("id_a"),
                    b["id"].alias("id_b"),
                    F.bit_count(a["sig"].bitwiseXOR(b["sig"])).alias("hamming"),
                ),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .filter(F.col("hamming") <= max_distance)
        .distinct()
    )


def embedding_dedup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    planes: int = 12,
    seed: int = 5,
    max_bucket: Optional[int] = 10_000,
) -> DataFrame:
    """Embedding near-duplicates: cosine >= threshold, LSH-bucketed.

    Random-hyperplane signature: bit i = sign(<v, r_i>) with r_i a
    deterministic ±1 hyperplane derived from (seed, i, dim index) — so
    the bucketing is reproducible with no stored model. Cosine is
    verified only within buckets. ``planes`` trades recall (more
    buckets => fewer collisions => lower recall, fewer comparisons).

    Buckets larger than ``max_bucket`` are dropped before the
    self-join: a bucket of k vectors yields k²/2 pairs, so one
    degenerate bucket (near-constant embeddings all hashing together)
    would otherwise dominate cost quadratically — the same guard as
    :func:`minhash_candidates`. Pass ``max_bucket=None`` to disable.
    """
    dim_idx = F.sequence(F.lit(0), F.size(F.col(vec_col)) - 1)

    def plane_bit(i: int) -> Column:
        signed = F.zip_with(
            F.col(vec_col),
            dim_idx,
            lambda v, d: v.cast("double")
            * F.when(F.pmod(F.xxhash64(d, F.lit(seed), F.lit(i)), 2) == 0, 1.0).otherwise(-1.0),
        )
        s = F.aggregate(signed, F.lit(0.0), lambda acc, x: acc + x)
        return F.when(s >= 0, F.lit(1)).otherwise(F.lit(0))

    bucket = F.lit(0).cast("long")
    for i in range(planes):
        bucket = bucket * 2 + plane_bit(i)

    bucketed = df.select(F.col(id_col), F.col(vec_col), bucket.alias("bucket"))
    if max_bucket is not None:
        # Bucket census is tiny (<= 2^planes rows): broadcast the keep
        # list so the guard adds no shuffle to the corpus side.
        keep = (
            bucketed.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") <= max_bucket)
            .select("bucket")
        )
        bucketed = bucketed.join(F.broadcast(keep), "bucket")
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )
    return pairs


def _arrow_shingle_hashes(pdf, text_col, shingle_n, hash_key):
    """Shared per-batch shingle machinery for the Arrow signature
    families: pandas ``str.split`` tokenize, flat token array with a
    cross-doc boundary mask, one vectorized ``str.cat`` pass per extra
    shingle word, SipHash via ``pd.util.hash_array``. Returns
    ``(hashes uint64[], shingle_doc_idx int[])`` — both empty when the
    batch has no complete shingle. Any change here (tokenization,
    boundary mask, hash seeding) MUST stay family-agnostic: SimHash
    and MinHash signatures both derive from exactly this stream.
    """
    import numpy as np
    import pandas as pd

    n_docs = len(pdf)
    empty = (np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64))
    toks = pdf[text_col].fillna("").str.split()
    lens = toks.str.len().fillna(0).astype(int).to_numpy()
    total = int(lens.sum())
    if not total:
        return empty
    flat = np.empty(total, dtype=object)
    pos = 0
    for lst in toks:
        if lst:
            flat[pos : pos + len(lst)] = lst
            pos += len(lst)
    doc_idx = np.repeat(np.arange(n_docs), lens)
    m = total - (shingle_n - 1)
    if m <= 0:
        return empty
    keep = np.ones(m, dtype=bool)
    for k in range(1, shingle_n):
        keep &= doc_idx[:m] == doc_idx[k : k + m]
    sh = pd.Series(flat[:m][keep], dtype=object)
    for k in range(1, shingle_n):
        sh = sh.str.cat(pd.Series(flat[k : k + m][keep], dtype=object), sep=" ")
    sh_doc = doc_idx[:m][keep]
    if not len(sh):
        return empty
    h = pd.util.hash_array(sh.to_numpy(dtype=object), hash_key=hash_key)
    return h, sh_doc


def simhash_signatures_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    seed: int = 7,
) -> DataFrame:
    """SimHash signatures via vectorized Arrow batches — the
    throughput path for the signature pass, which dominates the
    banded pipeline's cost (measured: 40 s of a 46 s run at 500k docs
    goes to the JVM fold's per-shingle zip_with over 64 accumulator
    slots).

    Per batch everything is C-speed: pandas ``str.split`` tokenize,
    shingles as one vectorized ``str.cat`` over shifted flat arrays,
    SipHash via ``pd.util.hash_array`` (seeded through ``hash_key``,
    deterministic across processes/machines), per-bit votes as 64
    ``np.bincount`` calls, and the majority-vote pack in uint64.

    NOTE: the shingle hash family differs from the JVM fold's
    xxhash64, so SIGNATURES DIFFER from :func:`simhash` — both are
    valid SimHash instantiations (identical text => identical
    signature within a family; near-dup Hamming proximity holds in
    both), but outputs of the two families must not be mixed in one
    index.
    """
    import numpy as np
    import pandas as pd

    hash_key = f"{seed:016d}"[-16:]

    def gen(batches):
        for pdf in batches:
            n_docs = len(pdf)
            if not n_docs:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            sig = np.zeros(n_docs, dtype=np.uint64)
            h, sh_doc = _arrow_shingle_hashes(pdf, text_col, shingle_n, hash_key)
            if len(h):
                bitsmat = (
                    (h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
                ).astype(np.float64)
                counts = np.stack(
                    [
                        np.bincount(sh_doc, weights=bitsmat[:, b], minlength=n_docs)
                        for b in range(64)
                    ],
                    axis=1,
                )
                votes = np.bincount(sh_doc, minlength=n_docs)
                majority = counts * 2 > votes[:, None]
                powers = np.uint64(1) << np.arange(64, dtype=np.uint64)
                sig = (majority.astype(np.uint64) * powers).sum(
                    axis=1, dtype=np.uint64
                )
            yield pd.DataFrame({id_col: ids, "sig": sig.view(np.int64)})

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        gen, schema=f"{id_col} long, sig long"
    )


def simhash_hamming_pairs_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 3,
    shingle_n: int = 2,
    seed: int = 7,
    max_bucket: int = 4096,
    blocks: Optional[int] = None,
) -> DataFrame:
    """:func:`simhash_hamming_pairs` with the Arrow signature pass —
    same pigeonhole banding (via :func:`hamming_pairs_from_sigs`),
    different (vectorized) signature family. See
    :func:`simhash_signatures_arrow` for the hash-family caveat.
    ``blocks=None`` auto-selects the layout from corpus size
    (:func:`_auto_blocks`; the count() runs on the raw input, NOT the
    signature frame, so the Arrow pass is never paid twice — but it is
    one extra input pass when the input is a derived frame; size-aware
    callers should pass ``blocks`` explicitly)."""
    if blocks is None:
        blocks = _auto_blocks_for(df, max_distance)
    sigs = simhash_signatures_arrow(
        df, text_col=text_col, id_col=id_col, shingle_n=shingle_n, seed=seed
    )
    return hamming_pairs_from_sigs(
        sigs,
        id_col=id_col,
        max_distance=max_distance,
        max_bucket=max_bucket,
        blocks=blocks,
    )


def simhash_delta_hamming_pairs(
    delta: DataFrame,
    sig_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 3,
    shingle_n: int = 2,
    seed: int = 7,
    max_bucket: int = 4096,
    blocks: Optional[int] = None,
) -> DataFrame:
    """Incremental SimHash dedup: Hamming-<=d pairs touching a NEW
    batch, found against a PERSISTED signature table — the simhash
    twin of :func:`minhash_delta_dedup_pairs`.

    ``sig_index`` is ``simhash_signatures_arrow(corpus)`` written once
    (8 bytes/doc); the corpus text is NEVER touched again — banding a
    stored signature is row-local bit ops, and the exact verify is
    ``bit_count`` over signatures already in hand (unlike MinHash,
    which must re-fetch text for the Jaccard verify). Per batch:

    1. signature + band the DELTA only (the one Arrow pass);
    2. the delta's distinct (band, key) set is BROADCAST against the
       banded index — map-side filter, no index shuffle;
    3. hot-bucket census bounded by the buckets the delta touches;
    4. pairs = delta bands x surviving slice, exact Hamming filter —
       every pair touches the delta by construction (delta-delta
       included; index rows for re-ingested delta ids are replaced by
       the delta's fresh signatures via an anti-join).

    Equivalence: output == ``hamming_pairs_from_sigs(all sigs)``
    restricted to delta-touching pairs (test-pinned). Returns
    distinct ``(id_a, id_b, hamming)``, id_a < id_b.
    """
    # layout must match on BOTH sides of the band join; size it from
    # the dominant (index) side — a count-star on the stored 8-byte
    # signature table
    if blocks is None:
        blocks = _auto_blocks_for(sig_index, max_distance)
    dsigs = simhash_signatures_arrow(
        delta, text_col=text_col, id_col=id_col, shingle_n=shingle_n, seed=seed
    )
    dband = _banded_sigs(dsigs, id_col, "sig", max_distance, blocks).cache()
    idx = sig_index.join(F.broadcast(delta.select(id_col)), id_col, "left_anti")
    all_b = _banded_sigs(idx, id_col, "sig", max_distance, blocks).unionByName(dband)
    dkeys = dband.select("key").distinct()
    hit = all_b.join(F.broadcast(dkeys), ["key"]).cache()
    keep = (
        hit.groupBy("key")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .filter(F.col("__bn") <= max_bucket)
        .select("key")
    )
    hit_kept = hit.join(F.broadcast(keep), ["key"])
    # eager materialize + release (the pagerank pattern) so the two
    # per-batch caches don't strand in executor storage across calls
    out = (
        dband.select(
            "key", F.col("id").alias("__d"), F.col("sig").alias("__ds")
        )
        .join(
            hit_kept.select(
                "key", F.col("id").alias("__c"), F.col("sig").alias("__cs")
            ),
            ["key"],
        )
        .filter(F.col("__d") != F.col("__c"))
        .select(
            F.least("__d", "__c").alias("id_a"),
            F.greatest("__d", "__c").alias("id_b"),
            F.bit_count(F.col("__ds").bitwiseXOR(F.col("__cs"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
        .distinct()
        .localCheckpoint(eager=True)
    )
    dband.unpersist()
    hit.unpersist()
    return out


def minhash_signatures_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bins: int = 64,
    shingle_n: int = 3,
    seed: int = 1,
) -> DataFrame:
    """Densified one-permutation MinHash signatures via vectorized
    Arrow batches — the throughput path for the signature pass, which
    dominates the banded pipeline's cost exactly as it does for
    SimHash (see :func:`simhash_signatures_arrow`; same measurement
    logic, same fix).

    Per batch everything is C-speed: pandas ``str.split`` tokenize,
    shingles as one vectorized ``str.cat`` over shifted flat arrays,
    SipHash via ``pd.util.hash_array`` (seeded through ``hash_key``,
    deterministic across processes/machines), per-(doc, bin) minima
    via ``np.minimum.at`` on a dense (docs x bins) matrix, and
    rotation densification (Shrivastava & Li 2014: an empty bin takes
    the value of the next occupied bin, wrapping past the end) as two
    vectorized reverse scans over the bin axis.

    Output schema ``(id, sig array<bigint>)`` matches the JVM family
    (:func:`oph_minhash_dense` upstream of :func:`minhash_band_index`)
    so the SAME banding/pair-generation helpers consume either. The
    shingle hash family differs from the JVM fold's xxhash64, so
    SIGNATURES DIFFER from the JVM path — both are valid OPH
    instantiations (identical text => identical signature within a
    family), but the two families' signatures must not be mixed in
    one index. Docs with no shingles yield an all-null signature,
    matching the JVM path's empty-doc banding sentinel.
    """
    import numpy as np
    import pandas as pd

    hash_key = f"{seed:016d}"[-16:]
    MAXU = np.uint64(0xFFFFFFFFFFFFFFFF)

    def gen(batches):
        for pdf in batches:
            n_docs = len(pdf)
            if not n_docs:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            M = np.full((n_docs, num_bins), MAXU, dtype=np.uint64)
            h, sh_doc = _arrow_shingle_hashes(pdf, text_col, shingle_n, hash_key)
            if len(h):
                bins = (h % np.uint64(num_bins)).astype(np.int64)
                np.minimum.at(M, (sh_doc, bins), h)
            occ = M != MAXU
            any_occ = occ.any(axis=1)
            # rotation densification: two reverse scans; after pass 1
            # the carry holds the lowest occupied bin's value, which is
            # exactly the wrap target pass 2 seeds the tail with
            out = M.copy()
            carry = np.zeros(n_docs, dtype=np.uint64)
            for _ in range(2):
                for b in range(num_bins - 1, -1, -1):
                    o = occ[:, b]
                    carry = np.where(o, M[:, b], carry)
                    out[:, b] = np.where(o, M[:, b], carry)
            signed = out.view(np.int64)
            none_row = [None] * num_bins
            sigs = [
                signed[i].tolist() if any_occ[i] else none_row
                for i in range(n_docs)
            ]
            yield pd.DataFrame({id_col: ids, "sig": sigs})

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        gen, schema=f"{id_col} long, sig array<long>"
    )


def minhash_dedup_pairs_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 1,
    max_bucket: int = 4096,
) -> DataFrame:
    """:func:`minhash_dedup_pairs` with the Arrow signature pass —
    identical banding (:func:`_bands_from_sig`), identical pair
    generation (:func:`_pairs_from_bands`), and the SAME exact-Jaccard
    verification (:func:`_verify_jaccard` compares hashed shingle
    SETS, which is hash-family-agnostic: set Jaccard over 64-bit
    shingle hashes equals string-shingle Jaccard up to ~2^-64
    collisions). Only candidate RECALL depends on the signature
    family; every emitted pair is exactly verified either way."""
    sigs = minhash_signatures_arrow(
        df,
        text_col=text_col,
        id_col=id_col,
        num_bins=num_hashes,
        shingle_n=shingle_n,
        seed=seed,
    )
    banded = _bands_from_sig(sigs, id_col, num_hashes, bands)
    cands = materialize_once(_pairs_from_bands(banded, id_col, max_bucket))
    return _verify_jaccard(cands, df, text_col, id_col, threshold, shingle_n, seed)


def _threshold_and_round(pairs_with_j: DataFrame, threshold: float) -> DataFrame:
    """Shared verify tail for :func:`prefix_jaccard_join`'s two
    branches (``pairs_with_j`` = ``(id_a, id_b, __j)``): threshold on
    the UNROUNDED Jaccard — a single IEEE division of exact integers,
    bit-identical across engines — and round 6dp only for display.
    Filtering on the rounded value would admit pairs with true J in
    [t - 5e-7, t) that the exact candidate pruning rightly never
    generates; keeping this contract in ONE place keeps the branches'
    test-pinned bit-equality from silently diverging (round-7 review).
    """
    return pairs_with_j.filter(F.col("__j") >= threshold).select(
        "id_a", "id_b", F.round("__j", 6).alias("jaccard")
    )


def prefix_jaccard_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    max_bucket: int = 65536,
    bitset_max_vocab: int = 4096,
) -> DataFrame:
    """EXACT token-set similarity self-join via prefix filtering
    (Chaudhuri et al. 2006 / Bayardo et al. "Scaling Up All Pairs
    Similarity Search", WWW 2007 — public literature): unlike the
    MinHash/SimHash LSH paths, this has ZERO false negatives, so the
    output is exactly {(a, b) : Jaccard(tokens(a), tokens(b)) >= t}.
    (Sole caveat, shared with every capped-bucket operator here: a
    prefix-token bucket larger than ``max_bucket`` — 65,536 docs
    sharing one RAREST-first token — is dropped, which can lose a pair
    only if every shared prefix token of that pair is that hot; no
    measured corpus comes near it. Positional pruning auto-disables
    whenever any bucket is dropped, so it never adds misses on top.)

    Prefix-filter theorem: order every token set by one global total
    order (rarest-first here — frequency ascending, token ascending);
    two sets with Jaccard >= t MUST share a token within each other's
    first |x| - ⌈t·|x|⌉ + 1 tokens. Plan: one token-frequency
    aggregate, one join to attach ranks, per-doc sort (row-local),
    explode ONLY the prefix (the corpus's rare-token slice), bucket by
    prefix token for candidates, exact verify on candidates. The
    shuffle carries prefix tokens — on a real (Zipfian) vocabulary the
    rarest-first order makes prefixes highly selective; on adversarial
    tiny-vocab corpora selectivity degrades but exactness never does.
    ``floor`` (not ceil) in the prefix length guards against float
    roundoff ever SHORTENING a prefix (longer prefix = more
    candidates, still exact; shorter = missed pairs).

    Returns ``(id_a, id_b, jaccard)``, id_a < id_b, jaccard >= t
    (rounded 6dp). Token-SET Jaccard — distinct from the shingle
    (n-gram multiset) Jaccard the MinHash pipeline verifies.

    When the GLOBAL vocabulary is at most ``bitset_max_vocab`` tokens
    (the adversarial small-vocab regime where prefix selectivity
    degrades and verification dominates), the verify phase switches to
    popcount over ⌈V/64⌉-long bitmasks — same exact integers, same
    division, bit-identical output (test-pinned); ``0`` disables.
    NOTE: any positive ``bitset_max_vocab`` makes the operator EAGER —
    the vocabulary-sample gate runs a bounded collect at call time
    (like :func:`binned_interval_join` and ``blocks=None`` banding);
    pass ``0`` for pure-lazy plan construction.
    """
    toks = (
        df.select(
            F.col(id_col),
            F.array_distinct(
                F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
            ).alias("ts"),
        )
        .filter(F.size("ts") > 0)
    )
    freq = (
        toks.select(F.explode("ts").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # bitset-verify gate, two stages so the common (large-vocab) case
    # pays almost nothing: a 2048-doc sample's distinct-token count
    # LOWER-bounDS the true vocabulary, so "sample > cap" proves the
    # vocab is large and skips without ever running a full census;
    # only a small-sample verdict pays one exact freq pass, BOUNDED
    # at both ends — limit(cap+1).collect() ships at most cap+1 rows
    # to the driver and materializes nothing corpus-sized executor-
    # side (the round-7 review caught the first cut eagerly
    # checkpointing the full, potentially huge, freq table before the
    # census could reject it). A fooled sample on a sorted/topical
    # corpus costs one wasted freq pass, never storage and never a
    # wrong result. A CONFIRMED-small freq is rebuilt as a local
    # frame, so the vocab bit-assignment and the ranked join below
    # reuse those <=cap rows with zero further corpus scans. The gate
    # only picks between two exact verify plans (same _auto_blocks
    # discipline: data-dependent plan, data-independent answer).
    vocab_rows = None
    if bitset_max_vocab > 0:
        sample_v = (
            toks.limit(2048)
            .select(F.explode("ts").alias("tok"))
            .agg(F.count_distinct("tok").alias("v"))
            .collect()[0][0]
        )
        if sample_v is not None and 0 < sample_v <= bitset_max_vocab:
            probe = freq.limit(bitset_max_vocab + 1).collect()
            if 0 < len(probe) <= bitset_max_vocab:
                vocab_rows = probe
                freq = df.sparkSession.createDataFrame(probe, freq.schema)
    # rarest-first sorted token array per doc: attach (cnt, tok) and
    # sort_array on the struct — row-local after one key-wise join
    ranked = (
        toks.select(F.col(id_col), F.explode("ts").alias("tok"))
        .join(freq, "tok")
        .groupBy(id_col)
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("cnt", "tok"))),
                lambda s: s["tok"],
            ).alias("ts")
        )
    )
    n = F.size("ts")
    plen = n - F.floor(F.lit(threshold) * n).cast("int") + 1
    prefixes = ranked.select(
        F.col(id_col),
        n.alias("n"),
        # 0-based position WITHIN THE SORTED ARRAY (the prefix is the
        # array head, so prefix index == array index) — feeds the
        # positional filter below
        F.posexplode(F.slice("ts", 1, plen)).alias("pos", "tok"),
    )
    # candidate generation with two PPJoin pruning levels fused in:
    #
    # 1. LENGTH filter: J >= t forces t·|y| <= |x| <= |y|/t, so within
    #    a bucket each doc only pairs forward with docs up to 1/t its
    #    size. The compare is float-SAFE (+1e-9 slack): at an exact
    #    boundary (|small| == t·|large|) fl(t)·n can land one ulp above
    #    the integer and prune a qualifying pair; extra candidates are
    #    harmless since verification is exact, missed ones are not.
    # 2. POSITIONAL filter (full PPJoin, Xiao et al. 2008): a shared
    #    prefix token at 0-based positions (pa, pb) bounds the overlap
    #    by min(|x|-pa, |y|-pb) when it is the FIRST common token (no
    #    common tokens precede it in the global order); J >= t needs
    #    overlap >= t/(1+t)·(|x|+|y|), so a pair survives iff SOME
    #    shared occurrence meets the bound — for a truly-similar pair
    #    its first common token always does, so exactness holds...
    #    PROVIDED that first-common-token bucket was not dropped by the
    #    max_bucket cap: a pair surviving only via LATER shared tokens
    #    can have commons before (pa, pb) that the bound doesn't count,
    #    and the filter would wrongly prune it (round-6 review finding).
    #    So the bucket aggregate is materialized once, a one-row probe
    #    checks whether ANY bucket was dropped, and positional pruning
    #    engages only in the no-drop case — on real Zipfian corpora
    #    rarest-first prefix buckets never approach 65,536 docs, so the
    #    filter is active where it matters and exactness is
    #    unconditional. (Hot-bucket drops themselves can lose pairs
    #    whose every shared prefix token is hot — the pre-existing,
    #    documented LSH-style cap semantics, inert at default settings
    #    on every measured corpus.)
    grouped_all = (
        prefixes.groupBy("tok")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("n"), F.col(id_col).alias("id"), F.col("pos"))
                )
            ).alias("xs")
        )
        .filter(F.size("xs") > 1)
        # materialized once: reused by the drop probe and the explode,
        # then released by the ContextCleaner (operator is eager, like
        # the rest of the round-6 dedup family)
        .localCheckpoint(eager=True)
    )
    any_dropped = (
        grouped_all.filter(F.size("xs") > max_bucket).limit(1).count() > 0
    )
    grouped = grouped_all.filter(F.size("xs") <= max_bucket)

    # In-bucket pair generation is vectorized numpy over Arrow batches
    # (mapInPandas), not a nested HOF: a k-doc bucket evaluates k²
    # pair predicates, and per-element expression-tree evaluation was
    # the measured hot path (9.2 of 14.4 s at sf0.1 on the degenerate
    # corpus, whose 18 fat buckets each hold thousands of docs);
    # broadcasting the (n, id, pos) arrays does the same k² compare at
    # C speed in 1024-row strips (block-bounded memory, the SemDeDup
    # Gram-strip pattern). Same predicates, same pair set — pinned by
    # the brute-force row-equality oracle and the bucket-drop
    # regression test.
    use_pos = not any_dropped
    t = float(threshold)
    req_f = t / (1.0 + t)

    def _gen_pairs(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_lo, out_hi = [], []
            for xs in pdf["xs"]:
                k = len(xs)
                if k < 2:
                    continue
                ns = np.fromiter((r["n"] for r in xs), dtype=np.int64, count=k)
                pos = np.fromiter((r["pos"] for r in xs), dtype=np.int64, count=k)
                # numpy '<U' (and Python str) comparison is by code
                # point; Spark's UTF8String and DuckDB's default
                # collation compare UTF-8 bytes — identical orderings
                # for well-formed Unicode (UTF-8 byte order preserves
                # code-point order by construction), so the (id_a,
                # id_b) normalization below agrees with both engines
                # for any string ids, not just the ASCII fixtures;
                # integer ids compare natively. (Ill-formed data —
                # lone surrogates — is the only divergence and cannot
                # round-trip through Arrow anyway.)
                ids = np.array([r["id"] for r in xs])
                # both axes of the k x k predicate grid are tiled so
                # every temporary is at most STRIP x JSTRIP (1024 x
                # 8192 int64 = 64 MB); a single strip x k slab would
                # be ~0.5 GB per temporary at the 65,536 max_bucket
                # cap (round-7 ADVICE finding)
                for s in range(0, k, 1024):
                    e = min(s + 1024, k)
                    na, ia, pa = ns[s:e, None], ids[s:e, None], pos[s:e, None]
                    for js in range(0, k, 8192):
                        je = min(js + 8192, k)
                        nb, ib = ns[None, js:je], ids[None, js:je]
                        cond = (nb > na) | ((nb == na) & (ib > ia))
                        cond &= nb * t <= na + 1e-9
                        if use_pos:
                            ub = np.minimum(na - pa, nb - pos[None, js:je])
                            cond &= ub + 1e-9 >= req_f * (na + nb)
                        ai, bj = np.nonzero(cond)
                        if len(ai) == 0:
                            continue
                        a_ids, b_ids = ids[s:e][ai], ids[js:je][bj]
                        swap = b_ids < a_ids
                        out_lo.append(np.where(swap, b_ids, a_ids))
                        out_hi.append(np.where(swap, a_ids, b_ids))
            if out_lo:
                yield pd.DataFrame(
                    {"id_a": np.concatenate(out_lo), "id_b": np.concatenate(out_hi)}
                )

    id_dt = df.schema[id_col].dataType.simpleString()
    cands = (
        grouped.select("xs")
        .mapInPandas(_gen_pairs, schema=f"id_a {id_dt}, id_b {id_dt}")
        .distinct()
    )
    if vocab_rows is not None:
        # BITSET verify (small global vocabulary — the adversarial
        # regime where prefix selectivity degrades and the verify
        # phase dominates): collect the ≤``bitset_max_vocab`` tokens,
        # assign each a bit, and represent every doc's token SET as
        # ⌈V/64⌉ longs built in one row-local Arrow pass. Then
        # |a ∩ b| = Σ popcount(mask_a & mask_b) and
        # |a ∪ b| = n_a + n_b - |a ∩ b| — the SAME exact integers as
        # array_intersect/array_union, so the IEEE division (and the
        # threshold compare) is bit-identical to the array path
        # (pinned by tests/test_dedup_similarity.py). The verify join
        # carries 8·⌈V/64⌉-byte masks instead of the full string
        # arrays (~40× smaller rows on the measured 40-word hostile
        # corpus) and each pair costs ⌈V/64⌉ AND+popcounts instead of
        # a per-pair string hash set. Gated on vocabulary size, not
        # corpus size: on real Zipfian text (V ≫ 4096) masks would be
        # wider than the token arrays themselves and the array path
        # wins, so it stays the default.
        vocab = {r["tok"]: i for i, r in enumerate(vocab_rows)}
        nwords = (len(vocab_rows) + 63) // 64

        def _mask_rows(batches):
            import pandas as pd

            for pdf in batches:
                ms, lens = [], []
                for ts in pdf["ts"]:
                    m = [0] * nwords
                    for tk in ts:
                        i = vocab[tk]
                        m[i >> 6] |= 1 << (i & 63)
                    # two's-complement into signed int64 for Arrow
                    ms.append(
                        [v - (1 << 64) if v >= (1 << 63) else v for v in m]
                    )
                    lens.append(len(ts))
                yield pd.DataFrame({"id": pdf["id"], "n": lens, "m": ms})

        masks = toks.select(F.col(id_col).alias("id"), "ts").mapInPandas(
            _mask_rows, schema=f"id {id_dt}, n int, m array<bigint>"
        )
        ma, mb = masks.alias("ma"), masks.alias("mb")
        inter = F.aggregate(
            F.zip_with(
                F.col("ma.m"),
                F.col("mb.m"),
                lambda x, y: F.bit_count(x.bitwiseAND(y)).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return _threshold_and_round(
            cands.join(ma, cands.id_a == F.col("ma.id"))
            .join(mb, cands.id_b == F.col("mb.id"))
            .select(
                "id_a",
                "id_b",
                (inter / (F.col("ma.n") + F.col("mb.n") - inter)).alias("__j"),
            ),
            threshold,
        )
    sets = toks.select(F.col(id_col), F.array_sort("ts").alias("ts"))
    a, b = sets.alias("a"), sets.alias("b")
    return _threshold_and_round(
        cands.join(a, cands.id_a == F.col(f"a.{id_col}"))
        .join(b, cands.id_b == F.col(f"b.{id_col}"))
        .select(
            "id_a",
            "id_b",
            jaccard(F.col("a.ts"), F.col("b.ts")).alias("__j"),
        ),
        threshold,
    )


def multi_key_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    key_cols: tuple = (),
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 1,
    policy_order=None,
    policy_cols: tuple = (),
    guard_hot_buckets: Optional[bool] = None,
) -> DataFrame:
    """Production multi-signal dedup POLICY: one clustering over the
    union of (1) exact content duplicates (text digest), (2) metadata
    identity keys (url, source-record id, ...), and (3) MinHash
    near-duplicates, with policy-ranked survivor selection per cluster
    — the end-to-end shape a training pipeline runs per corpus release
    (a page re-crawled under the same URL with edits, mirrored
    verbatim on another host, and lightly templated elsewhere must
    collapse into ONE kept document).

    Scale shape, per signal:

    - digest / metadata keys: each equality group contributes a STAR
      of ``n-1`` edges to its min-id representative (skew-safe
      groupBy + join-back over a skinny ``(key, id)`` frame — never
      the quadratic within-group pair set, so a million-copy
      boilerplate page costs a million edges, not 10^12). NULL and
      empty keys never group.
    - near-dup: :func:`minhash_dedup_pairs` — O(n·bands) banding
      shuffle, exact-Jaccard verify on candidates only.
    - clustering: :func:`~..graph.connected_components` over the edge
      union (O(log n) label-propagation rounds, skinny frames).
    - survivor: one window over ``(cluster, policy columns)`` — text
      never crosses an exchange; the policy ranks a skinny projection.

    ``policy_order``: list of Columns ranking cluster members BEST
    FIRST (default: longest text, then smallest id — deterministic).
    The survivor window runs over a skinny projection, so a custom
    ordering may reference only ``__len``, ``id``, and column names
    listed in ``policy_cols`` — name every input column your ordering
    uses there (e.g. ``policy_order=[F.col("fetch_ts").desc()],
    policy_cols=("fetch_ts",)``); this is what keeps wide text out of
    the window exchange (round-7 review: without the carry list,
    custom orderings could not resolve at all).
    Returns one row per input doc:
    ``(id, cluster, n_members, survivor_id, is_survivor)``.
    """
    from .graph import connected_components

    carry = list(dict.fromkeys([*key_cols, *policy_cols]))
    skinny = df.select(
        F.col(id_col).alias("id"),
        F.md5(F.col(text_col)).alias("__fp"),
        F.length(F.col(text_col)).alias("__len"),
        *[F.col(k) for k in carry],
    )

    def star_edges(key: Column) -> DataFrame:
        """(id, group-min-id) edges for one equality key; linear in
        group size. Representative via groupBy + join-back, NOT a
        min-over-window: a window partition ships the whole equality
        group to ONE task (no partial aggregation, no AQE skew split),
        so the motivating million-copy boilerplate key would straggle
        on exactly the input this operator exists for (round-7 review
        finding). The aggregate combines map-side and the join back is
        ordinary skew-splittable equi-join traffic."""
        keyed = skinny.select("id", key.alias("__k")).filter(
            F.col("__k").isNotNull() & (F.col("__k") != "")
        )
        reps = keyed.groupBy("__k").agg(F.min("id").alias("__rep"))
        return (
            keyed.join(reps, "__k")
            .filter(F.col("id") != F.col("__rep"))
            .select(F.col("id").alias("id_a"), F.col("__rep").alias("id_b"))
        )

    edges = star_edges(F.col("__fp"))
    for k in key_cols:
        # each key family gets its OWN star_edges pass (its own window
        # over its own key column), so families never compare keys —
        # no namespacing needed, and the raw value is what the NULL/
        # empty filter must see (a prefixed empty key like "url:"
        # would sail past the != "" guard and merge every empty-url
        # doc into one cluster — round-7 self-review finding)
        edges = edges.unionByName(star_edges(F.col(k).cast("string")))
    near = minhash_dedup_pairs(
        df,
        text_col,
        id_col,
        threshold,
        num_hashes,
        bands,
        shingle_n,
        seed,
        guard_hot_buckets=guard_hot_buckets,
    ).select("id_a", "id_b")
    edges = edges.unionByName(near)

    labels = connected_components(edges)  # (node, component)
    labeled = skinny.join(
        labels, skinny.id == labels.node, "left"
    ).select(
        "id",
        "__len",
        *[F.col(c) for c in policy_cols],
        F.coalesce(F.col("component"), F.col("id")).alias("cluster"),
    )
    order = policy_order or [F.col("__len").desc(), F.col("id").asc()]
    w = Window.partitionBy("cluster").orderBy(*order)
    wc = Window.partitionBy("cluster")
    return (
        labeled.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc).cast("long"))
        .withColumn("survivor_id", F.first("id").over(w))
        .select(
            F.col("id").alias(id_col),
            "cluster",
            "n_members",
            "survivor_id",
            (F.col("__rn") == 1).alias("is_survivor"),
        )
    )


def contrastive_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    pos_threshold: float = 0.9,
    cand_threshold: float = 0.7,
    max_bucket: int = 65536,
    pairs: Optional[DataFrame] = None,
) -> DataFrame:
    """Contrastive training-pair mining: for every anchor document,
    its best POSITIVE (nearest neighbor at token-set Jaccard >=
    ``pos_threshold`` after 6-dp rounding — a near-duplicate) and its
    best HARD NEGATIVE (the closest pair BELOW the positive band but
    >= ``cand_threshold`` — lexically close yet not a duplicate, the
    "hard" part). Anchors missing either side are dropped: a usable
    contrastive triplet needs both. This is the (anchor, positive,
    negative) triplet construction embedding-model training data
    pipelines run over a curated corpus (Gao et al. 2021 SimCSE-style
    supervised pairs; hard negatives are what make the contrastive
    loss informative).

    Built entirely on :func:`prefix_jaccard_join` — ONE exact
    similarity join at the LOWER threshold feeds both bands, so the
    mining pass inherits the prefix filter's zero-false-negative
    guarantee and its scale shape (candidates from rare-token
    prefixes, never all-pairs; capped buckets). Per-anchor selection
    is one window argmax each over the (rounded) similarity with the
    partner id as tie-break — deterministic, engine-independent.

    Returns ``(anchor_id, positive_id, pos_jaccard, negative_id,
    neg_jaccard)``, one row per anchor that has both sides.

    ``pairs`` injects a pre-computed candidate frame ``(id_a, id_b,
    jaccard)`` in place of the default exact prefix join — the
    100 TB shape: on a web-scale corpus you mine triplets from the
    MinHash/SimHash candidate pairs the dedup pass ALREADY produced
    (:func:`minhash_dedup_pairs` emits exact-verified Jaccard for
    exactly this kind of reuse), because any exact join at a 0.7
    floor is output-volume-bound when the corpus is dense with
    near-pairs (measured: the sf0.1 test corpus has 5M of 12.5M
    total pairs above 0.7 — band volume, not doc count, is the
    scaling predictor, the wedge-census lesson applied to text)."""
    if pairs is None:
        pairs = prefix_jaccard_join(
            df,
            text_col=text_col,
            id_col=id_col,
            threshold=cand_threshold,
            max_bucket=max_bucket,
        )
    sym = pairs.select(
        F.col("id_a").alias("anchor_id"),
        F.col("id_b").alias("partner_id"),
        "jaccard",
    ).unionAll(
        pairs.select(
            F.col("id_b").alias("anchor_id"),
            F.col("id_a").alias("partner_id"),
            "jaccard",
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("jaccard").desc(), F.col("partner_id").asc()
    )

    def best(frame: DataFrame, pid: str, jname: str) -> DataFrame:
        return (
            frame.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "anchor_id",
                F.col("partner_id").alias(pid),
                F.col("jaccard").alias(jname),
            )
        )

    pos = best(sym.filter(F.col("jaccard") >= pos_threshold), "positive_id", "pos_jaccard")
    # the cand_threshold floor applies to INJECTED frames too: the
    # default prefix join can't emit below it, but a caller-supplied
    # candidate set can carry arbitrarily low-similarity rows, and a
    # J~0 "hard negative" is a trivially easy one (round-9 review)
    neg = best(
        sym.filter(
            (F.col("jaccard") < pos_threshold)
            & (F.col("jaccard") >= cand_threshold)
        ),
        "negative_id",
        "neg_jaccard",
    )
    return pos.join(neg, "anchor_id")


def containment_join(
    eval_units: DataFrame,
    train_units: DataFrame,
    threshold: float,
    eval_id: str = "eval_id",
    train_id: str = "train_id",
    units_col: str = "units",
) -> DataFrame:
    """EXACT asymmetric containment join — for every (eval, train)
    document pair with ``|A ∩ B| / |A| >= threshold`` (A = the eval
    doc's unit set, B = the train doc's), emit the pair with its exact
    containment. This is the per-PAIR decontamination question
    ("WHICH training document contains this eval document?") that the
    set-level ``contamination_check`` (overlap vs the union of all
    training n-grams) cannot answer: a 60%-overlap eval doc may be
    benign vocabulary reuse spread over thousands of train docs, or
    one verbatim copy — only the pair join distinguishes them.

    Prefix filtering, containment form (Chaudhuri et al. 2006 /
    Bayardo et al. 2007 adapted to the asymmetric bound): a pair with
    overlap ``o >= o_min = ceil(t*|A| - 1e-9)`` must share at least
    one of A's ``|A| - o_min + 1`` RAREST units (pigeonhole — if none
    of that prefix is in B, at most ``o_min - 1`` units remain). The
    global unit order is train-side document frequency ascending
    (unit tie-break); an eval unit absent from training sorts FIRST
    (df 0 — maximally selective, and correctly generates zero
    candidates). Only A's side has a prefix: B is unbounded below, so
    the train side is pruned by VOCABULARY instead — its unit explode
    is semi-joined against the (small) eval-prefix unit set BEFORE
    anything shuffles.

    The float-safety split (the ``prefix_jaccard_join`` discipline):
    ``o_min`` carries a 1e-9 slack and is used ONLY for candidate
    completeness (slack can only over-include); the emitted filter is
    the single IEEE division ``o / |A| >= threshold``, bit-identical
    across engines, applied to the UNROUNDED value.

    Scale shape: eval sets are small by nature (that is why this
    direction of decontamination is cheap), so the eval-prefix
    vocabulary broadcasts; the train unit stream explodes once,
    collapses against that broadcast before its shuffle, and only
    postings for eval-prefix units ever move. Verification joins the
    two bounded unit arrays per surviving candidate. Returns
    ``(eval_id, train_id, containment)`` — full row-for-row oracle
    comparable (the registered query's DuckDB twin is the O(n*m)
    brute force).

    ``units_col`` arrays are de-duplicated defensively; empty eval
    unit sets are dropped (containment undefined; the SQL twin's
    ``CASE len = 0`` evaluates to 0 and never passes a positive
    threshold).
    """
    # Materialize each side's unit arrays ONCE (round-13, guide §1.2:
    # the distributed algorithm first). The DAG below references ev
    # twice (prefix ranking, verify) and tr three times (df census,
    # postings, verify); without a materialization point every branch
    # re-runs the upstream tokenize+shingle+distinct — the single most
    # expensive subtree — per execution. localCheckpoint is the repo's
    # standard cut (eager, GC-released); at 100 TB it is the persisted
    # unit table a multi-pass decontamination job writes anyway.
    ev = (
        eval_units.select(
            F.col(eval_id).alias("__ea"),
            F.array_distinct(F.col(units_col)).alias("__ua"),
        )
        .where(F.size("__ua") > 0)
    )
    ev = materialize_once(ev)
    tr = materialize_once(train_units.select(
        F.col(train_id).alias("__tb"),
        F.array_distinct(F.col(units_col)).alias("__ub"),
    ))
    tr_tok = tr.select(F.col("__tb"), F.explode("__ub").alias("__tok"))
    census = tr_tok.groupBy("__tok").agg(
        F.count(F.lit(1)).cast("long").alias("__df")
    )
    ev_tok = ev.select(
        "__ea", F.size("__ua").alias("__na"), F.explode("__ua").alias("__tok")
    )
    # df per eval unit (absent-from-train => 0 = rarest); the join's
    # small side is the eval token stream
    ranked = ev_tok.join(census, "__tok", "left").select(
        "__ea",
        "__na",
        "__tok",
        F.coalesce(F.col("__df"), F.lit(0)).alias("__df"),
    )
    o_min = F.ceil(F.lit(threshold) * F.col("__na") - F.lit(1e-9)).cast("int")
    prefix_len = F.col("__na") - o_min + 1
    w = Window.partitionBy("__ea").orderBy(F.col("__df").asc(), F.col("__tok").asc())
    # prefix is read twice (vocabulary broadcast + candidate join);
    # materializing the small (eval_id, token) frame keeps the census
    # shuffle + ranking window single-execution
    prefix = materialize_once(
        ranked.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= prefix_len)
        .select("__ea", "__tok")
    )
    # train postings collapse against the eval-prefix vocabulary
    # BEFORE the candidate shuffle
    ptoks = prefix.select("__tok").distinct()
    postings = tr_tok.join(F.broadcast(ptoks), "__tok", "leftsemi")
    cands = (
        prefix.join(postings, "__tok")
        .select("__ea", "__tb")
        .distinct()
    )
    verified = (
        cands.join(ev, "__ea")
        .join(tr, "__tb")
        .select(
            "__ea",
            "__tb",
            (
                F.size(F.array_intersect("__ua", "__ub")).cast("double")
                / F.size("__ua").cast("double")
            ).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )
    return verified.select(
        F.col("__ea").alias(eval_id),
        F.col("__tb").alias(train_id),
        "containment",
    )
