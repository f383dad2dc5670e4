"""Streaming distinct-count synopsis maintenance: a running per-group
KMV sketch updated per micro-batch (``foreachBatch``), exactly equal
to the batch sketch of everything streamed so far.

The KMV merge property (``operators/sketches.kmv_merge``) is what
makes the streaming arm EXACT rather than approximate-on-top-of-
approximate: the k smallest hashes of ``A ∪ B`` are contained in the
union of the two synopses, so ``merge(synopsis_{e-1}, sketch(batch_e))``
IS ``sketch(batch_0 ∪ … ∪ batch_e)`` — the registered contract pins
bit-exact array equality between the final epoch's stored synopsis and
a one-shot batch sketch of the full streamed slice.

Exactly-once: every fold in this module keeps an epoch store
(``streaming/epochs.py``) read through ``last`` — epoch ``e-1`` only.
The store keeps every epoch's synopsis (kilobytes per group per epoch),
which doubles as a distinct-count TIME SERIES: ``kmv_estimate`` over
epoch ``e``'s row is the distinct count of everything ingested through
``e`` — cardinality growth monitoring for free.

Scale shape per micro-batch: one bounded two-phase sketch pass over
the BATCH only (never the history), one kilobyte-per-group merge join
against the prior synopsis. History is never rescanned; state never
exceeds k hashes per group.
"""

from __future__ import annotations

from functools import partial
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.sketches import kmv_merge, kmv_sketch
from .epochs import EpochStore, start_foreach_batch

__all__ = [
    "kmv_sketch_batch",
    "kmv_sketch_sink",
    "cms_sketch_batch",
    "cms_sketch_sink",
    "hll_sketch_batch",
    "hll_sketch_sink",
    "adaptive_sample_batch",
    "adaptive_sample_sink",
    "bloom_sink_batch",
    "bloom_sink",
]


def kmv_sketch_batch(
    batch: DataFrame,
    epoch_id: int,
    group_cols: Sequence[str],
    value_col: str,
    k: int,
    store_path: str,
) -> None:
    """Fold one micro-batch into the running synopsis: sketch the
    batch, merge with the strictly-earlier epoch's stored synopsis,
    overwrite this epoch's directory."""
    store = EpochStore(batch.sparkSession, store_path)
    sk = kmv_sketch(batch, group_cols, F.col(value_col), k=k)
    prev = store.last(epoch_id, sk.schema)
    merged = sk if prev is None else kmv_merge(prev, sk, group_cols, k)
    store.write(merged, epoch_id)


def kmv_sketch_sink(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int,
    store_path: str,
    checkpoint: str,
    available_now: bool = False,
):
    """Start the synopsis-maintenance sink over a streaming DataFrame.
    Returns the StreamingQuery."""

    apply = partial(
        kmv_sketch_batch,
        group_cols=group_cols,
        value_col=value_col,
        k=k,
        store_path=store_path,
    )
    return start_foreach_batch(df, apply, checkpoint, available_now)


# =====================================================================
# Streaming count-min maintenance (operators/frequency.py CMS)
# =====================================================================
#
# Count-min is a LINEAR sketch — counters(A ⊎ B) = counters(A) +
# counters(B) cell-wise — so the epoch fold is the same exact-merge
# story as KMV above, with addition instead of k-smallest union: the
# final stored counter table is bit-identical to a one-shot batch
# sketch of everything streamed. State is ≤ d·w cells forever; each
# micro-batch pays one bounded-domain groupBy over the BATCH plus a
# ≤ d·w-row merge join. The stored epochs double as a traffic time
# series (cell deltas between epochs = per-epoch frequency mass).


def cms_sketch_batch(
    batch: DataFrame,
    epoch_id: int,
    unit_col: str,
    width: int,
    depth: int,
    store_path: str,
) -> None:
    """Fold one micro-batch into the running counter table: sketch the
    batch, cell-wise add the strictly-earlier epoch's stored counters,
    overwrite this epoch's directory."""
    from ..operators.frequency import cms_merge, count_min_counters

    store = EpochStore(batch.sparkSession, store_path)
    sk = count_min_counters(batch, unit_col, width, depth)
    prev = store.last(epoch_id, sk.schema)
    merged = sk if prev is None else cms_merge(prev, sk)
    store.write(merged, epoch_id)


def cms_sketch_sink(
    df: DataFrame,
    unit_col: str,
    width: int,
    depth: int,
    store_path: str,
    checkpoint: str,
    available_now: bool = False,
):
    """Start the counter-maintenance sink over a streaming DataFrame.
    Returns the StreamingQuery."""

    apply = partial(
        cms_sketch_batch,
        unit_col=unit_col,
        width=width,
        depth=depth,
        store_path=store_path,
    )
    return start_foreach_batch(df, apply, checkpoint, available_now)


# =====================================================================
# Streaming HyperLogLog maintenance (operators/sketches.hll_*)
# =====================================================================
#
# The third sketch family on the same epoch discipline: HLL registers
# merge by element-wise MAX (hll_merge), so the epoch fold is exact —
# the stored register table after epoch e IS hll_registers of
# everything streamed through e, bit-equal. State: ≤ m rows per group
# forever; per epoch one bounded-domain groupBy-max over the batch
# plus a ≤ m-row merge.


def hll_sketch_batch(
    batch: DataFrame,
    epoch_id: int,
    group_cols: Sequence[str],
    value_col: str,
    store_path: str,
) -> None:
    """Fold one micro-batch into the running register table."""
    from ..operators.sketches import hll_merge, hll_registers

    store = EpochStore(batch.sparkSession, store_path)
    regs = hll_registers(batch, group_cols, F.col(value_col))
    prev = store.last(epoch_id, regs.schema)
    merged = regs if prev is None else hll_merge(prev.unionByName(regs), group_cols)
    store.write(merged, epoch_id)


def hll_sketch_sink(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    store_path: str,
    checkpoint: str,
    available_now: bool = False,
):
    """Start the register-maintenance sink; returns the
    StreamingQuery."""

    apply = partial(
        hll_sketch_batch,
        group_cols=group_cols,
        value_col=value_col,
        store_path=store_path,
    )
    return start_foreach_batch(df, apply, checkpoint, available_now)


# =====================================================================
# Adaptive-threshold streaming sample (bounded-state uniform sample)
# =====================================================================
#
# A Bernoulli hash sample is mergeable but its state grows with the
# stream (p·n rows). The adaptive form keeps it BOUNDED: maintain a
# threshold exponent j and the row set {coin < 2^20 >> j}; whenever
# the stored sample exceeds ``cap``, tighten j until it fits (each
# tightening keeps exactly the rows under the new, smaller threshold
# — a deterministic subsample of the sample). This is the classic
# adaptive/theta-sketch sampling scheme (Gibbons & Matias SIGMOD
# 1998's "backing sample"; the theta family in Dasgupta et al. 2016).
#
# The property that makes it oracle-able: the stored state after any
# prefix is EXACTLY ``filter(stream_so_far, coin < T_final)`` — a row
# below the final threshold was admitted on arrival (its coin is
# below every earlier, larger threshold) and survives every
# tightening; a row above it was rejected or culled. And the
# streaming-final j equals the batch-computed smallest j whose
# full-stream sample fits cap, because a j the stream rejected had
# prefix count > cap ⇒ full count > cap (counts grow with the
# stream). So streaming state == batch state, bit-for-bit, and the
# inverse-probability estimate n_sample · 2^j is integer arithmetic
# both engines replicate.


def adaptive_sample_batch(
    batch: DataFrame,
    epoch_id: int,
    id_col: str,
    keep_cols: Sequence[str],
    cap: int,
    store_path: str,
    salt: str = ":as",
    max_exp: int = 20,
) -> None:
    """Fold one micro-batch into the bounded sample store. Stored
    columns: ``keep_cols…, __coin, j`` (j constant per epoch = the
    current threshold exponent)."""
    from ..operators.quantiles import COIN_SPAN, hash_coin

    store = EpochStore(batch.sparkSession, store_path)
    kcols = list(keep_cols)
    if id_col not in kcols:
        raise ValueError("id_col must be one of keep_cols (dedup key)")
    # stored schema: the coined projection + the constant j column
    prev = store.last(
        epoch_id,
        batch.select(
            *kcols, F.lit(0).cast("long").alias("__coin"), F.lit(0).alias("j")
        ).schema,
    )
    if prev is not None:
        # max over an EMPTY prior store is NULL — an empty epoch is a
        # valid state (empty first batch), not a reason to crash
        j_prev = prev.agg(F.max("j")).collect()[0][0] or 0  # 1-row collect
        prev_rows = prev.select(*kcols, "__coin")
    else:
        j_prev = 0
        prev_rows = None
    coined = batch.select(
        *kcols, hash_coin(F.col(id_col), salt).alias("__coin")
    ).where(F.col("__coin") < F.lit(COIN_SPAN >> j_prev))
    # dedupe on the id: an at-least-once source re-delivering rows must
    # not double-count them into the size counts (the batch identity is
    # over the stream's ID SET — the pure-Python model uses sets too)
    combined = (
        (coined if prev_rows is None else prev_rows.unionByName(coined))
        .dropDuplicates([id_col])
        .localCheckpoint(eager=True)
    )
    # one aggregation computes the sample size at every candidate
    # tightening level; the driver picks the smallest fitting j
    sizes = combined.agg(
        *[
            F.sum((F.col("__coin") < F.lit(COIN_SPAN >> j)).cast("long")).alias(
                f"n{j}"
            )
            for j in range(j_prev, max_exp + 1)
        ]
    ).collect()[0]
    j = next(
        (jj for jj in range(j_prev, max_exp + 1) if (sizes[jj - j_prev] or 0) <= cap),
        max_exp,
    )
    out = combined.where(F.col("__coin") < F.lit(COIN_SPAN >> j)).withColumn(
        "j", F.lit(j)
    )
    store.write(out, epoch_id)


def adaptive_sample_sink(
    df: DataFrame,
    id_col: str,
    keep_cols: Sequence[str],
    cap: int,
    store_path: str,
    checkpoint: str,
    available_now: bool = False,
    salt: str = ":as",
):
    """Start the bounded-sample maintenance sink; returns the
    StreamingQuery."""

    apply = partial(
        adaptive_sample_batch,
        id_col=id_col,
        keep_cols=keep_cols,
        cap=cap,
        store_path=store_path,
        salt=salt,
    )
    return start_foreach_batch(df, apply, checkpoint, available_now)


# =====================================================================
# Streaming bloom-filter maintenance (operators/bloom)
# =====================================================================
#
# The fourth exact-merge family: a bloom filter is the bit-OR of its
# insertions, so the epoch fold is a ≤ m-row distinct union
# (bloom_merge) — stored bits after epoch e ARE bloom_bits of every
# key streamed through e, bit-for-bit. The streaming use: keep a
# filter over an ever-growing key dimension (seen URLs, ingested doc
# digests, contaminated n-grams) that any batch job can broadcast to
# prune a scan — membership state in m bits forever.


def bloom_sink_batch(
    batch: DataFrame,
    epoch_id: int,
    key_col: str,
    m: int,
    n_hashes: int,
    store_path: str,
) -> None:
    """Fold one micro-batch into the running filter."""
    from ..operators.bloom import bloom_bits, bloom_merge

    store = EpochStore(batch.sparkSession, store_path)
    bits = bloom_bits(batch, key_col, m, n_hashes)
    prev = store.last(epoch_id, bits.schema)
    merged = bits if prev is None else bloom_merge(prev, bits)
    store.write(merged, epoch_id)


def bloom_sink(
    df: DataFrame,
    key_col: str,
    m: int,
    n_hashes: int,
    store_path: str,
    checkpoint: str,
    available_now: bool = False,
):
    """Start the filter-maintenance sink; returns the StreamingQuery."""

    apply = partial(
        bloom_sink_batch,
        key_col=key_col,
        m=m,
        n_hashes=n_hashes,
        store_path=store_path,
    )
    return start_foreach_batch(df, apply, checkpoint, available_now)
