"""Streaming per-key heavy-hitter maintenance: a running per-key
Misra-Gries summary updated per micro-batch (``foreachBatch``), with
EXACT error accounting.

The MG summary is a mergeable summary (Agarwal, Cormode, Huang,
Phillips, Wei, Yi — PODS 2012): merging two summaries by summing
counters and re-reducing to ``num_counters`` entries per key keeps the
standard guarantee. An exact in-batch histogram is itself an
error-free MG summary, so per epoch the sink folds
``histogram(batch_e)`` into the strictly-earlier epoch's stored
summary and re-reduces — bounded state, one pass over the batch, the
history never rescanned.

What makes the streaming arm VERIFIABLE rather than merely plausible
is the deduction ledger: every reduction step subtracts the
``(num_counters+1)``-th largest count ``t`` from all of a key's
counters, and the sink accumulates ``deduction(key) = Σ t`` exactly,
alongside the exact per-key unit total ``n_units``. The classic MG
bounds then hold with OBSERVED constants, per key:

* ``stored_cnt(unit) <= true_freq(unit)`` (counts only ever shrink
  relative to truth), and
* ``true_freq(unit) <= stored_cnt(unit) + deduction`` (a unit loses
  at most ``t`` per reduction, including the step that drops it) —
  with ``stored_cnt = 0`` for units absent from the summary.

So any unit with ``true_freq > deduction`` is GUARANTEED present in
the final state — and since ``deduction <= n_units/(num_counters+1)``
(each reduction removes ``t`` from at least ``num_counters+1``
counters' worth of mass), every true heavy hitter at the
``freq·num_counters > n_units`` threshold survives. The registered
contract checks containment and both band inequalities row-for-row
against an exact recount.

Exactly-once: ``summary/`` and ``meta/`` are epoch stores
(``streaming/epochs.py``) read through ``last`` — epoch ``e-1`` only.

Scale shape per micro-batch: one map-side-combined (key, unit)
aggregation over the batch rows unioned with the stored summary (≤
``num_counters·keys`` rows), one per-key window over its result that
yields the reduction threshold, the batch's unit totals and one meta
row per key, and one small per-key meta merge — six Spark jobs per
epoch, pinned by tests/test_epoch_jobs.py. State never exceeds
``num_counters`` counters per key; at 100 TB the stored state is
megabytes while the naive exact histogram it stands in for is the
full cross-partition distinct domain.
"""

from __future__ import annotations

import posixpath
from functools import partial
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .epochs import EpochStore, start_foreach_batch

__all__ = ["mg_summary_batch", "mg_summary_sink"]


def mg_summary_batch(
    batch: DataFrame,
    epoch_id: int,
    key_cols: Sequence[str],
    unit_col: str,
    num_counters: int,
    store_path: str,
) -> None:
    """Fold one micro-batch into the running per-key MG summary:
    merge the exact in-batch counts into the strictly-earlier epoch's
    stored summary, MG-reduce per key, track the deduction ledger,
    overwrite this epoch's ``summary``/``meta`` directories."""
    from ..operators._util import materialize_once

    spark = batch.sparkSession
    summary_store = EpochStore(spark, posixpath.join(store_path, "summary"))
    meta_store = EpochStore(spark, posixpath.join(store_path, "meta"))
    gcols = list(key_cols)
    # Every batch occurrence is a row with cnt = bcnt = 1; the stored
    # summary enters the same union with bcnt = 0, so ONE (key, unit)
    # aggregation yields both the merged counter (sum cnt) and the
    # batch's own count (sum bcnt).
    one = F.lit(1).cast("long")
    rows = batch.where(F.col(unit_col).isNotNull()).select(
        *gcols, unit_col, one.alias("cnt"), one.alias("bcnt")
    )
    prev_sum = summary_store.last(epoch_id, rows.drop("bcnt").schema)
    if prev_sum is not None:
        rows = prev_sum.withColumn("bcnt", F.lit(0).cast("long")).unionByName(rows)
    merged = rows.groupBy(*gcols, unit_col).agg(
        F.sum("cnt").alias("cnt"), F.sum("bcnt").alias("bcnt")
    )

    # MG reduction per key: subtract the (k+1)-th largest count ``t``
    # from every counter, keep strictly positive — at most k survive
    # (ties at the boundary reduce to zero and drop, which only shrinks
    # the state; the error ledger charges the full t either way). One
    # window partition per key computes ``t`` (nth_value over the full
    # frame; NULL ⇒ fewer than k+1 counters ⇒ no reduction), the
    # batch's unit total and a first row that carries both into the
    # meta fold. The frame is materialized once: the summary and the
    # meta writes both read it.
    ordered = Window.partitionBy(*gcols).orderBy(F.desc("cnt"), F.col(unit_col))
    full = ordered.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = materialize_once(
        merged.select(
            *gcols,
            unit_col,
            "cnt",
            F.coalesce(F.nth_value("cnt", num_counters + 1).over(full), F.lit(0))
            .cast("long")
            .alias("__t"),
            F.sum("bcnt").over(full).cast("long").alias("__n_units"),
            F.row_number().over(ordered).alias("__rn"),
        )
    )
    reduced = ranked.where(F.col("cnt") > F.col("__t")).select(
        *gcols, unit_col, (F.col("cnt") - F.col("__t")).alias("cnt")
    )
    meta = ranked.where(F.col("__rn") == 1).select(
        *gcols,
        F.col("__n_units").alias("n_units"),
        F.col("__t").alias("deduction"),
    )
    # the ledger folds in step with the summary: one store holding
    # epoch e-1 without the other is a gap, not a fresh start
    prev_meta = meta_store.last(epoch_id, meta.schema)
    if (prev_meta is None) != (prev_sum is None):
        lacks = meta_store if prev_meta is None else summary_store
        raise ValueError(
            f"epoch-fold store {lacks.path!r} has a gap: epoch {epoch_id} "
            f"finds no epoch {epoch_id - 1} there while its sibling store "
            "holds it — refusing to silently restart the fold from this "
            "batch alone"
        )
    if prev_meta is not None:
        meta = (
            prev_meta.unionByName(meta)
            .groupBy(*gcols)
            .agg(
                F.sum("n_units").cast("long").alias("n_units"),
                F.sum("deduction").cast("long").alias("deduction"),
            )
        )
    summary_store.write(reduced, epoch_id)
    meta_store.write(meta, epoch_id)


def mg_summary_sink(
    df: DataFrame,
    key_cols: Sequence[str],
    unit_col: str,
    num_counters: int,
    store_path: str,
    checkpoint: str,
    available_now: bool = False,
):
    """Start the heavy-hitter summary-maintenance sink over a
    streaming DataFrame of (key cols…, unit) occurrence rows. Returns
    the StreamingQuery."""

    apply = partial(
        mg_summary_batch,
        key_cols=key_cols,
        unit_col=unit_col,
        num_counters=num_counters,
        store_path=store_path,
    )
    return start_foreach_batch(df, apply, checkpoint, available_now)
