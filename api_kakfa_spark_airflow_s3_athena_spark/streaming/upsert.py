"""MERGE/upsert streaming sink via ``foreachBatch`` (CDC emulation).

Without a transactional table format (Delta/Iceberg jars absent in
this environment), keyed upsert is emulated per micro-batch: union the
current target with the batch and keep, per key, the row with the
greatest ``order_col`` (batch wins order ties) — so out-of-order /
late batches carrying stale versions can never clobber newer state.
The ``foreachBatch`` boundary makes the batch exactly-once
(checkpointed epoch id), so replays are idempotent.

Scale design: two target layouts.

- *Unpartitioned* (dimension-sized targets): rewrite the whole table
  per batch — O(target), fine for dims.
- *Partitioned* (``partition_cols``, fact-scale targets): read back
  ONLY the partitions the batch touches (partition-pruned scan), merge
  against just those, and overwrite just those directories (dynamic
  partition overwrite). Untouched partitions' files are never read or
  rewritten — per-batch cost is O(touched partitions), independent of
  total table size.

Target existence is probed through the Hadoop FileSystem API, never by
catching read errors: a transient FS failure or corrupt footer must
abort the batch (and be retried from the checkpoint), not be
misdiagnosed as "empty target" and silently overwritten with
batch-only rows.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .epochs import hadoop_fs, start_foreach_batch, target_exists

__all__ = ["upsert_batch", "upsert_sink"]


def _delete_path(spark: SparkSession, path: str) -> None:
    fs, hpath = hadoop_fs(spark, path)
    fs.delete(hpath, True)


def _touched_partition_filter(batch: DataFrame, partition_cols: Sequence[str]):
    """Predicate selecting exactly the partitions present in the batch.

    Collects the batch's distinct partition tuples — bounded by the
    number of partitions one micro-batch touches, not by data volume —
    and ORs per-tuple null-safe equality clauses so the target scan is
    partition-pruned.
    """
    touched = [r.asDict() for r in batch.select(*partition_cols).distinct().collect()]
    pred = F.lit(False)
    for t in touched:
        clause = F.lit(True)
        for c in partition_cols:
            clause = clause & F.col(c).eqNullSafe(F.lit(t[c]))
        pred = pred | clause
    return pred, len(touched)


def upsert_batch(
    spark: SparkSession,
    batch: DataFrame,
    target_path: str,
    key_cols: Sequence[str],
    order_col: str,
    partition_cols: Optional[Sequence[str]] = None,
) -> None:
    """Apply one micro-batch as an upsert into a keyed parquet table.

    Per key, the row with the greatest ``order_col`` wins ACROSS
    target and batch (a late batch carrying an older version must not
    clobber newer state); on order ties the batch row wins (arrival
    order). With ``partition_cols`` the merge reads and rewrites only
    the partitions the batch touches.
    """
    exists = target_exists(spark, target_path)
    candidates = batch.withColumn("__src", F.lit(1))
    if exists:
        current = spark.read.parquet(target_path)
        if partition_cols:
            pred, _n = _touched_partition_filter(batch, partition_cols)
            current = current.filter(pred)  # partition-pruned scan
            # partition-value type inference on read (e.g. string dt ->
            # date) must not drift the schema across batches: pin the
            # partition columns back to the batch's declared types
            # (AFTER the filter, so pruning sees the raw columns)
            for c in partition_cols:
                current = current.withColumn(c, F.col(c).cast(batch.schema[c].dataType))
        candidates = current.withColumn("__src", F.lit(0)).unionByName(candidates)
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(order_col).desc(), F.col("__src").desc()
    )
    merged = (
        candidates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )
    # Stage through a temp dir: the merged plan reads the target's own
    # files, so writing the target directly would clobber its input.
    tmp = target_path.rstrip("/") + "__upsert_tmp"
    merged.write.mode("overwrite").parquet(tmp)
    staged = spark.read.parquet(tmp)
    if partition_cols:
        # Dynamic partition overwrite: only directories present in the
        # staged (touched-partition) data are replaced.
        (
            staged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
            .parquet(target_path)
        )
    else:
        staged.write.mode("overwrite").parquet(target_path)
    _delete_path(spark, tmp)


def upsert_sink(
    df: DataFrame,
    target_path: str,
    checkpoint: str,
    key_cols: Sequence[str],
    order_col: str,
    available_now: bool = False,
    partition_cols: Optional[Sequence[str]] = None,
):
    """Start a streaming upsert into ``target_path`` keyed on
    ``key_cols`` with ``order_col`` deciding recency."""

    def apply(batch: DataFrame, epoch_id: int) -> None:
        upsert_batch(
            batch.sparkSession, batch, target_path, key_cols, order_col, partition_cols
        )

    return start_foreach_batch(
        df, apply, checkpoint, available_now, output_mode="update"
    )
