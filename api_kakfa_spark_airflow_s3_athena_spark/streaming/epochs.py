"""The epoch store: the one exactly-once protocol of every
``foreachBatch`` sink.

A store is a directory of ``epoch=<e>`` subdirectories, one per
micro-batch, each written with overwrite semantics. The ``foreachBatch``
epoch id is checkpointed, so a replayed batch rewrites its own
directory instead of appending duplicates, and readers see the store as
one table partitioned by ``epoch``.

A fold reads its prior state in one of two ways, both with the schema
the fold itself wrote (no footer-inference job):

* :meth:`EpochStore.before` — every strictly-earlier epoch (the dedup
  index and corpus). A failed attempt's partial output never feeds its
  own retry, and a replay sees what the first attempt saw even after
  later epochs land.
* :meth:`EpochStore.last` — epoch ``e-1`` only (the sketch and
  Misra-Gries folds, whose state at ``e-1`` already summarizes the
  whole prefix). A missing ``e-1`` while earlier epochs exist means the
  store and the checkpoint disagree, and the read raises instead of
  silently restarting the fold from the batch alone.

A sink with several stores probes each store's own path and writes
them in a fixed order, the store that marks the epoch complete last: a
crash between two writes leaves one store an epoch ahead of another,
and the replay rewrites both.
"""

from __future__ import annotations

import posixpath
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["EpochStore", "hadoop_fs", "start_foreach_batch", "target_exists"]


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of ``path`` on the session's Hadoop conf."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(jsc.hadoopConfiguration()), hpath


def target_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists (Hadoop FS probe — distinguishes
    absence from read failure, which must propagate)."""
    fs, hpath = hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


class EpochStore:
    """``path/epoch=<e>`` directories written by one epoch fold.

    Reads go through ``spark``: inside ``foreachBatch`` that is the
    batch's own session (``batch.sparkSession``), a clone that is not
    the thread's active session."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _dir(self, e: int) -> str:
        return posixpath.join(self.path, f"epoch={e}")

    def write(self, df: DataFrame, e: int, partition_by: Optional[str] = None) -> None:
        """Overwrite epoch ``e``'s directory with ``df``."""
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(self._dir(e))

    def before(self, e: int, schema: T.StructType) -> DataFrame:
        """Rows of every epoch strictly before ``e`` (empty on a fresh
        store)."""
        if not target_exists(self.spark, self.path):
            return self.spark.createDataFrame([], schema)
        stored = T.StructType(
            list(schema.fields) + [T.StructField("epoch", T.IntegerType())]
        )
        return (
            self.spark.read.schema(stored).parquet(self.path)
            .filter(F.col("epoch") < e)
            .select(*schema.fieldNames())
        )

    def last(self, e: int, schema: T.StructType) -> Optional[DataFrame]:
        """Epoch ``e-1``'s rows, or ``None`` when no epoch before ``e``
        exists. Raises ``ValueError`` on a gap: ``e-1`` missing while
        earlier epochs exist."""
        prev = self._dir(e - 1)
        if target_exists(self.spark, prev):
            return self.spark.read.schema(schema).parquet(prev)
        fs, hbase = hadoop_fs(self.spark, self.path)
        earlier = []
        if fs.exists(hbase):
            for status in fs.listStatus(hbase):
                name = status.getPath().getName()
                if name.startswith("epoch="):
                    try:
                        n = int(name.split("=", 1)[1])
                    except ValueError:
                        continue
                    if n < e:
                        earlier.append(n)
        if earlier:
            raise ValueError(
                f"epoch-fold store {self.path!r} has a gap: epoch {e} "
                f"expects epoch={e - 1} but found only epochs "
                f"{sorted(earlier)} — refusing to silently restart the "
                "fold from this batch alone (restore the missing epoch "
                "or start a fresh store+checkpoint pair)"
            )
        return None


def start_foreach_batch(
    df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    available_now: bool,
    output_mode: str = "append",
):
    """Start ``df.writeStream.foreachBatch(fn)`` on ``checkpoint``
    (``availableNow`` drains the source and stops). Returns the
    StreamingQuery."""
    writer = (
        df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
