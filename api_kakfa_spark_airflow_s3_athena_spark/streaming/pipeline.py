"""The streaming dataflow: source -> parse -> sink, plus windowed
aggregation and small-file compaction.

Reference parity (``/root/reference/spark/app/spark_processing.py``):
- S1 Kafka streaming source with ``startingOffsets=earliest`` and
  ``failOnDataLoss=false`` (``:117-128``) -> :func:`kafka_stream`;
- P1-P3 value parse (``:145-147``) -> reuses
  :func:`functions.transforms.parse_kafka_value`;
- S2/S3 checkpointed append file sink (``:151-162``) ->
  :func:`start_file_sink` (Parquet by default — columnar upgrade; JSON
  kept as a compatibility format);
- T1-T4 semantics: append mode, earliest replay, loss tolerance,
  blocking run (:func:`run_forever`).

Beyond the reference:
- file-based streaming source (:func:`json_stream`, :func:`parquet_stream`)
  so tests and local runs need no broker;
- ``availableNow`` bounded replay (:func:`run_bounded`) — process
  everything currently in the source, then stop: deterministic tests
  and backfills;
- event-time windowed aggregation with watermark
  (:func:`windowed_event_counts`) — the reference has no event-time
  column at all (SURVEY.md §2d);
- ingest-date partitioned sink + :func:`compact` for the small-file
  problem the reference leaves unaddressed (SURVEY.md §4): at one file
  per micro-batch per partition, a year of 30 s batches is ~1 M tiny
  objects — compaction rewrites a partition to target-sized files.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..functions.transforms import parse_kafka_value
from ..operators.maintenance import reject_streaming_sink
from ..schemas import EVENTS, NAMES_STREAM

__all__ = [
    "kafka_stream",
    "json_stream",
    "parquet_stream",
    "start_file_sink",
    "run_bounded",
    "run_forever",
    "windowed_event_counts",
    "compact",
]


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "earliest",
    fail_on_data_loss: bool = False,
) -> DataFrame:
    """Unbounded Kafka scan (S1 parity, options verbatim from
    ``spark_processing.py:117-128``). Requires the Kafka connector jar
    on the classpath; callers in this offline container use the file
    sources below instead."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", str(bool(fail_on_data_loss)).lower())
        .load()
    )


def json_stream(
    spark: SparkSession, path: str, schema: T.StructType = NAMES_STREAM
) -> DataFrame:
    """Directory-of-ndjson streaming source: the broker-free stand-in
    for the Kafka topic (same declared-schema permissive parse)."""
    return spark.readStream.schema(schema).json(path)


def parquet_stream(
    spark: SparkSession, path: str, schema: T.StructType = EVENTS
) -> DataFrame:
    return spark.readStream.schema(schema).parquet(path)


def start_file_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    fmt: str = "parquet",
    partition_by: Optional[str] = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Checkpointed append sink (S2/S3/T1 parity; Parquet default).

    ``partition_by='ingest_date'`` implements the partition-pruning
    recommendation the reference documents but never builds
    (``docs/athena-integrity-check.md:64``): downstream date-filtered
    scans then prune whole directories.
    """
    writer = (
        df.writeStream.format(fmt)
        .outputMode("append")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    if partition_by:
        writer = writer.partitionBy(partition_by)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def with_ingest_date(df: DataFrame, ts_col: Optional[str] = None) -> DataFrame:
    """Add the partition column for the date-partitioned sink."""
    src = F.col(ts_col) if ts_col else F.current_timestamp()
    return df.withColumn("ingest_date", F.to_date(src))


def run_bounded(query: StreamingQuery) -> None:
    """Drive an ``availableNow``/test query to completion synchronously."""
    query.awaitTermination()


def run_forever(query: StreamingQuery) -> None:
    """Block the driver on the query (T4 parity: ``awaitTermination``,
    supervised externally — ``spark_processing.py:162``)."""
    query.awaitTermination()


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time tumbling-window counts with late-data watermark.

    Works on batch and streaming frames alike (same plan); in streaming
    the watermark bounds state so a 100 TB/day stream doesn't
    accumulate unbounded window state.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def compact(spark: SparkSession, path: str, target_files: int = 8, fmt: str = "parquet") -> None:
    """Rewrite a (partition) directory into ``target_files`` files.

    The OPTIMIZE-style maintenance job for batch-written tables:
    coalesce (no shuffle) down to large files so later scans open
    thousands, not millions, of objects. Run per partition directory,
    off the hot path. A streaming file sink, or a directory inside one,
    raises ``ValueError``: its ``_spark_metadata`` log, not the
    directory listing, says which files it holds.
    """
    reject_streaming_sink(spark, path)
    df = spark.read.format(fmt).load(path)
    tmp = path.rstrip("/") + "__compact_tmp"
    df.coalesce(target_files).write.mode("overwrite").format(fmt).save(tmp)
    compacted = spark.read.format(fmt).load(tmp)
    compacted.write.mode("overwrite").format(fmt).save(path)
    # Clean the scratch dir via Hadoop FS (works for file:// and s3a://).
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(tmp)
    hpath.getFileSystem(jsc.hadoopConfiguration()).delete(hpath, True)
