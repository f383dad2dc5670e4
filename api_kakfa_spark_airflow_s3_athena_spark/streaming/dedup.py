"""Continuous-ingest dedup: a streaming corpus with an incrementally
maintained MinHash index (``foreachBatch``).

The batch twin (`operators/dedup.minhash_delta_dedup_pairs`) dedups
one new snapshot against a stored band index; this module runs that
shape CONTINUOUSLY: each micro-batch of documents is deduped against
the index of everything ingested before it, then appended to the
index, the text store, and the discovered-pairs log. Every near-dup
pair is therefore discovered exactly once — in the batch where its
LATER member arrives — and the union of all per-epoch pair logs
equals the full batch dedup over the whole corpus (pinned by
tests/test_streaming_dedup.py).

Exactly-once: all three outputs are written to ``epoch=<id>``
subdirectories with overwrite semantics, so a replayed batch (the
``foreachBatch`` epoch is checkpointed) rewrites its own directories
instead of appending duplicates; the index/corpus reads take only
STRICTLY EARLIER epochs, so a partially-written failed attempt can
never feed its own retry and a replay reproduces its original result
even after later epochs land. Readers see the directories as a
partitioned table (``epoch`` becomes a partition column on read).

Scale notes: per-batch cost is the delta-dedup cost — the batch is
banded, its bucket keys broadcast against the index, candidates
verified from a broadcast-semi-joined text fetch; the corpus-sized
index is never shuffled and the text store is only read at candidate
ids. The pair log and index grow append-only, one directory per
epoch; compaction of old epochs is `operators/maintenance.py`'s job.
"""

from __future__ import annotations

import posixpath
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import minhash_band_index, minhash_delta_dedup_pairs
from .upsert import target_exists

__all__ = ["dedup_ingest_batch", "dedup_ingest_sink"]


def _epoch_dir(base: str, epoch_id: int) -> str:
    return posixpath.join(base, f"epoch={epoch_id}")


def dedup_ingest_batch(
    batch: DataFrame,
    epoch_id: int,
    index_path: str,
    corpus_path: str,
    pairs_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 1,
) -> None:
    """Process one micro-batch: dedup against the prior index, then
    append (epoch-idempotently) to pairs / index / corpus stores."""
    spark = batch.sparkSession
    docs = batch.select(F.col(id_col), F.col(text_col))
    # "prior corpus" = strictly earlier epochs (epoch ids are monotone
    # in structured streaming): a failed attempt's partial output must
    # not feed its own retry, and a replayed epoch must reproduce its
    # original result even if later epochs have since landed — both
    # fall out of the strict < filter. Each store probes its OWN path:
    # a crash between the per-store writes below can leave one store
    # an epoch ahead of another, and probing only one path would turn
    # every retry into a PATH_NOT_FOUND crash loop on the other.
    def _earlier(path: str, schema: T.StructType) -> DataFrame:
        if target_exists(spark, path):
            # stores are written by this sink, so the on-disk schema is
            # known (fields + the epoch partition column); declaring it
            # skips the footer-inference job a bare read runs per epoch
            stored = T.StructType(
                list(schema.fields) + [T.StructField("epoch", T.IntegerType())]
            )
            return (
                spark.read.schema(stored).parquet(path)
                .filter(F.col("epoch") < epoch_id)
                .select(*[f.name for f in schema.fields])
            )
        return spark.createDataFrame([], schema)

    index = _earlier(
        index_path,
        T.StructType(
            [
                T.StructField(id_col, T.LongType()),
                T.StructField("band", T.IntegerType()),
                T.StructField("bucket", T.LongType()),
            ]
        ),
    )
    corpus = _earlier(
        corpus_path,
        T.StructType(
            [
                T.StructField(id_col, T.LongType()),
                T.StructField(text_col, T.StringType()),
            ]
        ),
    )
    # The batch's band index is needed twice — as the dedup's delta
    # bands and as this epoch's index-store append. Round-14: compute
    # the signature pass ONCE (materialized; O(|batch|·bands) skinny
    # rows) and share it — the former shape re-ran the full
    # tokenize+shingle+OPH pass per consumer (guide §1.2).
    from ..operators._util import materialize_once

    bidx = materialize_once(
        minhash_band_index(
            docs, text_col, id_col, num_hashes, bands, shingle_n, seed
        )
    )
    pairs = minhash_delta_dedup_pairs(
        docs,
        corpus,
        index,
        text_col=text_col,
        id_col=id_col,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        seed=seed,
        delta_bands=bidx,
    )
    # Write order: corpus -> index -> pairs. The reads above take only
    # strictly-earlier epochs, so this epoch's own directories never
    # feed its computation; writing the pairs log last means a pairs
    # epoch dir existing implies the whole epoch landed.
    docs.write.mode("overwrite").parquet(_epoch_dir(corpus_path, epoch_id))
    bidx.write.mode("overwrite").parquet(_epoch_dir(index_path, epoch_id))
    pairs.write.mode("overwrite").parquet(_epoch_dir(pairs_path, epoch_id))


def dedup_ingest_sink(
    df: DataFrame,
    index_path: str,
    corpus_path: str,
    pairs_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 1,
    available_now: bool = False,
):
    """Start the continuous-ingest dedup sink over a streaming
    DataFrame of documents. Returns the StreamingQuery."""

    apply = partial(
        dedup_ingest_batch,
        index_path=index_path,
        corpus_path=corpus_path,
        pairs_path=pairs_path,
        text_col=text_col,
        id_col=id_col,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        seed=seed,
    )
    writer = (
        df.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
