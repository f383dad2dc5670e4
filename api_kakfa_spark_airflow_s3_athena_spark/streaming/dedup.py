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

Exactly-once: the three stores are epoch stores (``streaming/epochs.py``)
read through ``before`` — strictly-earlier epochs only.

Scale notes: per-batch cost is the delta-dedup cost — the batch is
banded, its bucket keys broadcast against the index, candidates
verified from a broadcast-semi-joined text fetch; the corpus-sized
index is never shuffled and the text store is only read at candidate
ids. The pair log and index grow append-only, one directory per
epoch; compaction of old epochs is `operators/maintenance.py`'s job.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import minhash_band_index, minhash_delta_dedup_pairs
from .epochs import EpochStore, start_foreach_batch

__all__ = ["dedup_ingest_batch", "dedup_ingest_sink"]


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
    corpus_store = EpochStore(spark, corpus_path)
    index_store = EpochStore(spark, index_path)
    index = index_store.before(
        epoch_id,
        T.StructType(
            [
                T.StructField(id_col, T.LongType()),
                T.StructField("band", T.IntegerType()),
                T.StructField("bucket", T.LongType()),
            ]
        ),
    )
    corpus = corpus_store.before(
        epoch_id,
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
    # Write order: corpus -> index -> pairs; a pairs epoch dir existing
    # implies the whole epoch landed.
    corpus_store.write(docs, epoch_id)
    index_store.write(bidx, epoch_id)
    EpochStore(spark, pairs_path).write(pairs, epoch_id)


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
    return start_foreach_batch(df, apply, checkpoint, available_now)
