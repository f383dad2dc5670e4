"""Streaming ANN index maintenance: each embedding micro-batch is
appended to the stored IVF-PQ index via the batch delta path, with a
per-epoch quantization-drift metric (``foreachBatch``).

This closes the ANN index lifecycle the way ``streaming/scoring.py``
closed the classifier's (train -> freeze -> serve -> incremental
update): :func:`~..operators.similarity.ivfpq_index` builds the
artifacts once per corpus snapshot (centroids + PQ codebooks + the
``partitionBy("cell")`` code table), and this sink keeps the index
CURRENT under continuous ingest — every micro-batch is encoded against
the FROZEN reloaded codebooks and assigned to the FROZEN reloaded
centroids (``ivfpq_index_append``), so the appended rows are
row-identical to what a full batch rebuild under the same artifacts
would produce (the append-equals-rebuild property the batch contract
pins; the streaming contract pins it THROUGH the sink).

Per-epoch artifact handoff (the ``streaming/dedup.py`` /
``streaming/scoring.py`` pattern): artifacts reload from their paths at
each micro-batch — kilobyte reads — so a nightly retrain (a REBUILD:
new books/centroids re-code every stored row) atomically swaps the
artifact paths and the stream picks them up at the next epoch boundary.

Exactly-once: the index and the metrics are epoch stores
(``streaming/epochs.py``); index epochs are ``epoch=<e>/cell=<c>/…``,
so filters on ``cell`` still prune statically inside every epoch — the
pruning lever the index exists for survives the streaming layout.

Drift trigger (the ``pq_index_append`` discipline made continuous):
each epoch also writes ``(n_vectors, mse)`` — the batch's PQ
reconstruction error under the frozen books — to a metrics directory.
Monitoring compares epoch mse against the build-time baseline; a
sustained breach (the registered contract bands 1.5x on
same-distribution data) means the ingest distribution has drifted off
the codebooks and the nightly rebuild is due.

Scale shape per micro-batch: one row-local Arrow encode pass + one
broadcast centroid assignment over the DELTA only; the stored corpus
is never read, never re-encoded, and only the delta's cell partitions
are written.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.similarity import (
    _ivf_assign,
    _ivf_residuals,
    _pq_encode_with_error,
    pq_load_books,
)
from .epochs import EpochStore, start_foreach_batch

__all__ = ["ann_index_batch", "ann_index_sink"]


def ann_index_batch(
    batch: DataFrame,
    epoch_id: int,
    centroids_path: str,
    books_path: str,
    index_path: str,
    metrics_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> None:
    """Append one micro-batch to the stored index: encode + assign
    against the RELOADED frozen artifacts, write the epoch's
    cell-partitioned overwrite directory, and record the epoch's
    quantization-drift observable.

    ``residual=True`` maintains an :func:`~..operators.similarity.
    ivfpq_residual_index` artifact instead: the delta path subtracts
    the assigned frozen centroid before encoding, and the drift
    metric measures reconstruction error in RESIDUAL space (the space
    the codebooks were trained in — raw-space error would compare
    against the wrong baseline)."""
    spark = batch.sparkSession
    # artifact reloads stay per-epoch (the nightly-swap design); only
    # the redundant schema-inference jobs go — the centroid schema is
    # metadata-cached on the artifact's mtime, the book artifact's
    # schema is fixed by pq_save_books (round-14, guide §6)
    from ..sources.tables import read_parquet_metacached

    centroids = read_parquet_metacached(spark, centroids_path)
    books = pq_load_books(spark, books_path)
    # Round-14 fusion (guide §4.2): the former shape ran one Arrow
    # crossing for the append and a SECOND full crossing (plus, in
    # residual mode, a second assign pass and centroid join) for the
    # drift metric, recomputing the identical argmin codes. One fused
    # pass now emits the encoded rows AND per-batch error partials
    # (sentinel rows), materialized once; codes and mse arithmetic are
    # the originals' op-for-op (see _pq_encode_with_error).
    if residual:
        cells = _ivf_assign(
            batch.select(
                F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
            ),
            centroids,
            "vec_id",
            "c_vec",
            keep=1,
        )
        resid = _ivf_residuals(cells, centroids, "vec_id", "c_vec")
        fused = _pq_encode_with_error(
            resid, books, corpus_id="vec_id", vec_col="__resid",
            keep_cols=("cell",),
        )
    else:
        fused = _pq_encode_with_error(
            batch, books, centroids=centroids, corpus_id=id_col,
            vec_col=vec_col,
        )
    from ..operators._util import materialize_once

    fused = materialize_once(fused)
    rows = fused.filter(F.col("__n").isNull()).select("vec_id", "codes", "cell")
    EpochStore(spark, index_path).write(rows, epoch_id, partition_by="cell")
    err = fused.filter(F.col("__n").isNotNull()).agg(
        F.sum("__n").cast("long").alias("n_vectors"),
        (F.sum("__sq") / F.sum("__n")).alias("mse"),
    )
    EpochStore(spark, metrics_path).write(err, epoch_id)


def ann_index_sink(
    df: DataFrame,
    centroids_path: str,
    books_path: str,
    index_path: str,
    metrics_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
    available_now: bool = False,
):
    """Start the streaming index-maintenance sink over a streaming
    DataFrame of ``(id, vector)`` rows. Returns the StreamingQuery."""

    apply = partial(
        ann_index_batch,
        centroids_path=centroids_path,
        books_path=books_path,
        index_path=index_path,
        metrics_path=metrics_path,
        id_col=id_col,
        vec_col=vec_col,
        residual=residual,
    )
    return start_foreach_batch(df, apply, checkpoint, available_now)
