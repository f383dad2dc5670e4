"""Streaming quality gate: score each micro-batch of documents through
the PRODUCTION linear classifier, reading the quantized model from a
stored artifact (``foreachBatch``).

This closes the classifier lifecycle loop (train -> quantize ->
deploy): ``operators/scoring.train_linear_classifier`` +
``quantize_weights`` produce the tiny ``(bucket, w_int)`` weight
table, a deploy step persists it as parquet, and this sink scores the
live document stream against it with the exact batch inference path
(``linear_text_classifier`` — same hashed features, same integer sums,
same single division), so streaming scores are BIT-IDENTICAL to batch
scores of the same rows (pinned by the ``streaming_quality_gate``
contract and tests/test_streaming_scoring.py).

Per-epoch artifact handoff (the ``streaming/dedup.py`` pattern): the
model is reloaded from ``model_path`` at each micro-batch, so a
nightly retrain job can atomically overwrite the artifact and the
running stream picks the new model up at the next epoch boundary —
no restart, no code change. A reload per epoch costs one read of a
``n_buckets``-row file (kilobytes), nothing against the batch scan.

Exactly-once: scores land in an epoch store (``streaming/epochs.py``).
Scoring is stateless per document, so no epoch reads another.

Scale shape per micro-batch: explode hashed features (narrow),
broadcast-join the kilobyte weight table (map-side), one skinny
``(id, partial-sum)`` shuffle — the corpus never shuffles and the
model never exceeds driver/executor broadcast scale by construction
(``n_buckets`` rows).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame

from ..operators.scoring import linear_text_classifier
from .epochs import EpochStore, start_foreach_batch

__all__ = ["quality_gate_batch", "quality_gate_sink"]


def quality_gate_batch(
    batch: DataFrame,
    epoch_id: int,
    model_path: str,
    scores_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> None:
    """Score one micro-batch against the stored quantized model and
    write ``(id, n_feats, score, keep)`` to this epoch's overwrite
    directory."""
    spark = batch.sparkSession
    # per-epoch model RELOAD is the design (nightly retrain pickup);
    # only the footer-inferred schema is metadata-cached, keyed on the
    # artifact's mtime so a rewritten model re-infers (round-14)
    from ..sources.tables import read_parquet_metacached

    weights = read_parquet_metacached(spark, model_path)
    scored = linear_text_classifier(
        batch, weights, text_col=text_col, id_col=id_col, n_buckets=n_buckets
    )
    EpochStore(spark, scores_path).write(scored, epoch_id)


def quality_gate_sink(
    df: DataFrame,
    model_path: str,
    scores_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    available_now: bool = False,
):
    """Start the streaming quality gate over a streaming DataFrame of
    documents. Returns the StreamingQuery."""

    apply = partial(
        quality_gate_batch,
        model_path=model_path,
        scores_path=scores_path,
        text_col=text_col,
        id_col=id_col,
        n_buckets=n_buckets,
    )
    return start_foreach_batch(df, apply, checkpoint, available_now)
