"""Crash inside an epoch, for every epoch-fold sink at every store write.

Each case streams two source files through the real ``*_sink``. The
run raises right after the k-th ``EpochStore.write`` of epoch 1 — the
stores written so far hold epoch 1, the rest do not, and the checkpoint
has not committed it. A restart on the same checkpoint replays epoch 1.
Afterwards every store's every epoch directory must equal, row for row,
the stores of one uninterrupted run of the same sink.

``foreachBatch`` runs the batch function in this Python process, so a
patched ``EpochStore.write`` is the one the sinks call.
"""

from __future__ import annotations

import itertools
import os
from dataclasses import dataclass
from typing import Callable, Tuple

import pytest
from pyspark.errors import StreamingQueryException

from api_kakfa_spark_airflow_s3_athena_spark.operators import similarity as SIM
from api_kakfa_spark_airflow_s3_athena_spark.streaming.ann import ann_index_sink
from api_kakfa_spark_airflow_s3_athena_spark.streaming.dedup import dedup_ingest_sink
from api_kakfa_spark_airflow_s3_athena_spark.streaming.epochs import EpochStore
from api_kakfa_spark_airflow_s3_athena_spark.streaming.frequency import mg_summary_sink
from api_kakfa_spark_airflow_s3_athena_spark.streaming.scoring import quality_gate_sink
from api_kakfa_spark_airflow_s3_athena_spark.streaming.sketches import (
    adaptive_sample_sink,
    bloom_sink,
    cms_sketch_sink,
    hll_sketch_sink,
    kmv_sketch_sink,
)

_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
_TEXTS = [" ".join(p * 3) for p in itertools.islice(itertools.permutations(_WORDS, 6), 16)]
# doc 9 repeats doc 1 and doc 13 repeats doc 10: epoch 1 logs a pair
# against epoch 0 and one inside itself
_DOCS = [(i, _TEXTS[{9: 1, 13: 10}.get(i, i)]) for i in range(16)]


def _vecs(ids):
    return [(i, [float(((i * 7 + j * 3) % 11) - 5) for j in range(8)]) for i in ids]


@dataclass(frozen=True)
class Sink:
    writes: int  # EpochStore writes per epoch
    schema: str
    files: Tuple[list, list]
    stores: Tuple[str, ...]
    start: Callable  # (stream, run dir, checkpoint, artifacts dir) -> query


SINKS = {
    "dedup": Sink(
        3,
        "doc_id long, text string",
        (_DOCS[:8], _DOCS[8:]),
        ("corpus", "index", "pairs"),
        lambda s, d, c, a: dedup_ingest_sink(
            s, f"{d}/index", f"{d}/corpus", f"{d}/pairs", c,
            threshold=0.5, num_hashes=32, bands=8, available_now=True,
        ),
    ),
    "mg": Sink(
        2,
        "lang string, unit string",
        (
            [("en", f"w{i % 5}") for i in range(30)] + [("de", f"u{i % 3}") for i in range(9)],
            [("en", f"w{i % 7}") for i in range(30)] + [("fr", "x")],
        ),
        ("store/summary", "store/meta"),
        lambda s, d, c, a: mg_summary_sink(
            s, ["lang"], "unit", 3, f"{d}/store", c, available_now=True
        ),
    ),
    "ann": Sink(
        2,
        "vec_id long, embedding array<float>",
        (_vecs(range(40, 52)), _vecs(range(52, 64))),
        ("index", "metrics"),
        lambda s, d, c, a: ann_index_sink(
            s, f"{a}/centroids", f"{a}/books", f"{d}/index", f"{d}/metrics", c,
            available_now=True,
        ),
    ),
    "quality_gate": Sink(
        1,
        "doc_id long, text string",
        (_DOCS[:8], _DOCS[8:]),
        ("scores",),
        lambda s, d, c, a: quality_gate_sink(
            s, f"{a}/model", f"{d}/scores", c, n_buckets=64, available_now=True
        ),
    ),
    "kmv": Sink(
        1,
        "g string, v long",
        (
            [("a", i) for i in range(30)] + [("b", i) for i in range(5)],
            [("a", i) for i in range(20, 60)] + [("c", 1)],
        ),
        ("store",),
        lambda s, d, c, a: kmv_sketch_sink(
            s, ["g"], "v", 8, f"{d}/store", c, available_now=True
        ),
    ),
    "cms": Sink(
        1,
        "unit string",
        ([(f"u{i % 9}",) for i in range(40)], [(f"u{i % 13}",) for i in range(40)]),
        ("store",),
        lambda s, d, c, a: cms_sketch_sink(
            s, "unit", 16, 3, f"{d}/store", c, available_now=True
        ),
    ),
    "hll": Sink(
        1,
        "grp string, val string",
        (
            [("g1", f"a{i}") for i in range(60)],
            [("g1", f"b{i}") for i in range(40)] + [("g2", f"c{i}") for i in range(20)],
        ),
        ("store",),
        lambda s, d, c, a: hll_sketch_sink(
            s, ["grp"], "val", f"{d}/store", c, available_now=True
        ),
    ),
    "adaptive_sample": Sink(
        1,
        "doc_id long",
        ([(i,) for i in range(40)], [(i,) for i in range(30, 90)]),
        ("store",),
        lambda s, d, c, a: adaptive_sample_sink(
            s, "doc_id", ["doc_id"], 10, f"{d}/store", c, available_now=True
        ),
    ),
    "bloom": Sink(
        1,
        "key long",
        ([(i,) for i in range(40)], [(i,) for i in range(30, 80)]),
        ("store",),
        lambda s, d, c, a: bloom_sink(
            s, "key", 512, 3, f"{d}/store", c, available_now=True
        ),
    ),
}
CASES = [(name, k) for name, sink in SINKS.items() for k in range(1, sink.writes + 1)]


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    """Source files per sink, the quality-gate model and the ANN
    artifacts, written once; every run only reads them."""
    root = str(tmp_path_factory.mktemp("epoch_crash"))
    for name, sink in SINKS.items():
        for b, rows in enumerate(sink.files):
            spark.createDataFrame(rows, sink.schema).coalesce(1).write.mode(
                "append" if b else "overwrite"
            ).parquet(f"{root}/src/{name}")
    spark.createDataFrame(
        [(b, ((b % 7) - 3) * 100) for b in range(64)], "bucket long, w_int long"
    ).write.parquet(f"{root}/model")
    centroids, books, _ = SIM.ivfpq_index(
        spark.createDataFrame(_vecs(range(40)), SINKS["ann"].schema),
        n_centroids=4, m=4, ksub=4, iters=2,
    )
    centroids.write.parquet(f"{root}/centroids")
    SIM.pq_save_books(spark, books, f"{root}/books")
    return root


def _run(spark, staged, name, run):
    sink = SINKS[name]
    stream = (
        spark.readStream.schema(sink.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{staged}/src/{name}")
    )
    d = f"{staged}/runs/{name}/{run}"
    return sink.start(stream, d, f"{d}/ckpt", staged)


def _snapshot(spark, staged, name, run):
    """{store: {epoch dir: sorted row reprs}} of one run."""
    d = f"{staged}/runs/{name}/{run}"
    out = {}
    for store in SINKS[name].stores:
        epochs = sorted(e for e in os.listdir(f"{d}/{store}") if e.startswith("epoch="))
        out[store] = {
            e: sorted(repr(tuple(r)) for r in spark.read.parquet(f"{d}/{store}/{e}").collect())
            for e in epochs
        }
    return out


_BASELINES: dict = {}


def _baseline(spark, staged, name, monkeypatch):
    """Stores of one uninterrupted run, once per sink."""
    if name not in _BASELINES:
        writes = []
        orig = EpochStore.write

        def counting(self, df, e, partition_by=None):
            orig(self, df, e, partition_by)
            writes.append(e)

        monkeypatch.setattr(EpochStore, "write", counting)
        _run(spark, staged, name, "whole").awaitTermination()
        monkeypatch.setattr(EpochStore, "write", orig)
        assert writes.count(1) == SINKS[name].writes, writes
        snap = _snapshot(spark, staged, name, "whole")
        assert all(set(s) == {"epoch=0", "epoch=1"} for s in snap.values()), snap
        _BASELINES[name] = snap
    return _BASELINES[name]


@pytest.mark.parametrize("name,k", CASES, ids=[f"{n}-{k}" for n, k in CASES])
def test_crash_after_kth_store_write_replays_to_uninterrupted_stores(
    spark, staged, monkeypatch, name, k
):
    want = _baseline(spark, staged, name, monkeypatch)
    landed = []
    orig = EpochStore.write

    def crashing(self, df, e, partition_by=None):
        orig(self, df, e, partition_by)
        if e == 1:
            landed.append(self.path)
            if len(landed) == k:
                raise RuntimeError(f"crash after store write {k} of epoch 1")

    monkeypatch.setattr(EpochStore, "write", crashing)
    run = f"crash{k}"
    with pytest.raises(StreamingQueryException, match="crash after store write"):
        _run(spark, staged, name, run).awaitTermination()
    monkeypatch.setattr(EpochStore, "write", orig)
    assert len(landed) == k
    _run(spark, staged, name, run).awaitTermination()
    assert _snapshot(spark, staged, name, run) == want
