"""Spark jobs per epoch of the two epoch-fold sinks perfbench's
``curation`` workload drives: the MinHash dedup fold
(``streaming/dedup.dedup_ingest_batch``) and the Misra-Gries fold
(``streaming/frequency.mg_summary_batch``).

At this data size a job costs ~100-300 ms whatever it moves, so the job
count is the epoch's cost model. The bounds pin the single-pass plans:
every shared frame computed once, no job that exists only for
bookkeeping. The folds run on the calling thread here, so a job group
set on it sees every job, broadcast builds included (they inherit the
caller's local properties)."""

from __future__ import annotations

import os
import sys

import pytest

from api_kakfa_spark_airflow_s3_athena_spark.streaming.dedup import dedup_ingest_batch
from api_kakfa_spark_airflow_s3_athena_spark.streaming.frequency import mg_summary_batch

_PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
sys.path.append(_PERFBENCH)
try:
    import gen  # noqa: E402
    from workloads import DEDUP_PARAMS, MG_COUNTERS  # noqa: E402
finally:
    sys.path.remove(_PERFBENCH)

DEDUP_MAX_JOBS = 13
MG_MAX_JOBS = 6


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def epochs():
    return gen.curation_epochs(7, gen.documents(7))[:3]


def test_curation_epoch_job_counts(spark, tmp_path, epochs):
    d = {k: str(tmp_path / k) for k in ("index", "corpus", "pairs", "mg")}
    counts = {}
    for e, ep in enumerate(epochs):
        docs = spark.createDataFrame(
            ep.docs.select(["doc_id", "text"]).to_pandas(), "doc_id long, text string"
        )
        units = spark.createDataFrame(ep.units.to_pandas(), "lang string, unit string")
        counts[e] = (
            _jobs(spark, f"epoch-jobs-dedup-{e}", lambda: dedup_ingest_batch(
                docs, e, d["index"], d["corpus"], d["pairs"], **DEDUP_PARAMS)),
            _jobs(spark, f"epoch-jobs-mg-{e}", lambda: mg_summary_batch(
                units, e, ["lang"], "unit", MG_COUNTERS, d["mg"])),
        )
    dedup, mg = counts[2]
    # epoch 2 reads stores of two earlier epochs: the steady state
    assert dedup <= DEDUP_MAX_JOBS, counts
    assert mg <= MG_MAX_JOBS, counts
    # the folds did their work: planted near-dups logged, MG state kept
    assert spark.read.parquet(d["pairs"]).count() > 0
    assert spark.read.parquet(os.path.join(d["mg"], "summary", "epoch=2")).count() > 0
