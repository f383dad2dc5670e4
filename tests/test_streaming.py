"""Structured Streaming tests: bounded replays against golden batch
results, checkpoint recovery (exactly-once file sink), windowed
event-time aggregation, and small-file compaction."""

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from api_kakfa_spark_airflow_s3_athena_spark.functions.transforms import synthetic_users
from api_kakfa_spark_airflow_s3_athena_spark.schemas import NAMES_STREAM
from api_kakfa_spark_airflow_s3_athena_spark.sources.tables import load_table, read_json_table
from api_kakfa_spark_airflow_s3_athena_spark.streaming.pipeline import (
    compact,
    json_stream,
    start_file_sink,
    windowed_event_counts,
    with_ingest_date,
)


def _write_ndjson(path, rows):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-0.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _sample_records(n=30):
    return [
        {
            "name": f"Mr. User {i}",
            "gender": "male" if i % 2 == 0 else "female",
            "address": f"{i}, Main Street",
            "city": "London",
            "nation": "United Kingdom",
            "zip": str(i),
            "latitude": 51.5,
            "longitude": -0.15,
            "email": f"user{i}@example.com",
        }
        for i in range(n)
    ]


def test_bounded_stream_to_parquet_sink(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_ndjson(src, _sample_records(30))

    stream = json_stream(spark, src)
    q = start_file_sink(stream, out, ckpt, available_now=True)
    q.awaitTermination()

    result = spark.read.parquet(out)
    assert result.count() == 30
    assert sorted(result.columns) == sorted(f.name for f in NAMES_STREAM.fields)


def test_ndjson_sink_byte_format_parity(spark, tmp_path):
    """S2 parity: the json sink must write the reference's byte format
    (`spark_processing.py:151-162`) — newline-delimited, one JSON
    object per line — and round-trip losslessly through
    read_json_table (the Athena external-table equivalent)."""
    from api_kakfa_spark_airflow_s3_athena_spark.sources.tables import read_json_table

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    records = _sample_records(25)
    _write_ndjson(src, records)

    q = start_file_sink(json_stream(spark, src), out, ckpt, fmt="json", available_now=True)
    q.awaitTermination()

    # byte format: every line of every part file is one standalone JSON object
    n_lines = 0
    for fname in os.listdir(out):
        if not fname.startswith("part-"):
            continue
        with open(os.path.join(out, fname)) as f:
            for line in f:
                assert line.endswith("\n")
                obj = json.loads(line)
                assert isinstance(obj, dict)
                n_lines += 1
    assert n_lines == 25

    # round-trip: same rows and declared 9-column schema as the source
    back = read_json_table(spark, out)
    assert [f.name for f in back.schema.fields] == [f.name for f in NAMES_STREAM.fields]
    got = sorted((r.name, r.zip, r.email, r.latitude) for r in back.collect())
    want = sorted((r["name"], r["zip"], r["email"], r["latitude"]) for r in records)
    assert got == want


def test_checkpoint_recovery_no_duplicates(spark, tmp_path):
    """Restarting with the same checkpoint must not re-emit processed
    input (T5: exactly-once file sink semantics)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_ndjson(src, _sample_records(10))

    q1 = start_file_sink(json_stream(spark, src), out, ckpt, available_now=True)
    q1.awaitTermination()
    assert spark.read.parquet(out).count() == 10

    # restart with NO new data: nothing must be added
    q2 = start_file_sink(json_stream(spark, src), out, ckpt, available_now=True)
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == 10

    # add one new file: only its rows are appended
    with open(os.path.join(src, "part-1.json"), "w") as f:
        for r in _sample_records(5):
            f.write(json.dumps(r) + "\n")
    q3 = start_file_sink(json_stream(spark, src), out, ckpt, available_now=True)
    q3.awaitTermination()
    assert spark.read.parquet(out).count() == 15


def test_partitioned_sink_prunes(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_ndjson(src, _sample_records(12))

    stream = with_ingest_date(json_stream(spark, src))
    q = start_file_sink(stream, out, ckpt, partition_by="ingest_date", available_now=True)
    q.awaitTermination()

    # hive-style partition dirs exist
    assert any(d.startswith("ingest_date=") for d in os.listdir(out))
    pruned = spark.read.parquet(out).filter(F.col("ingest_date") == "1970-01-01")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() == 0
    assert "PartitionFilters: [isnotnull(ingest_date" in plan


def test_windowed_counts_stream_equals_batch(spark, sf_dir, tmp_path):
    """The same windowed aggregation must produce identical results as
    a bounded stream and as a batch plan (Structured Streaming's core
    contract)."""
    events = load_table(spark, sf_dir, "events")
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in windowed_event_counts(events, "1 hour").collect()
    }

    stage = str(tmp_path / "events_stage")
    events.write.parquet(stage)
    stream = spark.readStream.schema(events.schema).parquet(stage)
    agg = windowed_event_counts(stream, "1 hour")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("win_test").collect()
    }
    # append mode emits only watermark-closed windows; every emitted
    # window must match batch exactly, and most windows must close.
    assert streamed, "no windows emitted"
    for k, v in streamed.items():
        assert batch[k] == v
    assert len(streamed) >= len(batch) - 3  # only trailing windows may be held back


def test_compaction_reduces_file_count(spark, tmp_path):
    out = str(tmp_path / "many")
    users = synthetic_users(spark, 200, seed=1)
    users.repartition(32).write.parquet(out)
    n_before = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert n_before >= 16

    compact(spark, out, target_files=2)
    n_after = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert n_after <= 2
    assert spark.read.parquet(out).count() == 200


def test_compaction_refuses_a_live_streaming_sink(spark, tmp_path):
    """Stream batch 1 into a file sink, attempt compaction, stream batch
    2: both compaction operators refuse the sink (and a partition
    directory inside it) with a ValueError naming the path, and the sink
    still reads every row afterwards. Compacting it used to drop its
    _spark_metadata log, after which batch 2's commit made
    ``spark.read.parquet(sink)`` fail."""
    from api_kakfa_spark_airflow_s3_athena_spark.operators.maintenance import compact_parquet

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_ndjson(src, _sample_records(10))

    def sink():
        return start_file_sink(
            with_ingest_date(json_stream(spark, src)), out, ckpt,
            partition_by="ingest_date", available_now=True,
        )

    sink().awaitTermination()
    part = os.path.join(out, next(d for d in os.listdir(out) if d.startswith("ingest_date=")))

    for target, attempt in (
        (out, lambda: compact(spark, out, target_files=1)),
        (part, lambda: compact(spark, part, target_files=1)),
        (out, lambda: compact_parquet(spark, out, target_bytes=1)),
    ):
        with pytest.raises(ValueError, match=re.escape(target)):
            attempt()
    assert os.path.isdir(os.path.join(out, "_spark_metadata"))

    with open(os.path.join(src, "part-1.json"), "w") as f:
        for r in _sample_records(5):
            f.write(json.dumps(r) + "\n")
    sink().awaitTermination()
    assert spark.read.parquet(out).count() == 15


def test_read_json_table_dropmalformed(spark, tmp_path):
    """S7 parity: Athena's ignore.malformed.json skip semantics."""
    src = str(tmp_path / "tbl")
    _write_ndjson(src, _sample_records(5))
    with open(os.path.join(src, "part-0.json"), "a") as f:
        f.write("{broken json!!\n")
        f.write('{"name": "Ms. Valid Row"}\n')

    dropped = read_json_table(spark, src, drop_malformed=True)
    assert dropped.count() == 6  # 5 good + 1 partial; broken line skipped
    permissive = read_json_table(spark, src, drop_malformed=False)
    assert permissive.count() == 7  # broken line becomes all-NULL row
