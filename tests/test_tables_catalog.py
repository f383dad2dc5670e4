"""Batch catalog surface: table loading, SQL views (the Athena console
equivalent), external-table DDL, database DDL."""

from pyspark.sql import functions as F

from api_kakfa_spark_airflow_s3_athena_spark.functions.transforms import synthetic_users
from api_kakfa_spark_airflow_s3_athena_spark.schemas import TESTDATA_TABLES
from api_kakfa_spark_airflow_s3_athena_spark.sources.tables import (
    create_external_table,
    ensure_database,
    load_table,
    register_testdata_views,
)


def test_load_all_tables(spark, sf_dir):
    for name in TESTDATA_TABLES:
        df = load_table(spark, sf_dir, name)
        assert df.count() > 0, name


def test_events_ts_is_timestamp(spark, sf_dir):
    """The TIMESTAMP(NANOS) column must surface as a usable timestamp."""
    e = load_table(spark, sf_dir, "events")
    assert e.schema["ts"].dataType.simpleString() == "timestamp"
    r = e.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    assert r.lo.year == 2024 and r.hi.year == 2024


def test_sql_entry_point_over_views(spark, sf_dir):
    """spark.sql over registered views == the Athena console path."""
    register_testdata_views(spark, sf_dir)
    row = spark.sql(
        "SELECT count(*) AS cnt FROM lineitem WHERE l_discount > 0.05"
    ).collect()[0]
    assert row.cnt > 0


def test_external_table_and_database_ddl(spark, tmp_path):
    path = str(tmp_path / "names_tbl")
    synthetic_users(spark, 25, seed=2).write.parquet(path)
    ensure_database(spark, "streaming_demo")
    create_external_table(spark, "streaming_demo.names_stream", path)
    got = spark.sql("SELECT count(*) AS c FROM streaming_demo.names_stream").collect()[0].c
    assert got == 25
    spark.sql("DROP TABLE streaming_demo.names_stream")
    spark.sql("DROP DATABASE streaming_demo")


def test_write_read_roundtrip_all_formats(spark, sf_dir, tmp_path):
    """Every supported landing format must round-trip rows and the
    declared schema: columnar formats carry types themselves, text
    formats get them re-imposed on read (no inference drift)."""
    from api_kakfa_spark_airflow_s3_athena_spark.sources.tables import (
        TABLE_FORMATS,
        load_table,
        read_table,
        write_table,
    )

    src = load_table(spark, sf_dir, "customer").limit(100)
    want = sorted((r.c_custkey, r.c_name, r.c_acctbal) for r in src.collect())
    for fmt in TABLE_FORMATS:
        path = str(tmp_path / f"t_{fmt}")
        write_table(src, path, fmt=fmt)
        back = read_table(spark, path, fmt=fmt, schema=src.schema)
        assert back.schema == src.schema, fmt
        got = sorted((r.c_custkey, r.c_name, r.c_acctbal) for r in back.collect())
        assert got == want, fmt


def test_read_table_text_formats_require_schema(spark, tmp_path):
    import pytest as _pytest

    from api_kakfa_spark_airflow_s3_athena_spark.sources.tables import read_table

    for fmt in ("json", "csv"):
        with _pytest.raises(ValueError, match="declared schema"):
            read_table(spark, str(tmp_path), fmt=fmt)


def test_schema_cache_keeps_one_entry_per_rewritten_path(spark, tmp_path):
    """A rewritten artifact replaces its cached schema instead of
    adding an entry: three rewrites of one path leave one entry, and
    each read sees the schema of the latest write."""
    import os

    from api_kakfa_spark_airflow_s3_athena_spark.sources import tables

    path = str(tmp_path / "artifact.parquet")
    for i in range(3):
        spark.range(2).withColumnRenamed("id", f"c{i}").write.mode(
            "overwrite"
        ).parquet(path)
        os.utime(path, ns=(i + 1, i + 1))  # distinct mtimes, coarse clocks too
        df = tables.read_parquet_metacached(spark, path)
        assert df.columns == [f"c{i}"]
        assert tables.read_parquet_metacached(spark, path).columns == [f"c{i}"]
    keys = [k for k in tables._SCHEMA_CACHE if k[1] == path]
    assert keys == [(spark.sparkContext.applicationId, path)]


def test_table_views_keep_each_sf_dir_apart(spark, sf_dir):
    """Two fixture dirs in one session: each view reads its own file,
    also when the dirs alternate."""
    import os

    import pyarrow.parquet as pq

    from api_kakfa_spark_airflow_s3_athena_spark.sources.tables import TableViews, table_path

    sf_next = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    for sf in (sf_dir, sf_next, sf_dir):
        t = TableViews(spark, sf)
        got = spark.sql(f"SELECT count(*) AS c FROM {t.lineitem}").collect()[0].c
        assert got == pq.ParquetFile(table_path(sf, "lineitem")).metadata.num_rows, sf


def test_table_views_reresolve_a_rewritten_table(spark, sf_dir, tmp_path):
    """A table file rewritten in place (new mtime) shows its new rows on
    the next build of a registry query over it."""
    import os

    import pyarrow.parquet as pq

    from api_kakfa_spark_airflow_s3_athena_spark.plans.queries import REGISTRY
    from api_kakfa_spark_airflow_s3_athena_spark.sources.tables import table_path

    customer = pq.read_table(table_path(sf_dir, "customer"))
    path = table_path(str(tmp_path), "customer")
    q1 = REGISTRY["athena_q1_topk_scan"].fn
    for i, n in enumerate((3, 5)):
        pq.write_table(customer.slice(0, n), path)
        os.utime(path, ns=(i + 1, i + 1))  # distinct mtimes, coarse clocks too
        assert len(q1(spark, str(tmp_path)).collect()) == n


def test_sql_surface_runs_on_a_new_session(spark, sf_dir):
    """``foreachBatch`` hands its function a cloned session: the views
    the first session made resolve there, and the build sets the table
    confs the text needs (UTC date bounds) on that session."""
    from api_kakfa_spark_airflow_s3_athena_spark.plans.queries import REGISTRY

    other = spark.newSession()
    other.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    for name in ("athena_q6_partition_pruned_agg", "revenue_by_nation"):
        got = REGISTRY[name].fn(other, sf_dir).collect()
        assert sorted(got) == sorted(REGISTRY[name].fn(spark, sf_dir).collect()), name
    assert other.conf.get("spark.sql.session.timeZone") == "UTC"
