"""Batch table access: the engine's equivalent of the reference's
"external table over S3 files" surface.

Reference parity:
- S7 external table over object-store files
  (``docs/athena-integrity-check.md:26-39``): here
  :func:`read_json_table` — an explicit-schema, malformed-row-skipping
  JSON scan (DROPMALFORMED matches Athena's
  ``ignore.malformed.json='true'`` skip semantics), and
  :func:`create_external_table` — session-catalog DDL over a path.
- S8 namespace DDL (``docs/athena-integrity-check.md:17``):
  :func:`ensure_database`.

Scale notes: prefer parquet (columnar, predicate pushdown + row-group
skipping); pass explicit schemas for JSON (schema inference is a full
extra scan at 100 TB); never infer.
"""

from __future__ import annotations

import hashlib
import os
from typing import Iterable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import NAMES_STREAM, TESTDATA_TABLES

__all__ = [
    "table_path",
    "load_table",
    "TableViews",
    "load_tables",
    "read_parquet_metacached",
    "register_testdata_views",
    "read_json_table",
    "write_table",
    "read_table",
    "ensure_database",
    "create_external_table",
    "save_bucketed",
    "ensure_bucketed_join_tables",
]

# Formats the engine writes/reads as landed tables. Columnar formats
# (parquet, orc) carry their own schema and types; text formats (json,
# csv) need the declared schema back on read — read_table enforces it.
TABLE_FORMATS = ("parquet", "orc", "json", "csv")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


# (applicationId, path) -> (mtime_ns, StructType). A bare
# ``spark.read.parquet`` runs a schema-inference footer job on EVERY
# call (~160 ms warm on local[32]); the engine's query builders call
# load_table inside the measured region, so that job both inflates
# every query and multiplies across the suite. Caching the INFERRED
# SCHEMA (metadata only — what any catalog/metastore provides) and
# re-reading with ``.schema(...)`` skips the job; a rewritten file
# (new mtime) re-infers and replaces its entry, so the cache holds one
# entry per path and session. Plans and results are identical — only
# the redundant footer re-read goes.
_SCHEMA_CACHE: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one testdata table. Filters/projections applied by
    the caller push down to the parquet reader via Catalyst.

    The driver has shipped ``ts`` under three parquet encodings, all
    normalized here to a plain UTC TIMESTAMP so every downstream
    ``unix_micros``/window/date_trunc call analyzes identically:

    - TIMESTAMP(NANOS): arrives as a nano long (session conf
      ``spark.sql.legacy.parquet.nanosAsLong``, set here at runtime so
      externally-built sessions — e.g. the verification driver's —
      work too) and is floor-converted to microsecond timestamps,
      matching how nanosecond values truncate everywhere else.
    - ``timestamp[us]`` without ``isAdjustedToUTC``: Spark 4 reads it
      as TIMESTAMP_NTZ; with the session timezone pinned UTC the cast
      to TIMESTAMP is value-preserving.
    - ``timestamp[us]`` UTC-adjusted: already a TIMESTAMP, untouched.
    """
    _table_confs(spark)
    df = read_parquet_metacached(spark, table_path(sf_dir, name))
    for f in df.schema.fields:
        if f.name == "ts" and isinstance(f.dataType, T.LongType):
            # integer division: ns values exceed double's 2^53 mantissa
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif f.name == "ts" and isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def _table_confs(spark: SparkSession) -> None:
    conf = spark.conf
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # timestamp semantics (date_trunc/month/hour buckets) must be
    # timezone-stable regardless of who built the session
    conf.set("spark.sql.session.timeZone", "UTC")


# (applicationId, path) -> (mtime_ns, qualified view name); the same key
# and invalidation as _SCHEMA_CACHE, one entry per path and application.
_VIEW_CACHE: dict = {}


class TableViews:
    """SQL names for the testdata tables under ``sf_dir``: attribute
    ``t.lineitem`` is a global temp view over :func:`load_table`'s
    relation (ts normalisation included), for use in ``spark.sql`` text.

    Each table's relation is resolved once per ``(applicationId, path)``
    and re-resolved when the file's ``mtime_ns`` changes; a hit costs one
    ``os.stat`` and no JVM call, where :func:`load_table` re-lists and
    re-resolves the parquet relation each time. Global temp views belong
    to the application, so the cloned session ``foreachBatch`` runs on
    sees them too, and SQL may reference one view twice (``FROM v a JOIN
    v b``). The scan keeps the creating session's file-split confs.

    Constructing one sets :func:`load_table`'s session confs on ``spark``,
    which the SQL built over the views needs as much as the reads."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        _table_confs(spark)
        self._spark = spark
        self._sf_dir = sf_dir
        self._app = spark.sparkContext.applicationId

    def __getattr__(self, name: str) -> str:
        if name.startswith("_"):
            raise AttributeError(name)
        path = table_path(self._sf_dir, name)
        try:
            mtime = os.stat(path).st_mtime_ns
        except OSError:  # not a local path: resolve every time
            mtime = None
        key = (self._app, path)
        hit = _VIEW_CACHE.get(key)
        if hit is None or mtime is None or hit[0] != mtime:
            view = f"{name}_{hashlib.sha1(path.encode()).hexdigest()[:16]}"
            load_table(self._spark, self._sf_dir, name).createOrReplaceGlobalTempView(view)
            db = self._spark.conf.get("spark.sql.globalTempDatabase")
            hit = _VIEW_CACHE[key] = (mtime, f"{db}.{view}")
        setattr(self, name, hit[1])
        return hit[1]


def read_parquet_metacached(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read with the :data:`_SCHEMA_CACHE` treatment for
    NON-testdata artifact paths (stored models, staged indexes): the
    DATA is re-read on every call — only the inferred StructType is
    cached, with the mtime_ns it was inferred at, so repeated reads of
    the same artifact (e.g. a per-epoch model reload) skip the
    footer-inference job while a rewritten artifact (new mtime)
    re-infers and replaces the entry. For a directory artifact the
    mtime is the directory's, which overwrite-mode rewrites touch
    (files are deleted and recreated); in-place part-file surgery that
    leaves the directory mtime intact is outside this helper's
    contract — see ADVICE r13."""
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:  # not a local path: infer every time
        return spark.read.parquet(path)
    key = (spark.sparkContext.applicationId, path)
    hit = _SCHEMA_CACHE.get(key)
    if hit is not None and hit[0] == mtime:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[key] = (mtime, df.schema)
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: Optional[Iterable[str]] = None):
    return {n: load_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every testdata table as a temp view under its own name so
    ``spark.sql`` works exactly like the reference's Athena console entry
    point; each aliases the table's :class:`TableViews` relation."""
    t = TableViews(spark, sf_dir)
    for name in TESTDATA_TABLES:
        spark.table(getattr(t, name)).createOrReplaceTempView(name)


def read_json_table(
    spark: SparkSession,
    path: str,
    schema: T.StructType = NAMES_STREAM,
    drop_malformed: bool = True,
) -> DataFrame:
    """Newline-delimited JSON scan with a declared schema.

    ``drop_malformed=True`` skips unparseable lines — Athena-skip parity
    (reference ``docs/athena-integrity-check.md:38,44``); ``False`` uses
    Spark's PERMISSIVE mode (null columns) like the streaming job's
    ``from_json`` (``spark_processing.py:146``).
    """
    mode = "DROPMALFORMED" if drop_malformed else "PERMISSIVE"
    return spark.read.schema(schema).option("mode", mode).json(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: Optional[Iterable[str]] = None,
) -> None:
    """Land a DataFrame in any supported table format.

    One writer path for every format keeps partitioning and mode
    semantics uniform; csv writes a header so files are
    self-describing for humans while read_table still applies the
    declared schema (never inference) for engine use."""
    if fmt not in TABLE_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {TABLE_FORMATS}")
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if fmt == "csv":
        w = w.option("header", "true")
    w.format(fmt).save(path)


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: Optional[T.StructType] = None,
) -> DataFrame:
    """Read a landed table back. Text formats REQUIRE the declared
    schema — inference would both scan the data twice and produce
    drifting types (csv reads everything as string; json widens ints);
    columnar formats embed theirs."""
    if fmt not in TABLE_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {TABLE_FORMATS}")
    r = spark.read
    if fmt in ("json", "csv"):
        if schema is None:
            raise ValueError(f"{fmt} read requires a declared schema")
        r = r.schema(schema)
        if fmt == "csv":
            r = r.option("header", "true")
    elif schema is not None:
        r = r.schema(schema)
    return r.format(fmt).load(path)


def save_bucketed(
    df: DataFrame,
    table: str,
    key_cols: Iterable[str],
    buckets: int = 8,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a managed table bucketed (and sorted) by
    ``key_cols``.

    Bucketing is the write-time half of the repeated-join story: both
    sides of a join bucketed by their join key with the same bucket
    count are co-located, so every subsequent join/aggregate on that
    key plans with ZERO Exchange — the shuffle is paid once at write
    time instead of per query. With ``sort`` the sort-merge join's
    per-bucket sort is pre-paid too. At 100 TB this turns the nightly
    fact-to-fact join from the dominant shuffle into a local zip.
    """
    keys = list(key_cols)
    writer = df.write.bucketBy(buckets, *keys)
    if sort:
        writer = writer.sortBy(*keys)
    writer.mode("overwrite").saveAsTable(table)


_BUCKETED_CACHE: dict = {}


def ensure_bucketed_join_tables(
    spark: SparkSession, sf_dir: str, buckets: int = 8
) -> str:
    """Bucket-by-orderkey copies of ``orders`` and ``lineitem`` as
    managed tables (once per session+sf); returns the database name.

    ``orders_b`` is bucketed by ``o_orderkey`` and ``lineitem_b`` by
    ``l_orderkey``: equal bucket counts over the two sides of the
    equi-join key, so Catalyst recognizes the co-partitioning through
    the join condition and plans no Exchange on either side.
    """
    sf_tag = "".join(c if c.isalnum() else "_" for c in sf_dir.strip("/").rsplit("/", 1)[-1])
    db = f"buck_{sf_tag}_{buckets}"
    key = f"{spark.sparkContext.applicationId}:{db}"
    if not _BUCKETED_CACHE.get(key):
        ensure_database(spark, db)
        for table, source, keys in (
            ("orders_b", "orders", ["o_orderkey"]),
            ("lineitem_b", "lineitem", ["l_orderkey"]),
        ):
            save_bucketed(load_table(spark, sf_dir, source), f"{db}.{table}", keys, buckets)
        _BUCKETED_CACHE[key] = db
    return db


def ensure_database(spark: SparkSession, name: str) -> None:
    """``CREATE DATABASE IF NOT EXISTS`` (S8 parity) at a location of
    this application's own, ``<warehouse>/<applicationId>-<pid>/<name>.db``,
    removed when the driver JVM exits.

    The catalog is in-memory, so every process starts without its
    databases; at the shared default location a process had to delete
    the managed-table directories an earlier process left, and two
    processes started in one directory deleted each other's live
    tables."""
    sc = spark.sparkContext
    wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    app_dir = sc._jvm.org.apache.hadoop.fs.Path(f"{wh}/{sc.applicationId}-{os.getpid()}")
    fs = app_dir.getFileSystem(sc._jsc.hadoopConfiguration())
    fs.mkdirs(app_dir)
    fs.deleteOnExit(app_dir)  # a no-op on a path that does not exist yet
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS {name} "
        f"LOCATION '{app_dir.toString()}/{name}.db'"
    )


def create_external_table(
    spark: SparkSession,
    name: str,
    path: str,
    schema: T.StructType = NAMES_STREAM,
    fmt: str = "parquet",
) -> None:
    """Catalog table over existing files (the Athena external-table
    equivalent). Parquet by default; JSON kept for reference parity."""
    ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} ({ddl}) USING {fmt} "
        f"OPTIONS (path '{path}')"
    )
