"""Table-maintenance operators: small-file compaction.

Per-batch upserts and other incremental writers write a file per
batch per partition; at 100 TB a day of batches turns the read side
into a metadata storm (one task + one open per tiny file). Compaction
is the standing maintenance job the reference delegates to S3
lifecycle + Athena's CTAS advice — here it is a first-class operator.
(Structured Streaming file sinks are out of its reach; see below.)

Design (scale-first):

- Target FILE SIZE in bytes, not file count: the job computes
  ``ceil(partition_bytes / target_bytes)`` output files per partition
  from filesystem metadata only — no data read to plan.
- Partition-aware: each leaf partition is planned independently and
  partitions that are already compact (file count already <= target)
  are SKIPPED — their files are never read, rewritten, or touched,
  so steady-state compaction cost is O(new fragmentation), not
  O(table).
- Rewrite is read -> coalesce(n) -> write-to-scratch -> atomic-ish
  dir swap. ``coalesce`` not ``repartition``: compaction must not
  shuffle — stitching small files into big ones is a narrow,
  map-only concatenation.
- The per-partition loop is driver-side over FS *metadata* (bounded
  by partition count, never by data volume); each partition's rewrite
  is an independent distributed job, so a failure mid-run leaves
  every other partition either untouched or fully swapped.
- Structured Streaming file sinks are refused: readers list a sink's
  files from its ``_spark_metadata`` log, not from the directory, so
  a rewrite under the log breaks the sink (the swap deletes the log
  and the next batch's commit makes the sink unreadable; a rewritten
  partition leaves the log naming deleted files).
"""

from __future__ import annotations

import math
from typing import List, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

__all__ = ["compact_parquet", "plan_compaction", "reject_streaming_sink", "snapshot_diff"]


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), hpath, jvm


def reject_streaming_sink(spark: SparkSession, path: str) -> None:
    """Raise ``ValueError`` when ``path``, or a directory above it,
    carries a streaming file sink's ``_spark_metadata`` log."""
    fs, d, jvm = _fs(spark, path)
    d = fs.makeQualified(d)
    while d is not None:
        if fs.exists(jvm.org.apache.hadoop.fs.Path(d, "_spark_metadata")):
            raise ValueError(
                f"refusing to compact {path}: {d.toString()} is a streaming "
                "file sink (it has a _spark_metadata log), and rewriting its "
                "files breaks the sink"
            )
        d = d.getParent()


def _leaf_dirs(fs, jvm, root) -> List:
    """Leaf data directories under ``root``: partition dirs (any depth
    of ``col=value`` segments) or ``root`` itself when unpartitioned."""
    subdirs = [
        st.getPath()
        for st in fs.listStatus(root)
        if st.isDirectory() and "=" in st.getPath().getName()
    ]
    if not subdirs:
        return [root]
    out: List = []
    for d in subdirs:
        out.extend(_leaf_dirs(fs, jvm, d))
    return out


def _data_files(fs, d) -> List[Tuple[str, int]]:
    return [
        (st.getPath().toString(), st.getLen())
        for st in fs.listStatus(d)
        if not st.isDirectory()
        and not st.getPath().getName().startswith(("_", "."))
    ]


def plan_compaction(
    spark: SparkSession, path: str, target_bytes: int = 128 * 1024 * 1024
) -> List[dict]:
    """Metadata-only compaction plan: one entry per leaf partition with
    current file count/bytes and the target file count. Entries with
    ``skip=True`` are already compact and will not be touched."""
    fs, root, jvm = _fs(spark, path)
    plan = []
    for d in _leaf_dirs(fs, jvm, root):
        files = _data_files(fs, d)
        if not files:
            continue
        total = sum(sz for _, sz in files)
        n_target = max(1, math.ceil(total / target_bytes))
        plan.append(
            {
                "dir": d.toString(),
                "n_files": len(files),
                "bytes": total,
                "n_target": n_target,
                "skip": len(files) <= n_target,
            }
        )
    return plan


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    scratch_suffix: str = "__compact_tmp",
) -> dict:
    """Compact every fragmented leaf partition of a parquet table to
    ~``target_bytes`` files via narrow (shuffle-free) coalesce +
    directory swap. Returns
    ``{partitions_seen, partitions_rewritten, files_before, files_after}``.

    Already-compact partitions are skipped without reading a byte.
    Raises ``ValueError`` on a streaming file sink (module docstring).
    """
    reject_streaming_sink(spark, path)
    fs, _root, jvm = _fs(spark, path)
    plan = plan_compaction(spark, path, target_bytes)
    rewritten = files_before = files_after = 0
    for entry in plan:
        files_before += entry["n_files"]
        if entry["skip"]:
            files_after += entry["n_files"]
            continue
        d = entry["dir"]
        tmp = d.rstrip("/") + scratch_suffix
        # partition-column values live in the dir name, not the files:
        # read/write the leaf dir directly so they stay in the path
        spark.read.parquet(d).coalesce(entry["n_target"]).write.mode(
            "overwrite"
        ).parquet(tmp)
        src = jvm.org.apache.hadoop.fs.Path(d)
        dst = jvm.org.apache.hadoop.fs.Path(tmp)
        fs.delete(src, True)
        fs.rename(dst, src)
        files_after += len(_data_files(fs, src))
        rewritten += 1
    return {
        "partitions_seen": len(plan),
        "partitions_rewritten": rewritten,
        "files_before": files_before,
        "files_after": files_after,
    }


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    content_cols: Sequence[str],
) -> DataFrame:
    """Corpus reconciliation between two table snapshots: one row per
    id whose membership or content changed — ``status`` in
    ``added`` (id only in ``new``), ``removed`` (only in ``old``),
    ``changed`` (both, content differs). Unchanged ids emit nothing.

    Scale shape: each side reduces to a skinny ``(id, digest)``
    projection IN THE SCAN — content bytes never cross an exchange,
    however wide the rows; the full-outer join then shuffles 16-byte
    digests on the id. Snapshots stored bucketed by id (the layout a
    recurring reconciliation job should maintain) co-locate the join
    and remove even that exchange. Content equality is md5 over the
    JSON encoding of the content tuple (``to_json`` with nulls kept),
    built from the RAW columns — no string pre-cast. JSON escaping
    makes the encoding INJECTIVE per the column's declared type:
    separator bytes inside the data, NULL vs empty string, and
    column-boundary shifts all encode distinctly, and nested types
    (arrays/structs/maps) serialize element-wise with quoting, so
    ``['a, b']`` vs ``['a','b']`` and a NULL element vs the string
    ``'null'`` stay distinct. (A first-cut sentinel-joined concat was
    NOT injective when values contained the separator — round-7
    review finding; a second-cut ``cast("string")`` pre-pass was NOT
    injective for nested types because Spark's complex-type cast
    renders without quoting — round-8 ADVICE finding; both
    regression-pinned.) Equality is exact up to a ~2^-128 md5
    collision, the same digest-not-documents trade as ``exact_dedup``.

    MapType content columns are canonicalized first (entries rebuilt
    in sorted-KEY order — keys alone give a total order, so value
    types are never compared and map-valued maps stay legal) — a
    map's entry order is physical storage order,
    so two semantically equal maps could otherwise digest differently
    and report a spurious ``changed`` (round-8 ADVICE finding;
    regression-pinned). Top-level maps only: a map nested INSIDE an
    array/struct value still renders in storage order — declare such
    columns with the map at the top level, or pre-canonicalize.
    """
    def _canon(df: DataFrame, c: str):
        # canonical order comes from the KEYS alone: map keys are
        # unique, so sorting them is total — and Spark never has to
        # order the values, which may themselves be maps (sort_array
        # over map_entries fails analysis on unorderable value types
        # — round-9 review finding, regression-pinned)
        if isinstance(df.schema[c].dataType, MapType):
            col = F.col(c)
            return F.transform(
                F.sort_array(F.map_keys(col)),
                lambda k: F.struct(k.alias("key"), col[k].alias("value")),
            ).alias(c)
        return F.col(c).alias(c)

    def _dig(df: DataFrame):
        payload = F.to_json(
            F.struct(*[_canon(df, c) for c in content_cols]),
            {"ignoreNullFields": "false"},
        )
        return df.select(F.col(id_col), F.md5(payload).alias("__dg"))

    o, n = _dig(old).alias("o"), _dig(new).alias("n")
    status = (
        F.when(F.col(f"o.{id_col}").isNull(), F.lit("added"))
        .when(F.col(f"n.{id_col}").isNull(), F.lit("removed"))
        .when(F.col("o.__dg") != F.col("n.__dg"), F.lit("changed"))
    )
    return (
        o.join(n, F.col(f"o.{id_col}") == F.col(f"n.{id_col}"), "full_outer")
        .select(
            F.coalesce(F.col(f"o.{id_col}"), F.col(f"n.{id_col}")).alias(id_col),
            status.alias("status"),
        )
        .filter(F.col("status").isNotNull())
    )
