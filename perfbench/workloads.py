"""The benchmark workloads: one closed-loop client, one op at a time.

Each workload drives the program only through its public names and
checks every op's output outside the timed region. An op whose check
fails is counted as failed; it is never dropped or retried.

- ``ingest``: the production job (``streaming.job.build_job``, files
  mode, date-partitioned parquet sink with checkpoint). One op
  publishes one ``names_stream`` file atomically and ends when the
  query has committed it.
- ``lake``: the Athena surface plus relational SQL from
  ``__spark_entry__.queries()``. One op is one pass over the mix.
- ``curation``: the epoch-fold sinks. One op is one epoch published to
  ``dedup_ingest_sink`` and then the epoch's (lang, bigram) units
  published to ``mg_summary_sink``.
"""

from __future__ import annotations

import collections
import json
import os
import time
from dataclasses import dataclass, field
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen


@dataclass
class Op:
    """One measured unit of work."""

    ms: float  # latency
    start_ms: float  # wall-clock span, for event-log attribution
    end_ms: float
    parts: dict = field(default_factory=dict)  # named sub-spans, ms
    progress: list = field(default_factory=list)  # StreamingQueryProgress of its batches
    problems: list = field(default_factory=list)  # failed checks

    @property
    def ok(self) -> bool:
        return not self.problems


def _clock():
    return time.perf_counter(), time.time() * 1000.0


def _publish(stage_path: str, dest_dir: str) -> None:
    """Atomic publish: the source never sees a half-written file."""
    os.rename(stage_path, os.path.join(dest_dir, os.path.basename(stage_path)))


def _progress(query, after_batch: int) -> list:
    """The data-carrying progress records of batches after ``after_batch``."""
    return [p for p in query.recentProgress
            if p["batchId"] > after_batch and p["numInputRows"] > 0]


def _parquet_files(path: str) -> list[str]:
    out = []
    for d, _, files in os.walk(path):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".parquet"))
    return sorted(out)


# --- ingest -------------------------------------------------------------------

_NAMES_COLS = ["name", "gender", "address", "city", "nation", "zip", "latitude",
               "longitude", "email"]


def check_names(table: pa.Table, expect: gen.NamesExpect) -> list[str]:
    """Reconcile the sink rows of one published file with the
    generator's counts: row count, all-NULL rows from malformed lines,
    and the reference's Athena checks (null/blank names, duplicate
    emails, out-of-range coordinates)."""

    def count(mask) -> int:
        return pc.sum(pc.fill_null(mask, False).cast(pa.int64())).as_py() or 0

    def outside(c: str, lim: float):
        return pc.or_(pc.less(table[c], -lim), pc.greater(table[c], lim))

    all_null = table[_NAMES_COLS[0]].is_null()
    for c in _NAMES_COLS[1:]:
        all_null = pc.and_(all_null, table[c].is_null())
    emails = table.group_by("email").aggregate([("email", "count", pc.CountOptions("all"))])
    got = dict(
        lines=table.num_rows,
        malformed=count(all_null),
        null_blank_names=count(pc.or_kleene(table["name"].is_null(), pc.equal(table["name"], ""))),
        duplicate_emails=count(pc.greater(emails["email_count"], 1)),
        out_of_range=count(pc.or_kleene(outside("latitude", 90.0), outside("longitude", 180.0))),
    )
    return [f"{k}: sink {v} != published {getattr(expect, k)}"
            for k, v in got.items() if v != getattr(expect, k)]


def committed_files(sink: str, batch_id: int) -> set[str]:
    """Files the file sink's log lists as committed up to ``batch_id``
    (a ``.compact`` entry carries the whole history)."""
    meta = os.path.join(sink, "_spark_metadata", str(batch_id))
    if not os.path.exists(meta):
        meta += ".compact"
    with open(meta, encoding="utf-8") as fh:
        lines = fh.read().splitlines()[1:]
    return {unquote(urlparse(json.loads(ln)["path"]).path) for ln in lines if ln}


class Ingest:
    """The reference's only Spark job: files-mode source, declared-schema
    parse, date-partitioned parquet sink with checkpoint."""

    name = "ingest"
    # latency falls steeply for ~10 ops and then slowly; by op 25 it is
    # within ~5% of ops 30-45
    warmup_ops = 25
    min_ops = 10
    max_ops = 10_000
    rows_per_op = gen.NAMES_PER_FILE

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.dirs = {k: os.path.join(work, k) for k in ("src", "stage", "sink", "ckpt")}
        for k in ("src", "stage"):
            os.makedirs(self.dirs[k])
        self.last_batch = -1
        self.seen: set[str] = set()

    def setup(self, spark) -> None:
        from api_kakfa_spark_airflow_s3_athena_spark.streaming.job import build_job, resolve_config

        cfg = resolve_config({
            "SOURCE_MODE": "files",
            "SOURCE_PATH": self.dirs["src"],
            "SINK_PATH": self.dirs["sink"],
            "CHECKPOINT_PATH": self.dirs["ckpt"],
        })
        self.query = build_job(spark, cfg)
        self._stage(0)

    def _stage(self, i: int) -> None:
        body, self.expect = gen.names_file(self.seed, i)
        self.staged = os.path.join(self.dirs["stage"], f"names-{i:06d}.json")
        with open(self.staged, "wb") as fh:
            fh.write(body)

    def op(self, i: int) -> Op:
        expect = self.expect
        t0, w0 = _clock()
        _publish(self.staged, self.dirs["src"])
        self.query.processAllAvailable()
        t1, w1 = _clock()
        op = Op((t1 - t0) * 1000.0, w0, w1)
        self._stage(i + 1)
        op.progress = _progress(self.query, self.last_batch)
        if not op.progress:
            op.problems.append("no batch committed")
            return op
        self.last_batch = max(p["batchId"] for p in op.progress)
        files = committed_files(self.dirs["sink"], self.last_batch) - self.seen
        self.seen |= files
        table = pq.read_table(sorted(files), columns=_NAMES_COLS) if files else None
        if table is None:
            op.problems.append("no sink file committed")
        else:
            op.problems.extend(check_names(table, expect))
        return op

    def finish(self, spark, ops: list[Op]) -> list[str]:
        self.query.stop()
        return []

    def store_files(self) -> int:
        return len(_parquet_files(self.dirs["sink"]))


# --- lake ---------------------------------------------------------------------

# query -> tables it scans (its input rows per pass)
LAKE_MIX = {
    "athena_q1_topk_scan": ("customer",),
    "athena_q3_null_blank_audit": ("documents",),
    "athena_q4_duplicate_keys": ("events",),
    "athena_q5_range_violations": ("lineitem",),
    "athena_q6_partition_pruned_agg": ("orders",),
    "tpch_q1_pricing_summary": ("lineitem",),
    "tpch_q3_shipping_priority": ("customer", "orders", "lineitem"),
    "revenue_by_nation": ("lineitem", "orders", "customer", "nation", "region"),
    "top_customers_per_nation": ("customer", "nation"),
    "hourly_event_stats": ("events",),
}


class Lake:
    """Read-only SQL: planning, shuffle and joins; no streaming."""

    name = "lake"
    # a process's first pass is ~3x slower than later ones and its second
    # ~10-30% slower. One warm-up pass keeps a run within its time budget;
    # the measured passes then still drift down a little.
    warmup_ops = 1
    min_ops = 2
    max_ops = 10_000

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.data = os.path.join(work, "sf")
        self.expected: dict[str, tuple] = {}  # DuckDB fingerprints
        # query -> (result digest of its first pass, oracle verdict)
        self.verified: dict[str, tuple] = {}
        self.failing: dict[str, str] = {}

    def setup(self, spark) -> None:
        import duckdb

        import __spark_entry__ as E

        self.spark = spark
        # one seeded order for the run, so every pass is the same work
        self.order = list(LAKE_MIX)
        np.random.default_rng([self.seed, 4]).shuffle(self.order)
        rows = gen.write_tables(self.seed, self.data)
        self.rows_per_op = sum(rows[t] for ts in LAKE_MIX.values() for t in ts)
        self.fns = {q: E.queries()[q] for q in LAKE_MIX}
        oracle = E.oracle_sql()
        from tools.oracle_check import frame_fingerprint

        self.fingerprint = frame_fingerprint
        con = duckdb.connect()
        try:
            for t in rows:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.data, t)}.parquet')")
            for q in LAKE_MIX:
                rel = con.sql(oracle[q])
                self.expected[q] = frame_fingerprint(list(rel.columns), rel.fetchall())
        finally:
            con.close()

    def op(self, i: int) -> Op:
        results, parts, errors = {}, {}, {}
        t0, w0 = _clock()
        for q in self.order:
            s = time.perf_counter()
            try:
                df = self.fns[q](self.spark, self.data)
                results[q] = (df.columns, df.collect())
            except Exception as e:  # a failing query stays in the mix
                errors[q] = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
            parts[q] = (time.perf_counter() - s) * 1000.0
        t1, w1 = _clock()
        op = Op((t1 - t0) * 1000.0, w0, w1, parts=parts)
        for q in LAKE_MIX:
            why = errors.get(q)
            if why is None:
                cols, rows = results[q]
                # an order-insensitive digest: the client keeps no result
                # rows between ops, so its own heap stays the same size
                got = hash((tuple(cols), frozenset(collections.Counter(map(tuple, rows)).items())))
                if q not in self.verified:
                    # once per run: the fingerprint against the DuckDB oracle
                    ok = self.fingerprint(cols, [tuple(r) for r in rows]) == self.expected[q]
                    self.verified[q] = (got, None if ok else "fingerprint differs from the DuckDB oracle")
                want, why = self.verified[q]
                if why is None and got != want:
                    why = "result differs from the oracle-checked pass"
            if why is not None:
                op.problems.append(f"{q}: {why}")
                self.failing.setdefault(q, why)
        return op

    def finish(self, spark, ops: list[Op]) -> list[str]:
        return [f"{q}: {why}" for q, why in self.failing.items()]

    def store_files(self) -> int:
        return 0


# --- curation -----------------------------------------------------------------

DEDUP_PARAMS = dict(threshold=0.5, num_hashes=32, bands=8)
MG_COUNTERS = 700


class Curation:
    """Epoch-fold sinks: each epoch reads earlier stores and writes new
    ones, so reads and writes share one op."""

    name = "curation"
    # the first epoch pays query start-up and worker spawn (~14 s), the
    # second ~20% more than later ones
    warmup_ops = 2
    min_ops = 2
    # Stay below epoch 32: from there a store read lists more than
    # spark.sql.sources.parallelPartitionDiscovery.threshold paths and
    # the per-epoch cost steps up. Every measured epoch sits before it.
    max_ops = 30

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.dirs = {k: os.path.join(work, k) for k in
                     ("docs_src", "units_src", "stage", "index", "corpus", "pairs",
                      "mg", "ckpt_dedup", "ckpt_mg")}
        for k in ("docs_src", "units_src", "stage"):
            os.makedirs(self.dirs[k])
        self.units_total: collections.Counter = collections.Counter()
        self.batches = {"dedup": -1, "mg": -1}

    def setup(self, spark) -> None:
        from api_kakfa_spark_airflow_s3_athena_spark.streaming.dedup import dedup_ingest_sink
        from api_kakfa_spark_airflow_s3_athena_spark.streaming.frequency import mg_summary_sink

        self.epochs = gen.curation_epochs(self.seed, gen.documents(self.seed))
        self.rows_per_op = self.epochs[0].docs.num_rows
        d = self.dirs
        self.dedup = dedup_ingest_sink(
            spark.readStream.schema("doc_id long, text string").parquet(d["docs_src"]),
            d["index"], d["corpus"], d["pairs"], d["ckpt_dedup"], **DEDUP_PARAMS,
        )
        self.mg = mg_summary_sink(
            spark.readStream.schema("lang string, unit string").parquet(d["units_src"]),
            ["lang"], "unit", MG_COUNTERS, d["mg"], d["ckpt_mg"],
        )

    def _stage(self, e: int) -> tuple[str, str]:
        ep = self.epochs[e]
        docs = os.path.join(self.dirs["stage"], f"docs-{e:04d}.parquet")
        units = os.path.join(self.dirs["stage"], f"units-{e:04d}.parquet")
        pq.write_table(ep.docs.select(["doc_id", "text"]), docs)
        pq.write_table(ep.units, units)
        return docs, units

    def op(self, e: int) -> Op:
        docs, units = self._stage(e)
        t0, w0 = _clock()
        _publish(docs, self.dirs["docs_src"])
        self.dedup.processAllAvailable()
        t1 = time.perf_counter()
        _publish(units, self.dirs["units_src"])
        self.mg.processAllAvailable()
        t2, w2 = _clock()
        op = Op((t2 - t0) * 1000.0, w0, w2,
                parts={"dedup": (t1 - t0) * 1000.0, "mg": (t2 - t1) * 1000.0})
        for sink, q in (("dedup", self.dedup), ("mg", self.mg)):
            prog = _progress(q, self.batches[sink])
            op.progress.extend(prog)
            ids = [p["batchId"] for p in prog]
            if ids != [e]:
                op.problems.append(f"{sink}: epoch {e} ran as batches {ids}")
            self.batches[sink] = max(ids, default=self.batches[sink])
        self.units_total.update(self.epochs[e].units.column("lang").to_pylist())
        op.problems.extend(self._check_mg(e))
        return op

    def _check_mg(self, e: int) -> list[str]:
        """Exact per-key unit totals and the counter bound of the MG state."""
        meta = pq.read_table(os.path.join(self.dirs["mg"], "meta", f"epoch={e}"))
        summ = pq.read_table(os.path.join(self.dirs["mg"], "summary", f"epoch={e}"))
        got = dict(zip(meta.column("lang").to_pylist(), meta.column("n_units").to_pylist()))
        problems = []
        if got != dict(self.units_total):
            problems.append(f"mg: epoch {e} unit totals {got} != {dict(self.units_total)}")
        per_key = collections.Counter(summ.column("lang").to_pylist())
        if any(v > MG_COUNTERS for v in per_key.values()):
            problems.append(f"mg: epoch {e} state exceeds {MG_COUNTERS} counters")
        return problems

    def finish(self, spark, ops: list[Op]) -> list[str]:
        """Stop both sinks, then check every epoch's pair log against the
        batch operator over everything streamed: the union of per-epoch
        pairs must equal ``minhash_dedup_pairs``, each pair logged in the
        epoch its later member arrived, with recall 1.0 on the plants."""
        from api_kakfa_spark_airflow_s3_athena_spark.operators.dedup import minhash_dedup_pairs

        self.dedup.stop()
        self.mg.stop()
        n = len(ops)
        streamed = pa.concat_tables([self.epochs[e].docs for e in range(n)])
        epoch_of = {}
        for e in range(n):
            for d in self.epochs[e].docs.column("doc_id").to_pylist():
                epoch_of[d] = e
        batch = minhash_dedup_pairs(
            spark.createDataFrame(streamed.select(["doc_id", "text"]).to_pandas()),
            guard_hot_buckets=False, **DEDUP_PARAMS,
        ).select("id_a", "id_b", "jaccard").collect()
        expected = collections.defaultdict(set)
        for a, b, j in batch:
            expected[max(epoch_of[a], epoch_of[b])].add((a, b, j))
        for e, op in enumerate(ops):
            path = os.path.join(self.dirs["pairs"], f"epoch={e}")
            t = pq.read_table(path, columns=["id_a", "id_b", "jaccard"])
            got = set(zip(*(t.column(c).to_pylist() for c in ("id_a", "id_b", "jaccard"))))
            if got != expected[e]:
                op.problems.append(
                    f"dedup: epoch {e} pairs differ from batch dedup "
                    f"({len(got - expected[e])} extra, {len(expected[e] - got)} missing)")
            found = {(min(a, b), max(a, b)) for a, b, _ in got}
            missed = [p for p in self.epochs[e].plants if (min(p), max(p)) not in found]
            if missed:
                op.problems.append(f"dedup: epoch {e} missed planted pairs {missed}")
        return []

    def store_files(self) -> int:
        return sum(len(_parquet_files(self.dirs[k])) for k in ("index", "corpus", "pairs"))


WORKLOADS = {w.name: w for w in (Ingest, Lake, Curation)}
