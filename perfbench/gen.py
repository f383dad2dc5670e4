"""Seeded input generators for the benchmark workloads.

Everything the program reads is made here from ``--seed``: the same
seed gives byte-identical inputs. The generators are separate from the
program under test; the program only ever sees the files they write.

- :func:`names_file` — one fixed-size ndjson file of ``names_stream``
  records (FIXTURES.md §1-2) with fixed shares of malformed lines,
  NULL/blank names, duplicate emails and out-of-range coordinates; it
  also returns the counts the reference's Athena checks must find.
- :func:`write_tables` — the sf0.1-shaped star schema plus ``events``
  and ``documents`` (row counts and value domains of the sf0.1
  testdata) as one parquet file per table.
- :func:`curation_epochs` — the ``documents`` table split into equal
  epochs with planted near-duplicates, and each epoch's (lang, bigram)
  units.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- names_stream (ingest) ---------------------------------------------------

NAMES_PER_FILE = 10_000
# Fixed shares per file; the categories are disjoint so every Athena
# check has an exact expected count.
N_MALFORMED = 100
N_NULL_NAME = 100
N_BLANK_NAME = 100
N_DUP_EMAIL = 100
N_OUT_OF_RANGE = 100
N_NULL_COORDS = 100

_TITLES = ["Mr", "Ms", "Mrs", "Dr", "Miss"]
_FIRST = ["Ava", "Ben", "Chloe", "Dan", "Eva", "Finn", "Gia", "Hugo", "Iris", "Jon",
          "Kai", "Lena", "Milo", "Nora", "Omar", "Pia", "Quinn", "Rosa", "Sami", "Tess"]
_LAST = ["Smith", "Jones", "Brown", "Garcia", "Muller", "Rossi", "Dubois", "Novak",
         "Silva", "Tanaka", "Kim", "Olsen", "Weber", "Lopez", "Clark", "Singh"]
_STREETS = ["High St", "Station Rd", "Main St", "Park Ave", "Church Ln", "Mill Rd"]
_CITIES = [("London", "United Kingdom"), ("Berlin", "Germany"), ("Madrid", "Spain"),
           ("Toronto", "Canada"), ("Sydney", "Australia")]


@dataclass(frozen=True)
class NamesExpect:
    """What the sink must hold for one published file."""

    lines: int
    malformed: int  # rows whose every names_stream column is NULL
    null_blank_names: int  # Athena: name IS NULL OR name = ''
    duplicate_emails: int  # Athena: GROUP BY email HAVING count(*) > 1
    out_of_range: int  # Athena: latitude/longitude NOT BETWEEN


@functools.lru_cache(maxsize=None)  # bounded: 5 cities x 399 numbers x 6 streets
def _zip(city: int, number: int, street: int) -> str:
    """The producer's pseudonymised postcode: decimal 128-bit md5."""
    postcode = f"{_CITIES[city][0][:2].upper()}{number}{street}"
    return str(int(hashlib.md5(postcode.encode()).hexdigest(), 16))


def names_file(seed: int, op: int) -> tuple[bytes, NamesExpect]:
    """The ``op``-th ingest file for ``seed``: ndjson bytes plus the
    counts the sink checks must report for it."""
    rng = np.random.default_rng([seed, 1, op])
    n = NAMES_PER_FILE
    kinds = np.zeros(n, dtype=np.int8)
    order = rng.permutation(n)
    bounds = np.cumsum([0, N_MALFORMED, N_NULL_NAME, N_BLANK_NAME, N_DUP_EMAIL,
                        N_OUT_OF_RANGE, N_NULL_COORDS])
    for kind, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:]), start=1):
        kinds[order[lo:hi]] = kind
    title = rng.integers(0, len(_TITLES), n)
    first = rng.integers(0, len(_FIRST), n)
    last = rng.integers(0, len(_LAST), n)
    city = rng.integers(0, len(_CITIES), n)
    number = rng.integers(1, 400, n)
    street = rng.integers(0, len(_STREETS), n)
    male = rng.random(n) < 0.5
    lat = np.round(rng.uniform(-89.9, 89.9, n), 4)
    lon = np.round(rng.uniform(-179.9, 179.9, n), 4)
    bad_lat = rng.random(n) < 0.5
    off = np.round(rng.uniform(0.5, 80.0, n), 4)
    sign = np.where(rng.random(n) < 0.5, -1.0, 1.0)
    # a duplicate-email row reuses the email of a clean row of the file
    clean = np.flatnonzero(kinds == 0)
    donors = rng.choice(clean, size=N_DUP_EMAIL, replace=False)
    dup_rows = np.flatnonzero(kinds == 4)

    def email(i: int) -> str:
        return f"{_FIRST[first[i]].lower()}.{_LAST[last[i]].lower()}{op}x{i}@example.com"

    emails = {int(r): email(int(d)) for r, d in zip(dup_rows, donors)}
    # plain lists: indexing numpy arrays per element dominates otherwise
    kinds, title, first, last, city, number, street, male, lat, lon, bad_lat, off, sign = (
        a.tolist() for a in (kinds, title, first, last, city, number, street, male, lat, lon,
                             bad_lat, off, sign))
    names = {2: "null", 3: '""'}
    out = []
    for i in range(n):
        k = kinds[i]
        if k == 1:
            # half truncated objects, half not JSON at all
            out.append('{"name": "' + _FIRST[first[i]] if i % 2 else f"#corrupt-{op}-{i}")
            continue
        cname, nation = _CITIES[city[i]]
        la, lo = repr(lat[i]), repr(lon[i])
        if k == 5:
            if bad_lat[i]:
                la = repr(sign[i] * (90.0 + off[i]))
            else:
                lo = repr(sign[i] * (180.0 + off[i]))
        elif k == 6:
            la = lo = "null"
        name = names.get(k) or f'"{_TITLES[title[i]]}. {_FIRST[first[i]]} {_LAST[last[i]]}"'
        out.append(
            f'{{"name": {name}, "gender": "{"male" if male[i] else "female"}", '
            f'"address": "{number[i]}, {_STREETS[street[i]]}", "city": "{cname}", '
            f'"nation": "{nation}", '
            f'"zip": "{_zip(city[i], number[i], street[i])}", '
            f'"latitude": {la}, "longitude": {lo}, "email": "{emails.get(i) or email(i)}"}}'
        )
    body = ("\n".join(out) + "\n").encode()
    expect = NamesExpect(
        lines=n,
        malformed=N_MALFORMED,
        # malformed lines parse to all-NULL rows, so their name is NULL too
        null_blank_names=N_MALFORMED + N_NULL_NAME + N_BLANK_NAME,
        # the all-NULL rows share one NULL email group
        duplicate_emails=N_DUP_EMAIL + (1 if N_MALFORMED > 1 else 0),
        out_of_range=N_OUT_OF_RANGE,
    )
    return body, expect


# --- relational tables (lake) --------------------------------------------------

ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
}
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
         "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
         "vector", "window"]
LANGS = ["en", "en", "en", "fr", "de", "es", "zh"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["error", "view", "purchase", "signup", "click"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def documents_text(rng, n: int) -> list[str]:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    out, pos = [], 0
    for ln in lengths:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    return out


def _rows(table: str, scale: float) -> int:
    """Row count of ``table`` at scale factor ``scale``; the dimension
    tables region and nation are fixed."""
    n = ROWS[table]
    return n if n < 100 else max(1, round(n * scale / 0.1))


def documents(seed: int, scale: float = 0.1) -> pa.Table:
    """The ``documents`` table for ``seed`` (sf0.1 vocabulary)."""
    rng = np.random.default_rng([seed, 2, 1])
    nd = _rows("documents", scale)
    text = documents_text(rng, nd)
    return pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": text,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in text], pa.int64()),
    })


def tables(seed: int, scale: float = 0.1) -> dict[str, pa.Table]:
    """Every lake table for ``seed``, sized like the testdata at ``scale``."""
    rng = np.random.default_rng([seed, 2, 0])
    t: dict[str, pa.Table] = {"documents": documents(seed, scale)}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = _rows("customer", scale)
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
    })
    no = _rows("orders", scale)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2404, no) * _DAY_US),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
    })
    nl = _rows("lineitem", scale)
    qty = rng.integers(1, 51, nl).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(0, 2499, nl) * _DAY_US),
    })
    ne = _rows("events", scale)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, ne))),
        "user_id": pa.array(rng.integers(0, 1_500, ne), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": _money(rng, 0.0, 500.0, ne),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })
    return t


def write_tables(seed: int, out_dir: str, scale: float = 0.1) -> dict[str, int]:
    """Write every lake table as ``<out_dir>/<name>.parquet``; return
    the row count of each, read back from the parquet footers."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in tables(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        rows[name] = pq.ParquetFile(path).metadata.num_rows
    return rows


# --- documents epochs (curation) ----------------------------------------------

N_EPOCHS = 40
PLANTS_PER_EPOCH = 3
PLANT_OFFSET = 10_000_000


@dataclass(frozen=True)
class Epoch:
    docs: pa.Table  # doc_id, text, lang
    units: pa.Table  # lang, unit: the epoch's word bigrams
    plants: tuple[tuple[int, int], ...]  # (source doc_id, planted doc_id)


def bigrams(text: str) -> list[str]:
    t = text.split()
    return [f"{a} {b}" for a, b in zip(t, t[1:])]


def curation_epochs(seed: int, documents: pa.Table) -> list[Epoch]:
    """Split ``documents`` by seed into :data:`N_EPOCHS` equal epochs.
    Each epoch also carries :data:`PLANTS_PER_EPOCH` near-duplicates of
    documents published up to and including it (the source text plus
    one appended word), so some plant pairs resolve inside the batch
    and most against the stored index of earlier epochs."""
    rng = np.random.default_rng([seed, 3])
    ids = documents.column("doc_id").to_pylist()
    text = dict(zip(ids, documents.column("text").to_pylist()))
    lang = dict(zip(ids, documents.column("lang").to_pylist()))
    n_words = {d: len(t.split()) for d, t in text.items()}
    order = [ids[i] for i in rng.permutation(len(ids))]
    size = len(order) // N_EPOCHS
    epochs, published = [], []
    for e in range(N_EPOCHS):
        chunk = order[e * size:(e + 1) * size]
        # plant sources have >= 30 words, so a plant's Jaccard to its
        # source stays >= 0.96 and LSH recall on plants is ~1 - 1e-7
        published.extend(d for d in chunk if n_words[d] >= 30)
        long = published or chunk
        plants = []
        for k in range(PLANTS_PER_EPOCH):
            src = long[int(rng.integers(0, len(long)))]
            pid = PLANT_OFFSET + e * PLANTS_PER_EPOCH + k
            text[pid] = text[src] + " " + VOCAB[int(rng.integers(0, len(VOCAB)))]
            lang[pid] = lang[src]
            plants.append((src, pid))
        doc_ids = chunk + [p for _, p in plants]
        unit_lang, unit = [], []
        for d in doc_ids:
            b = bigrams(text[d])
            unit.extend(b)
            unit_lang.extend([lang[d]] * len(b))
        epochs.append(Epoch(
            docs=pa.table({
                "doc_id": pa.array(doc_ids, pa.int64()),
                "text": [text[d] for d in doc_ids],
                "lang": [lang[d] for d in doc_ids],
            }),
            units=pa.table({"lang": unit_lang, "unit": unit}),
            plants=tuple(plants),
        ))
    return epochs
