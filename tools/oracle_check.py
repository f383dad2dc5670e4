"""Local replica of the driver's DuckDB dual-run correctness gate.

Runs every ``queries()`` entry on Spark and, when an oracle exists,
the twin SQL on DuckDB; compares row count, column names, and an
order-insensitive value hash (columns sorted by name, values
stringified, rows sorted):

    python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def normalize(value) -> str:
    import datetime
    import math

    if value is None:
        return "NULL"
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        # driver-style stable float rendering
        return f"{value:.10g}"
    if isinstance(value, datetime.datetime):
        return value.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(normalize(v) for v in value) + "]"
    return str(value)


def frame_fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    lines = sorted("|".join(normalize(r[i]) for i in order) for r in rows)
    import hashlib

    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return sorted_cols, len(rows), h.hexdigest()


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    only = set(a for a in args if not os.path.isdir(a))

    import duckdb

    from api_kakfa_spark_airflow_s3_athena_spark.plans.queries import REGISTRY
    from api_kakfa_spark_airflow_s3_athena_spark.schemas import TESTDATA_TABLES
    from api_kakfa_spark_airflow_s3_athena_spark.session import local_test_session

    spark = local_test_session("oracle-check")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    failures = []
    for name, spec in REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        took = time.time() - t0
        if spec.oracle is None:
            print(f"ok   {name}: rows-only rows={len(s_rows)} ({took:.1f}s)")
            continue
        try:
            rel = con.sql(spec.oracle)
            d_cols = [c for c in rel.columns]
            d_rows = rel.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        sc, sn, sh = frame_fingerprint(s_cols, s_rows)
        dc, dn, dh = frame_fingerprint(d_cols, d_rows)
        status = "ok  " if (sc == dc and sn == dn and sh == dh) else "FAIL"
        if status == "FAIL":
            failures.append(name)
        print(f"{status} {name}: rows {sn}/{dn} cols {'=' if sc == dc else f'{sc} vs {dc}'} "
              f"hash {'=' if sh == dh else 'MISMATCH'} ({took:.1f}s)")
        if status == "FAIL" and sc == dc and sn == dn:
            # show a few differing lines to debug
            s_set = {"|".join(normalize(v) for v in r) for r in s_rows}
            d_set = {"|".join(normalize(v) for v in r) for r in d_rows}
            for line in list(s_set - d_set)[:3]:
                print(f"   spark-only: {line}")
            for line in list(d_set - s_set)[:3]:
                print(f"   duck-only:  {line}")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
