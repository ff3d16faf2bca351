"""Local replica of the driver's correctness gate: run every registered
query on Spark AND its DuckDB oracle at a given sf dir; compare
row-count, column names, and an order-insensitive value hash.

Usage: python scripts/check_oracles.py [sf_dir] [query_id ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(v):
    import datetime

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)  # exact: the decimal-cast strategy targets bitwise equality
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def hash_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in idx) for r in rows)
    import hashlib
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import duckdb
    from mental_health_bigdata_project_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark("oracle-check", master="local[8]")
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for qid, fn in sorted(qs.items()):
        if only and qid not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            s_cols = df.columns
            s_rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            failures.append(qid)
            print(f"FAIL {qid}: SPARK ERROR {type(e).__name__}: {e}")
            continue
        if qid not in oracles:
            print(f"ok   {qid}: rows-only ({len(s_rows)} rows)")
            continue
        try:
            res = con.execute(oracles[qid])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:
            failures.append(qid)
            print(f"FAIL {qid}: DUCKDB ERROR {type(e).__name__}: {e}")
            continue
        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if not problems:
            hs = hash_rows(s_cols, s_rows)
            hd = hash_rows(d_cols, d_rows)
            if hs != hd:
                problems.append("value-hash mismatch")
                sset = {tuple(canon(v) for v in r) for r in s_rows}
                dset = {tuple(canon(v) for v in r) for r in d_rows}
                diff_s = list(sset - dset)[:3]
                diff_d = list(dset - sset)[:3]
                problems.append(f"spark-only={diff_s} duck-only={diff_d}")
        if problems:
            failures.append(qid)
            print(f"FAIL {qid}: " + "; ".join(problems))
        else:
            print(f"PASS {qid} ({len(s_rows)} rows)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
