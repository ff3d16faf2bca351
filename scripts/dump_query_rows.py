"""Dump a query's exact rows (repr-canonical) for before/after
equivalence proofs during optimization rounds.

Usage: python scripts/dump_query_rows.py <out.json> <qid> [qid ...]
Runs each query at all three local SF dirs and writes
{qid: {sf: [[canon cell, ...], ...]}} with rows sorted canonically.
"""

from __future__ import annotations

import json
import math
import sys

import os as _os
sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
           "/root/testdata/sf0.1"]


def canon(v):
    import datetime
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def main() -> None:
    out_path = sys.argv[1]
    qids = sys.argv[2:]
    from mental_health_bigdata_project_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark("dump-rows", master="local[8]")
    qs = entry_mod.queries()
    out: dict = {}
    for qid in qids:
        out[qid] = {}
        for sf_dir in SF_DIRS:
            df = qs[qid](spark, sf_dir)
            cols = df.columns
            idx = sorted(range(len(cols)), key=lambda i: cols[i])
            rows = sorted(
                [canon(r[i]) for i in idx] for r in df.collect())
            out[qid][sf_dir] = {"columns": sorted(cols), "rows": rows}
            print(f"# {qid} @ {sf_dir}: {len(rows)} rows", file=sys.stderr)
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
