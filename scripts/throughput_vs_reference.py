"""Single-node throughput: reference-style row-at-a-time Python pipeline
vs this engine's native-expression pipeline, same rows, same machine.

The reference processes posts one at a time in plain Python
(`/root/reference/spark_jobs/kafka_consumer_simple.py:108-143`: per
message — lower/regex-clean, 16-keyword substring risk score,
truncate).  Those transforms are re-implemented here from the spec
(SURVEY.md §2.7/§2.8 — written fresh, not copied) and timed over the
same rows the engine processes with
`functions/text.py::clean_text/risk_score` native expressions.

Usage: python scripts/throughput_vs_reference.py [n_rows]
Prints one JSON line with rows/sec for both paths.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KEYWORDS = [
    "suicide", "kill myself", "end it all", "no reason to live",
    "hopeless", "worthless", "give up", "can't go on", "depressed",
    "anxious", "panic", "overwhelmed", "lonely", "isolated", "scared",
    "die",
]

_URLS = re.compile(r"http\S+|www\S+")
_NONALNUM = re.compile(r"[^a-z0-9\s]")
_WS = re.compile(r"\s+")


def py_clean(text: str) -> str:
    if not text:
        return ""
    t = text.lower()
    t = _URLS.sub("", t)
    t = _NONALNUM.sub("", t)
    return _WS.sub(" ", t).strip()


def py_risk(text: str) -> int:
    if not text:
        return 0
    t = text.lower()
    return min(sum(10 for k in KEYWORDS if k in t), 100)


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000

    from pyspark.sql import functions as F

    from mental_health_bigdata_project_spark.functions.text import (
        clean_text, risk_score)
    from mental_health_bigdata_project_spark.session import get_spark

    spark = get_spark("throughput", master="local[32]")
    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    base = [r["text"] for r in docs.select("text").collect()]
    texts = (base * (n_rows // len(base) + 1))[:n_rows]

    # --- reference-style single-process row loop (its actual
    # execution model: one CPython thread, eager per-record work) ---
    t0 = time.perf_counter()
    acc = 0
    for t in texts:
        c = py_clean(t)
        r = py_risk(t)
        acc += r + len(c[:200])
    py_sec = time.perf_counter() - t0

    # --- engine path: same transforms as native expressions ---
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    df = df.localCheckpoint()  # materialize input; time transform only
    expr = df.select(
        clean_text(F.col("text")).alias("cleaned"),
        risk_score(F.col("text")).alias("risk"))
    expr.write.format("noop").mode("overwrite").save()  # warm codegen
    t0 = time.perf_counter()
    expr.write.format("noop").mode("overwrite").save()
    spark_sec = time.perf_counter() - t0

    # The comparison is asymmetric by design — the reference's actual
    # execution model IS one CPython thread, while the engine uses every
    # core — so report the core counts and a per-core-normalized figure
    # alongside the headline speedup (ADVICE r1): the honest claims are
    # "same box, same rows" wall-clock AND per-core efficiency.
    spark_cores = 32
    print(json.dumps({
        "n_rows": n_rows,
        "python_rows_per_sec": round(n_rows / py_sec),
        "spark_rows_per_sec": round(n_rows / spark_sec),
        "python_cores": 1,
        "spark_cores": spark_cores,
        "speedup_wall": round(py_sec / spark_sec, 1),
        "speedup_per_core": round(py_sec / spark_sec / spark_cores, 3),
        "checksum": acc,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
