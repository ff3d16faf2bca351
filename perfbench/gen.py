"""Seeded inputs for the benchmark: the ten driver tables at a chosen
scale factor, and the pre-rendered post files of ``posts_live``.

The tables follow the shape of the engine's testdata (same schemas,
same key ranges per scale factor, uniform draws, a 30-word document
vocabulary with ~5% ``dup``-suffixed near-copies), so every registered
query and its DuckDB oracle run on them unchanged.  The same seed gives
byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch").split()

DISTRESS = [
    "suicide", "kill myself", "end it all", "no reason to live", "hopeless",
    "worthless", "give up", "can't go on", "depressed", "anxious", "panic",
    "overwhelmed", "lonely", "isolated", "scared", "die",
]
SUBREDDITS = ["depression", "anxiety", "mentalhealth", "SuicideWatch",
              "lonely", "offmychest"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "shiny"]
PART_NOUN = ["widget", "plate", "ring", "rod", "anvil", "bolt", "gear", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def _words(rng: np.random.Generator, lo: int, hi: int) -> str:
    return " ".join(rng.choice(VOCAB, size=int(rng.integers(lo, hi + 1))))


def _days(rng, n, start: dt.date, span_days: int) -> np.ndarray:
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _write(out_dir: str, only, name: str, cols: dict) -> int:
    if only is not None and name not in only:
        return 0
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols), path)
    return os.path.getsize(path)


def documents(rng: np.random.Generator, n: int) -> list[str]:
    """Document texts: 10-100 vocabulary words; ~5% are an earlier
    document plus one or two ``dup`` tokens (the near-dup population the
    dedup queries and index stores look for)."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))]
                         + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(_words(rng, 10, 100))
    return texts


def make_tables(out_dir: str, seed: int, sf: float,
                only: tuple[str, ...] | None = None) -> dict[str, int]:
    """Write the ten tables (or ``only`` those) under ``out_dir``;
    returns bytes per table.  Every table is drawn either way, so a
    table's content does not depend on ``only``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_part = int(150_000 * sf), int(200_000 * sf)
    n_supp, n_ord = max(10, int(10_000 * sf)), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(150, int(15_000 * sf))
    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out: dict[str, int] = {}

    out["region"] = _write(out_dir, only, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = _write(out_dir, only, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = _write(out_dir, only, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = _write(out_dir, only, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    out["part"] = _write(out_dir, only, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                             rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    out["orders"] = _write(out_dir, only, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), 2400),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = _write(out_dir, only, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), 2500)})
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(ts0 + rng.integers(0, 30 * 86_400 * 10**6, n_ev)
                 .astype("timedelta64[us]"))
    out["events"] = _write(out_dir, only, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.uniform(0.01, 500, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = documents(rng, n_docs)
    out["documents"] = _write(out_dir, only, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.normal(0, 0.13, (n_vec, 64)).astype(np.float32)
    out["embeddings"] = _write(out_dir, only, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})
    return out


def make_posts(seed: int, n: int, t0_utc: float = 1_700_000_000.0,
               rate: float = 1.0) -> list[dict]:
    """``n`` Reddit-shaped posts.  Text is document-vocabulary words
    with 0-3 distress keywords injected (score buckets 0-10 .. 30+ all
    populated); ``created_utc`` advances 1/rate per post so the
    latest-N order is total and known in advance."""
    rng = np.random.default_rng(seed + 7919)
    vocab = np.array(VOCAB)
    n_words = rng.integers(8, 61, n)
    n_title = rng.integers(2, 9, n)
    words = vocab[rng.integers(0, len(VOCAB), int(n_words.sum()))]
    titles = vocab[rng.integers(0, len(VOCAB), int(n_title.sum()))]
    n_kw = rng.choice(4, n, p=[.4, .3, .2, .1])
    kws = rng.integers(0, len(DISTRESS), (n, 3))
    kw_pos = rng.random((n, 3))
    subs = rng.integers(0, len(SUBREDDITS), n)
    authors = rng.integers(0, 5000, n)
    scores = rng.integers(0, 500, n)
    comments = rng.integers(0, 200, n)
    posts = []
    w0 = t0 = 0
    for i in range(n):
        body = list(words[w0:w0 + n_words[i]])
        w0 += n_words[i]
        for k in range(n_kw[i]):
            body.insert(int(kw_pos[i, k] * (len(body) + 1)),
                        DISTRESS[kws[i, k]])
        posts.append({
            "id": f"p{seed}x{i:07d}",
            "title": " ".join(titles[t0:t0 + n_title[i]]),
            "text": " ".join(body),
            "author": f"user{authors[i]}",
            "subreddit": SUBREDDITS[subs[i]],
            "created_utc": t0_utc + i / rate,
            "score": int(scores[i]),
            "num_comments": int(comments[i]),
            "url": f"https://reddit.com/r/x/{i}",
            "timestamp": str(i),
        })
        t0 += n_title[i]
    return posts


def render_files(posts: list[dict], per_file: int) -> list[bytes]:
    """Pre-rendered JSON-lines payloads, ``per_file`` posts each."""
    return [
        "".join(json.dumps(p) + "\n" for p in posts[k:k + per_file]).encode()
        for k in range(0, len(posts), per_file)]
