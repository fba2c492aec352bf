"""Seeded input generators for the benchmark.

Every table has the schema of the corpus fixtures the program is written
against (``documents``, ``lineitem``, ``orders``, ``customer``, ``nation``,
``region``, ``events``, ``embeddings``), so the benchmark needs no data
outside its own checkout. The seed changes values, text and row order; it
never changes ``doc_id`` ranges, so the closed-form KG expectations in
``scripts/expected_counts.py`` hold for every seed.
"""

from __future__ import annotations

import os
from datetime import datetime

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The corpus vocabulary: plain lowercase words, so document text never
# contains markup that could change the closed-form KG outputs.
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMBED_DIM = 64


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


def _days(start: datetime, n_days: int, rng: np.random.Generator, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def documents(n: int, rng: np.random.Generator) -> pa.Table:
    """`n` documents with ids 0..n-1. About 2% are near-duplicates (one word
    changed) and 0.2% exact duplicates of an earlier document, so the dedup
    queries have pairs to find."""
    lengths = rng.integers(10, 101, n)
    word_ids = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in word_ids[pos : pos + ln]))
        pos += ln
    for i in rng.choice(np.arange(1, n), size=max(1, n // 50), replace=False):
        words = texts[int(rng.integers(0, i))].split()
        words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[i] = " ".join(words)
    for i in rng.choice(np.arange(1, n), size=max(1, n // 500), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]).tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_documents(out_dir: str, n: int, seed: int) -> str:
    os.makedirs(out_dir, exist_ok=True)
    return _write(documents(n, np.random.default_rng(seed)), os.path.join(out_dir, "documents.parquet"))


def write_query_corpus(out_dir: str, sf: float, seed: int, n_docs: int, n_vecs: int) -> dict[str, str]:
    """The relational, event, text and vector tables the headline queries
    read, at TPC-H-like scale factor `sf` (6M*sf lineitem rows)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord, n_li, n_ev = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    cust_ids = np.arange(n_cust)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(cust_ids, pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in cust_ids],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": pa.array(_days(datetime(1995, 1, 1), 2404, rng, n_ord), pa.timestamp("us")),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, max(1, n_li // 30), n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, max(1, n_li // 600), n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
            "l_shipdate": pa.array(_days(datetime(1995, 1, 2), 2498, rng, n_li), pa.timestamp("us")),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, n_ev // 66), n_ev), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
            "value": np.round(rng.exponential(60.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = documents(n_docs, rng)
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_vecs, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return {name: _write(tab, os.path.join(out_dir, f"{name}.parquet")) for name, tab in t.items()}


def write_raw_files(docs_path: str, out_dir: str, seed: int, n_files: int, padding: int = 0) -> int:
    """Store the pipeline input (`raw_files`) as `n_files` parquet files in a
    seeded row order; returns the row count.

    Content comes from the corpus module's own DuckDB form of the raw-files
    expression (the one the KG oracles use). `padding` adds plain source
    files whose content is a seeded pick of document texts, with `doc_id`s
    above the corpus range and the corpus's hot-repo rule, so they must never
    reach the convert kernel."""
    from confluence2md_spark.sources.corpus import duckdb_raw_files_cte

    rng = np.random.default_rng(seed)
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs_path}'")
        raw = con.execute(duckdb_raw_files_cte()).arrow()
        base = con.execute("SELECT text, lang FROM documents ORDER BY doc_id").arrow()
    n0 = base.num_rows
    if padding:
        pick = rng.integers(0, n0, padding)
        ids = np.arange(n0, n0 + padding)
        pad = pa.table(
            {
                "repo": [f"repo-{i % 17}" if i % 5 >= 3 else "repo-hot" for i in ids.tolist()],
                "path": [f"src/file-{i}.txt" for i in ids.tolist()],
                "commit": [f"commit-{i % 1000}" for i in ids.tolist()],
                "lang": base["lang"].take(pick),
                "content": base["text"].take(pick),
                "doc_id": pa.array(ids, pa.int64()),
            }
        )
        raw = pa.concat_tables([raw, pad.cast(raw.schema)])
    raw = raw.take(rng.permutation(raw.num_rows))
    os.makedirs(out_dir, exist_ok=True)
    step = -(-raw.num_rows // n_files)
    for i in range(n_files):
        _write(raw.slice(i * step, step), os.path.join(out_dir, f"part-{i:05d}.parquet"))
    return raw.num_rows
