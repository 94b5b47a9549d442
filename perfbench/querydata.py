"""Seeded synthetic tables for the ``query_headline`` workload.

The three tables its rows read (``documents``, ``embeddings``,
``lineitem``; FIXTURES.md section 1), written as parquet with the
schemas and value domains of the query registry's test data, at about
the row counts of its sf0.01 set.  The content depends only on ``SEED``: the workload seed
shuffles the query order, never the data, so the result hashes in
``pins.json`` hold for every run.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42

#: Row counts (sf0.01-sized); ``orders``, ``part`` and ``supplier`` only
#: bound lineitem's foreign keys.
ROWS = {
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "documents": 500,
    "embeddings": 500,
}

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_TS_US = pa.timestamp("us")


def _days_us(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(lo_d, hi_d + 1, n) * 86_400_000_000


def _documents(rng) -> pa.Table:
    n = ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        if i >= 50 and rng.random() < 0.2:
            # near-duplicate of an earlier document: a few word edits
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = WORDS[
                    int(rng.integers(0, len(WORDS)))
                ]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    langs = np.array(["en", "zh", "es", "fr", "de"])
    lang = langs[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": lang.tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng) -> pa.Table:
    n, dim = ROWS["embeddings"], 64
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n)
    x = centers[label] * 0.6 + rng.normal(size=(n, dim))
    dup = rng.random(n) < 0.1
    src = rng.integers(0, n, n)
    x[dup] = x[src[dup]] + rng.normal(scale=0.01, size=(int(dup.sum()), dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def _lineitem(rng) -> pa.Table:
    nl = ROWS["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, ROWS["part"], nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_100.0, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, nl)].tolist(),
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)].tolist(),
            "l_shipdate": pa.array(
                _days_us(rng, "1995-01-02", "2001-11-04", nl), _TS_US
            ),
        }
    )


def generate(dst: str) -> dict[str, int]:
    """Write every table under ``dst``; return row counts by table."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(SEED))
    tables = {
        "lineitem": _lineitem(rng),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(dst, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
