"""Seeded synthetic analytics tables for the ``queries`` workload.

The registry queries read one parquet file per table under a directory
(``analytics.queries.t``). This module writes the seven tables the ten
headline queries read, with the column names, dtypes and value ranges of
the project's ``sf`` test tables, so every query runs against its DuckDB
oracle unchanged. Same ``(seed, sf)`` => identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])

# rows per table at sf = 1.0 (the sf test tables scale linearly)
BASE_ROWS = {
    "customer": 150_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
TABLES = ("nation", "customer", "orders", "lineitem", "events", "documents", "embeddings")


def _days(rng: np.random.Generator, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n = {k: max(10, int(v * sf)) for k, v in BASE_ROWS.items()}
    out: dict[str, pd.DataFrame] = {}

    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    nc = n["customer"]
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    no = n["orders"]
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), no),
            "o_totalprice": _cents(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, no, "1995-01-01", 2404),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, max(10, int(200_000 * sf)), nl).astype(np.int64),
            "l_suppkey": rng.integers(0, max(10, int(10_000 * sf)), nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": _cents(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), nl),
            "l_linestatus": rng.choice(np.array(["F", "O"]), nl),
            "l_shipdate": _days(rng, nl, "1995-01-02", 2498),
        }
    )
    ne = n["events"]
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, 30 * 86_400_000_000, ne)).astype(
        "timedelta64[us]"
    )
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, max(10, int(15_000 * sf)), ne).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vecs = rng.normal(0.0, 1.0, (nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, nv).astype(np.int32),
        }
    )
    return out


def _documents(rng: np.random.Generator, nd: int) -> pd.DataFrame:
    """Random word documents; ~5% are near-duplicates of an earlier one
    (a few words changed plus a ``dup`` marker), so the LSH and n-gram
    Jaccard queries return pairs."""
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(src), max(1, len(src) // 20)):
                src[j] = words[rng.integers(0, len(words))]
            texts.append(" ".join(src + ["dup"]))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    return pd.DataFrame(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, nd, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, pdf in tables.items():
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        if name == "embeddings":
            table = table.cast(
                pa.schema(
                    [
                        ("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32()),
                    ]
                )
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
