"""Seeded generator for the ten tables the query registry reads.

Same schema, row-count ratios and value domains as the star-schema
testdata the registry was written against (TPC-H-like dims and facts,
an ``events`` stream, ``documents`` with planted near-duplicates and
unit-norm ``embeddings``), so every registry query and its DuckDB
oracle run unchanged on the output.

``embeddings`` is drawn from a fixed seed: its oracles (LSH buckets
and seeded k-means replayed in SQL) cost more than the queries
themselves, so their answers are computed once and reused across
seeds. Every other table follows the seed.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
EMBEDDINGS_SEED = 42

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, int((hi_d - lo_d).astype(int)) + 1, n)
    return (lo_d + off).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _event_values(rng, n: int) -> np.ndarray:
    """Exponential(mean 50) values whose whole-cent part is a multiple
    of 64 cents, plus 1/pi of a cent.

    The registry rounds aggregates of ``value`` to a few decimals, and
    Spark and DuckDB round an exact half differently. Two-decimal
    values hit such halves often: ``time_bucket_rollup`` averages
    floor(value * 100) cents (31303 cents / 8 rows = 39.12875), and
    rounded sums of half-cent values end in 5. With 64-cent steps a
    cents average can only tie in a bucket of 512 rows or more, and the
    irrational fraction keeps raw sums and averages off the halves
    while floor(value * 100) stays exact."""
    cents = 64 * np.floor(rng.exponential(5000.0 / 64, n))
    return (cents + 1 / np.pi) / 100.0


def _documents(rng, n: int) -> dict:
    n_words = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in n_words]
    # 5% planted near-duplicates: an earlier doc verbatim, or with a
    # marker word appended
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i == 0:
            continue
        src = texts[int(rng.integers(0, i))]
        texts[i] = src if rng.random() < 0.3 else f"{src} dup"
    langs = rng.choice(LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(n: int, dim: int = 64) -> pa.Table:
    rng = np.random.default_rng(EMBEDDINGS_SEED)
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def make_tables(seed: int, sf: float, text_rows: int = 500) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (0.01 gives 60k lineitems);
    ``documents`` and ``embeddings`` have at least ``text_rows`` rows."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs = max(text_rows, int(50_000 * sf))
    n_vecs = max(text_rows, int(20_000 * sf))

    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    out = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": i32(np.arange(25) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(range(n_cust)),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(range(n_supp)),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(range(n_part)),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(ADJ, n_part), rng.choice(NOUN, n_part)
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(PTYPES, n_part),
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(range(n_ord)),
                "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
                "l_partkey": i64(rng.integers(0, n_part, n_line)),
                "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
                "l_linenumber": i32(rng.integers(1, 8, n_line)),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105_000, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                "l_linestatus": rng.choice(["F", "O"], n_line),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
            }
        ),
    }
    # events: strictly increasing microsecond timestamps over 30 days
    span_us = 30 * 86_400 * 1_000_000
    gaps = rng.exponential(1.0, n_ev)
    ts = np.cumsum(gaps) / gaps.sum() * (span_us - n_ev)
    ts = ts.astype(np.int64) + np.arange(n_ev)
    out["events"] = pa.table(
        {
            "event_id": i64(range(n_ev)),
            "ts": pa.array(
                np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]")
            ),
            "user_id": i64(rng.integers(0, n_users, n_ev)),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": _event_values(rng, n_ev),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = pa.table(_documents(rng, n_docs))
    out["embeddings"] = _embeddings(n_vecs)
    return out


def write_tables(out_dir: str, seed: int, sf: float, text_rows: int = 500) -> str:
    """Write the tables as ``<out_dir>/<table>.parquet`` (one row group
    each, like the reference testdata) and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in make_tables(seed, sf, text_rows).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
