"""The ``queries`` workload: every ``ves_spark.queries`` registry entry,
one ``collect()`` each, in registry order, over seeded tables
(``tables.py``).

Each result is compared, untimed, against the entry's DuckDB
``oracle_sql()`` answer with the order-insensitive normalization of
``tests/test_entry_oracle.py``; entries without an oracle must return
rows. Oracle answers are cached under the checkout's ``.perfbench``
directory, keyed by the SQL text and the bytes of the tables it
reads, so the fixed-seed embedding oracles run once per checkout.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import math
import os
import re

import tables

SF = {"full": 0.01, "tiny": 0.001}
TEXT_ROWS = {"full": 500, "tiny": 200}
# gated pair family: each plan gate costs an extra count job
PAIR_FAMILY = [
    "ngram_jaccard_pairs",
    "minhash_exact_dup_pairs",
    "simhash_near_pairs",
    "semantic_dedup_docs",
    "dedup_components",
]


def normalize(rows: list[dict], cols: list[str]) -> list:
    """Sorted row tuples with floats rounded to 6 places, timestamps as
    ISO strings and arrays as lists, JSON-safe."""
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, decimal.Decimal):
                v = float(v)
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 6)
            elif hasattr(v, "isoformat"):
                v = v.isoformat()
            elif isinstance(v, (list, tuple)):
                v = tuple(v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return json.loads(json.dumps(out, default=str))


class Oracle:
    """DuckDB answers of ``oracle_sql()`` over one table dir, cached on
    disk by SQL text and the bytes of the tables it reads."""

    def __init__(self, sf_dir: str, cache_dir: str) -> None:
        self.sf_dir, self.cache_dir, self.con = sf_dir, cache_dir, None
        self.digest = {}
        for t in tables.TABLES:
            with open(f"{sf_dir}/{t}.parquet", "rb") as f:
                self.digest[t] = hashlib.sha256(f.read()).digest()

    def answer(self, sql: str) -> dict:
        h = hashlib.sha256(sql.encode())
        for t in tables.TABLES:
            if re.search(rf"\b{t}\b", sql):
                h.update(t.encode() + self.digest[t])
        path = f"{self.cache_dir}/{h.hexdigest()}.json"
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        if self.con is None:
            import duckdb

            self.con = duckdb.connect()
            for t in tables.TABLES:
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir}/{t}.parquet')"
                )
        res = self.con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = [dict(zip(cols, r)) for r in res.fetchall()]
        ans = {"cols": sorted(cols), "rows": normalize(rows, sorted(cols))}
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(f"{path}.tmp", "w") as f:
            json.dump(ans, f)
        os.replace(f"{path}.tmp", path)
        return ans

    def close(self) -> None:
        if self.con is not None:
            self.con.close()


def check(name: str, cols: list[str], rows: list[dict], sql: str | None, oracle: Oracle) -> list[str]:
    if sql is None:
        return [] if rows and cols else [f"{name}: no rows without an oracle"]
    want = oracle.answer(sql)
    if sorted(cols) != want["cols"]:
        return [f"{name}: columns {sorted(cols)} != oracle {want['cols']}"]
    got = normalize(rows, want["cols"])
    if len(got) != len(want["rows"]):
        return [f"{name}: {len(got)} rows != oracle {len(want['rows'])}"]
    bad = [i for i, (a, b) in enumerate(zip(got, want["rows"])) if a != b]
    if bad:
        return [f"{name}: {len(bad)} rows differ, first {got[bad[0]]} vs {want['rows'][bad[0]]}"]
    return []


def run(ctx) -> None:
    from ves_spark.queries import oracle_sql, queries

    sf_dir = tables.write_tables(
        f"{ctx.work}/tables", ctx.seed, SF[ctx.size], TEXT_ROWS[ctx.size]
    )
    oracles = oracle_sql()
    oracle = Oracle(sf_dir, f"{ctx.cache}/oracle")
    walls = {}
    for i, (name, fn) in enumerate(queries().items()):
        with ctx.job_group(f"query.{name}"):
            sdf, walls[name] = ctx.op(
                f"query.{name}", lambda: _collect(fn(ctx.spark, sf_dir))
            )
        cols, rows = sdf[0], [r.asDict() for r in sdf[1]]
        if ctx.corrupt and i == 0:
            rows = rows[1:]
        ctx.verify(check(name, cols, rows, oracles.get(name), oracle))
    oracle.close()
    for name, secs in walls.items():
        ctx.layer[f"query.{name}_s"] = secs


def _collect(df) -> tuple[list[str], list]:
    return df.columns, df.collect()


def trace_layers(ctx, jobs_by_group: dict[str, int]) -> None:
    for name in PAIR_FAMILY:
        ctx.layer[f"query.{name}.jobs"] = jobs_by_group.get(f"query.{name}", 0)
