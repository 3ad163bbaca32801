"""The ``ingest`` workload: a bulk batch, then watch-mode appends.

1. A fresh multi-row-group input file goes through ``Pipeline.run()``
   in one large increment (per-row layers dominate: scan, parse,
   enrich, route, the routed write and the partial builders), followed
   by the three serve calls.
2. Three small appends follow: a new file, an in-place
   ``grow_sequences_file`` of the base file (the append fast path) and
   another new file. Each append is one increment op: ``run()`` plus
   the CLI's ``--drift`` leg (``ves_spark.__main__._write_drift``),
   then the serve calls. Here the fixed per-increment cost dominates:
   discovery, lineage, catalog listing, job count, and drift, which
   rescans the routed history.

Every output is checked, untimed and without Spark, against
``ves_spark.refimpl`` over the inputs written so far.
"""

from __future__ import annotations

import os
import statistics
import time
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
import pyarrow.parquet as pq

SIZES = {
    "full": {"base_rows": 30_000, "append_rows": 5_000},
    "tiny": {"base_rows": 3_000, "append_rows": 500},
}
APPENDS = 3
GROW_AT = 1  # the second append grows the base file in place
N_UNITS = 2
UNITS_PER_INCREMENT = 2
KEYS = ["sink", "source", "time_bucket"]
HDR_REL = 2.0**-7
KMV_REL = 0.25  # four standard errors of a k=256 KMV estimate
PREFIXES = ["scan", "parse", "enrich", "route", "rollup"]
OUT_TABLES = ["routed", "rollup_partial", "hdr_partial", "kmv_partial", "cms_partial"]


# ------------------------------------------------------------ reference
class Reference:
    """refimpl over every input chunk written so far."""

    def __init__(self, meta: pd.DataFrame, rules: pd.DataFrame, trigrams):
        self.meta, self.rules, self.trigrams = meta, rules, trigrams
        self.routed: list[pd.DataFrame] = []

    def add(self, seq: pd.DataFrame) -> None:
        from ves_spark import refimpl

        routed = refimpl.ref_route(
            refimpl.ref_enrich(refimpl.ref_parse(seq), self.meta), self.rules
        )
        tri = _trigram_counts(seq, self.trigrams)
        self.routed.append(
            routed[["doc_id", "sink", "source", "time_bucket", "n_tok"]].merge(
                tri, on="doc_id"
            )
        )

    def frame(self) -> pd.DataFrame:
        return pd.concat(self.routed, ignore_index=True)


def _trigram_counts(seq: pd.DataFrame, trigrams) -> pd.DataFrame:
    """Per doc: occurrences of each query trigram, and trigram count."""
    lens = seq["n_tok"].to_numpy(np.int64)
    flat = np.concatenate(seq["tokens"].to_numpy())
    ends = np.cumsum(lens)
    doc_of = np.repeat(np.arange(len(seq)), lens)
    out = {"doc_id": seq["doc_id"].to_numpy(), "n_tri": np.maximum(lens - 2, 0)}
    for i, (a, b, c) in enumerate(trigrams):
        pos = np.flatnonzero(
            (flat[:-2] == a) & (flat[1:-1] == b) & (flat[2:] == c)
        )
        pos = pos[pos + 2 < ends[doc_of[pos]]]
        out[f"tri_{i}"] = np.bincount(doc_of[pos], minlength=len(seq))
    return pd.DataFrame(out)


def _epoch_s(col: pd.Series) -> np.ndarray:
    return ((pd.to_datetime(col) - pd.Timestamp(0)) // pd.Timedelta(seconds=1)).to_numpy()


def ref_rollup(routed: pd.DataFrame) -> pd.DataFrame:
    """``refimpl.ref_rollup`` (nearest-rank percentiles), vectorized."""
    df = routed[KEYS + ["n_tok"]].sort_values(KEYS + ["n_tok"], kind="stable")
    df = df.reset_index(drop=True)
    gid = df.groupby(KEYS, sort=False).ngroup().to_numpy()
    first = np.flatnonzero(np.r_[True, gid[1:] != gid[:-1]])
    n = np.diff(np.r_[first, len(df)])
    vals = df["n_tok"].to_numpy(np.int64)
    out = df.iloc[first][KEYS].reset_index(drop=True)
    out["cnt"] = n
    out["sum_n_tok"] = np.add.reduceat(vals, first)
    out["sum_bytes"] = out["sum_n_tok"] * 4
    for name, p in (("p50", 0.5), ("p95", 0.95), ("p99", 0.99)):
        rank = np.clip(np.ceil(p * n).astype(np.int64) - 1, 0, n - 1)
        out[name] = vals[first + rank]
    return out


# --------------------------------------------------------------- checks
def check_routed(out_dir: str, ref: pd.DataFrame) -> list[str]:
    got = (
        pads.dataset(f"{out_dir}/routed", format="parquet", partitioning="hive")
        .to_table(columns=["sink"])
        .to_pandas()["sink"]
        .astype(str)
        .value_counts()
        .to_dict()
    )
    want = ref["sink"].value_counts().to_dict()
    return [] if got == want else [f"routed rows per sink {got} != refimpl {want}"]


def check_rollup(got: pd.DataFrame, ref: pd.DataFrame) -> list[str]:
    want = ref_rollup(ref)
    got = got.copy()
    for d in (got, want):
        d["time_bucket"] = _epoch_s(d["time_bucket"])
    m = want.merge(got, on=KEYS, how="outer", suffixes=("", "_got"), indicator=True)
    bad = []
    if (m["_merge"] != "both").any():
        bad.append(f"finalize_rollup groups differ: {(m['_merge'] != 'both').sum()}")
        m = m[m["_merge"] == "both"]
    for c in ("cnt", "sum_n_tok", "sum_bytes"):
        n = int((m[c].astype(np.int64) != m[f"{c}_got"].astype(np.int64)).sum())
        if n:
            bad.append(f"finalize_rollup {c} differs in {n} groups")
    for c in ("p50", "p95", "p99"):
        ref_v, got_v = m[c].astype(float), m[f"{c}_got"].astype(float)
        n = int(((got_v > ref_v) | (got_v < ref_v * (1 - HDR_REL))).sum())
        if n:
            bad.append(f"finalize_rollup {c} outside the HDR bound in {n} groups")
    return bad


def check_distinct(got: pd.DataFrame, ref: pd.DataFrame, k: int) -> list[str]:
    want = ref.groupby("sink")["doc_id"].nunique()
    est = got.set_index("sink")["est_distinct"]
    if set(est.index) != set(want.index):
        return [f"distinct_docs_per_sink sinks {sorted(est.index)}"]
    bad = []
    for sink, n in want.items():
        e = float(est[sink])
        ok = e == n if n < k else abs(e - n) <= KMV_REL * n
        if not ok:
            bad.append(f"distinct_docs_per_sink[{sink}] = {e}, refimpl {n}")
    return bad


def check_trigrams(got: pd.DataFrame, ref: pd.DataFrame, n_tri: int, width: int) -> list[str]:
    sums = ref.groupby("sink")[["n_tri"] + [f"tri_{i}" for i in range(n_tri)]].sum()
    if set(got["sink"]) != set(sums.index) or len(got) != len(sums) * n_tri:
        return [f"trigram_freq_per_sink returned {len(got)} rows"]
    bad = []
    for r in got.itertuples():
        true = int(sums.at[r.sink, f"tri_{r.tri_id}"])
        slack = 4 * int(sums.at[r.sink, "n_tri"]) / width + 8
        if not (true <= r.est_count <= true + slack):
            bad.append(f"trigram_freq[{r.sink},{r.tri_id}] = {r.est_count}, true {true}")
    return bad


def check_drift(stats: dict, out_dir: str) -> list[str]:
    newest = max(
        int(d.split("=", 1)[1])
        for d in os.listdir(f"{out_dir}/routed")
        if d.startswith("batch_seq=")
    )
    if stats.get("drift_epoch") != newest or stats.get("drift_features") != 3:
        return [f"drift leg returned {stats}"]
    psi = pq.read_table(f"{out_dir}/drift").to_pandas()["psi"]
    if len(psi) != 3 or not np.isfinite(psi).all() or (psi < 0).any():
        return [f"drift table psi {psi.tolist()}"]
    return []


# ------------------------------------------------------------- workload
def _dir_bytes(path: str, suffix: str = "") -> list[int]:
    return [
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(suffix) and not f.startswith((".", "_"))
    ]


def run(ctx) -> None:
    from ves_spark.__main__ import _write_drift
    from ves_spark.pipeline import Pipeline, PipelineConfig
    from ves_spark.synth import grow_sequences_file, write_fixture, write_sequences_file

    size = SIZES[ctx.size]
    fix, out = f"{ctx.work}/input", f"{ctx.work}/out"
    paths = write_fixture(fix, size["base_rows"], seed=ctx.seed, sequences_as_dir=True)
    seq_dir = paths["sequences"]
    base_file = f"{seq_dir}/part-00000.parquet"
    base = pq.read_table(base_file).to_pandas()
    trigrams = [list(map(int, t[:3])) for t in base["tokens"][:3]]
    ref = Reference(
        pd.read_parquet(paths["source_meta"]),
        pd.read_parquet(paths["route_rules"]),
        trigrams,
    )
    ref.add(base)

    pipe = Pipeline(
        ctx.spark,
        PipelineConfig(
            sequences_path=seq_dir,
            source_meta_path=paths["source_meta"],
            route_rules_path=paths["route_rules"],
            out_dir=out,
            n_units=N_UNITS,
            units_per_increment=UNITS_PER_INCREMENT,
            run_id="perfbench",
        ),
    )
    drift_args = SimpleNamespace(out=out, drift_threshold=0.25)
    serve_rounds: list[dict[str, float]] = []

    def serve() -> None:
        r = {}
        want = ref.frame()
        got, r["finalize_rollup"] = ctx.op(
            "serve.finalize_rollup", lambda: pipe.finalize_rollup().toPandas()
        )
        if ctx.corrupt:
            got.loc[got.index[0], "cnt"] += 1
        ctx.verify(check_rollup(got, want))
        got, r["distinct_docs"] = ctx.op(
            "serve.distinct_docs", lambda: pipe.distinct_docs_per_sink().toPandas()
        )
        ctx.verify(check_distinct(got, want, Pipeline.KMV_K))
        got, r["trigram_freq"] = ctx.op(
            "serve.trigram_freq",
            lambda: pipe.trigram_freq_per_sink(trigrams).toPandas(),
        )
        ctx.verify(check_trigrams(got, want, len(trigrams), Pipeline.CMS_WIDTH))
        serve_rounds.append(r)

    _, batch_s = ctx.op("ingest.batch", pipe.run)
    ctx.verify(check_routed(out, ref.frame()))
    serve()

    increments, drift_s, inc_spans = [], [], []
    next_row = size["base_rows"]
    for k in range(APPENDS):
        seed = ctx.seed * 1000 + k + 1
        if k == GROW_AT:
            old = pq.ParquetFile(base_file).metadata.num_rows
            grow_sequences_file(base_file, size["append_rows"], seed, next_row)
            new = pq.read_table(base_file).slice(old).to_pandas()
        else:
            path = f"{seq_dir}/part-append-{k}.parquet"
            write_sequences_file(path, size["append_rows"], seed, next_row)
            new = pq.read_table(path).to_pandas()
        next_row += size["append_rows"]
        ref.add(new)

        def increment():
            pipe.run()
            with ctx.span("drift.psi"):
                t0 = time.perf_counter()
                drift = _write_drift(ctx.spark, pipe, drift_args)
                drift_s.append(time.perf_counter() - t0)
            return drift

        with ctx.job_group(f"increment-{k}"):
            drift, inc_s = ctx.op("ingest.increment", increment)
        inc_spans.append(ctx.last_span_id)
        increments.append(inc_s)
        ctx.verify(check_routed(out, ref.frame()) + check_drift(drift, out))
        serve()

    in_bytes = sum(_dir_bytes(seq_dir, ".parquet"))
    out_bytes = sum(_dir_bytes(out))
    table_files = [
        b
        for t in OUT_TABLES
        for b in _dir_bytes(f"{out}/{t}", ".parquet")
    ]
    ctx.layer.update(
        {
            "ingest_rows_per_s": size["base_rows"] / batch_s,
            "serve_s": statistics.median(sum(r.values()) for r in serve_rounds),
            "out_bytes_per_in_byte": out_bytes / in_bytes,
            "increment_p50_s": statistics.median(increments),
            "increment_last_s": increments[-1],
            "drift.psi_s": statistics.median(drift_s),
            "drift.psi.first_append_s": drift_s[0],
            "drift.psi.last_append_s": drift_s[-1],
            "sources.output_files": len(table_files),
            "sources.mean_file_kb": sum(table_files) / len(table_files) / 1024,
        }
    )
    for name in ("finalize_rollup", "distinct_docs", "trigram_freq"):
        ctx.layer[f"serve.{name}_s"] = statistics.median(r[name] for r in serve_rounds)

    if ctx.tracer is not None:
        _trace_layers(ctx, inc_spans)
        _ablation(ctx, base_file, paths)


def _trace_layers(ctx, inc_spans: list[int]) -> None:
    tr = ctx.tracer
    for t in OUT_TABLES:
        ctx.layer[f"sources.write.{t}_s"] = tr.total(f"sources.write.{t}")
    ctx.layer["sources.read_s"] = tr.total("sources.read")
    ctx.layer["sources.delete_s"] = tr.total("sources.delete")
    ctx.layer["sources.read.first_append_s"] = tr.total("sources.read", inc_spans[0])
    ctx.layer["sources.read.last_append_s"] = tr.total("sources.read", inc_spans[-1])
    for m in ("append", "read", "pending_work", "discovery_delta"):
        ctx.layer[f"checkpoint.{m}_s"] = tr.total(f"checkpoint.{m}")
    ctx.layer["pipeline.discover_s"] = tr.total("pipeline.discover")
    wall, rest = tr.unattributed("pipeline.run")
    ctx.layer["pipeline.run_s"] = wall
    ctx.layer["pipeline.unattributed_s"] = rest


def _ablation(ctx, base_file: str, paths: dict) -> None:
    """Prefix ablation into a noop sink on the base input: scan, then
    +parse, +enrich, +route, +rollup (median of 3 each); a layer's
    cost is its prefix minus the previous one. Then the write-free
    rollup collect behind ``rollup_mseq_per_s``."""
    from ves_spark.aggregate import rollup
    from ves_spark.enrich import enrich
    from ves_spark.parse import parse_builtin
    from ves_spark.route import route

    spark = ctx.spark
    meta = spark.read.parquet(paths["source_meta"])
    rules = spark.read.parquet(paths["route_rules"])
    n_rows = pq.ParquetFile(base_file).metadata.num_rows

    def prefix(i: int):
        df = spark.read.parquet(base_file)
        steps = [
            parse_builtin,
            lambda d: enrich(d, meta),
            lambda d: route(d, rules),
            rollup,
        ]
        for step in steps[:i]:
            df = step(df)
        return df

    walls = {p: [] for p in PREFIXES}
    with ctx.span("ablation"):
        for _ in range(3):
            for i, p in enumerate(PREFIXES):
                t0 = time.perf_counter()
                prefix(i).write.format("noop").mode("overwrite").save()
                walls[p].append(time.perf_counter() - t0)
        collects = []
        for _ in range(3):
            t0 = time.perf_counter()
            prefix(len(PREFIXES) - 1).collect()
            collects.append(time.perf_counter() - t0)
    prev = 0.0
    for p in PREFIXES:
        med = statistics.median(walls[p])
        ctx.layer[f"layer.{p}_s"] = med - prev
        prev = med
    ctx.layer["rollup_mseq_per_s"] = n_rows / statistics.median(collects) / 1e6
