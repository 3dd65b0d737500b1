"""The ``analytics`` workload: headline registry queries over the catalog's
sf0.01 star schema, pass after pass, one client.

One ``bench=True`` headline query stands for each ``operators/`` module:
the RFM rank machinery (advanced), k-means (clustering), the MinHash-LSH
chain (dedup), PageRank (graph), association rules (mining), the has-child
semi-join (relational), BM25 (retrieval), PCA by power iteration
(similarity), text quality (text), Holt forecasting (timeseries) and BPE
merge training (tokenizer). Each timed unit rebuilds the query
(``fn(spark, dir)``), forces its executed plan, and runs it into the noop
sink, in module order. Set-up makes one untimed pass, in an order drawn
from the seed, that collects every result and hash-matches it against the
query's DuckDB oracle, or, where the oracle is too slow to run per
benchmark run, against the same query collected again after the timed
window. The timed order is fixed because the JIT is still compiling in the
first timed passes: with a seeded timed order, one pass's CPU moved by up
to 30% between seeds, with a fixed one by about 2%.

The inputs are the ten catalog tables at scale 0.01 (60k lineitem rows),
vendored byte for byte in ``data/sf0.01`` so the benchmark reads nothing
outside its checkout.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import random
import subprocess
import sys
import time
from decimal import Decimal
from pathlib import Path

from stats import geomean, median

DATA_DIR = Path(__file__).resolve().parent / "data" / "sf0.01"

#: operators module -> the headline query that stands for it
QUERIES = {
    "advanced": "ext_rfm_segmentation",
    "clustering": "ns_semdedup_kmeans",
    "dedup": "ns_dedup_minhash_lsh",
    "graph": "ns_graph_pagerank",
    "mining": "ns_assoc_rules",
    "relational": "op_c2_has_child_eq",
    "retrieval": "ns_bm25_topk",
    "similarity": "ns_embed_pca_power",
    "text": "ns_text_quality",
    "timeseries": "ts_holt_forecast",
    "tokenizer": "ns_bpe_train_merges",
}
#: queries checked for stability across passes instead of against their
#: oracle: DuckDB needs 12-24 s for the BPE oracle's unrolled merge loop
STABILITY_CHECKED = frozenset({"ns_bpe_train_merges"})
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _canon_cell(v) -> str:
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT or v is pd.NA:
        return "<null>"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        return "<null>" if math.isnan(float(v)) else repr(float(v))
    if isinstance(v, Decimal):
        return f"dec:{v}"
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime):
        if v.tzinfo is None and (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def result_hash(pdf) -> str:
    """Order-insensitive hash of a pandas result: columns by name, rows
    sorted, cells in a canonical text form (floats by repr, so a one-ulp
    difference is a mismatch)."""
    cols = sorted(pdf.columns)
    rows = sorted(tuple(_canon_cell(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None))
    return hashlib.md5(repr((cols, rows)).encode()).hexdigest()


def oracle_hashes(data_dir: str, oracles: dict[str, str]) -> dict[str, str]:
    """Result hash of each oracle SQL run through DuckDB over the tables in
    ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        return {name: result_hash(con.sql(sql).df()) for name, sql in oracles.items()}
    finally:
        con.close()


def oracle_hashes_apart(data_dir: str, oracles: dict[str, str]) -> dict[str, str]:
    """:func:`oracle_hashes` in a child process, so that DuckDB's memory
    stays out of the driver's peak RSS. The child is waited for (and killed
    on timeout) before this returns; unlike a multiprocessing pool, it
    leaves no resource-tracker process behind."""
    child = (
        "import json, sys; sys.path.insert(0, sys.argv[1]); from analytics import oracle_hashes; "
        "a = json.load(sys.stdin); print(json.dumps(oracle_hashes(a['dir'], a['oracles'])))"
    )
    proc = subprocess.run(
        [sys.executable, "-c", child, str(Path(__file__).resolve().parent)],
        input=json.dumps({"dir": data_dir, "oracles": oracles}),
        capture_output=True,
        text=True,
        timeout=150,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"oracle process exited {proc.returncode}: {proc.stderr[-2000:]}")
    return json.loads(proc.stdout.splitlines()[-1])


class Analytics:
    def __init__(self, ctx):
        self.ctx = ctx
        self.data_dir = str(DATA_DIR)
        self.rng = random.Random(f"analytics-{ctx.seed}")
        self.lat: dict[str, list[float]] = {q: [] for q in QUERIES.values()}
        self.layer: dict[str, dict[str, list[float]]] = {}
        self.passes: list[float] = []
        self.pass_cpu: list[float] = []
        self.ops = 0
        self.window_s = 0.0
        self.first_hash: dict[str, str] = {}

    def prepare(self) -> None:
        """Before the session starts: the query registry and the oracle
        results."""
        ctx = self.ctx
        from adv_big_data_indexing_spark.contract import registry

        t0 = time.perf_counter()
        self.specs = registry()
        ctx.layer_once["contract.registry_s"] = time.perf_counter() - t0
        self.input_bytes = sum(p.stat().st_size for p in DATA_DIR.glob("*.parquet"))
        with ctx.harness():
            self.want = oracle_hashes_apart(
                self.data_dir,
                {q: self.specs[q].oracle for q in QUERIES.values() if q not in STABILITY_CHECKED},
            )

    def setup(self) -> None:
        """One untimed pass that collects every result and checks it; it
        also takes every query through the JIT once, so that no timed pass
        runs cold (the JIT keeps compiling through the first few)."""
        ctx = self.ctx
        names = list(QUERIES.values())
        self.rng.shuffle(names)
        for name in names:
            ctx.attempt()
            try:
                pdf = self.specs[name].fn(ctx.spark, self.data_dir).toPandas()
            except Exception as e:  # noqa: BLE001 - recorded as a failure
                ctx.fail(name, f"checked pass raised {e!r}")
                continue
            with ctx.harness():
                self.first_hash[name] = result_hash(pdf)
            if name in self.want and self.first_hash[name] != self.want[name]:
                ctx.fail(name, "result hash differs from the DuckDB oracle")

    def _pass(self) -> None:
        ctx, tr = self.ctx, self.ctx.tracer
        t_pass, cpu_pass = time.perf_counter(), ctx.cpu_s()
        for module, name in QUERIES.items():
            ctx.attempt()
            t0 = time.perf_counter()
            try:
                with tr.span(f"operators.{module}", request=name) as q:
                    with tr.span(f"operators.{module}.build") as b:
                        df = self.specs[name].fn(ctx.spark, self.data_dir)
                    with tr.span(f"operators.{module}.plan") as p:
                        df._jdf.queryExecution().executedPlan()
                    with tr.span(f"operators.{module}.exec") as x:
                        df.write.format("noop").mode("overwrite").save()
                    tr.note_plan(p, df)
            except Exception as e:  # noqa: BLE001 - recorded as a failure
                ctx.fail(name, f"pass raised {e!r}")
                continue
            self.lat[name].append(time.perf_counter() - t0)
            self.ops += 1
            if tr.enabled:
                build_jobs = b.counts["job_s"]
                row = self.layer.setdefault(module, {})
                for key, val in (
                    ("build_driver_s", max(0.0, (b.end - b.start) - build_jobs)),
                    ("build_jobs_s", build_jobs),
                    ("plan_s", p.end - p.start),
                    ("exec_s", x.end - x.start),
                    ("jobs", tr.inclusive(q, "jobs")),
                    ("shuffle_bytes", tr.inclusive(q, "shuffle_read_bytes") + tr.inclusive(q, "shuffle_write_bytes")),
                    ("exchanges", p.plan.get("exchange", 0)),
                ):
                    row.setdefault(key, []).append(val)
        self.passes.append(time.perf_counter() - t_pass)
        self.pass_cpu.append(ctx.cpu_s() - cpu_pass)

    def run(self, seconds: float) -> None:
        ctx = self.ctx
        gc0 = ctx.gc_s()
        t0 = time.perf_counter()
        while not self.passes or time.perf_counter() - t0 < seconds:
            self._pass()
        self.window_s = time.perf_counter() - t0
        ctx.layer_once["analytics.jvm_gc_s"] = ctx.gc_s() - gc0
        ctx.layer_once["analytics.persisted_after"] = ctx.spark.sparkContext._jsc.getPersistentRDDs().size()
        self._check_stable()

    def _check_stable(self) -> None:
        """Collect each stability-checked query once more, after the timed
        window, and compare it with its first result."""
        ctx = self.ctx
        for name in sorted(STABILITY_CHECKED & set(self.first_hash)):
            ctx.attempt()
            try:
                got = result_hash(self.specs[name].fn(ctx.spark, self.data_dir).toPandas())
            except Exception as e:  # noqa: BLE001 - recorded as a failure
                ctx.fail(name, f"stability check raised {e!r}")
                continue
            if got != self.first_hash[name]:
                ctx.fail(name, "result differs between the first pass and the last")

    def end_to_end(self) -> dict[str, float]:
        """The CPU cost of a pass, and (reported, not bounded) its wall
        time and the geometric mean of the per-query medians."""
        return {
            "pass_cpu_s": median(self.pass_cpu),
            "pass_s": median(self.passes),
            "op_geomean_s": geomean([median(v) for v in self.lat.values() if v]),
        }

    def report(self) -> list[str]:
        lines = [
            f"inputs: {len(TABLES)} catalog tables at sf0.01, {self.input_bytes} parquet bytes",
            f"suite_s (median pass, n={len(self.passes)}): {median(self.passes):.4f}; passes "
            + " ".join(f"{p:.3f}" for p in self.passes),
            f"pass_cpu_s: {median(self.pass_cpu):.4f}; passes " + " ".join(f"{c:.2f}" for c in self.pass_cpu),
            f"query_geomean_s: {self.end_to_end()['op_geomean_s']:.4f}",
            f"queries_per_s: {self.ops / self.window_s:.4f}",
        ]
        lines += [f"  {q}: median {median(v):.4f} s (n={len(v)})" for q, v in self.lat.items() if v]
        return lines

    def per_layer(self) -> dict[str, float]:
        out = {}
        for module in QUERIES:
            for key in ("build_driver_s", "build_jobs_s", "plan_s", "exec_s", "jobs", "shuffle_bytes", "exchanges"):
                vals = self.layer.get(module, {}).get(key)
                out[f"{module}.{key}"] = median(vals) if vals else 0.0
        return out
