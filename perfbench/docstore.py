"""The ``docstore`` workload: the plan-document store, reads and writes from
one closed-loop client.

Set-up loads a seeded corpus through the CDC write path
(``streaming/cdc.run_document_indexer`` with a reconstructed, ETag-stamped
view) and checks every stored document. The timed loop then repeats one
cycle: a write (a PATCH and a CDC batch drained together), one request of
each read type in a seeded order, and a PATCH with a stale ``If-Match``.

- Reads: point GET and conditional GET on the reconstructed view, and the
  four search routes (has_child, copay range, conjunctive plan match,
  has_parent), each over a fresh shred of the view. Keys and parameters
  are drawn Zipf-skewed.
- CDC batch: inserts, updates, deletes and a fixed share of invalid
  documents, enqueued as one file and drained through the indexer.
- PATCH: GET → ``conditional_write`` → ``merge_patch`` → enqueue → drain;
  its record rides in the same CDC file as the batch, so one drain per
  cycle makes both visible. A stale ETag must give 412 and change nothing.

Every answer is checked against :class:`model.StoreModel`; every write is
followed by a read-your-write check.
"""

from __future__ import annotations

import json
import os
import random
import time

import gen
from model import StoreModel, canonical
from model import merge_patch as model_merge_patch
from stats import geomean, median, tail

#: corpus size and CDC batch size, from a 5k-document store taking
#: 200-document CDC batches (about 8 s a batch on 4 vCPUs) scaled down 5x:
#: batches stay at 4% of the store, so the write amplification of a store
#: that rewrites itself per batch is the same, and every run of both
#: workloads fits the benchmark's time budget
CORPUS_DOCS = 1000
BATCH_RECORDS = 40
#: CDC batch mix: shares of insert / update / delete / invalid records (a
#: chosen mix: no measured traffic is available for the store)
BATCH_MIX = (("insert", 0.3), ("update", 0.4), ("delete", 0.15), ("invalid", 0.15))
READ_OPS = ("get", "get_cond", "has_child", "copay_range", "plan_match", "has_parent")
WRITE_OPS = ("batch", "patch", "patch_412")
COPAY_PIVOTS = (0.0, 10.0, 100.0, 175.0, 178.0)


def file_states(*dirs: str) -> dict[str, tuple[int, int, int]]:
    """path -> (size, mtime in ns, inode) of every file under ``dirs``."""
    out = {}
    for d in dirs:
        for root, _dirs, files in os.walk(d):
            for f in files:
                path = os.path.join(root, f)
                st = os.stat(path)
                out[path] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of the files in ``after`` that are new or changed since
    ``before`` (both from :func:`file_states`)."""
    return sum(state[0] for path, state in after.items() if before.get(path) != state)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Docstore:
    def __init__(self, ctx):
        self.ctx = ctx
        self.base = os.path.join(ctx.tmp, "store")
        self.q, self.ents, self.rej, self.ck, self.rec = (
            os.path.join(self.base, d) for d in ("queue", "entities", "rejects", "checkpoint", "view")
        )
        self.rng = random.Random(f"traffic-{ctx.seed}")
        self.model = StoreModel()
        self.seq = 0
        self.version: dict[str, int] = {}  # objectId -> writes applied
        self.etags: dict[str, tuple[str, int]] = {}  # objectId -> (etag, version seen)
        self.old_etags: list[str] = []
        self.lat: dict[str, list[float]] = {op: [] for op in READ_OPS + WRITE_OPS}
        self.layer: dict[str, list[float]] = {}
        self.cycles: list[float] = []
        self.cycle_cpu: list[float] = []
        self.docs_visible = 0
        self.ops = 0
        self.window_s = 0.0
        self.next_new = 0

    # --- engine access ------------------------------------------------------

    def _view(self):
        return self.ctx.spark.read.parquet(self.rec)

    def _tables(self):
        from adv_big_data_indexing_spark.operators.shred import shred

        return shred(self._view())

    def _note(self, key: str, val: float) -> None:
        self.layer.setdefault(key, []).append(val)

    def _drain(self, records: list[dict]) -> None:
        """Enqueue one CDC file and drain it through the document indexer."""
        from adv_big_data_indexing_spark.streaming import cdc

        ctx, tr = self.ctx, self.ctx.tracer
        watched = (self.q, self.ck, self.rej, self.ents, self.rec)
        before = file_states(*watched)
        t0 = time.perf_counter()
        with tr.span("cdc.enqueue"):
            cdc.enqueue(ctx.spark, self.q, records)
        t1 = time.perf_counter()
        with tr.span("cdc.indexer") as s:
            query = cdc.run_document_indexer(
                ctx.spark, self.q, self.ents, self.rej, self.ck, self.schema, reconstructed_dir=self.rec
            )
            s.add_group(str(query.runId))
            cdc.drain(query)
            if query.exception() is not None:
                raise RuntimeError(f"indexer failed: {query.exception()}")
        t2 = time.perf_counter()
        written = bytes_written(before, file_states(*watched))
        user = sum(len(r["key"]) + len(r.get("doc") or "") for r in records)
        self._note("cdc.enqueue_s", t1 - t0)
        self._note("cdc.indexer_s", t2 - t1)
        self._note("cdc.bytes_written_per_batch", written)
        self._note("cdc.write_amp", written / user)
        if tr.enabled:
            self._note("cdc.jobs_per_batch", s.counts["jobs"])

    def _record(self, oid: str, doc: dict | None, kind: str) -> dict:
        self.seq += 1
        return {
            "key": gen.plan_key(oid),
            "op": kind,
            "seq": self.seq,
            "doc": json.dumps(doc) if doc is not None else None,
        }

    def _apply(self, oid: str, doc: dict | None) -> None:
        if doc is None:
            self.model.delete(oid)
        else:
            self.model.put(doc)
        self.version[oid] = self.version.get(oid, 0) + 1

    def _check_visible(self, oids: list[str], op: str) -> None:
        """Read-your-write: the view holds exactly the model's documents
        for ``oids``."""
        from pyspark.sql import functions as F

        keys = [gen.plan_key(o) for o in oids]
        rows = {r["objectId"]: r for r in self._view().filter(F.col("id").isin(keys)).collect()}
        for oid in oids:
            want = self.model.docs.get(oid)
            got = rows.get(oid)
            if want is None and got is not None:
                self.ctx.fail(op, f"{oid} still visible after delete or reject")
            elif want is not None and got is None:
                self.ctx.fail(op, f"{oid} not visible after write")
            elif want is not None and self._body(got) != want:
                self.ctx.fail(op, f"{oid} body differs from the model after write")
            elif got is not None:
                self._seen(oid, got["etag"])

    def _body(self, row) -> dict:
        d = row.asDict(recursive=True)
        d.pop("id", None)
        d.pop("etag", None)
        return canonical(d)

    def _seen(self, oid: str, etag: str) -> None:
        prev = self.etags.get(oid)
        if prev and prev[0] != etag:
            self.old_etags.append(prev[0])
        self.etags[oid] = (etag, self.version.get(oid, 0))

    # --- set-up -------------------------------------------------------------

    def prepare(self) -> None:
        """Before the session starts: the corpus and its load records."""
        with self.ctx.harness():
            self.schema = gen.plan_schema()
            docs = gen.corpus(self.ctx.seed, CORPUS_DOCS)
            self.corpus_bytes = sum(len(json.dumps(d)) for d in docs)
            self.load = []
            for d in docs:
                self.load.append(self._record(d["objectId"], d, "insert"))
                self._apply(d["objectId"], d)

    def setup(self) -> None:
        """Load the corpus through the CDC path, check every document, and
        warm each read path once."""
        from adv_big_data_indexing_spark.plans.json_schema_compiler import compile_struct

        self.struct = compile_struct(self.schema)
        t0 = time.perf_counter()
        self.ctx.attempt()
        self._drain(self.load)
        self.ctx.attempt()
        with self.ctx.harness():
            self._check_visible(list(self.model.docs), "load")
        self.load_s = time.perf_counter() - t0
        self.keys = gen.ZipfKeys(self.rng, sorted(self.model.docs))
        for op in READ_OPS:  # warm each read path once, untimed
            self._read(op, timed=False)
        self._patch(stale=True, timed=False)
        self.layer.clear()

    # --- reads --------------------------------------------------------------

    def _read(self, op: str, timed: bool = True) -> None:
        from pyspark.sql import functions as F

        from adv_big_data_indexing_spark.operators import mutate, search

        ctx, tr, rng, m = self.ctx, self.ctx.tracer, self.rng, self.model
        oid = self.keys.draw()
        key = gen.plan_key(oid)
        want = None
        ctx.attempt()
        t0 = time.perf_counter()
        try:
            with tr.span(f"read.{op}", request=f"{op}-{self.ops}") as s:
                with tr.span(f"read.{op}.build") as c:
                    if op == "get":
                        df = self._view().filter(F.col("id") == key)
                    elif op == "get_cond":
                        tag = self.etags.get(oid, ("never-seen", -1))[0]
                        df = mutate.conditional_read(self._view().filter(F.col("id") == key), tag)
                    elif op == "has_child":
                        name = rng.choice(gen.SERVICE_NAMES)
                        df = search.parents_having(self._tables(), "planservice_service", {"name": name})
                        want = m.has_child_service(name)
                    elif op == "copay_range":
                        less, pivot = rng.random() < 0.5, rng.choice(COPAY_PIVOTS)
                        df = search.parents_by_copay(self._tables(), less, pivot)
                        want = m.copay_range(less, pivot)
                    elif op == "plan_match":
                        params = {"planType": rng.choice(gen.PLAN_TYPES), "_org": rng.choice(gen.ORGS)}
                        df = search.search_plans(self._tables(), params)
                        want = m.plan_match(params)
                    else:
                        ptype = rng.choice(gen.PLAN_TYPES)
                        df = search.children_of_matching_parents(
                            self._tables(), "planservices", {"planType": ptype}
                        )
                        want = m.planservices_of(ptype)
                    if op in ("has_child", "copay_range", "plan_match"):
                        df = df.select("objectId")
                    elif op == "has_parent":
                        df = df.select("id")
                with tr.span(f"read.{op}.plan") as p:
                    df._jdf.queryExecution().executedPlan()
                with tr.span(f"read.{op}.exec") as x:
                    rows = df.collect()
                tr.note_plan(p, df)
        except Exception as e:  # noqa: BLE001 - recorded as a failure
            ctx.fail(op, f"raised {e!r}")
            return
        elapsed = time.perf_counter() - t0
        self._check_read(op, oid, rows, want)
        if not timed:
            return
        self.lat[op].append(elapsed)
        self.ops += 1
        self._note(f"read.{op}.call_s", elapsed)
        if tr.enabled:
            self._note(f"read.{op}.plan_s", (c.end - c.start) + (p.end - p.start))
            self._note(f"read.{op}.exec_s", x.end - x.start)
            self._note(f"read.{op}.jobs", tr.inclusive(s, "jobs"))
            self._note(f"read.{op}.rows_per_result", tr.inclusive(s, "input_records") / max(1, len(rows)))

    def _check_read(self, op: str, oid: str, rows: list, want: set | None) -> None:
        ctx, doc = self.ctx, self.model.docs.get(oid)
        if op == "get":
            if doc is None:
                if rows:
                    ctx.fail(op, f"{oid}: deleted document returned")
            elif len(rows) != 1:
                ctx.fail(op, f"{oid}: {len(rows)} rows, expected 1")
            elif self._body(rows[0]) != doc:
                ctx.fail(op, f"{oid}: body differs from the model")
            else:
                self._seen(oid, rows[0]["etag"])
        elif op == "get_cond":
            seen = self.etags.get(oid)
            fresh = seen is not None and seen[1] == self.version.get(oid, 0)
            expect = [] if doc is None else [304 if fresh else 200]
            got = [r["status"] for r in rows]
            if got != expect:
                ctx.fail(op, f"{oid}: status {got}, expected {expect}")
        else:
            col = "id" if op == "has_parent" else "objectId"
            got = {r[col] for r in rows}
            if got != want:
                ctx.fail(op, f"hit set differs from the model ({len(got)} vs {len(want)} hits)")

    # --- writes -------------------------------------------------------------

    def _batch_records(self, exclude: set[str]) -> tuple[list[dict], dict, list[str]]:
        """A seeded CDC batch over live documents not in ``exclude``: the
        records, the expected rejects by key, and every objectId touched.
        The model takes the valid records at once."""
        rng = self.rng
        live = sorted(set(self.model.docs) - exclude)
        rng.shuffle(live)
        records, expect_reject, touched = [], {}, []
        for kind, share in BATCH_MIX:
            for _ in range(round(share * BATCH_RECORDS)):
                if kind in ("update", "delete") and not live:
                    kind = "insert"
                if kind == "update":
                    oid = live.pop()
                    doc = gen.make_plan(rng, oid, version=self.version.get(oid, 0))
                    records.append(self._record(oid, doc, "update"))
                elif kind == "delete":
                    oid, doc = live.pop(), None
                    records.append(self._record(oid, None, "delete"))
                else:
                    oid = f"n{self.next_new:06d}"
                    self.next_new += 1
                    doc = gen.make_plan(rng, oid)
                    if kind == "invalid":
                        bad, violation = gen.make_invalid(rng, doc)
                        records.append(self._record(oid, bad, "insert"))
                        expect_reject[gen.plan_key(oid)] = (records[-1]["seq"], violation)
                        touched.append(oid)
                        continue
                    records.append(self._record(oid, doc, "insert"))
                touched.append(oid)
                self._apply(oid, doc)
        return records, expect_reject, touched

    def _write(self) -> None:
        """A PATCH and a CDC batch, enqueued as one file and made visible by
        one drain, then read back. The PATCH's latency runs from its GET to
        visibility; the batch's from enqueue to visibility."""
        ctx = self.ctx
        t0 = time.perf_counter()
        patched = self._patch(stale=False)
        records, expect_reject, touched = self._batch_records({patched[0]} if patched else set())
        if patched:
            records.append(patched[1])
            touched.append(patched[0])
        ctx.attempt()
        t1 = time.perf_counter()
        try:
            self._drain(records)
        except Exception as e:  # noqa: BLE001 - recorded as a failure
            ctx.fail("batch", f"raised {e!r}")
            return
        t2 = time.perf_counter()
        self.lat["batch"].append(t2 - t1)
        self.ops += 1
        if patched:
            self.lat["patch"].append(t2 - t0)
            self.ops += 1
        self.docs_visible += len(records) - len(expect_reject)
        self._check_visible(touched, "batch")
        self._check_rejects(expect_reject)

    def _check_rejects(self, expect: dict[str, tuple[int, str]]) -> None:
        from pyspark.sql import functions as F

        rows = (
            self.ctx.spark.read.parquet(self.rej)
            .filter(F.col("key").isin(list(expect)))
            .select("key", "seq", "violations")
            .collect()
        )
        got = {(r["key"], r["seq"]): r["violations"] for r in rows}
        for key, (seq, violation) in expect.items():
            if violation not in (got.get((key, seq)) or []):
                self.ctx.fail("batch", f"{key}: reject with {violation} missing")

    def _patch(self, stale: bool, timed: bool = True) -> tuple[str, dict] | None:
        """GET → ``conditional_write`` → (fresh ETag) ``merge_patch``.

        A stale ``If-Match`` must be refused with 412 and is done there. A
        fresh one returns the objectId and the CDC record of the merged
        document, for :meth:`_write` to enqueue; the model takes it at once."""
        from pyspark.sql import functions as F

        from adv_big_data_indexing_spark.operators import mutate

        ctx, tr, rng = self.ctx, self.ctx.tracer, self.rng
        op = "patch_412" if stale else "patch"
        oid = self.keys.draw()
        while oid not in self.model.docs:
            oid = self.keys.draw()
        key, base_doc = gen.plan_key(oid), self.model.docs[oid]
        ctx.attempt()
        t0 = time.perf_counter()
        out = None
        try:
            with tr.span(f"write.{op}", request=f"{op}-{self.ops}"):
                view = self._view()
                current = view.filter(F.col("id") == key).collect()
                if len(current) != 1:
                    ctx.fail(op, f"{oid}: GET before PATCH returned {len(current)} rows")
                    return None
                etag = current[0]["etag"]
                expected = (self.old_etags[-1] if self.old_etags else "stale-etag") if stale else etag
                writes = ctx.spark.createDataFrame([(key, expected)], "id string, expected_etag string")
                t_call = time.perf_counter()
                with tr.span("mutate.conditional_write"):
                    applied, rejected = mutate.conditional_write(view.select("id", "etag"), writes)
                call_s = time.perf_counter() - t_call
                t_exec = time.perf_counter()
                with tr.span("mutate.exec"):
                    n_applied, n_rejected = applied.count(), rejected.count()
                exec_s = time.perf_counter() - t_exec
                want_counts = (0, 1) if stale else (1, 0)
                if (n_applied, n_rejected) != want_counts:
                    ctx.fail(op, f"{oid}: If-Match gave {n_applied} applied, {n_rejected} rejected")
                    return None
                if not stale:
                    patch = self._make_patch(rng, base_doc)
                    doc_cols = [c for c in view.columns if c not in ("id", "etag")]
                    base = view.filter(F.col("id") == key).select(
                        F.from_json(F.to_json(F.struct(*doc_cols)), self.struct).alias("d")
                    ).select("d.*")
                    patch_df = ctx.spark.createDataFrame([(json.dumps(patch),)], "raw string").select(
                        F.from_json("raw", self.struct).alias("d")
                    ).select("d.*")
                    t_call = time.perf_counter()
                    with tr.span("mutate.merge_patch"):
                        merged, bad = mutate.merge_patch(base, patch_df)
                    call_s += time.perf_counter() - t_call
                    t_exec = time.perf_counter()
                    with tr.span("mutate.exec"):
                        merged_rows = merged.collect()
                        n_bad = bad.count()
                    exec_s += time.perf_counter() - t_exec
                    if n_bad or len(merged_rows) != 1:
                        ctx.fail(op, f"{oid}: merge_patch gave {len(merged_rows)} rows, {n_bad} rejected")
                        return None
                    new_doc = merged_rows[0].asDict(recursive=True)
                    if canonical(new_doc) != canonical(model_merge_patch(base_doc, patch)):
                        ctx.fail(op, f"{oid}: merge_patch result differs from the model")
                        return None
                    self._apply(oid, new_doc)
                    out = (oid, self._record(oid, new_doc, "update"))
        except Exception as e:  # noqa: BLE001 - recorded as a failure
            ctx.fail(op, f"raised {e!r}")
            return None
        if timed and stale:
            self.lat[op].append(time.perf_counter() - t0)
            self.ops += 1
        elif timed:
            self._note("mutate.patch_call_s", call_s)
            self._note("mutate.patch_exec_s", exec_s)
        return out

    @staticmethod
    def _make_patch(rng: random.Random, doc: dict) -> dict:
        """A merge-patch: new planType and copay, one service replaced
        wholesale, one appended."""
        lps = doc["linkedPlanServices"]
        n = len(lps) + rng.randrange(1000, 9999)
        replaced = dict(lps[rng.randrange(len(lps))])
        replaced["_org"] = rng.choice(gen.ORGS)
        extra = {
            "linkedService": {
                "_org": rng.choice(gen.ORGS),
                "objectId": f"svc-{doc['objectId']}-x{n}",
                "objectType": "service",
                "name": rng.choice(gen.SERVICE_NAMES),
            },
            "planserviceCostShares": None,
            "_org": rng.choice(gen.ORGS),
            "objectId": f"ps-{doc['objectId']}-x{n}",
            "objectType": "planservice",
        }
        return {
            "objectId": doc["objectId"],
            "planType": rng.choice(gen.PLAN_TYPES),
            "planCostShares": {
                "objectId": doc["planCostShares"]["objectId"],
                "objectType": "membercostshare",
                "copay": float(rng.randrange(0, 40000)) / 100.0,
            },
            "linkedPlanServices": [replaced, extra],
        }

    # --- the loop -----------------------------------------------------------

    def run(self, seconds: float) -> None:
        ctx = self.ctx
        gc0 = ctx.gc_s()
        t0 = time.perf_counter()
        while not self.cycles or time.perf_counter() - t0 < seconds:
            tc, cpu = time.perf_counter(), ctx.cpu_s()
            self._write()
            reads = list(READ_OPS)
            self.rng.shuffle(reads)
            for op in reads:
                self._read(op)
            self._patch(stale=True)
            self.cycles.append(time.perf_counter() - tc)
            self.cycle_cpu.append(ctx.cpu_s() - cpu)
        self.window_s = time.perf_counter() - t0
        ctx.layer_once["read.jvm_gc_s"] = ctx.gc_s() - gc0
        live = sum(len(json.dumps(d)) for d in self.model.docs.values())
        ctx.layer_once["cdc.space_amp"] = dir_bytes(self.base) / live

    def end_to_end(self) -> dict[str, float]:
        """The CPU cost of a cycle, and (reported, not bounded) its wall
        time and the geometric mean of the per-type median latencies."""
        return {
            "pass_cpu_s": median(self.cycle_cpu),
            "pass_s": median(self.cycles),
            "op_geomean_s": geomean([median(v) for v in self.lat.values() if v]),
        }

    def report(self) -> list[str]:
        def line(name: str, vals: list[float]) -> str:
            if not vals:
                return f"{name}: no samples"
            p, v = tail(vals)
            t = f", p{p:g} {v:.4f} s" if p and p > 50 else ""
            return f"{name}: p50 {median(vals):.4f} s{t} (n={len(vals)})"

        gets = self.lat["get"] + self.lat["get_cond"]
        searches = [v for op in ("has_child", "copay_range", "plan_match", "has_parent") for v in self.lat[op]]
        return [
            f"corpus: {CORPUS_DOCS} documents, {self.corpus_bytes} JSON bytes, loaded and checked in {self.load_s:.2f} s;"
            f" batches of {BATCH_RECORDS} records",
            f"cycle_s (median, n={len(self.cycles)}): {median(self.cycles):.4f}; pass_cpu_s: {median(self.cycle_cpu):.4f};"
            " cycles " + " ".join(f"{c:.2f}" for c in self.cycle_cpu),
            f"op_geomean_s: {self.end_to_end()['op_geomean_s']:.4f}",
            f"ops_per_s: {self.ops / self.window_s:.4f}",
            line("get", gets),
            line("search", searches),
            line("visible", self.lat["batch"]),
            line("patch", self.lat["patch"]),
            f"docs_per_s: {self.docs_visible / self.window_s:.4f}",
            *(line(f"  {op}", v) for op, v in self.lat.items()),
        ]

    def per_layer(self) -> dict[str, float]:
        return {k: median(v) for k, v in self.layer.items()}
