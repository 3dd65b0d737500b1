"""Benchmark entry point: one workload, one process.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The workload's inputs are made from
``--seed``; set-up (Spark session, corpus load, warm-up) is measured as
``setup_s``, in CPU seconds of this process and its descendants, without
the benchmark's own input generation, oracles and result checks;
the timed loop then runs whole passes (cycles, for ``docstore``) until
``--seconds`` have passed, at least one. Outputs are checked as they arrive,
and every failed or wrong operation is listed with its op and cause.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The lines before it are a readable
report. A traced run also writes its spans to
``.perfbench_out/trace-<workload>-<seed>.json`` and prints each span's
self time and the time the tracer itself spent collecting counts.

Scratch files live in ``.perfbench_tmp/`` under the checkout and are
removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "adv_big_data_indexing_spark"
DRIVER_HEAP = "2g"
YOUNG_GEN = "512m"

#: workload -> why it is in the benchmark
WORKLOADS = {
    "analytics": "11 headline queries, one per operators module, on the catalog's sf0.01 tables (60k lineitem "
    "rows, 1.9 MB parquet): operator kernels work, document layers idle",
    "docstore": "1000 seeded plan docs (1.2 MB JSON) via CDC, then Zipf(0.99, YCSB) GETs, searches, 40-record "
    "CDC batches, PATCHes (a 5k/200 store scaled 5x): planning, per-job, write-path cost",
}

#: name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "pass_cpu_s": ("s", "lower", 0.25),
    "py_peak_rss_mb": ("MB", "lower", 0.1),
    "jvm_peak_rss_mb": ("MB", "lower", 0.1),
}

ANALYTICS_MODULES = (
    "advanced", "clustering", "dedup", "graph", "mining", "relational",
    "retrieval", "similarity", "text", "timeseries", "tokenizer",
)
READ_OPS = ("get", "get_cond", "has_child", "copay_range", "plan_match", "has_parent")


def _layer_units() -> dict[str, str]:
    units: dict[str, str] = {}
    for m in ANALYTICS_MODULES:
        units |= {
            f"{m}.build_driver_s": "s",
            f"{m}.build_jobs_s": "s",
            f"{m}.plan_s": "s",
            f"{m}.exec_s": "s",
            f"{m}.jobs": "count",
            f"{m}.shuffle_bytes": "bytes",
            f"{m}.exchanges": "count",
        }
    units |= {"analytics.persisted_after": "count", "analytics.jvm_gc_s": "s"}
    for op in READ_OPS:
        units |= {
            f"read.{op}.call_s": "s",
            f"read.{op}.plan_s": "s",
            f"read.{op}.exec_s": "s",
            f"read.{op}.jobs": "count",
            f"read.{op}.rows_per_result": "rows",
        }
    units |= {
        "read.jvm_gc_s": "s",
        "cdc.enqueue_s": "s",
        "cdc.indexer_s": "s",
        "cdc.jobs_per_batch": "count",
        "cdc.bytes_written_per_batch": "bytes",
        "cdc.write_amp": "ratio",
        "cdc.space_amp": "ratio",
        "mutate.patch_call_s": "s",
        "mutate.patch_exec_s": "s",
        "session.start_s": "s",
        "contract.registry_s": "s",
        "trace.collect_s": "s",
    }
    return units


#: per-layer metric -> unit; every one is lower-is-better
PER_LAYER = _layer_units()


class Ctx:
    """What a workload needs: the session, the tracer, the seed, a scratch
    directory, and the attempt/failure ledger."""

    def __init__(self, seed: int, tmp: str):
        self.seed, self.tmp = seed, tmp
        self.spark = self.tracer = None
        self.attempted = 0
        self.failed_attempts: set[int] = set()
        self.failures: list[tuple[str, str]] = []
        self.layer_once: dict[str, float] = {}
        self.harness_s = 0.0
        self.harness_cpu_s = 0.0

    @contextmanager
    def harness(self):
        """Mark the benchmark's own work during set-up (input generation,
        oracles, result hashing and checks): it is kept out of ``setup_s``."""
        t0, c0 = time.perf_counter(), tree_cpu_s()
        try:
            yield
        finally:
            self.harness_s += time.perf_counter() - t0
            self.harness_cpu_s += tree_cpu_s() - c0

    def attempt(self) -> None:
        """Start one operation; failures recorded until the next call
        count against it."""
        self.attempted += 1

    def fail(self, op: str, cause: str) -> None:
        self.failed_attempts.add(self.attempted)
        self.failures.append((op, cause))

    def gc_s(self) -> float:
        from spans import jvm_gc_seconds

        return jvm_gc_seconds(self.spark)

    @staticmethod
    def cpu_s() -> float:
        return tree_cpu_s()


def _proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (parent pid, CPU ticks with those of reaped children, state)
    for every process in /proc."""
    table = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            stat = (p / "stat").read_text()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        # fields 11-14: utime stime cutime cstime
        table[int(p.name)] = (int(fields[1]), sum(int(f) for f in fields[11:15]), fields[0])
    return table


def _descendants(table: dict[int, tuple[int, int, str]]) -> list[int]:
    me = os.getpid()
    out = []
    for pid in table:
        q = pid
        while q > 1 and q != me:
            q = table.get(q, (0,))[0]
        if q == me:
            out.append(pid)
    return out


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and its descendants
    (the JVM and its Python workers), with those of descendants that have
    exited and been reaped (a Python worker's CPU stays counted after it
    ends). Time the hypervisor steals is not counted, so this cost moves
    less with how busy the host is than wall time does; contention for
    shared caches still inflates it."""
    table = _proc_table()
    return sum(table[pid][1] for pid in _descendants(table)) / os.sysconf("SC_CLK_TCK")


def stray_spark_pids() -> list[int]:
    me = os.getpid()
    out = []
    for p in Path("/proc").iterdir():
        if not p.name.isdigit() or int(p.name) == me:
            continue
        try:
            cmd = (p / "cmdline").read_bytes()
        except OSError:
            continue
        if b"org.apache.spark" in cmd or b"SparkSubmit" in cmd:
            out.append(int(p.name))
    return out


def hygiene_flags() -> list[str]:
    """Conditions at start that make timings suspect (bench.py's rules)."""
    flags = []
    strays = stray_spark_pids()
    if strays:
        flags.append(f"{len(strays)} Spark JVM(s) already running (pids {strays})")
    load1 = float(Path("/proc/loadavg").read_text().split()[0])
    ncpu = os.cpu_count() or 1
    if load1 > max(4.0, ncpu / 8):
        flags.append(f"1-min load average {load1} on {ncpu} CPUs")
    return flags


def cpu_ticks() -> list[int]:
    """The aggregate /proc/stat CPU counters (user ... steal)."""
    return [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    readings: a host-contention signal that the run's own load cannot
    produce."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def configure_env(tmp: Path) -> None:
    """Environment for the session and its Python workers: the package
    importable from any directory, and every scratch write inside ``tmp``."""
    (tmp / "t").mkdir(parents=True)
    (tmp / "local").mkdir()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    os.environ["TMPDIR"] = str(tmp / "t")
    # a fixed heap and young-generation size keep the JVM's resident peak
    # from following G1's adaptive resizing, so it tracks live data
    java_opts = f"-Xms{DRIVER_HEAP} -Xmn{YOUNG_GEN} -XX:-UsePerfData -Djava.io.tmpdir={tmp / 't'}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options", shlex.quote(java_opts),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={tmp / 'warehouse'}"),
            "--conf", "spark.ui.retainedJobs=100000",
            "--conf", "spark.ui.retainedStages=100000",
            "pyspark-shell",
        ]
    )


def vm_hwm_mb(pid: int) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a hung JVM is killed, not left behind
            proc.kill()
            proc.wait(timeout=30)


def become_subreaper() -> None:
    """Have orphaned descendants (a Python worker whose daemon has exited,
    say) re-parented to this process rather than to init. Then this process
    has no children left exactly when no descendant is left, which
    :func:`reap_descendants` waits for."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def reap_descendants(grace_s: float = 20.0) -> list[int]:
    """Wait until every process this one started, and theirs, has ended and
    been reaped: give them ``grace_s`` to exit by themselves, then SIGTERM,
    then SIGKILL. Returns the pids that had to be signalled."""
    import signal

    signalled: list[int] = []
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return signalled  # as a subreaper: no child left, no descendant left
        if pid:
            continue
        now = time.monotonic()
        if now > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            table = _proc_table()
            for p in _descendants(table):
                if p != os.getpid() and table[p][2] != "Z":
                    try:
                        os.kill(p, sig)
                    except ProcessLookupError:
                        pass
                    if p not in signalled:
                        signalled.append(p)
            deadline = now + 5.0
        time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"error: {PACKAGE}/ not found beside {HERE.name}/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    become_subreaper()

    ticks0 = cpu_ticks()
    flags = hygiene_flags()
    for f in flags:
        print(f"FLAG: {f}", file=sys.stderr)
    tmp = ROOT / ".perfbench_tmp" / f"{args.workload}-{args.seed}-{os.getpid()}"
    configure_env(tmp)

    from adv_big_data_indexing_spark.session import get_spark
    from spans import Tracer

    spark = None
    try:
        if args.workload == "analytics":
            from analytics import Analytics as W
        else:
            from docstore import Docstore as W
        ctx = Ctx(args.seed, str(tmp))
        wl = W(ctx)
        wl.prepare()
        t0 = time.perf_counter()
        spark = ctx.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        ctx.layer_once["session.start_s"] = t1 - t0
        tracer = ctx.tracer = Tracer(spark, enabled=bool(args.trace))
        wl.setup()
        setup_wall = time.perf_counter() - T_START
        setup_s = tree_cpu_s() - ctx.harness_cpu_s
        phases = (
            f"set-up {setup_wall:.2f} s wall: to session {t0 - T_START:.2f}, session {t1 - t0:.2f}, "
            f"workload {setup_wall - (t1 - T_START):.2f}, of which benchmark checks {ctx.harness_s:.2f}; "
            f"setup_s {setup_s:.2f} CPU s without the checks' {ctx.harness_cpu_s:.2f}"
        )
        wl.run(args.seconds)
        e2e = {"setup_s": setup_s, "setup_wall_s": setup_wall, **wl.end_to_end()}
        layers = {**{k: 0.0 for k in PER_LAYER}, **wl.per_layer(), **ctx.layer_once}
        layers["trace.collect_s"] = tracer.overhead_s
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        e2e["jvm_peak_rss_mb"] = vm_hwm_mb(jvm_pid)
        report = wl.report()
        self_times = tracer.self_time_by_name() if tracer.enabled else {}
    except Exception:  # noqa: BLE001 - the run cannot report; say why and fail
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            killed = reap_descendants()
            shutil.rmtree(tmp, ignore_errors=True)
    if killed:
        flags.append(f"{len(killed)} process(es) still running 20 s after the session stopped were killed: {killed}")
    e2e["py_peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    steal = steal_share(ticks0, cpu_ticks())
    if steal > 0.05:
        flags.append(f"CPU steal {steal:.1%} over the run: the host was contended")

    unknown = set(layers) - set(PER_LAYER)
    if unknown:
        print(f"error: unlisted per-layer metrics {sorted(unknown)}", file=sys.stderr)
        return 1

    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}"
    (out_dir / f"{stem}-trace{args.trace}.json").write_text(json.dumps(e2e))
    print(f"workload {args.workload}, seed {args.seed}, {args.seconds:g} s window")
    print(phases)
    print(f"CPU steal over the run: {steal:.2%}")
    for line in report:
        print(line)
    for f in flags:
        print(f"FLAG: {f}")
    for op, cause in ctx.failures:
        print(f"FAILED {op}: {cause}")
    if args.trace:
        tracer.dump(str(out_dir / f"trace-{stem}.json"), {"workload": args.workload, "seed": args.seed, "e2e": e2e})
        print("self time by span (s):")
        for name, t in sorted(self_times.items(), key=lambda kv: -kv[1]):
            print(f"  {name:40s} {t:9.4f}")
        print(f"tracer collection time: {tracer.overhead_s:.4f} s")
        print("per-layer metrics:")
        for k, v in sorted(layers.items()):
            print(f"  {k:40s} {v:14.4f} {PER_LAYER[k]}")
        plain = out_dir / f"{stem}-trace0.json"
        if plain.exists():
            base = json.loads(plain.read_text())
            for k in ("pass_cpu_s", "pass_s", "op_geomean_s"):
                if k in base:
                    print(f"tracing overhead on {k}: {e2e[k] - base[k]:+.4f} s (traced {e2e[k]:.4f}, untraced {base[k]:.4f})")
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": e2e[k], "unit": END_TO_END[k][0]} for k in END_TO_END}

    print(
        json.dumps(
            {
                "correct": not ctx.failures,
                "attempted": max(1, ctx.attempted),
                "failed": len(ctx.failed_attempts),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
