"""Run one workload over several seeds and report each end-to-end metric's
median and quartile spread ((Q3 - Q1) / median) against its bound.

    python3 perfbench/spread.py --workload docstore --seeds 1-10 --seconds 5

Runs are sequential, each in its own process, from the checkout root.
Results go to ``.perfbench_out/spread-<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from run import END_TO_END, ROOT, WORKLOADS  # noqa: E402
from stats import quartile_spread  # noqa: E402


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def leftover_processes() -> list[str]:
    """Processes of a finished run that are still alive: Spark JVMs, Python
    workers, multiprocessing helpers, or the run itself."""
    markers = (b"org.apache.spark", b"pyspark", b"multiprocessing", b"run.py\x00--workload")
    ancestors, pid = set(), os.getpid()
    while pid > 1:  # this process and the shells that started it
        ancestors.add(pid)
        stat = Path(f"/proc/{pid}/stat").read_text()
        pid = int(stat[stat.rindex(")") + 2 :].split()[1])
    out = []
    for p in Path("/proc").iterdir():
        if not p.name.isdigit() or int(p.name) in ancestors:
            continue
        try:
            cmd = (p / "cmdline").read_bytes()
        except OSError:
            continue
        if any(m in cmd for m in markers):
            args = cmd.replace(b"\x00", b" ")[:300].decode(errors="replace")
            out.append(f"{p.name}: {args}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(WORKLOADS))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=5)
    args = ap.parse_args()

    runs = []
    for seed in seed_range(args.seeds):
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", f"{args.seconds:g}", "--trace", "0"]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        left = leftover_processes()
        if left:
            print(f"seed {seed}: processes left running after the run: {left}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        (out / f"spread-{args.workload}-seed{seed}.txt").write_text(proc.stdout)
        values = {k: v["value"] for k, v in result["metrics"].items()}
        runs.append({"seed": seed, "wall_s": wall, "correct": result["correct"], "failed": result["failed"], **values})
        print(f"seed {seed}: wall {wall:.1f} s correct={result['correct']} " + " ".join(f"{k}={v:.4f}" for k, v in values.items()), flush=True)

    summary = {}
    for name, (unit, _better, bound) in END_TO_END.items():
        vals = [r[name] for r in runs]
        spread = quartile_spread(vals) if len(vals) >= 2 else float("nan")
        summary[name] = {"median": statistics.median(vals), "spread": spread, "bound": bound}
        mark = "ok" if spread <= bound / 3 else ("within bound" if spread <= bound else "OVER BOUND")
        print(f"{name:16s} median {statistics.median(vals):10.4f} {unit:4s} spread {spread:.4f} (bound {bound}) {mark}")
    (out / f"spread-{args.workload}.json").write_text(json.dumps({"runs": runs, "summary": summary}, indent=1))
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
