#!/usr/bin/env python3
"""Run one workload over a list of seeds and report run-to-run spread.

    python3 kgbench/spread.py --workload kg_build --seeds 1-10

Each seed is one `run.py` process, run one after another. For every
end-to-end metric it prints the median over the runs and the
inter-quartile range as a share of that median (statistics.quantiles,
n=4), next to the metric's bound in BENCHMARK.json. Each run's record —
per-job times (to check the warm-up knee) and host conditions (nproc,
loadavg, steal share) — is printed and appended to
.kgbench/spread/<workload>.jsonl.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def parse_seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (Q3 - Q1) / median)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,7")
    args = ap.parse_args(argv)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    log = ROOT / ".kgbench" / "spread" / f"{args.workload}.jsonl"
    log.parent.mkdir(parents=True, exist_ok=True)

    runs = []
    for seed in parse_seeds(args.seeds):
        cmd = [sys.executable, str(HERE / "run.py"), "--workload",
               args.workload, "--seed", str(seed), "--seconds", str(seconds),
               "--trace", "0"]
        t = time.perf_counter()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                           timeout=600)
        wall = time.perf_counter() - t
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}",
                  file=sys.stderr)
            return 1
        record, result = json.loads(lines[-2]), json.loads(lines[-1])
        record["wall_s"] = wall
        runs.append((record, result))
        with log.open("a") as f:
            f.write(json.dumps({"record": record, "result": result}) + "\n")
        h = record["host"]
        print(f"seed {seed}: wall {wall:.1f}s correct={result['correct']} "
              f"jobs={record['job_times_s']} load={h['loadavg_before']:.2f}"
              f"->{h['loadavg_after']:.2f} steal={h['steal_frac']:.4f}")

    print(f"\n{args.workload}: {len(runs)} runs, seconds={seconds}")
    print(f"{'metric':<34}{'median':>14}{'iqr/med':>10}{'bound':>8}")
    for name in runs[0][1]["metrics"]:
        vals = [r["metrics"][name]["value"] for _, r in runs]
        med, iqr = spread(vals)
        b = bounds.get(name)
        flag = "" if b is None else ("ok" if iqr <= b / 3 else
                                     "within bound" if iqr <= b else "WIDE")
        print(f"{name:<34}{med:>14.6g}{iqr:>10.4f}"
              f"{'' if b is None else b:>8} {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
