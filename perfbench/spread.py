"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload ingest --seeds 1-10

For every end-to-end metric it prints the median over the runs and the
distance between the first and third quartile as a share of the median
— the figure a benchmark bound is compared with — plus each run's wall
time.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

import stats

HERE = Path(__file__).resolve().parent


def seed_list(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    args = p.parse_args(argv)
    values: dict[str, list[float]] = {}
    walls, ok = [], True
    for seed in seed_list(args.seeds):
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--trace", "0"]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=HERE.parent)
        walls.append(time.perf_counter() - t0)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        ok &= result["correct"]
        summary = dict(
            line.split(": ", 1) for line in proc.stdout.splitlines()[:-1] if ": " in line
        )
        print(f"seed {seed}: {walls[-1]:.1f}s correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} "
              f"setups={summary.get('setups_s')} verify={summary.get('verify_s')} "
              f"ops={summary.get('op_s')}", flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        med = stats.median(vs)
        spread = stats.rel_spread(vs) if len(vs) >= 2 and med else float("nan")
        print(f"{name:42s} median {med:12.4f}  spread {spread:7.4f}  "
              f"min {min(vs):.4f} max {max(vs):.4f}")
    print(f"wall per run: median {stats.median(walls):.1f}s, total {sum(walls):.0f}s, all correct: {ok}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
