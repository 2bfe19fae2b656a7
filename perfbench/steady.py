"""Run the benchmark on several seeds and report, per end-to-end metric, the
median and the spread (first-to-third quartile distance as a share of the
median) next to the metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py --workload col_scan --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import runenv
from stats import median, relative_spread


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()
    with open(os.path.join(runenv.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {}
    walls = []
    for seed in seeds(args.seeds):
        cmd = [*spec["command"], "--workload", args.workload, "--seed", str(seed)]
        cmd += ["--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
        start = time.perf_counter()
        proc = subprocess.run(cmd, cwd=runenv.ROOT, capture_output=True, text=True, timeout=600)
        walls.append(time.perf_counter() - start)
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"seed {seed} wall {walls[-1]:.1f}s", json.dumps(result), flush=True)
        if not result["correct"]:
            return 1
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    print(f"wall per run: median {median(walls):.1f}s max {max(walls):.1f}s")
    for name, vals in values.items():
        line = f"{name:40s} median {median(vals):12.4f}"
        if len(vals) >= 2:
            line += f"  spread {relative_spread(vals):.4f}"
        if name in bounds:
            line += f"  bound {bounds[name]}"
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
