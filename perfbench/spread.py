#!/usr/bin/env python3
"""Run one workload once per seed and report, for every metric, the median
and the inter-quartile spread as a share of it (statistics.quantiles, n=4),
next to the bound BENCHMARK.json gives it.

    python3 perfbench/spread.py --workload ingest --seeds 1 2 3 4 5 \
        [--trace 0|1] [--out results.jsonl]

Runs are sequential and untouched by this script; with --out every result
line is also appended to a file, one JSON object per run.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

import stats

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--out")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = spec["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        result = json.loads(lines[-1])
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"seed": seed, "wall_s": wall,
                                    "diagnostics": json.loads(lines[-2]),
                                    **result}) + "\n")
        print(f"seed {seed}: {wall:.1f} s, correct={result['correct']}",
              flush=True)
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])

    for k, v in values.items():
        med = statistics.median(v)
        sp = stats.spread(v) if len(v) > 1 and med else float("nan")
        bound = bounds.get(k)
        note = "" if bound is None else f"  bound {bound}  ratio {sp / bound:.2f}"
        print(f"{k:30s} median {med:12.4f}  spread {sp:7.4f}{note}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
