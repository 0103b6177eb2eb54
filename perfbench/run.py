#!/usr/bin/env python3
"""probe_spark's benchmark: one workload per run, every output checked.

    python3 perfbench/run.py --workload interactive|ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout.  Everything the run writes (indexes,
Spark scratch, temp files, the per-read record and span dump) goes under
``.perfbench/`` there.
The workload's inputs come from ``--seed``; its read loop lasts at least
``--seconds`` (and at least workloads.MIN_READS queries).

Earlier stdout lines carry diagnostics; the last line is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, the per-layer ones with ``--trace 1``.
The exit code is non-zero when any output was wrong or any call failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
from pathlib import Path

import procs

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"


def _environment() -> None:
    """Confine the program's files to WORK and size it to this host."""
    tmp = WORK / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)  # what the last run left behind
    for d in (tmp, WORK / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PROBE_SPARK_LOCAL_DIR"] = str(WORK / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the session's own heap settings: a fixed 1g heap made set-up 10-35%
    # slower in paired runs.  No JVM perf file in the host's /tmp; every
    # job of a run kept in the status store; no console progress bar
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-XX:-UsePerfData '
        f'-Djava.io.tmpdir={tmp}" '
        "--conf spark.ui.retainedJobs=100000 "
        "--conf spark.ui.retainedStages=100000 "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    sys.path.insert(0, str(ROOT))


def main() -> int:
    """Run the workload; every process it started has ended on return."""
    procs.adopt_orphans()
    # a run stopped from outside still stops what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run()
    finally:
        procs.reap()


def _run() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("interactive", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    if not (ROOT / "probe_spark" / "engine.py").is_file():
        print(f"perfbench: no probe_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    _environment()

    from bench import _steal_probe_ms

    import cache
    import workloads

    cache.ensure(ROOT, WORK)  # once per checkout, in a child process
    host_probe_ms = _steal_probe_ms()
    client = workloads.Client(bool(args.trace), WORK)
    try:
        setup_s, phase_s, memory, named = workloads.WORKLOADS[args.workload](
            client, ROOT, args.seed, args.seconds)
        e2e = client.end_to_end(setup_s, phase_s, memory)
        metrics = client.per_layer() if args.trace else e2e
    finally:
        client.close()

    with open(WORK / "reads.json", "w") as f:  # per-read record of this run
        json.dump([{k: v for k, v in r.items() if k != "hits"}
                   for r in client.reads], f)
    correct = client.failed == 0
    named.update(
        setup_s=e2e["setup_s"],
        retained_mb=e2e["retained_mb"],
        peak_rss_mb=(memory["peak_rss_mb"], "MB"),
        failed_frac=(client.failed / max(client.attempted, 1), "ratio"),
    )
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "host_probe_ms": host_probe_ms,
        **({"jobs_outside_reads": client.jobs_outside_reads}
           if args.trace else {}),
    }))
    print(json.dumps({
        "correct": correct,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
