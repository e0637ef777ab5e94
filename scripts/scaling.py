"""Throughput scaling of the warm cascade build from 1 CPU to every CPU this
process may use (n of them).

    python scripts/scaling.py --workload cascade_sparse --pairs 3 --seed 1

A pair runs ``perfbench/run.py --workload W --seed S --seconds 20 --trace 0``
twice, each in a fresh process: once pinned to one CPU and once to all n;
the side that runs first alternates from pair to pair. ``perfbench.host``
sizes each session from the affinity the run inherits, so the pinned run is
local[1]. Both sides build the same seed, hence the same rows, and the pair's
efficiency is build_s(1) / (n × build_s(n)), from each run's median warm
build wall time.

Prints one JSON line per run (its CPUs, build_s, the CPUs other processes
used meanwhile and its failed checks), then one line with the per-pair
efficiencies, their median and n.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.run import WORKLOADS  # noqa: E402


def run(workload: str, seed: int, cpus: set[int]) -> dict:
    """One benchmark run pinned to ``cpus``: its host and result figures."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "20", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True,
        preexec_fn=lambda: os.sched_setaffinity(0, cpus))
    lines = [json.loads(s) for s in out.stdout.splitlines() if s.startswith("{")]
    env = next((d["perfbench"] for d in lines if "perfbench" in d), None)
    if env is None:
        sys.exit(f"perfbench/run.py exited {out.returncode}:\n{out.stderr[-2000:]}")
    return {"nproc": env["nproc"], "build_s": env["wall_s"]["build_s"],
            "external_busy_cpus": env["host"]["external_busy_cpus"],
            "failed": lines[-1]["failed"]}


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    every = sorted(os.sched_getaffinity(0))
    n = len(every)
    sides = {1: {every[0]}, n: set(every)}
    effs = []
    for pair in range(args.pairs):
        build = {}
        for k in ((1, n) if pair % 2 == 0 else (n, 1)):
            rec = run(args.workload, args.seed, sides[k])
            build[k] = rec["build_s"]
            print(json.dumps({"workload": args.workload, "seed": args.seed,
                              "pair": pair, "cpus": k, **rec}), flush=True)
        effs.append(build[1] / (n * build[n]))
    print(json.dumps({"workload": args.workload, "seed": args.seed, "n": n,
                      "efficiency": [round(e, 3) for e in effs],
                      "median": round(statistics.median(effs), 3)}))


if __name__ == "__main__":
    main()
