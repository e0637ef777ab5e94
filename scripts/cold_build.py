"""What a one-shot engine process pays: the session start and the first
(cold) cascade build, with a warm build and a resume for scale.

    python scripts/cold_build.py --workload cascade_dense --seed 1 --runs 3
    python scripts/cold_build.py --workload cascade_dense --seed 1 --runs 3 --n-docs 4000000

Each run is a fresh Python process. It writes the workload's seeded inputs
(``--n-docs`` replaces the workload's doc count; its time squeeze stays),
starts the session ``perfbench/run.py`` starts (``prepare_environment`` and
``start_session``), then runs ``perfbench.cascade.Iteration`` phases, each
on a fresh base dir: a cold build (what ``run_job.py`` pays after its
session start), a warm build, and a resume of the warm build. Times are wall
and CPU seconds of the process tree (the run's Python process, its JVM and
the JVM's Python workers), as in ``perfbench``; the ``*_jit_s`` figures are
the seconds the JVM's JIT compilers ran in each span (``CompilationMXBean``,
summed over compiler threads). ``archive`` says how the run's JVM used the
class-data archive ``tods_spark.session.get_spark`` keeps: ``write`` (none
existed: it records the classes it loads, and one is written from them at
exit), ``read`` (it mapped one) or ``none``.
Nothing is checked here: ``perfbench/run.py`` checks the same builds.

To compare two versions of the program, run this script from each checkout,
alternating. Prints one JSON line per run, then one line of medians.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.run import WORKLOADS  # noqa: E402

FIGURES = ("setup_s", "setup_cpu_s", "cold_s", "cold_cpu_s", "warm_cpu_s",
           "resume_cpu_s", "setup_jit_s", "cold_jit_s", "warm_jit_s",
           "resume_jit_s")


def jit_s(spark) -> float:
    """Seconds the JVM's JIT compilers have run so far."""
    jvm = spark.sparkContext._jvm
    return jvm.java.lang.management.ManagementFactory.getCompilationMXBean(
    ).getTotalCompilationTime() / 1e3


def archive_use(spark) -> str:
    """"write", "read" or "none": see the module docstring."""
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
                .getInputArguments())
    if any(a.startswith("-XX:DumpLoadedClassList=") for a in args):
        return "write"
    shared = [a.split("=", 1)[1] for a in args if a.startswith("-XX:SharedArchiveFile=")]
    with open(f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/maps") as f:
        return "read" if shared and shared[0] in f.read() else "none"


def one_run(workload: str, seed: int, n_docs: int | None) -> dict:
    """The figures of one run, in this process."""
    from perfbench import cascade as C, host
    from perfbench.inputs import TokenInputs
    from perfbench.run import prepare_environment, start_session, stop_jvm

    work = os.path.join(ROOT, ".perfbench_work", f"cold-{os.getpid()}")
    env = prepare_environment(work)
    cfg = WORKLOADS[workload]
    try:
        paths = TokenInputs(n_docs or cfg["n_docs"], seed, cfg["squeeze"]).store(f"{work}/in")
        start = host.mark()
        c0, t0 = host.tree_cpu_s(os.getpid()), time.perf_counter()
        spark = start_session(work)
        out = {"setup_s": time.perf_counter() - t0,
               "setup_cpu_s": host.tree_cpu_s(os.getpid()) - c0}
        jit = [jit_s(spark)]
        archive = archive_use(spark)
        cold = C.Iteration(spark, *paths, f"{work}/cold")
        cold.build()
        jit.append(jit_s(spark))
        warm = C.Iteration(spark, *paths, f"{work}/warm")
        warm.build()
        jit.append(jit_s(spark))
        warm.resume()
        jit.append(jit_s(spark))
        out.update(cold_s=cold.seconds["build"], cold_cpu_s=cold.cpu_seconds["build"],
                   warm_cpu_s=warm.cpu_seconds["build"],
                   resume_cpu_s=warm.cpu_seconds["resume"], setup_jit_s=jit[0],
                   cold_jit_s=jit[1] - jit[0], warm_jit_s=jit[2] - jit[1],
                   resume_jit_s=jit[3] - jit[2])
        out = {k: round(v, 3) for k, v in out.items()}
        out.update(archive=archive, heap_mb=env["heap_mb"],
                   external_busy_cpus=host.since(start)["external_busy_cpus"])
        return out
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # when no other run uses it
        except OSError:
            pass


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--n-docs", type=int, help="docs in place of the workload's")
    ap.add_argument("--one", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.one:
        print(json.dumps(one_run(args.workload, args.seed, args.n_docs)))
        return
    cmd = [sys.executable, os.path.abspath(__file__), "--one",
           "--workload", args.workload, "--seed", str(args.seed)]
    if args.n_docs:
        cmd += ["--n-docs", str(args.n_docs)]
    runs = []
    for k in range(args.runs):
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"run {k} exited {out.returncode}:\n{out.stderr[-2000:]}")
        runs.append(json.loads(out.stdout.splitlines()[-1]))
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "n_docs": args.n_docs, "run": k, **runs[-1]}), flush=True)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "n_docs": args.n_docs, "runs": len(runs), "median": {
                          f: round(statistics.median(r[f] for r in runs), 3)
                          for f in FIGURES}}))


if __name__ == "__main__":
    main()
