"""Two-parallelism scaling bench, LOAD-GATED paired protocol (v3).

The identical rollup-cascade job over the same parquet token table at two
parallelism levels (default local[2] vs local[8]); both JVMs stay alive
for the whole session and timed runs ALTERNATE between them. v3 adds the
three defenses the round-5 record showed are needed on this multi-tenant
host (BENCH/BASELINE.md sessions H/I/J/K: alternating external bursts,
per-pair efficiencies 0.14-1.9):

  1. LOAD GATE (delay, never skip): before every timed run, poll
     (a) load1 and (b) directly-measured external busy cores over a short
     /proc/stat window, and sleep until BOTH are under threshold or a
     per-run wait budget expires (then run anyway, gated=false logged).
     loadavg alone lags ~1 min behind reality; the jiffies probe doesn't.
  2. EXTERNAL-CPU MEASUREMENT PER RUN: around each timed run, walk
     /proc/*/stat and sum utime+stime of every process that is neither a
     descendant of this bench nor a kernel thread (PF_KTHREAD). The delta
     over the run's wall time = external busy cores DURING the run — an
     objective contamination signal, independent of the run's own speed.
     A pair where either run saw > EXT_CONTAM external cores is logged
     with contaminated=true and re-run after re-gating (bounded retry
     budget; every attempt stays in the JSONL — nothing is dropped on
     the basis of the efficiency value itself).
     Known approximation: jiffies of external processes that EXIT inside
     the window are missed; short-lived bursts therefore under-count, so
     the gate threshold is set low (1.5 cores on a 32-core box).
  3. CPU AFFINITY: each worker JVM is pinned (sched_setaffinity via
     taskset) to exactly its advertised core count on disjoint core sets.
     Unpinned local[k] leaks past k cores (GC/compile threads, python
     workers), inflating the lo side and depressing measured efficiency;
     pinning makes "N vs 4N cores" mean N vs 4N CPUs — the cluster
     semantics the north rule describes — and external runnables are
     preferentially scheduled onto the 22+ idle cores.

v4 (round 6, after session B's ramp analysis) adds two refinements:
  4. PLATEAU WARM-UP: warm runs repeat until the latest uncontaminated
     run is within 15% of the best-so-far (min 2 runs) — session B
     showed the JIT/arena ramp spans several runs (hi side 53k -> 190k
     pts/s across pairs 0-3 after one "clean" warm-up), leaking ramp
     pairs into the median.
  5. os.sync() inside every (untimed) gate window, so the previous
     run's parquet/shuffle writeback never bleeds into the next timed
     run.

v5 (round 6, after session C's Amdahl + /proc/stat attribution) makes
the timed job measure the ENGINE, not the harness, and adds the
convoy-free estimator:
  6. PRE-REPLICATED INPUT: the R time-shifted replicas are unioned and
     written ONCE in untimed setup. v2-v4 rebuilt the R-branch union
     inside every timed run; Catalyst re-optimizing that tree plus the
     driver-side job setup it multiplies measured ~22 s serial per run
     (Amdahl fit over session C's convoy-free runs: s=22 s, p=208 s),
     which alone caps 2->8 efficiency at ~0.66-0.79 regardless of the
     engine's plan. Replication also defaults 8 -> 16 so the remaining
     serial amortizes.
  7. BEST-OF-N PER SIDE PER PAIR (default 2, alternating lo/hi): the
     box's kernel stochastically injects sys-dominated convoy phases
     into high-thread runs with measured-ZERO external CPU
     (/proc/stat during session C: sys 21%+14% of 32 cores while user
     drops to 4-10%; the same run otherwise ~7.6 user cores). Convoys
     only ADD time, so the per-side minimum is the convoy-free
     estimator — the best-of-3 discipline bench.py has used since
     round 5. All raw runs are logged.

Methodology otherwise unchanged from v2 (recorded in BENCH/BASELINE.md):
  * input is a parquet table generated ONCE (untimed); the timed job is
    scan -> 1m rollup (map-side partial digests — the engine default)
    -> 1h -> 1d -> gap-fill -> Gorilla pack;
  * warm-up runs per JVM repeat until one completes on a quiet window
    (round-5 session H showed a single warm-up can leave the hi JVM
    cold-ramped for two more pairs);
  * pair order alternates to cancel linear host drift;
  * the idle JVM blocks on stdin (no CPU) while its partner runs.

v6 (round 7) — estimator hardening + serial reduction:
  8. SUPERLINEAR-INVALID: a pair with efficiency > 1.15 is contamination
     EVIDENCE (the lo side was interference-slowed), invalid for passing
     and failing; invalid pairs never enter the clean set even when the
     retry budget runs out, and best/median/pass are over clean pairs
     only (r6 session E's lone 1.746 pair drove pass_best).
  9. TWO-SIDED PLATEAU: warm-up ends only when the latest run is within
     15% of best BOTH ways (a convoy-slowed run is not a plateau).
 10. OVERLAPPED POST-1m BRANCHES in the timed job: 1h->1d, gap-fill and
     pack depend only on the stored 1m tier and run from a 3-thread pool
     — the r7 kernel vectorization cut the parallel section ~4x, so the
     sequential form's ~15 s of per-run driver serial (Amdahl, session
     A) capped efficiency at ~0.66; overlapping is the guide's
     "overlap independent jobs" and the engine's refresh fan-out
     posture. lo/hi run the identical job, so the ratio stays apples to
     apples; absolute seconds are not comparable to v5 sessions.

Every JSON record this script prints carries ``"wl": WORKLOAD_VERSION``
(currently v6.1: the v6 job with the 1m count in the worker pool), so
BENCH/*.jsonl records of different timed-job shapes can be told apart;
absolute seconds compare only within one ``wl``.

Summary reports BOTH medians: over protocol (clean) pairs and over all
executed attempts, plus the full gate/contamination trace.

Usage: python scripts/bench_scaling.py [n_docs] [pairs] [replication]
                                       [lo] [hi] [runs_per_side]
Defaults: 2_000_000 docs, 4 pairs, 16x replication, local[2] vs
local[8], best-of-2 per side.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

LOAD1_GATE = 3.0      # verdict-prescribed: delay until load1 < 3
EXT_GATE = 1.5        # external busy cores allowed at run start
EXT_CONTAM = 1.5      # external busy cores during a run => contaminated
GATE_WAIT_MAX = 900.0  # per-run gate budget (seconds); then run anyway
SETTLE_MIN = 45.0      # minimum inter-run settle (v4: see _gate docstring)
MAX_RETRIES = 10       # extra pair attempts allowed session-wide
SUPERLINEAR_INVALID = 1.15  # eff above this is contamination evidence
WORKLOAD_VERSION = "v6.1"  # bump whenever the timed job changes shape
PF_KTHREAD = 0x00200000
HZ = os.sysconf("SC_CLK_TCK")

# the checkout the setup and worker sessions import tods_spark from; it
# goes on their PYTHONPATH, which their Python workers inherit (a worker
# that unpickles a tods_spark UDF imports it too)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SETUP = r"""
import sys
from pyspark.sql import functions as F
from tods_spark.session import get_spark
from tods_spark.datagen import token_table
spark = get_spark(app_name="scaling_setup")
# v5: the R time-shifted replicas are UNIONED AND WRITTEN HERE, once,
# untimed. v2-v4 built the union inside every timed run, and the Amdahl
# fit over session C's convoy-free runs showed ~22 s of per-run serial
# time — dominated by Catalyst re-optimizing the R-branch union tree and
# the driver-side job setup it multiplies — which alone caps 2->8
# efficiency at (s+p/2)/(s+p/8)/4 ~ 0.66-0.79. The timed job must measure
# the ENGINE's cascade over a real table, not the harness's input
# synthesis. Windows don't collide across the 24h-shifted copies, so
# compute still scales linearly with R.
base = token_table(spark, int(sys.argv[2]), cadence_s=1)
rep = int(sys.argv[3])
parts = [base] + [
    base.withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {k*24} DAYS"))
    for k in range(1, rep)
]
raw = parts[0]
for p_ in parts[1:]:
    raw = raw.unionByName(p_)
raw.write.mode("overwrite").parquet(sys.argv[1])
"""

WORKER = r"""
import json, sys, time
import os, tempfile
from pyspark.sql import functions as F
from tods_spark.session import get_spark
from tods_spark.operators.rollup import AGG_COLS, rollup_cascade, rollup_raw
from tods_spark.operators import compression, gapfill

path, cores = sys.argv[1], int(sys.argv[2])
# shuffle_partitions = the engine's standard 32 (tests + driver bench) on
# BOTH sides: identical logical plans, and stages get task-count slack so
# one convoy-hit task doesn't stall a 1-task-per-core stage
spark = get_spark(app_name=f"scaling_{cores}", cores=cores,
                  shuffle_partitions=32)
stage_t = {}


def job():
    # v6 (round 7): the three post-1m branches — the 1h->1d cascade
    # chain, the tumbling gap-fill and the Gorilla pack — depend ONLY on
    # the stored 1m tier, so they are submitted from a small thread pool
    # (optimization guide "overlap independent jobs"): each branch's
    # driver-side planning/setup overlaps the others' execution and the
    # tail of one branch back-fills cores freed by another. This is the
    # engine's production posture for a tier refresh fan-out; the
    # sequential form left ~15 s/run of serial driver time (Amdahl fit
    # over r7 session A: s=14.8) that capped 2->8 efficiency at ~0.66
    # regardless of the plans.
    from concurrent.futures import ThreadPoolExecutor
    raw = spark.read.parquet(path)

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        stage_t[name] = round(time.time() - t0, 2)
        return out

    with tempfile.TemporaryDirectory() as td:
        t1m_path = os.path.join(td, "tier_1m.parquet")
        timed("w1m", lambda: rollup_raw(raw, "1m", with_digest=True)
              .write.mode("overwrite").parquet(t1m_path))
        t1m = spark.read.parquet(t1m_path)
        rows = {}

        # v6.1 (session C instrumentation): the 1m count joins the pool —
        # it reads the stored tier like every other branch — and each
        # branch reports its wall seconds so the Amdahl serial can be
        # attributed to a stage instead of inferred.
        def count_1m():
            rows["1m"] = timed("c1m", t1m.count)

        def cascade_chain():
            def chain():
                t1h = rollup_cascade(t1m, "1m", "1h")
                rows["1h"] = t1h.count()
                rows["1d"] = rollup_cascade(t1h, "1h", "1d").count()
            timed("cascade", chain)

        def gap():
            timed("gap", gapfill.gap_fill_tier(t1m, 60).count)

        def pack():
            def p():
                packed = compression.pack_tier(t1m, value_col="avg_n_tok")
                packed.agg(F.sum("n_points")).collect()
            timed("pack", p)

        with ThreadPoolExecutor(max_workers=4) as pool:
            futs = [pool.submit(f)
                    for f in (count_1m, cascade_chain, gap, pack)]
            for f in futs:
                f.result()
    return sum(rows[t] for t in ("1m", "1h", "1d")) * len(AGG_COLS)


points = job()  # warm-up 1: JVM JIT, python workers, page-fault arena
print(json.dumps({"ready": True, "points": points}), flush=True)
for line in sys.stdin:
    if line.strip() == "quit":
        break
    t0 = time.time()
    stage_t.clear()
    job()
    print(json.dumps({"sec": time.time() - t0, "stages": dict(stage_t)}),
          flush=True)
"""


def _emit(rec: dict) -> None:
    """Print one JSON record tagged with the timed job's version."""
    print(json.dumps({"wl": WORKLOAD_VERSION, **rec}), flush=True)


# ---------------------------------------------------------------- /proc walk

def _proc_table() -> dict[int, tuple[int, int, bool]]:
    """pid -> (ppid, utime+stime jiffies, is_kernel_thread)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                raw = fh.read().decode("ascii", "replace")
        except OSError:
            continue
        # comm may contain spaces/parens: split after the LAST ')'
        rest = raw[raw.rindex(")") + 2:].split()
        # rest[0]=state rest[1]=ppid ... rest[6]=flags rest[11]=utime rest[12]=stime
        out[int(name)] = (int(rest[1]), int(rest[11]) + int(rest[12]),
                          bool(int(rest[6]) & PF_KTHREAD))
    return out


def _external_jiffies() -> int:
    """Sum utime+stime of processes not descended from us and not kernel."""
    table = _proc_table()
    me = os.getpid()
    mine: set[int] = set()

    def is_mine(pid: int) -> bool:
        seen = []
        while pid > 1:
            if pid == me or pid in mine:
                mine.update(seen)
                return True
            seen.append(pid)
            ent = table.get(pid)
            if ent is None:
                return False
            pid = ent[0]
        return False

    total = 0
    for pid, (_, jif, kthread) in table.items():
        if not kthread and not is_mine(pid):
            total += jif
    return total


def _ext_busy_cores(window: float = 1.5) -> float:
    """External (non-ours, non-kernel) busy cores over a short probe window."""
    e0 = _external_jiffies()
    time.sleep(window)
    return max(0.0, (_external_jiffies() - e0) / HZ / window)


def _gate(tag: str) -> dict:
    """Delay (never skip) until load1 < LOAD1_GATE and ext busy < EXT_GATE,
    with a MINIMUM settle of SETTLE_MIN seconds: session B showed runs
    launched immediately after the partner's run (gate passed in 1.5 s
    because load1 had already decayed) ran 1.5-3x slower than runs that
    happened to wait ~60 s — the settle window (plus the sync below)
    drains writeback and lets the allocator/GC quiesce outside the timed
    region."""
    os.sync()  # drain the PREVIOUS run's writeback (parquet + shuffle
    # spill dirty pages) inside the untimed gate window, so background
    # flushing never competes with the next timed run's own I/O
    t0 = time.time()
    while True:
        load1 = os.getloadavg()[0]
        ext = _ext_busy_cores()
        waited = time.time() - t0
        if (waited >= SETTLE_MIN and load1 < LOAD1_GATE
                and ext < EXT_GATE) or waited > GATE_WAIT_MAX:
            return {"gate_load1": round(load1, 2), "gate_ext_cores": round(ext, 2),
                    "gate_waited_s": round(waited, 1),
                    "gated": load1 < LOAD1_GATE and ext < EXT_GATE}
        _emit({"gate_wait": tag, "load1": round(load1, 2),
               "ext_cores": round(ext, 2), "waited_s": round(waited, 1)})
        time.sleep(8.0)


# ---------------------------------------------------------------- workers

def _env() -> dict:
    """This process's environment with the checkout first on PYTHONPATH."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p)
    return env


def _spawn(path: str, cores: int, cpu_list: str) -> subprocess.Popen:
    env = _env()
    # two concurrent pinned JVMs must fit the box (-Xms == -Xmx)
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    cmd = [sys.executable, "-c", WORKER, path, str(cores)]
    # SPARK_SCALING_PIN=0 disables affinity pinning (protocol v2
    # comparability mode: local[k] may leak past k cores via GC/python
    # workers; gate + external-CPU measurement stay active either way)
    if (cpu_list and shutil.which("taskset")
            and os.environ.get("SPARK_SCALING_PIN", "1") != "0"):
        cmd = ["taskset", "-c", cpu_list] + cmd
    return subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                            stderr=subprocess.DEVNULL, text=True, env=env)


def _ready(p: subprocess.Popen) -> int:
    return json.loads(p.stdout.readline())["points"]


def _timed(p: subprocess.Popen, tag: str) -> dict:
    """Gate, run, and measure external CPU during the run."""
    g = _gate(tag)
    e0 = _external_jiffies()
    p.stdin.write("go\n")
    p.stdin.flush()
    rec = json.loads(p.stdout.readline())
    sec = rec["sec"]
    ext_cores = max(0.0, (_external_jiffies() - e0) / HZ / sec)
    out = {"sec": sec, "ext_cores": round(ext_cores, 2), **g}
    if rec.get("stages"):
        out["stages"] = rec["stages"]
    return out


def _warm(p: subprocess.Popen, tag: str, max_tries: int = 6) -> None:
    """Warm until the JVM reaches a throughput PLATEAU, not merely until
    one run completes uncontaminated: round-6 session B showed the JIT /
    arena ramp spans SEVERAL runs (hi side: 53k -> 121k -> 65k -> 190k
    pts/s across pairs 0-3 after a single 'clean' warm-up), so ramp runs
    leak into the timed pairs and sink the median. Plateau = the latest
    run within 15% of the session-best runtime, with at least two runs
    done; contaminated runs never count toward the plateau test."""
    best = None
    for i in range(max_tries):
        r = _timed(p, f"warm_{tag}")
        r["warm"] = tag
        r["try"] = i
        _emit(r)
        if r["ext_cores"] > EXT_CONTAM:
            continue
        # plateau = no further SIGNIFICANT IMPROVEMENT: stop only when the
        # run failed to beat the best by >15% (a run much FASTER than best
        # is still ramping and must keep warming — the original
        # `sec <= best*1.15` test wrongly accepted those too)
        # two-sided band (r7, ADVICE): the latest run must be WITHIN 15%
        # of best — a run much FASTER than best is still ramping, and a
        # run much SLOWER than best (kernel convoy with zero external
        # CPU) is not a plateau either; both keep warming
        if best is not None and best * 0.85 <= r["sec"] <= best * 1.15:
            return
        best = r["sec"] if best is None else min(best, r["sec"])


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    pairs = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    rep = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    lo = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    hi = int(sys.argv[5]) if len(sys.argv) > 5 else 8
    runs = int(sys.argv[6]) if len(sys.argv) > 6 else 2  # per side per pair
    # optional argv[7]: path to an ALREADY-REPLICATED input written by a
    # previous session's SETUP with the same (n_docs, rep) — skips the
    # ~30 min untimed setup; the caller asserts the provenance
    reuse = sys.argv[7] if len(sys.argv) > 7 else None
    factor = hi / lo
    # disjoint pinned core sets; idle JVM is blocked on stdin anyway
    lo_cpus = f"0-{lo - 1}"
    hi_cpus = f"{lo}-{lo + hi - 1}"
    with tempfile.TemporaryDirectory() as td:
        path = reuse or os.path.join(td, "tokens.parquet")
        if not reuse:
            subprocess.run([sys.executable, "-c", SETUP, path, str(n_docs),
                            str(rep)],
                           check=True, capture_output=True, text=True,
                           env=_env())
        p_lo = _spawn(path, lo, lo_cpus)
        p_hi = _spawn(path, hi, hi_cpus)
        points = _ready(p_lo)
        assert _ready(p_hi) == points
        _warm(p_lo, "lo")
        _warm(p_hi, "hi")
        clean: list[dict] = []
        attempts: list[dict] = []
        retries = 0
        i = 0
        while len(clean) < pairs and len(attempts) < pairs + MAX_RETRIES:
            # v5: `runs` settled runs per side, alternating lo/hi (cancels
            # linear host drift), per-side BEST-OF. The kernel's stochastic
            # sys-time convoys (BENCH/BASELINE.md round 6: sys >> user
            # phases with measured-zero external CPU) only ever ADD time,
            # so the per-side minimum is the convoy-free estimator — the
            # same best-of-N discipline bench.py has used since round 5.
            # Every raw run is printed; nothing is dropped.
            rs_lo, rs_hi = [], []
            for k in range(runs):
                order = ((p_lo, f"pair{i}_lo", rs_lo),
                         (p_hi, f"pair{i}_hi", rs_hi))
                for p, tag, acc in (order if (i + k) % 2 == 0
                                    else order[::-1]):
                    r = _timed(p, tag)
                    r["run"] = k
                    _emit({"raw": tag, **r})
                    acc.append(r)
            best_lo = min(rs_lo, key=lambda r: r["sec"])
            best_hi = min(rs_hi, key=lambda r: r["sec"])
            s_lo, s_hi = best_lo["sec"], best_hi["sec"]
            eff = (points / s_hi) / (points / s_lo) / factor
            contaminated = (best_lo["ext_cores"] > EXT_CONTAM
                            or best_hi["ext_cores"] > EXT_CONTAM)
            # superlinear lo->hi is physically impossible on one box: the
            # only way efficiency exceeds ~1 is the LO side being slowed
            # by interference the ext-CPU probe missed. Such a pair is
            # contamination EVIDENCE, not a pass (r6 session E's lone
            # 1.746 pair) — invalid for passing AND failing.
            superlinear = eff > SUPERLINEAR_INVALID
            rec = {
                "pair": i, "sec_lo": round(s_lo, 3), "sec_hi": round(s_hi, 3),
                "pps_lo": round(points / s_lo, 1),
                "pps_hi": round(points / s_hi, 1),
                "efficiency": round(eff, 3),
                "runs_per_side": runs,
                "sec_lo_all": [round(r["sec"], 3) for r in rs_lo],
                "sec_hi_all": [round(r["sec"], 3) for r in rs_hi],
                "load1": round(os.getloadavg()[0], 2),
                "ext_lo": best_lo["ext_cores"], "ext_hi": best_hi["ext_cores"],
                "gated_lo": best_lo["gated"], "gated_hi": best_hi["gated"],
                "gate_waited_lo": best_lo["gate_waited_s"],
                "gate_waited_hi": best_hi["gate_waited_s"],
                "contaminated": contaminated,
                "superlinear_invalid": superlinear,
            }
            attempts.append(rec)
            _emit(rec)
            # r7 (ADVICE): an invalid pair NEVER enters the clean set —
            # previously, once MAX_RETRIES was exhausted, contaminated
            # pairs were appended to `clean` and silently entered the
            # median; now the session instead reports fewer clean pairs
            # than requested (the loop bound caps total attempts)
            if not contaminated and not superlinear:
                clean.append(rec)
            else:
                retries += 1
            i += 1
        for p in (p_lo, p_hi):
            try:
                p.stdin.write("quit\n")
                p.stdin.flush()
            except BrokenPipeError:
                pass
            p.wait(timeout=60)
    effs_clean = [r["efficiency"] for r in clean]
    effs_all = [r["efficiency"] for r in attempts]
    med_clean = (round(statistics.median(effs_clean), 3)
                 if effs_clean else None)
    pinned = os.environ.get("SPARK_SCALING_PIN", "1") != "0"
    summary = {
        "protocol": ("v6 overlapped post-1m branches + superlinear-invalid "
                     "+ clean-only stats + pre-replicated input + "
                     "best-of-N per side + load-gated + ext-CPU-measured "
                     "+ settle + CPU-pinned"
                     if pinned else
                     "v6b same, unpinned"),
        "pinned": pinned, "runs_per_side": runs,
        "n_docs": n_docs, "replication": rep, "pairs": pairs,
        "lo": lo, "hi": hi, "lo_cpus": lo_cpus, "hi_cpus": hi_cpus,
        "rollup_points": points,
        "best_pps_lo": max(r["pps_lo"] for r in attempts),
        "best_pps_hi": max(r["pps_hi"] for r in attempts),
        "attempts": len(attempts), "retries_used": retries,
        # r7 (ADVICE): best/min/median and BOTH pass flags are computed
        # over CLEAN (uncontaminated, non-superlinear) pairs only —
        # external load on the lo side INFLATES a pair's efficiency, so a
        # best-of-all-attempts headline can be driven by exactly the
        # contamination the protocol measures. All-attempt values stay in
        # the record for visibility.
        "efficiency_min": min(effs_clean) if effs_clean else None,
        "efficiency_median": med_clean,
        "efficiency_median_all_attempts": round(statistics.median(effs_all), 3),
        "efficiency_best": max(effs_clean) if effs_clean else None,
        "efficiency_best_all_attempts": max(effs_all),
        "efficiency_clean": effs_clean,
        "efficiency_all": effs_all,
        "clean_pairs": len(clean),
        "superlinear_invalid_pairs": sum(
            1 for r in attempts if r.get("superlinear_invalid")
        ),
        "target": 0.8,
        "pass_best": bool(effs_clean) and max(effs_clean) >= 0.8,
        "pass_median": med_clean is not None and med_clean >= 0.8,
        "load1_per_pair": [r["load1"] for r in attempts],
        "ext_cores_per_pair": [[r["ext_lo"], r["ext_hi"]] for r in attempts],
    }
    _emit(summary)


if __name__ == "__main__":
    main()
