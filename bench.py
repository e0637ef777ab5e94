"""Benchmark harness (driver contract): the token cascade and the query suite
of ``perfbench``, at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (all CPUs when unset). Prints ONE JSON line:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ..., "n_docs": ...,
     "rollup_points": ..., "rollup_points_per_sec": ..., "cpus": ...}

``token_cascade`` is the wall time of a ``perfbench.cascade.Iteration``
build: ``pipeline.run_engine`` raw → 1m → 1h → 1d with digests, the Gorilla
pack and the checkpoint writes, over the seed-42 token table of 4M docs per
sf unit (``perfbench.inputs.TokenInputs``). Gap-fill is not part of it;
``gap_fill_linear`` and perfbench's serve phase time it. The queries are
``perfbench.suite``'s, each timed as its DataFrame construction plus its
``noop`` write. Every figure is the minimum of three runs after one untimed
run; builds run on fresh base directories.

``value`` and ``token_cascade`` cannot be compared with BENCH_r0*.json: those
timed a hand-chained rollup with no checkpoints and with a gap-fill, and
ended each query in ``count()``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench import suite  # noqa: E402
from perfbench.cascade import Iteration  # noqa: E402
from perfbench.inputs import TokenInputs  # noqa: E402
from tods_spark.operators.rollup import AGG_COLS  # noqa: E402
from tods_spark.session import get_spark  # noqa: E402

# docs per sf unit: sf0.1 → 400k docs, sf0.01 → 40k
DOCS_PER_SF = 4_000_000
SEED = 42
REPEATS = 3


def time_cascade(spark, n_docs: int, root: str) -> tuple[float, int]:
    """(best build wall of REPEATS after an untimed one, rollup points)."""
    paths = TokenInputs(n_docs, SEED, 1).store(f"{root}/in")
    walls = []
    for k in range(REPEATS + 1):
        it = Iteration(spark, *paths, f"{root}/build{k}")
        it.build()
        walls.append(it.seconds["build"])
        shutil.rmtree(it.base, ignore_errors=True)
    return min(walls[1:]), sum(it.rows.values()) * len(AGG_COLS)


def time_queries(spark, sf_dir: str) -> dict[str, float]:
    """Best build + action seconds of each suite query over REPEATS passes
    after an untimed one."""
    suite.run(spark, sf_dir)
    best: dict[str, float] = {}
    for _ in range(REPEATS):
        times, rows = suite.run(spark, sf_dir)
        for name in suite.NAMES:
            assert rows[name] > 0, name
            sec = times[f"query.{name}.build_s"] + times[f"query.{name}.action_s"]
            best[name] = min(sec, best.get(name, sec))
    return best


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    n_docs = int(DOCS_PER_SF * sf)

    spark = get_spark(app_name="tods_spark_bench")
    with tempfile.TemporaryDirectory() as root:
        cascade_sec, points = time_cascade(spark, n_docs, root)
    timings = {"token_cascade": round(cascade_sec, 3)}
    timings.update((k, round(v, 3)) for k, v in time_queries(spark, sf_dir).items())
    print(
        json.dumps(
            {
                "metric": "headline suite wall time (token cascade build + query suite)",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "n_docs": n_docs,
                "rollup_points": points,
                "rollup_points_per_sec": round(points / cascade_sec, 1),
                "cpus": spark.sparkContext.defaultParallelism,
            }
        )
    )


if __name__ == "__main__":
    main()
