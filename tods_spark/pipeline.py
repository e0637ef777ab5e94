"""End-to-end engine driver: the deployable job that ties the pieces
together (what `spark-submit --py-files tods_spark.zip run_job.py` executes
on a cluster).

    raw token table
      → (optional) timestamp dedup               operators/validation
      → 1m rollup (algebraic + digest)           operators/rollup
        + Gorilla pack of the same days          operators/compression
      → 1h, 1d (optional 1w) cascade             operators/rollup
      each tier: checkpointed partition write    plans/checkpoint, sources/storage
      → (optional) small-file compaction         sources/storage
      → (optional) retention expiry per tier     plans/retention
        (the pack expires with the 1m tier)

Every tier is written by `plans.checkpoint.run_tier`, the one place that
maps input partitions to output partitions: an input day feeds the output
partition that starts its epoch-aligned tier window (the day itself up to
1d, the week's Thursday for 1w), and an output partition is always
recomputed from all its member days. Every stage is resumable: re-running
`run_engine` after a crash skips completed (tier, partition) pairs via the
checkpoint log and converges to identical bytes (dynamic partition
overwrite); a week that gained days since it was written is rebuilt, and
a partition whose write committed before the crash is finished, not
recomputed. The pack is written inside the 1m stage, before the 1m
checkpoint marks, so a 1m partition and its packed day commit together.
A resume pays for the partitions still to do: the raw partition set costs
one count, each cascade tier lists the directory of the tier below, and a
tier with nothing to do opens no table. `refresh_engine` is the late-data
half: the same 1m run_tier over the late batch, merging it into the
stored 1m rows of its days, then the same upward cascade.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import SparkSession, functions as F

from tods_spark.operators import compression
from tods_spark.operators.rollup import refresh_tier, rollup_cascade, rollup_raw
from tods_spark.plans.checkpoint import CheckpointLog, run_tier
from tods_spark.plans.retention import (DEFAULT_HORIZON_DAYS, check_horizons,
                                        expire_partitions)
from tods_spark.sources.storage import PartitionedTable

CASCADE = (("1m", "1h"), ("1h", "1d"), ("1d", "1w"))


def pack_days(packed_table: PartitionedTable, t1m, keys) -> None:
    """Gorilla-pack the 1m rows in `t1m` into the day partitions of
    `packed_table` (one blob per key and day), replacing those days."""
    packed = compression.pack_tier(t1m, value_col="avg_n_tok", keys=keys).withColumn(
        "part_key", F.date_format("chunk_start", "yyyy-MM-dd")
    )
    packed_table.overwrite_partitions(packed)


def _rows_only(fn, **kwargs):
    """A run_tier compute from a tier function of the input rows alone."""
    return lambda rows, _days: fn(rows, **kwargs)


def _cascade_up(spark, base_dir, ckpt, job_id, keys, with_weekly,
                **run_args):
    """The upward cascade 1m → 1h → 1d (→ 1w): one run_tier per tier over
    the table of the tier below. Yields (tier, table, run_tier report)."""
    below = PartitionedTable(spark, f"{base_dir}/tier_1m", ["part_key"])
    for lo, hi in (CASCADE if with_weekly else CASCADE[:2]):
        table = PartitionedTable(spark, f"{base_dir}/tier_{hi}", ["part_key"])
        compute = _rows_only(rollup_cascade, from_tier=lo, to_tier=hi,
                             keys=keys)
        yield hi, table, run_tier(spark, below, compute, table, ckpt, job_id,
                                  hi, in_ts_col="window_start", **run_args)
        below = table


def run_engine(
    spark: SparkSession,
    raw_df,
    base_dir: str,
    job_id: str = "rollup",
    keys: tuple[str, ...] = ("source",),
    value_col: str = "n_tok",
    with_digest: bool = True,
    horizons: dict | None = None,
    now: datetime | None = None,
    pack: bool = True,
    dedup: str | None = None,
    verify_resume: bool = False,
    compact: bool = False,
    with_weekly: bool = False,
) -> dict:
    """Run the full cascade with checkpointed writes; returns per-tier
    stats {tier: {"computed": [...], "recovered": [...], "skipped": [...],
    "drifted": [...], "rows_out": n}} (run_tier's report).

    dedup: None | 'first' | 'average' — drop duplicate timestamps per key
    before the rollup (DuplicationValidation semantics, the F0 generator
    plants duplicate ts on every 97th doc).

    horizons: {tier: days or None} over the tiers of
    retention.DEFAULT_HORIZON_DAYS (which it replaces when given; a tier it
    leaves out never expires); a bad tier or value raises ValueError before
    any Spark job."""
    horizons = horizons or DEFAULT_HORIZON_DAYS
    check_horizons(horizons)
    ckpt = CheckpointLog(f"{base_dir}/checkpoint.jsonl")
    report: dict = {}

    if dedup is not None:
        from tods_spark.operators.validation import dedup_timestamps

        raw_df = dedup_timestamps(
            raw_df, ts_col="ts", keep=dedup,
            value_cols=(value_col,) if dedup == "average" else (),
            keys=keys, order_col="doc_id",
        )

    raw_to_1m = _rows_only(rollup_raw, tier="1m", value_col=value_col,
                           keys=keys, with_digest=with_digest)
    t1m_table = PartitionedTable(spark, f"{base_dir}/tier_1m", ["part_key"])
    packed_table = PartitionedTable(spark, f"{base_dir}/tier_1m_gorilla",
                                    ["part_key"])
    report["1m"] = run_tier(
        spark, raw_df, raw_to_1m, t1m_table, ckpt, job_id, "1m", in_ts_col="ts",
        verify_resume=verify_resume,
        also_write=(lambda t1m: pack_days(packed_table, t1m, keys)) if pack
        else None,
    )

    tier_tables = [("1m", t1m_table)]
    for tier, table, rep in _cascade_up(spark, base_dir, ckpt, job_id, keys,
                                        with_weekly,
                                        verify_resume=verify_resume):
        report[tier] = rep
        tier_tables.append((tier, table))

    if compact:
        # maintenance pass: merge per-run small files tier by tier (no-op
        # for partitions already at <=2 files)
        for tier, table in tier_tables:
            done = table.compact()
            report.setdefault("compacted", {})[tier] = done

    if now is not None:
        for tier, table in tier_tables:
            dropped = expire_partitions(
                table, tier, now, horizons.get(tier), ckpt, job_id=job_id
            )
            report.setdefault("expired", {})[tier] = dropped
        # the pack is a copy of the 1m tier: same horizon, and no records
        # (it keeps none of its own)
        expire_partitions(packed_table, "1m", now, horizons.get("1m"))
    return report


def refresh_engine(
    spark: SparkSession,
    late_df,
    base_dir: str,
    job_id: str = "refresh",
    keys: tuple[str, ...] = ("source",),
    value_col: str = "n_tok",
    with_weekly: bool = False,
) -> dict:
    """Late-data refresh of an existing tier-table tree (the invalidation
    half of the continuous-aggregate lifecycle; `run_engine` is the build
    half). The 1m stage is one run_tier over the late batch: each late day
    is rewritten as `rollup.refresh_tier` of its stored 1m rows and its
    late rows (digests merged) and repacked. The same upward cascade as
    `run_engine` follows, restricted to the output partitions the late
    days feed: each affected 1h/1d day and (with_weekly) epoch-week is
    recomputed from all its member days and marked once.

    Cost model at 10^12 rows: late-batch aggregate (late-sized shuffle)
    + per-affected-partition rewrites — the stored 1m tier is read
    through `read(days=late days)`, which lists and opens only those
    directories, and the unaffected history is never rewritten.

    Delivery contract: the merge is incremental, so a batch must be
    applied AT MOST ONCE per day (re-merging double-counts — unlike
    run_engine's recompute-from-raw). run_tier's commit rule gives that
    per job_id: a day marked done is skipped, and a day whose latest
    tier_1m overwrite is this job's commit (a run that crashed after the
    write returned) is finished from the written bytes and reported as
    recovered, never merged again — so retrying a crashed refresh is safe
    at any point. A batch under a job_id that merged some of its days
    merges only the others. Re-delivering a batch under a NEW job_id is
    the caller's bug (the offset-commit discipline of any log consumer);
    re-delivery within a stream is handled by streaming.streaming_dedup.

    Returns {tier: {"refreshed": [part_keys], "rows_out": n}} (refreshed =
    computed + recovered partitions); the 1m entry adds "merged": whether
    this run merged any day.
    """
    ckpt = CheckpointLog(f"{base_dir}/checkpoint.jsonl")
    t1m_table = PartitionedTable(spark, f"{base_dir}/tier_1m", ["part_key"])
    packed_table = PartitionedTable(spark, f"{base_dir}/tier_1m_gorilla",
                                    ["part_key"])

    def merge_late(late_rows, days):
        stored = t1m_table.read(days=days)
        return refresh_tier(stored.drop("part_key"), late_rows, "1m",
                            value_col=value_col, keys=keys)

    rep = run_tier(
        spark, late_df, merge_late, t1m_table, ckpt, job_id, "1m",
        in_ts_col="ts",
        also_write=(lambda t1m: pack_days(packed_table, t1m, keys))
        if packed_table.exists() else None,
    )
    report = {"1m": {"refreshed": rep["computed"] + rep["recovered"],
                     "rows_out": rep["rows_out"],
                     "merged": bool(rep["computed"])}}
    late_days = rep["computed"] + rep["recovered"] + rep["skipped"]
    for tier, _table, up in _cascade_up(spark, base_dir, ckpt, job_id, keys,
                                        with_weekly, changed=late_days):
        report[tier] = {"refreshed": up["computed"] + up["recovered"],
                        "rows_out": up["rows_out"]}
    return report
