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

Every tier is written by `plans.checkpoint.run_tier`, the one place that
maps input partitions to output partitions: an input day feeds the output
partition that starts its epoch-aligned tier window (the day itself up to
1d, the week's Thursday for 1w), and an output partition is always
recomputed from all its member days. Every stage is resumable: re-running
`run_engine` after a crash skips completed (tier, partition) pairs via the
checkpoint log and converges to identical bytes (dynamic partition
overwrite); a week that gained days since it was written is rebuilt. The
pack is written inside the 1m stage, before the 1m checkpoint marks, so a
1m partition and its packed day commit together. A resume pays for the
partitions still to do: the raw partition set costs one count, each
cascade tier lists the directory of the tier below, and a tier with
nothing to do opens no table. `refresh_engine` is the late-data half: it
merges a late batch into the affected 1m days, repacks them and runs the
same upward cascade over the output partitions those days feed.
"""

from __future__ import annotations

from datetime import datetime
from functools import partial

from pyspark.sql import SparkSession, functions as F

from tods_spark.operators import compression
from tods_spark.operators.rollup import (
    rollup_cascade,
    rollup_raw,
    rollup_raw_partial_digest,
)
from tods_spark.plans.checkpoint import CheckpointLog, run_tier
from tods_spark.plans.retention import DEFAULT_HORIZON_DAYS, expire_partitions
from tods_spark.sources.storage import PartitionedTable

CASCADE = (("1m", "1h"), ("1h", "1d"), ("1d", "1w"))


def pack_days(packed_table: PartitionedTable, t1m, keys) -> None:
    """Gorilla-pack the 1m rows in `t1m` into the day partitions of
    `packed_table` (one blob per key and day), replacing those days."""
    packed = compression.pack_tier(t1m, value_col="avg_n_tok", keys=keys).withColumn(
        "part_key", F.date_format("chunk_start", "yyyy-MM-dd")
    )
    packed_table.overwrite_partitions(packed)


def _cascade_up(spark, base_dir, ckpt, job_id, keys, with_weekly,
                **run_args):
    """The upward cascade 1m → 1h → 1d (→ 1w): one run_tier per tier over
    the table of the tier below. Yields (tier, table, run_tier report)."""
    below = PartitionedTable(spark, f"{base_dir}/tier_1m", ["part_key"])
    for lo, hi in (CASCADE if with_weekly else CASCADE[:2]):
        table = PartitionedTable(spark, f"{base_dir}/tier_{hi}", ["part_key"])
        compute = partial(rollup_cascade, from_tier=lo, to_tier=hi, keys=keys)
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
    stats {tier: {"computed": [...], "skipped": [...], "rows_out": n}}.

    dedup: None | 'first' | 'average' — drop duplicate timestamps per key
    before the rollup (DuplicationValidation semantics, the F0 generator
    plants duplicate ts on every 97th doc)."""
    ckpt = CheckpointLog(f"{base_dir}/checkpoint.jsonl")
    horizons = horizons or DEFAULT_HORIZON_DAYS
    report: dict = {}

    if dedup is not None:
        from tods_spark.operators.validation import dedup_timestamps

        raw_df = dedup_timestamps(
            raw_df, ts_col="ts", keep=dedup,
            value_cols=(value_col,) if dedup == "average" else (),
            keys=keys, order_col="doc_id",
        )

    # digests come from map-side partials: O(#batches × windows) digest
    # rows through the raw→1m shuffle, not O(rows) raw values
    raw_to_1m = partial(
        rollup_raw_partial_digest if with_digest else rollup_raw,
        tier="1m", value_col=value_col, keys=keys,
    )
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
    half): merge the late batch into tier_1m incrementally
    (rollup.refresh_tier — untouched tier rows broadcast-only, digests
    merged), repack the affected days, then run the same upward cascade
    as `run_engine`, restricted to the output partitions the affected
    days feed: each affected 1h/1d day and (with_weekly) each affected
    epoch-week is recomputed from all its member days and marked once.

    Cost model at 10^12 rows: late-batch aggregate (late-sized shuffle)
    + per-affected-partition rewrites — the unaffected history is
    never read (partition pruning on part_key) and never rewritten.

    Delivery contract: the MERGE is incremental, so each late batch must
    be applied AT MOST ONCE (re-merging double-counts — unlike
    run_engine's recompute-from-raw, which is naturally idempotent).
    The checkpoint fences this per job_id: the 1m partition overwrite
    commits as ONE Spark job, a batch-level "1m_commit" record is
    appended the moment it returns (r7 — BEFORE the stats read-back job
    that precedes the per-partition marks, closing the window where a
    crash left zero marks and the retry re-merged), and the fence trips
    on EITHER that commit record OR any overlap between this batch's
    dates and the partitions already marked done for (job_id, "1m").
    (A subset fence would re-merge — double-counting — after a crash
    mid-mark-loop.) On a fenced re-run, marks missing for some dates are
    backfilled from a read-back of the written partitions, the days are
    repacked, and the upward cascade resumes like any run_tier: output
    partitions already marked done for this job_id are skipped, the rest
    are derived — so retrying a refresh that crashed at ANY point after
    the 1m write commit is safe. Re-delivering a batch under a NEW job_id
    is the caller's bug, the same offset-commit discipline any
    log-consumer job has. Upstream re-delivery within a stream is already
    handled by streaming.streaming_dedup.

    Returns {tier: {"refreshed": [part_keys], "rows_out": n}} with
    "merged": False on a fenced re-run.
    """
    from tods_spark.operators.rollup import refresh_tier
    from tods_spark.plans.checkpoint import _per_partition_stats

    ckpt = CheckpointLog(f"{base_dir}/checkpoint.jsonl")
    dates = sorted(
        r["d"]
        for r in late_df.select(
            F.date_format("ts", "yyyy-MM-dd").alias("d")
        ).distinct().collect()
    )
    t1m_table = PartitionedTable(spark, f"{base_dir}/tier_1m", ["part_key"])

    def _mark_from_readback(parts, **extra) -> int:
        # fingerprint the WRITTEN bytes (pruned read-back), not a plan
        # recompute: double-precision partials can differ in the last ulp
        # between the stats job and the write job's re-execution, which
        # would make a later verify_resume spuriously demote refreshed
        # partitions as drifted (run_tier uses the same discipline)
        written = t1m_table.read().filter(F.col("part_key").isin(parts))
        stats = _per_partition_stats(written, "part_key")
        total = 0
        for p in parts:
            n, fp = stats.get(p, (0, 0))
            total += n
            ckpt.mark(
                job_id=job_id, tier="1m", partition=p, status="done",
                rows_out=n, fingerprint=fp, refresh=True, **extra,
            )
        return total

    already = ckpt.done_partitions(job_id, "1m")
    committed = ckpt.done_partitions(job_id, "1m_commit")
    if (set(dates) & already) or committed:
        # fenced re-run: the 1m overwrite commits as one Spark job, a
        # batch-level "1m_commit" record is appended the moment it
        # returns, and per-partition marks follow — so EITHER any
        # overlapping mark OR the commit record proves the merge is on
        # disk; re-merging would double-count. Backfill marks lost to a
        # crash after the commit point (whether before the first mark or
        # mid-mark-loop); the repack and upward cascade below resume.
        missing = sorted(set(dates) - already)
        recovered = (
            _mark_from_readback(missing, recovered=True) if missing else 0
        )
        report = {"1m": {"refreshed": missing, "rows_out": recovered,
                         "merged": False}}
    else:
        refreshed = refresh_tier(
            t1m_table.read().drop("part_key"), late_df, "1m",
            value_col=value_col, keys=keys,
        ).withColumn(
            "part_key", F.date_format("window_start", "yyyy-MM-dd")
        ).filter(F.col("part_key").isin(dates))
        t1m_table.overwrite_partitions(refreshed)
        # batch-level write-committed record, appended IMMEDIATELY after
        # the overwrite returns and BEFORE the stats read-back (r7,
        # ADVICE): _mark_from_readback runs a full Spark job first, so a
        # crash inside that window used to leave ZERO marks — the retry
        # saw no overlap and re-merged the already-merged batch. The
        # marker lives under its own tier key ("1m_commit") so
        # done_partitions(job_id, "1m") and the build-path run_tier
        # bookkeeping never see it.
        ckpt.mark(job_id=job_id, tier="1m_commit", partition="_batch",
                  status="done", refresh=True)
        report = {"1m": {"refreshed": dates,
                         "rows_out": _mark_from_readback(dates),
                         "merged": True}}

    # repack the refreshed days from the merged 1m tier; this is
    # idempotent, so a fenced re-run repeats it
    packed_table = PartitionedTable(spark, f"{base_dir}/tier_1m_gorilla",
                                    ["part_key"])
    if packed_table.exists():
        pack_days(
            packed_table,
            t1m_table.read().filter(F.col("part_key").isin(dates)),
            keys,
        )

    for tier, _table, rep in _cascade_up(spark, base_dir, ckpt, job_id, keys,
                                         with_weekly, changed=dates):
        report[tier] = {"refreshed": rep["computed"],
                        "rows_out": rep["rows_out"]}
    return report
