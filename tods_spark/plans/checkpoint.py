"""Checkpoint / lineage table + idempotent tier runner.

North-star requirement: "every rollup stage writes per-partition lineage +
row-count metrics to a checkpoint table so the job resumes idempotently
mid-tier" (BASELINE.json). The reference has nothing comparable — its only
persistence is whole-model pickles (tods/utils.py:432-537) and a full refit
on restart; this is net-new engine design (SURVEY.md §4 "incremental /
resumable execution: must DESIGN").

Design:
  * work is partitioned by a coarse PARTITION KEY (default: the day of the
    tier window) — the unit of skip/recompute;
  * the checkpoint table holds one JSON-lines record per (job_id, tier,
    partition), each carrying THAT partition's rows_in, rows_out and
    fingerprint (order-insensitive xxhash64 sum of the partition's written
    rows — computed from a read-back of the written bytes, so resume-time
    drift in any single partition is detectable), plus status and wall
    seconds;
  * `run_tier` plans the partition set without scanning history: a raw
    DataFrame input gives its partition set and every partition's rows_in
    in one groupBy(part_key).count() job; a tier input is the
    PartitionedTable below, whose partition set is its directory listing
    and whose rows_in are the Parquet footer counts of the todo partitions
    (no Spark job); the table is opened only when some partition is still
    to do;
  * partitions already 'done' for (job_id, tier) are filtered OUT of the
    input (partition pruning — the filter lands on the parquet scan), the
    rest are computed and written with dynamic partition overwrite
    (idempotent), then marked done;
  * a second output of a tier (the 1m tier's Gorilla pack) is written from
    the read-back of exactly the todo partitions, after the tier write and
    before the marks; it keeps no records of its own, so the tier's record
    is its commit and the log keeps one record per tier partition;
  * a crash between "write" and "mark" re-runs that partition and its
    second output; the partition overwrite converges to the same bytes, so
    resume is exactly-once in effect (at-least-once execution, idempotent
    apply);
  * a resume with every partition done costs the raw count alone: two
    Spark jobs, none of them proportional to the tier tables.

The checkpoint table itself is tiny (one row per partition per tier) and is
stored as JSON lines appended atomically per run — on a cluster this becomes
an Iceberg table with MERGE; the interface is the same.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from tods_spark.sources.storage import PartitionedTable


class CheckpointLog:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def records(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def done_partitions(self, job_id: str, tier: str) -> set[str]:
        return {
            r["partition"]
            for r in self.records()
            if r["job_id"] == job_id and r["tier"] == tier and r["status"] == "done"
        }

    def mark(self, **record) -> None:
        record.setdefault("ts", time.time())
        with open(self.path, "a") as f:
            f.write(json.dumps(record) + "\n")
            f.flush()
            os.fsync(f.fileno())


def _per_partition_stats(df: DataFrame, partition_col: str) -> dict:
    """Per-partition (rows, fingerprint): fingerprint is the order-
    insensitive sum (mod 2^63) of per-row xxhash64 over the data columns —
    ONE groupBy job, no collect of data rows, one tiny row per partition.
    Per-partition (not whole-result) lineage is what lets resume detect
    drift in a single recomputed partition."""
    data_cols = [c for c in df.columns if c != partition_col]
    rows = (
        df.groupBy(partition_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64(*[F.col(c) for c in data_cols]).cast("decimal(38,0)")
            ).alias("fp"),
        )
        .collect()
    )
    # str() the key: partition values read back from directory paths are
    # type-inferred (yyyy-MM-dd → DATE) while todo keys are strings
    return {
        str(r[partition_col]): (int(r["n"]), int(int(r["fp"] or 0) & ((1 << 63) - 1)))
        for r in rows
    }


def run_tier(
    spark: SparkSession,
    source: DataFrame | PartitionedTable,
    compute,  # (DataFrame) -> DataFrame : the tier transformation
    out_table: PartitionedTable,
    ckpt: CheckpointLog,
    job_id: str,
    tier: str,
    in_ts_col: str = "ts",
    out_ts_col: str = "window_start",
    partition_col: str = "part_key",
    verify_resume: bool = False,
    also_write=None,  # (DataFrame) -> None : output committed with the tier
) -> dict:
    """Run one rollup tier with per-partition lineage + resume.

    The coarse partition key is the DAY of the event time — derived from
    `in_ts_col` on the input and `out_ts_col` on the output (a tier never
    maps an input day to a different output day for tiers ≤ 1d).

    `source` is either a DataFrame (raw rows: one groupBy job gives the
    partition set and every partition's rows_in) or the PartitionedTable
    of the tier below, partitioned by the day of `in_ts_col` under
    `partition_col`. A table's partition set is its directory listing, its
    rows_in the footer counts of the todo partitions, and the table is
    opened only when some partition is still to do.

    `also_write`, when given, receives the pruned read-back of the
    partitions just written and writes a second output from it before
    their checkpoint marks: that output commits with the tier partition,
    so a crash before the marks recomputes both, and a resume that skips
    the partition writes neither.

    verify_resume=True audits every 'done' partition before trusting it:
    the WRITTEN bytes are re-fingerprinted (one groupBy over the pruned
    read-back) and compared to the checkpoint record; any drifted or
    missing partition is demoted back to todo and recomputed. This is what
    per-partition fingerprints are FOR — a resume that detects silent
    table corruption instead of skipping over it.

    Returns {"computed": [...], "skipped": [...], "drifted": [...],
    "rows_out": n}.
    """
    in_expr = F.date_format(in_ts_col, "yyyy-MM-dd")
    out_expr = F.date_format(out_ts_col, "yyyy-MM-dd")

    if isinstance(source, PartitionedTable):
        # the partition set is the directory listing: no Spark job, and the
        # table is opened below only when some partition is still to do
        dirs = {v[partition_col]: path for path, v in source.partition_dirs()}
        all_parts = sorted(dirs)
    else:
        # one job gives the partition set and every partition's rows_in
        inp = source.withColumn(partition_col, in_expr)
        rows_in = {
            r[partition_col]: int(r["count"])
            for r in inp.groupBy(partition_col).count().collect()
        }
        all_parts = sorted(rows_in)
    done = ckpt.done_partitions(job_id, tier)
    todo = [p for p in all_parts if p not in done]
    skipped = [p for p in all_parts if p in done]
    drifted: list[str] = []

    if verify_resume and skipped and out_table.exists():
        recorded = {
            r["partition"]: (r["rows_out"], r["fingerprint"])
            for r in ckpt.records()
            if r["job_id"] == job_id and r["tier"] == tier
            and r["status"] == "done"
        }
        written = out_table.read().filter(
            F.col(partition_col).isin(skipped)
        )
        actual = _per_partition_stats(written, partition_col)
        for p in skipped:
            # a legitimately-empty partition has NO group in the read-back
            # stats but was recorded as (0, 0) — default the read-back side
            # so it isn't flagged drifted (and recomputed) on every resume
            if actual.get(p, (0, 0)) != recorded.get(p):
                drifted.append(p)
        if drifted:
            todo = sorted(todo + drifted)
            skipped = [p for p in skipped if p not in drifted]

    rows_out_total = 0
    if todo:
        run_id = uuid.uuid4().hex[:12]
        # partition-pruned input: the IN filter pushes to the scan. Each
        # checkpoint record carries ITS partition's rows_in; a table input's
        # come from the Parquet footers of the todo partitions
        if isinstance(source, PartitionedTable):
            rows_in = {p: PartitionedTable.partition_rows(dirs[p]) for p in todo}
            pending = source.read().filter(
                F.col(partition_col).isin(todo)
            ).drop(partition_col).withColumn(partition_col, in_expr)
        else:
            pending = inp.filter(F.col(partition_col).isin(todo))
        t0 = time.time()
        result = compute(pending.drop(partition_col)).withColumn(
            partition_col, out_expr
        )
        snapshot_id = out_table.overwrite_partitions(result)
        wall = time.time() - t0
        # stats from the WRITTEN bytes (read-back), not a recompute or a
        # .cache(): what's fingerprinted is exactly what resume would see
        # (and MemoryStore persists anti-scale on fault-convoy kernels)
        written = out_table.read(result.schema).filter(
            F.col(partition_col).isin(todo)
        )
        stats = _per_partition_stats(written, partition_col)
        out_table.annotate_snapshot(
            snapshot_id, {p: stats.get(p, (0, 0))[0] for p in todo}
        )
        if also_write is not None:
            also_write(written)
        for p in todo:
            n_out, fp = stats.get(p, (0, 0))
            ckpt.mark(
                job_id=job_id, tier=tier, partition=p, run_id=run_id,
                rows_in=int(rows_in.get(p, 0)), rows_out=n_out,
                fingerprint=fp, status="done", wall_s=round(wall, 3),
            )
            rows_out_total += n_out
    return {"computed": todo, "skipped": skipped, "drifted": drifted,
            "rows_out": rows_out_total}
