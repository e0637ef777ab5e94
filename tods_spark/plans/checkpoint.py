"""Checkpoint / lineage table + idempotent tier runner.

North-star requirement: "every rollup stage writes per-partition lineage +
row-count metrics to a checkpoint table so the job resumes idempotently
mid-tier" (BASELINE.json). The reference has nothing comparable — its only
persistence is whole-model pickles (tods/utils.py:432-537) and a full refit
on restart; this is net-new engine design (SURVEY.md §4 "incremental /
resumable execution: must DESIGN").

Design:
  * work is partitioned by DAY — the unit of skip/recompute. An input day
    feeds the output partition that starts its epoch-aligned tier window
    (`span_start`: the day itself for tiers up to 1d, the week's Thursday
    for 1w); the input days feeding an output partition are its members,
    and an output partition is only ever computed from all of them;
  * the checkpoint table holds one JSON-lines record per computed (job_id,
    tier, output partition), each carrying THAT partition's member days
    (`inputs`), rows_in, rows_out and fingerprint (order-insensitive
    xxhash64 sum of the partition's written rows, so resume-time drift in
    any single partition is detectable), plus status and wall seconds; a
    done partition whose input gained a member day goes back to todo;
  * rows_out and the fingerprint are observed in the write that produced
    the bytes, on the rows the writer consumed, and come from its commit
    record: no tier is executed twice for them (a float partial computed
    twice can differ by an ulp). The bytes are read back only where the
    write could not observe them, a commit with no stats (a write wider
    than `storage.OBSERVED_PARTITIONS`, or one made before commit records
    carried stats), and by `verify_resume`, to audit them;
  * `run_tier` plans the partition set without scanning history: a raw
    DataFrame input gives its partition set and every partition's rows_in
    in one groupBy(part_key).count() job; a tier input is the
    PartitionedTable below, whose partition set is its directory listing
    and whose rows_in are the Parquet footer counts of the member days
    read (no Spark job); the table is opened only when some partition is
    still to do;
  * the member days of the todo output partitions are the only input read
    (a tier input lists and opens only their directories, read with the
    schema of its latest commit, so no schema-inference job runs); the todo
    partitions are written with dynamic partition overwrite (idempotent),
    then marked done;
  * the write's manifest snapshot is its commit record (as Iceberg's
    Flink sink keeps its committed checkpoint id in the snapshot summary):
    job_id, tier, the written schema and each written partition with its
    member days and (rows, fingerprint);
  * a crash between "write" and "mark" is finished on retry from the
    commit record and the written bytes (second output, mark), not
    recomputed: the late-data merge is incremental and must run at most
    once;
  * a second output of a tier (the 1m tier's Gorilla pack) is written from
    the read-back of exactly the todo partitions, after the tier write and
    before the marks; it keeps no records of its own, so the tier's record
    is its commit and the log keeps one record per tier partition;
  * a resume with every partition done costs the raw count alone: two
    Spark jobs, none of them proportional to the tier tables, and no
    manifest read.

The checkpoint table itself is tiny (one row per partition per tier) and is
stored as JSON lines appended atomically per run — on a cluster this becomes
an Iceberg table with MERGE; the interface is the same.
"""

from __future__ import annotations

import time
import uuid
from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession, functions as F

from tods_spark.operators.rollup import TIER_SECONDS
from tods_spark.sources.storage import JsonLines, PartitionedTable

_EPOCH = date(1970, 1, 1)


class CheckpointLog(JsonLines):
    def done_partitions(self, job_id: str, tier: str) -> set[str]:
        return {
            r["partition"]
            for r in self.records()
            if r["job_id"] == job_id and r["tier"] == tier and r["status"] == "done"
        }

    def mark(self, **record) -> None:
        record.setdefault("ts", time.time())
        self.append(record)


def span_start(day: str, tier: str) -> str:
    """The output partition that input day `day` (yyyy-MM-dd) feeds in
    `tier`: the epoch-aligned start day of the tier window holding it —
    the day itself for tiers of one day or less, the Thursday that starts
    its 1970-01-01-aligned week for 1w."""
    span = max(1, TIER_SECONDS[tier] // 86400)
    d = date.fromisoformat(day)
    return (d - timedelta(days=(d - _EPOCH).days % span)).isoformat()


def _committed(table: PartitionedTable, job_id: str, tier: str,
               members: dict[str, list[str]]) -> dict[str, dict]:
    """{partition: commit record} of the `members` partitions whose latest
    overwrite in `table`'s manifest is a commit of (job_id, tier) from all
    their member days. An overwrite that names no partitions may have
    replaced any, so it supersedes every commit before it."""
    latest: dict[str, dict] = {}
    for snap in table.snapshots():
        if snap["op"] == "overwrite_partitions":
            parts = snap.get("partitions")
            latest = {**latest, **dict.fromkeys(parts, snap)} if parts else {}
    return {p: latest[p] for p, days in members.items()
            if p in latest and latest[p].get("job_id") == job_id
            and latest[p].get("tier") == tier
            and set(days) <= set(latest[p]["partitions"][p])}


def run_tier(
    spark: SparkSession,
    source: DataFrame | PartitionedTable,
    compute,  # (rows, days) -> DataFrame : the tier of those input days
    out_table: PartitionedTable,
    ckpt: CheckpointLog,
    job_id: str,
    tier: str,
    in_ts_col: str = "ts",
    out_ts_col: str = "window_start",
    partition_col: str = "part_key",
    verify_resume: bool = False,
    also_write=None,  # (DataFrame) -> None : output committed with the tier
    changed=None,  # iterable of input days : plan only what they feed
) -> dict:
    """Run one rollup tier with per-partition lineage + resume.

    Partitions are days. Input day d (of `in_ts_col`) feeds the output
    partition `span_start(d, tier)` (a day of `out_ts_col`); the days that
    feed an output partition are its members. A partition is skipped when
    its done record covers its members or its latest record is an expiry
    (`retention.expire_partitions`), finished from the written bytes
    (`recovered`) when its latest overwrite is this (job_id, tier)'s
    commit of all its members, and computed otherwise: `compute(rows,
    days)` gets the rows of its member days and the days, the result is
    written, and the partition is marked once with its members (`inputs`)
    and the rows_out and fingerprint its commit record holds — observed
    in the write that produced the bytes, for computed and recovered
    partitions alike (a commit that holds none has its partitions'
    written bytes fingerprinted, `PartitionedTable.read_stats`).

    `source` is a DataFrame of raw rows (one groupBy job gives the day set
    and every day's row count) or the PartitionedTable of the tier below,
    partitioned by day under `partition_col` (its directory listing gives
    the day set, the footers of the member days read their row counts, and
    only the member days' directories are opened, only when some output
    partition is to do). `changed`, when given, restricts the plan to the
    output partitions those input days feed (the late-data refresh passes
    its late days). `also_write`, when given, receives the read-back of
    the partitions just finished and writes a second output from it
    before their marks, so the two commit together.

    verify_resume=True re-fingerprints the WRITTEN bytes of every skipped
    'done' partition before trusting it (`PartitionedTable.read_stats`):
    a partition that drifted from its record, or went missing, is
    recomputed — never finished from a commit — so a resume detects
    silent table corruption instead of skipping over it.

    Returns {"computed": [...], "recovered": [...], "skipped": [...],
    "drifted": [...], "rows_out": n}.
    """
    if isinstance(source, PartitionedTable):
        # the day set is the directory listing: no Spark job, and the
        # table is opened below only when some partition is still to do
        dirs = {v[partition_col]: path for path, v in source.partition_dirs()}
        days = sorted(dirs)
    else:
        # one job gives the day set and every day's row count; rows are
        # keyed by their DATE (no per-row string formatting), and only the
        # few collected dates become "yyyy-MM-dd" keys, on the driver
        inp = source.withColumn(partition_col, F.to_date(in_ts_col))
        day_rows = {
            (d.isoformat() if d is not None else None): int(n)
            for d, n in inp.groupBy(partition_col).count().collect()
        }
        days = sorted(day_rows)
    members: dict[str, list[str]] = {}
    for d in days:
        members.setdefault(span_start(d, tier), []).append(d)
    if changed is not None:
        fed = {span_start(d, tier) for d in changed}
        members = {p: m for p, m in members.items() if p in fed}

    # the latest done or expired record of each output partition of
    # (job_id, tier); a partition retention dropped stays dropped
    recorded = {
        r["partition"]: r for r in ckpt.records()
        if r["job_id"] == job_id and r["tier"] == tier
        and r["status"] in ("done", "expired")
    }
    expired = {p for p in members
               if p in recorded and recorded[p]["status"] == "expired"}
    skipped = [
        p for p in members if p in expired or (
            p in recorded
            and set(members[p]) <= set(recorded[p].get("inputs", [p])))
    ]
    todo = [p for p in members if p not in skipped]
    drifted: list[str] = []

    verify = [p for p in skipped if p not in expired]
    if verify_resume and verify:
        actual = out_table.read_stats(verify)
        drifted = [
            p for p in verify if actual[p]
            != (recorded[p]["rows_out"], recorded[p]["fingerprint"])
        ]
        skipped = [p for p in skipped if p not in drifted]

    commits = _committed(
        out_table, job_id, tier, {p: members[p] for p in todo}
    ) if todo else {}
    todo = sorted(todo + drifted)
    computed = [p for p in todo if p not in commits]
    recovered = [p for p in todo if p in commits]

    stats: dict = {}
    if todo:
        run_id = uuid.uuid4().hex[:12]
        if isinstance(source, PartitionedTable):
            # each checkpoint record carries ITS partition's rows_in; a
            # table input's come from the Parquet footers of the member days
            day_rows = {d: PartitionedTable.partition_rows(dirs[d])
                        for p in todo for d in members[p]}
        wall = 0.0
        if computed:
            feed = [d for p in computed for d in members[p]]
            # partition-pruned input: a table opens only the feed days, raw
            # rows take the IN filter
            pending = (source.read(days=feed)
                       if isinstance(source, PartitionedTable)
                       else inp.filter(F.col(partition_col).isin(
                           [date.fromisoformat(d) for d in feed])))
            t0 = time.time()
            result = compute(pending.drop(partition_col), feed).withColumn(
                partition_col, F.date_format(out_ts_col, "yyyy-MM-dd")
            )
            commit = out_table.overwrite_partitions(
                result, partitions={p: members[p] for p in computed},
                job_id=job_id, tier=tier,
            )
            commits.update(dict.fromkeys(computed, commit))
            wall = time.time() - t0
        if also_write is not None:
            also_write(out_table.read(days=todo))
        stats = {p: commits[p]["stats"][p] for p in todo
                 if "stats" in commits[p]}
        unobserved = [p for p in todo if p not in stats]
        if unobserved:
            # a commit that records no stats (a write wider than the
            # storage.OBSERVED_PARTITIONS it observes, or one made before
            # commit records carried stats): fingerprint its bytes
            stats.update(out_table.read_stats(unobserved))
        for p in todo:
            n_out, fp = stats[p]
            ckpt.mark(
                job_id=job_id, tier=tier, partition=p, run_id=run_id,
                inputs=members[p],
                rows_in=sum(day_rows[d] for d in members[p]),
                rows_out=n_out, fingerprint=fp, status="done",
                wall_s=round(wall, 3),
            )
    return {"computed": computed, "recovered": recovered,
            "skipped": skipped, "drifted": drifted,
            "rows_out": sum(n for n, _fp in stats.values())}
