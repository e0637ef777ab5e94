"""Resume cost and commit unit of the checkpointed cascade: tier partition
sets come from directory listings, the Gorilla pack commits with its 1m
partition, a write committed before a crash is finished rather than
recomputed, a refresh reads and keeps in step only the days it rewrites,
and a week is always derived from all of its member days."""

from __future__ import annotations

import os
import shutil
from collections import Counter
from datetime import date, timedelta

import numpy as np
import pytest
from pyspark.sql import functions as F

from tods_spark import pipeline
from tods_spark.datagen import token_table
from tods_spark.operators.compression import unpack_tier
from tods_spark.operators.rollup import rollup_cascade
from tods_spark.pipeline import refresh_engine, run_engine
from tods_spark.plans.checkpoint import CheckpointLog, run_tier
from tods_spark.sources.storage import OBSERVED_PARTITIONS, PartitionedTable


def _files(path: str) -> dict:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            out[os.path.join(root, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _packed(spark, base: str) -> list[tuple]:
    rows = spark.read.parquet(f"{base}/tier_1m_gorilla").select(
        "source", "chunk_start", "n_points", "blob").collect()
    return sorted((r[0], r[1], r[2], bytes(r[3])) for r in rows)


def _records(base: str) -> list[dict]:
    return CheckpointLog(f"{base}/checkpoint.jsonl").records()


def _marks(base: str, tier: str) -> list[tuple]:
    keep = ("partition", "inputs", "rows_in", "rows_out", "fingerprint")
    return sorted(tuple(str(r[k]) for k in keep)
                  for r in _records(base) if r["tier"] == tier)


def _week_start(day) -> str:
    """The 1970-01-01-aligned (Thursday) week start of a day."""
    d = date.fromisoformat(str(day))
    return str(d - timedelta(days=(d - date(1970, 1, 1)).days % 7))


def _tier(spark, base: str, tier: str):
    return (spark.read.parquet(f"{base}/tier_{tier}").drop("part_key")
            .toPandas().sort_values(["source", "window_start"],
                                    ignore_index=True))


def _assert_tiers_equal(got, exp, tier: str) -> None:
    assert len(got) == len(exp), tier
    assert (got["source"] == exp["source"]).all(), tier
    assert (got["window_start"] == exp["window_start"]).all(), tier
    np.testing.assert_array_equal(got["cnt"], exp["cnt"], err_msg=tier)
    for c in ("sum_n_tok", "min_n_tok", "max_n_tok", "sum_sq_n_tok"):
        np.testing.assert_allclose(got[c], exp[c], rtol=1e-12,
                                   err_msg=f"{tier}.{c}")
    if "qdigest" in exp:
        for a, b in zip(got["qdigest"], exp["qdigest"]):
            np.testing.assert_allclose(np.asarray(a, float),
                                       np.asarray(b, float), rtol=1e-12,
                                       err_msg=f"{tier}.qdigest")


def _assert_weekly_lineage(spark, base: str) -> None:
    """The latest 1w record of every week (any job) holds that week's
    rows, and only weeks hold records."""
    latest = {r["partition"]: r for r in _records(base)
              if r["tier"] == "1w" and r["status"] == "done"}
    t1w = spark.read.parquet(f"{base}/tier_1w")
    per_week = {str(r[0]): r[1] for r in
                t1w.groupBy("part_key").count().collect()}
    assert {p: r["rows_out"] for p, r in latest.items()} == per_week
    assert sum(r["rows_out"] for r in latest.values()) == t1w.count()


def _assert_unpack_equals_1m(spark, base: str) -> None:
    t1m = (spark.read.parquet(f"{base}/tier_1m")
           .select("source", "window_start", "avg_n_tok").toPandas()
           .sort_values(["source", "window_start"], ignore_index=True))
    got = (unpack_tier(spark.read.parquet(f"{base}/tier_1m_gorilla"))
           .toPandas().sort_values(["source", "window_start"],
                                   ignore_index=True))
    assert len(got) == len(t1m)
    assert (got["source"].to_numpy() == t1m["source"].to_numpy()).all()
    assert (got["window_start"].to_numpy()
            == t1m["window_start"].to_numpy()).all()
    np.testing.assert_array_equal(
        got["avg_n_tok"].to_numpy().view(np.int64),
        t1m["avg_n_tok"].to_numpy().view(np.int64),
    )


def test_refresh_repacks_gorilla_tier(spark, tmp_path):
    """After a late batch, unpacking tier_1m_gorilla gives tier_1m's
    (source, window_start, avg_n_tok) bitwise, on the merging run and on
    the fenced re-run."""
    raw = token_table(spark, 8000, partitions=4)
    doc_n = F.substring("doc_id", 5, 15).cast("long")
    base = str(tmp_path / "eng")
    run_engine(spark, raw.filter(doc_n % 13 != 0), base, with_digest=True)
    late = raw.filter(doc_n % 13 == 0)
    rep = refresh_engine(spark, late, base)
    assert rep["1m"]["merged"] is True
    _assert_unpack_equals_1m(spark, base)
    rep2 = refresh_engine(spark, late, base)
    assert rep2["1m"]["merged"] is False
    _assert_unpack_equals_1m(spark, base)


def test_pack_crash_recomputes_with_its_1m_partitions(spark, tmp_path,
                                                      monkeypatch):
    """A pack write that fails inside the 1m stage leaves no 1m marks, so
    the next run packs those partitions again — it finishes them from the
    committed 1m write (recovered) — and the packed tier then equals a
    clean run's."""
    raw = token_table(spark, 4000, partitions=3)
    clean = str(tmp_path / "clean")
    run_engine(spark, raw, clean, with_digest=False)

    real = pipeline.pack_days
    calls = []

    def crash_once(*args, **kwargs):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("planted pack crash")
        return real(*args, **kwargs)

    monkeypatch.setattr(pipeline, "pack_days", crash_once)
    base = str(tmp_path / "crash")
    with pytest.raises(RuntimeError, match="planted pack crash"):
        run_engine(spark, raw, base, with_digest=False)
    assert os.path.isdir(f"{base}/tier_1m")  # the tier write went through
    assert not [r for r in _records(base) if r["tier"] == "1m"]

    rep = run_engine(spark, raw, base, with_digest=False)
    assert rep["1m"]["recovered"] and not rep["1m"]["skipped"]
    assert len(calls) == 2
    assert _packed(spark, base) == _packed(spark, clean)


def test_build_crash_after_1m_commit_is_finished_on_retry(spark, tmp_path,
                                                          monkeypatch):
    """A build that dies right after the 1m partition write returned (at
    its first mark, after the commit and the pack) is finished on retry,
    not recomputed: the retry reports those partitions as recovered,
    tier_1m holds the one committed write, and the 1m marks and the
    packed tier equal a clean run's."""
    raw = token_table(spark, 4000, partitions=3)
    clean = str(tmp_path / "clean")
    run_engine(spark, raw, clean, with_digest=False)

    real = CheckpointLog.mark
    calls = []

    def crash_once(self, **record):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("planted mark crash")
        return real(self, **record)

    monkeypatch.setattr(CheckpointLog, "mark", crash_once)
    base = str(tmp_path / "crash")
    with pytest.raises(RuntimeError, match="planted mark crash"):
        run_engine(spark, raw, base, with_digest=False)
    assert not _records(base)

    rep = run_engine(spark, raw, base, with_digest=False)
    days = sorted(p["part_key"] for p in PartitionedTable(
        spark, f"{clean}/tier_1m", ["part_key"]).partitions())
    assert rep["1m"]["recovered"] == days and not rep["1m"]["computed"]
    commits = [s for s in PartitionedTable(spark, f"{base}/tier_1m",
                                           ["part_key"]).snapshots()
               if s["op"] == "overwrite_partitions"]
    assert len(commits) == 1

    assert _marks(base, "1m") == _marks(clean, "1m")
    assert _packed(spark, base) == _packed(spark, clean)


def test_commits_without_stats_or_schema_still_work(spark, tmp_path,
                                                    monkeypatch):
    """A tree whose commit records carry no stats and no schema (written
    before commit records held them): a build that crashed between its 1m
    commit and its marks is finished on retry from the written bytes, with
    the marks of a clean run, and a refresh whose late days are all new to
    the tree reads tier_1m with an inferred schema and equals a full
    rebuild."""
    raw = token_table(spark, 4000, partitions=3)
    clean = str(tmp_path / "clean")
    run_engine(spark, raw, clean, with_digest=True)

    real = CheckpointLog.mark
    calls = []

    def crash_once(self, **record):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("planted mark crash")
        return real(self, **record)

    monkeypatch.setattr(CheckpointLog, "mark", crash_once)
    base = str(tmp_path / "crash")
    with pytest.raises(RuntimeError, match="planted mark crash"):
        run_engine(spark, raw, base, with_digest=True)
    t1m = PartitionedTable(spark, f"{base}/tier_1m", ["part_key"])
    snaps = t1m.snapshots()
    assert snaps and all("stats" in s and "schema" in s for s in snaps)
    os.remove(t1m.manifest.path)
    for s in snaps:
        t1m.manifest.append({k: v for k, v in s.items()
                             if k not in ("stats", "schema")})

    rep = run_engine(spark, raw, base, with_digest=True)
    days = sorted(p["part_key"] for p in t1m.partitions())
    assert rep["1m"]["recovered"] == days and not rep["1m"]["computed"]
    assert _marks(base, "1m") == _marks(clean, "1m")
    # the retry wrote no 1m commit
    assert not any("schema" in s for s in t1m.snapshots())

    # late rows only on days after the tree's last day
    late = raw.filter(F.substring("doc_id", 5, 15).cast("long") % 7 == 0) \
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 DAYS"))
    rep = refresh_engine(spark, late, base)
    assert rep["1m"]["merged"] and min(rep["1m"]["refreshed"]) > days[-1]
    full = str(tmp_path / "full")
    run_engine(spark, raw.unionByName(late), full, with_digest=True)
    for tier in ("1m", "1h", "1d"):
        _assert_tiers_equal(_tier(spark, base, tier), _tier(spark, full, tier),
                            tier)


def test_verify_resume_recomputes_a_deleted_tier(spark, tmp_path):
    """A verifying resume audits a tier whose whole directory is gone:
    after tier_1h is deleted, every 1h day is reported drifted and
    recomputed, the tiers still on disk are skipped, and tier_1h and its
    new marks equal a clean build's."""
    raw = token_table(spark, 3000, partitions=3)
    clean = str(tmp_path / "clean")
    run_engine(spark, raw, clean, with_digest=False)
    base = str(tmp_path / "eng")
    run_engine(spark, raw, base, with_digest=False)
    days = sorted(p["part_key"] for p in PartitionedTable(
        spark, f"{base}/tier_1h", ["part_key"]).partitions())
    shutil.rmtree(f"{base}/tier_1h")

    rep = run_engine(spark, raw, base, with_digest=False,
                     verify_resume=True)
    assert rep["1h"]["drifted"] == days and rep["1h"]["computed"] == days
    assert not rep["1h"]["skipped"]
    for t in ("1m", "1d"):
        assert rep[t]["skipped"] and not rep[t]["drifted"], t
        assert not rep[t]["computed"], t
    _assert_tiers_equal(_tier(spark, base, "1h"), _tier(spark, clean, "1h"),
                        "1h")
    # the build's marks and the recomputation's, each a clean build's
    assert _marks(base, "1h") == sorted(_marks(clean, "1h") * 2)


def test_refresh_reads_only_the_days_it_rewrites(spark, tmp_path):
    """A refresh opens only the tier_1m days its late batch touches: with
    a file of an unaffected middle day corrupted it still succeeds, and
    the affected days — one of them a day the tier never held — equal a
    full rebuild, digests included."""
    raw = token_table(spark, 1200, cadence_s=1800).cache()  # ~25 days
    day = F.date_format("ts", "yyyy-MM-dd")
    days = sorted(r[0] for r in raw.select(day).distinct().collect())
    doc_n = F.substring("doc_id", 5, 15).cast("long")
    hit = [days[2], days[-3]]
    is_late = (doc_n % 3 == 0) & day.isin(hit)
    # late rows on a day after the table's last day
    new_day = (raw.filter((doc_n % 3 == 0) & (day == days[2]))
               .withColumn("ts", F.col("ts") + F.expr("INTERVAL 40 DAYS")))
    late = raw.filter(is_late).unionByName(new_day)
    affected = sorted(hit + [r[0] for r in new_day.select(day)
                             .distinct().collect()])
    assert len(affected) == 3 and affected[-1] > days[-1]

    base_r = str(tmp_path / "refresh")
    run_engine(spark, raw.filter(~is_late), base_r)
    victim = days[len(days) // 2]
    assert victim not in affected
    vdir = f"{base_r}/tier_1m/part_key={victim}"
    name = sorted(f for f in os.listdir(vdir) if f.endswith(".parquet"))[0]
    with open(os.path.join(vdir, name), "wb") as fh:
        fh.write(b"not a parquet file")

    rep = refresh_engine(spark, late, base_r)
    assert rep["1m"]["merged"] is True
    assert rep["1m"]["refreshed"] == affected
    assert rep["1d"]["refreshed"] == affected

    base_f = str(tmp_path / "full")
    run_engine(spark, raw.unionByName(new_day), base_f)
    for tier in ("1m", "1h", "1d"):
        got, exp = (
            spark.read.parquet(f"{b}/tier_{tier}")
            .filter(F.col("part_key").isin(affected)).drop("part_key")
            .toPandas().sort_values(["source", "window_start"],
                                    ignore_index=True)
            for b in (base_r, base_f))
        _assert_tiers_equal(got, exp, tier)

    def packed(b):
        return sorted(
            (r[0], r[1], r[2], bytes(r[3])) for r in
            spark.read.parquet(f"{b}/tier_1m_gorilla")
            .filter(F.col("part_key").isin(affected))
            .select("source", "chunk_start", "n_points", "blob").collect())

    assert packed(base_r) == packed(base_f)
    raw.unpersist()


def _job_group(spark, group: str, fn):
    """fn() run under Spark job group `group`; returns (its result, the
    ids of the jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_build_job_budget(spark, tmp_path):
    """A fresh digest build with the pack runs at most ten Spark jobs: the
    raw day count, each tier's write and the pack. Tier stats come from
    the write itself and tier reads run no listing or schema-inference
    job."""
    raw = token_table(spark, 3000, partitions=3)
    rep, jobs = _job_group(spark, "build-budget", lambda: run_engine(
        spark, raw, str(tmp_path / "eng"), with_digest=True))
    assert all(rep[t]["computed"] for t in ("1m", "1h", "1d"))
    assert 0 < len(jobs) <= 10, jobs


def test_stored_fingerprints_equal_written_bytes(spark, tmp_path):
    """The (rows, fingerprint) a write observes and its marks record equal
    the read-back of the written bytes: a verifying resume after a build
    (digest, pack, weekly) and a verifying pass over a refresh's
    partitions find no drift and recompute nothing. Every write names at
    most storage.OBSERVED_PARTITIONS days, so every stat was observed."""
    raw = token_table(spark, 180, cadence_s=3600).cache()  # 8 days, 2 weeks
    day = F.date_format("ts", "yyyy-MM-dd")
    assert raw.select(day).distinct().count() <= OBSERVED_PARTITIONS
    doc_n = F.substring("doc_id", 5, 15).cast("long")
    first = raw.agg(F.min("ts")).collect()[0][0].date()
    is_late = (doc_n % 5 == 0) & (F.col("ts") < str(first + timedelta(days=9)))
    late = raw.filter(is_late)
    base = str(tmp_path / "eng")
    run_engine(spark, raw.filter(~is_late), base, with_weekly=True)
    for t in ("1m", "1h", "1d", "1w"):
        snaps = PartitionedTable(spark, f"{base}/tier_{t}",
                                 ["part_key"]).snapshots()
        assert all("stats" in s for s in snaps), t
    rep = run_engine(spark, raw.filter(~is_late), base, with_weekly=True,
                     verify_resume=True)
    for t in ("1m", "1h", "1d", "1w"):
        assert rep[t]["skipped"], t
        assert not rep[t]["drifted"] and not rep[t]["computed"], t

    assert refresh_engine(spark, late, base, with_weekly=True)["1m"]["merged"]
    # the refresh's own run_tier passes, with verify_resume: every
    # partition it wrote is skipped after its fingerprint is checked
    ckpt = CheckpointLog(f"{base}/checkpoint.jsonl")
    t1m = PartitionedTable(spark, f"{base}/tier_1m", ["part_key"])
    rep = {"1m": run_tier(spark, late, None, t1m, ckpt, "refresh", "1m",
                          verify_resume=True)}
    for tier, _table, up in pipeline._cascade_up(
            spark, base, ckpt, "refresh", ("source",), True,
            changed=rep["1m"]["skipped"], verify_resume=True):
        rep[tier] = up
    for t in ("1m", "1h", "1d", "1w"):
        assert rep[t]["skipped"], t
        assert not rep[t]["drifted"] and not rep[t]["computed"], t
    raw.unpersist()


def test_refresh_lists_only_its_days(spark, tmp_path):
    """A refresh of 2 days on a tree of more than 32 day directories (the
    count above which Spark lists a directory's children in a Spark job,
    one task each) lists only the directories it reads: no stage of the
    refresh has one task per day directory. The build's writes name more
    days than a write observes, so their commits hold no stats and the
    marks fingerprint the written bytes."""
    raw = token_table(spark, 1000, cadence_s=3600).cache()  # ~42 days
    day = F.date_format("ts", "yyyy-MM-dd")
    days = sorted(r[0] for r in raw.select(day).distinct().collect())
    assert len(days) > 32
    doc_n = F.substring("doc_id", 5, 15).cast("long")
    is_late = (doc_n % 3 == 0) & day.isin(days[5], days[20])
    base = str(tmp_path / "eng")
    run_engine(spark, raw.filter(~is_late), base)
    t1m = PartitionedTable(spark, f"{base}/tier_1m", ["part_key"])
    assert len(t1m.partitions()) == len(days) > OBSERVED_PARTITIONS
    assert ["stats" in s for s in t1m.snapshots()] == [False]
    on_disk = t1m.read_stats(days)
    assert {r["partition"]: (r["rows_out"], r["fingerprint"])
            for r in _records(base) if r["tier"] == "1m"} == on_disk

    rep, jobs = _job_group(spark, "refresh-listing", lambda: refresh_engine(
        spark, raw.filter(is_late), base))
    assert rep["1d"]["refreshed"] == [days[5], days[20]]
    tracker = spark.sparkContext.statusTracker()
    stages = [tracker.getStageInfo(s) for j in jobs
              for s in tracker.getJobInfo(j).stageIds]
    tasks = [st.numTasks for st in stages if st is not None]
    assert tasks and len(days) not in tasks, tasks
    raw.unpersist()


def test_full_skip_resume_job_budget(spark, tmp_path):
    """A resume with every tier done runs at most two Spark jobs (the raw
    partition count) and rewrites nothing, the packed tier included."""
    raw = token_table(spark, 3000, partitions=3)
    base = str(tmp_path / "eng")
    run_engine(spark, raw, base, with_digest=True)
    before = _files(base + "/tier_1m_gorilla")
    assert before

    rep, jobs = _job_group(spark, "resume-budget", lambda: run_engine(
        spark, raw, base, with_digest=True))
    assert all(not rep[t]["computed"] and rep[t]["skipped"]
               for t in ("1m", "1h", "1d"))
    assert 0 < len(jobs) <= 2, jobs
    assert _files(base + "/tier_1m_gorilla") == before


def test_cascade_lineage_parity(spark, tmp_path):
    """Per partition, each cascade tier's rows_in is the rows_out of the
    tier below, and the log keeps one record per computed (tier,
    partition)."""
    raw = token_table(spark, 12000, partitions=4)
    base = str(tmp_path / "eng")
    rep = run_engine(spark, raw, base, with_digest=True)
    recs = _records(base)
    per = {(r["tier"], r["partition"]): r for r in recs}
    counts = Counter((r["tier"], r["partition"]) for r in recs)
    assert set(counts.values()) == {1}
    assert set(per) == {(t, p) for t in ("1m", "1h", "1d")
                        for p in rep[t]["computed"]}
    assert sum(per["1m", p]["rows_in"] for p in rep["1m"]["computed"]) \
        == 12000
    for lo, hi in (("1m", "1h"), ("1h", "1d")):
        assert rep[hi]["computed"] == rep[lo]["computed"]
        for p in rep[hi]["computed"]:
            assert per[hi, p]["rows_in"] == per[lo, p]["rows_out"] > 0


def test_partition_listing(spark, tmp_path):
    """partitions() is the directory listing: Hive-unescaped values, SQL
    NULL as None, and no `_`/`.` entries or empty directories."""
    path = str(tmp_path / "tbl")
    tbl = PartitionedTable(spark, path, ["k"])
    keys = ["a:b", "c d", "x%y", "2024-01-01", None]
    tbl.overwrite_partitions(spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)], "k string, v long"))
    for junk in ("_temporary/0", ".spark-staging-1/k=zz", "k=empty"):
        os.makedirs(os.path.join(path, junk))
    with open(os.path.join(path, ".spark-staging-1", "k=zz", "f.parquet"),
              "w"):
        pass
    assert os.path.exists(os.path.join(path, "_manifest.jsonl"))

    listed = [p["k"] for p in tbl.partitions()]
    assert sorted(listed, key=str) == sorted(keys, key=str)
    read = {r["k"] for r in tbl.read().select(
        F.col("k").cast("string").alias("k")).collect()}
    assert read == set(keys)
    assert not PartitionedTable(spark, str(tmp_path / "none"),
                                ["k"]).partitions()


def test_weekly_resume_rebuilds_weeks_from_all_days(spark, tmp_path):
    """A build that ends mid-week, resumed over all days with the same job
    id, rebuilds the straddled week from all its member days: every 1w
    row equals the cascade of the 1d tier, and each week is recorded once
    per computation with its own rows."""
    raw = token_table(spark, 1500, cadence_s=3600).cache()  # ~9 weeks
    first = raw.agg(F.min("ts")).collect()[0][0].date()
    cut = first + timedelta(days=10)
    assert _week_start(cut) != str(cut)  # the build ends mid-week
    base = str(tmp_path / "eng")
    run_engine(spark, raw.filter(F.col("ts") < F.lit(str(cut))), base,
               with_digest=False, pack=False, with_weekly=True)
    rep = run_engine(spark, raw, base, with_digest=False, pack=False,
                     with_weekly=True)
    exp = (rollup_cascade(spark.read.parquet(f"{base}/tier_1d")
                          .drop("part_key"), "1d", "1w")
           .toPandas().sort_values(["source", "window_start"],
                                   ignore_index=True))
    _assert_tiers_equal(_tier(spark, base, "1w"), exp, "1w")
    assert int(exp["cnt"].sum()) == 1500
    _assert_weekly_lineage(spark, base)
    assert _week_start(cut) in rep["1w"]["computed"]
    raw.unpersist()


def test_weekly_refresh_equals_full_rebuild(spark, tmp_path):
    """refresh_engine(with_weekly=True) on a late batch that touches some
    weeks leaves 1m, 1h, 1d and 1w equal to a full rebuild over all rows,
    digests included, and the 1w lineage is kept per week. A
    fenced re-run merges nothing and skips the upward partitions it
    already derived."""
    raw = token_table(spark, 1500, cadence_s=3600).cache()
    doc_n = F.substring("doc_id", 5, 15).cast("long")
    first = raw.agg(F.min("ts")).collect()[0][0].date()
    lo, hi = str(first + timedelta(days=12)), str(first + timedelta(days=30))
    is_late = (doc_n % 5 == 0) & (F.col("ts") >= lo) & (F.col("ts") < hi)
    late = raw.filter(is_late)

    base_r = str(tmp_path / "refresh")
    run_engine(spark, raw.filter(~is_late), base_r, pack=False,
               with_weekly=True)
    rep = refresh_engine(spark, late, base_r, with_weekly=True)
    assert rep["1m"]["merged"] is True
    weeks = {_week_start(d) for d in rep["1m"]["refreshed"]}
    assert sorted(weeks) == rep["1w"]["refreshed"]
    all_weeks = {p["part_key"] for p in
                 PartitionedTable(spark, f"{base_r}/tier_1w",
                                  ["part_key"]).partitions()}
    assert weeks < all_weeks  # some weeks are left alone

    base_f = str(tmp_path / "full")
    run_engine(spark, raw, base_f, pack=False, with_weekly=True)
    for tier in ("1m", "1h", "1d", "1w"):
        _assert_tiers_equal(_tier(spark, base_r, tier),
                            _tier(spark, base_f, tier), tier)
    _assert_weekly_lineage(spark, base_r)
    _assert_weekly_lineage(spark, base_f)

    rep2 = refresh_engine(spark, late, base_r, with_weekly=True)
    assert rep2["1m"]["merged"] is False
    assert not any(rep2[t]["refreshed"] for t in ("1h", "1d", "1w"))
    _assert_tiers_equal(_tier(spark, base_r, "1w"),
                        _tier(spark, base_f, "1w"), "1w")
    raw.unpersist()
