"""End-to-end engine: checkpointed cascade, resume, retention expiry,
preprocessing operators."""

from __future__ import annotations

from datetime import datetime

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tods_spark.datagen import token_table
from tods_spark.operators import preprocessing as PP
from tods_spark.pipeline import run_engine
from tods_spark.plans.retention import check_horizons
from tods_spark.sources.storage import PartitionedTable


def test_run_engine_end_to_end_and_resume(spark, tmp_path):
    # 12k docs at 7s cadence (+gaps) spans two calendar days — retention
    # needs at least one expirable partition plus one survivor
    raw = token_table(spark, 12000, partitions=5).cache()
    base = str(tmp_path / "engine")

    r1 = run_engine(spark, raw, base, with_digest=False, pack=True)
    assert r1["1m"]["computed"] and r1["1h"]["computed"] and r1["1d"]["computed"]
    t1m = spark.read.parquet(f"{base}/tier_1m")
    t1d = spark.read.parquet(f"{base}/tier_1d")
    assert t1m.count() > 0 and t1d.count() > 0
    # cascade consistency: total cnt equal at every tier
    assert (
        t1m.agg(F.sum("cnt")).collect()[0][0]
        == t1d.agg(F.sum("cnt")).collect()[0][0]
        == 12000
    )
    packed = spark.read.parquet(f"{base}/tier_1m_gorilla")
    assert packed.agg(F.sum("n_points")).collect()[0][0] == t1m.count()

    # resume: nothing recomputed, identical table state
    n1m = t1m.count()
    r2 = run_engine(spark, raw, base, with_digest=False, pack=False)
    assert not r2["1m"]["computed"] and not r2["1h"]["computed"]
    assert spark.read.parquet(f"{base}/tier_1m").count() == n1m

    # retention: expire 1m partitions older than 1 day from the max ts
    from datetime import timedelta

    max_day = t1m.agg(F.max("window_start")).collect()[0][0]
    r3 = run_engine(
        spark, raw, base, with_digest=False, pack=False,
        now=datetime(max_day.year, max_day.month, max_day.day)
        + timedelta(days=1),
        horizons={"1m": 1, "1h": 365, "1d": None},
    )
    assert r3["expired"]["1m"], "old 1m partitions must be dropped"
    t1m_after = spark.read.parquet(f"{base}/tier_1m")
    n1m_after = t1m_after.count()
    assert n1m_after < n1m
    # the pack expires with the 1m tier, whatever `pack` the run was given

    def days(tier):
        return {p["part_key"] for p in PartitionedTable(
            spark, f"{base}/tier_{tier}", ["part_key"]).partitions()}

    assert days("1m_gorilla") and days("1m_gorilla") <= days("1m")
    # 1d tier still holds the full history (rollup-based retention)
    assert (
        spark.read.parquet(f"{base}/tier_1d").agg(F.sum("cnt")).collect()[0][0]
        == 12000
    )

    # a verifying resume after retention leaves the expired days expired:
    # they are neither re-fingerprinted (flagged drifted) nor rebuilt
    r4 = run_engine(spark, raw, base, with_digest=False, pack=False,
                    verify_resume=True)
    assert not r4["1m"]["computed"] and not r4["1m"]["drifted"]
    assert set(r3["expired"]["1m"]) <= set(r4["1m"]["skipped"])
    assert spark.read.parquet(f"{base}/tier_1m").count() == n1m_after
    raw.unpersist()


@pytest.mark.parametrize("horizons, key", [
    ({"1m": -5}, "1m"),            # would expire a 7-day-old day
    ({"1min": 1}, "1min"),         # would expire nothing
    ({"1h": True}, "1h"),          # a bool is not a day count
    ({"1d": 1.5}, "1d"),
    ({"raw": "7"}, "raw"),
    ({"1m": 1, "2w": None}, "2w"),
])
def test_run_engine_rejects_bad_horizons(tmp_path, horizons, key):
    """Checked before any Spark job: no session, no input and nothing
    written."""
    with pytest.raises(ValueError, match=f"'{key}'"):
        run_engine(None, None, str(tmp_path / "engine"), horizons=horizons,
                   now=datetime(2020, 9, 20))
    assert not (tmp_path / "engine").exists()


@pytest.mark.parametrize("horizons", [
    {"raw": 0, "1m": 30, "1h": 365, "1d": None, "1w": None},
    {"1m": 0},
    {"1w": None},
])
def test_check_horizons_accepts_tiers_and_day_counts(horizons):
    check_horizons(horizons)


def test_parse_columns(spark):
    pdf = pd.DataFrame(
        {
            "i": ["1", "2", "3"],
            "f": ["1.5", "2.5", "x"],
            "d": ["2024-01-01 00:00:00"] * 3,
            "vec": ["1.0,2.0", "3.0,4.0", "5.0,6.0"],
        }
    )
    out = PP.parse_columns(
        spark.createDataFrame(pdf),
        {"i": "int", "f": "float", "d": "datetime", "vec": "float_vector"},
    )
    types = dict(out.dtypes)
    assert types["i"] == "bigint" and types["f"] == "double"
    assert types["d"].startswith("timestamp") and types["vec"] == "array<double>"
    rows = out.orderBy("i").collect()
    assert rows[0]["vec"] == [1.0, 2.0]
    assert rows[2]["f"] is None  # malformed float -> null (try-cast semantics)


def test_categorical_to_binary(spark):
    pdf = pd.DataFrame({"id": [1, 2, 3, 4], "cat": ["a", "b", "a", None]})
    out = PP.categorical_to_binary(spark.createDataFrame(pdf), "cat")
    got = out.orderBy("id").toPandas()
    np.testing.assert_array_equal(got["cat_a"], [1, 0, 1, 0])
    np.testing.assert_array_equal(got["cat_b"], [0, 1, 0, 0])
    np.testing.assert_array_equal(got["cat_nan"], [0, 0, 0, 1])


def test_impute_strategies(spark):
    pdf = pd.DataFrame({"a": [1.0, None, 3.0, None], "b": [5.0, 5.0, None, 7.0]})
    df = spark.createDataFrame(pdf)
    mean = PP.impute(df, ["a", "b"], "mean").toPandas()
    assert mean["a"].tolist() == [1.0, 2.0, 3.0, 2.0]
    med = PP.impute(df, ["b"], "median").toPandas()
    assert med["b"].tolist() == [5.0, 5.0, 5.0, 7.0]
    mf = PP.impute(df, ["b"], "most_frequent").toPandas()
    assert mf["b"].tolist() == [5.0, 5.0, 5.0, 7.0]
    const = PP.impute(df, ["a"], "constant", fill_value=-1.0).toPandas()
    assert const["a"].tolist() == [1.0, -1.0, 3.0, -1.0]


def test_filter_nan_tail_columns(spark):
    pdf = pd.DataFrame(
        {
            "ord": [0, 1, 2],
            "keep": [1.0, 2.0, 3.0],
            "drop_me": [1.0, 2.0, float("nan")],
        }
    )
    out = PP.filter_nan_tail_columns(
        spark.createDataFrame(pdf), ["keep", "drop_me"], order_col="ord"
    )
    assert "drop_me" not in out.columns and "keep" in out.columns


def test_run_engine_with_dedup(spark, tmp_path):
    raw = token_table(spark, 2000, partitions=3)
    base = str(tmp_path / "engine_dedup")
    run_engine(spark, raw, base, with_digest=False, pack=False, dedup="first")
    t1m = spark.read.parquet(f"{base}/tier_1m")
    total = t1m.agg(F.sum("cnt")).collect()[0][0]
    # expected: one row per distinct (source, ts) — computed from the same
    # deterministic generator
    from tods_spark.datagen import gen_pandas
    import numpy as np

    pdf = gen_pandas(np.arange(2000))
    expected = len(pdf.drop_duplicates(["source", "ts"]))
    assert total == expected < 2000


def test_run_engine_weekly_tier(spark, tmp_path):
    """with_weekly=True adds a checkpointed 1w tier whose totals re-sum
    the 1d tier exactly."""
    from tods_spark.datagen import token_table

    base = str(tmp_path / "weekly")
    raw = token_table(spark, 1500, cadence_s=3600)
    r = run_engine(spark, raw, base, with_digest=False, pack=False,
                   with_weekly=True)
    assert r["1w"]["rows_out"] > 0
    t1d = spark.read.parquet(f"{base}/tier_1d")
    t1w = spark.read.parquet(f"{base}/tier_1w")
    from pyspark.sql import functions as F
    a = t1d.agg(F.sum("cnt"), F.sum("sum_n_tok")).collect()[0]
    b = t1w.agg(F.sum("cnt"), F.sum("sum_n_tok")).collect()[0]
    assert a[0] == b[0] and abs(a[1] - b[1]) < 1e-6


def test_refresh_engine_matches_full_rebuild(spark, tmp_path):
    """Late-data refresh: build the tier tree from on-time rows, refresh
    with the late batch (affected day partitions only), and every tier —
    algebraic columns AND digests — equals a full rebuild over all rows.
    Token-table windows stay <= K=64 values, so digest merge is exact."""
    from tods_spark.pipeline import refresh_engine

    raw = token_table(spark, 12000, partitions=5).cache()
    doc_n = F.substring("doc_id", 5, 15).cast("long")  # "doc-%012d" ids
    on_time = raw.filter(doc_n % 13 != 0)
    late = raw.filter(doc_n % 13 == 0)

    base_r = str(tmp_path / "refresh")
    run_engine(spark, on_time, base_r, with_digest=True, pack=False)
    rep = refresh_engine(spark, late, base_r)
    assert rep["1m"]["refreshed"] and rep["1h"]["refreshed"]

    base_f = str(tmp_path / "full")
    run_engine(spark, raw, base_f, with_digest=True, pack=False)

    for tier in ("1m", "1h", "1d"):
        got = (
            spark.read.parquet(f"{base_r}/tier_{tier}")
            .drop("part_key")
            .toPandas()
            .sort_values(["source", "window_start"])
            .reset_index(drop=True)
        )
        exp = (
            spark.read.parquet(f"{base_f}/tier_{tier}")
            .drop("part_key")
            .toPandas()
            .sort_values(["source", "window_start"])
            .reset_index(drop=True)
        )
        assert len(got) == len(exp), tier
        for c in ("cnt", "sum_n_tok", "min_n_tok", "max_n_tok",
                  "sum_sq_n_tok"):
            np.testing.assert_allclose(
                got[c].astype(float), exp[c].astype(float), rtol=1e-12,
                err_msg=f"{tier}.{c}",
            )
        for a, b in zip(got.qdigest, exp.qdigest):
            np.testing.assert_allclose(
                np.asarray(a, float), np.asarray(b, float), rtol=1e-12,
                err_msg=f"{tier}.qdigest",
            )

    # fenced re-run (same job_id): the merge is NOT re-applied — no
    # double count — and the idempotent cascade re-derivation keeps the
    # tables at the converged state
    rep2 = refresh_engine(spark, late, base_r)
    assert rep2["1m"]["merged"] is False
    assert (
        spark.read.parquet(f"{base_r}/tier_1m")
        .agg(F.sum("cnt")).collect()[0][0]
        == 12000
    )
    raw.unpersist()


def test_refresh_fence_survives_crash_mid_mark_loop(spark, tmp_path):
    """The at-most-once fence must hold when the previous refresh crashed
    BETWEEN the (single-job) 1m partition overwrite and completing the
    per-partition mark loop: some dates are marked, some not. Re-merging
    the unmarked dates would double-count every affected window; their
    commit in the tier_1m manifest makes the retry finish them instead
    (marks backfilled from the stats that commit record observed in the
    write) and re-derive the idempotent cascade."""
    import json as J

    from tods_spark.pipeline import refresh_engine

    raw = token_table(spark, 8000, partitions=4).cache()
    doc_n = F.substring("doc_id", 5, 15).cast("long")
    on_time = raw.filter(doc_n % 13 != 0)
    late = raw.filter(doc_n % 13 == 0)

    base = str(tmp_path / "fence")
    run_engine(spark, on_time, base, with_digest=True, pack=False)
    rep = refresh_engine(spark, late, base)
    dates = sorted(rep["1m"]["refreshed"])
    assert len(dates) >= 2, "need multiple affected days to plant the crash"

    # simulate the crash: drop the 1m refresh marks for every date but
    # the first (the overwrite itself already committed as one job)
    ckpt = f"{base}/checkpoint.jsonl"
    recs = [J.loads(ln) for ln in open(ckpt) if ln.strip()]
    kept = [
        r for r in recs
        if not (r["job_id"] == "refresh" and r["tier"] == "1m"
                and r["partition"] in dates[1:])
    ]
    assert len(kept) < len(recs)
    with open(ckpt, "w") as fh:
        fh.write("\n".join(J.dumps(r) for r in kept) + "\n")

    rep2 = refresh_engine(spark, late, base)
    assert rep2["1m"]["merged"] is False  # overlap fence held — no re-merge
    assert sorted(rep2["1m"]["refreshed"]) == dates[1:]  # marks backfilled
    # no double count anywhere in the tree
    for tier in ("1m", "1h", "1d"):
        assert (
            spark.read.parquet(f"{base}/tier_{tier}")
            .agg(F.sum("cnt")).collect()[0][0]
            == 8000
        ), tier
    # the backfilled marks carry the fingerprints the write observed, so
    # every refreshed date is done
    from tods_spark.plans.checkpoint import CheckpointLog

    done = CheckpointLog(ckpt).done_partitions("refresh", "1m")
    assert set(dates) <= done
    raw.unpersist()


def test_refresh_fence_survives_crash_before_first_mark(spark, tmp_path):
    """A crash BETWEEN the 1m overwrite commit and the FIRST
    per-partition mark (the pack write runs before any mark is appended)
    leaves zero marks. The write's snapshot in the tier_1m manifest —
    appended the moment the overwrite returns, naming the job, the tier,
    the days and each day's (rows, fingerprint) observed in the write —
    must fence that retry: no re-merge, all marks backfilled from it, no
    double count."""
    import json as J

    from tods_spark.pipeline import refresh_engine
    from tods_spark.plans.checkpoint import CheckpointLog
    from tods_spark.sources.storage import PartitionedTable

    raw = token_table(spark, 8000, partitions=4).cache()
    doc_n = F.substring("doc_id", 5, 15).cast("long")
    on_time = raw.filter(doc_n % 13 != 0)
    late = raw.filter(doc_n % 13 == 0)

    base = str(tmp_path / "fence2")
    run_engine(spark, on_time, base, with_digest=True, pack=False)
    rep = refresh_engine(spark, late, base)
    dates = sorted(rep["1m"]["refreshed"])

    # simulate the crash: drop EVERY per-partition 1m refresh mark but
    # keep the batch-level commit record (the overwrite committed, then
    # the process died before the first mark)
    ckpt = f"{base}/checkpoint.jsonl"
    recs = [J.loads(ln) for ln in open(ckpt) if ln.strip()]
    kept = [
        r for r in recs
        if not (r["job_id"] == "refresh" and r["tier"] == "1m")
    ]
    assert any(
        s["op"] == "overwrite_partitions" and s.get("job_id") == "refresh"
        and s.get("tier") == "1m"
        for s in PartitionedTable(spark, f"{base}/tier_1m",
                                  ["part_key"]).snapshots()
    )
    with open(ckpt, "w") as fh:
        fh.write("\n".join(J.dumps(r) for r in kept) + "\n")

    rep2 = refresh_engine(spark, late, base)
    assert rep2["1m"]["merged"] is False   # commit record fenced the merge
    assert sorted(rep2["1m"]["refreshed"]) == dates  # all marks backfilled
    for tier in ("1m", "1h", "1d"):
        assert (
            spark.read.parquet(f"{base}/tier_{tier}")
            .agg(F.sum("cnt")).collect()[0][0]
            == 8000
        ), tier
    done = CheckpointLog(ckpt).done_partitions("refresh", "1m")
    assert set(dates) <= done
    raw.unpersist()


def test_digest_build_keeps_null_keys(spark, tmp_path):
    """A null key is its own group in every tier of a digest build, as in
    Spark's groupBy: each tier's sum(cnt) and the 1m checkpoint records'
    rows_in equal the raw row count, and the algebraic columns equal the
    build without digests."""
    from tods_spark.plans.checkpoint import CheckpointLog

    doc_n = F.substring("doc_id", 5, 15).cast("long")
    raw = token_table(spark, 3000, partitions=4).withColumn(
        "source",
        F.when(doc_n % 4 == 0, F.lit(None)).otherwise(F.col("source")),
    ).cache()
    n = raw.count()
    base_d, base_a = str(tmp_path / "digest"), str(tmp_path / "plain")
    run_engine(spark, raw, base_d, with_digest=True)
    run_engine(spark, raw, base_a, with_digest=False, pack=False)

    recs = CheckpointLog(f"{base_d}/checkpoint.jsonl").records()
    assert sum(r["rows_in"] for r in recs
               if r["tier"] == "1m" and r["status"] == "done") == n
    order = ["source", "window_start"]
    for tier in ("1m", "1h", "1d"):
        got, want = (
            spark.read.parquet(f"{b}/tier_{tier}").drop("part_key")
            .toPandas().sort_values(order, na_position="first",
                                    ignore_index=True)
            for b in (base_d, base_a)
        )
        assert int(got["cnt"].sum()) == n, tier
        assert got["source"].isna().any(), tier
        assert len(got) == len(want), tier
        pd.testing.assert_frame_equal(
            got[want.columns], want, check_exact=False, rtol=1e-12,
            obj=tier)
    raw.unpersist()


def test_run_job_late_input_merges_under_default_job_ids(
        spark, tmp_path, monkeypatch):
    """`run_job.py --late-input` with no --job-id refreshes under its own
    job id, so a build and a refresh run with defaults keep every row."""
    import sys

    import run_job

    doc_n = F.substring("doc_id", 5, 15).cast("long")
    raw = token_table(spark, 2000, partitions=4)
    src, late = str(tmp_path / "raw"), str(tmp_path / "late")
    raw.filter(doc_n % 7 != 0).write.parquet(src)
    raw.filter(doc_n % 7 == 0).write.parquet(late)
    out = str(tmp_path / "tiers")
    for args in (["--input", src], ["--late-input", late]):
        monkeypatch.setattr(sys, "argv",
                            ["run_job.py", "--output", out, *args])
        run_job.main()
    for tier in ("1m", "1h", "1d"):
        total = spark.read.parquet(f"{out}/tier_{tier}").agg(
            F.sum("cnt")).collect()[0][0]
        assert total == 2000, tier
