"""Incremental tier refresh (rollup.refresh_tier) and M4 downsampling
(downsample.m4_downsample): incremental == full-recompute parity, new /
empty late-batch edges, tie-break determinism, and the plan shapes the
scale claims rest on (tier side broadcast-only; M4 as a pure aggregate —
no Window, no Sort)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from tods_spark.functions import sketches
from tods_spark.operators import downsample as DS
from tods_spark.operators import rollup

from . import oracle


def _events(n=3000, seed=3):
    rng = np.random.default_rng(seed)
    base = pd.Timestamp("2024-02-01")
    return pd.DataFrame(
        {
            "event_id": np.arange(n),
            "event_type": rng.choice(["a", "b", "c"], n, p=[0.7, 0.2, 0.1]),
            "ts": base
            + pd.to_timedelta(rng.integers(0, 5 * 86400, n), "s"),
            "value": rng.normal(10, 4, n).round(2),
        }
    )


STATE = ["cnt", "sum_n_tok", "min_n_tok", "max_n_tok", "sum_sq_n_tok"]


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values(["event_type", "window_start"]).reset_index(
        drop=True
    )
    for c in ("sum_n_tok", "avg_n_tok", "sum_sq_n_tok"):
        pdf[c] = pdf[c].round(6)
    return pdf


def test_refresh_equals_full_recompute(spark):
    """The invariant that makes mid-stream refresh safe: merging the late
    batch's partials into the on-time tier row-for-row equals the tier
    computed from ALL rows."""
    pdf = _events()
    df = spark.createDataFrame(pdf)
    on_time = df.filter(F.col("event_id") % 11 != 0)
    late = df.filter(F.col("event_id") % 11 == 0)  # ~9% late
    tier = rollup.rollup_raw(on_time, "1h", value_col="value",
                             keys=("event_type",))
    got = rollup.refresh_tier(tier, late, "1h", value_col="value",
                              keys=("event_type",)).toPandas()
    full = rollup.rollup_raw(df, "1h", value_col="value",
                             keys=("event_type",)).toPandas()
    pd.testing.assert_frame_equal(_canon(got), _canon(full))


def test_refresh_creates_unseen_windows_and_keys(spark):
    """A late batch whose (key, window) pairs the tier has never seen —
    including a brand-new key — inserts rows rather than merging."""
    pdf = _events(800)
    df = spark.createDataFrame(pdf)
    cut = pd.Timestamp("2024-02-03")
    early = df.filter(F.col("ts") < F.lit(cut))
    late = df.filter(F.col("ts") >= F.lit(cut)).withColumn(
        "event_type", F.lit("zz_new")
    )
    tier = rollup.rollup_raw(early, "1h", value_col="value",
                             keys=("event_type",))
    got = rollup.refresh_tier(tier, late, "1h", value_col="value",
                              keys=("event_type",)).toPandas()
    full = rollup.rollup_raw(
        early.unionByName(late), "1h", value_col="value",
        keys=("event_type",)
    ).toPandas()
    pd.testing.assert_frame_equal(_canon(got), _canon(full))
    assert (got.event_type == "zz_new").any()


def test_refresh_empty_late_batch_is_identity(spark):
    pdf = _events(500)
    df = spark.createDataFrame(pdf)
    tier = rollup.rollup_raw(df, "1h", value_col="value",
                             keys=("event_type",))
    got = rollup.refresh_tier(
        tier, df.filter(F.lit(False)), "1h", value_col="value",
        keys=("event_type",)
    ).toPandas()
    pd.testing.assert_frame_equal(_canon(got), _canon(tier.toPandas()))


def test_refresh_tier_side_never_shuffles(spark):
    """Scale claim: every join touching the stored tier is a broadcast
    hash join — the plan has no SortMergeJoin. Untouched tier rows never
    cross an exchange; only the tier rows in affected windows, at most
    one per late window, join the late partials in one late-sized
    exchange (the merge_states group-by)."""
    pdf = _events(500)
    df = spark.createDataFrame(pdf)
    tier = rollup.rollup_raw(
        df.filter(F.col("event_id") % 7 != 0), "1h", value_col="value",
        keys=("event_type",)
    )
    out = rollup.refresh_tier(
        tier, df.filter(F.col("event_id") % 7 == 0), "1h",
        value_col="value", keys=("event_type",)
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_refresh_merges_null_keys(spark):
    """A null key is one group on both sides of the refresh: late rows
    with a null key merge into the stored null-key window (null-safe
    joins), with and without digests, and equal a full recompute."""
    pdf = _events(1500)
    pdf.loc[::5, "event_type"] = None
    df = spark.createDataFrame(pdf)
    on_time = df.filter(F.col("event_id") % 3 != 0)
    late = df.filter(F.col("event_id") % 3 == 0)
    kw = dict(value_col="value", keys=("event_type",))
    for dig in (False, True):
        tier = rollup.rollup_raw(on_time, "1h", with_digest=dig, **kw)
        got = _canon(rollup.refresh_tier(tier, late, "1h", **kw).toPandas())
        full = _canon(rollup.rollup_raw(df, "1h", with_digest=dig,
                                        **kw).toPandas())
        assert got["event_type"].isna().any()
        algebraic = [c for c in full.columns if c != "qdigest"]
        pd.testing.assert_frame_equal(got[algebraic], full[algebraic])
        if dig:
            for a, b in zip(got["qdigest"], full["qdigest"]):
                np.testing.assert_array_equal(np.asarray(a), np.asarray(b))


def test_refresh_digest_rank_error_bound(spark):
    """The sketch bound survives a refresh of windows too big for exact
    digests: 1m windows of 70-600 values, ~30% of them late, spread over
    the input partitions (so stored and late digests are themselves
    merges of per-batch partials). After refresh_tier every window's
    digest estimates the 0.1/0.5/0.9/0.99 quantiles within rank error
    1/K of the exact values (functions/sketches)."""
    rng = np.random.default_rng(5)
    sizes = rng.integers(70, 601, 60)
    base = pd.Timestamp("2024-02-01")
    pdf = pd.DataFrame({
        "event_type": np.repeat(np.where(np.arange(60) % 2, "a", "b"), sizes),
        "ts": base + pd.to_timedelta(
            np.repeat(np.arange(60) // 2 * 60, sizes)
            + rng.integers(0, 60, sizes.sum()), "s"),
        "value": rng.lognormal(3, 1, sizes.sum()),
        "late": rng.random(sizes.sum()) < 0.3,
    }).sample(frac=1.0, random_state=1, ignore_index=True)
    df = spark.createDataFrame(pdf)
    kw = dict(value_col="value", keys=("event_type",))
    tier = rollup.rollup_raw(df.filter(~F.col("late")), "1m",
                             with_digest=True, **kw)
    got = rollup.refresh_tier(tier, df.filter(F.col("late")), "1m",
                              **kw).toPandas()
    assert len(got) == 60 and got["cnt"].sum() == len(pdf)
    pdf["w"] = pdf["ts"].dt.floor("1min")
    values = {k: g["value"].to_numpy()
              for k, g in pdf.groupby(["event_type", "w"])}
    bound = 1.0 / sketches.K_DEFAULT
    worst = max(
        oracle.rank_error(values[(r.event_type, r.window_start)],
                          sketches.digest_quantile(r.qdigest, p), p)
        for r in got.itertuples() for p in (0.1, 0.5, 0.9, 0.99)
    )
    assert worst <= bound, (worst, bound)


def test_m4_matches_pandas(spark):
    pdf = _events(2000, seed=9)
    got = (
        DS.m4_downsample(spark.createDataFrame(pdf), bucket="6 hours")
        .toPandas()
        .sort_values(["event_type", "bucket_start"])
        .reset_index(drop=True)
    )
    pdf = pdf.sort_values(["ts", "event_id"])
    pdf["bucket_start"] = pdf.ts.dt.floor("6h")
    exp = (
        pdf.groupby(["event_type", "bucket_start"])
        .agg(
            cnt=("value", "size"),
            v_min=("value", "min"),
            v_max=("value", "max"),
            v_first=("value", "first"),
            v_last=("value", "last"),
        )
        .reset_index()
        .sort_values(["event_type", "bucket_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[exp.columns], exp, check_dtype=False
    )


def test_m4_tie_break_on_equal_timestamps(spark):
    """Rows sharing a timestamp resolve first/last by event_id — the
    determinism the oracle twin and idempotent re-runs need."""
    t = pd.Timestamp("2024-02-01 03:00:00")
    pdf = pd.DataFrame(
        {
            "event_id": [5, 1, 9],
            "event_type": ["a"] * 3,
            "ts": [t, t, t],
            "value": [50.0, 10.0, 90.0],
        }
    )
    got = DS.m4_downsample(
        spark.createDataFrame(pdf), bucket="6 hours"
    ).toPandas()
    assert got.v_first.iloc[0] == 10.0  # event_id 1
    assert got.v_last.iloc[0] == 90.0  # event_id 9


def test_m4_plan_is_pure_aggregate(spark):
    """M4's scale shape: partial+final aggregation (map-side combine, one
    exchange), no Window over raw. Default (tie-safe) path may plan
    SortAggregate (struct buffer); the tie_col=None fast path must plan
    pure HashAggregate."""
    pdf = _events(500)
    out = DS.m4_downsample(spark.createDataFrame(pdf), bucket="6 hours")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_min_by" in plan  # map-side combine before the exchange
    assert plan.count("Exchange") == 1
    fast = DS.m4_downsample(
        spark.createDataFrame(pdf), bucket="6 hours", tie_col=None
    )
    fplan = fast._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in fplan and "SortAggregate" not in fplan


def test_m4_fast_path_matches_default_on_unique_ts(spark):
    pdf = _events(1500, seed=21).drop_duplicates(subset=["ts"])
    df = spark.createDataFrame(pdf)
    a = (
        DS.m4_downsample(df, bucket="6 hours")
        .toPandas()
        .sort_values(["event_type", "bucket_start"])
        .reset_index(drop=True)
    )
    b = (
        DS.m4_downsample(df, bucket="6 hours", tie_col=None)
        .toPandas()
        .sort_values(["event_type", "bucket_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def _counter_events(n_per_key=400, seed=17):
    """A TRUE cumulative counter per key with planted resets: positive
    increments accumulate, and the counter drops back near zero at the
    planted reset points (a restarted process)."""
    rng = np.random.default_rng(seed)
    base = pd.Timestamp("2024-02-01")
    frames = []
    eid = 0
    for k in ("a", "b"):
        ts = base + pd.to_timedelta(
            np.sort(rng.integers(0, 4 * 86400, n_per_key)), "s"
        )
        inc = rng.uniform(0.1, 5, n_per_key)
        v = np.cumsum(inc)
        # resets spaced >= 5 samples apart and away from the ends, so each
        # planted drop has a strictly larger predecessor (counts exactly)
        for r in rng.choice(np.arange(50, n_per_key - 50, 5), 3,
                            replace=False):
            v[r:] -= v[r]  # reset to 0 at sample r, keep accumulating
        frames.append(
            pd.DataFrame(
                {
                    "event_id": np.arange(eid, eid + n_per_key),
                    "event_type": k,
                    "ts": ts,
                    "value": v.round(4),
                }
            )
        )
        eid += n_per_key
    return pd.concat(frames, ignore_index=True)


def _expected_increase(pdf: pd.DataFrame, freq="6h") -> pd.DataFrame:
    """Ground truth via the naive encoding: global per-key (ts, id) sort,
    adjacent diffs clamped at zero, grouped by the CURRENT sample's
    bucket (boundary delta lands in the later bucket)."""
    pdf = pdf.sort_values(["event_type", "ts", "event_id"]).copy()
    pdf["pv"] = pdf.groupby("event_type").value.shift()
    pdf["inc"] = (pdf.value - pdf.pv).clip(lower=0).fillna(0.0)
    pdf["reset"] = ((pdf.value < pdf.pv) & pdf.pv.notna()).astype(int)
    pdf["bucket_start"] = pdf.ts.dt.floor(freq)
    g = pdf.groupby(["event_type", "bucket_start"])
    out = g.agg(
        n_samples=("value", "size"),
        increase=("inc", "sum"),
        n_resets=("reset", "sum"),
        v_first=("value", "first"),
        v_last=("value", "last"),
    ).reset_index()
    return out.sort_values(["event_type", "bucket_start"]).reset_index(
        drop=True
    )


def test_counter_increase_matches_naive_lag(spark):
    pdf = _counter_events()
    got = (
        DS.counter_increase(spark.createDataFrame(pdf), bucket="6 hours")
        .toPandas()
        .sort_values(["event_type", "bucket_start"])
        .reset_index(drop=True)
    )
    exp = _expected_increase(pdf)
    got["increase"] = got.increase.round(6)
    exp["increase"] = exp.increase.round(6)
    pd.testing.assert_frame_equal(
        got[exp.columns], exp, check_dtype=False
    )
    assert got.n_resets.sum() == 6  # 3 planted resets x 2 keys


def test_counter_increase_boundary_goes_to_later_bucket(spark):
    t0 = pd.Timestamp("2024-02-01 00:00:00")
    pdf = pd.DataFrame(
        {
            "event_id": [0, 1, 2, 3],
            "event_type": ["a"] * 4,
            # two samples in bucket 0, two in bucket 1 (6h buckets)
            "ts": [t0, t0 + pd.Timedelta(hours=1),
                   t0 + pd.Timedelta(hours=7), t0 + pd.Timedelta(hours=8)],
            "value": [10.0, 15.0, 40.0, 41.0],
        }
    )
    got = (
        DS.counter_increase(spark.createDataFrame(pdf), bucket="6 hours")
        .toPandas()
        .sort_values("bucket_start")
        .reset_index(drop=True)
    )
    # bucket 0: 15-10 = 5 (no predecessor bucket -> no boundary term)
    # bucket 1: (40-15 boundary) + (41-40 within) = 26
    assert got.increase.tolist() == [5.0, 26.0]
    assert got.n_resets.tolist() == [0, 0]


def test_counter_increase_window_runs_over_bucket_table_only(spark):
    """Scale claim: the only Window in the plan runs AFTER the per-bucket
    aggregate (tier-sized input), never over raw samples."""
    pdf = _counter_events(200)
    out = DS.counter_increase(spark.createDataFrame(pdf), bucket="6 hours")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") >= 1
    # physical plans print top-down: the Window must appear ABOVE
    # (before, in string order) the aggregate that feeds it
    assert plan.index("Window") < plan.index("Aggregate")


def test_streaming_m4_matches_batch(spark, tmp_path):
    """Streaming M4 (append mode, watermark-finalized buckets) emits
    row-identical output to the batch fast path for every finalized
    bucket — a consumer can backfill from batch M4 and tail the stream."""
    from tods_spark.streaming.rollup_stream import streaming_m4

    src = str(tmp_path / "m4_stream_src")
    pdf = _events(1200, seed=33).drop_duplicates(subset=["ts"])
    # arrive in event-time order (Kafka-like ingest): ascending-time
    # chunks written sequentially, so the watermark advances with the
    # stream instead of jumping to max(ts) on the first micro-batch
    for chunk in np.array_split(pdf.sort_values("ts"), 5):
        spark.createDataFrame(chunk).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    batch = (
        DS.m4_downsample(
            spark.read.parquet(src), bucket="1 hour", tie_col=None
        )
        .orderBy("event_type", "bucket_start")
        .toPandas()
    )
    stream = (
        spark.readStream.schema(
            "event_id long, event_type string, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_m4(stream, bucket="1 hour", watermark="2 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("m4_stream")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    streamed = (
        spark.sql("SELECT * FROM m4_stream")
        .orderBy("event_type", "bucket_start")
        .toPandas()
    )
    assert len(streamed) >= 0.9 * len(batch)
    merged = streamed.merge(
        batch, on=["event_type", "bucket_start"], suffixes=("_s", "_b")
    )
    assert len(merged) == len(streamed)
    for c in ("cnt", "v_min", "v_max", "v_first", "v_last"):
        np.testing.assert_array_equal(
            merged[f"{c}_s"].values, merged[f"{c}_b"].values, err_msg=c
        )


def test_value_histogram_matches_numpy(spark):
    pdf = _events(2500, seed=41)
    got = (
        DS.value_histogram(
            spark.createDataFrame(pdf), bucket="1 day", bins=8,
            lo=0.0, hi=40.0
        )
        .toPandas()
        .sort_values(["event_type", "bucket_start", "bin"])
        .reset_index(drop=True)
    )
    pdf = pdf.copy()
    pdf["bucket_start"] = pdf.ts.dt.floor("1D")
    pdf["bin"] = np.clip(np.floor(pdf.value / 5.0), 0, 7).astype(int)
    exp = (
        pdf.groupby(["event_type", "bucket_start", "bin"])
        .size()
        .rename("cnt")
        .reset_index()
        .sort_values(["event_type", "bucket_start", "bin"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # edge convention: below-range values in bin 0, >= hi in the top bin
    assert (got.bin >= 0).all() and (got.bin <= 7).all()
    assert got.cnt.sum() == len(pdf)


def test_distinct_rollup_cascade_equals_direct_and_bounds_error(spark):
    """HLL union is register-exact: the 1m→1h cascade estimate must EQUAL
    the direct 1h sketch estimate (not approximately); both must sit
    within the standard HLL error of the true distinct count."""
    pdf = _events(4000, seed=55)
    rng = np.random.default_rng(5)
    pdf["user_id"] = rng.integers(0, 500, len(pdf))
    df = spark.createDataFrame(pdf)
    t1m = rollup.rollup_distinct(df, "1m", id_col="user_id",
                                 keys=("event_type",))
    casc = (
        rollup.rollup_distinct_cascade(t1m, "1m", "1h",
                                       keys=("event_type",))
        .select("event_type", "window_start", "n_distinct_est")
        .toPandas()
        .sort_values(["event_type", "window_start"])
        .reset_index(drop=True)
    )
    direct = (
        rollup.rollup_distinct(df, "1h", id_col="user_id",
                               keys=("event_type",))
        .select("event_type", "window_start", "n_distinct_est")
        .toPandas()
        .sort_values(["event_type", "window_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(casc, direct)
    pdf["window_start"] = pdf.ts.dt.floor("1h")
    truth = (
        pdf.groupby(["event_type", "window_start"])
        .user_id.nunique()
        .rename("true_d")
        .reset_index()
    )
    m = casc.merge(truth, on=["event_type", "window_start"])
    assert len(m) == len(casc)
    rel = np.abs(m.n_distinct_est - m.true_d) / np.maximum(m.true_d, 1)
    # lg_k=12 -> sigma ~1.6%; allow 5 sigma on small windows
    assert rel.max() < 0.09


def test_hll_cascade_error_vs_exact_anchor_sf001(spark):
    """End-to-end anchor at sf0.01 parquet: the registered HLL cascade
    query's estimates sit within 5-sigma HLL error of the registered
    EXACT distinct query (`distinct_users_1h_exact` — the DuckDB-
    twinnable anchor) on identical windows/keys."""
    from tods_spark.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    est = QUERIES["distinct_users_1h_cascade"](spark, sf).toPandas()
    exact = QUERIES["distinct_users_1h_exact"](spark, sf).toPandas()
    m = est.merge(exact, on=["event_type", "window_start"])
    assert len(m) == len(est) == len(exact)
    rel = (np.abs(m.n_distinct_est - m.n_distinct)
           / np.maximum(m.n_distinct, 1))
    assert rel.max() < 0.09


def test_sessionize_matches_islands(spark):
    """Session windows vs a pandas gaps-and-islands ground truth: same
    session boundaries, counts, sums; end = last event + gap."""
    rng = np.random.default_rng(77)
    base = pd.Timestamp("2024-02-01")
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(600),
            "user_id": rng.integers(0, 20, 600),
            "ts": base + pd.to_timedelta(
                rng.integers(0, 2 * 86400, 600), "s"
            ),
            "value": rng.normal(5, 2, 600).round(2),
        }
    )
    gap = pd.Timedelta(minutes=30)
    got = (
        DS.sessionize(
            spark.createDataFrame(pdf), gap="30 minutes",
            keys=("user_id",)
        )
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    pdf = pdf.sort_values(["user_id", "ts"])
    pdf["brk"] = (
        pdf.groupby("user_id").ts.diff().isna()
        | (pdf.groupby("user_id").ts.diff() > gap)  # inclusive gap edge
    ).astype(int)
    pdf["sess"] = pdf.groupby("user_id").brk.cumsum()
    exp = (
        pdf.groupby(["user_id", "sess"])
        .agg(
            session_start=("ts", "min"),
            last_ts=("ts", "max"),
            n_events=("value", "size"),
            sum_value=("value", "sum"),
        )
        .reset_index()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    pd.testing.assert_series_equal(
        got.session_start, exp.session_start, check_names=False
    )
    pd.testing.assert_series_equal(
        got.session_end, exp.last_ts + gap, check_names=False
    )
    np.testing.assert_array_equal(got.n_events, exp.n_events)
    np.testing.assert_allclose(got.sum_value, exp.sum_value, rtol=1e-12)
    np.testing.assert_array_equal(
        got.duration_us,
        (exp.last_ts + gap - exp.session_start).dt.total_seconds()
        * 1_000_000,
    )


def test_sessionize_gap_edge_is_inclusive(spark):
    """An event arriving EXACTLY gap after the previous one MERGES into
    the session (Spark's merge edge is inclusive — probe-verified); only
    a strictly-larger gap breaks. The twin's `> gap` break matches."""
    t0 = pd.Timestamp("2024-02-01")
    pdf = pd.DataFrame(
        {
            "event_id": [0, 1, 2],
            "user_id": [1, 1, 1],
            "ts": [t0, t0 + pd.Timedelta(minutes=30),
                   t0 + pd.Timedelta(minutes=59)],
            "value": [1.0, 1.0, 1.0],
        }
    )
    got = (
        DS.sessionize(
            spark.createDataFrame(pdf), gap="30 minutes",
            keys=("user_id",)
        )
        .toPandas()
        .sort_values("session_start")
        .reset_index(drop=True)
    )
    # event 1 at exactly +30m MERGES (inclusive edge); event 2 at +59m
    # merges too (29m < gap): one session of 3
    assert len(got) == 1
    assert got.n_events.tolist() == [3]
    # a strictly larger gap (30m + 1s) DOES break
    pdf2 = pdf.copy()
    pdf2.loc[1, "ts"] = pdf2.loc[0, "ts"] + pd.Timedelta(minutes=30,
                                                         seconds=1)
    got2 = (
        DS.sessionize(
            spark.createDataFrame(pdf2), gap="30 minutes",
            keys=("user_id",)
        )
        .toPandas()
        .sort_values("session_start")
        .reset_index(drop=True)
    )
    assert len(got2) == 2 and got2.n_events.tolist() == [1, 2]


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """session_window under Structured Streaming (merging-session state,
    append mode): finalized sessions match the batch op row-for-row."""
    src = str(tmp_path / "sess_stream_src")
    rng = np.random.default_rng(91)
    base = pd.Timestamp("2024-02-01")
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(800),
            "user_id": rng.integers(0, 15, 800),
            "ts": base + pd.to_timedelta(
                np.sort(rng.integers(0, 86400, 800)), "s"
            ),
            "value": rng.normal(5, 2, 800).round(2),
        }
    )
    for chunk in np.array_split(pdf, 4):  # already time-sorted
        spark.createDataFrame(chunk).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    batch = (
        DS.sessionize(
            spark.read.parquet(src), gap="30 minutes", keys=("user_id",)
        )
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        DS.sessionize(
            stream.withWatermark("ts", "2 minutes"), gap="30 minutes",
            keys=("user_id",)
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_stream")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    streamed = (
        spark.sql("SELECT * FROM sess_stream")
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    assert len(streamed) >= 0.8 * len(batch)  # tail sessions unfinalized
    merged = streamed.merge(
        batch, on=["user_id", "session_start"], suffixes=("_s", "_b")
    )
    assert len(merged) == len(streamed)
    for c in ("session_end", "n_events", "sum_value", "duration_us"):
        np.testing.assert_array_equal(
            merged[f"{c}_s"].values, merged[f"{c}_b"].values, err_msg=c
        )
