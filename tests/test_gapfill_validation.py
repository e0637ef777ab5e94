"""Gap-fill (F4), dedup (F5), sort (F6), rule filter, segmentation (F7)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from tods_spark.operators import gapfill, segmentation, validation

from . import oracle


def test_continuity_impute_golden_f4(spark):
    # tods/tests/data_processing/test_ContinuityValidation.py:10,64-68
    pdf = pd.DataFrame(
        {
            "timestamp": [1.0, 2.0, 4.0],
            "a": [1.0, 2.0, 3.0],
            "b": [2.0, 3.0, 4.0],
            "ground_truth": [0, 0, 0],
        }
    )
    out = (
        gapfill.continuity_impute(
            spark.createDataFrame(pdf), value_cols=("a", "b"), interval=1.0
        )
        .orderBy("timestamp")
        .toPandas()
    )
    np.testing.assert_allclose(out["timestamp"], [1.0, 2.0, 3.0, 4.0])
    np.testing.assert_allclose(out["a"], [1.0, 2.0, 2.5, 3.0])
    np.testing.assert_allclose(out["b"], [2.0, 3.0, 3.5, 4.0])
    np.testing.assert_array_equal(out["ground_truth"], [0, 0, 0, 0])


def test_continuity_impute_matches_oracle(spark):
    rng = np.random.default_rng(11)
    ts = np.unique(np.cumsum(rng.integers(1, 5, 30)).astype(float))
    v = rng.normal(0, 3, len(ts))
    g = rng.integers(0, 2, len(ts))
    pdf = pd.DataFrame({"timestamp": ts, "value": v, "ground_truth": g})
    out = (
        gapfill.continuity_impute(
            spark.createDataFrame(pdf), value_cols=("value",), interval=1.0
        )
        .orderBy("timestamp")
        .toPandas()
    )
    exp = oracle.gap_fill(ts, {"value": v}, g, 1.0)
    np.testing.assert_allclose(out["timestamp"], exp["timestamp"])
    np.testing.assert_allclose(out["value"], exp["value"], rtol=1e-12)
    np.testing.assert_array_equal(out["ground_truth"], exp["ground_truth"])


def test_gap_fill_tier_interpolates(spark):
    pdf = pd.DataFrame(
        {
            "source": ["web"] * 3,
            "window_start": pd.to_datetime([0, 60, 240], unit="s"),
            "cnt": [4, 2, 6],
            "avg_n_tok": [10.0, 20.0, 50.0],
        }
    )
    out = (
        gapfill.gap_fill_tier(spark.createDataFrame(pdf), 60)
        .orderBy("window_start")
        .toPandas()
    )
    assert len(out) == 5
    np.testing.assert_array_equal(out["cnt"], [4, 2, 0, 0, 6])
    np.testing.assert_allclose(out["avg_n_tok"], [10.0, 20.0, 30.0, 40.0, 50.0])
    assert list(out["is_gap"]) == [False, False, True, True, False]


def test_gap_fill_tier_chunked_matches_perkey(spark):
    """Differential: the chunked interpolation windows (one day of grid
    slots per chunk — parallelism |keys|×|chunks| instead of |keys|) are
    bit-identical to the per-key fill (tests/oracle.gap_fill_tier),
    including cross-chunk gaps (a gap spanning a chunk boundary must read
    its prev/next observed point from OTHER chunks), leading/trailing
    gaps within a chunk and multi-key inputs. The same 3-key slots run
    at 60 s across a midnight (two chunks), at 21600 s (4 slots per
    chunk) and at 86400 s (one-slot chunks)."""
    rng = np.random.default_rng(7)
    slots = {src: np.unique(rng.choice(np.arange(0, 90), size=25))
             for src in ("web", "chat", "code")}
    vals = {src: [(int(rng.integers(1, 9)), float(rng.normal(30, 8)))
                  for _ in s] for src, s in slots.items()}
    midnight = pd.Timestamp("2020-09-14").value // 10**9
    cols = ["source", "window_start", "cnt", "avg_n_tok", "is_gap"]
    for interval in (60, 21600, 86400):
        # slot 45 is the first of a day: the 90 slots straddle a midnight
        rows = [(src, pd.Timestamp(midnight + (t - 45) * interval, unit="s"),
                 c, v)
                for src in slots for t, (c, v) in zip(slots[src], vals[src])]
        pdf = pd.DataFrame(rows, columns=["source", "window_start", "cnt",
                                          "avg_n_tok"])
        want = oracle.gap_fill_tier(pdf, interval)[cols]
        got = (gapfill.gap_fill_tier(spark.createDataFrame(pdf), interval)
               .select(cols).orderBy("source", "window_start").toPandas())
        pd.testing.assert_frame_equal(got, want, check_exact=True,
                                      obj=f"interval {interval}")
        assert want["is_gap"].any() and (~want["is_gap"]).any()


def test_dedup_first_and_average(spark):
    pdf = pd.DataFrame(
        {
            "ord": range(6),
            "timestamp": [1.0, 1.0, 2.0, 3.0, 3.0, 3.0],
            "value": [10.0, 20.0, 5.0, 1.0, 2.0, 6.0],
            "tag": list("abcdef"),
        }
    )
    df = spark.createDataFrame(pdf)
    first = (
        validation.dedup_timestamps(df, keep="first", order_col="ord")
        .orderBy("timestamp")
        .toPandas()
    )
    np.testing.assert_allclose(first["value"], [10.0, 5.0, 1.0])
    assert list(first["tag"]) == ["a", "c", "d"]
    avg = (
        validation.dedup_timestamps(
            df, keep="average", value_cols=("value",), order_col="ord"
        )
        .orderBy("timestamp")
        .toPandas()
    )
    np.testing.assert_allclose(avg["value"], [15.0, 5.0, 3.0])
    assert list(avg["tag"]) == ["a", "c", "d"]


def test_rule_filter(spark):
    pdf = pd.DataFrame({"a": [0.5, 1.5, 2.5], "b": [1.0, 1.0, 1.0]})
    df = spark.createDataFrame(pdf)
    flagged = validation.rule_filter(df, "a > 1", mode="flag").toPandas()
    assert list(flagged["result"]) == [1, 0, 0]
    kept = validation.rule_filter(df, "a > 1", mode="keep").count()
    assert kept == 2


def test_sort_by_time_f6(spark):
    pdf = pd.DataFrame({"timestamp": [1.0, 3.0, 2.0, 5.0], "v": [1, 2, 3, 4]})
    out = validation.sort_by_time(spark.createDataFrame(pdf)).toPandas()
    assert list(out["timestamp"]) == [1.0, 2.0, 3.0, 5.0]


def test_segmentation_golden_f7(spark):
    # tods/tests/timeseries_processing/test_SubsequenceSegmentation.py:11
    pdf = pd.DataFrame(
        {"timestamp": [0, 1, 2], "a": [1.0, 2.0, 3.0], "b": [2.0, 3.0, 4.0],
         "c": [3.0, 4.0, 5.0]}
    )
    exp = oracle.segment(pdf[["a", "b", "c"]].to_numpy(), 2, 1)
    for fn in (segmentation.segment_sql, segmentation.segment_pandas):
        out = (
            fn(spark.createDataFrame(pdf), ["a", "b", "c"], window_size=2, step=1)
            .orderBy("seg_id")
            .toPandas()
        )
        got = np.vstack(out["output"].map(np.asarray))
        np.testing.assert_allclose(got, exp)


def test_segmentation_step_and_keys(spark):
    rng = np.random.default_rng(5)
    frames = []
    for k in ["s1", "s2"]:
        frames.append(
            pd.DataFrame(
                {"k": k, "timestamp": range(23), "v": rng.normal(size=23),
                 "u": rng.normal(size=23)}
            )
        )
    pdf = pd.concat(frames, ignore_index=True)
    df = spark.createDataFrame(pdf).repartition(6)
    for w, step in [(5, 2), (4, 4), (3, 1)]:
        out = (
            segmentation.segment_sql(df, ["v", "u"], w, step, keys=["k"])
            .orderBy("k", "seg_id")
            .toPandas()
        )
        for k, g in pdf.groupby("k"):
            exp = oracle.segment(g[["v", "u"]].to_numpy(), w, step)
            got = np.vstack(out[out.k == k]["output"].map(np.asarray))
            np.testing.assert_allclose(got, exp, err_msg=f"w={w} step={step} k={k}")
