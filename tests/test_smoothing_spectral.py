"""Smoothing recurrences, spectral ops, decomposition, scalers, detection
plumbing — parity vs transcribed numpy oracles (scipy/statsmodels not
installable; kernels cited in the operator docstrings)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from tods_spark.operators import decompose as DC
from tods_spark.operators import detection as DT
from tods_spark.operators import smoothing as SM
from tods_spark.operators import spectral as SP


def _series_df(spark, vals, keys=None):
    pdf = pd.DataFrame({"timestamp": range(len(vals)), "value": vals})
    if keys:
        pdf["k"] = keys
    return spark.createDataFrame(pdf)


def test_ses_matches_pandas_ewm(spark):
    rng = np.random.default_rng(2)
    y = rng.normal(10, 3, 50)
    out = (
        SM.smooth(_series_df(spark, y), ["value"],
                  "simple_exponential_smoothing", alpha=0.2)
        .orderBy("timestamp")
        .toPandas()
    )
    # fittedvalues = one-step-ahead forecast = ewm(adjust=False).shift(1),
    # first value = y0 (classic l0 = y0 initialization)
    ewm = pd.Series(y).ewm(alpha=0.2, adjust=False).mean().shift(1)
    ewm.iloc[0] = y[0]
    np.testing.assert_allclose(out["value_simple_exponential_smoothing"], ewm,
                               rtol=1e-12)


def test_holt_recurrence(spark):
    y = np.array([10.0, 12.0, 13.0, 12.5, 14.0, 15.0, 17.0, 16.0])
    out = (
        SM.smooth(_series_df(spark, y), ["value"], "holt_smoothing")
        .orderBy("timestamp")
        .toPandas()
    )
    # hand recurrence (classic init l0=y0, b0=y1-y0)
    l, b = y[0], y[1] - y[0]
    exp = []
    for t in range(len(y)):
        exp.append(l + b)
        ln = 0.2 * y[t] + 0.8 * (l + b)
        b = 0.2 * (ln - l) + 0.8 * b
        l = ln
    np.testing.assert_allclose(out["value_holt_smoothing"], exp, rtol=1e-12)


def test_holt_winters_tracks_seasonal_signal(spark):
    t = np.arange(60)
    y = 10 + 0.3 * t + 4 * np.sin(2 * np.pi * t / 3)
    out = (
        SM.smooth(_series_df(spark, y), ["value"], "holt_winters_smoothing", m=3)
        .orderBy("timestamp")
        .toPandas()
    )
    fitted = out["value_holt_winters_smoothing"].to_numpy()
    resid = y[6:] - fitted[6:]
    base = y[6:] - y[6:].mean()
    assert np.abs(resid).mean() < 0.3 * np.abs(base).mean()


def test_holt_winters_optimizer_beats_defaults():
    """The .fit() replication (multi-start Nelder-Mead SSE over α/β/γ):
    optimized parameters fit at least as well as the explicit defaults,
    stay inside statsmodels' [0,1] box, and the search is deterministic.
    On a clean additive trend+seasonal signal the optimized fit is a
    large improvement (the optimizer pushes α toward its bound)."""
    t = np.arange(90)
    y = 10 + 0.3 * t + 4 * np.sin(2 * np.pi * t / 3)

    a, b, g = SM.holt_winters_optimize(y, m=3)
    assert 0 <= a <= 1 and 0 <= b <= 1 and 0 <= g <= 1
    assert (a, b, g) == SM.holt_winters_optimize(y, m=3)  # deterministic

    sse_opt = ((y - SM.holt_winters_fitted(y, 3, a, b, g)) ** 2).sum()
    sse_def = ((y - SM.holt_winters_fitted(y, 3)) ** 2).sum()
    assert sse_opt <= sse_def
    assert sse_opt < 0.5 * sse_def  # clean signal: a real improvement


def test_holt_winters_auto_spark_matches_local(spark):
    y = 5 + 0.1 * np.arange(45) + 2 * np.sin(2 * np.pi * np.arange(45) / 3)
    out = (
        SM.smooth(_series_df(spark, y), ["value"], "holt_winters_auto", m=3)
        .orderBy("timestamp")
        .toPandas()
    )
    np.testing.assert_allclose(
        out["value_holt_winters_auto"], SM.holt_winters_auto(y, m=3),
        rtol=1e-12,
    )


def test_holt_winters_auto_twin_takes_the_ses_branch(spark, tmp_path):
    """A series shorter than 2m points is SES-smoothed by
    holt_winters_auto; the DuckDB twin of holt_winters_auto_1d must take
    the same branch (it used to run the optimizer and emit NaN) and still
    replay the optimizer for a long series: values equal to the last bit."""
    import duckdb

    from tods_spark.queries import ORACLES, QUERIES

    rng = np.random.default_rng(7)
    t0 = pd.Timestamp("2024-01-01")
    minutes = np.r_[np.zeros(2, int), [1, 2, 4], np.arange(40)]
    pd.DataFrame({
        "event_id": np.arange(len(minutes)),
        "ts": t0 + pd.to_timedelta(minutes * 60 + rng.integers(0, 60, len(minutes)), "s"),
        "user_id": np.zeros(len(minutes), int),
        "event_type": ["short"] * 5 + ["long"] * 40,
        "value": rng.normal(50, 10, len(minutes)).round(2),
        "props": ["{}"] * len(minutes),
    }).to_parquet(tmp_path / "events.parquet", coerce_timestamps="us")

    name = "holt_winters_auto_1d"
    got = QUERIES[name](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    exp = con.sql(ORACLES[name]).df()
    got, exp = (d.sort_values(["event_type", "window_start"], ignore_index=True)
                for d in (got, exp))
    assert (got.event_type == "short").sum() == 4  # < 2m = 6 points
    assert not exp["v_hw"].isna().any()
    assert (got["window_start"] == exp["window_start"]).all()
    np.testing.assert_array_equal(got["v_hw"].to_numpy(float),
                                  exp["v_hw"].to_numpy(float))


def test_spectral_residual_matches_reference_kernel(spark):
    rng = np.random.default_rng(4)
    y = np.sin(np.arange(64) / 5.0) * 10 + rng.normal(0, 0.5, 64)
    y[40] += 25  # an anomaly spike
    out = (
        SP.spectral_transform(_series_df(spark, y), ["value"],
                              "spectral_residual")
        .orderBy("timestamp")
        .toPandas()
    )
    expect = SP.spectral_residual_series(y, 3)
    np.testing.assert_allclose(out["value_spectral_residual"], expect,
                               rtol=1e-9)
    # SR peaks at the anomaly
    assert np.argmax(expect) == 40


def test_dct_matches_even_extension_identity(spark):
    rng = np.random.default_rng(5)
    y = rng.normal(0, 1, 32)
    out = (
        SP.spectral_transform(_series_df(spark, y), ["value"], "dct")
        .orderBy("timestamp")
        .toPandas()
    )
    # DCT-II direct O(n^2) definition
    n = len(y)
    kk, nn = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    direct = 2 * (y[None, :] * np.cos(np.pi * kk * (2 * nn + 1) / (2 * n))).sum(1)
    np.testing.assert_allclose(out["value_dct"], direct, rtol=1e-8, atol=1e-8)


def test_acf(spark):
    rng = np.random.default_rng(6)
    y = rng.normal(0, 1, 100) + np.sin(np.arange(100) / 3)
    out = SP.auto_correlation(_series_df(spark, y), ["value"], nlags=20).toPandas()
    out = out.sort_values("lag")
    y0 = y - y.mean()
    denom = y0 @ y0
    exp = [(y0[: 100 - k] @ y0[k:]) / denom for k in range(21)]
    np.testing.assert_allclose(out["value_acf"], exp, rtol=1e-10)
    assert out["value_acf"].iloc[0] == 1.0


def test_seasonal_decompose_additive(spark):
    t = np.arange(48)
    season = np.tile([3.0, -1.0, -2.0], 16)
    y = 5 + 0.5 * t + season
    out = (
        DC.seasonal_decompose(_series_df(spark, y), "value", period=3)
        .orderBy("timestamp")
        .toPandas()
    )
    # interior trend is the clean linear part; seasonal ~ the planted cycle
    interior = slice(1, 47)
    np.testing.assert_allclose(out["trend"][interior],
                               (5 + 0.5 * t)[interior], atol=1e-9)
    s = out["seasonal"][:3].to_numpy()
    np.testing.assert_allclose(s - s.mean(), season[:3] - season[:3].mean(),
                               atol=1e-9)
    np.testing.assert_allclose(out["resid"][interior], 0, atol=1e-9)
    assert out["trend"].isna().iloc[0] and out["trend"].isna().iloc[-1]


def test_standard_scale_and_rowwise(spark):
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({"a": rng.normal(5, 2, 40), "b": rng.normal(-3, 9, 40)})
    df = spark.createDataFrame(pdf)
    out = DC.standard_scale(df, ["a", "b"]).toPandas()
    for c in ("a", "b"):
        exp = (pdf[c] - pdf[c].mean()) / pdf[c].std(ddof=0)
        got = np.sort(out[f"{c}_scaled"].to_numpy())
        np.testing.assert_allclose(got, np.sort(exp), rtol=1e-9)
    row = DC.axiswise_scale_rows(df, ["a", "b"]).toPandas()
    m = (row["a"] + row["b"]) / 2 - ((row["a"] + row["b"]) / 2)  # noqa: F841
    np.testing.assert_allclose(row["a_scaled"] + row["b_scaled"], 0, atol=1e-9)


def test_quantile_transform_uniform(spark):
    rng = np.random.default_rng(8)
    pdf = pd.DataFrame({"a": rng.exponential(3, 100)})
    out = DC.quantile_transform_uniform(spark.createDataFrame(pdf), ["a"]).toPandas()
    ranks = out.sort_values("a")["a_qt"].to_numpy()
    np.testing.assert_allclose(ranks, np.arange(100) / 99)


def test_window_indices_f8(spark):
    pdf = pd.DataFrame({"timestamp": range(10), "v": range(10)})
    out = (
        DT.window_indices(spark.createDataFrame(pdf), window_size=4, step=3)
        .orderBy("seg_id")
        .toPandas()
    )
    # UODBasePrimitive.py:238-241: left = arange(0,10,3); right = left+4 clipped
    np.testing.assert_array_equal(out["left_ind"], [0, 3, 6, 9])
    np.testing.assert_array_equal(out["right_ind"], [4, 7, 10, 10])


def test_scores_to_labels_f8(spark):
    rng = np.random.default_rng(9)
    scores = rng.uniform(0, 1, 200)
    pdf = pd.DataFrame({"score": scores})
    out = DT.scores_to_labels(spark.createDataFrame(pdf), contamination=0.1).toPandas()
    th = np.percentile(scores, 90)
    np.testing.assert_allclose(out["threshold"].iloc[0], th, rtol=1e-12)
    np.testing.assert_array_equal(
        np.sort(out["score"][out["label"] == 1]), np.sort(scores[scores > th])
    )


def test_system_wise_and_ensemble_and_metrics(spark):
    pdf = pd.DataFrame(
        {
            "system_id": ["a"] * 5 + ["b"] * 5,
            "timestamp": list(range(5)) * 2,
            "score": [1, -2, 3, 0, 1, 5, 1, 1, -7, 2],
        }
    )
    df = spark.createDataFrame(pdf)
    mx = DT.system_wise_scores(df, method="max").toPandas().set_index("system_id")
    assert mx.loc["a", "system_score"] == 3 and mx.loc["b", "system_score"] == 7
    sw = (
        DT.system_wise_scores(df, method="sliding_window_sum", window_size=2)
        .toPandas()
        .set_index("system_id")
    )
    assert sw.loc["b", "system_score"] == 9  # max over window sums of |score|
    ens = DT.ensemble_scores(
        df.withColumn("s2", df.score * 2), ["score", "s2"], "mean", threshold=2.0
    ).toPandas()
    np.testing.assert_allclose(ens["ensemble_score"], pdf["score"] * 1.5)
    ev = DT.evaluate_labels(
        df.withColumn("ground_truth", (df.score > 2).cast("int")).withColumn(
            "label", (df.score > 0).cast("int")
        )
    ).collect()[0]
    assert ev["tp"] == 2 and ev["recall"] == 1.0


def test_truncated_svd_reconstruction(spark):
    rng = np.random.default_rng(12)
    # rank-2 data + noise: top-2 SVD projection must capture ~all variance
    basis = rng.normal(size=(2, 4))
    coef = rng.normal(size=(60, 2))
    X = coef @ basis + rng.normal(0, 1e-6, (60, 4))
    pdf = pd.DataFrame(X, columns=["a", "b", "c", "d"])
    pdf["timestamp"] = range(60)
    out = (
        DC.truncated_svd(spark.createDataFrame(pdf), ["a", "b", "c", "d"],
                         n_components=2)
        .orderBy("timestamp")
        .toPandas()
    )
    proj = out[["svd_0", "svd_1"]].to_numpy()
    # projection energy == matrix energy (rank 2)
    np.testing.assert_allclose(
        (proj**2).sum(), (X**2).sum(), rtol=1e-6
    )
    # numpy parity incl. sign convention
    u, s, vt = np.linalg.svd(X, full_matrices=False)
    signs = np.sign(vt[np.arange(2), np.abs(vt[:2]).argmax(axis=1)])
    expect = X @ (vt[:2] * signs[:, None]).T
    np.testing.assert_allclose(proj, expect, atol=1e-8)
