"""Rollup cascade parity vs a pandas oracle + resample golden (F3/F9)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tods_spark.datagen import gen_pandas, token_table
from tods_spark.functions import sketches
from tods_spark.operators.compression import pack_tier
from tods_spark.operators.rollup import (
    TIER_INTERVAL,
    resample_mean,
    rollup_cascade,
    rollup_raw,
    variance_from_state,
)

from . import oracle


def test_resample_golden_f3(spark):
    # tods/tests/data_processing/test_TimeIntervalTransform.py:19-25,74
    ts = 1472918400 + 300 * np.arange(8)
    vals = np.arange(8, dtype=float)
    gt = np.array([0, 1] * 4)
    pdf = pd.DataFrame({"timestamp": ts, "value": vals, "ground_truth": gt})
    out = (
        resample_mean(spark.createDataFrame(pdf), "5 minutes")
        .orderBy("window_start")
        .toPandas()
    )
    assert len(out) == 8  # 300s-spaced data at 5min keeps all 8 rows
    exp = oracle.resample_mean(ts, vals, gt, 300)
    np.testing.assert_allclose(out["value"], exp["v"])
    np.testing.assert_array_equal(out["ground_truth"], exp["g"])


def _tiers(raw, with_digest=False) -> dict:
    """raw → 1m → 1h → 1d."""
    t1m = rollup_raw(raw, "1m", with_digest=with_digest)
    t1h = rollup_cascade(t1m, "1m", "1h")
    return {"1m": t1m, "1h": t1h, "1d": rollup_cascade(t1h, "1h", "1d")}


def _collect_list_digest_rollup(raw, tier: str = "1m"):
    """Oracle of the digest kernel: every raw value of a window collected
    to the reduce side, the digest built from the whole sorted list."""
    v = F.col("n_tok").cast("double")
    out = (
        raw.groupBy("source", F.window("ts", TIER_INTERVAL[tier]).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(v).alias("sum_n_tok"),
            F.min(v).alias("min_n_tok"),
            F.max(v).alias("max_n_tok"),
            F.sum(v * v).alias("sum_sq_n_tok"),
            F.sort_array(F.collect_list(v)).alias("_vals"),
        )
        .select(
            "source", F.col("w.start").alias("window_start"), "cnt",
            "sum_n_tok", "min_n_tok", "max_n_tok",
            (F.col("sum_n_tok") / F.col("cnt")).alias("avg_n_tok"),
            "sum_sq_n_tok", "_vals",
        )
    )

    @F.pandas_udf("array<double>")
    def build_digest(vals: pd.Series) -> pd.Series:
        return vals.map(
            lambda a: sketches.digest_from_values(np.asarray(a, float))
        )

    return out.withColumn("qdigest", build_digest("_vals")).drop("_vals")


def _pandas_cascade(pdf: pd.DataFrame, tier_s: int) -> pd.DataFrame:
    b = (pdf["ts"].astype("int64") // 10**9 // tier_s) * tier_s
    g = pdf.assign(b=b).groupby(["source", "b"])["n_tok"]
    out = g.agg(
        cnt="count",
        sum_n_tok="sum",
        min_n_tok="min",
        max_n_tok="max",
        sum_sq_n_tok=lambda s: float((s.astype(float) ** 2).sum()),
    ).reset_index()
    out["avg_n_tok"] = out["sum_n_tok"] / out["cnt"]
    return out


def test_cascade_matches_pandas(spark):
    n = 4000
    raw = token_table(spark, n, partitions=7)
    tiers = _tiers(raw)
    pdf = gen_pandas(np.arange(n))
    for tier, secs in [("1m", 60), ("1h", 3600), ("1d", 86400)]:
        got = (
            tiers[tier]
            .withColumn("b", (tiers[tier].window_start.cast("long")))
            .orderBy("source", "b")
            .toPandas()
        )
        exp = _pandas_cascade(pdf, secs).sort_values(["source", "b"]).reset_index(drop=True)
        assert len(got) == len(exp), tier
        np.testing.assert_array_equal(got["cnt"], exp["cnt"])
        np.testing.assert_allclose(got["sum_n_tok"], exp["sum_n_tok"])
        np.testing.assert_allclose(got["min_n_tok"], exp["min_n_tok"])
        np.testing.assert_allclose(got["max_n_tok"], exp["max_n_tok"])
        np.testing.assert_allclose(got["avg_n_tok"], exp["avg_n_tok"])
        np.testing.assert_allclose(got["sum_sq_n_tok"], exp["sum_sq_n_tok"])


def test_variance_from_state(spark):
    raw = token_table(spark, 2000, partitions=4)
    t1m = rollup_raw(raw, "1m")
    got = variance_from_state(t1m).orderBy("source", "window_start").toPandas()
    pdf = gen_pandas(np.arange(2000))
    b = (pdf["ts"].astype("int64") // 10**9 // 60) * 60
    exp = (
        pdf.assign(b=b)
        .groupby(["source", "b"])["n_tok"]
        .agg(lambda s: float(np.var(s.astype(float))))
        .reset_index(name="var")
        .sort_values(["source", "b"])
    )
    np.testing.assert_allclose(got["var_n_tok"], exp["var"], rtol=1e-9, atol=1e-9)


def test_digest_quantiles_cascade(spark):
    """Merged 1h digests approximate true 1h quantiles within the grid bound."""
    n = 6000
    raw = token_table(spark, n, partitions=5)
    tiers = _tiers(raw, with_digest=True)
    got = tiers["1h"].orderBy("source", "window_start").toPandas()
    pdf = gen_pandas(np.arange(n))
    b = (pdf["ts"].astype("int64") // 10**9 // 3600) * 3600
    grouped = pdf.assign(b=b).groupby(["source", "b"])["n_tok"]
    for (_, _), row in zip(grouped, got.iterrows()):
        pass  # alignment checked below instead
    vals = grouped.apply(lambda s: np.sort(s.astype(float).to_numpy()))
    vals = vals.reset_index(name="v").sort_values(["source", "b"]).reset_index(drop=True)
    assert len(vals) == len(got)
    for i in range(len(got)):
        dig = np.asarray(got["qdigest"][i], float)
        v = vals["v"][i]
        n = len(v)
        for p in [0.5, 0.95, 0.99]:
            est = sketches.digest_quantile(dig, p)
            # sketch guarantee is a RANK bound: the estimate must fall
            # between the order statistics at p ± (grid error + midpoint-vs-
            # linear interpolation slack of ~1.5 sample ranks)
            eps = 1.0 / sketches.K_DEFAULT + 1.5 / n
            lo = v[max(0, int(np.floor((p - eps) * (n - 1))))]
            hi = v[min(n - 1, int(np.ceil((p + eps) * (n - 1))))]
            assert lo - 1e-9 <= est <= hi + 1e-9, (
                got["source"][i], got["window_start"][i], p, est, lo, hi, n,
            )


@pytest.mark.parametrize("seed", [
    11,
    pytest.param(12, marks=pytest.mark.xfail(strict=True, reason=(
        "the weighted-grid merge of partial 1m digests reaches rank error "
        "0.0191 > 1/K on this input (ROADMAP item 1)"))),
    13,
    14,
])
def test_digest_rank_error_bound_every_tier(spark, seed):
    """The sketch bound at every tier of a digest build, not only at 1m:
    two days of 1m windows, a third of them with 70-600 values (grid
    digests) and the rest with 1-10 (exact ones), rolled up raw → 1m → 1h
    → 1d by rollup_raw(with_digest=True) and rollup_cascade. Every
    window's digest must estimate the 0.1/0.5/0.9/0.99 quantiles within
    rank error 1/K of the window's exact values (functions/sketches). The
    raw rows reach the partial kernel as one partition, so its Arrow
    batches, and the partial digests they split each window into, do not
    depend on the core count."""
    rng = np.random.default_rng(seed)
    base = pd.Timestamp("2024-02-01")
    frames = []
    for key in ("a", "b"):
        minute = np.concatenate(
            [60 * h + rng.choice(60, 9, replace=False) for h in range(48)])
        sizes = np.where(rng.random(len(minute)) < 1 / 3,
                         rng.integers(70, 601, len(minute)),
                         rng.integers(1, 11, len(minute)))
        frames.append(pd.DataFrame({
            "event_type": key,
            "ts": base + pd.to_timedelta(
                np.repeat(minute * 60, sizes)
                + rng.integers(0, 60, sizes.sum()), "s"),
            "value": rng.lognormal(3, 1, sizes.sum()),
        }))
    pdf = pd.concat(frames).sample(frac=1.0, random_state=1,
                                   ignore_index=True)
    keys = ("event_type",)
    t1m = rollup_raw(spark.createDataFrame(pdf).coalesce(1), "1m",
                     value_col="value", keys=keys, with_digest=True)
    t1h = rollup_cascade(t1m, "1m", "1h", keys=keys)
    t1d = rollup_cascade(t1h, "1h", "1d", keys=keys)
    worst = {}
    for tier, df, freq in (("1m", t1m, "1min"), ("1h", t1h, "1h"),
                           ("1d", t1d, "1D")):
        got = df.toPandas()
        values = {k: g.to_numpy() for k, g in pdf.groupby(
            ["event_type", pdf["ts"].dt.floor(freq)])["value"]}
        assert len(got) == len(values) and got["cnt"].sum() == len(pdf), tier
        worst[tier] = max(
            oracle.rank_error(values[(r.event_type, r.window_start)],
                              sketches.digest_quantile(r.qdigest, p), p)
            for r in got.itertuples() for p in (0.1, 0.5, 0.9, 0.99))
    bound = 1.0 / sketches.K_DEFAULT
    assert all(w <= bound for w in worst.values()), (worst, bound)


def test_datagen_partition_independent(spark):
    a = token_table(spark, 500, partitions=2).orderBy("doc_id").toPandas()
    b = token_table(spark, 500, partitions=13).orderBy("doc_id").toPandas()
    assert (a["n_tok"].values == b["n_tok"].values).all()
    for x, y in zip(a["tokens"], b["tokens"]):
        np.testing.assert_array_equal(np.asarray(x), np.asarray(y))


def test_merge_digest_series_matches_per_row_kernel():
    """The r7 batch merge kernel must agree with merge_digests row by row
    across all three regimes: exact (sorted-sample digests, vectorized
    fast path), oversize (total > K+1 — grid fallback), and non-exact
    inputs (grid digests with size != cnt), plus empty/NaN edge rows."""
    rng = np.random.default_rng(3)
    k = sketches.K_DEFAULT
    states = []
    for i in range(500):
        kind = i % 4
        if kind == 0:  # exact, small
            st = [{"qdigest": np.sort(rng.random(int(rng.integers(1, 5)))),
                   "cnt": None} for _ in range(int(rng.integers(1, 4)))]
            for s in st:
                s["cnt"] = len(s["qdigest"])
        elif kind == 1:  # oversize: exact digests whose merge exceeds K+1
            st = [{"qdigest": np.sort(rng.random(40)), "cnt": 40},
                  {"qdigest": np.sort(rng.random(40)), "cnt": 40}]
        elif kind == 2:  # non-exact: grid digest (size k+1, cnt >> size)
            st = [{"qdigest": np.sort(rng.random(k + 1)), "cnt": 500},
                  {"qdigest": np.sort(rng.random(3)), "cnt": 3}]
        else:  # empty / zero-count rows
            st = [{"qdigest": np.array([]), "cnt": 0}]
        states.append(st)
    got = sketches.merge_digest_series(states)
    for st, g in zip(states, got):
        want = sketches.merge_digests(
            [np.asarray(s["qdigest"], float) for s in st],
            np.asarray([s["cnt"] for s in st], float),
        )
        np.testing.assert_array_equal(np.asarray(g), want)


def test_partial_digest_rollup_equivalent(spark):
    """Map-side partial digest path: identical algebraic state to the
    collect_list oracle, digests rank-equivalent (exact at small windows)."""
    n = 3000
    raw = token_table(spark, n, partitions=6)
    a = (
        _collect_list_digest_rollup(raw, "1m")
        .orderBy("source", "window_start")
        .toPandas()
    )
    b = (
        rollup_raw(raw, "1m", with_digest=True)
        .orderBy("source", "window_start")
        .toPandas()
    )
    assert len(a) == len(b)
    for c in ("cnt", "sum_n_tok", "min_n_tok", "max_n_tok", "avg_n_tok",
              "sum_sq_n_tok"):
        np.testing.assert_allclose(a[c], b[c], rtol=1e-12, err_msg=c)
    # digests: identical when the window fits one Arrow batch & count <= K
    # (the common case here); otherwise rank-equivalent — check medians agree
    for da, db, cnt in zip(a["qdigest"], b["qdigest"], a["cnt"]):
        qa = sketches.digest_quantile(np.asarray(da, float), 0.5)
        qb = sketches.digest_quantile(np.asarray(db, float), 0.5)
        np.testing.assert_allclose(qa, qb, rtol=1e-9)


def _final_plan(df) -> str:
    """The executed physical plan after AQE's last re-plan: `df` is run,
    and only the plan's Final Plan section is returned."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_cascade_plans_leave_width_to_aqe(spark):
    """The digest rollup and the Gorilla pack hold no fixed-width
    (REPARTITION_BY_NUM) exchange — each stage keeps the exchange its
    aggregate requires and AQE picks the reduce width — and the digest
    rollup's partial aggregate sits below its exchange, so digest states
    are combined map-side before the shuffle."""
    raw = token_table(spark, 2000, partitions=3)
    digest = _final_plan(rollup_raw(raw, "1m", with_digest=True))
    packed = _final_plan(pack_tier(rollup_raw(raw, "1m")))
    for name, plan in (("digest rollup", digest), ("pack", packed)):
        assert "REPARTITION_BY_NUM" not in plan, f"{name}\n{plan}"
        assert "ENSURE_REQUIREMENTS" in plan, f"{name}\n{plan}"
    lines = digest.splitlines()
    exchange = next(i for i, ln in enumerate(lines) if "Exchange " in ln)
    partial = next(i for i, ln in enumerate(lines) if "partial_" in ln)
    assert partial > exchange, digest


def test_weekly_tier_cascade_equals_direct(spark):
    """raw->1m->1h->1d->1w algebraic cascade equals the direct raw->1w
    rollup (both epoch-aligned 7-day windows)."""
    raw = token_table(spark, 4000, cadence_s=3600)  # spans multiple weeks
    direct = (
        rollup_raw(raw, "1w")
        .orderBy("source", "window_start")
        .toPandas()
    )
    t = rollup_raw(raw, "1m")
    for a, b in (("1m", "1h"), ("1h", "1d"), ("1d", "1w")):
        t = rollup_cascade(t, a, b)
    casc = t.orderBy("source", "window_start").toPandas()
    assert len(direct) > 1  # really multiple weekly windows
    pd.testing.assert_frame_equal(
        casc.reset_index(drop=True)[direct.columns], direct.reset_index(drop=True),
        check_exact=False, rtol=1e-12,
    )
