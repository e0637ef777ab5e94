"""F9 — rollup-tier parity composition (FIXTURES.md F9): generate F0 at
small scale, run raw→1m→1h→1d, and at each tier feed the tier's
(window_start, avg_n_tok) series per source into the pandas oracle's
moving-average (F1) and statistical-window (F2) kernels, comparing to the
engine's Spark implementations; decode Gorilla-packed columns and compare
bitwise; verify the token invariant end-to-end."""

from __future__ import annotations

import numpy as np

from tods_spark.datagen import token_table
from tods_spark.functions import gorilla
from tods_spark.operators import compression, tokens as TK
from tods_spark.operators.rollup import rollup_cascade, rollup_raw
from tods_spark.operators.windows import moving_average, stat_window

from . import oracle


def test_f9_tier_series_through_reference_kernels(spark):
    raw = token_table(spark, 8000, partitions=7).cache()
    t1m = rollup_raw(raw, "1m").cache()
    t1h = rollup_cascade(t1m, "1m", "1h")
    tiers = {"1m": t1m, "1h": t1h, "1d": rollup_cascade(t1h, "1h", "1d")}

    for tier in ("1m", "1h", "1d"):
        df = tiers[tier]
        # engine: centered w=3 moving average + trailing w=4 mean per source
        ma = moving_average(df, ["avg_n_tok"], keys=["source"],
                            order_col="window_start")
        sw = stat_window(df, ["avg_n_tok"], "mean", window_size=4,
                         keys=["source"], order_col="window_start")
        got_ma = ma.orderBy("source", "window_start").toPandas()
        got_sw = sw.orderBy("source", "window_start").toPandas()
        pdf = (
            df.select("source", "window_start", "avg_n_tok")
            .orderBy("source", "window_start")
            .toPandas()
        )
        for src, grp in pdf.groupby("source"):
            series = grp["avg_n_tok"].to_numpy()
            exp_ma = oracle.moving_average(series)
            m = got_ma[got_ma.source == src].sort_values("window_start")
            np.testing.assert_allclose(
                m["avg_n_tok_moving_average"], exp_ma, rtol=1e-9,
                err_msg=f"{tier}/{src} moving_average",
            )
            if len(series) >= 4:  # reference kernel requires n >= w
                exp_sw = oracle.stat_window(series, "mean", 4)
                s = got_sw[got_sw.source == src].sort_values("window_start")
                np.testing.assert_allclose(
                    s["avg_n_tok_mean"], exp_sw, rtol=1e-9,
                    err_msg=f"{tier}/{src} stat_mean",
                )

    # Gorilla round-trip at the 1m tier, bitwise per (source, day) blob
    packed = compression.pack_tier(tiers["1m"], value_col="avg_n_tok").toPandas()
    t1m = (
        tiers["1m"].select("source", "window_start", "avg_n_tok")
        .orderBy("source", "window_start")
        .toPandas()
    )
    t1m["day"] = t1m["window_start"].dt.floor("D")
    for row in packed.itertuples():
        grp = t1m[(t1m.source == row.source) & (t1m.day == row.chunk_start)]
        ts, vals = gorilla.decode_series(bytes(row.blob))
        np.testing.assert_array_equal(
            grp["window_start"].astype("int64").to_numpy() // 10**9, ts
        )
        np.testing.assert_array_equal(
            grp["avg_n_tok"].to_numpy().view(np.uint64), vals.view(np.uint64)
        )

    # token invariant: raw table survives the whole round (repartition by
    # rollup key + sort) bitwise
    reshuffled = raw.repartition(16, "source").sortWithinPartitions("ts")
    assert TK.verify_token_equality(raw, reshuffled) == 0
    raw.unpersist()
    tiers["1m"].unpersist()
