"""Skew handling (north star: heavy `source` keys — ~70% of rows are `web`
by construction in the F0 generator).

Two mechanisms, used together:

1. AQE (on in tods_spark.session): skew-join splitting + partition
   coalescing handle most runtime skew without code changes.

2. SALTED two-stage aggregation for the pathological case — a groupBy whose
   key set is tiny AND dominated by one value (e.g. `groupBy(source)` with
   70% web): stage 1 aggregates on (key, salt = hash(fine_grain) % n_salts)
   spreading the hot key over n_salts reducers; stage 2 merges the n_salts
   partials. Only ALGEBRAIC aggregates compose this way — exactly the state
   the rollup tiers already carry (cnt/sum/min/max/sum_sq), so salting is a
   drop-in for any tier groupBy.

Note the rollup group key usually includes the time window, which already
spreads hot sources across windows; `salted_agg` is for window-less global
reductions (per-source totals, per-source digests) where the hot key is
genuinely one reducer's burden.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_agg(
    df: DataFrame,
    keys: list[str],
    n_salts: int = 16,
    salt_from: str | None = None,
    value_col: str = "n_tok",
) -> DataFrame:
    """Two-stage salted aggregation of the standard algebraic state.

    salt = pmod(xxhash64(salt_from or random-ish row attrs), n_salts).
    Stage 1: groupBy(keys + salt) — map-side combine + n_salts-way spread.
    Stage 2: groupBy(keys) merging partials (tiny: n_salts rows per key).
    """
    v = F.col(value_col).cast("double")
    salt_col = (
        F.pmod(F.xxhash64(F.col(salt_from)), F.lit(n_salts))
        if salt_from
        else F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))
    )
    stage1 = (
        df.withColumn("__salt__", salt_col)
        .groupBy(*keys, "__salt__")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(v).alias("sum_v"),
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"),
            F.sum(v * v).alias("sum_sq_v"),
        )
    )
    return (
        stage1.groupBy(*keys)
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
            F.sum("sum_sq_v").alias("sum_sq_v"),
        )
        .withColumn("avg_v", F.col("sum_v") / F.col("cnt"))
    )


def skew_report(df: DataFrame, key: str) -> DataFrame:
    """Per-key row share — quantifies the imbalance salting addresses."""
    total = df.count()
    return (
        df.groupBy(key)
        .count()
        .withColumn("share", F.round(F.col("count") / F.lit(total), 4))
        .orderBy(F.desc("count"))
    )
