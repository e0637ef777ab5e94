"""Cascading continuous-aggregate rollup: raw → 1m → 1h → 1d.

Generalizes the reference's ``TimeIntervalTransformPrimitive`` downsample
(resample-interval mean + label binarize, tods/data_processing/
TimeIntervalTransform.py:148-169) to the full algebraic aggregate set the
north star requires: count / sum / min / max / mean / M2-variance /
quantile-digest over ``n_tok``, computed once from raw and then RE-AGGREGATED
tier-to-tier (never recomputed from raw):

    count, sum, min, max       — trivially algebraic
    mean = sum/count           — derived, kept for parity with resample-mean
    var via (count, sum, sum_sq) composition
    quantiles                  — mergeable inverse-CDF grid (functions/sketches)

Two functions carry all tier state: `raw_states` turns raw rows into
unmerged state (a projection, or with digests a per-Arrow-batch partial
kernel) and `merge_states` composes states that share a window. The raw →
first tier rollup, the tier cascade and the late-data refresh are each
`merge_states` over their inputs' states, so the tiers agree by
construction.

Scale notes (10^12 sequences, 1000 executors):
  * raw→1m is ONE shuffle on (source, minute) with map-side partial
    aggregation: Tungsten whole-stage codegen for the algebraic columns,
    and with digests one partial state per (batch, window) from the
    vectorized kernel — raw values never cross the shuffle.
  * the heavy `source` key ("web" ≈ 70% of rows) makes (source) alone a skew
    bomb; the group key always includes the window, which spreads hot sources
    across time — plus AQE skew handling and optional salting (operators/skew)
    for the pathological single-hot-minute case.
  * tier N+1 re-aggregates tier N: input is |windows| rows, orders of
    magnitude smaller than raw; each cascade step is a cheap shuffle.
"""

from __future__ import annotations

import operator
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from tods_spark.functions import sketches

TIERS = ("1m", "1h", "1d", "1w")
TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400, "1w": 604800}
# "1w" is spelled "7 days": Spark tumbling windows align every duration to
# the 1970-01-01 epoch, so a 7-day window is epoch-aligned too (Thursday
# boundaries); calendar-"week" semantics (Monday origin) are a different
# contract — oracle twins must pin the same origin (DuckDB time_bucket's
# week origin is 2000-01-03, a Monday, so the twin passes
# origin TIMESTAMP '1970-01-01' explicitly).
TIER_INTERVAL = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day",
                 "1w": "7 days"}

AGG_COLS = [
    "cnt",
    "sum_n_tok",
    "min_n_tok",
    "max_n_tok",
    "avg_n_tok",
    "sum_sq_n_tok",
]


def raw_states(
    df: DataFrame,
    tier: str = "1m",
    ts_col: str = "ts",
    value_col: str = "n_tok",
    keys: tuple[str, ...] = ("source",),
    with_digest: bool = False,
) -> DataFrame:
    """Raw rows → unmerged tier state: keys, window_start (the start of
    the row's tier window) and the five algebraic columns, plus qdigest
    `with_digest` — exactly `merge_states`' input. A null key is its own
    group, as in Spark's groupBy.

    Without a digest this is a projection, one state per raw row
    (cnt 1, sum = min = max = v, sum_sq = v²); the aggregate above it
    combines them map-side. With a digest each Arrow batch emits one
    partial state per (keys, window) it holds — a numpy lexsort keyed
    (group, value) plus reduceat for the algebraic columns, and the
    window's digest is a slice of the sorted values (exact while
    cnt <= K+1, an inverse-CDF grid above; functions/sketches). The
    shuffle into `merge_states` then carries O(#batches × windows)
    digests, never raw values — the map-side combine `collect_list`
    cannot give."""
    key_list = list(keys)
    if not with_digest:
        v = F.col(value_col).cast("double")
        return df.select(
            *key_list,
            F.window(ts_col, TIER_INTERVAL[tier])["start"].alias("window_start"),
            F.lit(1).cast("long").alias("cnt"), v.alias("sum_n_tok"),
            v.alias("min_n_tok"), v.alias("max_n_tok"),
            (v * v).alias("sum_sq_n_tok"),
        )
    interval_s = TIER_SECONDS[tier]
    schema = "".join(f"{k} string, " for k in key_list) + (
        "window_start timestamp, cnt long, sum_n_tok double, "
        "min_n_tok double, max_n_tok double, sum_sq_n_tok double, "
        "qdigest array<double>"
    )
    k_sk = sketches.K_DEFAULT
    grid = np.linspace(0.0, 1.0, k_sk + 1)

    def partials(batches):
        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            ts = pdf[ts_col].to_numpy("datetime64[s]").astype("int64")
            w = (ts // interval_s) * interval_s
            v = pdf[value_col].to_numpy(np.float64)
            g = None
            for kcol in key_list:
                c, u = pd.factorize(pdf[kcol])
                c = np.where(c < 0, len(u), c)  # a null key is its own group
                g = c if g is None else pd.factorize(g * (len(u) + 1) + c)[0]
            g = g.astype(np.int64)
            wc, _ = pd.factorize(w)
            g = g * (int(wc.max()) + 1) + wc
            order = np.lexsort((v, g))
            gs, vs = g[order], v[order]
            starts = np.flatnonzero(np.r_[True, gs[1:] != gs[:-1]])
            ends = np.r_[starts[1:], m]
            first = order[starts]
            digs = [
                vs[s:e] if e - s <= k_sk + 1 else np.quantile(vs[s:e], grid)
                for s, e in zip(starts, ends)
            ]
            data = {kcol: pdf[kcol].to_numpy()[first] for kcol in key_list}
            data["window_start"] = pd.to_datetime(w[order][starts], unit="s")
            data["cnt"] = ends - starts
            data["sum_n_tok"] = np.add.reduceat(vs, starts)
            data["min_n_tok"] = vs[starts]
            data["max_n_tok"] = vs[ends - 1]
            data["sum_sq_n_tok"] = np.add.reduceat(vs * vs, starts)
            data["qdigest"] = digs
            yield pd.DataFrame(data)

    return df.select(*key_list, ts_col, value_col).mapInPandas(
        partials, schema=schema)


def rollup_raw(
    df: DataFrame,
    tier: str = "1m",
    ts_col: str = "ts",
    value_col: str = "n_tok",
    keys: tuple[str, ...] = ("source",),
    with_digest: bool = False,
) -> DataFrame:
    """raw → first tier: `merge_states` over `raw_states`, one shuffle on
    (keys, window) with map-side combine; AQE picks the reduce width."""
    return merge_states(
        raw_states(df, tier, ts_col, value_col, keys, with_digest), keys, tier)


def state_aggs() -> list:
    """The five algebraic tier-state aggregates, each named as its column:
    cnt/sum/sum_sq add, min/max fold. Batch (`merge_states`) and streaming
    (`streaming_cascade`) tiers compose state with this one list."""
    return [F.sum("cnt").alias("cnt"), F.sum("sum_n_tok").alias("sum_n_tok"),
            F.min("min_n_tok").alias("min_n_tok"),
            F.max("max_n_tok").alias("max_n_tok"),
            F.sum("sum_sq_n_tok").alias("sum_sq_n_tok")]


def merge_states(df: DataFrame, keys, tier: str) -> DataFrame:
    """Compose the tier states that share (keys, window_start) into one
    row per window: cnt/sum/sum_sq add, min/max fold, avg is re-derived
    and digests merge through `sketches.merge_digest_series`, weighted by
    each state's cnt. Every batch path that combines tier state (the
    raw → first tier rollup, the cascade, the late-data refresh) goes
    through here, so the tiers agree by construction. `df` needs keys,
    window_start and the five algebraic columns (`raw_states`' output);
    qdigest is optional."""
    has_digest = "qdigest" in df.columns
    aggs = state_aggs()
    if has_digest:
        # one collect_list of structs: guarantees (digest, cnt) stay paired
        aggs.append(
            F.collect_list(F.struct("qdigest", "cnt")).alias("_dstate")
        )
    out = df.groupBy(*keys, "window_start").agg(*aggs).withColumn(
        "avg_n_tok", F.col("sum_n_tok") / F.col("cnt")
    )
    if has_digest:

        @F.pandas_udf("array<double>")
        def merge(states: pd.Series) -> pd.Series:
            return pd.Series(sketches.merge_digest_series(states))

        out = out.withColumn("qdigest", merge("_dstate")).drop("_dstate")
    return out.select(
        *keys, "window_start", F.lit(tier).alias("tier"), *AGG_COLS,
        *(["qdigest"] if has_digest else []),
    )


def rollup_cascade(
    tier_df: DataFrame,
    from_tier: str,
    to_tier: str,
    keys: tuple[str, ...] = ("source",),
) -> DataFrame:
    """tier N → tier N+1 by re-aggregating stored state (algebraic compose;
    digests merged via the weighted-grid kernel). Never touches raw."""
    assert TIER_SECONDS[to_tier] % TIER_SECONDS[from_tier] == 0
    parent = F.window("window_start", TIER_INTERVAL[to_tier])["start"]
    return merge_states(tier_df.withColumn("window_start", parent), keys,
                        to_tier)


def variance_from_state(df: DataFrame) -> DataFrame:
    """Population variance from the algebraic (cnt, sum, sum_sq) state —
    matches the reference's np.var ddof=0 (StatisticalVar.py:307)."""
    return df.withColumn(
        "var_n_tok",
        F.col("sum_sq_n_tok") / F.col("cnt")
        - (F.col("sum_n_tok") / F.col("cnt")) ** 2,
    )


def resample_mean(
    df: DataFrame,
    interval: str = "5 minutes",
    ts_col: str = "timestamp",
    value_cols: tuple[str, ...] = ("value",),
    label_col: str | None = "ground_truth",
    ts_is_epoch: bool = True,
) -> DataFrame:
    """Exact reference semantics of TimeIntervalTransformPrimitive
    (tods/data_processing/TimeIntervalTransform.py:148-169): resample to
    `interval`, mean of value columns, resampled label binarized (>0 → 1),
    empty buckets dropped (pandas resample keeps them as NaN then the
    d3mIndex rebuild drops nothing — but mean of empty is NaN; we emit only
    non-empty buckets, matching the non-gap fixtures; gap semantics are
    handled by the dedicated gap-fill operator)."""
    ts = (
        F.timestamp_seconds(F.col(ts_col).cast("long"))
        if ts_is_epoch
        else F.col(ts_col)
    )
    aggs = [F.avg(c).alias(c) for c in value_cols]
    if label_col is not None:
        aggs.append(
            F.max(F.when(F.col(label_col) > 0, 1).otherwise(0)).alias(label_col)
        )
    return (
        df.groupBy(F.window(ts, interval).alias("w"))
        .agg(*aggs)
        .select(F.col("w.start").alias("window_start"), *value_cols,
                *([label_col] if label_col else []))
    )


def refresh_tier(
    tier_df: DataFrame,
    late_raw: DataFrame,
    tier: str = "1h",
    ts_col: str = "ts",
    value_col: str = "n_tok",
    keys: tuple[str, ...] = ("source",),
) -> DataFrame:
    """Incremental continuous-aggregate refresh on late-arriving raw rows
    (the TimescaleDB invalidation-log pattern): turn ONLY the late batch
    into tier state with `raw_states`, the kernel of the build, and merge
    it into the stored tier with `merge_states`, the composition every
    other tier path uses. Equivalent to recomputing the tier from
    raw ∪ late — proven by the oracle twin — at the cost of the late
    batch, never a raw rescan.

    Scale shape (10^12-row raw, tier orders of magnitude smaller but
    still too big to shuffle casually): the tier is split by broadcast
    hash joins against the late batch's window set, the distinct
    (keys, window) of the late rows — a JVM aggregate, so the digest
    kernel runs once —
      * untouched rows: LEFT ANTI broadcast(late windows), never
        exchanged;
      * affected rows: LEFT SEMI broadcast(late windows), unioned with
        the late states in one `merge_states`. That exchange is
        late-sized (at most one tier row per late window, late states
        combined map-side) and carries no raw value. Windows the tier has
        never seen come out of the same merge, with late state only.
    Joins match null keys (null-safe equality), as the merge's groupBy
    groups them. pipeline.refresh_engine passes the stored rows of the
    late days only, so the untouched branch is the rest of those days'
    partitions.
    """
    dig = ["qdigest"] if "qdigest" in tier_df.columns else []
    on = [*keys, "window_start"]
    late = raw_states(late_raw, tier, ts_col, value_col, keys, bool(dig))
    windows = F.broadcast(
        raw_states(late_raw, tier, ts_col, value_col, keys)
        .select(*[F.col(c).alias(f"_late_{c}") for c in on]).distinct()
    )
    hit = reduce(operator.and_,
                 [F.col(c).eqNullSafe(F.col(f"_late_{c}")) for c in on])
    affected = tier_df.join(windows, hit, "left_semi").select(*late.columns)
    # rebuilt from state so the input tier needs only keys + window + the
    # five algebraic columns (derived tier/avg columns are optional)
    untouched = (
        tier_df.join(windows, hit, "left_anti")
        .withColumn("avg_n_tok", F.col("sum_n_tok") / F.col("cnt"))
        .select(*on, F.lit(tier).alias("tier"), *AGG_COLS, *dig)
    )
    return untouched.unionByName(
        merge_states(affected.unionByName(late), keys, tier)
    )


def rollup_distinct(
    df: DataFrame,
    tier: str = "1m",
    ts_col: str = "ts",
    id_col: str = "user_id",
    keys: tuple[str, ...] = ("event_type",),
    lg_k: int = 12,
) -> DataFrame:
    """Distinct-count continuous aggregate: an HLL sketch of ``id_col``
    per (keys, window) — `hll_sketch_agg` (Apache DataSketches, built
    into Spark >= 3.5). COUNT(DISTINCT) is not algebraic, so it cannot
    ride the (cnt/sum/min/max) tier state; the sketch is its mergeable
    stand-in: tier N+1 unions tier N's sketches (`rollup_distinct_cascade`)
    and the union is REGISTER-EXACT — union(sketch(A), sketch(B)) has
    byte-identical state to sketch(A ∪ B) — so the cascade estimate
    equals the direct estimate exactly, not approximately (pytest-
    asserted). Error vs the TRUE distinct count is the standard HLL
    bound (~1.04/sqrt(2^lg_k) ≈ 1.6% at lg_k=12, ~2.5 KB per window).

    Scale shape: identical to rollup_raw — one shuffle with map-side
    partial sketches (each task ships <= windows-per-task sketches, never
    rows); the cascade is a tier-sized union. This is the engine answer
    to "how many distinct sequences/users per window at 10^12 rows" —
    an exact distinct would shuffle every id."""
    return (
        df.groupBy(*keys, F.window(ts_col, TIER_INTERVAL[tier]).alias("w"))
        .agg(F.hll_sketch_agg(id_col, F.lit(lg_k)).alias("hll"))
        .select(
            *keys,
            F.col("w.start").alias("window_start"),
            F.lit(tier).alias("tier"),
            "hll",
            F.hll_sketch_estimate("hll").alias("n_distinct_est"),
        )
    )


def rollup_distinct_cascade(
    tier_df: DataFrame,
    from_tier: str,
    to_tier: str,
    keys: tuple[str, ...] = ("source",),
) -> DataFrame:
    """tier N -> tier N+1 for the distinct sketch: union the child
    windows' HLL registers (max per register — associative, commutative,
    idempotent, hence also safe under retried/duplicated tier rows)."""
    assert TIER_SECONDS[to_tier] % TIER_SECONDS[from_tier] == 0
    parent = F.window("window_start", TIER_INTERVAL[to_tier])["start"]
    return (
        tier_df.groupBy(*keys, parent.alias("window_start"))
        .agg(F.hll_union_agg("hll").alias("hll"))
        .select(
            *keys,
            "window_start",
            F.lit(to_tier).alias("tier"),
            "hll",
            F.hll_sketch_estimate("hll").alias("n_distinct_est"),
        )
    )
