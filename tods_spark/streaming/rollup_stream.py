"""Structured Streaming ingest for the raw→1m tier (SURVEY.md §2.12).

The reference is entirely batch (no watermark/session/late-data machinery in
TODS), so this is net-new engine capability: a streaming twin of
operators/rollup.rollup_raw with

  * event-time tumbling windows (`window(ts, '1 minute')`),
  * a watermark bounding state for late data (`withWatermark`) — rows later
    than the watermark are dropped from the stream and reconciled by the
    BATCH re-rollup of affected partitions via the checkpoint table
    (plans/checkpoint.py), which is the engine's late-data story,
  * append output mode so each finalized window is emitted exactly once to
    the tier sink (foreachBatch → PartitionedTable.overwrite_partitions for
    exactly-once-in-effect delivery).

In the sandbox the source is a parquet directory stream driven synchronously
(`processAllAvailable`); on a cluster the same plan reads Kafka.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from tods_spark.operators.rollup import AGG_COLS, TIER_INTERVAL, state_aggs


def streaming_cascade(
    stream_df: DataFrame,
    tiers: tuple[str, ...] = ("1m", "1h", "1d"),
    ts_col: str = "ts",
    value_col: str = "n_tok",
    keys: tuple[str, ...] = ("source",),
    watermark: str = "2 minutes",
) -> DataFrame:
    """CHAINED streaming tier cascade — raw → 1m → 1h → 1d inside ONE
    streaming query (Spark ≥3.4 multiple-stateful-operator support), the
    streaming twin of rollup_raw + rollup_cascade with the same output
    schema (`tiers=("1m",)` is the streaming 1m rollup): the first
    windowed aggregation builds the algebraic 1m state from raw events,
    and every later tier re-aggregates the PREVIOUS tier's
    ALGEBRAIC state on `window(window_time(w), <interval>)` — exactly the
    batch rollup_cascade composition (sum of cnt/sums, min of mins, max of
    maxes), so tier N+1 state is O(windows), never O(rows). The single
    watermark on the raw input propagates through all levels (each tier's
    event time is `window_time` of the tier below), keeping state bounded
    end-to-end; each finalized window of the LAST tier is emitted once in
    append mode."""
    v = F.col(value_col).cast("double")
    # each raw row enters as the tier state of its own instant, so every
    # tier, the first included, is the same state aggregation
    cur = stream_df.withWatermark(ts_col, watermark).select(
        *keys, ts_col, F.lit(1).alias("cnt"), v.alias("sum_n_tok"),
        v.alias("min_n_tok"), v.alias("max_n_tok"),
        (v * v).alias("sum_sq_n_tok"),
    )
    event_time = F.col(ts_col)
    for tier in tiers:
        cur = cur.groupBy(
            *keys, F.window(event_time, TIER_INTERVAL[tier]).alias("w"),
        ).agg(*state_aggs())
        event_time = F.window_time("w")
    return cur.withColumn(
        "avg_n_tok", F.col("sum_n_tok") / F.col("cnt")
    ).select(*keys, F.col("w.start").alias("window_start"),
             F.lit(tiers[-1]).alias("tier"), *AGG_COLS)


def run_stream_from_parquet(
    spark: SparkSession,
    src_dir: str,
    schema,
    query_name: str = "rollup_1m_stream",
    watermark: str = "2 minutes",
    keys: tuple[str, ...] = ("source",),
    value_col: str = "n_tok",
):
    """Drive the streaming rollup synchronously over a parquet directory
    (sandbox harness; swap `readStream.format("kafka")` on a cluster)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(src_dir)
    )
    agg = streaming_cascade(stream, tiers=("1m",), value_col=value_col,
                            keys=keys, watermark=watermark)
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def streaming_dedup(
    stream_df,
    id_cols: tuple[str, ...] = ("doc_id",),
    event_time_col: str = "ts",
    delay: str = "10 minutes",
):
    """Streaming exact dedup: drop re-deliveries of the same id arriving
    within the watermark horizon (`dropDuplicatesWithinWatermark`,
    Spark >= 3.5). This is the ingest-side guard of the dedup family —
    at-least-once upstream (Kafka replays, retried producers) becomes
    effectively-once before rows reach a rollup tier.

    Scale shape: state is keyed by the id columns only (not id x window),
    expires with the watermark, and lives in the per-partition state
    store — no shuffle beyond the one hash-exchange on the ids that any
    exact dedup needs; state size is bounded by arrival rate x delay,
    never by stream history."""
    return stream_df.withWatermark(
        event_time_col, delay
    ).dropDuplicatesWithinWatermark(list(id_cols))


def streaming_m4(
    stream_df: DataFrame,
    bucket: str = "6 hours",
    ts_col: str = "ts",
    value_col: str = "value",
    keys: tuple[str, ...] = ("event_type",),
    watermark: str = "2 minutes",
):
    """Streaming twin of operators/downsample.m4_downsample (ts-only
    ordering — the fast path; a tie column would need a struct min_by
    buffer, which streaming state stores handle but at a bigger state
    row). Each finalized bucket emits exactly one (min, max, first,
    last) row in append mode: the live-dashboard feed for the chart
    serving path, same schema as the batch op so a consumer can backfill
    history from batch M4 and tail the stream seamlessly.

    State per (keys, bucket) is five scalars + the ordering epoch —
    constant per window like the rollup tiers, bounded by the watermark
    horizon."""
    v = F.col(value_col).cast("double")
    order = F.unix_micros(F.col(ts_col).cast("timestamp"))
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(*keys, F.window(ts_col, bucket).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(v).alias("v_min"),
            F.max(v).alias("v_max"),
            F.min_by(v, order).alias("v_first"),
            F.max_by(v, order).alias("v_last"),
        )
        .select(
            *keys,
            F.col("w.start").alias("bucket_start"),
            "cnt",
            "v_min",
            "v_max",
            "v_first",
            "v_last",
        )
    )
