"""Streaming rollup vs batch parity; salted aggregation equivalence."""

from __future__ import annotations

import numpy as np

from tods_spark.datagen import SCHEMA, gen_pandas, token_table
from tods_spark.operators import skew
from tods_spark.operators.rollup import rollup_raw
from tods_spark.streaming.rollup_stream import run_stream_from_parquet


def test_streaming_rollup_matches_batch(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    df = token_table(spark, 2500, partitions=6)
    df.write.parquet(src)
    batch = (
        rollup_raw(spark.read.parquet(src), "1m")
        .orderBy("source", "window_start")
        .toPandas()
    )
    from pyspark.sql.types import _parse_datatype_string

    streamed = (
        run_stream_from_parquet(spark, src, _parse_datatype_string(SCHEMA))
        .orderBy("source", "window_start")
        .toPandas()
    )
    # watermark may hold back the final (incomplete) windows per source; all
    # emitted windows must match batch exactly
    assert len(streamed) >= 0.9 * len(batch)
    merged = streamed.merge(
        batch, on=["source", "window_start"], suffixes=("_s", "_b")
    )
    assert len(merged) == len(streamed)
    for c in ("cnt", "sum_n_tok", "min_n_tok", "max_n_tok", "avg_n_tok",
              "sum_sq_n_tok"):
        np.testing.assert_allclose(merged[f"{c}_s"], merged[f"{c}_b"],
                                   rtol=1e-12, err_msg=c)


def test_salted_agg_equals_plain(spark):
    raw = token_table(spark, 5000, partitions=6)
    plain = (
        raw.groupBy("source")
        .agg(
            {"n_tok": "count"},
        )
        .withColumnRenamed("count(n_tok)", "cnt")
        .orderBy("source")
        .toPandas()
    )
    salted = (
        skew.salted_agg(raw, ["source"], n_salts=16, salt_from="doc_id")
        .orderBy("source")
        .toPandas()
    )
    np.testing.assert_array_equal(salted["cnt"], plain["cnt"])
    pdf = gen_pandas(np.arange(5000))
    exp = pdf.groupby("source")["n_tok"].agg(["sum", "min", "max"]).sort_index()
    np.testing.assert_allclose(salted["sum_v"], exp["sum"])
    np.testing.assert_allclose(salted["min_v"], exp["min"])
    np.testing.assert_allclose(salted["max_v"], exp["max"])


def test_skew_exists_in_generator(spark):
    rep = skew.skew_report(token_table(spark, 4000, partitions=4), "source").toPandas()
    assert rep.iloc[0]["source"] == "web" and rep.iloc[0]["share"] > 0.6


def test_stateful_streaming_ses_matches_batch(spark, tmp_path):
    """applyInPandasWithState SES: the level carried in GroupState across
    micro-batches (one file per trigger, written in event-time order) must
    reproduce the batch recurrence bit-for-bit on the concatenated input."""
    import os

    import pandas as pd

    from tods_spark.operators.smoothing import ses_fitted
    from tods_spark.streaming.stateful import run_stateful_stream_from_parquet

    rng = np.random.default_rng(9)
    frames = []
    for k in ("a", "b"):
        ts = pd.date_range("2024-01-01", periods=90, freq="min")
        frames.append(pd.DataFrame({
            "event_type": k, "window_start": ts,
            "v": rng.normal(10, 3, 90).round(3),
        }))
    pdf = pd.concat(frames, ignore_index=True)
    src = str(tmp_path / "ses_src")
    os.makedirs(src)
    # three micro-batches in event-time order (file source reads
    # lexicographically): the state must survive batch boundaries
    for i, (lo, hi) in enumerate([(0, 30), (30, 60), (60, 90)]):
        chunk = pd.concat(
            [f.iloc[lo:hi] for f in frames], ignore_index=True
        )
        spark.createDataFrame(chunk).coalesce(1).write.parquet(
            f"{src}/batch={i}"
        )
    schema = "event_type string, window_start timestamp, v double"
    got = run_stateful_stream_from_parquet(
        spark, f"{src}/batch=*", schema
    ).orderBy("event_type", "window_start").toPandas()
    assert len(got) == len(pdf)
    for k, f in zip(("a", "b"), frames):
        g = got[got.event_type == k]
        exp = ses_fitted(f["v"].to_numpy())
        np.testing.assert_array_equal(g["v_ses"].to_numpy(), exp)


def test_stateful_streaming_stat_window_matches_batch(spark, tmp_path):
    """applyInPandasWithState trailing-window stat: the value buffer carried
    in GroupState across micro-batches must reproduce the batch
    stat_window trailing stats for every row past the backfill prefix
    (t >= w-1), plus the fixed-threshold binarize labels."""
    import os

    import pandas as pd

    from tods_spark.operators.windows import stat_window
    from tods_spark.streaming.stateful import streaming_stat_window

    w = 5
    rng = np.random.default_rng(17)
    frames = []
    for k in ("a", "b"):
        ts = pd.date_range("2024-01-01", periods=60, freq="min")
        frames.append(pd.DataFrame({
            "event_type": k, "window_start": ts,
            "v": rng.normal(10, 3, 60).round(3),
        }))
    pdf = pd.concat(frames, ignore_index=True)
    src = str(tmp_path / "stat_src")
    os.makedirs(src)
    for i, (lo, hi) in enumerate([(0, 20), (20, 40), (40, 60)]):
        chunk = pd.concat([f.iloc[lo:hi] for f in frames], ignore_index=True)
        spark.createDataFrame(chunk).coalesce(1).write.parquet(
            f"{src}/batch={i}"
        )
    schema = "event_type string, window_start timestamp, v double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/batch=*")
    )
    out = streaming_stat_window(stream, stat="mean", window_size=w,
                                threshold=10.0)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("stat_stream").start())
    q.processAllAvailable()
    q.stop()
    got = (spark.sql("SELECT * FROM stat_stream")
           .orderBy("event_type", "window_start").toPandas())
    assert len(got) == len(pdf)

    batch = (
        stat_window(spark.createDataFrame(pdf), ["v"], "mean", window_size=w,
                    keys=["event_type"], order_col="window_start")
        .orderBy("event_type", "window_start").toPandas()
    )
    for k in ("a", "b"):
        g = got[got.event_type == k].reset_index(drop=True)
        b = batch[batch.event_type == k].reset_index(drop=True)
        # past the batch operator's backfill prefix both paths compute the
        # identical full-window trailing mean (batch output carries the
        # engine's 4-decimal canonicalization — apply it to the stream side)
        np.testing.assert_allclose(
            np.round(g["v_mean"].to_numpy()[w - 1:] + 1e-9, 4),
            b["v_mean"].to_numpy()[w - 1:],
            rtol=1e-12,
        )
        np.testing.assert_array_equal(
            g["label"].to_numpy()[w - 1:],
            (g["v_mean"].to_numpy()[w - 1:] > 10.0).astype(int),
        )


def test_streaming_chained_cascade_matches_batch(spark, tmp_path):
    """raw -> 1m -> 1h chained inside ONE streaming query (two stateful
    windowed aggs, window_time propagation): every emitted 1h window
    matches the batch cascade exactly."""
    from tods_spark.datagen import SCHEMA, token_table
    from tods_spark.operators.rollup import rollup_cascade, rollup_raw
    from tods_spark.streaming.rollup_stream import streaming_cascade
    from pyspark.sql.types import _parse_datatype_string

    import pandas as pd
    from pyspark.sql import functions as F

    src = str(tmp_path / "cascade_src")
    # sequential time-range chunks written one job at a time: strictly
    # increasing mtimes give the file stream a DETERMINISTIC in-order
    # replay (the per-key ordering a Kafka source guarantees); a bulk
    # multi-file write gets replayed in mtime-jumbled order and rows
    # beyond the watermark are (correctly) dropped
    tok = token_table(spark, 3000, partitions=6)
    b = tok.select(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    edges = pd.date_range(b["lo"], b["hi"], periods=7)
    for i in range(6):
        upper = (F.col("ts") <= str(edges[i + 1])) if i == 5 else (
            F.col("ts") < str(edges[i + 1])
        )
        (tok.filter((F.col("ts") >= str(edges[i])) & upper)
         .coalesce(1).write.parquet(f"{src}/batch={i:02d}"))
    batch = (
        rollup_cascade(
            rollup_raw(spark.read.parquet(src + "/batch=*"), "1m"),
            "1m", "1h",
        )
        .orderBy("source", "window_start")
        .toPandas()
    )
    stream = (
        spark.readStream.schema(_parse_datatype_string(SCHEMA))
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/batch=*")
    )
    out = streaming_cascade(stream, tiers=("1m", "1h"))
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("cascade_stream").start())
    q.processAllAvailable()
    q.stop()
    streamed = (spark.sql("SELECT * FROM cascade_stream")
                .orderBy("source", "window_start").toPandas())
    # the watermark holds back trailing incomplete windows; everything
    # emitted must match the batch tier exactly
    assert len(streamed) >= 0.5 * len(batch) and len(streamed) > 0
    merged = streamed.merge(batch, on=["source", "window_start"],
                            suffixes=("_s", "_b"))
    assert len(merged) == len(streamed)
    for c in ("cnt", "sum_n_tok", "min_n_tok", "max_n_tok", "avg_n_tok",
              "sum_sq_n_tok"):
        np.testing.assert_allclose(merged[f"{c}_s"], merged[f"{c}_b"],
                                   rtol=1e-12, err_msg=c)


def test_streaming_cascade_1d_matches_batch(spark, tmp_path):
    """raw -> 1m -> 1h -> 1d: THREE chained stateful windowed aggs in one
    streaming query. Input spans 2+ days (60s cadence) so at least one 1d
    window finalizes under the watermark; every emitted 1d window matches
    the batch cascade exactly."""
    from tods_spark.datagen import SCHEMA, token_table
    from tods_spark.operators.rollup import rollup_cascade, rollup_raw
    from tods_spark.streaming.rollup_stream import streaming_cascade
    from pyspark.sql.types import _parse_datatype_string

    import pandas as pd
    from pyspark.sql import functions as F

    src = str(tmp_path / "cascade1d_src")
    tok = token_table(spark, 4000, partitions=6, cadence_s=60)
    b = tok.select(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    assert (b["hi"] - b["lo"]).days >= 2
    edges = pd.date_range(b["lo"], b["hi"], periods=7)
    for i in range(6):
        upper = (F.col("ts") <= str(edges[i + 1])) if i == 5 else (
            F.col("ts") < str(edges[i + 1])
        )
        (tok.filter((F.col("ts") >= str(edges[i])) & upper)
         .coalesce(1).write.parquet(f"{src}/batch={i:02d}"))
    batch = (
        rollup_cascade(
            rollup_cascade(
                rollup_raw(spark.read.parquet(src + "/batch=*"), "1m"),
                "1m", "1h",
            ),
            "1h", "1d",
        )
        .orderBy("source", "window_start")
        .toPandas()
    )
    stream = (
        spark.readStream.schema(_parse_datatype_string(SCHEMA))
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/batch=*")
    )
    out = streaming_cascade(stream, tiers=("1m", "1h", "1d"))
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("cascade1d_stream").start())
    q.processAllAvailable()
    q.stop()
    streamed = (spark.sql("SELECT * FROM cascade1d_stream")
                .orderBy("source", "window_start").toPandas())
    # >= 2 full days -> at least the first day's windows finalize
    assert len(streamed) > 0
    merged = streamed.merge(batch, on=["source", "window_start"],
                            suffixes=("_s", "_b"))
    assert len(merged) == len(streamed)
    for c in ("cnt", "sum_n_tok", "min_n_tok", "max_n_tok", "avg_n_tok",
              "sum_sq_n_tok"):
        np.testing.assert_allclose(merged[f"{c}_s"], merged[f"{c}_b"],
                                   rtol=1e-12, err_msg=c)


def test_streaming_cascade_late_data_within_watermark(spark, tmp_path):
    """Out-of-order input: a later micro-batch delivers events with
    timestamps BEHIND the stream's max event time but inside the
    watermark delay. Those late rows must be merged into their (still
    open) windows — every emitted 1h window equals the batch rollup over
    the full input, late rows included."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import _parse_datatype_string

    from tods_spark.operators.rollup import rollup_cascade, rollup_raw
    from tods_spark.streaming.rollup_stream import streaming_cascade

    schema = "ts timestamp, source string, n_tok int"
    base = pd.Timestamp("2024-01-01 00:00:00")

    def mk(minutes_vals):
        return pd.DataFrame({
            "ts": [base + pd.Timedelta(minutes=m) for m, _ in minutes_vals],
            "source": ["web"] * len(minutes_vals),
            "n_tok": [v for _, v in minutes_vals],
        })

    # file 0: minutes 0-9 (in order). file 1: max event time jumps to 30,
    # PLUS late rows at minutes 3 and 7 — behind the max the stream has
    # seen after this batch, but within the 1-hour watermark, so they must
    # land in their original 1m/1h windows. file 2: advances event time to
    # minute 200 (>1h + watermark past hour 0) to finalize hour 0.
    files = [
        mk([(m, 10 + m) for m in range(10)]),
        mk([(30, 99), (3, 1000), (7, 2000)]),
        mk([(200, 5), (205, 6)]),
    ]
    src = str(tmp_path / "late_src")
    for i, pdf in enumerate(files):
        (spark.createDataFrame(pdf, schema).coalesce(1)
         .write.parquet(f"{src}/batch={i:02d}"))

    batch = (
        rollup_cascade(
            rollup_raw(spark.read.parquet(src + "/batch=*"), "1m"),
            "1m", "1h",
        )
        .orderBy("source", "window_start").toPandas()
    )
    stream = (
        spark.readStream.schema(_parse_datatype_string(schema))
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/batch=*")
    )
    out = streaming_cascade(stream, tiers=("1m", "1h"),
                            watermark="1 hour")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("late_stream").start())
    q.processAllAvailable()
    q.stop()
    streamed = (spark.sql("SELECT * FROM late_stream")
                .orderBy("source", "window_start").toPandas())
    # hour 0 must have finalized, and its aggregate must INCLUDE the two
    # late rows (sum over minutes 0..9 plus 1000 + 2000 + the minute-30 row)
    assert len(streamed) >= 1
    h0 = streamed[streamed.window_start == base]
    assert len(h0) == 1
    b0 = batch[batch.window_start == base]
    for c in ("cnt", "sum_n_tok", "min_n_tok", "max_n_tok", "avg_n_tok",
              "sum_sq_n_tok"):
        np.testing.assert_allclose(h0[c].to_numpy(), b0[c].to_numpy(),
                                   rtol=1e-12, err_msg=c)
    assert h0["cnt"].iloc[0] == 13  # 10 in-order + 1 at min 30 + 2 late


def test_streaming_dedup_drops_redeliveries(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a replayed batch (same doc_ids,
    same timestamps) contributes no extra rows; distinct ids survive."""
    from pyspark.sql.types import _parse_datatype_string

    from tods_spark.streaming.rollup_stream import streaming_dedup

    src = str(tmp_path / "dedup_src")
    df = token_table(spark, 400, partitions=2)
    # write the table TWICE into the source dir: at-least-once delivery
    df.write.parquet(src)
    df.write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(_parse_datatype_string(SCHEMA))
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        streaming_dedup(stream, id_cols=("doc_id",), delay="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT doc_id FROM dedup_stream").toPandas()
    n_distinct = df.select("doc_id").distinct().count()
    assert len(got) == n_distinct
    assert got.doc_id.nunique() == n_distinct
