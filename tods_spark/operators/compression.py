"""Rollup-point compression: Gorilla-packed binary columns per chunk.

``pack_tier`` groups a rollup tier's (window_start, value) points into
per-(key, chunk) blobs — e.g. one blob per (source, day) at the 1m tier —
via applyInPandas (Arrow batches; the numpy/bit kernel is
functions/gorilla.py). ``unpack_tier`` explodes blobs back into rows.

Round-trip is bitwise (tests/test_gorilla.py property test), so packed
tiers remain queryable: unpack → DataFrame → any engine operator.

Scale: group size is bounded by chunk choice (1440 points per source-day at
1m). Packing is one hash exchange on (keys, chunk) carrying only the four
columns ``pack`` reads; AQE picks its reduce width.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from tods_spark.functions import gorilla


def pack_tier(
    tier_df: DataFrame,
    value_col: str = "avg_n_tok",
    keys: tuple[str, ...] = ("source",),
    chunk: str = "1 day",
    window_col: str = "window_start",
) -> DataFrame:
    key_list = list(keys)
    schema = (
        ", ".join(f"{k} string" for k in key_list)
        + ", chunk_start timestamp, n_points long, blob binary"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__ts__")
        blob = gorilla.encode_series(
            pdf["__ts__"].to_numpy(np.int64),
            pdf[value_col].to_numpy(np.float64),
        )
        out = {k: [pdf[k].iloc[0]] for k in key_list}
        out["chunk_start"] = [pdf["__chunk__"].iloc[0]]
        out["n_points"] = [len(pdf)]
        out["blob"] = [blob]
        return pd.DataFrame(out)

    # project to the 4 columns pack() reads BEFORE the Python boundary:
    # applyInPandas is opaque to column pruning (guide §4.1), and the tier
    # otherwise ships its full agg state + qdigest arrays through the
    # exchange and the Arrow transpose for nothing
    prepared = tier_df.select(*key_list, window_col, value_col).withColumn(
        "__ts__", F.col(window_col).cast("timestamp_ltz").cast("long")
    ).withColumn("__chunk__", F.window(window_col, chunk)["start"])
    return prepared.groupBy(*key_list, "__chunk__").applyInPandas(pack, schema)


def unpack_tier(
    packed: DataFrame,
    value_col: str = "avg_n_tok",
    keys: tuple[str, ...] = ("source",),
) -> DataFrame:
    key_list = list(keys)
    schema = (
        ", ".join(f"{k} string" for k in key_list)
        + f", window_start timestamp, {value_col} double"
    )

    def unpack(batches):
        for pdf in batches:
            for blob, *key_vals in zip(pdf["blob"], *(pdf[k] for k in key_list)):
                ts, vals = gorilla.decode_series(bytes(blob))
                out = pd.DataFrame(
                    {"window_start": pd.to_datetime(ts, unit="s"), value_col: vals}
                )
                for k, v in zip(key_list, key_vals):
                    out[k] = v
                yield out[[*key_list, "window_start", value_col]]

    return packed.mapInPandas(unpack, schema)


def compression_report(packed: DataFrame) -> DataFrame:
    """Bytes per point vs raw 16 B (8 B ts + 8 B double) — the Gorilla win."""
    return packed.agg(
        F.sum("n_points").alias("points"),
        F.sum(F.octet_length("blob")).alias("bytes"),
        (F.sum(F.octet_length("blob")) / F.sum("n_points")).alias("bytes_per_point"),
        (
            F.lit(16.0) * F.sum("n_points") / F.sum(F.octet_length("blob"))
        ).alias("compression_ratio_vs_raw16"),
    )
