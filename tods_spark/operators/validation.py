"""Data-validation operators (SURVEY.md §2.6/§2.7):

* ``sort_by_time`` — TimeStampValidationPrimitive
  (tods/data_processing/TimeStampValidation.py:30-61): ensure ascending
  timestamp order. Spark is set-oriented, so "sort iff unsorted" reduces to
  declaring the ordering; within-partition `sortWithinPartitions` is the
  shuffle-free variant used before window ops that already partition by key.

* ``dedup_timestamps`` — DuplicationValidationPrimitive
  (tods/data_processing/DuplicationValidation.py:46-87): drop duplicate
  timestamps keeping the FIRST row by original order, or replace each
  duplicate group with the per-timestamp MEAN of value columns (first row's
  other columns).

* ``rule_filter`` — RuleBasedFilterPrimitive
  (tods/reinforcement/RuleBasedFilter.py:310-328): the reference evals a
  Python expression per row; here the rule is a SQL boolean expression
  compiled by Catalyst (codegen'd predicate, pushdown-eligible).

* ``redact_columns`` — RedactColumnsPrimitive (tods/common/RedactColumns.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def sort_by_time(df: DataFrame, ts_col: str = "timestamp",
                 keys: tuple[str, ...] = (), within_partitions: bool = False) -> DataFrame:
    if within_partitions:
        return df.sortWithinPartitions(*keys, ts_col)
    return df.orderBy(*keys, ts_col)


def dedup_timestamps(
    df: DataFrame,
    ts_col: str = "timestamp",
    keep: str = "first",
    value_cols: tuple[str, ...] = (),
    keys: tuple[str, ...] = (),
    order_col: str | None = None,
) -> DataFrame:
    """keep='first': first row per (keys, ts) by `order_col` (or input order);
    keep='average': mean of value_cols per (keys, ts), first row's others."""
    if keep == "first":
        if order_col is None:
            df = df.withColumn("__ord__", F.monotonically_increasing_id())
            order_col = "__ord__"
        w = Window.partitionBy(*keys, ts_col).orderBy(order_col)
        return (
            df.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == 1)
            .drop("__rn__", "__ord__")
        )
    if keep == "average":
        if order_col is None:
            df = df.withColumn("__ord__", F.monotonically_increasing_id())
            order_col = "__ord__"
        other = [c for c in df.columns
                 if c not in value_cols and c not in (*keys, ts_col, order_col)]
        w = Window.partitionBy(*keys, ts_col).orderBy(order_col)
        avg_w = Window.partitionBy(*keys, ts_col)
        out = df
        for c in value_cols:
            out = out.withColumn(c, F.avg(F.col(c).cast("double")).over(avg_w))
        return (
            out.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == 1)
            .drop("__rn__", "__ord__")
        )
    raise ValueError(f"keep must be 'first' or 'average', got {keep!r}")


def rule_filter(df: DataFrame, rule: str, mode: str = "flag",
                flag_col: str = "result") -> DataFrame:
    """`rule` is a SQL boolean expression over columns. mode='flag' appends
    a 0/1 violation column (reference appends `result`); mode='keep' filters
    to rows satisfying the rule; mode='drop' removes them."""
    pred = F.expr(rule)
    if mode == "flag":
        return df.withColumn(flag_col, F.when(pred, 0).otherwise(1))
    if mode == "keep":
        return df.filter(pred)
    if mode == "drop":
        return df.filter(~pred)
    raise ValueError(f"unknown mode {mode!r}")


def redact_columns(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    out = df
    for c in cols:
        out = out.withColumn(c, F.lit(None).cast(dict(df.dtypes)[c]))
    return out
