"""Iceberg-style table storage over plain Parquet.

The sandbox has no Iceberg runtime jar, so this module provides the same
API shape behind one interface (SURVEY.md §7 "Iceberg in sandbox"): a
partitioned table with ATOMIC per-partition overwrite and a manifest. On a
real cluster the implementation swaps to `df.writeTo(tbl).overwritePartitions()`
— call sites don't change.

Atomicity in the parquet emulation comes from Spark's dynamic partition
overwrite (`spark.sql.sources.partitionOverwriteMode=dynamic`): only the
partitions present in the written DataFrame are replaced, others untouched;
a failed job leaves old partition data in place (staging dir committed per
partition by the output committer).
"""

from __future__ import annotations

import os
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _unescape(value: str) -> str | None:
    """A partition directory value as a column value: Hive escapes special
    characters as %XX and spells SQL NULL as __HIVE_DEFAULT_PARTITION__."""
    return None if value == "__HIVE_DEFAULT_PARTITION__" else unquote(value)


class PartitionedTable:
    """A partitioned Parquet table with Iceberg-like partition overwrite."""

    def __init__(self, spark: SparkSession, path: str, partition_cols: list[str]):
        self.spark = spark
        self.path = path
        self.partition_cols = partition_cols

    def exists(self) -> bool:
        return os.path.exists(self.path) and any(
            not f.startswith("_") for f in os.listdir(self.path)
        )

    def overwrite_partitions(self, df: DataFrame, **summary) -> str:
        """Replace exactly the partitions present in `df` (idempotent: a
        re-run of the same partition converges to the same state), and
        append a snapshot record with `summary` to the manifest log — the
        Iceberg-style commit history (run_tier's summary, its commit
        record, names its job_id, tier and partitions → member days).
        The write path NEVER recomputes `df` for bookkeeping: a caller that
        counts the written rows attaches them with `annotate_snapshot`
        (run_tier does, from its read-back)."""
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*self.partition_cols)
            .parquet(self.path)
        )
        return self._append_snapshot(op="overwrite_partitions", **summary)

    def _append_snapshot(self, **record) -> str:
        import json
        import time
        import uuid

        record.setdefault("snapshot_id", uuid.uuid4().hex[:16])
        record.setdefault("ts", time.time())
        os.makedirs(self.path, exist_ok=True)
        with open(os.path.join(self.path, "_manifest.jsonl"), "a") as f:
            f.write(json.dumps(record) + "\n")
            f.flush()
            os.fsync(f.fileno())
        return record["snapshot_id"]

    def annotate_snapshot(self, snapshot_id: str, partitions: dict) -> None:
        """Append-only stats record for a committed snapshot (callers that
        compute per-partition counts AFTER the commit — run_tier does, from
        its read-back — attach them here instead of recomputing the input
        inside the write path)."""
        self._append_snapshot(op="stats", for_snapshot=snapshot_id,
                              partitions=dict(partitions))

    def snapshots(self) -> list[dict]:
        """Commit history, oldest first (empty for never-written tables)."""
        import json

        mf = os.path.join(self.path, "_manifest.jsonl")
        if not os.path.exists(mf):
            return []
        with open(mf) as f:
            return [json.loads(line) for line in f if line.strip()]

    def append(self, df: DataFrame) -> None:
        df.write.mode("append").partitionBy(*self.partition_cols).parquet(self.path)

    def read(self, schema: StructType | None = None) -> DataFrame:
        """The table. A caller that knows the schema (it just wrote the
        table) passes it, and Spark runs no schema-inference job."""
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self.path)

    def partition_dirs(self) -> list[tuple[str, dict]]:
        """(directory, {column: value}) of every partition that holds a data
        file, from the directory listing alone: no Spark job. Entries whose
        name starts with ``_`` or ``.`` (the manifest, ``_temporary``,
        ``.spark-staging-*``) are not partitions. Values are Hive-unescaped
        strings, as Spark reads them back, with ``None`` for SQL NULL."""
        out: list[tuple[str, dict]] = []

        def walk(path: str, cols: list[str], values: dict) -> None:
            names = sorted(n for n in os.listdir(path)
                           if not n.startswith(("_", ".")))
            if not cols:
                if any(os.path.isfile(os.path.join(path, n)) for n in names):
                    out.append((path, values))
                return
            for name in names:
                col, sep, val = name.partition("=")
                sub = os.path.join(path, name)
                if sep and col == cols[0] and os.path.isdir(sub):
                    walk(sub, cols[1:], {**values, col: _unescape(val)})

        if os.path.isdir(self.path):
            walk(self.path, list(self.partition_cols), {})
        return out

    @staticmethod
    def partition_rows(directory: str) -> int:
        """Rows in one partition directory, from the row counts in its
        Parquet footers (read on the driver: no Spark job)."""
        import pyarrow.parquet as pq

        return sum(
            pq.read_metadata(os.path.join(directory, f)).num_rows
            for f in os.listdir(directory)
            if not f.startswith(("_", "."))
        )

    def partitions(self) -> list[dict]:
        """Partition value dicts currently in the table (directory listing)."""
        return [values for _path, values in self.partition_dirs()]

    def file_report(self) -> list[dict]:
        """(partition dir, n_files, bytes) per leaf partition — the input to
        a compaction decision. Filesystem metadata only, no Spark job."""
        out = []
        for root, _dirs, files in os.walk(self.path):
            data = [f for f in files
                    if not f.startswith(("_", ".")) and f.endswith(".parquet")]
            if data:
                out.append({
                    "partition": os.path.relpath(root, self.path),
                    "n_files": len(data),
                    "bytes": sum(
                        os.path.getsize(os.path.join(root, f)) for f in data
                    ),
                })
        return sorted(out, key=lambda r: r["partition"])

    def compact(self, target_bytes: int = 128 * 1024 * 1024,
                min_files: int = 2) -> dict:
        """Iceberg-style small-file compaction: rewrite every partition
        whose file count exceeds `min_files` into ceil(bytes/target_bytes)
        files, via the same atomic dynamic partition overwrite the tier
        writes use. Partitions already compact are left untouched (their
        bytes are never read). Returns {partition: files_before} for the
        rewritten set and logs a `compact` snapshot.

        At scale this is the maintenance pass that keeps a year of 1m-tier
        partitions from accumulating one file per micro-run: scan cost is
        bounded by the SELECTED partitions, not the table."""
        from functools import reduce

        from pyspark.sql import functions as F

        def n_target(r: dict) -> int:
            return max(1, -(-r["bytes"] // target_bytes))

        report = {r["partition"]: r for r in self.file_report()}
        # convergence: a partition is compaction-worthy only when its file
        # count exceeds BOTH min_files and its own byte-proportional target
        # ceil(bytes/target_bytes) — a big partition correctly split into
        # ceil(bytes/target) files is NOT rewritten again, so repeated
        # maintenance passes are no-ops once the table is compact
        todo = {
            p: r for p, r in report.items()
            if r["n_files"] > max(min_files, n_target(r))
        }
        if not todo:
            return {}
        df = self.read()

        # partition dir names are col=value; select the todo set with an OR
        # of per-partition AND-conjunctions (NOT per-column isin sets: those
        # select the CROSS PRODUCT of values and dynamic overwrite would
        # silently rewrite untouched partitions outside the todo set)
        def part_kv(p: str) -> dict[str, str | None]:
            # unescape so the filter and the nout join match the actual
            # column values, not the dir names
            out = {}
            for seg in p.split(os.sep):
                col, _, val = seg.partition("=")
                out[col] = _unescape(val)
            return out

        def part_cond(p: str):
            return reduce(
                lambda a, b: a & b,
                [
                    F.col(c).isNull() if v is None else (F.col(c) == F.lit(v))
                    for c, v in part_kv(p).items()
                ],
            )

        conds = reduce(lambda a, b: a | b, [part_cond(p) for p in todo])
        selected = df.filter(conds)
        # files per partition dir = ceil(THAT partition's bytes / target):
        # a per-partition salt modulus, broadcast-joined on the partition
        # cols, so small fragmented partitions collapse to 1 file while an
        # oversized one splits into exactly its own ceil(bytes/target)
        cols = [df.schema[c].dataType for c in self.partition_cols]
        nout_rows = [
            tuple(part_kv(p)[c] for c in self.partition_cols) + (n_target(r),)
            for p, r in todo.items()
        ]
        nout_df = self.spark.createDataFrame(
            nout_rows, [*self.partition_cols, "__nout__"]
        ).select(
            *[
                F.col(c).cast(t).alias(c)
                for c, t in zip(self.partition_cols, cols)
            ],
            F.col("__nout__").cast("int"),
        )
        salted = selected.join(
            F.broadcast(nout_df),
            on=[
                selected[c].eqNullSafe(nout_df[c])
                for c in self.partition_cols
            ],
            how="inner",
        ).drop(*[nout_df[c] for c in self.partition_cols]).withColumn(
            "__salt__",
            F.pmod(F.xxhash64(F.monotonically_increasing_id()),
                   F.col("__nout__").cast("bigint")),
        )
        compacted = salted.repartition(
            *self.partition_cols, "__salt__"
        ).drop("__salt__", "__nout__")
        (
            compacted.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*self.partition_cols)
            .parquet(self.path)
        )
        self._append_snapshot(
            op="compact",
            partitions={p: r["n_files"] for p, r in todo.items()},
        )
        return {p: r["n_files"] for p, r in todo.items()}
