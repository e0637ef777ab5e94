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

import json
import os
import time
import uuid
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType


def fingerprint(df: DataFrame, partition_col: str) -> Column:
    """The per-row hash behind a partition's fingerprint: xxhash64 over the
    data columns of `df` (all but `partition_col`, in order). A partition's
    fingerprint is the sum of its rows' hashes mod 2^63 (`partition_stats`),
    so it does not depend on row order."""
    data = [F.col(c) for c in df.columns if c != partition_col]
    return F.xxhash64(*data).cast("decimal(38,0)")


def partition_stats(n, fp) -> tuple[int, int]:
    """(rows, fingerprint) of one partition from the count and the hash sum
    of its rows (None, as Spark sums no rows, is 0)."""
    return int(n or 0), int(fp or 0) & ((1 << 63) - 1)


# The most partitions one write observes. The observation costs two CASE
# aggregates per partition on every written row, so a wider write (a
# backfill) commits without stats and its reader fingerprints the bytes
# (`PartitionedTable.read_stats`): one O(rows) job instead of O(rows x P).
# On a 1M-row write (4 CPUs) observing 1 to 16 partitions cost 0.5-1.8
# CPU-s more than that job, with no trend; 32 cost 4.4 more, 128 10.5
# more. Small writes, where the saved job's fixed cost dominates, name a
# few days: a daily run, a refresh, a week and its neighbour.
OBSERVED_PARTITIONS = 8


def _unescape(value: str) -> str | None:
    """A partition directory value as a column value: Hive escapes special
    characters as %XX and spells SQL NULL as __HIVE_DEFAULT_PARTITION__."""
    return None if value == "__HIVE_DEFAULT_PARTITION__" else unquote(value)


class JsonLines:
    """An append-only JSON-lines log (a table's manifest, the checkpoint
    log): each record is one line, flushed and fsynced before `append`
    returns, so a record once appended survives a crash."""

    def __init__(self, path: str):
        self.path = path

    def records(self) -> list[dict]:
        """Every record, oldest first (none when nothing was appended)."""
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def append(self, record: dict) -> dict:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with open(self.path, "a") as f:
            f.write(json.dumps(record) + "\n")
            f.flush()
            os.fsync(f.fileno())
        return record


class PartitionedTable:
    """A partitioned Parquet table with Iceberg-like partition overwrite."""

    def __init__(self, spark: SparkSession, path: str, partition_cols: list[str]):
        self.spark = spark
        self.path = path
        self.partition_cols = partition_cols
        self.manifest = JsonLines(os.path.join(path, "_manifest.jsonl"))

    def exists(self) -> bool:
        return os.path.exists(self.path) and any(
            not f.startswith("_") for f in os.listdir(self.path)
        )

    def overwrite_partitions(self, df: DataFrame,
                             partitions: dict | None = None,
                             **summary) -> dict:
        """Replace exactly the partitions present in `df` (idempotent: a
        re-run of the same partition converges to the same state), and
        append its commit record to the manifest log — the Iceberg-style
        commit history — and return it. The record holds `summary`
        (run_tier's names its job_id and tier), the written schema, and
        `partitions` (partition value → the caller's lineage; run_tier's
        member days) with each named partition's (rows, fingerprint) under
        `stats`, as an Iceberg snapshot summary holds its write's metrics.
        The stats are observed on the rows the writer consumes, in the
        write's own tasks: `df` is not executed twice and nothing is read
        back. A write naming more than OBSERVED_PARTITIONS partitions
        records no `stats`."""
        record = {"op": "overwrite_partitions",
                  "schema": df.schema.jsonValue(), **summary}
        observe = bool(partitions) and len(partitions) <= OBSERVED_PARTITIONS
        if observe:
            (col,) = self.partition_cols
            # the row hash is a column, so it is computed once per row and
            # not once per partition
            obs, key, h = Observation(), F.col(col), "__fingerprint__"
            df = df.withColumn(h, fingerprint(df, col)).observe(obs, *[
                agg for i, p in enumerate(partitions) for agg in (
                    F.sum(F.when(key == p, 1)).alias(f"n{i}"),
                    F.sum(F.when(key == p, F.col(h))).alias(f"fp{i}"))
            ]).drop(h)
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*self.partition_cols)
            .parquet(self.path)
        )
        if partitions:
            record["partitions"] = partitions
        if observe:
            m = obs.get
            record["stats"] = {p: partition_stats(m[f"n{i}"], m[f"fp{i}"])
                               for i, p in enumerate(partitions)}
        return self._append_snapshot(**record)

    def _append_snapshot(self, **record) -> dict:
        return self.manifest.append({"snapshot_id": uuid.uuid4().hex[:16],
                                     "ts": time.time(), **record})

    def snapshots(self) -> list[dict]:
        """Commit history, oldest first (empty for never-written tables)."""
        return self.manifest.records()

    def append(self, df: DataFrame) -> None:
        df.write.mode("append").partitionBy(*self.partition_cols).parquet(self.path)

    def schema(self) -> StructType:
        """The schema of the latest commit that records one; inferred from
        the files when no commit does (a table written before commit
        records held schemas, or not through here)."""
        for snap in reversed(self.snapshots()):
            if "schema" in snap:
                return StructType.fromJson(snap["schema"])
        return self.spark.read.parquet(self.path).schema

    def read(self, days=None) -> DataFrame:
        """The table, read with `schema()`: a table whose commit records
        its schema runs no schema-inference job. `days`, when given, are
        values of the one partition column: only those of their
        directories that exist are read (`basePath` keeps the partition
        column), so Spark lists nothing else; when none exists the frame
        is empty, of that schema."""
        schema = self.schema()
        reader = self.spark.read.schema(schema)
        if days is None:
            return reader.parquet(self.path)
        (col,) = self.partition_cols
        paths = [path for path, v in self.partition_dirs() if v[col] in days]
        if not paths:
            return self.spark.createDataFrame([], schema)
        return reader.option("basePath", self.path).parquet(*paths)

    def read_stats(self, parts: list[str]) -> dict:
        """{partition: (rows, fingerprint)} of the bytes on disk of each of
        `parts`, (0, 0) for one with no rows (as a write of no rows
        records) or no directory: one groupBy over their read-back, and no
        read at all (the table's schema may be gone with its directory)
        when none has a directory. Only what a write could not observe is
        read back this way: `verify_resume`'s audit, and the partitions of
        a commit that records no stats."""
        (col,) = self.partition_cols
        if not any(v[col] in parts for _path, v in self.partition_dirs()):
            return dict.fromkeys(parts, (0, 0))
        df = self.read(days=parts)
        rows = df.groupBy(col).agg(
            F.count(F.lit(1)).alias("n"), F.sum(fingerprint(df, col)).alias("fp"),
        ).collect()
        # str() the key: a table no commit describes infers yyyy-MM-dd
        # directory values as DATE, while partitions are strings
        found = {str(r[col]): partition_stats(r["n"], r["fp"]) for r in rows}
        return {p: found.get(p, (0, 0)) for p in parts}

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
