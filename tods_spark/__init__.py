"""tods_spark — a PySpark-native time-series rollup / downsample / retention
engine with the query and data-processing capabilities of datamllab/tods,
re-expressed Spark-first (DataFrame/SQL + Catalyst + Arrow UDFs).

Built from scratch against the public PySpark API; the reference at
/root/reference defines WHAT is computed (operator semantics, edge rules,
output naming — see SURVEY.md), never HOW.

Layout:
  session      — SparkSession builder tuned for the engine
  datagen      — deterministic synthetic token-table generator (FIXTURES.md F0)
  operators/   — rollup tiers, window stats, gap-fill, dedup, segmentation,
                 smoothing, detection plumbing, text/token/similarity ops
  functions/   — Gorilla XOR + delta-of-delta codec, mergeable quantile digest
  sources/     — Iceberg-style partition-overwrite storage over Parquet
  plans/       — checkpoint / lineage table, idempotent resume
  streaming/   — Structured Streaming tier-0 rollup

Importing the package installs ``_zipstamp`` in the importing process: in a
Python < 3.12 pyspark worker it stops every task from re-reading
``pyspark.zip``'s directory (see that module).
"""

from tods_spark import _zipstamp

__version__ = "0.1.0"

_zipstamp.install()
