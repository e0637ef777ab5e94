"""Retention policy: per-tier partition expiry (the "retention" of the
rollup+downsample+retention engine — BASELINE.json north star).

Semantics: each tier keeps a sliding horizon of day-partitions (e.g. raw
7 days, 1m 30 days, 1h 365 days, 1d forever). Expiry is PARTITION DROP, not
row delete — O(#partitions) metadata work, no data rewrite, matching
Iceberg's `expire_snapshots` + partition-predicate delete shape. The expiry
is recorded in the checkpoint log so lineage shows when data left each tier.

The cascade makes this safe: a dropped raw partition's information persists
in the coarser tiers (algebraic aggregates + merged digests), which is the
entire point of rollup-based retention.
"""

from __future__ import annotations

import shutil
from datetime import datetime, timedelta

from tods_spark.plans.checkpoint import CheckpointLog
from tods_spark.sources.storage import PartitionedTable

DEFAULT_HORIZON_DAYS = {"raw": 7, "1m": 30, "1h": 365, "1d": None,
                        "1w": None}


def check_horizons(horizons: dict) -> None:
    """Raise ValueError, naming the key, for a horizon that is not a tier of
    DEFAULT_HORIZON_DAYS or whose days are neither None nor an int >= 0.
    Unchecked, {"1m": -5} would expire a 7-day-old day and {"1min": 1}
    nothing, both silently."""
    for tier, days in horizons.items():
        if tier not in DEFAULT_HORIZON_DAYS:
            raise ValueError(f"horizons: unknown tier {tier!r}, expected one "
                             f"of {list(DEFAULT_HORIZON_DAYS)}")
        if days is not None and (type(days) is not int or days < 0):
            raise ValueError(f"horizons[{tier!r}] = {days!r}: expected None "
                             f"or a whole number of days >= 0")


def expire_partitions(
    table: PartitionedTable,
    tier: str,
    now: datetime,
    horizon_days: int | None,
    ckpt: CheckpointLog | None = None,
    partition_col: str = "part_key",
    job_id: str = "retention",
) -> list[str]:
    """Drop day-partitions older than now - horizon. Returns dropped keys."""
    if horizon_days is None:
        return []
    cutoff = (now - timedelta(days=horizon_days)).strftime("%Y-%m-%d")
    dropped = []
    for path, values in table.partition_dirs():
        key = values[partition_col]
        if key is not None and key < cutoff:
            shutil.rmtree(path)
            dropped.append(key)
            if ckpt is not None:
                ckpt.mark(
                    job_id=job_id, tier=tier, partition=key, rows_in=0,
                    rows_out=0, fingerprint=0, status="expired",
                )
    return dropped
