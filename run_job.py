"""Cluster entry point: the deployable rollup job.

    zip -r tods_spark.zip tods_spark
    spark-submit --py-files tods_spark.zip run_job.py \
        --input s3://bucket/tokens/ --output s3://bucket/tiers/ \
        --job-id nightly-2026-08-16

In the sandbox (no cluster) the same script runs on local[*] against the
deterministic synthetic table:

    python run_job.py --n-docs 100000 --output /tmp/tiers
"""

from __future__ import annotations

import argparse
import json
from datetime import datetime, timezone


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet/Iceberg path of the token table")
    ap.add_argument("--n-docs", type=int, default=0,
                    help="synthesize this many docs instead of --input")
    ap.add_argument("--output", required=True, help="tier table base dir")
    ap.add_argument("--job-id",
                    help="checkpoint job id (default: the engine's own, "
                         "rollup for a build and refresh for --late-input)")
    ap.add_argument("--no-digest", action="store_true")
    ap.add_argument("--retention", action="store_true",
                    help="apply default per-tier retention horizons")
    ap.add_argument("--verify-resume", action="store_true",
                    help="re-fingerprint done partitions before skipping "
                         "them; drifted partitions are recomputed")
    ap.add_argument("--compact", action="store_true",
                    help="merge small files per tier partition after the "
                         "cascade (Iceberg-style maintenance)")
    ap.add_argument("--weekly", action="store_true",
                    help="extend the cascade with the 1w retention tier")
    ap.add_argument("--late-input",
                    help="parquet path of a LATE batch: refresh the "
                         "existing tier tree at --output incrementally "
                         "(affected day partitions only) instead of "
                         "rebuilding")
    args = ap.parse_args()

    from tods_spark.pipeline import refresh_engine, run_engine
    from tods_spark.session import get_spark

    # no --job-id leaves each engine its own default: a refresh under the
    # build's job id would find every late day done and merge nothing
    job = {"job_id": args.job_id} if args.job_id else {}
    spark = get_spark(app_name=f"tods_spark_{args.job_id or 'job'}")
    if args.late_input:
        report = refresh_engine(
            spark,
            spark.read.parquet(args.late_input),
            args.output,
            with_weekly=args.weekly,
            **job,
        )
        print(json.dumps(report, default=str))
        return
    if args.n_docs:
        from tods_spark.datagen import token_table

        raw = token_table(spark, args.n_docs)
    else:
        raw = spark.read.parquet(args.input)

    report = run_engine(
        spark,
        raw,
        args.output,
        with_digest=not args.no_digest,
        verify_resume=args.verify_resume,
        compact=args.compact,
        with_weekly=args.weekly,
        now=datetime.now(timezone.utc).replace(tzinfo=None)
        if args.retention
        else None,
        **job,
    )
    print(json.dumps(report, default=str))


if __name__ == "__main__":
    main()
