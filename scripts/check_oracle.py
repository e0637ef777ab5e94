"""Local mimic of the driver's correctness gate: run each __spark_entry__
query AND its DuckDB oracle on the same parquet dir, compare row count +
column names + order-insensitive values. Usage:

    python scripts/check_oracle.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(np.asarray(v).tolist())
                if isinstance(v, (list, np.ndarray))
                else v
            )
        # normalize WITHIN a type kind (the driver does too: int32-vs-int64
        # and us-vs-ns timestamp rows hashed green in round 1); int-vs-float
        # is NOT normalized (sum(int) HUGEINT→float64 rows hashed RED)
        elif pd.api.types.is_datetime64_any_dtype(df[c].dtype):
            df[c] = df[c].astype("datetime64[ns]")
        elif pd.api.types.is_integer_dtype(df[c].dtype):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def main() -> None:
    import __spark_entry__ as entrymod
    from tods_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    spark = get_spark(shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR {type(e).__name__}: {e}"))
            print(f"FAIL {name}: spark error {e}")
            continue
        if name not in os_:
            print(f"ok?  {name}: rows-only ({len(got)} rows, no oracle)")
            continue
        try:
            exp = con.sql(os_[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL {name}: duckdb error {e}")
            continue
        if sorted(got.columns) != sorted(exp.columns):
            failures.append((name, f"schema {sorted(got.columns)} vs {sorted(exp.columns)}"))
            print(f"FAIL {name}: schema mismatch {sorted(got.columns)} vs {sorted(exp.columns)}")
            continue
        if len(got) != len(exp):
            failures.append((name, f"rows {len(got)} vs {len(exp)}"))
            print(f"FAIL {name}: rowcount {len(got)} vs {len(exp)}")
            continue
        g, e = norm(got), norm(exp)
        # the driver hashes canonicalized VALUES — int64 5 vs float64 5.0
        # hash differently, so pandas dtypes must agree exactly (DuckDB
        # HUGEINT sums surface as float64: cast them to BIGINT in the SQL)
        dt_bad = [
            (c, str(g[c].dtype), str(e[c].dtype))
            for c in g.columns
            if g[c].dtype != e[c].dtype
        ]
        if dt_bad:
            failures.append((name, f"dtypes {dt_bad}"))
            print(f"FAIL {name}: dtype mismatch {dt_bad}")
            continue
        try:
            pd.testing.assert_frame_equal(
                g, e, check_dtype=True, check_exact=True
            )
            # assert_frame_equal treats -0.0 == +0.0 but the driver hashes
            # them as DIFFERENT values (round-3 lesson: detect_abod /
            # auto_correlation went driver-red on exactly this). Compare
            # sign bits of float columns explicitly so the local gate
            # matches the driver's hash semantics.
            sb_bad = []
            for c in g.columns:
                if g[c].dtype.kind == "f":
                    gs = np.signbit(g[c].to_numpy())
                    es = np.signbit(e[c].to_numpy())
                    n_diff = int((gs != es).sum())
                    if n_diff:
                        sb_bad.append((c, n_diff))
            if sb_bad:
                failures.append((name, f"signbit {sb_bad}"))
                print(f"FAIL {name}: -0.0/+0.0 signbit mismatch {sb_bad}")
                continue
            print(f"PASS {name} ({len(got)} rows)")
        except AssertionError as err:
            failures.append((name, "values"))
            print(f"FAIL {name}: value mismatch")
            print(str(err)[:800])
    print()
    if failures:
        print(f"{len(failures)} FAILURES: {[f[0] for f in failures]}")
        sys.exit(1)
    print(f"all {len([n for n in qs if not only or n in only])} queries consistent")


if __name__ == "__main__":
    main()
