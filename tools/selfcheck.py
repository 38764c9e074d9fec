"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.queries() entry at sf0.01 and compares it to
its oracle_sql() under DuckDB: row count, column names/kinds, and an
order-insensitive exact value comparison (rows sorted by all columns).

Usage: python tools/selfcheck.py [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod  # noqa: E402
from proj_spark.spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    issues = []
    if len(sdf) != len(odf):
        issues.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        issues.append(f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return issues
    a, b = normalize(sdf), normalize(odf)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
                av = av.astype(np.float64)
                bv = bv.astype(np.float64)
                nan_pair = np.isnan(av) & np.isnan(bv)
                # Signbit-strict: the driver's gate hashes the textual repr,
                # under which -0.0 != 0.0 even though they compare equal.
                # Round-3 lesson (itrf_drift): value equality alone certified
                # a result the driver hash rejected.  Require bit-level sign
                # agreement on every non-NaN float.
                eq = (av == bv) & (np.signbit(av) == np.signbit(bv))
                bad = ~(eq | nan_pair)
            else:
                bad = av.astype(str) != bv.astype(str)
            if bad.any():
                k = int(bad.sum())
                i = int(np.argmax(bad))
                issues.append(f"col {c}: {k} mismatches, first row {i}: "
                              f"spark={av[i]!r} oracle={bv[i]!r}")
    return issues


def _adversarial_spark():
    """A deliberately hostile session approximating 'whatever config the
    driver harness happens to use': ANSI mode on, a non-UTC timezone,
    timestamps inferred as LTZ.  Every queries() entry must produce
    oracle-identical values under it (the events_hourly round-1 lesson:
    a query leaning on spark.sql.session.timeZone fails exactly here)."""
    from pyspark.sql import SparkSession
    return (SparkSession.builder.appName("selfcheck-adversarial")
            .master("local[8]")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.sql.ansi.enabled", "true")
            .config("spark.sql.session.timeZone", "America/New_York")
            .config("spark.sql.timestampType", "TIMESTAMP_LTZ")
            .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.ui.enabled", "false")
            .getOrCreate())


def main() -> int:
    args = sys.argv[1:]
    adversarial = "--adversarial" in args
    only = {a for a in args if not a.startswith("--")}
    if adversarial:
        import os
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        pp = os.environ.get("PYTHONPATH", "")
        if repo not in pp.split(":"):
            os.environ["PYTHONPATH"] = f"{repo}:{pp}" if pp else repo
        spark = _adversarial_spark()
    else:
        spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            continue
        t1 = time.time()
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            failed.append(name)
            continue
        issues = compare(name, sdf, odf)
        if issues:
            print(f"FAIL {name} [{t1-t0:.1f}s]:")
            for i in issues:
                print(f"  {i}")
            failed.append(name)
        else:
            print(f"ok {name}: {len(sdf)} rows match  [{t1-t0:.1f}s]")
    spark.stop()
    print("FAILED:" if failed else "ALL OK", ",".join(failed))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
