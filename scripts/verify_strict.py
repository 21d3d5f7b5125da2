"""Strict (driver-mimicking) parity sweep: Spark ``toPandas()`` vs DuckDB
``fetchdf()`` at FULL float precision.

The driver's correctness gate hashes pandas-level values, which is stricter
than a rounded, dtype-blind compare in two ways this script reproduces:

1. **Dtype family leaks into the value.** DuckDB ``sum(BIGINT)`` returns
   HUGEINT, which pandas materializes as float64 — so an exact integer
   ``267490000`` on the Spark side hashes against ``267490000.0`` on the
   oracle side and mismatches even though the numbers are equal. Any oracle
   emitting an un-cast integer ``sum()`` has this hazard; the fix is
   ``CAST(sum(..) AS BIGINT)``.
2. **No 9-dp rounding before compare.** ``round(<double arithmetic>, n)``
   that differs in the last ulp between engines (Spark BigDecimal HALF_UP
   vs DuckDB's float-multiply rounding) fails here exactly as it fails on
   the driver.

A query passing this sweep should be hash-green on the driver.
It is the repo's only correctness gate.

Usage: python scripts/verify_strict.py [--stability] [name_filter ...]
       SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 (default)
       SPARK_GRAFT_VANILLA=1  — run on a PLAIN SparkSession (no engine
       confs): the session-independence certificate

--stability additionally executes every Spark query TWICE and compares
the two runs at the same full precision — catching Spark-side
run-nondeterminism (double-sum partial-merge order, unstable top-k
ties) that a single oracle compare can pass by luck.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon_cell(v):
    """Canonical full-precision string for one cell.

    float 6.0 and int 6 canonicalize DIFFERENTLY (that is the point);
    NaN/None/NaT collapse to sentinel strings; containers recurse;
    timestamps go to isoformat; bytes to hex.
    """
    if v is None:
        return "\x00NULL"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "\x00NaN"
        return repr(f)
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if isinstance(v, pd.Timestamp):
        if pd.isna(v):
            return "\x00NULL"
        # driver tolerates date-vs-midnight-timestamp (q29 was hash-green
        # with Spark date against DuckDB timestamp) — normalize to date
        if v == v.normalize():
            return v.date().isoformat()
        return v.isoformat()
    if hasattr(v, "isoformat"):
        iso = v.isoformat()
        return iso[:10] if iso.endswith("T00:00:00") else iso
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_cell(x)}" for k, x in sorted(v.items())) + "}"
    if v is pd.NaT:
        return "\x00NULL"
    try:
        if pd.isna(v):
            return "\x00NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def canon_frame(df: pd.DataFrame):
    # Column-wise iteration (NOT iterrows): iterrows materializes each
    # mixed-dtype row as a float64-upcast Series, which silently erases
    # the int-vs-float dtype family and masked the q132/q133 driver
    # hash-mismatches (DuckDB HUGEINT sum → pandas float64 vs Spark
    # int64). tolist() per column preserves native scalar types, so
    # canon_cell sees '127' vs '127.0' exactly as the driver does.
    cols = sorted(df.columns)
    col_vals = [df[c].tolist() for c in cols]
    rows = [
        tuple(canon_cell(col_vals[j][i]) for j in range(len(cols)))
        for i in range(len(df))
    ]
    return cols, sorted(rows)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    filters = sys.argv[1:]
    stability = "--stability" in filters
    filters = [f for f in filters if f != "--stability"]

    from binance_data_ingestor_spark.queries import registry

    if os.environ.get("SPARK_GRAFT_VANILLA") == "1":
        # session-independence certificate: a PLAIN SparkSession with
        # none of session.get_spark's confs (no UTC pin, no AQE flags,
        # no Arrow conf) — proves no query depends on engine session
        # configuration
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master(
                f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
            )
            .appName("verify-strict-vanilla")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
    else:
        from binance_data_ingestor_spark.session import get_spark

        spark = get_spark("verify-strict")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = registry()
    n_pass = n_fail = n_skip = 0
    failures = []
    for name, fn in qs.items():
        if filters and not any(f in name for f in filters):
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}", flush=True)
            failures.append(name)
            n_fail += 1
            continue
        if stability:
            spdf2 = fn(spark, sf_dir).toPandas()
            if canon_frame(spdf) != canon_frame(spdf2):
                print(f"FAIL {name}: UNSTABLE across Spark runs", flush=True)
                failures.append(name)
                n_fail += 1
                continue
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(spdf)} rows, {time.time()-t0:.1f}s)", flush=True)
            n_skip += 1
            continue
        try:
            dkdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}", flush=True)
            failures.append(name)
            n_fail += 1
            continue
        s_cols, s_rows = canon_frame(spdf)
        d_cols, d_rows = canon_frame(dkdf)
        dt = time.time() - t0
        if s_cols != d_cols:
            print(f"FAIL {name}: cols spark={s_cols} oracle={d_cols}", flush=True)
            failures.append(name)
            n_fail += 1
        elif len(s_rows) != len(d_rows):
            print(f"FAIL {name}: rows spark={len(s_rows)} oracle={len(d_rows)}", flush=True)
            failures.append(name)
            n_fail += 1
        elif s_rows != d_rows:
            # locate first differing cell for diagnosis
            diff = next(
                (i, j)
                for i, (a, b) in enumerate(zip(s_rows, d_rows))
                if a != b
                for j in range(len(a))
                if a[j] != b[j]
            )
            i, j = diff
            print(
                f"FAIL {name}: value diff at sorted-row {i} col {s_cols[j]}: "
                f"spark={s_rows[i][j]!r} oracle={d_rows[i][j]!r}",
                flush=True,
            )
            failures.append(name)
            n_fail += 1
        else:
            print(f"PASS {name} ({len(s_rows)} rows, {dt:.1f}s)", flush=True)
            n_pass += 1

    print(f"\n== strict: {n_pass} pass, {n_fail} fail, {n_skip} rows-only ==")
    if failures:
        print("failures:", " ".join(failures))
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
