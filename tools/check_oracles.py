#!/usr/bin/env python
"""Local mimic of the driver's correctness gate: run every
__spark_entry__ query against its DuckDB oracle at a given SF and
compare row count + order-insensitive values (columns sorted by name).

Each checked query also prints the sha256 of its normalized Spark
result, so two trees can be diffed query by query:

    python tools/check_oracles.py --extra > before.txt   # old tree
    python tools/check_oracles.py --extra > after.txt    # new tree
    diff <(grep -v ^ALL before.txt) <(grep -v ^ALL after.txt)
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def result_hash(df: pd.DataFrame) -> str:
    """sha256 of a normalized result: dtypes plus the CSV of its rows."""
    text = repr(list(df.dtypes.astype(str))) + df.to_csv(index=False)
    return hashlib.sha256(text.encode()).hexdigest()


def main() -> int:
    import __spark_entry__ as e
    from gorillaspark.plans.session import build_session

    argv = sys.argv[1:]
    with_extra = "--extra" in argv
    only = [a for a in argv if a != "--extra"] or None
    spark = build_session(app="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{SF_DIR}/{t}.parquet'")
    qs, oracles = e.queries(), e.oracle_sql()
    if with_extra:
        from gorillaspark.queries import EXTRA_ORACLES, EXTRA_QUERIES
        qs, oracles = {**qs, **EXTRA_QUERIES}, {**oracles, **EXTRA_ORACLES}
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error {ex}")
            failed.append(name)
            continue
        a = normalize(sdf)
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(a)} rows {result_hash(a)}")
            continue
        b = normalize(con.execute(oracles[name]).fetchdf())
        if len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
            failed.append(name)
            continue
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: cols {list(a.columns)} vs {list(b.columns)}")
            failed.append(name)
            continue
        bad_cols = []
        for c in a.columns:
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            if av.dtype.kind != bv.dtype.kind:
                # the driver hashes raw values: int64 40 vs float64 40.0
                # is a red row even though allclose passes (the r4
                # sketch-oracle HUGEINT bug slipped through here)
                print(f"FAIL {name}: dtype kind mismatch in {c}: "
                      f"spark {av.dtype} vs oracle {bv.dtype}")
                bad_cols.append(c)
                continue
            if av.dtype.kind == "f" or bv.dtype.kind == "f":
                ok = np.allclose(av.astype(float), bv.astype(float),
                                 rtol=0, atol=1e-9, equal_nan=True)
            else:
                ok = (av == bv).all()
            if not ok:
                bad_cols.append(c)
        if bad_cols:
            print(f"FAIL {name}: value mismatch in {bad_cols}")
            for c in bad_cols[:2]:
                m = ~np.isclose(a[c].astype(float), b[c].astype(float),
                                rtol=0, atol=1e-9, equal_nan=True) \
                    if a[c].dtype.kind == "f" else (a[c] != b[c])
                print("  spark:", a[m].head(3).to_dict("records"))
                print("  duck :", b[m].head(3).to_dict("records"))
            failed.append(name)
        else:
            print(f"OK   {name}: {len(a)} rows {result_hash(a)}")
    spark.stop()
    print("FAILED:" if failed else "ALL OK", failed or "")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
