"""EXTRA_QUERIES correctness: queries demoted from the driver's
50-row correctness window (near-duplicate variants of checked
representatives — see the demotion table at the bottom of
gorillaspark/queries.py) keep full DuckDB-oracle coverage here, at
sf0.001 for speed, and so do the in-window codec round trips and
time-series queries. Same comparison discipline as
tools/check_oracles.py: columns sorted by name, rows sorted, exact for
ints/strings, atol 1e-9 for floats.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

SF = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")
pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF),
    reason=f"test data dir {SF} absent (set SPARK_GRAFT_SF_DIR_SMALL)")

_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
           "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    import duckdb
    con = duckdb.connect()
    for t in _TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{SF}/{t}.parquet'")
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


# in-window queries whose values no other test compares: the three
# codec round trips, one per kernel dispatch (last_value, v1, dfcm),
# and the time-series queries that run the encode, rollup, sketch and
# streaming plans (their extra-list siblings compaction_inventory,
# gapfill_1h_ffill and sessionize are checked above)
_WINDOW_NAMES = ["codec_roundtrip", "codec_roundtrip_v1",
                 "codec_roundtrip_dfcm", "rollup_1m", "rollup_1d",
                 "rollup_1h_cascade", "rollup_1d_sketch_p95",
                 "stream_rollup_1d_sketch_p95",
                 "rollup_1d_sketch_quantiles", "latency_stats_per_series",
                 "event_type_rates_1h", "stream_event_rates_1h",
                 "block_inventory"]


def _extra_names():
    from gorillaspark.queries import EXTRA_ORACLES, EXTRA_QUERIES
    assert set(EXTRA_ORACLES) <= set(EXTRA_QUERIES)
    return sorted(EXTRA_QUERIES)


@pytest.mark.parametrize("name", _extra_names() + _WINDOW_NAMES)
def test_extra_query_matches_oracle(spark, duck, name):
    from gorillaspark.queries import (EXTRA_ORACLES, EXTRA_QUERIES,
                                      ORACLES, QUERIES)
    oracles = {**ORACLES, **EXTRA_ORACLES}
    sdf = {**QUERIES, **EXTRA_QUERIES}[name](spark, SF).toPandas()
    assert name in oracles, f"{name} demoted without an oracle"
    odf = duck.execute(oracles[name]).fetchdf()
    a, b = _normalize(sdf), _normalize(odf)
    assert len(a) == len(b), f"{name}: rows {len(a)} vs {len(b)}"
    assert list(a.columns) == list(b.columns), \
        f"{name}: cols {list(a.columns)} vs {list(b.columns)}"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            assert np.allclose(av.astype(float), bv.astype(float),
                               rtol=0, atol=1e-9, equal_nan=True), \
                f"{name}: float mismatch in {c}"
        else:
            assert (av == bv).all(), f"{name}: mismatch in {c}"


def test_no_registered_overflow():
    """The driver checks at most 50 registered queries; overflowing the
    window silently drops correctness evidence (r2 lost 6 rows)."""
    from gorillaspark.queries import QUERIES
    assert len(QUERIES) <= 50
