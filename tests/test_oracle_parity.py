"""Replicates the driver's correctness gate locally: every queries()
entry runs on Spark AND its oracle_sql() twin on DuckDB at sf0.001,
then row-count + schema-width + order-insensitive values must match."""

import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

_SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
# accepts a directory OR a bare scale factor — "0.1" and the natural
# "sf0.1" shorthand both resolve to /root/testdata/sf0.1 (a bare value
# used to build /root/testdata/sfsf0.1 and fail confusingly)
SF_DIR = _SF if "/" in _SF else f"/root/testdata/sf{_SF.removeprefix('sf')}"
if not os.path.isdir(SF_DIR):
    # skip, don't error, on machines without the testdata tree
    pytest.skip(
        f"SPARK_GRAFT_TEST_SF resolved to {SF_DIR!r}, which does not exist — "
        "pass a testdata directory, a scale factor like 0.01, or sf0.01",
        allow_module_level=True,
    )

_ORACLES = entry_mod.oracle_sql()
_QUERIES = entry_mod.queries()


def _duck(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events",
    ]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con.execute(sql).fetchdf()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
        else:
            try:
                df[c] = df[c].astype("int64")
            except (TypeError, ValueError):
                df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(_ORACLES.keys()))
def test_oracle_parity(spark, name):
    got = _canon(_QUERIES[name](spark, SF_DIR).toPandas())
    exp = _canon(_duck(_ORACLES[name]))
    assert list(got.columns) == list(exp.columns), f"{name}: columns {list(got.columns)} != {list(exp.columns)}"
    assert len(got) == len(exp), f"{name}: rows {len(got)} != {len(exp)}"
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=False, rtol=0, atol=1e-9)


def test_every_query_has_an_oracle():
    """A query added without an oracle fails here instead of going
    unchecked by the parity test above."""
    assert set(_QUERIES) == set(_ORACLES)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
