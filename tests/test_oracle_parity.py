"""Every oracle_sql() entry runs on Spark through its query AND as its
SQL twin on DuckDB over the sf0.001 testdata tables; row count, columns
and order-insensitive values must match. The golden-pinned queries have
no twin: tests/test_golden_freshness.py checks them."""

import os

import duckdb
import pandas as pd
import pytest

from osm_wikipedia_tag_validator_spark.plans import oracle_queries as OQ

SF_DIR = "/root/testdata/sf0.001"
if not os.path.isdir(SF_DIR):
    # skip, don't error, on machines without the testdata tree
    pytest.skip(f"{SF_DIR} does not exist", allow_module_level=True)

_ORACLES = OQ.oracle_sql()
_QUERIES = OQ.queries()


def _duck(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in ["customer", "events", "nation", "orders"]:
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
    """A query added with neither a SQL twin nor a golden pin fails here
    instead of going unchecked; none has both."""
    assert set(_QUERIES) == set(_ORACLES) | set(OQ.GOLDEN_PINNED)
    assert not set(_ORACLES) & set(OQ.GOLDEN_PINNED)
