"""Golden-fixture freshness guard (judge action r3#6): every pinned
oracle parquet must equal a LIVE recompute of its query at every SF it
is pinned for. A change to an operator (or to datagen distributions)
that forgets `python tests/fixtures/regen_oracle_golden.py` fails HERE
instead of silently pinning old behavior into the driver gate.

Equality is the driver's own notion — same rows as multisets after
rounding floats to 6 dp — so a fixture that would pass the gate passes
here and vice versa."""

import os

import pandas as pd
import pytest

from osm_wikipedia_tag_validator_spark.plans import oracle_queries as OQ

FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "fixtures", "oracle_golden")
SF_DIRS = OQ.GOLDEN_SF_DIRS


def _canon(pdf: pd.DataFrame) -> list[str]:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("float"):
            pdf[c] = pdf[c].round(6)
        pdf[c] = pdf[c].astype(str)
    return sorted("|".join(r) for r in pdf.values.tolist())


def _tag_value(tag_sql: str, sf_dir: str) -> int:
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    return int(con.execute(tag_sql.strip("()")).fetchone()[0])


def test_fixture_dir_matches_pins():
    """Every committed fixture has a pin and every pin has a fixture, so
    a dropped query cannot leave its parquet behind."""
    stems = {
        f.removesuffix(".parquet")
        for f in os.listdir(FIXTURE_DIR)
        if f.endswith(".parquet")
    }
    assert stems == set(OQ.GOLDEN_PINNED)


@pytest.mark.parametrize("name", sorted(OQ.GOLDEN_PINNED))
def test_golden_fixture_is_fresh(spark, name):
    cols, tag_sql = OQ.GOLDEN_PINNED[name]
    committed = pd.read_parquet(os.path.join(FIXTURE_DIR, f"{name}.parquet"))
    q = OQ.queries()[name]
    strata = []
    for sf_dir in SF_DIRS if tag_sql else SF_DIRS[:1]:
        if not os.path.isdir(sf_dir):
            # the committed fixture carries EVERY pinned stratum, so a
            # missing SF dir can't be checked piecemeal — skip with the
            # reason instead of hard-failing on machines without the
            # full testdata tree
            pytest.skip(f"pinned SF dir {sf_dir} absent on this machine")
        pdf = q(spark, sf_dir).toPandas()[cols]
        if tag_sql:
            pdf = pdf.assign(_tag=_tag_value(tag_sql, sf_dir))
        strata.append(pdf)
    live = pd.concat(strata, ignore_index=True)
    assert list(committed.columns) == list(live.columns), (
        f"{name}: fixture columns diverged — rerun "
        "tests/fixtures/regen_oracle_golden.py"
    )
    assert _canon(committed) == _canon(live), (
        f"{name}: committed golden fixture is STALE against the live "
        "operator output — if the change is intentional, rerun "
        "tests/fixtures/regen_oracle_golden.py"
    )
