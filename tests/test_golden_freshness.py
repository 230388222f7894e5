"""Golden-fixture freshness guard: every pinned query's committed
parquet must equal a LIVE recompute of the query. A change to an
operator (or to datagen distributions) that forgets
`python tests/fixtures/regen_oracle_golden.py` fails HERE instead of
silently pinning old behavior. This is the one check of each pin.

Every pinned query builds its own synthetic world and never reads
sf_dir, so each runs against an empty directory: the check needs no
testdata tree, and a pin that starts reading one fails here.

Equality: same rows as multisets after rounding floats to 6 dp."""

import os

import pandas as pd
import pytest

from osm_wikipedia_tag_validator_spark.plans import oracle_queries as OQ

FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "fixtures", "oracle_golden")


def _canon(pdf: pd.DataFrame) -> list[str]:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("float"):
            pdf[c] = pdf[c].round(6)
        pdf[c] = pdf[c].astype(str)
    return sorted("|".join(r) for r in pdf.values.tolist())


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
def test_golden_fixture_is_fresh(spark, tmp_path, name):
    cols = OQ.GOLDEN_PINNED[name]
    committed = pd.read_parquet(os.path.join(FIXTURE_DIR, f"{name}.parquet"))
    live = OQ.queries()[name](spark, str(tmp_path)).toPandas()[cols]
    assert list(committed.columns) == list(live.columns), (
        f"{name}: fixture columns diverged — rerun "
        "tests/fixtures/regen_oracle_golden.py"
    )
    assert _canon(committed) == _canon(live), (
        f"{name}: committed golden fixture is STALE against the live "
        "operator output — if the change is intentional, rerun "
        "tests/fixtures/regen_oracle_golden.py"
    )
