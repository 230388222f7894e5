"""Golden fixture matches for the remaining FIXTURES.md §7 sets:
tile assignments and per-region/merged review counts.
Regenerate via the snippet in tests/fixtures/regen_golden.py pattern
only for intentional semantic changes."""

import os

import pandas as pd

from osm_wikipedia_tag_validator_spark.plans import pipeline as P

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def _setup(spark):
    inputs = P.build_inputs(spark, 300)
    return inputs, P.validated_elements(inputs)


def test_golden_tile_assignments(spark):
    inputs, v = _setup(spark)
    tiles = P.image_tile_assignments(inputs["images"], v, inputs["polygons"])
    got = (
        tiles.select("image_id", "tile_id", "tile_x", "tile_y", "polygon_id", "region")
        .toPandas()
        .sort_values(["image_id", "polygon_id"])
        .reset_index(drop=True)
    )
    exp = pd.read_csv(os.path.join(FIX, "golden_tiles_tiny.csv"))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_golden_counts(spark):
    inputs, v = _setup(spark)
    got = (
        P.region_rollup(v, inputs["regions"], inputs["error_catalog"])
        .toPandas()
        .sort_values("area_identifier")
        .reset_index(drop=True)
    )
    exp = pd.read_csv(os.path.join(FIX, "golden_counts_tiny.csv"))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
