#!/usr/bin/env python
"""Regenerate the golden report fixture after an INTENTIONAL semantic
change. Run from the repo root: python tests/fixtures/regen_golden.py"""

import os
import sys

sys.path.insert(0, os.getcwd())

from osm_wikipedia_tag_validator_spark.plans import pipeline as P
from osm_wikipedia_tag_validator_spark.session import get_spark


def main() -> None:
    spark = get_spark(cores=8, shuffle_partitions=8)
    inputs = P.build_inputs(spark, 300)
    v = P.validated_elements(inputs)
    fixdir = os.path.dirname(__file__)

    rep = P.error_reports(v, inputs["regions"])
    pdf = (
        rep.select("area_identifier", "type", "id", "error_id", "osm_object_url")
        .toPandas()
        .sort_values(["area_identifier", "osm_object_url", "error_id"])
        .reset_index(drop=True)
    )
    out = os.path.join(fixdir, "golden_reports_tiny.csv")
    pdf.to_csv(out, index=False)
    print(f"wrote {len(pdf)} rows → {out}")

    tiles = P.image_tile_assignments(inputs["images"], v, inputs["polygons"])
    tp = (
        tiles.select("image_id", "tile_id", "tile_x", "tile_y", "polygon_id", "region")
        .toPandas()
        .sort_values(["image_id", "polygon_id"])
        .reset_index(drop=True)
    )
    out = os.path.join(fixdir, "golden_tiles_tiny.csv")
    tp.to_csv(out, index=False)
    print(f"wrote {len(tp)} rows → {out}")

    cnt = (
        P.region_rollup(v, inputs["regions"], inputs["error_catalog"])
        .toPandas()
        .sort_values("area_identifier")
        .reset_index(drop=True)
    )
    out = os.path.join(fixdir, "golden_counts_tiny.csv")
    cnt.to_csv(out, index=False)
    print(f"wrote {len(cnt)} rows → {out}")


if __name__ == "__main__":
    main()
