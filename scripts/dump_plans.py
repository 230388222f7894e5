#!/usr/bin/env python
"""Regenerate PLANS.md (physical-plan evidence). Run from repo root."""

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.getcwd())

from pyspark.sql import functions as F

from osm_wikipedia_tag_validator_spark.datagen import world as W
from osm_wikipedia_tag_validator_spark.operators import region_split as RS
from osm_wikipedia_tag_validator_spark.operators import spatial_join as SJ
from osm_wikipedia_tag_validator_spark.operators import tiles as TI
from osm_wikipedia_tag_validator_spark.operators import upsert as UP
from osm_wikipedia_tag_validator_spark.operators import validator as V
from osm_wikipedia_tag_validator_spark.plans import oracle_queries as OQ
from osm_wikipedia_tag_validator_spark.session import get_spark
from osm_wikipedia_tag_validator_spark.sources import wiki_dim as WD

SF = "/root/testdata/sf0.001"


def cap(df, mode="simple") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def main() -> None:
    spark = get_spark(cores=8, shuffle_partitions=8)
    pts = OQ._pts(spark, SF)
    sections = [
        (
            "Cell + tile encode (DGG/XYZ)",
            "Pure Catalyst expressions inside one WholeStageCodegen span — no UDF, no shuffle.",
            cap(TI.assign_tiles(pts, 8)),
        ),
        (
            "Point-in-polygon spatial join (J5)",
            "Broadcast hash join with one row per grid cell (its candidate polygons); the "
            "exact ray-cast is `filter(cands, inside)` in the projection right after it, and "
            "the hits drop the edge arrays before the explode; fact side unshuffled. "
            "The `/` inside the crossing lambda is `F.try_divide` — Spark prints "
            "Divide(evalMode=TRY) as plain `/`, so horizontal edges (y1==y0) yield NULL, "
            "not a DIVIDE_BY_ZERO under ANSI mode.",
            cap(SJ.point_in_polygon_join(pts, W.spark_polygons(spark))),
        ),
        (
            "Validator cascade (V1+J1)",
            "The reference's per-row Python UDF as three broadcast joins against the cached "
            "wiki dim (article, qid, out-of-pair secondary qid) + one region join, and one "
            "projection after them holding the when-cascade: the only Python stage is the "
            "synthetic SOURCE (MapInPandas once); everything downstream runs in the JVM (the "
            "lambdas over the tag map are CodegenFallback, evaluated interpreted inside the "
            "generated code).",
            cap(
                V.validate(
                    W.spark_elements(spark, 100),
                    WD.build_wiki_entities_dim(W.spark_wiki_entities(spark)),
                    W.spark_regions(spark),
                )
            ),
        ),
        (
            "Region splitting part map (region_parts)",
            "Histogram agg (map-side combine) + one small window over the dim-sized result; "
            "the expensive fact-side tagging (`assign_parts`) is a broadcast join.",
            cap(
                RS.region_part_map(
                    pts.select(
                        F.lit("r").alias("area_identifier"), "lon", "lat"
                    ),
                    budget=40,
                )
            ),
        ),
        (
            "Latest-per-key MERGE dedup (W1/J2)",
            "Exactly one hash exchange on the key; window + filter fused in codegen.",
            cap(
                UP.latest_per_key(
                    spark.read.parquet(f"{SF}/orders.parquet"),
                    key_cols=["o_custkey"],
                    ts_col="o_orderdate",
                )
            ),
        ),
    ]
    md = [
        "# PLANS — physical-plan evidence for the core operators",
        "",
        "Captured from `.explain()` on sf0.001 inputs (regenerate with",
        "`python scripts/dump_plans.py`). What to look for is noted per plan;",
        "tests/test_plans.py asserts these properties so they cannot regress.",
        "",
    ]
    for title, note, plan in sections:
        md += [f"## {title}", "", note, "", "```", plan.strip(), "```", ""]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(md))
    print("PLANS.md regenerated")


if __name__ == "__main__":
    main()
