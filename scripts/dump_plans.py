#!/usr/bin/env python
"""Regenerate PLANS.md (physical-plan evidence). Run from repo root."""

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.getcwd())

from pyspark.sql import functions as F

from osm_wikipedia_tag_validator_spark.datagen import world as W
from osm_wikipedia_tag_validator_spark.operators import ann as ANN
from osm_wikipedia_tag_validator_spark.operators import knn as KNN
from osm_wikipedia_tag_validator_spark.operators import region_split as RS
from osm_wikipedia_tag_validator_spark.operators import spatial_join as SJ
from osm_wikipedia_tag_validator_spark.operators import tiles as TI
from osm_wikipedia_tag_validator_spark.operators import upsert as UP
from osm_wikipedia_tag_validator_spark.operators import validator as V
from osm_wikipedia_tag_validator_spark.plans import oracle_queries as OQ
from osm_wikipedia_tag_validator_spark.session import get_spark

SF = "/root/testdata/sf0.001"


def cap(df, mode="simple") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def main() -> None:
    spark = get_spark(cores=8, shuffle_partitions=8)
    pts = spark.read.parquet(f"{SF}/customer.parquet").select(
        "c_custkey",
        (((F.col("c_custkey") * 7919) % 36000) / 100.0 - 180.0 + 0.005).alias("lon"),
        (((F.col("c_custkey") * 104729) % 17000) / 100.0 - 85.0 + 0.005).alias("lat"),
    )
    sections = [
        (
            "Filter + projection pushdown (S5/P10)",
            "Predicates and column pruning reach the parquet scan (PushedFilters / 3-column ReadSchema).",
            cap(
                spark.read.parquet(f"{SF}/lineitem.parquet")
                .filter(F.col("l_shipdate") < "1996-01-01")
                .select("l_orderkey", "l_extendedprice")
            ),
        ),
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
            "kNN broadcast-matrix top-k (J9)",
            "Single map-side Arrow stage; no key shuffle, no window sort (round-robin repartition only for parallelism).",
            cap(
                KNN.knn_bruteforce(
                    pts, OQ._supplier_pts(spark, SF), k=3,
                    q_key="c_custkey", e_key="s_suppkey",
                )
            ),
        ),
        (
            "Validator cascade (V1+J1)",
            "The reference's per-row Python UDF as broadcast joins + one projection after them "
            "holding the when-cascade: the only Python stage is the synthetic SOURCE "
            "(MapInPandas once); everything downstream runs in the JVM (the lambdas over the "
            "tag map are CodegenFallback, evaluated interpreted inside the generated code).",
            cap(
                V.validate(
                    W.spark_elements(spark, 100),
                    W.spark_wiki_entities(spark),
                    W.spark_regions(spark),
                )
            ),
        ),
        (
            "ANN exact top-k, scale path (embedding_topk_fast)",
            "Corpus rides the closure as a broadcast numpy matrix; one matmul per Arrow batch, "
            "zero shuffle, no window sort — the plan is a single MapInPandas over the streaming query side.",
            cap(
                ANN.cosine_topk_fast(
                    spark.read.parquet(f"{SF}/embeddings.parquet").limit(30),
                    spark.read.parquet(f"{SF}/embeddings.parquet"),
                    k=3,
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
