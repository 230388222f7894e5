#!/usr/bin/env python
"""Dump the flagship composite's stage plans (validated stage + the three
sinks) as .explain("formatted") text — evidence for the validator
plan-build/phrase-dim claims in OPTIMIZATION_r06.md. Run from the tree
whose plan you want: python scripts/dump_flagship_plan.py OUT.txt

PySpark has no public API that returns the formatted explain as a
string, so this reaches through the private ``_jdf`` / ``_jvm`` handles;
it is therefore tied to the Spark version (ExplainMode is Spark >= 3.0).
"""

import os
import sys

sys.path.insert(0, os.getcwd())


def fmt(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit("usage: python scripts/dump_flagship_plan.py OUT.txt")
    out = sys.argv[1]
    from osm_wikipedia_tag_validator_spark.datagen import world as W
    from osm_wikipedia_tag_validator_spark.plans import pipeline as P
    from osm_wikipedia_tag_validator_spark.session import get_spark

    spark = get_spark(cores=8, shuffle_partitions=8)
    try:
        inputs = {
            "elements": W.spark_elements(spark, 6_000),
            "images": W.spark_images(spark, 1_200),
            "polygons": W.spark_polygons(spark),
            "regions": W.spark_regions(spark),
            "wiki": W.spark_wiki_entities(spark),
            "error_catalog": W.spark_error_catalog(spark),
        }
        validated = P.validated_elements(inputs)
        sections = [
            ("validated_elements (dedup window + validator cascade)", validated),
            ("error_reports sink", P.error_reports(validated, inputs["regions"])),
            ("region_rollup sink", P.region_rollup(
                validated, inputs["regions"], inputs["error_catalog"])),
            ("image_tile_assignments sink", P.image_tile_assignments(
                inputs["images"], validated, inputs["polygons"])),
        ]
        with open(out, "w") as f:
            for title, df in sections:
                f.write(f"### {title}\n\n{fmt(df)}\n\n")
    finally:
        spark.stop()
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
