#!/usr/bin/env python
"""spark-submit entry point (north rule: `spark-submit --py-files`).

Package the engine and launch:

    cd /root/repo
    zip -qr /tmp/engine.zip osm_wikipedia_tag_validator_spark
    spark-submit --master local[32] --py-files /tmp/engine.zip \
        scripts/submit_job.py --job flagship --n-elements 20000

On a real cluster swap --master for yarn/k8s and the same zip ships to
executors; the code paths are identical. Jobs:

  flagship  full pipeline → report/rollup/tile counts (JSON line)
  tiles     image ingest → raster-tile↔vector assignment rollup
  resumable per-region validate with checkpoint ledger; rerun to see
            completed partitions skipped (exit state in the JSON)
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--job", choices=["flagship", "tiles", "resumable"], default="flagship")
    ap.add_argument("--n-elements", type=int, default=20000)
    ap.add_argument("--n-images", type=int, default=5000)
    ap.add_argument("--checkpoint-dir", default="/tmp/owtv_ledger")
    ap.add_argument("--out-dir", default="/tmp/owtv_out")
    args = ap.parse_args()

    # spark-submit provides master/conf; fall back to local for direct runs
    from pyspark.sql import SparkSession, functions as F

    spark = SparkSession.builder.appName(f"owtv-{args.job}").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from osm_wikipedia_tag_validator_spark.datagen import world as W
    from osm_wikipedia_tag_validator_spark.operators import spatial_join as SJ
    from osm_wikipedia_tag_validator_spark.operators import tiles as TI
    from osm_wikipedia_tag_validator_spark.plans import pipeline as P
    from osm_wikipedia_tag_validator_spark.streaming.checkpoint import (
        CheckpointLedger,
        ResumableJob,
    )

    t0 = time.time()
    if args.job == "flagship":
        out = P.run_flagship(spark, args.n_elements)
        result = {
            "job": "flagship",
            "reports": out["reports"].count(),
            "rollup_rows": out["rollup"].count(),
            "tile_rows": out["tiles"].count(),
        }
    elif args.job == "tiles":
        images = W.spark_images_located(spark, args.n_images)
        hits = SJ.point_in_polygon_join(TI.assign_tiles(images, 8), W.spark_polygons(spark))
        rollup = hits.groupBy("tile_id", "region").agg(F.count(F.lit(1)).alias("n"))
        result = {"job": "tiles", "rollup_rows": rollup.count()}
    else:
        inputs = P.build_inputs(spark, args.n_elements)
        validated = P.validated_elements(inputs).cache()
        ledger = CheckpointLedger(args.checkpoint_dir)
        regions = [
            r["area_identifier"]
            for r in validated.select("area_identifier").distinct().collect()
        ]
        job = ResumableJob("validate", ledger, args.out_dir,
                           partition_col="area_identifier")
        res = job.run(
            sorted(regions),
            lambda p: validated.filter(F.col("area_identifier") == p).drop("report"),
        )
        result = {
            "job": "resumable",
            "partitions": len(res),
            "skipped": sum(1 for r in res if r.get("skipped")),
            "metrics": [
                {k: r.get(k) for k in ("partition", "n_rows", "rows_per_sec")}
                for r in res
                if not r.get("skipped")
            ],
        }
    result["wall_sec"] = round(time.time() - t0, 2)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
