"""The flagship pipeline — M1 end-to-end slice (SURVEY.md §7.2).

"For every image (element) with a wiki-tagged caption in region R,
which polygon contains it, is its caption/tag link valid — emit the
error-report rows for R, the per-tile assignments, and the rollup
counts."

Mirrors the reference's main loop `update_validator_database_and_reports`
(`script.py:93-162`) but as one declarative DataFrame graph:

  elements (fact)                             images (fact)
     │ latest_per_key  (W1, load_osm_file.py:27-40)
     │ relevance filter (P1/P2, load_osm_file.py:14-21)
     │ cell encode → broadcast polygon cover join → PIP refine (J4/J5)
     │ inside_declared_region flag
     ├──────────────┐
     validator cascade + wiki entity joins (V1+J1, script.py:318-347)
     │              │
  reports        tile assignment (north-star raster↔vector)
     │              │
  per-region rollups (A1/A2) + merged-parent rollups (J8)
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, functions as F

from ..datagen import world as W
from ..operators import spatial_join as SJ
from ..operators import tiles as TI
from ..sources import wiki_dim as WD
from ..operators import upsert as UP
from ..operators import validator as V

DEFAULT_TILE_Z = 8


def build_inputs(spark, n_elements: int = 2000) -> dict[str, DataFrame]:
    return {
        "elements": W.spark_elements(spark, n_elements),
        "images": W.spark_images(spark, min(n_elements, 2000)),
        "polygons": W.spark_polygons(spark),
        "regions": W.spark_regions(spark),
        # the synthetic generator already emits the contract, but the
        # pipeline still routes through the boundary normalizer so a
        # real source (wikidata dump / WDQS extract) is a drop-in swap
        "wiki": WD.build_wiki_entities_dim(W.spark_wiki_entities(spark)),
        "error_catalog": W.spark_error_catalog(spark),
    }


def validated_elements(inputs: dict[str, DataFrame], res: int = SJ.DEFAULT_RES) -> DataFrame:
    """Latest snapshot per element → containment flag → validator."""
    latest = UP.latest_per_key(inputs["elements"])
    # the tag is a broadcast join + projection: it keeps latest_per_key's
    # partitioning, so the tag adds no shuffle
    tagged = SJ.point_in_polygon_tag(latest, inputs["polygons"], res=res)
    flagged = tagged.withColumn(
        "inside_declared_region",
        # unassigned elements have no declared region to contradict
        F.when(F.col("area_identifier") == "unassigned", F.lit(True)).otherwise(
            F.coalesce(F.col("containing_region") == F.col("area_identifier"), F.lit(False))
        ),
    )
    return V.validate(
        flagged,
        inputs["wiki"],
        inputs["regions"],
        inside_region_col="inside_declared_region",
    )


def error_reports(validated: DataFrame, regions: DataFrame) -> DataFrame:
    """Per-region report rows, hidden regions dropped (P9,
    `script.py:109-111`), per-region ignored classes dropped AT THE
    SINK (P8, `script.py:309-313` — `validate` marks the state row
    `suppressed`, only the report is skipped), deterministic order (O2,
    `generate_webpage_with_error_output.py:78`). Both region filters
    read the validated row's own `hidden` / `suppressed`, so `regions`
    is not read."""
    return (
        validated.filter((F.col("status") == "error") & ~F.col("suppressed"))
        .filter(~F.coalesce(F.col("hidden"), F.lit(False)))
        .select(
            "area_identifier",
            "type",
            "id",
            "error_id",
            "osm_object_url",
            "report",
        )
        .orderBy("area_identifier", "osm_object_url")
    )


def region_rollup(validated: DataFrame, regions: DataFrame, error_catalog: DataFrame) -> DataFrame:
    """A1 per-region review counts + J8 merged-parent rollup
    (`generate_webpage_with_error_output.py:1268-1278, 1180-1188`)."""
    review_ids = error_catalog.filter(F.col("category") == "review").select("error_id")
    # suppressed rows are skipped at every report surface, counts
    # included (the reference only ever counts rendered entries)
    errs = validated.filter(~F.col("suppressed")).join(F.broadcast(review_ids), "error_id")
    per_region = errs.groupBy("area_identifier").agg(F.count(F.lit(1)).alias("review_count"))
    parents = regions.select(
        F.col("internal_region_name").alias("area_identifier"),
        F.explode_outer("merged_into").alias("parent"),
    )
    merged = (
        per_region.join(F.broadcast(parents), "area_identifier", "left")
        .filter(F.col("parent").isNotNull())
        .groupBy(F.col("parent").alias("area_identifier"))
        .agg(F.sum("review_count").alias("review_count"))
    )
    return per_region.unionByName(merged).orderBy("area_identifier")


def image_tile_assignments(
    images: DataFrame, elements_validated: DataFrame, polygons: DataFrame, z: int = DEFAULT_TILE_Z
) -> DataFrame:
    """Join images to their element's location+validation lineage, then
    raster-tile↔vector assignment. image_id encodes the element id
    (FIXTURES.md §1)."""
    img = images.withColumn(
        "element_id", F.regexp_extract("image_id", r"img-0*([0-9]+)", 1).cast("long")
    )
    lineage = elements_validated.select(
        F.col("id").alias("element_id"), "lon", "lat", "error_id", "status"
    )
    # both sides are fact-scale (images carry bytes; elements are the
    # full validated table): force a shuffle hash join. Catalyst's size
    # estimate for mapInPandas output inherits the tiny Range-leaf
    # stats and would otherwise BROADCAST gigabytes of image bytes.
    joined = img.join(lineage.hint("shuffle_hash"), "element_id")
    tiled = TI.assign_tiles(joined, z)
    hits = SJ.point_in_polygon_join(tiled, polygons)
    return hits.select(
        "image_id", "element_id", "tile_id", "tile_x", "tile_y", "cell",
        "polygon_id", "region", "caption", "error_id", "status",
    )


def materialize_concurrently(
    outputs: dict[str, DataFrame], action=None
) -> dict[str, object]:
    """Run one Spark action per output DataFrame, submitted
    CONCURRENTLY from driver threads. `action(name, df)` defaults to
    counting — pass e.g. ``lambda name, df:
    df.write.parquet(f"{out}/{name}")`` to materialize real sinks; the
    returned dict maps each name to its action's return value.

    The reference's main loop runs its sinks strictly one after another
    (`script.py:93-162`: reports, then index, then tasks). On a cluster
    the sink jobs of one pipeline are independent DAGs over a shared
    cached stage — submitting them from separate driver threads lets the
    scheduler interleave their stages, so the small tail stages of one
    sink (a 9-row rollup, an ordered report) fill the executor slots the
    other sinks leave idle, and work that belongs to only one sink (the
    image-side scan feeding the tile join) overlaps the shared lineage.
    Spark's block-manager cache takes a per-partition compute lock, so a
    not-yet-materialized `.cache()` upstream is still computed exactly
    once even when several sink jobs race into it.

    Each sink runs under `inheritable_thread_target` so the caller's
    JVM thread-locals — job group (cancellation scope), fair-scheduler
    pool, job descriptions — propagate into the pool threads; with
    PySpark's default pinned-thread mode a bare ThreadPoolExecutor
    thread starts with NO local properties and sc.cancelJobGroup()
    would silently miss exactly the jobs this function parallelizes.
    Failure semantics: the first failing sink re-raises from its
    fut.result(); sinks already running are NOT cancelled (a Spark
    action can't be interrupted from here) and run to completion."""
    if not outputs:
        return {}
    if action is None:
        action = lambda name, df: df.count()  # noqa: E731
    from pyspark import inheritable_thread_target

    def _bound(name, df):
        # wrap in the CALLING thread: the wrapper captures this
        # thread's properties at creation time. The session-aware form
        # (PySpark 3.5+) also inherits addTag-scoped cancellation tags
        # and avoids the per-sink "Tags will not be inherited" warning
        # the bare form emits (round-5 advice).
        return inheritable_thread_target(df.sparkSession)(lambda: action(name, df))

    with ThreadPoolExecutor(max_workers=len(outputs)) as ex:
        futures = {
            name: ex.submit(_bound(name, df)) for name, df in outputs.items()
        }
        return {name: fut.result() for name, fut in futures.items()}


def run_flagship(spark, n_elements: int = 2000, res: int = SJ.DEFAULT_RES) -> dict[str, DataFrame]:
    inputs = build_inputs(spark, n_elements)
    validated = validated_elements(inputs, res=res)
    reports = error_reports(validated, inputs["regions"])
    rollup = region_rollup(validated, inputs["regions"], inputs["error_catalog"])
    tiles = image_tile_assignments(inputs["images"], validated, inputs["polygons"])
    return {
        "inputs": inputs,
        "validated": validated,
        "reports": reports,
        "rollup": rollup,
        "tiles": tiles,
    }
