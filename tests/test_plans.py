"""Physical-plan regression tests: the optimizations the engine's
scale story depends on must be visible in `.explain` output, not
assumed (SURVEY.md §4)."""

import pyspark.sql.functions as F

from osm_wikipedia_tag_validator_spark.datagen import world as W
from osm_wikipedia_tag_validator_spark.operators import spatial_join as SJ
from osm_wikipedia_tag_validator_spark.operators import tiles as TI

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_pip_join_is_broadcast_and_jvm_only(spark):
    pts = spark.range(100).select(
        F.lit("node").alias("type"),
        "id",
        (F.col("id") % 60 - 15.0).alias("lon"),
        (F.col("id") % 30 - 5.0).alias("lat"),
    )
    polys = W.spark_polygons(spark)
    for entry in (SJ.point_in_polygon_join, SJ.point_in_polygon_tag):
        plan = _plan(entry(pts, polys))
        # one broadcast join with the cell dim; the fact side never shuffles
        assert plan.count("BroadcastHashJoin") == 1, entry.__name__
        for node in ("Exchange hashpartitioning", "Window", "SortMergeJoin",
                     "MapInPandas", "ArrowEvalPython"):
            assert node not in plan, (entry.__name__, node)


def test_cell_and_tile_encode_are_codegen(spark):
    pts = spark.range(100).select(
        "id", (F.col("id") * 1.0).alias("lon"), (F.col("id") * 0.1).alias("lat")
    )
    df = TI.assign_tiles(pts, 8)
    plan = _plan(df)
    # '*(n)' prefix marks whole-stage-codegen spans in executedPlan
    assert "WholeStageCodegen" in plan or "*(" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_validator_is_pure_codegen(spark):
    from osm_wikipedia_tag_validator_spark.operators import validator as V

    elements = W.spark_elements(spark, 50)
    out = V.validate(elements, W.spark_wiki_entities(spark, 100), W.spark_regions(spark))
    plan = _plan(out)
    # datagen is mapInPandas (the source), but the validator itself adds
    # no Python: exactly the datagen's python nodes, joined + projected
    assert plan.count("MapInPandas") == 1  # only the element source
    assert "BroadcastHashJoin" in plan


def test_validator_plan_stays_compact(spark):
    """Each subexpression the validator's rules share is computed once
    as a named column. Counted over the whole optimized plan: the
    default rendering stops listing a node's fields after 25, so its
    counts move with the width of a projection. The bounds sit at twice
    the counts that gives (3 array_sort, 12 lambdafunction, 14 CASE
    WHEN) and far below those of inlining every use (83, 200, 81)."""
    from osm_wikipedia_tag_validator_spark.operators import validator as V

    out = V.validate(
        W.spark_elements(spark, 400), W.spark_wiki_entities(spark), W.spark_regions(spark)
    )
    # the treeString overload whose third argument is maxFields
    plan = out._jdf.queryExecution().optimizedPlan().treeString(False, False, 1 << 30, False, False)
    assert "more fields" not in plan
    counts = {k: plan.count(k) for k in ("array_sort", "lambdafunction", "CASE WHEN")}
    assert counts["array_sort"] <= 6, counts
    assert counts["lambdafunction"] <= 24, counts
    assert counts["CASE WHEN"] <= 28, counts


def test_validator_joins_wiki_dim_three_times(spark):
    """The article, qid and secondary-qid joins read the cached wiki
    dim; the redirect target's article comes with the article join."""
    from osm_wikipedia_tag_validator_spark.operators import validator as V

    out = V.validate(
        W.spark_elements(spark, 100), W.spark_wiki_entities(spark), W.spark_regions(spark)
    )
    assert _optimized(out).count("InMemoryRelation") == 3


def test_latest_per_key_single_exchange(spark):
    from osm_wikipedia_tag_validator_spark.operators import upsert as UP

    df = UP.latest_per_key(spark.read.parquet(f"{SF}/orders.parquet"),
                           key_cols=["o_custkey"], ts_col="o_orderdate")
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1


def test_region_split_budget_and_locality(spark):
    from pyspark.sql import functions as F

    from osm_wikipedia_tag_validator_spark.operators import region_split as RS

    # one big region (800 rows), one small (30) — only the big one splits
    pts = spark.range(830).select(
        F.when(F.col("id") < 800, "big").otherwise("small").alias("area_identifier"),
        (((F.col("id") * 7919) % 3000) / 100.0).alias("lon"),
        (((F.col("id") * 104729) % 1500) / 100.0).alias("lat"),
    )
    pm = RS.region_part_map(pts, budget=100, res=4)
    over = RS.oversized_regions(pm).toPandas()
    assert over["area_identifier"].tolist() == ["big"]
    # 800 rows / 100 budget → ~8 parts (one fewer when the last cell
    # overflows its part; exact count depends on the cell histogram)
    assert int(over["n_parts"].iloc[0]) >= 6

    pmp = pm.toPandas()
    # parts are contiguous in Z-order: cells sorted by id have
    # non-decreasing part numbers within a region
    for _, grp in pmp.groupby("area_identifier"):
        parts = grp.sort_values("cell")["part"].tolist()
        assert parts == sorted(parts)
    # every row lands in exactly one part; totals preserved
    tagged = RS.assign_parts(pts, pm).toPandas()
    assert len(tagged) == 830
    assert tagged["part"].notna().all()
    # part sizes respect the budget except single-cell overflows
    sizes = tagged.groupby(["area_identifier", "part"]).size()
    cell_max = pmp.groupby("area_identifier")["cnt"].max()
    for (reg, _), sz in sizes.items():
        assert sz <= 100 + int(cell_max[reg])


def test_image_lineage_join_is_shuffle_hash_never_broadcast(spark):
    """pipeline.image_tile_assignments pins `shuffle_hash` on the
    image⋈lineage join: Catalyst's size estimate for mapInPandas output
    inherits the tiny Range-leaf stats and would otherwise BROADCAST
    gigabytes of image bytes at scale. The hint must survive into the
    physical plan (SURVEY §4 join-strategy row; VERDICT r4 plan audit)."""
    from osm_wikipedia_tag_validator_spark.plans import pipeline as P

    inputs = P.build_inputs(spark, 300)
    v = P.validated_elements(inputs)
    tiles = P.image_tile_assignments(inputs["images"], v, inputs["polygons"])
    plan = _plan(tiles)
    # the element_id equi-join is shuffled-hash, not broadcast
    sh = [seg for seg in plan.split("\n") if "ShuffledHashJoin" in seg]
    assert any("element_id" in s for s in sh), plan[:4000]
    bh = [seg for seg in plan.split("\n") if "BroadcastHashJoin" in seg]
    assert not any("element_id" in s for s in bh), plan[:4000]
