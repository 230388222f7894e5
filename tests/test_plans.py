"""Physical-plan regression tests: the optimizations the engine's
scale story depends on must be visible in `.explain` output, not
assumed (SURVEY.md §4)."""

import pyspark.sql.functions as F
import pytest

from osm_wikipedia_tag_validator_spark.datagen import world as W
from osm_wikipedia_tag_validator_spark.operators import spatial_join as SJ
from osm_wikipedia_tag_validator_spark.operators import tiles as TI
from osm_wikipedia_tag_validator_spark.plans import oracle_queries as OQ

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_shipdate") < "1996-01-01")
        .select("l_orderkey", "l_extendedprice")
    )
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # column pruning: only the 3 referenced columns in ReadSchema
    assert "l_comment" not in plan
    assert "ReadSchema" in plan


def test_broadcast_join_used_for_small_dim(spark):
    plan = _plan(OQ.q_broadcast_join_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan


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
    as a named column. The bounds sit above the counts that gives
    (3 array_sort, 11 lambdafunction, 4 CASE WHEN in the default
    rendering) and far below those of inlining every use (83, 199, 40)."""
    from osm_wikipedia_tag_validator_spark.operators import validator as V

    out = V.validate(
        W.spark_elements(spark, 400), W.spark_wiki_entities(spark), W.spark_regions(spark)
    )
    plan = _optimized(out)
    counts = {k: plan.count(k) for k in ("array_sort", "lambdafunction", "CASE WHEN")}
    assert counts["array_sort"] <= 6, counts
    assert counts["lambdafunction"] <= 20, counts
    assert counts["CASE WHEN"] <= 12, counts


def test_knn_bruteforce_has_no_shuffle(spark):
    from osm_wikipedia_tag_validator_spark.operators import knn as KNN

    q = OQ._pts(spark, SF)
    e = OQ._supplier_pts(spark, SF)
    df = KNN.knn_bruteforce(q, e, k=3, q_key="c_custkey", e_key="s_suppkey")
    plan = _plan(df)
    # no key shuffle and no window sort — the top-k is map-side; a
    # round-robin repartition for parallelism on single-file sources is
    # deliberate and carries no key semantics
    assert "Exchange hashpartitioning" not in plan
    assert "Window" not in plan and "Sort" not in plan


def test_latest_per_key_single_exchange(spark):
    from osm_wikipedia_tag_validator_spark.operators import upsert as UP

    df = UP.latest_per_key(spark.read.parquet(f"{SF}/orders.parquet"),
                           key_cols=["o_custkey"], ts_col="o_orderdate")
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1


def test_salted_join_and_count(spark):
    big = spark.range(10000).select((F.col("id") % 10).alias("k"), "id")
    small = spark.createDataFrame([(i, f"v{i}") for i in range(10)], "k long, v string")
    out = SJ.salted_join_skewed(big, small, "k", hot_keys=[0, 1], salt_buckets=4)
    assert out.count() == 10000
    plain = big.join(small, "k").groupBy("k").count().toPandas().set_index("k")["count"]
    salted = out.groupBy("k").count().toPandas().set_index("k")["count"]
    assert (plain.sort_index() == salted.sort_index()).all()


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


def test_cosine_topk_fast_has_no_shuffle(spark):
    from osm_wikipedia_tag_validator_spark.operators import ann as ANN

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.limit(20)
    df = ANN.cosine_topk_fast(q, e, k=3)
    plan = _plan(df)
    # corpus rides the closure as a broadcast numpy matrix; the query
    # side streams through one Arrow stage — no shuffle, no window sort
    assert "Exchange hashpartitioning" not in plan
    assert "Window" not in plan
    assert plan.count("MapInPandas") == 1


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


def test_reference_compare_join_is_shuffle_hash(spark):
    """images_ops.compare_against_reference joins two byte-carrying
    fact tables full-outer on image_id — must stay shuffled-hash for
    the same broadcast-of-bytes reason."""
    from osm_wikipedia_tag_validator_spark.operators import images_ops as IO

    imgs = W.spark_images(spark, 60)
    plan = _plan(IO.compare_against_reference(imgs, imgs))
    sh = [seg for seg in plan.split("\n") if "ShuffledHashJoin" in seg]
    assert any("image_id" in s for s in sh), plan[:4000]
    assert "BroadcastHashJoin" not in plan
