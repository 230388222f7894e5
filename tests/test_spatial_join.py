import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from osm_wikipedia_tag_validator_spark.datagen import world
from osm_wikipedia_tag_validator_spark.functions import geometry as G
from osm_wikipedia_tag_validator_spark.operators import spatial_join as SJ


def _expected_regions(pdf: pd.DataFrame) -> dict:
    """Oracle: brute-force numpy PIP over every polygon (no index)."""
    polys = world.gen_polygons()
    exp = {}
    for _, prow in polys.iterrows():
        rings = [np.array([[p["lon"], p["lat"]] for p in ring]) for ring in prow["rings"]]
        ins = G.points_in_polygon(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), rings)
        for i in np.where(ins)[0]:
            exp.setdefault(int(pdf["id"].iloc[i]), set()).add(prow["polygon_id"])
    return exp


def test_pip_join_matches_bruteforce(spark):
    elems = world.spark_elements(spark, 400).filter(F.col("download_timestamp") < 1_700_900_001)
    pdf = elems.select("id", "lon", "lat").toPandas().drop_duplicates("id")
    hits = (
        SJ.point_in_polygon_join(elems.select("id", "lon", "lat"), world.spark_polygons(spark))
        .select("id", "polygon_id")
        .distinct()
        .toPandas()
    )
    got = {}
    for _, r in hits.iterrows():
        got.setdefault(int(r["id"]), set()).add(r["polygon_id"])
    exp = _expected_regions(pdf)
    assert got == exp


def test_pip_edge_convention(spark):
    # points exactly on alpha's edges and corners count as inside
    pts = spark.createDataFrame(
        [(1, -18.0, 0.0), (2, -18.0, -8.0), (3, -2.0, 8.0), (4, -10.0, 8.0), (5, -1.999999, 0.0)],
        "id long, lon double, lat double",
    )
    hits = (
        SJ.point_in_polygon_join(pts, world.spark_polygons(spark))
        .filter(F.col("polygon_id") == "alpha-0")
        .select("id")
        .toPandas()["id"]
        .tolist()
    )
    assert sorted(hits) == [1, 2, 3, 4]


def test_hole_excluded(spark):
    pts = spark.createDataFrame(
        [(1, 32.0, 9.5), (2, 25.0, 5.0), (3, 30.0, 8.0)],
        "id long, lon double, lat double",
    )
    hits = (
        SJ.point_in_polygon_join(pts, world.spark_polygons(spark))
        .filter(F.col("region") == "gamma")
        .select("id")
        .toPandas()["id"]
        .tolist()
    )
    # 1 in hole -> out; 2 inside; 3 on hole edge -> inside (boundary)
    assert sorted(hits) == [2, 3]


def test_all_points_inside(spark):
    elems = world.spark_elements(spark, 300).filter(F.col("type") != "node")
    res = SJ.all_points_inside(elems, world.spark_polygons(spark))
    pdf = res.toPandas()
    assert len(pdf) > 0
    assert set(pdf.columns) == {"type", "id", "all_inside", "n_points"}
    # some objects must fail (far-point injection) and some pass
    assert pdf["all_inside"].any()
    assert (~pdf["all_inside"]).any()


def test_pip_tag_column_collision_raises(spark):
    pts = spark.createDataFrame(
        [(1, -10.0, 0.0, "x")], "id long, lon double, lat double, region string"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="region"):
        SJ.point_in_polygon_tag(pts, world.spark_polygons(spark))


def test_pip_tag_tags_each_row_and_keeps_duplicates(spark):
    """The tag answers per row, not per key: a key seen at two places
    gets each place's polygon, duplicate rows stay duplicates, and a
    point in no polygon (here: in gamma's hole) keeps NULL tags."""
    pts = spark.createDataFrame(
        [("node", 1, -10.0, 0.0), ("node", 1, -10.0, 0.0), ("node", 1, 25.0, 5.0),
         ("node", 2, 32.0, 9.5)],
        "type string, id long, lon double, lat double",
    )
    got = sorted(
        (r["id"], r["lon"], r["polygon_id"], r["containing_region"])
        for r in SJ.point_in_polygon_tag(pts, world.spark_polygons(spark)).collect()
    )
    assert got == [
        (1, -10.0, "alpha-0", "alpha"),
        (1, -10.0, "alpha-0", "alpha"),
        (1, 25.0, "gamma-0", "gamma"),
        (2, 32.0, None, None),
    ]


def test_pip_empty_polygon_dim(spark):
    pts = spark.createDataFrame(
        [("node", 1, -10.0, 0.0), ("way", 2, 25.0, 5.0), ("node", 3, None, None)],
        "type string, id long, lon double, lat double",
    )
    polys = spark.createDataFrame([], world.POLYGONS_SCHEMA)
    assert SJ.point_in_polygon_join(pts, polys).count() == 0
    tagged = SJ.point_in_polygon_tag(pts, polys)
    assert tagged.columns == ["type", "id", "lon", "lat", "polygon_id", "containing_region"]
    rows = tagged.collect()
    assert sorted(r["id"] for r in rows) == [1, 2, 3]
    assert all(r["polygon_id"] is None and r["containing_region"] is None for r in rows)
