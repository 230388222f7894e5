import numpy as np
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from osm_wikipedia_tag_validator_spark.functions import cells as C


@given(
    lon=st.floats(-180, 180, allow_nan=False),
    lat=st.floats(-90, 90, allow_nan=False),
    res=st.integers(0, C.MAX_RES),
)
@settings(max_examples=200, deadline=None)
def test_pack_unpack_roundtrip(lon, lat, res):
    cell = C.cell_encode(np.array([lon]), np.array([lat]), res)
    r, x, y = C.unpack(cell)
    assert r[0] == res
    n = 1 << res
    assert 0 <= x[0] < n and 0 <= y[0] < n
    assert cell[0] >= 0  # int64-safe


@given(
    lon=st.floats(-179.99, 179.99, allow_nan=False),
    lat=st.floats(-89.99, 89.99, allow_nan=False),
    res=st.integers(0, 20),
)
@settings(max_examples=100, deadline=None)
def test_point_inside_own_cell_bounds(lon, lat, res):
    cell = int(C.cell_encode(np.array([lon]), np.array([lat]), res)[0])
    x0, y0, x1, y1 = C.cell_bounds(cell)
    assert x0 - 1e-9 <= lon <= x1 + 1e-9
    assert y0 - 1e-9 <= lat <= y1 + 1e-9


def test_parent_cell_consistency():
    lon, lat = np.array([12.34]), np.array([-45.6])
    child = C.cell_encode(lon, lat, 12)
    parent_direct = C.cell_encode(lon, lat, 7)
    r, x, y = C.unpack(child)
    d = 12 - 7
    parent_derived = C.pack(x >> d, y >> d, 7)
    assert parent_direct[0] == parent_derived[0]


def test_spark_expr_matches_numpy(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "lon": np.linspace(-179.5, 179.5, 200),
            "lat": np.linspace(-89.5, 89.5, 200),
        }
    )
    df = spark.createDataFrame(pdf).withColumn(
        "cell", C.cell_col(F.col("lon"), F.col("lat"), 9)
    )
    got = df.toPandas().sort_values("lon")["cell"].to_numpy()
    exp = C.cell_encode(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 9)
    assert (got == exp).all()


def test_cover_bbox_contains_inner_points():
    cover = set(C.cover_bbox(-10, -5, 10, 5, 6).tolist())
    for lon, lat in [(-10, -5), (10, 5), (0, 0), (9.99, 4.99)]:
        c = int(C.cell_encode(np.array([lon]), np.array([lat]), 6)[0])
        assert c in cover
