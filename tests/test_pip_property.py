"""Property-based pinning of the PIP join to the documented convention:
the Catalyst refine and the numpy ray cast must agree on random
polygons/points."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from osm_wikipedia_tag_validator_spark.functions import geometry as G
from osm_wikipedia_tag_validator_spark.operators import spatial_join as SJ


def _random_polygon(rng, concave=False):
    """Simple (non-self-intersecting) polygon: random radii around a
    center, vertices sorted by angle."""
    n = rng.integers(4, 10)
    angles = np.sort(rng.uniform(0, 2 * np.pi, n))
    radii = rng.uniform(2, 8, n) if concave else np.full(n, rng.uniform(3, 8))
    cx, cy = rng.uniform(-40, 40), rng.uniform(-20, 20)
    xs = np.round(cx + radii * np.cos(angles), 4)
    ys = np.round(cy + radii * np.sin(angles), 4)
    return np.column_stack([xs, ys])


@given(seed=st.integers(0, 10_000))
@settings(max_examples=60, deadline=None)
def test_numpy_pip_matches_halfplane_on_convex(seed):
    """Convex polygons admit an independent oracle: all-cross-products
    same sign (with on-edge tolerance)."""
    rng = np.random.default_rng(seed)
    # convex: equal radii + sorted angles → inscribed polygon in circle
    poly = _random_polygon(rng, concave=False)
    px = rng.uniform(-50, 50, 200)
    py = rng.uniform(-30, 30, 200)
    got = G.points_in_ring(px, py, poly)
    a, b = poly, np.roll(poly, -1, axis=0)
    cross = (b[None, :, 0] - a[None, :, 0]) * (py[:, None] - a[None, :, 1]) - (
        b[None, :, 1] - a[None, :, 1]
    ) * (px[:, None] - a[None, :, 0])
    # CCW vertices (sorted angles) → inside iff all cross ≥ 0
    exp = (cross >= -1e-9).all(axis=1)
    # ignore points within tolerance of any edge (convention boundary)
    ambiguous = (np.abs(cross) < 1e-7).any(axis=1)
    assert (got[~ambiguous] == exp[~ambiguous]).all()


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_native_refine_matches_numpy(spark, seed):
    rng = np.random.default_rng(seed)
    polys = []
    for i in range(3):
        ring = _random_polygon(rng, concave=True)
        polys.append(
            (f"r{i}", f"p{i}", [[(float(x), float(y)) for x, y in ring]])
        )
    poly_df = spark.createDataFrame(
        polys,
        "region string, polygon_id string, rings array<array<struct<lon:double,lat:double>>>",
    )
    px = np.round(rng.uniform(-50, 50, 400), 4)
    py = np.round(rng.uniform(-30, 30, 400), 4)
    pts = spark.createDataFrame(
        [(int(i), float(px[i]), float(py[i])) for i in range(400)],
        "id long, lon double, lat double",
    )
    native = SJ.point_in_polygon_join(pts, poly_df, res=5)
    n = {(r["id"], r["polygon_id"]) for r in native.select("id", "polygon_id").collect()}
    exp = set()
    for i, (rid, pid, rings) in enumerate(polys):
        ring = np.array(rings[0])
        ins = G.points_in_polygon(px, py, [ring])
        exp |= {(int(j), pid) for j in np.where(ins)[0]}
    assert n == exp
