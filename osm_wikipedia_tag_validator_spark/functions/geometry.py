"""Vectorized geometry: ray-casting point-in-polygon and great-circle distance.

Replaces the reference's spatial tests — hardcoded per-country bboxes
(`osm_editor_bot_for_approved_tasks.py:241-298`) and per-point Nominatim
reverse-geocode network calls (`:210-220`) — with exact local math. The
numpy functions here are the driver-side geometry (the cell cover's
fully-inside test) and the oracle that the Catalyst refine in
`operators/spatial_join.py` is checked against.

Conventions (pinned by tests/test_spatial_join.py and
tests/test_pip_property.py):
  * Ray casting, even-odd rule, ray shoots in +x direction.
  * A point exactly ON a polygon edge or vertex counts as INSIDE.
  * Rings may be given in either winding order; first ring is the
    shell, subsequent rings are holes (even-odd handles both).
"""

from __future__ import annotations

import numpy as np

_EPS = 1e-12


def point_on_segments(px, py, x0, y0, x1, y1) -> np.ndarray:
    """(m points) × (k segments) → bool[m]: point lies on any segment."""
    px = px[:, None]
    py = py[:, None]
    cross = (x1 - x0) * (py - y0) - (y1 - y0) * (px - x0)
    collinear = np.abs(cross) <= _EPS * np.maximum(
        1.0, np.abs(x1 - x0) + np.abs(y1 - y0)
    )
    within_x = (px >= np.minimum(x0, x1) - _EPS) & (px <= np.maximum(x0, x1) + _EPS)
    within_y = (py >= np.minimum(y0, y1) - _EPS) & (py <= np.maximum(y0, y1) + _EPS)
    return (collinear & within_x & within_y).any(axis=1)


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray cast of m points against one ring (k vertices).

    ring: (k,2) array of (lon,lat); closing vertex optional.
    Returns bool[m]; on-edge counts as inside.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    ring = np.asarray(ring, dtype=np.float64)
    if len(ring) >= 2 and np.allclose(ring[0], ring[-1]):
        ring = ring[:-1]
    x0, y0 = ring[:, 0], ring[:, 1]
    x1 = np.roll(x0, -1)
    y1 = np.roll(y0, -1)

    on_edge = point_on_segments(px, py, x0, y0, x1, y1)

    # Standard crossing test: half-open vertical interval [min, max) so a
    # ray through a vertex is counted exactly once.
    pyc = py[:, None]
    pxc = px[:, None]
    cond = (y0 > pyc) != (y1 > pyc)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0 + (pyc - y0) * (x1 - x0) / np.where(y1 == y0, np.inf, y1 - y0)
    crossings = (cond & (pxc < xint)).sum(axis=1)
    return on_edge | (crossings % 2 == 1)


def points_in_polygon(
    px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]
) -> np.ndarray:
    """Even-odd over shell + holes; on-edge of ANY ring counts inside.

    (On the edge of a hole is boundary of the polygon → inside by our
    convention.)
    """
    if not rings:
        return np.zeros(len(px), dtype=bool)
    inside = np.zeros(len(px), dtype=bool)
    on_any_edge = np.zeros(len(px), dtype=bool)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if len(r) >= 2 and np.allclose(r[0], r[-1]):
            r = r[:-1]
        x0, y0 = r[:, 0], r[:, 1]
        x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
        on_any_edge |= point_on_segments(px, py, x0, y0, x1, y1)
        pyc = py[:, None]
        pxc = px[:, None]
        cond = (y0 > pyc) != (y1 > pyc)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x0 + (pyc - y0) * (x1 - x0) / np.where(y1 == y0, np.inf, y1 - y0)
        inside ^= ((cond & (pxc < xint)).sum(axis=1) % 2).astype(bool)
    return inside | on_any_edge


def ring_bbox(ring: np.ndarray) -> tuple[float, float, float, float]:
    r = np.asarray(ring, dtype=np.float64)
    return (
        float(r[:, 0].min()),
        float(r[:, 1].min()),
        float(r[:, 0].max()),
        float(r[:, 1].max()),
    )


def haversine_km(
    lon1: np.ndarray, lat1: np.ndarray, lon2: np.ndarray, lat2: np.ndarray
) -> np.ndarray:
    """Great-circle distance, vectorized."""
    r = 6371.0088
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dlat = p2 - p1
    dlon = np.radians(lon2) - np.radians(lon1)
    a = np.sin(dlat / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dlon / 2) ** 2
    return 2 * r * np.arcsin(np.sqrt(np.clip(a, 0, 1)))
