"""Discrete global grid (DGG) cell encoding — the engine's spatial index.

The reference has no spatial index at all: containment is hardcoded
per-country bboxes (`osm_editor_bot_for_approved_tasks.py:222-298`) or a
per-point network call to Nominatim (`:210-220`). Here every point gets
a hierarchical cell id (H3/S2-style role, quadtree realization) so that
spatial joins become cell equi-joins Catalyst can plan, and partition
pruning can ride the cell prefix.

Grid definition (documented convention — tests pin it):
  resolution r ∈ [0, 29]; n = 2^r
  x = clamp(floor((lon + 180) * n / 360), 0, n-1)
  y = clamp(floor((90 - lat) * n / 180), 0, n-1)
  cell_id = (r << 58) | (x << 29) | y        (fits in int64, always ≥ 0)

Two implementations with identical semantics:
  * Spark Column expressions (`cell_col`) — stays inside whole-stage
    codegen; used for the relational/oracle path. No UDF.
  * numpy (`cell_encode`) — the reference the tests check `cell_col`
    against; its parts `cell_xy`/`pack` build the polygon covers on the
    driver (`cover_bbox`).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_RES = 29
_X_SHIFT = 29
_RES_SHIFT = 58


# ---------------------------------------------------------------------------
# Spark Column implementation (JVM-side, codegen-friendly, oracle-matchable)
# ---------------------------------------------------------------------------

def cell_x_col(lon: Column, res: int) -> Column:
    n = 1 << res
    x = F.floor((lon + F.lit(180.0)) * F.lit(float(n)) / F.lit(360.0))
    return F.greatest(F.lit(0), F.least(x, F.lit(n - 1))).cast("long")


def cell_y_col(lat: Column, res: int) -> Column:
    n = 1 << res
    y = F.floor((F.lit(90.0) - lat) * F.lit(float(n)) / F.lit(180.0))
    return F.greatest(F.lit(0), F.least(y, F.lit(n - 1))).cast("long")


def cell_col(lon: Column, lat: Column, res: int) -> Column:
    """lat/lon → cell id as a pure Spark expression (no UDF)."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0,{MAX_RES}], got {res}")
    packed = (
        F.lit(res).cast("long") * F.lit(1 << _RES_SHIFT).cast("long")
        + F.shiftleft(cell_x_col(lon, res), _X_SHIFT)
        + cell_y_col(lat, res)
    )
    return packed


def cell_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    """The same encoding as ANSI SQL text (DuckDB-runnable oracle)."""
    n = 1 << res
    x = (
        f"GREATEST(0, LEAST(CAST(FLOOR(({lon_expr} + 180.0) * {float(n)} / 360.0) AS BIGINT), {n - 1}))"
    )
    y = (
        f"GREATEST(0, LEAST(CAST(FLOOR((90.0 - {lat_expr}) * {float(n)} / 180.0) AS BIGINT), {n - 1}))"
    )
    return f"(CAST({res} AS BIGINT) * {1 << _RES_SHIFT} + ({x} * {1 << _X_SHIFT}) + {y})"


def parent_cell_col(cell: Column, res: int, parent_res: int) -> Column:
    """Coarsen a cell id to an ancestor resolution (prefix for pruning)."""
    if parent_res > res:
        raise ValueError("parent_res must be <= res")
    d = res - parent_res
    x = F.shiftright(cell, _X_SHIFT) % F.lit(1 << _X_SHIFT)
    y = cell % F.lit(1 << _X_SHIFT)
    return (
        F.lit(parent_res).cast("long") * F.lit(1 << _RES_SHIFT).cast("long")
        + F.shiftleft(F.shiftright(x, d), _X_SHIFT)
        + F.shiftright(y, d)
    )


# ---------------------------------------------------------------------------
# numpy implementation (driver-side covers, test reference)
# ---------------------------------------------------------------------------

def cell_xy(lon: np.ndarray, lat: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    n = 1 << res
    x = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) * float(n) / 360.0)
    y = np.floor((90.0 - np.asarray(lat, dtype=np.float64)) * float(n) / 180.0)
    x = np.clip(x, 0, n - 1).astype(np.int64)
    y = np.clip(y, 0, n - 1).astype(np.int64)
    return x, y


def pack(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    return (
        np.int64(res) << _RES_SHIFT
    ) | (np.asarray(x, dtype=np.int64) << _X_SHIFT) | np.asarray(y, dtype=np.int64)


def cell_encode(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    x, y = cell_xy(lon, lat, res)
    return pack(x, y, res)


def unpack(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    cell = np.asarray(cell, dtype=np.int64)
    res = cell >> _RES_SHIFT
    x = (cell >> _X_SHIFT) & ((1 << _X_SHIFT) - 1)
    y = cell & ((1 << _X_SHIFT) - 1)
    return res, x, y


def cell_bounds(cell: int) -> tuple[float, float, float, float]:
    """(lon_min, lat_min, lon_max, lat_max) of one cell."""
    res, x, y = unpack(np.array([cell]))
    n = 1 << int(res[0])
    lon_min = float(x[0]) * 360.0 / n - 180.0
    lat_max = 90.0 - float(y[0]) * 180.0 / n
    return (lon_min, lat_max - 180.0 / n, lon_min + 360.0 / n, lat_max)


def cover_bbox(
    lon_min: float, lat_min: float, lon_max: float, lat_max: float, res: int
) -> np.ndarray:
    """All cells at `res` intersecting a bbox (inclusive of edges).

    Used to build broadcast polygon cell covers: cover the polygon bbox,
    then (optionally) drop cells whose bounds don't touch the polygon.
    """
    n = 1 << res
    x0, y1 = cell_xy(np.array([lon_min]), np.array([lat_min]), res)
    x1, y0 = cell_xy(np.array([lon_max]), np.array([lat_max]), res)
    xs = np.arange(int(x0[0]), int(x1[0]) + 1)
    ys = np.arange(int(y0[0]), int(y1[0]) + 1)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    return pack(gx.ravel(), gy.ravel(), res)
