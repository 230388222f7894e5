"""Point-in-polygon spatial join — the engine's core custom operator.

Reference semantics replaced (SURVEY.md §2.3 J4/J5/J6):
  * J4 point-in-bbox, hardcoded per-country boxes —
    `osm_editor_bot_for_approved_tasks.py:241-298`
  * J5 exact point-in-polygon via per-point Nominatim network call —
    `osm_editor_bot_for_approved_tasks.py:210-220`
  * J6 all-member-points containment (universal semi-join) —
    `osm_editor_bot_for_approved_tasks.py:188-196`

Spark-first plan (scales to 10^12 points / 1000 executors):

  1. Polygon set is a small dim (like the reference's region config) →
     collected once per snapshot, each polygon's bbox covered with grid
     cells at `res` on the driver (numpy, functions/cells.cover_bbox).
     Cells fully inside the shell and outside every hole are marked
     `full` — points landing there skip the exact test entirely. The
     dim is BROADCAST as one row per cell: `cands`, the cell's candidate
     polygons sorted by polygon_id, each with its region, `full` flag
     and edge array (NULL when full).
  2. Points get `cell = cell_col(lon, lat, res)` as a pure Catalyst
     expression (whole-stage codegen, no UDF, no shuffle).
  3. Candidate join: `points ⋈ broadcast(cells) ON cell` — a broadcast
     hash join on a unique key; the 100 TB fact side is never shuffled.
     Hot-city skew is irrelevant here (no shuffle).
  4. Exact refine: `filter(cands, inside)` as Catalyst higher-order
     functions — even-odd ray cast over the edge array, on-edge =
     inside. No Python worker, no Arrow hop.

`point_in_polygon_join` explodes the hits into one row per (point,
containing polygon); `point_in_polygon_tag` keeps every point row once,
tagged with its first hit (lowest polygon_id).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions import cells as C
from ..functions import geometry as G
from ..session import snapshot_memo

DEFAULT_RES = 7  # ~0.35° cells over the synthetic world; tune per dataset


# polygon-dim rows beyond this are a misuse of the broadcast PIP paths
# (regions_processed.yaml is 1218 rows; even a worldwide admin set is
# ~10^5) — raise before an unbounded collect can OOM the driver
MAX_POLYGON_DIM_ROWS = 100_000


def collect_polygons(polygons: DataFrame) -> list[dict]:
    """Driver-side materialization of the polygon dim (small by design,
    like regions_processed.yaml's 1218 rows). The PIP joins call it
    through `_polygon_dim`, so it runs once per polygon snapshot: every
    join over the same snapshot (the validator's `point_in_polygon_tag`,
    the tile sink's `point_in_polygon_join`, run after run) shares one
    collect. The guard is folded into the collect itself: the LIMIT
    bounds the driver transfer to MAX+1 rows in the SAME job (no extra
    probe job in the hot path), so an accidentally-huge dim fails fast
    with a clear error instead of an unbounded ``collect`` OOM."""
    rows = (
        polygons.select("region", "polygon_id", "rings")
        .limit(MAX_POLYGON_DIM_ROWS + 1)
        .collect()
    )
    if len(rows) > MAX_POLYGON_DIM_ROWS:
        raise ValueError(
            f"polygon dim exceeds {MAX_POLYGON_DIM_ROWS} rows; the "
            "broadcast PIP paths require a dim-sized polygon table — "
            "partition the polygon set or raise MAX_POLYGON_DIM_ROWS "
            "deliberately"
        )
    out = []
    for r in rows:
        rings = [
            np.array([[p["lon"], p["lat"]] for p in ring], dtype=np.float64)
            for ring in r["rings"]
        ]
        out.append({"region": r["region"], "polygon_id": r["polygon_id"], "rings": rings})
    return out


def _cell_fully_inside(cell: int, rings: list[np.ndarray]) -> bool:
    """Conservative: cell is fully inside iff all 4 corners are inside
    the shell, no ring edge intersects the cell bbox, and no hole
    vertex is inside the cell. Errs toward False (refine more)."""
    x0, y0, x1, y1 = C.cell_bounds(cell)
    cx = np.array([x0, x1, x1, x0])
    cy = np.array([y0, y0, y1, y1])
    if not G.points_in_polygon(cx, cy, rings).all():
        return False
    for ring in rings:
        r = np.asarray(ring)
        vin = (r[:, 0] >= x0) & (r[:, 0] <= x1) & (r[:, 1] >= y0) & (r[:, 1] <= y1)
        if vin.any():
            return False
        # edge crossing check: any segment endpoint pair straddling the box
        a, b = r, np.roll(r, -1, axis=0)
        # segment bbox overlaps cell bbox → potential crossing → not full
        sx0 = np.minimum(a[:, 0], b[:, 0])
        sx1 = np.maximum(a[:, 0], b[:, 0])
        sy0 = np.minimum(a[:, 1], b[:, 1])
        sy1 = np.maximum(a[:, 1], b[:, 1])
        if ((sx0 <= x1) & (sx1 >= x0) & (sy0 <= y1) & (sy1 >= y0)).any():
            return False
    return True


def build_cell_cover(
    polys: list[dict], res: int = DEFAULT_RES
) -> pd.DataFrame:
    """(cell, polygon_id, region, full) cover rows for broadcast."""
    rows = []
    for p in polys:
        shell = p["rings"][0]
        bx0, by0, bx1, by1 = G.ring_bbox(shell)
        for cell in C.cover_bbox(bx0, by0, bx1, by1, res):
            # drop cells whose bbox doesn't intersect the shell bbox at all
            # (cover_bbox already bounds this; keep all, mark full)
            rows.append(
                {
                    "cell": int(cell),
                    "polygon_id": p["polygon_id"],
                    "region": p["region"],
                    "full": _cell_fully_inside(int(cell), p["rings"]),
                }
            )
    return pd.DataFrame(rows, columns=["cell", "polygon_id", "region", "full"])


_EDGE_EPS = 1e-12

_CELL_DIM_SCHEMA = (
    "cell long, cands array<struct<polygon_id:string, region:string, full:boolean, "
    "edges:array<struct<x0:double,y0:double,x1:double,y1:double>>>>"
)


def _polygon_dim(polygons: DataFrame, res: int) -> DataFrame:
    """The broadcast cell dim of a polygon snapshot at `res`: one row
    per covered cell with its candidate polygons. The collect, the cell
    cover and the edge arrays are built once per snapshot
    (`session.snapshot_memo`, slot "polygon_dim") and shared by every
    PIP join over it."""
    return snapshot_memo(
        "polygon_dim", polygons, lambda: _build_polygon_dim(polygons, res), res
    )


def _build_polygon_dim(polygons: DataFrame, res: int) -> DataFrame:
    polys = collect_polygons(polygons)
    # edges per polygon: all rings flattened (even-odd handles holes)
    edges = {}
    for p in polys:
        pe = []
        for ring in p["rings"]:
            r = np.asarray(ring, dtype=np.float64)
            if len(r) >= 2 and np.allclose(r[0], r[-1]):
                r = r[:-1]
            pe.extend(
                {"x0": float(a[0]), "y0": float(a[1]), "x1": float(b[0]), "y1": float(b[1])}
                for a, b in zip(r, np.roll(r, -1, axis=0))
            )
        edges[p["polygon_id"]] = pe
    cover = build_cell_cover(polys, res).sort_values(["cell", "polygon_id", "region"])
    cells = [
        (
            int(cell),
            [
                # fully-inside cells don't need the edge array at all
                {"polygon_id": pid, "region": region, "full": bool(full),
                 "edges": None if full else edges[pid]}
                for pid, region, full in zip(g["polygon_id"], g["region"], g["full"])
            ],
        )
        for cell, g in cover.groupby("cell", sort=False)
    ]
    # pandas frame + explicit schema → driver-local LocalTableScan;
    # a plain list-of-tuples goes through applySchemaToPythonRDD (a
    # pickled ExistingRDD) and every broadcast build of the dim then
    # launches a Python task — one per PIP join per leg (visible as
    # `Scan ExistingRDD` in plans/r06/pip_convex_before.txt, gone in
    # the after plan). Same trick world.py's dim constructors use.
    return polygons.sparkSession.createDataFrame(
        pd.DataFrame(cells, columns=["cell", "cands"]), _CELL_DIM_SCHEMA
    )


def _hits(points: DataFrame, polygons: DataFrame, lon_col: str, lat_col: str,
          res: int, how: str) -> DataFrame:
    """`points` columns + `cell` + `_hits`: the polygons (polygon_id,
    region; sorted by polygon_id) that contain each point. `how` is the
    join with the cell dim: "inner" drops points outside every cell,
    "left" keeps them with NULL `_hits`."""
    lon = F.col(lon_col)
    lat = F.col(lat_col)

    def crossing(e):
        # try_divide, not /: horizontal edges have y1 == y0 and under
        # ANSI mode (Spark 4 default) a raw double division by zero
        # throws DIVIDE_BY_ZERO the moment common-subexpression
        # elimination evaluates xint outside the short-circuiting And.
        # try_divide yields NULL → `lon < NULL` is NULL → the edge is
        # (correctly) not counted as a crossing.
        xint = e["x0"] + F.try_divide(
            (lat - e["y0"]) * (e["x1"] - e["x0"]), e["y1"] - e["y0"]
        )
        return ((e["y0"] > lat) != (e["y1"] > lat)) & (lon < xint)

    def on_edge(e):
        cross = (e["x1"] - e["x0"]) * (lat - e["y0"]) - (e["y1"] - e["y0"]) * (
            lon - e["x0"]
        )
        scale = F.greatest(
            F.lit(1.0), F.abs(e["x1"] - e["x0"]) + F.abs(e["y1"] - e["y0"])
        )
        return (
            (F.abs(cross) <= F.lit(_EDGE_EPS) * scale)
            & (lon >= F.least(e["x0"], e["x1"]) - F.lit(_EDGE_EPS))
            & (lon <= F.greatest(e["x0"], e["x1"]) + F.lit(_EDGE_EPS))
            & (lat >= F.least(e["y0"], e["y1"]) - F.lit(_EDGE_EPS))
            & (lat <= F.greatest(e["y0"], e["y1"]) + F.lit(_EDGE_EPS))
        )

    def inside(c):
        return c["full"] | F.exists(c["edges"], on_edge) | (
            F.size(F.filter(c["edges"], crossing)) % 2 == 1
        )

    pts = points.withColumn("cell", C.cell_col(lon, lat, res)).alias("_pts")
    dim = F.broadcast(_polygon_dim(polygons, res)).alias("_dim")
    joined = pts.join(dim, F.col("_pts.cell") == F.col("_dim.cell"), how)
    # the hits drop the O(vertices) edge arrays right away, so they are
    # never copied into output rows
    hits = F.transform(
        F.filter("_dim.cands", inside),
        lambda c: F.struct(c["polygon_id"].alias("polygon_id"), c["region"].alias("region")),
    )
    return joined.select("_pts.*", hits.alias("_hits"))


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int = DEFAULT_RES,
) -> DataFrame:
    """points ⋈ polygons with exact containment (on-edge = inside).

    Output: all `points` columns + (cell, polygon_id, region), one row
    per (point, containing polygon). Points in no polygon are dropped
    (inner-join semantics); use `point_in_polygon_tag` for left
    semantics."""
    hits = _hits(points, polygons, lon_col, lat_col, res, "inner")
    cols = [c for c in hits.columns if c != "_hits"]
    # explode_outer + filter, not explode: for explode the optimizer
    # infers `size(_hits) > 0` and pushes it into the join condition,
    # which would run the whole refine twice per candidate row
    return (
        hits.select(*cols, F.explode_outer("_hits").alias("_hit"))
        .filter(F.col("_hit").isNotNull())
        .select(*cols, "_hit.polygon_id", "_hit.region")
    )


def point_in_polygon_tag(
    points: DataFrame,
    polygons: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int = DEFAULT_RES,
) -> DataFrame:
    """Left variant: every point row kept once, as it is, with the
    containing polygon_id / containing_region (the lowest polygon_id if
    several contain it) or NULLs.

    Used by the validator for the 'element outside declared region'
    check (the engine's exact replacement for the reference's
    Nominatim-was-it-in-the-country gate). Each row is tagged by its
    own coordinates: no key, window or shuffle is involved, so
    duplicate rows stay duplicates."""
    clash = {"cell", "polygon_id", "region", "containing_region"} & set(points.columns)
    if clash:
        # the names the PIP outputs add: pre-existing ones would be
        # overwritten (`cell`) or duplicated — fail loudly instead
        raise ValueError(
            f"point_in_polygon_tag: points already has column(s) {sorted(clash)}; "
            "rename them before tagging"
        )
    first = F.get("_hits", 0)
    return _hits(points, polygons, lon_col, lat_col, res, "left").select(
        *points.columns,
        first["polygon_id"].alias("polygon_id"),
        first["region"].alias("containing_region"),
    )


def all_points_inside(
    objects: DataFrame,
    polygons: DataFrame,
    points_col: str = "member_points",
    key_cols: list[str] | None = None,
    region_col: str = "area_identifier",
    res: int = DEFAULT_RES,
) -> DataFrame:
    """J6 universal-quantifier semi-join: object passes iff EVERY member
    point is inside some polygon of its declared region.

    Implemented as explode → PIP join (left) → groupBy bool_and, i.e.
    `min(inside)` — no per-object Python loop.
    """
    key_cols = key_cols or ["type", "id"]
    pts = (
        objects.select(*key_cols, region_col, F.explode(points_col).alias("pt"))
        .select(
            *key_cols,
            region_col,
            F.col("pt.lon").alias("_mp_lon"),
            F.col("pt.lat").alias("_mp_lat"),
        )
    )
    hits = point_in_polygon_join(pts, polygons, "_mp_lon", "_mp_lat", res)
    # a member point is "ok" iff one of its containing polygons belongs
    # to the object's declared region
    ok = (
        hits.filter(F.col("region") == F.col(region_col))
        .select(*key_cols, "_mp_lon", "_mp_lat")
        .distinct()
        .withColumn("_pt_ok", F.lit(True))
    )
    per_point = pts.join(ok, key_cols + ["_mp_lon", "_mp_lat"], "left").withColumn(
        "_pt_ok", F.coalesce("_pt_ok", F.lit(False))
    )
    return per_point.groupBy(*key_cols).agg(
        F.min("_pt_ok").alias("all_inside"),
        F.count(F.lit(1)).alias("n_points"),
    )

