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
     cover each polygon's bbox with grid cells at `res` on the driver
     (numpy, functions/cells.cover_bbox) and BROADCAST the
     (cell, polygon_id) cover table. Cells fully inside the shell and
     outside every hole are marked `full` — points landing there skip
     the exact test entirely.
  2. Points get `cell = cell_col(lon, lat, res)` as a pure Catalyst
     expression (whole-stage codegen, no UDF, no shuffle).
  3. Candidate join: `points ⋈ broadcast(cover) ON cell` — a broadcast
     hash join; the 100 TB fact side is never shuffled. Hot-city skew
     is irrelevant here (no shuffle); downstream groupBys use
     `salted_*` helpers from this module.
  4. Exact refine: `mapInPandas` batch filter. Polygon rings ride into
     the workers via the broadcast cover payload (closure), an STRtree
     prunes bbox candidates inside each Arrow batch, ray-casting
     (on-edge = inside) decides. No per-row Python.

The result is one row per (point, containing polygon).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

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
    collect. Guarded like the kNN/ANN
    matrix collects, but folded into the collect itself: the LIMIT
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


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int = DEFAULT_RES,
    strategy: str = "native",
) -> DataFrame:
    """points ⋈ polygons with exact containment (on-edge = inside).

    Output: all `points` columns + (cell, polygon_id, region).
    Points in no polygon are dropped (inner-join semantics); use
    `point_in_polygon_tag` for left semantics.

    strategy='native' (default): the ray-cast refine runs as Catalyst
    higher-order functions over the polygon's edge array carried in the
    broadcast cover rows — whole-stage codegen, no Python worker, no
    Arrow hop. Cells marked fully-inside skip even that.
    strategy='pandas': vectorized numpy refine in mapInPandas — the
    fallback when polygons are too complex to inline as edge arrays
    (the edge array is O(vertices) per candidate row in the broadcast,
    so beyond ~10^4-vertex polygons prefer the grouped-numpy path).
    """
    if strategy == "native":
        return _pip_join_native(points, polygons, lon_col, lat_col, res)
    return _pip_join_pandas(points, polygons, lon_col, lat_col, res)


_EDGE_EPS = 1e-12


def _polygon_dim(
    polygons: DataFrame, res: int
) -> tuple[list[dict], pd.DataFrame, DataFrame | None]:
    """(polys, cover rows, native cover DataFrame) of a polygon
    snapshot at `res`: the collect, the cell cover and the edge rows
    are built once per snapshot (`session.snapshot_memo`, slot
    "polygon_dim") and shared by every PIP join over it. The cover
    DataFrame is None for an empty polygon dim."""
    return snapshot_memo(
        "polygon_dim", polygons, lambda: _build_polygon_dim(polygons, res), res
    )


def _build_polygon_dim(polygons, res):
    spark = polygons.sparkSession
    polys = collect_polygons(polygons)
    cover_pdf = build_cell_cover(polys, res)
    if not polys:
        return polys, cover_pdf, None
    # edges per polygon: all rings flattened (even-odd handles holes)
    edge_rows = []
    for p in polys:
        edges = []
        for ring in p["rings"]:
            r = np.asarray(ring, dtype=np.float64)
            if len(r) >= 2 and np.allclose(r[0], r[-1]):
                r = r[:-1]
            nxt = np.roll(r, -1, axis=0)
            edges.extend(
                (float(a[0]), float(a[1]), float(b[0]), float(b[1]))
                for a, b in zip(r, nxt)
            )
        edge_rows.append((p["polygon_id"], edges))
    # pandas frame + explicit schema → driver-local LocalTableScan;
    # a plain list-of-tuples goes through applySchemaToPythonRDD (a
    # pickled ExistingRDD) and every broadcast build of the cover then
    # launches a Python task — one per PIP join per leg (visible as
    # `Scan ExistingRDD` in plans/r06/pip_convex_before.txt, gone in
    # the after plan). Same trick world.py's dim constructors use.
    edges_df = spark.createDataFrame(
        pd.DataFrame(
            {
                "polygon_id": [pid for pid, _ in edge_rows],
                "edges": [
                    [{"x0": a, "y0": b, "x1": c, "y1": d} for a, b, c, d in edges]
                    for _, edges in edge_rows
                ],
            }
        ),
        "polygon_id string, edges array<struct<x0:double,y0:double,x1:double,y1:double>>",
    )
    cover = (
        spark.createDataFrame(cover_pdf)
        .join(edges_df, "polygon_id")
        # fully-inside cells don't need the edge array at all
        .withColumn("edges", F.when(~F.col("full"), F.col("edges")))
        .select("cell", "polygon_id", "region", "full", "edges")
    )
    return polys, cover_pdf, cover


def _pip_join_native(points, polygons, lon_col, lat_col, res, how: str = "inner") -> DataFrame:
    _, _, cover = _polygon_dim(polygons, res)
    pts = points.withColumn("cell", C.cell_col(F.col(lon_col), F.col(lat_col), res))
    if cover is None:
        empty = points.sparkSession.createDataFrame(
            [], "cell long, polygon_id string, region string"
        )
        return pts.join(F.broadcast(empty), "cell", how)

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

    cov = F.broadcast(cover).alias("_cov")
    inside = F.col("_cov.full") | F.exists("_cov.edges", on_edge) | (
        F.size(F.filter("_cov.edges", crossing)) % 2 == 1
    )
    # containment is part of the JOIN CONDITION, not a post-filter: the
    # hash join evaluates it against the build-side row in place, so the
    # O(vertices) edge array is never copied into output rows (copying
    # it made the stage memory-bandwidth-bound at high DOP)
    joined = pts.alias("_pts").join(
        cov, (F.col("_pts.cell") == F.col("_cov.cell")) & inside, how
    )
    return joined.select("_pts.*", F.col("_cov.polygon_id"), F.col("_cov.region"))


def _pip_join_pandas(points, polygons, lon_col, lat_col, res) -> DataFrame:
    spark = points.sparkSession
    polys, cover_pdf, _ = _polygon_dim(polygons, res)
    cover = spark.createDataFrame(cover_pdf)
    geom = {p["polygon_id"]: p["rings"] for p in polys}
    # STRtree over polygon bboxes, built ONCE per worker (closure):
    # inside each Arrow batch, bbox containment prunes which exact
    # ray-cast tests run — the candidate filter for large polygon sets
    # (north star: "STRtree candidate pruning + ray-casting inside the
    # UDF").
    pids = [p["polygon_id"] for p in polys]
    bboxes = np.array([G.ring_bbox(p["rings"][0]) for p in polys])

    pts = points.withColumn("cell", C.cell_col(F.col(lon_col), F.col(lat_col), res))
    cand = pts.join(F.broadcast(cover), "cell")

    out_schema = cand.drop("full").schema

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tree = G.STRtree(bboxes)
        pid_index = {p: i for i, p in enumerate(pids)}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keep = pdf["full"].to_numpy(dtype=bool).copy()
            todo = ~keep
            if todo.any():
                sub = pdf[todo]
                px = sub[lon_col].to_numpy()
                py = sub[lat_col].to_numpy()
                sub_pid = sub["polygon_id"].map(pid_index).to_numpy()
                # bbox prune: a row needs the exact test only if its own
                # polygon's bbox contains the point
                pi, ii = tree.query_points(px, py)
                cand_rows = pi[ii == sub_pid[pi]]
                ok = np.zeros(len(sub), dtype=bool)
                for pidx in np.unique(sub_pid[cand_rows]):
                    rows = cand_rows[sub_pid[cand_rows] == pidx]
                    ok[rows] = G.points_in_polygon(
                        px[rows], py[rows], geom[pids[pidx]]
                    )
                keep[todo] = ok
            yield pdf.loc[keep].drop(columns=["full"])

    return cand.mapInPandas(refine, out_schema)


def point_in_polygon_tag(
    points: DataFrame,
    polygons: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int = DEFAULT_RES,
    key_cols: list[str] | None = None,
    unique_keys: bool = False,
) -> DataFrame:
    """Left variant: every point row kept once, with the containing
    region/polygon (first by polygon_id order) or NULLs.

    Used by the validator for the 'element outside declared region'
    check (the engine's exact replacement for the reference's
    Nominatim-was-it-in-the-country gate). Pass `unique_keys=True`
    ONLY when key_cols are unique per row (the validator's invariant —
    points come out of latest_per_key): it enables the fused one-pass
    plan, whose per-key window would silently collapse duplicate-keyed
    rows. The default join-back path is safe for any input."""
    key_cols = key_cols or ["type", "id"]
    clash = {"cell", "region"} & set(points.columns)
    if clash:
        # the PIP join's output contract appends cell/region columns;
        # pre-existing ones would be clobbered (fused path) or become
        # ambiguous (both paths) — fail loudly instead
        raise ValueError(
            f"point_in_polygon_tag: points already has column(s) {sorted(clash)}; "
            "rename them before tagging"
        )
    if unique_keys:
        # fused single-pass plan: LEFT broadcast cover join (every
        # point row survives with its 0..n candidate matches), then a
        # row_number window picks min(polygon_id) per key. Because the
        # broadcast join preserves the child's partitioning, a points
        # side already hash-partitioned on key_cols (the flagship's
        # latest_per_key window) needs NO further exchange — whereas
        # the join-back formulation recomputed the whole points
        # lineage twice around a sort-merge self-join.
        hits = _pip_join_native(points, polygons, lon_col, lat_col, res, how="left")
        w = Window.partitionBy(*key_cols).orderBy(F.asc_nulls_last("polygon_id"))
        return (
            hits.withColumn("_pip_rn", F.row_number().over(w))
            .filter(F.col("_pip_rn") == 1)
            .withColumnRenamed("region", "containing_region")
            .drop("_pip_rn", "cell")
        )
    # general path (key_cols not unique per row): aggregate best match
    # per key, join back — keeps duplicate-keyed rows intact
    hits = point_in_polygon_join(points, polygons, lon_col, lat_col, res)
    best = hits.groupBy(*key_cols).agg(
        F.min("polygon_id").alias("polygon_id"),
        F.min_by("region", "polygon_id").alias("containing_region"),
    )
    return points.join(best, key_cols, "left")


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


# ---------------------------------------------------------------------------
# Skew helpers — salted two-stage aggregation/join
# ---------------------------------------------------------------------------

def salted_count(
    df: DataFrame, key_cols: list[str], salt_buckets: int = 16
) -> DataFrame:
    """Two-stage count for skewed keys (hot city cells): local count per
    (key, salt) then global sum. Spark's hash agg already does partial
    aggregation map-side, so this matters for UDAF-style aggs and as a
    template for salted joins; kept explicit per the north rule."""
    salted = df.withColumn("_salt", (F.spark_partition_id() % salt_buckets))
    stage1 = salted.groupBy(*key_cols, "_salt").agg(F.count(F.lit(1)).alias("_c"))
    return stage1.groupBy(*key_cols).agg(F.sum("_c").alias("count"))


def salted_join_skewed(
    big: DataFrame,
    small: DataFrame,
    key: str,
    hot_keys: list,
    salt_buckets: int = 8,
) -> DataFrame:
    """Salted equi-join: replicate the small side `salt_buckets`× for
    hot keys, randomize the big side's salt. Non-hot keys join with
    salt 0 — no replication cost. Use when AQE skew-join can't see the
    skew (e.g. skew materializes inside a UDF stage)."""
    hot = F.lit(hot_keys)
    big_s = big.withColumn(
        "_salt",
        F.when(
            F.array_contains(hot, F.col(key)),
            (F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))),
        ).otherwise(F.lit(0)),
    )
    small_s = small.withColumn(
        "_salt",
        F.explode(
            F.when(
                F.array_contains(hot, F.col(key)),
                F.sequence(F.lit(0), F.lit(salt_buckets - 1)),
            ).otherwise(F.array(F.lit(0)))
        ),
    )
    return big_s.join(small_s, [key, "_salt"]).drop("_salt")
