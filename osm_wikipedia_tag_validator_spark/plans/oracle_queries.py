"""The DuckDB-oracle query surface: queries that run package operators.

Each entry is a (spark, sf_dir) → DataFrame callable over the TPC-H
testdata tables with an ANSI-SQL twin (`oracle_sql()`) that DuckDB runs
on the same parquet files; tests/test_oracle_parity.py compares the
two. Column names are aliased identically on both sides; floats are
rounded to 6 decimals; counts cast to bigint. Queries whose result SQL
cannot re-derive (the synthetic-world pipelines) have no twin; they are
pinned to golden fixtures instead (GOLDEN_PINNED).

Spatial queries derive deterministic lon/lat from table keys (odd/200
degrees — provably never on a dyadic cell boundary) so the cell/tile
encodings are exactly reproducible in portable SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..functions import cells as C
from ..operators import spatial_join as SJ
from ..operators import tiles as TI
from ..operators import upsert as UP

# Golden-pinned queries → result columns. Their committed parquet
# fixtures (tests/fixtures/oracle_golden/, written by
# tests/fixtures/regen_oracle_golden.py from operator output that
# pytest proves exact against brute-force oracles) are compared with a
# live recompute by tests/test_golden_freshness.py. Every pinned query
# builds its own seeded world and ignores sf_dir.
GOLDEN_PINNED: dict[str, list[str]] = {
    "spatial_error_reports": [
        "area_identifier", "type", "id", "error_id", "osm_object_url", "report_json"
    ],
    "tile_vector_assignment": ["tile_id", "region", "n_images"],
    "image_invariants": ["image_id", "fmt", "psnr", "phash_match", "caption_ok"],
}


# ---------------------------------------------------------------------------
# shared derivations
# ---------------------------------------------------------------------------

_LON = "((c_custkey * 7919) % 36000) / 100.0 - 180.0 + 0.005"
_LAT = "((c_custkey * 104729) % 17000) / 100.0 - 85.0 + 0.005"


def _lon_lat() -> list[Column]:
    """`_LON` and `_LAT` as Columns `lon`, `lat`: the same expression
    tree, built with Column arithmetic because `F.expr` would parse
    `100.0` as a DECIMAL literal and change the type."""
    key = F.col("c_custkey")
    return [
        (((key * 7919) % 36000) / 100.0 - 180.0 + 0.005).alias("lon"),
        (((key * 104729) % 17000) / 100.0 - 85.0 + 0.005).alias("lat"),
    ]


CELL_RES = 7
TILE_Z = 6


def _pts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "customer").select("c_custkey", *_lon_lat())


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# upsert and report-filter operators
# ---------------------------------------------------------------------------

def q_latest_order_per_customer(spark, sf_dir):
    """W1 latest-row-per-key dedup (`load_osm_file.py:27-40`)."""
    o = _t(spark, sf_dir, "orders")
    latest = UP.latest_per_key(
        o.withColumn("_ts", F.unix_timestamp("o_orderdate") * 1000 + F.col("o_orderkey") % 1000),
        key_cols=["o_custkey"],
        ts_col="_ts",
    )
    return latest.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
    )


SQL_LATEST_ORDER = """
SELECT o_custkey, o_orderkey, STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate
FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY o_custkey
      ORDER BY (EPOCH(o_orderdate)*1000 + o_orderkey % 1000) DESC) AS rn
  FROM orders
) WHERE rn = 1
"""


def q_filter_reported_errors(spark, sf_dir):
    """P7 bot-side approved-class filter
    (`osm_editor_bot_for_approved_tasks.py::filter_reported_errors`,
    the reference's only unit-tested pure function): keep rows whose
    error_id is in the approved list — a literal-IN filter that pushes
    to the scan. Events stand in as the error stream (event_type as
    the class id)."""
    from ..operators.reports import filter_reported_errors

    e = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("error_id"), "event_id", "user_id"
    )
    return filter_reported_errors(e, ["click", "purchase"])


SQL_FILTER_REPORTED = """
SELECT event_type AS error_id, event_id, user_id
FROM events WHERE event_type IN ('click', 'purchase')
"""


# ---------------------------------------------------------------------------
# spatial operators
# ---------------------------------------------------------------------------

def q_cell_tile_assign(spark, sf_dir):
    """DGG cell encoding + Web-Mercator XYZ raster-tile assignment in
    one verified grouping (north-star tiling): both spatial encodings
    are pure Catalyst expressions, hash-checked together per
    (cell, tile) pair."""
    pts = _pts(spark, sf_dir)
    return (
        TI.assign_tiles(
            pts.withColumn("cell", C.cell_col(F.col("lon"), F.col("lat"), CELL_RES)),
            TILE_Z,
        )
        .groupBy("cell", "tile_id")
        .agg(F.count(F.lit(1)).alias("n"), F.min("c_custkey").alias("min_key"))
    )


SQL_CELL_TILE_TMPL = """
WITH pts AS (
  SELECT c_custkey, {lon} AS lon, {lat} AS lat FROM customer
)
SELECT {cell} AS cell, {tile} AS tile_id, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(c_custkey) AS BIGINT) AS min_key
FROM pts GROUP BY 1, 2
"""


# convex quad for the PIP oracle (CCW): half-plane test is exact SQL
_QUAD = [(-100.0, -60.0), (20.0, -70.0), (60.0, 40.0), (-80.0, 60.0)]
# inside iff on or left of every CCW edge
_QUAD_INSIDE_SQL = " AND ".join(
    f"(({x1} - {x0}) * (lat - {y0}) - ({y1} - {y0}) * (lon - {x0})) >= 0"
    for (x0, y0), (x1, y1) in zip(_QUAD, _QUAD[1:] + _QUAD[:1])
)


def _quad_poly(spark):
    """The 1-row quad polygon dim as a LocalTableScan (pandas-backed —
    a list-of-tuples plans as a pickled ExistingRDD and both the
    per-leg `collect_polygons` and every cover broadcast then launch a
    Python task; measured ~0.5 s of construction per pip leg)."""
    import pandas as _pd

    ring = [(x, y) for x, y in _QUAD] + [_QUAD[0]]
    return spark.createDataFrame(
        _pd.DataFrame(
            {"region": ["oracle"], "polygon_id": ["quad-0"], "rings": [[ring]]}
        ),
        "region string, polygon_id string, rings array<array<struct<lon:double,lat:double>>>",
    )


def q_pip_convex(spark, sf_dir):
    """J5 exact point-in-polygon through the engine's cell-cover +
    ray-cast refine path, checked against a half-plane SQL oracle."""
    pts = _pts(spark, sf_dir)
    hits = SJ.point_in_polygon_join(pts, _quad_poly(spark), res=4)
    return hits.select("c_custkey", "polygon_id")


SQL_PIP = f"""
WITH pts AS (
  SELECT c_custkey, {_LON} AS lon, {_LAT} AS lat FROM customer
)
SELECT c_custkey, 'quad-0' AS polygon_id FROM pts WHERE {_QUAD_INSIDE_SQL}
"""


# ---------------------------------------------------------------------------
# MapRoulette, scheduling and report sinks
# ---------------------------------------------------------------------------

def q_challenge_sync(spark, sf_dir):
    """Challenge create/update orchestration plan
    (`maproulette_challenge_creation.py:569-668` as one declarative
    action table; operator `reports.challenge_sync_plan`). Candidates /
    existing tasks / the challenge dim are derived deterministically
    from `orders`; the result is aggregated per (action, error_id) so
    both sides hash identically across NULL-url conventions."""
    from ..operators import reports as RP

    o = _t(spark, sf_dir, "orders")
    err = F.concat(F.lit("err-"), (F.col("o_custkey") % 7).cast("string"))
    url = F.concat(F.lit("u"), F.col("o_orderkey").cast("string"))
    candidates = (
        o.filter(F.col("o_orderkey") % 4 != 0)
        .select(err.alias("error_id"), url.alias("osm_object_url"))
    )
    status = (
        F.when(F.col("o_orderkey") % 5 == 0, "created")
        .when(F.col("o_orderkey") % 5 == 1, "fixed")
        .when(F.col("o_orderkey") % 5 == 2, "false_positive")
        .when(F.col("o_orderkey") % 5 == 3, "too_hard")
        .otherwise("deleted")
    )
    mr_tasks = (
        o.filter(F.col("o_orderkey") % 3 == 0)
        .select(err.alias("error_id"), url.alias("osm_object_url"), status.alias("status"))
    )
    import pandas as _pd

    challenges = spark.createDataFrame(
        _pd.DataFrame({"error_id": [f"err-{i}" for i in range(4)]}),
        "error_id string",
    )
    plan = RP.challenge_sync_plan(candidates, challenges, mr_tasks)
    return plan.groupBy("action", "error_id").agg(F.count(F.lit(1)).alias("n"))


SQL_CHALLENGE_SYNC = """
WITH cand AS (
  SELECT DISTINCT 'err-' || CAST(o_custkey % 7 AS VARCHAR) AS error_id,
         'u' || CAST(o_orderkey AS VARCHAR) AS osm_object_url
  FROM orders WHERE o_orderkey % 4 <> 0
),
live AS (
  SELECT 'err-' || CAST(o_custkey % 7 AS VARCHAR) AS error_id,
         'u' || CAST(o_orderkey AS VARCHAR) AS osm_object_url,
         CASE o_orderkey % 5 WHEN 0 THEN 'created' WHEN 1 THEN 'fixed'
              WHEN 2 THEN 'false_positive' WHEN 3 THEN 'too_hard'
              ELSE 'deleted' END AS status
  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 5 <> 4
),
full_j AS (
  SELECT COALESCE(l.error_id, c.error_id) AS error_id,
         l.status, c.error_id IS NOT NULL AS is_cand
  FROM live l FULL JOIN cand c
    ON l.error_id = c.error_id AND l.osm_object_url = c.osm_object_url
),
actions AS (
  SELECT CASE
           WHEN NOT is_cand AND status IN ('created','false_positive','skipped','too_hard')
             THEN 'delete_task'
           WHEN is_cand AND status IS NULL THEN 'add_task'
           WHEN is_cand AND status IN ('false_positive','too_hard') THEN 'flag_manual'
         END AS action, error_id
  FROM full_j
  UNION ALL
  SELECT 'create_challenge', error_id FROM (SELECT DISTINCT error_id FROM cand)
  WHERE error_id NOT IN ('err-0','err-1','err-2','err-3')
)
SELECT action, error_id, CAST(COUNT(*) AS BIGINT) AS n
FROM actions WHERE action IS NOT NULL GROUP BY action, error_id
"""


def q_featured_rotation(spark, sf_dir):
    """MapRoulette featured-challenge rotation
    (`maproulette_challenge_creation.py:435-479`; operator
    `reports.featured_rotation`). Tasks derive from `orders` with a
    per-class downsample (`o_orderkey % 7 < o_custkey % 7`) so active
    counts grow with the class id; the floor threshold (count*3//200)
    sits between err-1+err-2 and err-1+err-3 at every SF, so the walk's
    last-slot skip-ahead branch (:461-463) is exercised, not just the
    happy path."""
    from ..operators import reports as RP

    o = _t(spark, sf_dir, "orders")
    err = F.concat(F.lit("err-"), (F.col("o_custkey") % 7).cast("string"))
    status = (
        F.when(F.col("o_orderkey") % 5 == 0, "created")
        .when(F.col("o_orderkey") % 5 == 1, "fixed")
        .when(F.col("o_orderkey") % 5 == 2, "false_positive")
        .when(F.col("o_orderkey") % 5 == 3, "too_hard")
        .otherwise("deleted")
    )
    tasks = (
        o.filter(F.col("o_orderkey") % 7 < F.col("o_custkey") % 7)
        .select(err.alias("error_id"), status.alias("status"))
    )
    min_total = o.count() * 3 // 200
    return RP.featured_rotation(
        tasks,
        featured_pool=["err-1", "err-2", "err-3", "err-4"],
        not_to_be_featured=["err-5"],
        n_featured=2,
        min_total_tasks=min_total,
    )


SQL_FEATURED_ROTATION = """
WITH tasks AS (
  SELECT 'err-' || CAST(o_custkey % 7 AS VARCHAR) AS error_id,
         CASE o_orderkey % 5 WHEN 0 THEN 'created' WHEN 1 THEN 'fixed'
              WHEN 2 THEN 'false_positive' WHEN 3 THEN 'too_hard'
              ELSE 'deleted' END AS status
  FROM orders WHERE o_orderkey % 7 < o_custkey % 7
),
counts AS (
  SELECT error_id,
         CAST(COUNT(*) FILTER (lower(status) IN ('created','skipped')) AS BIGINT)
           AS active_tasks
  FROM tasks
  WHERE error_id IN ('err-1','err-2','err-3','err-4','err-5')
  GROUP BY error_id
),
pool(error_id, ord) AS (VALUES ('err-1', 1), ('err-2', 2), ('err-3', 3), ('err-4', 4)),
thr AS (SELECT COUNT(*) * 3 // 200 AS min_total FROM orders),
f1 AS (
  SELECT p.error_id, c.active_tasks, p.ord
  FROM pool p JOIN counts c USING (error_id)
  WHERE c.active_tasks > 0 ORDER BY p.ord LIMIT 1
),
f2 AS (
  SELECT p.error_id, p.ord
  FROM pool p JOIN counts c USING (error_id), f1, thr
  WHERE p.ord > f1.ord AND c.active_tasks > 0
    AND f1.active_tasks + c.active_tasks >= thr.min_total
  ORDER BY p.ord LIMIT 1
)
SELECT c.error_id, c.active_tasks,
       c.error_id IN (SELECT error_id FROM f1 UNION SELECT error_id FROM f2)
         AS featured,
       CASE WHEN c.error_id = (SELECT error_id FROM f1) THEN 1
            WHEN c.error_id = (SELECT error_id FROM f2) THEN 2 END AS rotation_rank
FROM counts c
"""


def q_region_priority(spark, sf_dir):
    """A8/T7/P9 staleness-priority scheduling (`script.py:118-157`;
    operator `plans.scheduling.region_priority`): score =
    (now - watermark) * multiplier, hidden regions skipped,
    never-downloaded regions sort first with infinite staleness
    (`script.py:362-367`). Regions derive from `nation`; nations ≥ 20
    get no watermark to exercise the missing-data branch."""
    from . import scheduling as SCH

    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    regions = n.select(
        F.col("n_name").alias("internal_region_name"),
        (F.col("n_nationkey") % 5 == 0).alias("hidden"),
        (1 + F.col("n_nationkey") % 3).alias("priority_multiplier"),
    )
    watermarks = (
        c.filter(F.col("c_nationkey") < 20)
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("partition"),
            F.col("c_custkey").cast("long").alias("watermark_ts"),
        )
    )
    return SCH.region_priority(regions, watermarks, now_ts=100000)


SQL_REGION_PRIORITY = """
WITH w AS (
  SELECT n_name AS internal_region_name, CAST(MAX(c_custkey) AS BIGINT) AS last_ts
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  WHERE c_nationkey < 20 GROUP BY n_name
),
r AS (
  SELECT n_name AS internal_region_name, 1 + n_nationkey % 3 AS mult
  FROM nation WHERE NOT (n_nationkey % 5 = 0)
)
SELECT r.internal_region_name,
       CASE WHEN w.last_ts IS NULL THEN CAST('infinity' AS DOUBLE)
            ELSE CAST((100000 - w.last_ts) * r.mult AS DOUBLE) END AS priority_score,
       w.last_ts
FROM r LEFT JOIN w USING (internal_region_name)
"""


def q_invalidate_stale(spark, sf_dir):
    """P5/T2 staleness invalidation (`script.py:232-255`; operator
    `upsert.invalidate_stale`): any row older than the area's new
    download loses its stored report and reverts to 'unchecked'."""
    o = _t(spark, sf_dir, "orders")
    df = o.select(
        F.col("o_orderkey").alias("obj_id"),
        (F.col("o_orderkey") % 100).cast("long").alias("download_timestamp"),
        F.lit(50).cast("long").alias("new_download_timestamp"),
        F.concat(F.lit("e"), (F.col("o_custkey") % 5).cast("string")).alias("error_id"),
        F.col("o_orderpriority").alias("report"),
        F.when(F.col("o_orderkey") % 3 == 0, "checked").otherwise("done").alias("status"),
    )
    return UP.invalidate_stale(df).select(
        "obj_id", "download_timestamp", "error_id", "report", "status"
    )


SQL_INVALIDATE_STALE = """
SELECT o_orderkey AS obj_id,
       CAST(o_orderkey % 100 AS BIGINT) AS download_timestamp,
       CASE WHEN o_orderkey % 100 < 50 THEN NULL
            ELSE 'e' || CAST(o_custkey % 5 AS VARCHAR) END AS error_id,
       CASE WHEN o_orderkey % 100 < 50 THEN NULL ELSE o_orderpriority END AS report,
       CASE WHEN o_orderkey % 100 < 50 THEN 'unchecked'
            WHEN o_orderkey % 3 = 0 THEN 'checked' ELSE 'done' END AS status
FROM orders
"""


def q_overpass_sink(spark, sf_dir):
    """S10 Overpass query sink + F2 URL parse + U3 sorted collect
    (`generate_webpage_with_error_output.py:1091-1126`; operator
    `reports.overpass_query_sink`): header + one clause per object in
    deterministic url order + footer, string-agg'd per (area, class)."""
    from ..operators import reports as RP

    o = _t(spark, sf_dir, "orders")
    reports = o.filter(F.col("o_orderkey") % 11 == 0).select(
        F.concat(F.lit("area-"), (F.col("o_custkey") % 3).cast("string")).alias(
            "area_identifier"
        ),
        F.concat(F.lit("err-"), (F.col("o_custkey") % 7).cast("string")).alias(
            "error_id"
        ),
        F.concat(
            F.lit("https://www.openstreetmap.org/"),
            F.when(F.col("o_orderkey") % 2 == 0, "node").otherwise("way"),
            F.lit("/"),
            F.col("o_orderkey").cast("string"),
        ).alias("osm_object_url"),
    )
    return RP.overpass_query_sink(reports)


SQL_OVERPASS_SINK = """
WITH rep AS (
  SELECT 'area-' || CAST(o_custkey % 3 AS VARCHAR) AS area_identifier,
         'err-' || CAST(o_custkey % 7 AS VARCHAR) AS error_id,
         CASE WHEN o_orderkey % 2 = 0 THEN 'node' ELSE 'way' END
           || '(' || CAST(o_orderkey AS VARCHAR) || ');' AS clause
  FROM orders WHERE o_orderkey % 11 = 0
)
SELECT area_identifier, error_id,
       '[out:xml][timeout:1000];' || chr(10) || '(' || chr(10)
         || string_agg(clause, chr(10) ORDER BY clause)
         || chr(10) || ');' || chr(10) || 'out meta;' AS overpass_query,
       CAST(COUNT(*) AS INT) AS n_objects
FROM rep GROUP BY area_identifier, error_id
"""


def q_merge_upsert(spark, sf_dir):
    """J2 MERGE through the operator itself: 'base' = orders before
    1997, 'delta' = orders from 1996 on (overlapping year exercises the
    newer-wins branch); result = newest row per customer."""
    o = _t(spark, sf_dir, "orders").withColumn(
        "_ts", F.unix_timestamp(F.col("o_orderdate").cast("timestamp")) + F.col("o_orderkey") % 86400
    )
    base = o.filter(F.col("o_orderdate") < "1997-01-01")
    delta = o.filter(F.col("o_orderdate") >= "1996-01-01")
    merged = UP.merge_upsert(base, delta, key_cols=["o_custkey"], ts_col="_ts")
    return merged.select(
        "o_custkey", "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
    )


SQL_MERGE_UPSERT = """
WITH u AS (
  SELECT *, EPOCH(o_orderdate) + o_orderkey % 86400 AS _ts
  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  UNION ALL
  SELECT *, EPOCH(o_orderdate) + o_orderkey % 86400 AS _ts
  FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
)
SELECT o_custkey, o_orderkey, STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY _ts DESC) AS rn
  FROM u
) WHERE rn = 1
"""


def q_cell_parent_rollup(spark, sf_dir):
    """Hierarchical cell rollup: encode at res 7, coarsen to res 4 via
    bit math (parent_cell_col), count per parent — the partition-
    pruning prefix the Iceberg layout keys on (SURVEY §4)."""
    pts = _pts(spark, sf_dir)
    fine = pts.withColumn("cell", C.cell_col(F.col("lon"), F.col("lat"), CELL_RES))
    return (
        fine.withColumn("parent", C.parent_cell_col(F.col("cell"), CELL_RES, 4))
        .groupBy("parent")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_CELL_PARENT_TMPL = """
WITH pts AS (
  SELECT c_custkey, {lon} AS lon, {lat} AS lat FROM customer
)
SELECT {parent_cell} AS parent, CAST(COUNT(*) AS BIGINT) AS n
FROM pts GROUP BY 1
"""


# --- engine-native spatial/image pipeline (the synthetic-world queries
#     are golden-pinned, see GOLDEN_PINNED above; the rest derive their
#     inputs from the testdata tables and have SQL twins) ---

def q_spatial_error_reports(spark, sf_dir):
    """The flagship validator pipeline's report rows (V1+J1+J5+P*).

    The report struct (contains map columns) is projected through
    `to_json` so the fixture can hold it and the freshness test can
    sort/hash the rows — map/dict cells are unhashable in pandas."""
    from . import pipeline as P

    inputs = P.build_inputs(spark, 500)
    validated = P.validated_elements(inputs)
    reports = P.error_reports(validated, inputs["regions"])
    return reports.select(
        "area_identifier",
        "type",
        "id",
        "error_id",
        "osm_object_url",
        F.to_json("report").alias("report_json"),
    )


def q_tile_vector_assignment(spark, sf_dir):
    """Raster-tile↔vector assignment rollup over the image table."""
    from ..datagen import world as W

    images = W.spark_images_located(spark, 2000)
    hits = SJ.point_in_polygon_join(TI.assign_tiles(images, 8), W.spark_polygons(spark))
    return hits.groupBy("tile_id", "region").agg(
        F.count(F.lit(1)).alias("n_images")
    )


def q_region_parts(spark, sf_dir):
    """Data-driven region splitting (reference: hand-picked admin
    subdivisions, `produce_internal_divisions_for_regions_processed.py`)
    — per-(region, coarse-cell) histogram + running-sum part assignment,
    fully window-algebra so the SQL oracle re-derives it exactly."""
    from ..operators import region_split as RS

    cust = _t(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_nationkey").cast("string").alias("area_identifier"), *_lon_lat()
    )
    return RS.region_part_map(pts, budget=40, res=4)


def _sql_region_parts() -> str:
    return f"""
WITH pts AS (
  SELECT CAST(c_nationkey AS VARCHAR) AS area_identifier,
         {_LON} AS lon, {_LAT} AS lat
  FROM customer
),
hist AS (
  SELECT area_identifier, {C.cell_sql("lon", "lat", 4)} AS cell, COUNT(*) AS cnt
  FROM pts GROUP BY 1, 2
)
SELECT area_identifier, cell, cnt,
       CAST(FLOOR((SUM(cnt) OVER (PARTITION BY area_identifier ORDER BY cell)
                   - cnt) / 40.0) AS INT) AS part
FROM hist
"""


def q_all_points_inside(spark, sf_dir):
    """J6 universal-quantifier containment through the engine operator
    (explode → cell-cover PIP join → bool_and), oracle-checked against
    a half-plane SQL over the same key-derived points: customers are
    grouped into ~500 multi-point 'way' objects; an object passes iff
    EVERY member point is inside the convex quad. (The synthetic-world
    variant — concave polygons, holes — is pinned by the pytest
    brute-force oracles in tests/test_spatial.py.)"""
    pts = _pts(spark, sf_dir)
    objects = (
        pts.withColumn("id", (F.col("c_custkey").cast("long") % 500))
        .groupBy("id")
        .agg(
            F.collect_list(
                F.struct(F.col("lon").alias("lon"), F.col("lat").alias("lat"))
            ).alias("member_points")
        )
        .select(
            F.lit("way").alias("type"),
            "id",
            F.lit("oracle").alias("area_identifier"),
            "member_points",
        )
    )
    return SJ.all_points_inside(objects, _quad_poly(spark), res=4)


SQL_ALL_POINTS_INSIDE = f"""
WITH pts AS (
  SELECT CAST(c_custkey AS BIGINT) % 500 AS id, {_LON} AS lon, {_LAT} AS lat FROM customer
)
SELECT 'way' AS type, id, BOOL_AND({_QUAD_INSIDE_SQL}) AS all_inside,
       COUNT(*) AS n_points
FROM pts GROUP BY id
"""


def q_image_invariants(spark, sf_dir):
    """Per-row content invariant: decode round-trip PSNR (≥40dB lossy),
    stored-phash match, byte-exact caption equality vs the seeded
    generator's recomputed caption (BASELINE.json input_hint)."""
    from ..datagen import world as W
    from ..operators import images_ops as IO

    return IO.verify_invariants(
        W.spark_images(spark, 300), caption_fn=W.expected_captions
    ).select(*GOLDEN_PINNED["image_invariants"])


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "latest_order_per_customer": q_latest_order_per_customer,
        "merge_upsert": q_merge_upsert,
        "filter_reported_errors": q_filter_reported_errors,
        "challenge_sync": q_challenge_sync,
        "featured_rotation": q_featured_rotation,
        "region_priority": q_region_priority,
        "invalidate_stale": q_invalidate_stale,
        "overpass_sink": q_overpass_sink,
        "cell_tile_assign": q_cell_tile_assign,
        "pip_convex": q_pip_convex,
        "image_invariants": q_image_invariants,
        "cell_parent_rollup": q_cell_parent_rollup,
        "region_parts": q_region_parts,
        "spatial_error_reports": q_spatial_error_reports,
        "tile_vector_assignment": q_tile_vector_assignment,
        "all_points_inside": q_all_points_inside,
    }


def oracle_sql() -> dict[str, str]:
    """SQL twins of every query not in GOLDEN_PINNED."""
    return {
        "latest_order_per_customer": SQL_LATEST_ORDER,
        "merge_upsert": SQL_MERGE_UPSERT,
        "filter_reported_errors": SQL_FILTER_REPORTED,
        "challenge_sync": SQL_CHALLENGE_SYNC,
        "featured_rotation": SQL_FEATURED_ROTATION,
        "region_priority": SQL_REGION_PRIORITY,
        "invalidate_stale": SQL_INVALIDATE_STALE,
        "overpass_sink": SQL_OVERPASS_SINK,
        "cell_tile_assign": SQL_CELL_TILE_TMPL.format(
            lon=_LON,
            lat=_LAT,
            cell=C.cell_sql("lon", "lat", CELL_RES),
            tile=TI.tile_id_sql("lon", "lat", TILE_Z),
        ),
        # parent at res 4 == direct encode at res 4 (power-of-two scaling
        # is exact in IEEE doubles, so the coarsened bit math agrees)
        "cell_parent_rollup": SQL_CELL_PARENT_TMPL.format(
            lon=_LON, lat=_LAT, parent_cell=C.cell_sql("lon", "lat", 4)
        ),
        "pip_convex": SQL_PIP,
        "all_points_inside": SQL_ALL_POINTS_INSIDE,
        "region_parts": _sql_region_parts(),
    }
