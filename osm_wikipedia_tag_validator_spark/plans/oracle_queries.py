"""The correctness-gate query surface.

One entry per implemented operator family from SURVEY.md §2, each as a
(spark, sf_dir) → DataFrame callable plus an ANSI-SQL oracle DuckDB runs
on the same parquet views (or, where SQL cannot re-derive the result,
reads from a golden fixture — see GOLDEN_PINNED). Column names are
aliased identically on both sides; floats are rounded to 6 decimals;
counts cast to bigint.

Spatial queries derive deterministic lon/lat from table keys (odd/200
degrees — provably never on a dyadic cell boundary) so the cell/tile
encodings are exactly reproducible in portable SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import cells as C
from ..operators import knn as KNN
from ..operators import spatial_join as SJ
from ..operators import tiles as TI
from ..operators import upsert as UP

# ---------------------------------------------------------------------------
# golden-pinned oracles
# ---------------------------------------------------------------------------
#
# Deterministic queries whose semantics SQL cannot re-derive (the
# synthetic-world pipelines) are pinned to committed golden parquet
# fixtures that DuckDB reads with read_parquet(). The fixtures are
# generated by tests/fixtures/regen_oracle_golden.py from the VERIFIED
# operator output (each op's exactness is proven separately in pytest
# against brute-force oracles); the pin turns those proofs into a
# driver-checkable regression oracle. Every pinned query builds its own
# world and ignores sf_dir, so one fixture serves every SF.

import pathlib as _pathlib

_GOLDEN_DIR = str(
    _pathlib.Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "oracle_golden"
)

# pinned query → result columns
GOLDEN_PINNED: dict[str, list[str]] = {
    "spatial_error_reports": [
        "area_identifier", "type", "id", "error_id", "osm_object_url", "report_json"
    ],
    "tile_vector_assignment": ["tile_id", "region", "n_images"],
    "image_invariants": ["image_id", "fmt", "psnr", "phash_match", "caption_ok"],
}


def _sql_golden(name: str) -> str:
    sel = ", ".join(GOLDEN_PINNED[name])
    return f"SELECT {sel} FROM read_parquet('{_GOLDEN_DIR}/{name}.parquet')"


# ---------------------------------------------------------------------------
# shared derivations
# ---------------------------------------------------------------------------

_LON = "((c_custkey * 7919) % 36000) / 100.0 - 180.0 + 0.005"
_LAT = "((c_custkey * 104729) % 17000) / 100.0 - 85.0 + 0.005"
_S_LON = "((s_suppkey * 7919) % 36000) / 100.0 - 180.0 + 0.005"
_S_LAT = "((s_suppkey * 104729) % 17000) / 100.0 - 85.0 + 0.005"

CELL_RES = 7
TILE_Z = 6


def _pts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return cust.select(
        "c_custkey",
        (((F.col("c_custkey") * 7919) % 36000) / 100.0 - 180.0 + 0.005).alias("lon"),
        (((F.col("c_custkey") * 104729) % 17000) / 100.0 - 85.0 + 0.005).alias("lat"),
    )


def _supplier_pts(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    return sup.select(
        "s_suppkey",
        (((F.col("s_suppkey") * 7919) % 36000) / 100.0 - 180.0 + 0.005).alias("lon"),
        (((F.col("s_suppkey") * 104729) % 17000) / 100.0 - 85.0 + 0.005).alias("lat"),
    )


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# relational operators (SURVEY §2.2/2.3/2.4/2.5/2.6/2.7)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """A1/A2-style hash aggregation with map-side partials (free in Spark)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


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


def q_top_stalest(spark, sf_dir):
    """W2/O1: global top-K by staleness (`script.py:73-76` LIMIT 10) —
    TakeOrderedAndProject, no full sort."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
    )


SQL_TOP_STALEST = """
SELECT o_orderkey, STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate
FROM orders ORDER BY o_orderdate ASC, o_orderkey ASC LIMIT 10
"""


def q_argmax_acctbal(spark, sf_dir):
    """A4/O4 argmax per group (`database.py:52-59` ORDER BY DESC LIMIT 1)."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_nationkey", "c_custkey", F.round("c_acctbal", 2).alias("acctbal"))
    )


SQL_ARGMAX = """
SELECT c_nationkey, c_custkey, ROUND(c_acctbal, 2) AS acctbal
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
  FROM customer
) WHERE rn = 1
"""


def q_broadcast_join_revenue(spark, sf_dir):
    """J1 equi-join with explicit broadcast of the small dim."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_BROADCAST_JOIN = """
SELECT p_brand, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def q_anti_join_customers(spark, sf_dir):
    """J7 anti-join (MapRoulette two-way sync,
    `maproulette_challenge_creation.py:642-681`)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


SQL_ANTI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_universal_quantifier(spark, sf_dir):
    """J6 all-members-pass semi-join (`osm_editor_bot…py:188-196`):
    orders where EVERY lineitem has discount < 0.05 → bool_and via min."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.min((F.col("l_discount") < 0.05).cast("int")).alias("_all"))
        .filter(F.col("_all") == 1)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )


SQL_UNIVERSAL = """
SELECT l_orderkey AS o_orderkey FROM lineitem
GROUP BY l_orderkey HAVING MIN(CASE WHEN l_discount < 0.05 THEN 1 ELSE 0 END) = 1
"""


def q_rollup_merged(spark, sf_dir):
    """J8/A1 two-level rollup (region ⊃ nation), mirroring merged-region
    report rollups (`generate_webpage_with_error_output.py:1180-1258`)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    base = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    per_nation = base.groupBy(F.col("n_name").alias("group_name")).agg(
        F.count(F.lit(1)).alias("n_customers")
    ).withColumn("level", F.lit("nation"))
    per_region = base.groupBy(F.col("r_name").alias("group_name")).agg(
        F.count(F.lit(1)).alias("n_customers")
    ).withColumn("level", F.lit("region"))
    return per_nation.unionByName(per_region)


SQL_ROLLUP = """
WITH base AS (
  SELECT n_name, r_name FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
)
SELECT n_name AS group_name, CAST(COUNT(*) AS BIGINT) AS n_customers, 'nation' AS level
FROM base GROUP BY n_name
UNION ALL
SELECT r_name AS group_name, CAST(COUNT(*) AS BIGINT) AS n_customers, 'region' AS level
FROM base GROUP BY r_name
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


def q_error_routing(spark, sf_dir):
    """U4 category routing via CASE dim (obvious/review/tests/ignored,
    `generate_webpage_with_error_output.py:277-1081`)."""
    e = _t(spark, sf_dir, "events")
    cat = (
        F.when(F.col("event_type").isin("click", "view"), "obvious")
        .when(F.col("event_type").isin("purchase"), "review")
        .otherwise("ignored")
    )
    return (
        e.withColumn("category", cat)
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
    )


SQL_ROUTING = """
SELECT CASE WHEN event_type IN ('click','view') THEN 'obvious'
            WHEN event_type IN ('purchase') THEN 'review'
            ELSE 'ignored' END AS category,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 4) AS total_value
FROM events GROUP BY 1
"""


def q_json_tag_filter(spark, sf_dir):
    """P1/F7: dynamic JSON payload → typed access at the boundary
    (`load_osm_file.py:41` json tags)."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.withColumn("k", k)
        .filter(F.col("k") < 50)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sum_k"))
    )


SQL_JSON = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) < 50
GROUP BY event_type
"""


def q_topk_per_group(spark, sf_dir):
    """W3 top-K re-rank per key (kNN re-rank shape)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"), "rank")
    )


SQL_TOPK = """
SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS totalprice, CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
) WHERE rank <= 3
"""


def q_sessionize(spark, sf_dir):
    """T-family streaming shape done relationally: gap-based
    sessionization (30-min gap) via lag + running sum — the batch
    equivalent of session windows."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # timestampdiff is timezone-free on NTZ values (unix_timestamp is not).
    # MICROSECOND, not SECOND: the DuckDB oracle's EPOCH() keeps sub-second
    # precision, and a 1800.886s gap must open a new session on both sides
    # (SECOND truncation called it 1800 and merged the sessions).
    gap = F.expr("timestampdiff(MICROSECOND, lag(ts) over (partition by user_id order by ts, event_id), ts)")
    new_s = ((gap > 1_800_000_000) | gap.isNull()).cast("int")
    sess = F.sum(new_s).over(
        Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        e.withColumn("session_id", sess)
        .groupBy("user_id")
        .agg(F.max("session_id").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


SQL_SESSIONIZE = """
SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM (
  SELECT user_id,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM (
    SELECT user_id, ts, event_id,
           CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
                WHEN EPOCH(ts) - EPOCH(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800 THEN 1
                ELSE 0 END AS new_s
    FROM events
  )
) GROUP BY user_id
"""


def q_event_windows(spark, sf_dir):
    """Tumbling event-time window aggregation (Structured-Streaming
    shape, run in batch)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            # string render of the NTZ value — independent of the
            # session timezone (unix_timestamp on NTZ is not)
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n",
        )
    )


SQL_WINDOWS = """
SELECT CAST(DATE_TRUNC('hour', ts) AS VARCHAR) AS window_start,
       event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# spatial operators
# ---------------------------------------------------------------------------

def q_cell_tile_assign(spark, sf_dir):
    """DGG cell encoding + Web-Mercator XYZ raster-tile assignment in
    one verified grouping (north-star tiling): both spatial encodings
    are pure Catalyst expressions, hash-checked together per
    (cell, tile) pair. Consolidates the former cell_encode +
    tile_assign oracles so the full operator surface fits the driver
    gate's 50-query window."""
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


def q_bbox_join(spark, sf_dir):
    """J4 point-in-bbox spatial join (range predicates; bboxes mirror
    `osm_editor_bot_for_approved_tasks.py:241-253`)."""
    import pandas as _pd

    pts = _pts(spark, sf_dir)
    # pandas frame + schema → LocalTableScan (a bare list-of-tuples
    # plans as a pickled ExistingRDD whose every broadcast build runs
    # a Python task — measured ~0.5 s of per-leg construction cost)
    boxes = spark.createDataFrame(
        _pd.DataFrame(
            [
                ("box-a", -180.0, -85.0, -60.0, 0.0),
                ("box-b", -60.0, 0.0, 60.0, 85.0),
                ("box-c", 60.0, -85.0, 180.0, 85.0),
            ],
            columns=["box_id", "x0", "y0", "x1", "y1"],
        ),
        "box_id string, x0 double, y0 double, x1 double, y1 double",
    )
    return (
        pts.join(
            F.broadcast(boxes),
            (F.col("lon") >= F.col("x0"))
            & (F.col("lon") <= F.col("x1"))
            & (F.col("lat") >= F.col("y0"))
            & (F.col("lat") <= F.col("y1")),
        )
        .groupBy("box_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_BBOX_TMPL = """
WITH pts AS (
  SELECT c_custkey, {lon} AS lon, {lat} AS lat FROM customer
), boxes(box_id, x0, y0, x1, y1) AS (
  VALUES ('box-a', -180.0, -85.0, -60.0, 0.0),
         ('box-b', -60.0, 0.0, 60.0, 85.0),
         ('box-c', 60.0, -85.0, 180.0, 85.0)
)
SELECT box_id, CAST(COUNT(*) AS BIGINT) AS n
FROM pts JOIN boxes
  ON lon >= x0 AND lon <= x1 AND lat >= y0 AND lat <= y1
GROUP BY box_id
"""

# convex quad for the PIP oracle (CCW): half-plane test is exact SQL
_QUAD = [(-100.0, -60.0), (20.0, -70.0), (60.0, 40.0), (-80.0, 60.0)]


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


def _sql_pip() -> str:
    conds = []
    n = len(_QUAD)
    for i in range(n):
        x0, y0 = _QUAD[i]
        x1, y1 = _QUAD[(i + 1) % n]
        conds.append(
            f"(({x1} - {x0}) * (lat - {y0}) - ({y1} - {y0}) * (lon - {x0})) >= 0"
        )
    cond = " AND ".join(conds)
    return f"""
WITH pts AS (
  SELECT c_custkey, {_LON} AS lon, {_LAT} AS lat FROM customer
)
SELECT c_custkey, 'quad-0' AS polygon_id FROM pts WHERE {cond}
"""


def q_knn(spark, sf_dir):
    """J9 kNN, brute-force physical strategy (broadcast + re-rank)."""
    return KNN.knn_bruteforce(
        _pts(spark, sf_dir), _supplier_pts(spark, sf_dir), k=3,
        q_key="c_custkey", e_key="s_suppkey",
    ).select("c_custkey", "s_suppkey", F.round("dist_km", 4).alias("dist_km"), "rank")


def q_knn_kring(spark, sf_dir):
    """J9 kNN through the ADAPTIVE planner: the 1k-entity side is under
    the broadcast threshold, so the cost rule delegates to the map-side
    brute-force path (the right plan in this regime — BENCH.md records
    the crossover). Must equal brute force either way."""
    return KNN.knn_kring(
        _pts(spark, sf_dir), _supplier_pts(spark, sf_dir), k=3,
        initial_ring=1, max_ring=64,
        q_key="c_custkey", e_key="s_suppkey",
    ).select("c_custkey", "s_suppkey", F.round("dist_km", 4).alias("dist_km"), "rank")


def q_knn_kring_index(spark, sf_dir):
    """J9 kNN through the GENUINE k-ring index machinery (escalation
    loop, ring lower bounds): max_inline_entities=0 disables the cost
    rule, and the dense customer side is the entity set so the
    sparse-grid delegation doesn't fire either. Oracle = the same
    cross-join SQL with sides swapped — the index must be EXACT."""
    return KNN.knn_kring(
        _supplier_pts(spark, sf_dir), _pts(spark, sf_dir), k=3,
        initial_ring=1, max_ring=64,
        q_key="s_suppkey", e_key="c_custkey",
        max_inline_entities=0,
    ).select("s_suppkey", "c_custkey", F.round("dist_km", 4).alias("dist_km"), "rank")


SQL_KNN = f"""
WITH q AS (
  SELECT c_custkey, {_LON} AS lon, {_LAT} AS lat FROM customer
), e AS (
  SELECT s_suppkey, {_S_LON} AS lon, {_S_LAT} AS lat FROM supplier
), d AS (
  SELECT q.c_custkey, e.s_suppkey,
         2 * 6371.0088 * ASIN(SQRT(LEAST(
            POW(SIN((RADIANS(e.lat) - RADIANS(q.lat)) / 2), 2)
            + COS(RADIANS(q.lat)) * COS(RADIANS(e.lat))
              * POW(SIN((RADIANS(e.lon) - RADIANS(q.lon)) / 2), 2), 1.0))) AS dist_km
  FROM q CROSS JOIN e
)
SELECT c_custkey, s_suppkey, ROUND(dist_km, 4) AS dist_km, CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY dist_km ASC, s_suppkey ASC) AS rank
  FROM d
) WHERE rank <= 3
"""

# sides swapped: suppliers query the dense customer entity set
SQL_KNN_SWAPPED = f"""
WITH q AS (
  SELECT s_suppkey, {_S_LON} AS lon, {_S_LAT} AS lat FROM supplier
), e AS (
  SELECT c_custkey, {_LON} AS lon, {_LAT} AS lat FROM customer
), d AS (
  SELECT q.s_suppkey, e.c_custkey,
         2 * 6371.0088 * ASIN(SQRT(LEAST(
            POW(SIN((RADIANS(e.lat) - RADIANS(q.lat)) / 2), 2)
            + COS(RADIANS(q.lat)) * COS(RADIANS(e.lat))
              * POW(SIN((RADIANS(e.lon) - RADIANS(q.lon)) / 2), 2), 1.0))) AS dist_km
  FROM q CROSS JOIN e
)
SELECT s_suppkey, c_custkey, ROUND(dist_km, 4) AS dist_km, CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY s_suppkey ORDER BY dist_km ASC, c_custkey ASC) AS rank
  FROM d
) WHERE rank <= 3
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


def q_rollup_hierarchy(spark, sf_dir):
    """SQL ROLLUP (grouping sets) — free from Spark SQL per SURVEY §2.4
    note; the merged-region two-level rollup's general form."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


SQL_ROLLUP_HIER = """
SELECT o_orderpriority, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
"""


def q_wiki_link_parse(spark, sf_dir):
    """F1 scalar: 'lang:Article' split (`generate_webpage_with_error_
    output.py:196-200`) over synthetic link strings."""
    p = _t(spark, sf_dir, "part")
    link = F.concat(
        F.when(F.col("p_partkey") % 3 == 0, F.lit("de")).otherwise(F.lit("en")),
        F.lit(":"),
        F.col("p_name"),
    )
    df = p.select("p_partkey", link.alias("link"))
    return df.select(
        "p_partkey",
        F.get(F.split("link", ":", 2), 0).alias("lang"),
        F.get(F.split("link", ":", 2), 1).alias("article"),
    )


SQL_WIKI_PARSE = """
WITH links AS (
  SELECT p_partkey,
         (CASE WHEN p_partkey % 3 = 0 THEN 'de' ELSE 'en' END) || ':' || p_name AS link
  FROM part
)
SELECT p_partkey, STR_SPLIT(link, ':')[1] AS lang, STR_SPLIT(link, ':')[2] AS article
FROM links
"""


# --- engine-native spatial/image pipeline (the synthetic-world queries
#     are golden-pinned, see GOLDEN_PINNED above; the rest derive their
#     inputs from the testdata tables and have SQL twins) ---

def q_spatial_error_reports(spark, sf_dir):
    """The flagship validator pipeline's report rows (V1+J1+J5+P*).

    The report struct (contains map columns) is projected through
    `to_json` so the driver's pandas canonicalizer can sort/hash the
    rows — map/dict cells are unhashable in pandas."""
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
    from ..operators import tiles as TI

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
        F.col("c_nationkey").cast("string").alias("area_identifier"),
        (((F.col("c_custkey") * 7919) % 36000) / 100.0 - 180.0 + 0.005).alias("lon"),
        (((F.col("c_custkey") * 104729) % 17000) / 100.0 - 85.0 + 0.005).alias("lat"),
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


def _sql_all_points_inside() -> str:
    conds = []
    n = len(_QUAD)
    for i in range(n):
        x0, y0 = _QUAD[i]
        x1, y1 = _QUAD[(i + 1) % n]
        conds.append(
            f"(({x1} - {x0}) * (lat - {y0}) - ({y1} - {y0}) * (lon - {x0})) >= 0"
        )
    cond = " AND ".join(conds)
    return f"""
WITH pts AS (
  SELECT CAST(c_custkey AS BIGINT) % 500 AS id, {_LON} AS lon, {_LAT} AS lat FROM customer
)
SELECT 'way' AS type, id, BOOL_AND({cond}) AS all_inside,
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
        "pricing_summary": q_pricing_summary,
        "latest_order_per_customer": q_latest_order_per_customer,
        "merge_upsert": q_merge_upsert,
        "top_stalest": q_top_stalest,
        "argmax_acctbal": q_argmax_acctbal,
        "broadcast_join_revenue": q_broadcast_join_revenue,
        "anti_join_customers": q_anti_join_customers,
        "universal_quantifier": q_universal_quantifier,
        "rollup_merged": q_rollup_merged,
        "error_routing": q_error_routing,
        "filter_reported_errors": q_filter_reported_errors,
        "challenge_sync": q_challenge_sync,
        "featured_rotation": q_featured_rotation,
        "region_priority": q_region_priority,
        "invalidate_stale": q_invalidate_stale,
        "overpass_sink": q_overpass_sink,
        "json_tag_filter": q_json_tag_filter,
        "topk_per_group": q_topk_per_group,
        "sessionize": q_sessionize,
        "event_windows": q_event_windows,
        "cell_tile_assign": q_cell_tile_assign,
        "bbox_join": q_bbox_join,
        "pip_convex": q_pip_convex,
        "knn": q_knn,
        "knn_kring": q_knn_kring,
        "knn_kring_index": q_knn_kring_index,
        "image_invariants": q_image_invariants,
        "cell_parent_rollup": q_cell_parent_rollup,
        "rollup_hierarchy": q_rollup_hierarchy,
        "wiki_link_parse": q_wiki_link_parse,
        "region_parts": q_region_parts,
        "spatial_error_reports": q_spatial_error_reports,
        "tile_vector_assignment": q_tile_vector_assignment,
        "all_points_inside": q_all_points_inside,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "pricing_summary": SQL_PRICING,
        "latest_order_per_customer": SQL_LATEST_ORDER,
        "merge_upsert": SQL_MERGE_UPSERT,
        "top_stalest": SQL_TOP_STALEST,
        "argmax_acctbal": SQL_ARGMAX,
        "broadcast_join_revenue": SQL_BROADCAST_JOIN,
        "anti_join_customers": SQL_ANTI_JOIN,
        "universal_quantifier": SQL_UNIVERSAL,
        "rollup_merged": SQL_ROLLUP,
        "error_routing": SQL_ROUTING,
        "filter_reported_errors": SQL_FILTER_REPORTED,
        "challenge_sync": SQL_CHALLENGE_SYNC,
        "featured_rotation": SQL_FEATURED_ROTATION,
        "region_priority": SQL_REGION_PRIORITY,
        "invalidate_stale": SQL_INVALIDATE_STALE,
        "overpass_sink": SQL_OVERPASS_SINK,
        "json_tag_filter": SQL_JSON,
        "topk_per_group": SQL_TOPK,
        "sessionize": SQL_SESSIONIZE,
        "event_windows": SQL_WINDOWS,
        "cell_tile_assign": SQL_CELL_TILE_TMPL.format(
            lon=_LON,
            lat=_LAT,
            cell=C.cell_sql("lon", "lat", CELL_RES),
            tile=TI.tile_id_sql("lon", "lat", TILE_Z),
        ),
        "bbox_join": SQL_BBOX_TMPL.format(lon=_LON, lat=_LAT),
        # parent at res 4 == direct encode at res 4 (power-of-two scaling
        # is exact in IEEE doubles, so the coarsened bit math agrees)
        "cell_parent_rollup": SQL_CELL_PARENT_TMPL.format(
            lon=_LON, lat=_LAT, parent_cell=C.cell_sql("lon", "lat", 4)
        ),
        "rollup_hierarchy": SQL_ROLLUP_HIER,
        "wiki_link_parse": SQL_WIKI_PARSE,
        "pip_convex": _sql_pip(),
        "all_points_inside": _sql_all_points_inside(),
        "region_parts": _sql_region_parts(),
        "knn": SQL_KNN,
        "knn_kring": SQL_KNN,
        "knn_kring_index": SQL_KNN_SWAPPED,
        # golden-pinned (synthetic-world pipelines; see GOLDEN_PINNED above)
        **{name: _sql_golden(name) for name in GOLDEN_PINNED},
    }
