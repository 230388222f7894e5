"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)      — flagship query over /root/testdata/sf0.001: the
                    spatial cell+tile pipeline over key-derived points,
                    joined to order revenue, rolled up per tile.
queries()         — one entry per implemented operator from SURVEY.md §2
                    (see osm_wikipedia_tag_validator_spark/plans/oracle_queries.py).
oracle_sql()      — one DuckDB-runnable oracle per query: an ANSI SQL
                    twin, or where SQL cannot re-derive the result (the
                    synthetic-world queries) a read of its golden
                    fixture (GOLDEN_PINNED).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from osm_wikipedia_tag_validator_spark.functions import cells as _cells
from osm_wikipedia_tag_validator_spark.operators import tiles as _tiles
from osm_wikipedia_tag_validator_spark.plans import oracle_queries as _oq

_SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-tile revenue rollup with DGG cell + XYZ tile
    assignment of customers (key-derived deterministic coordinates),
    broadcast dim join, two-level aggregation."""
    cust = _oq._pts(spark, _SF0001)
    orders = spark.read.parquet(f"{_SF0001}/orders.parquet")
    tiled = _tiles.assign_tiles(
        cust.withColumn("cell", _cells.cell_col(F.col("lon"), F.col("lat"), _oq.CELL_RES)),
        _oq.TILE_Z,
    )
    rev = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("revenue"))
    return (
        tiled.join(rev, tiled.c_custkey == rev.o_custkey, "left")
        .groupBy("tile_id")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum(F.coalesce("revenue", F.lit(0.0))), 2).alias("revenue"),
            F.countDistinct("cell").alias("n_cells"),
        )
        .orderBy("tile_id")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _oq.queries()


def oracle_sql() -> dict[str, str]:
    return _oq.oracle_sql()
