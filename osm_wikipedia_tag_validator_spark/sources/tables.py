"""Snapshot-versioned, partitioned table writes with an atomic commit.

The engine's tables are partitioned parquet plus a JSON manifest. Every
write lands in its own `data/<snapshot_id>/` dir; the manifest flip
(`os.replace`) is the commit point, the step the reference does with a
temp file and a rename (`obtain_from_overpass.py:45-51`). Readers see
the old or the new snapshot, never a partial write. Old snapshots stay
readable through `snapshots.jsonl` (time travel), and `read_incremental`
answers "what changed since snapshot X" with a key+ts anti-join. Every
manifest (and its `snapshots.jsonl` entry) carries the snapshot's
`schema`, the schema parquet inference would return, so a read plans
with `spark.read.schema(...)` and launches no inference job; an entry
written before the field existed falls back to inference.

The layout is an Iceberg table's, reduced to files (SURVEY.md §4). A
port to an Iceberg catalog maps:

    manifest                      Iceberg
    ----------------------------  ---------------------------------
    snapshot id                   `<table>.snapshots.snapshot_id`
    `parent_snapshot_id`          `snapshots.parent_id`
    `data/<snapshot_id>/`         the snapshot's append files
    `read_table(.., snapshot_id)` `option("snapshot-id", ...)`
    `read_incremental`            `option("start-snapshot-id", ...)`
    `with_cell_partition`         a `truncate` partition transform
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    snapshot_meta: dict | None = None,
) -> dict:
    """Snapshot-versioned table write; returns the commit manifest
    {snapshot_id, committed_at, partition_by, meta[, schema]
    [, parent_snapshot_id]}.

    The data goes to a new `data/<snapshot_id>/` dir, then the manifest
    flip commits it (module docstring). `schema` (StructType JSON) is
    what parquet inference over the data dir would return — the written
    schema with every field nullable, nested fields included, partition
    columns last — so `read_table` skips the inference job.
    """
    snapshot_id = uuid.uuid4().hex
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(os.path.join(path, "data", snapshot_id))
    manifest = {
        "snapshot_id": snapshot_id,
        "committed_at": int(time.time()),
        "partition_by": partition_by or [],
        "meta": snapshot_meta or {},
        "schema": _read_schema(df.schema, partition_by or []).jsonValue(),
    }
    prev = read_manifest(path)
    if prev:
        manifest["parent_snapshot_id"] = prev.get("snapshot_id")
    tmp = os.path.join(path, f"_manifest.{snapshot_id}.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(path, "manifest.json"))  # atomic commit
    # append to the snapshot log for time travel / incremental scans
    with open(os.path.join(path, "snapshots.jsonl"), "a") as f:
        f.write(json.dumps(manifest) + "\n")
    return manifest


def _nullable(dt: DataType) -> DataType:
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _read_schema(written: StructType, partition_by: list[str]) -> StructType:
    """The schema parquet inference returns for a dir written with
    `written`: Spark writes file sources as nullable at every level, and
    partition discovery appends the partition columns after the data
    columns."""
    fields = {f.name: f for f in _nullable(written).fields}
    return StructType(
        [f for name, f in fields.items() if name not in partition_by]
        + [fields[c] for c in partition_by]
    )


def read_manifest(path: str) -> dict | None:
    p = os.path.join(path, "manifest.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def snapshots(path: str) -> list[dict]:
    p = os.path.join(path, "snapshots.jsonl")
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return [json.loads(line) for line in f if line.strip()]


def read_table(spark: SparkSession, path: str, snapshot_id: str | None = None) -> DataFrame:
    """Read the current snapshot, or any retained one (time travel).
    With the snapshot's recorded `schema`, no Spark job runs until the
    DataFrame is used; without it, inference. An id that neither the
    manifest nor the snapshot log knows raises `FileNotFoundError`."""
    entry = read_manifest(path) or {}
    if snapshot_id is not None and entry.get("snapshot_id") != snapshot_id:
        entry = next(
            (e for e in snapshots(path) if e["snapshot_id"] == snapshot_id), None
        )
        if entry is None:
            raise FileNotFoundError(f"no snapshot {snapshot_id!r} at {path}")
    sid = entry.get("snapshot_id")
    if sid is None:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    reader = spark.read
    if "schema" in entry:
        reader = reader.schema(StructType.fromJson(entry["schema"]))
    return reader.parquet(os.path.join(path, "data", sid))


def with_cell_partition(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int = 7,
    parent_res: int = 2,
    col: str = "cell_p",
) -> DataFrame:
    """Hidden partitioning: derive the partition value — the COARSE
    parent of the fine grid cell — from the row itself, the way an
    Iceberg partition transform (`truncate(cell, …)`) would (see the
    mapping table in the module docstring).
    Write with `write_table(..., partition_by=[col])`; a reader filter
    on `col` then prunes whole partition directories at planning time
    (FileSourceStrategy PartitionFilters — evidence in
    tests/test_tables.py::test_cell_prefix_partition_pruning). At
    10^12-image scale this is the scan-avoidance layer: a region query
    touches only its coarse cells' files, never the global table."""
    from pyspark.sql import functions as F

    from ..functions import cells as C

    fine = C.cell_col(F.col(lon_col), F.col(lat_col), res)
    return df.withColumn(col, C.parent_cell_col(fine, res, parent_res))


def read_incremental(
    spark: SparkSession,
    path: str,
    since_snapshot_id: str,
    key_cols: list[str],
    ts_col: str = "download_timestamp",
) -> DataFrame:
    """Rows added or changed since a past snapshot: current EXCEPT-by-
    key-and-ts old — an anti-join on (keys + ts), so updated rows
    reappear with their new payload."""
    cur = read_table(spark, path)
    old = read_table(spark, path, since_snapshot_id)
    on = key_cols + [ts_col]
    return cur.join(old.select(*on), on, "left_anti")
