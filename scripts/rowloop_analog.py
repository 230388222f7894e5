#!/usr/bin/env python
"""Reference-ARCHITECTURE single-node baseline for the scaling job.

The reference publishes no benchmarks (BASELINE.md), so "matches-or-
beats its single-node throughput" needs a measured stand-in. The
reference's architecture is a row-at-a-time Python loop over SQLite
(`script.py:67-116` iterates `osm_data` rows one by one; per-object
work happens inside the loop, results are written back per row). This
script runs the ENGINE'S OWN scaling job (`engine_rollup` below:
synth → encode → decode → phash → XYZ tile assign → exact ray-cast PIP
→ per-(tile, region) rollup) in exactly that architecture:

  phase 1 (ingest/store) — per id: synthesize pixels, encode, INSERT
      the row into a SQLite table (the reference's storage pattern,
      `load_osm_file.py` row-per-element inserts);
  phase 2 (validate)     — cursor over the SQLite rows; per row:
      decode, recompute phash, tile-assign, ray-cast PIP against each
      polygon (bbox precheck first), accumulate the rollup in a dict.

Same per-row math as the engine (same codec, hash, tile and geometry
functions — per-row calls instead of Arrow batches), so the rollup is
EXACTLY comparable: this script asserts its (tile_id, region) →
(n_images, n_lossy) dict equals the engine's distributed answer on the
same ids before reporting throughput (tests/test_rowloop_analog.py
pins that at small n). The throughput difference measured here is
therefore pure ARCHITECTURE: row-at-a-time driver loop vs vectorized
Arrow batches on Spark — reported alongside an engine leg pinned to
ONE core so distribution is factored out of the comparison.

Usage:  python scripts/rowloop_analog.py [n_images] [--skip-engine]
Output: one JSON line.
"""

from __future__ import annotations

import json
import math
import os
import sqlite3
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm_wikipedia_tag_validator_spark.datagen import world as W
from osm_wikipedia_tag_validator_spark.datagen.codecs import (
    LOSSY_FMTS,
    decode_image,
    encode_image,
)
from osm_wikipedia_tag_validator_spark.functions.geometry import (
    points_in_polygon,
    ring_bbox,
)
from osm_wikipedia_tag_validator_spark.functions.imagefns import ahash64

_MAX_MERC_LAT = 85.05112878


def _tile_id(lon: float, lat: float, z: int) -> int:
    # same slippy-map math as operators/tiles.py::tile_id_col
    n = 1 << z
    x = math.floor((lon + 180.0) / 360.0 * float(n))
    lat_c = max(-_MAX_MERC_LAT, min(lat, _MAX_MERC_LAT))
    lat_r = math.radians(lat_c)
    y = math.floor(
        (1.0 - math.log(math.tan(lat_r) + 1.0 / math.cos(lat_r)) / math.pi)
        / 2.0
        * float(n)
    )
    x = max(0, min(x, n - 1))
    y = max(0, min(y, n - 1))
    return (z << 58) + (x << 29) + y


def _polygon_list() -> list[tuple[str, list[np.ndarray], tuple]]:
    pdf = W.gen_polygons()
    out = []
    for r in pdf.itertuples(index=False):
        rings = [
            np.array([[p["lon"], p["lat"]] for p in ring], dtype=np.float64)
            for ring in r.rings
        ]
        out.append((r.region, rings, ring_bbox(rings[0])))
    return out


def run_analog(n: int, z: int = 8) -> dict:
    """The timed row-at-a-time run. Returns wall, throughput, rollup."""
    polys = _polygon_list()
    dbdir = tempfile.mkdtemp(prefix="rowloop_")
    con = sqlite3.connect(os.path.join(dbdir, "osm_data.sqlite"))
    con.execute(
        "CREATE TABLE images (id INTEGER PRIMARY KEY, bytes BLOB, "
        "fmt TEXT, lon REAL, lat REAL)"
    )
    # element locations come from the same denormalized source the
    # engine ingests (lineage co-generated with location)
    loc = W.gen_images_located_batch(np.arange(n, dtype=np.int64))
    lons = loc["lon"].to_numpy()
    lats = loc["lat"].to_numpy()

    t0 = time.time()
    # phase 1: per-row synthesize + encode + INSERT (reference ingest)
    for i in range(n):
        (eid, img, _caption, fmt) = W.gen_image_pixel_rows(
            np.array([i], dtype=np.int64)
        )[0]
        data = encode_image(img, fmt)
        con.execute(
            "INSERT INTO images VALUES (?, ?, ?, ?, ?)",
            (eid, data, fmt, float(lons[i]), float(lats[i])),
        )
    con.commit()
    # phase 2: cursor walk — per-row decode + phash + tile + PIP + rollup
    rollup: dict[tuple[int, str], list[int]] = {}
    for eid, data, fmt, lon, lat in con.execute(
        "SELECT id, bytes, fmt, lon, lat FROM images"
    ):
        img = decode_image(bytes(data), fmt)
        _ = ahash64(img)  # the pipeline's decoded-pixel fingerprint
        tid = _tile_id(lon, lat, z)
        px = np.array([lon], dtype=np.float64)
        py = np.array([lat], dtype=np.float64)
        for region, rings, (bx0, by0, bx1, by1) in polys:
            if not (bx0 <= lon <= bx1 and by0 <= lat <= by1):
                continue
            if points_in_polygon(px, py, rings)[0]:
                key = (tid, region)
                cell = rollup.setdefault(key, [0, 0])
                cell[0] += 1
                cell[1] += 1 if fmt in LOSSY_FMTS else 0
    wall = time.time() - t0
    con.close()
    return {
        "wall_sec": wall,
        "images_per_sec": n / wall,
        "rollup": {f"{t}|{r}": v for (t, r), v in sorted(rollup.items())},
    }


def engine_rollup(spark, n: int, z: int = 8) -> dict:
    """The engine's distributed answer on the same ids (the scaling
    job's pipeline), as the same dict shape for exact comparison."""
    from pyspark.sql import functions as F

    from osm_wikipedia_tag_validator_spark.operators import spatial_join as SJ
    from osm_wikipedia_tag_validator_spark.operators import tiles as TI

    images = W.spark_images_located(spark, n)
    polygons = W.spark_polygons(spark)
    tiled = TI.assign_tiles(images, z=z)
    hits = SJ.point_in_polygon_join(tiled, polygons)
    rows = (
        hits.groupBy("tile_id", "region")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum(
                F.when(F.col("fmt").isin(*LOSSY_FMTS), 1).otherwise(0)
            ).alias("n_lossy"),
        )
        .collect()
    )
    return {
        f"{r['tile_id']}|{r['region']}": [int(r["n_images"]), int(r["n_lossy"])]
        for r in rows
    }


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 20000
    skip_engine = "--skip-engine" in sys.argv
    analog = run_analog(n)
    out = {
        "metric": "rowloop_reference_architecture_analog",
        "n_images": n,
        "analog_images_per_sec": round(analog["images_per_sec"], 1),
        "analog_wall_sec": round(analog["wall_sec"], 2),
        "note": (
            "row-at-a-time Python loop over SQLite running the engine's "
            "scaling job per row (reference architecture, script.py:67-116)"
        ),
    }
    if not skip_engine:
        from osm_wikipedia_tag_validator_spark.session import get_spark

        spark = get_spark(cores=1, shuffle_partitions=1)
        er = engine_rollup(spark, n)
        # untimed warm leg (JIT, plan caches), then the timed leg
        t0 = time.time()
        er2 = engine_rollup(spark, n)
        engine_wall = time.time() - t0
        assert er == er2
        match = er == analog["rollup"]
        out["engine_local1_images_per_sec"] = round(n / engine_wall, 1)
        out["engine_local1_wall_sec"] = round(engine_wall, 2)
        out["rollup_exact_match"] = bool(match)
        out["speedup_local1_vs_analog"] = round(
            (n / engine_wall) / analog["images_per_sec"], 2
        )
        spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
