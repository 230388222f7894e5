"""kNN nearest-article join — J9/W3 of SURVEY.md §2.

The reference has no explicit kNN; nearest-article matching is implicit
inside its wikibrain detector. The engine provides it as a first-class
operator in two physical strategies:

  * `knn_bruteforce` — broadcast the (small) entity side, JVM-side
    haversine, `row_number` re-rank. Exact; the correctness oracle.
  * `knn_kring` — grid-index candidate generation: each query point
    explodes its k-ring of cells (pandas UDF → array, then `explode`),
    equi-joins entities on cell, re-ranks by distance, and iteratively
    widens the ring for queries that haven't PROVABLY converged: the
    kth neighbor must be nearer than the closest point of the first
    unexplored ring, else the query goes another round. Exactness is
    guaranteed by that ring-distance bound; tests compare against
    brute force.

Ties broken deterministically by (distance, entity_id).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions import cells as C
from ..session import tracked_broadcast

EARTH_R_KM = 6371.0088

#: candidate pad for the chord-proxy selection in `_topk_block`: the
#: GEMM scores are a strictly monotone proxy for haversine distance, so
#: top-(k+pad) by dot provably contains top-k by distance unless >pad
#: entities sit within float64 rounding of the kth score — the exact
#: re-rank then restores the brute-force (dist, key) order bit-for-bit.
_SEL_PAD = 8

#: per-chunk score-matrix budget (cells): keeps each GEMM + argpartition
#: inside cache-friendly territory and bounds task memory at
#: budget × 8 B ≈ 32 MB regardless of entity-side width.
_CELLS_BUDGET = 4 << 20

#: certification margin for the float32 selection pass: a worst-case
#: bound on |float32 dot − float64 dot| for 3-term unit-vector dots is
#: ~5e-7 (input quantization 2⁻²⁴ per component + two accumulation
#: roundings, all magnitudes ≤ 1); 2e-6 is 4× that. A chunk takes the
#: float32 result only when, for EVERY query row, the kth-best selected
#: score clears the best excluded score by more than this margin —
#: which proves the exact float64 top-k is inside the selected set —
#: otherwise the chunk recomputes in float64.
_SEL_ERR32 = 2e-6


def _unit_xyz(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """(n,) lon/lat degrees → (n, 3) unit vectors on the sphere."""
    lo = np.radians(np.asarray(lon, dtype=np.float64))
    la = np.radians(np.asarray(lat, dtype=np.float64))
    cl = np.cos(la)
    return np.stack([cl * np.cos(lo), cl * np.sin(lo), np.sin(la)], axis=1)


def _topk_block(
    qkeys: np.ndarray,
    qlon: np.ndarray,
    qlat: np.ndarray,
    e_keys: np.ndarray,
    e_lons: np.ndarray,
    e_lats: np.ndarray,
    k: int,
    ET: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Exact top-k of every query against the whole entity block.

    Replaces the full |chunk|×|E| haversine matrix (4 transcendental
    passes over every cell — measured 19 s/task at sf1.0) with one
    GEMM: unit-vector dot products are a strictly monotone proxy for
    great-circle distance (dot = 1 − chord²/2, chord monotone in
    angle), so candidate selection needs no trigonometry at all. The
    exact haversine is then computed ONLY for the k+_SEL_PAD selected
    candidates per query — same `haversine_km` on the same float64
    inputs as brute force, so the emitted distances and the
    (dist, entity_key) tie-order are identical doubles.

    Returns flat (q_key, e_key, dist_km, rank) arrays, kk rows per
    query, rank 1..kk, kk = min(k, |E|).
    """
    from ..functions.geometry import haversine_km

    ne = len(e_keys)
    kk = min(k, ne)
    kp = min(k + _SEL_PAD, ne)
    nq = len(qkeys)
    if nq == 0 or kk == 0:
        empty = np.empty(0)
        return empty, empty, empty, empty
    if ET is None:
        ET = np.ascontiguousarray(_unit_xyz(e_lons, e_lats).T)
    Q = _unit_xyz(qlon, qlat)
    cand = np.empty((nq, kp), dtype=np.int64)
    chunk = max(64, _CELLS_BUDGET // max(1, ne))
    # float32 first pass: half the GEMM/argpartition memory traffic —
    # the binding axis at 32-wide — certified exact per chunk via the
    # _SEL_ERR32 margin. When the margin cannot certify (more boundary
    # near-ties than the pad can prove around, e.g. many entities at
    # bit-identical coordinates), the chunk falls back to the full
    # haversine + per-row (dist, key) lexsort — the pre-GEMM exact
    # kernel, which needs no selection step and therefore has no tie
    # boundary at all. The fallback is chunk-local and memory-bounded
    # by _CELLS_BUDGET.
    from ..functions.geometry import haversine_km as _hav

    Q32 = Q.astype(np.float32)
    ET32 = ET.astype(np.float32) if kp < ne else None
    fallback_rows: list[np.ndarray] = []
    for lo in range(0, nq, chunk):
        hi = min(lo + chunk, nq)
        if kp < ne:
            S32 = Q32[lo:hi] @ ET32
            part = np.argpartition(-S32, (kp - 1, kp), axis=1)
            selc = part[:, :kp]
            rows = np.arange(hi - lo)[:, None]
            sel_scores = S32[rows, selc]
            kth_sel = -np.partition(-sel_scores, kk - 1, axis=1)[:, kk - 1]
            excl_max = S32[rows[:, 0], part[:, kp]]
            if np.all(kth_sel - excl_max > _SEL_ERR32):
                cand[lo:hi] = selc
                continue
            # uncertifiable chunk: exact full-matrix top-k, ties by key
            D = _hav(
                np.asarray(qlon, dtype=np.float64)[lo:hi, None],
                np.asarray(qlat, dtype=np.float64)[lo:hi, None],
                e_lons[None, :], e_lats[None, :],
            )
            for r in range(hi - lo):
                order = np.lexsort((e_keys, D[r]))[:kp]
                cand[lo + r] = order
        else:
            cand[lo:hi] = np.arange(ne)[None, :]
    # exact re-rank on the candidate pad, fully vectorized: stable sort
    # by entity key then stable sort by distance == lexsort (dist, key)
    qlon = np.asarray(qlon, dtype=np.float64)
    qlat = np.asarray(qlat, dtype=np.float64)
    Dc = haversine_km(qlon[:, None], qlat[:, None], e_lons[cand], e_lats[cand])
    keysc = e_keys[cand]
    o1 = np.argsort(keysc, axis=1, kind="stable")
    o2 = np.argsort(np.take_along_axis(Dc, o1, axis=1), axis=1, kind="stable")
    order = np.take_along_axis(o1, o2, axis=1)[:, :kk]
    sel = np.take_along_axis(cand, order, axis=1)
    out_q = np.repeat(np.asarray(qkeys), kk)
    out_e = e_keys[sel].ravel()
    out_d = np.take_along_axis(Dc, order, axis=1).ravel()
    out_r = np.tile(np.arange(1, kk + 1), nq)
    return out_q, out_e, out_d, out_r


def haversine_col(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in km as a pure Catalyst expression."""
    p1 = F.radians(lat1)
    p2 = F.radians(lat2)
    dlat = p2 - p1
    dlon = F.radians(lon2) - F.radians(lon1)
    a = F.pow(F.sin(dlat / 2), 2) + F.cos(p1) * F.cos(p2) * F.pow(F.sin(dlon / 2), 2)
    return F.lit(2 * EARTH_R_KM) * F.asin(F.sqrt(F.least(a, F.lit(1.0))))


def knn_bruteforce(
    queries: DataFrame,
    entities: DataFrame,
    k: int,
    q_key: str = "id",
    e_key: str = "qid",
    q_lon: str = "lon",
    q_lat: str = "lat",
    e_lon: str = "lon",
    e_lat: str = "lat",
    max_inline_entities: int = 2_000_000,
    _known_entity_count: int | None = None,
) -> DataFrame:
    """Exact kNN against a broadcastable entity side — ZERO shuffle.

    The entity set is collected to one numpy matrix and rides into a
    mapInPandas stage (on a cluster: a SparkContext.broadcast /
    closure); each Arrow batch of query points does one vectorized
    haversine against the whole matrix + argpartition top-k. The 100 TB
    fact side streams map-side; nothing shuffles and no |Q|×|E| rows
    ever materialize. Falls back to cross-join + window re-rank when
    the entity side is too large to broadcast.

    Ties broken by (dist, entity_key) ascending — matches the SQL
    oracle's ORDER BY dist, key. Output: (q_key, e_key, dist_km, rank).

    Guard convention: the entity side is counted with
    limit(N+1).count() BEFORE any driver pull, so nothing reaches the
    driver on the overflow path — an over-limit side goes to
    `_knn_blocked` instead. The count costs one bounded extra lineage
    evaluation (it short-circuits after N+1 rows). The inline budget is
    a row count because an entity row is a fixed ~24 B (key, lon, lat):
    2M rows ≈ 50 MB.
    """
    # null-coordinate rows have no distance to anything: drop them on
    # both sides so all three strategies agree (the k-ring path's
    # Catalyst cell expression already drops them — a null cell never
    # joins — while NaN distances here would rank nondeterministically)
    queries = queries.filter(F.col(q_lon).isNotNull() & F.col(q_lat).isNotNull())
    entities = entities.filter(F.col(e_lon).isNotNull() & F.col(e_lat).isNotNull())
    q = queries.select(
        F.col(q_key).alias("_q_key"),
        F.col(q_lon).alias("_q_lon"),
        F.col(q_lat).alias("_q_lat"),
    )
    # a single-file source would run the whole top-k in one task; give
    # the map-side stage enough splits to use the cluster. Plan-side
    # probe only (physical planning, no job): the previous inputFiles()
    # probe missed the case where the CacheManager substitutes an
    # InMemoryRelation for the scan (inputFiles → [] and the whole
    # top-k silently ran in ONE task — observed when another query in
    # the session had cached a matching subplan); the partition count
    # of the planned RDD covers file-backed, cached and shuffle-fed
    # sides uniformly.
    par = queries.sparkSession.sparkContext.defaultParallelism
    if q.rdd.getNumPartitions() < par:
        q = q.repartition(par)
    # size check BEFORE collecting: an over-limit entity table must never
    # reach toPandas() — that driver materialization is exactly what the
    # threshold protects against (limit+count touches only the first
    # max_inline_entities+1 rows, it never pulls data to the driver).
    # Callers that already counted this side (knn_kring's cost rule and
    # its straggler cutoff, both of which count the cached entity set
    # anyway) pass `_known_entity_count` so the guard job isn't re-run
    # per call.
    n_known = (
        _known_entity_count
        if _known_entity_count is not None
        else entities.limit(max_inline_entities + 1).count()
    )
    if n_known > max_inline_entities:
        return _knn_blocked(
            q, entities, k, q_key, e_key, e_lon, e_lat,
            block_rows=min(max_inline_entities, 65536),
        )
    ent_pdf = (
        entities.select(
            F.col(e_key).alias("k"), F.col(e_lon).alias("lon"), F.col(e_lat).alias("lat")
        )
        .toPandas()
        .sort_values("k")
    )
    e_keys = ent_pdf["k"].to_numpy()
    e_lons = ent_pdf["lon"].to_numpy(dtype=np.float64)
    e_lats = ent_pdf["lat"].to_numpy(dtype=np.float64)
    kk = min(k, len(e_keys))
    key_field = [f for f in queries.select(q_key).schema.fields][0]
    out_schema = (
        f"{q_key} {key_field.dataType.simpleString()}, "
        f"{e_key} {entities.select(e_key).schema.fields[0].dataType.simpleString()}, "
        "dist_km double, rank int"
    )
    if kk == 0:
        # entity side empty (possibly only after the null-coordinate
        # drop): no neighbor exists for any query. Return the empty
        # result `_knn_blocked` produces for the same input instead of
        # handing np.argpartition a kth of -1 in every task.
        return queries.sparkSession.createDataFrame([], out_schema)
    # SparkContext.broadcast ships the matrix once per executor; a plain
    # closure capture re-serializes it into every task — the difference
    # is |matrix| × tasks of network at 1000 executors. The transposed
    # unit-vector matrix for the GEMM selection is built ONCE here and
    # rides along (3 × |E| doubles — cheaper to ship than to rebuild
    # per batch).
    ET = np.ascontiguousarray(_unit_xyz(e_lons, e_lats).T)
    bc = tracked_broadcast(
        queries.sparkSession.sparkContext,
        (e_keys, e_lons, e_lats, ET),
        "knn_entity_matrix",
    )

    def topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        e_keys, e_lons, e_lats, ET = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_q, out_e, out_d, out_r = _topk_block(
                pdf["_q_key"].to_numpy(),
                pdf["_q_lon"].to_numpy(dtype=np.float64),
                pdf["_q_lat"].to_numpy(dtype=np.float64),
                e_keys, e_lons, e_lats, kk, ET=ET,
            )
            yield pd.DataFrame(
                {q_key: out_q, e_key: out_e, "dist_km": out_d, "rank": out_r}
            )

    return q.mapInPandas(topk, out_schema)


def _knn_blocked(
    q: DataFrame,
    entities: DataFrame,
    k: int,
    q_key: str,
    e_key: str,
    e_lon: str,
    e_lat: str,
    block_rows: int = 65536,
) -> DataFrame:
    """Exact kNN when the entity side is too large to broadcast OR
    collect: block nested loop as a cogroup.

    Both sides are hash-blocked (xxhash64(key) % n_blocks —
    deterministic, uniform), each side is replicated across the OTHER
    side's block ids, and every (qblock, eblock) pair meets exactly once
    in a ``cogroup().applyInPandas`` task that computes a bounded
    vectorized-haversine matrix and emits per-query LOCAL top-k. A
    window over the query key then merges block candidates into the
    global top-k — exact, because each block's local top-k is a
    superset of that block's contribution to the global answer. No
    cross join and no broadcast of the entity side exists (the very
    materialization the over-limit guard prevents); shuffle volume is
    the textbook block-nested-loop n_qblocks·|E| + n_eblocks·|Q|.
    Nothing reaches the driver; per-task memory is two blocks + a
    chunk×block distance matrix.

    `q` arrives pre-projected by `knn_bruteforce` as
    (_q_key, _q_lon, _q_lat). Ties break by (dist, entity_key) asc —
    identical to the inline path and the SQL oracle."""
    n_e = entities.count()
    n_q = q.count()
    n_eblk = max(1, -(-n_e // block_rows))
    n_qblk = max(1, -(-n_q // block_rows))

    qt = q.schema["_q_key"].dataType.simpleString()
    et = entities.schema[e_key].dataType.simpleString()

    qb = q.withColumn(
        "qblk", F.pmod(F.xxhash64("_q_key"), F.lit(n_qblk)).cast("int")
    )
    eb = entities.select(
        F.col(e_key).alias("_e_key"),
        F.col(e_lon).alias("_e_lon"),
        F.col(e_lat).alias("_e_lat"),
    ).withColumn("eblk", F.pmod(F.xxhash64("_e_key"), F.lit(n_eblk)).cast("int"))

    # narrow explode replication — no join node, no broadcast
    qrep = qb.withColumn(
        "eblk",
        F.explode(F.sequence(F.lit(0).cast("int"), F.lit(n_eblk - 1).cast("int"))),
    )
    erep = eb.withColumn(
        "qblk",
        F.explode(F.sequence(F.lit(0).cast("int"), F.lit(n_qblk - 1).cast("int"))),
    )

    def local_topk(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"qk": [], "ek": [], "dist_km": []})
        out_q, out_e, out_d, _ = _topk_block(
            left["_q_key"].to_numpy(),
            left["_q_lon"].to_numpy(dtype=np.float64),
            left["_q_lat"].to_numpy(dtype=np.float64),
            right["_e_key"].to_numpy(),
            right["_e_lon"].to_numpy(dtype=np.float64),
            right["_e_lat"].to_numpy(dtype=np.float64),
            k,
        )
        return pd.DataFrame({"qk": out_q, "ek": out_e, "dist_km": out_d})

    local = (
        qrep.groupBy("qblk", "eblk")
        .cogroup(erep.groupBy("qblk", "eblk"))
        .applyInPandas(local_topk, f"qk {qt}, ek {et}, dist_km double")
    )
    w = Window.partitionBy("qk").orderBy(F.asc("dist_km"), F.asc("ek"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qk").alias(q_key),
            F.col("ek").alias(e_key),
            "dist_km",
            "rank",
        )
    )


def _ring_min_dist_col(res: int, explored_ring: int, q_lat: Column) -> Column:
    """Per-query lower bound (km) on the distance to any point in a
    cell NOT yet explored (Chebyshev distance > explored_ring = r).

    Wall argument: an unexplored point either escapes vertically
    (≥ r cell heights → r·cell_km, latitude extent is constant on this
    grid) or stays within the band and escapes horizontally (≥ r cell
    widths at a latitude within |q_lat| ± (r+1) cells → shrink by
    cos of the band extremity). When the ring already wraps every
    longitude column ((2r+1) ≥ 2^res), no east/west wall exists and
    only the vertical term applies — this is what makes coarse
    resolutions converge."""
    r = explored_ring
    n = 1 << res
    cell_deg = 180.0 / n
    km_per_deg = 2 * np.pi * EARTH_R_KM / 360.0
    vertical = F.lit(float(r * cell_deg * km_per_deg))
    if (2 * r + 1) >= n:
        return vertical
    band_edge = F.least(F.abs(q_lat) + F.lit((r + 1) * cell_deg), F.lit(89.999))
    shrink = F.greatest(F.cos(F.radians(band_edge)), F.lit(0.0))
    return vertical * F.least(F.lit(1.0), shrink)


def knn_kring(
    queries: DataFrame,
    entities: DataFrame,
    k: int,
    res: int | None = None,
    initial_ring: int = 1,
    max_ring: int = 64,
    q_key: str = "id",
    e_key: str = "qid",
    q_lon: str = "lon",
    q_lat: str = "lat",
    e_lon: str = "lon",
    e_lat: str = "lat",
    max_inline_entities: int = 100_000,
    salt_hot_cells: bool = True,
    hot_cell_factor: float = 16.0,
    hot_cell_min: int = 4096,
    hot_cell_buckets: int = 8,
    max_hot_cells: int = 64,
) -> DataFrame:
    """Exact kNN via k-ring candidate equi-join with provable-converged
    escalation. Scales when BOTH sides are big: the join is a cell
    equi-join (shuffle hash / sort-merge on cell), never a cross join.

    Skew (SURVEY §4): a dense-city cell concentrates both entities and
    candidate queries on ONE join key, and at 100× that key's shuffle
    partition is the straggler. A cheap histogram pre-pass over the
    CACHED entity side (one groupBy on the cell id) finds cells holding
    > max(hot_cell_factor × mean, hot_cell_min) entities — bounded
    driver pull of at most max_hot_cells ids — and the candidate
    equi-join routes those cells through
    ``spatial_join.salted_join_skewed`` (entity rows of hot cells
    replicated ×hot_cell_buckets, query rows split across the buckets);
    cold cells join with salt 0, zero replication. Result-neutral by
    construction; `tests/test_knn.py` pins salted == unsalted on a
    planted city-density cell. AQE skew-join can't see this skew
    because the hot key is born inside the explode, after the stage
    boundary AQE splits on. Reference analog: the region-split
    workaround for oversized areas
    (produce_internal_divisions_for_regions_processed.py:185-195).

    Cost rule (regime selection): when the entity side fits in a
    broadcastable matrix (≤ max_inline_entities) the map-side
    brute-force path is strictly cheaper — one vectorized pass, zero
    shuffle, no escalation rounds — so this function DELEGATES to it
    and reserves the k-ring index for the both-sides-big regime where
    it is the right 100 TB plan (measured 7× at sf0.1 the other way:
    knn_kring 20.7 s vs knn 3.0 s on a 10k-entity side). Pass
    max_inline_entities=0 to force the index path (tests/bench do, to
    exercise the genuine escalation machinery).

    Escalation loop runs on the driver over a shrinking query set;
    each round is one Spark job over CACHED inputs (no lineage
    recompute). Rounds grow the ring geometrically.

    res=None picks the resolution from entity density so a k-ring of
    1-2 is expected to hold ≳4k entities: res = ½·log2(n/(4k)). Too
    fine a grid on a sparse entity set needs huge rings (slow); too
    coarse degenerates to brute force per cell.
    """
    # drop null-coordinate rows up front (same contract as
    # knn_bruteforce): a null query cell generates no ring candidates
    # and would otherwise spin in the escalation loop to max_ring
    # before hitting the straggler cutoff for nothing
    queries = queries.filter(F.col(q_lon).isNotNull() & F.col(q_lat).isNotNull())
    entities = entities.filter(F.col(e_lon).isNotNull() & F.col(e_lat).isNotNull())
    if max_inline_entities > 0:
        n_probe = entities.limit(max_inline_entities + 1).count()
        if n_probe <= max_inline_entities:
            return knn_bruteforce(
                queries, entities, k,
                q_key=q_key, e_key=e_key, q_lon=q_lon, q_lat=q_lat,
                e_lon=e_lon, e_lat=e_lat,
                max_inline_entities=max_inline_entities,
                _known_entity_count=n_probe,
            )
    ent = entities.select(
        F.col(e_key).alias("_e_key"),
        F.col(e_lon).alias("_e_lon"),
        F.col(e_lat).alias("_e_lat"),
    ).cache()
    n_ent = ent.count()
    if res is None:
        import math

        # round, don't floor: flooring 6.8 → 6 quadruples the per-cell
        # density the formula targets, and the ring-1 candidate join is
        # linear in it (measured at sf1.0: res 6 → 660 candidates/query
        # and a 6.6M-row window input, 5.8 s; res 7 → ~165/query,
        # 2.5 s; same exact results at any res)
        res = max(0, min(C.MAX_RES, round(0.5 * math.log2(max(n_ent / (4 * k), 1)))))
    if (2 * initial_ring + 1) >= (1 << res):
        # adaptive physical strategy: the entity set is so sparse that
        # the first ring already spans the whole grid — the index can't
        # prune anything, so the cell join would just be a worse-shaped
        # brute force. Delegate to the map-side exact path (identical
        # results; the genuine index path is exercised on dense entity
        # sets — see tests/test_knn.py).
        ent.unpersist()
        return knn_bruteforce(
            queries, entities, k,
            q_key=q_key, e_key=e_key, q_lon=q_lon, q_lat=q_lat,
            e_lon=e_lon, e_lat=e_lat,
            _known_entity_count=n_ent,
        )
    ent = ent.withColumn("_e_cell", C.cell_col(F.col("_e_lon"), F.col("_e_lat"), res))

    hot_cells: list = []
    # the pre-pass only pays for itself when a single cell COULD become
    # a straggler: below 8×hot_cell_min entities, even total
    # concentration in one cell is a few thousand build rows — one task
    # handles that in milliseconds, while the histogram job costs a
    # measurable fraction of the whole query at small scale (measured
    # ~0.4 s on the 15k-entity bench query, ~30%). At the scale the
    # salt exists for (millions of entities) the pre-pass amortizes.
    if salt_hot_cells and n_ent >= 8 * hot_cell_min:
        # histogram pre-pass over the cached entity side, as ONE job:
        # the occupied-cell mean and the over-floor cells come out of
        # the same aggregation (collect_list skips the nulls the `when`
        # produces, so the pull is bounded by n_ent / hot_cell_min
        # structs — never entity data); the factor×mean threshold and
        # the top-max_hot_cells cut apply driver-side over that bounded
        # list. Previously this was a cache + two jobs per call.
        row = (
            ent.groupBy("_e_cell")
            .agg(F.count(F.lit(1)).alias("_c"))
            .agg(
                F.avg("_c").alias("m"),
                F.collect_list(
                    F.when(
                        F.col("_c") > hot_cell_min,
                        F.struct(F.col("_c").alias("c"), F.col("_e_cell").alias("cell")),
                    )
                ).alias("cand"),
            )
            .first()
        )
        threshold = max(hot_cell_factor * float(row["m"] or 0.0), float(hot_cell_min))
        over = sorted(
            (r for r in row["cand"] if r["c"] > threshold),
            key=lambda r: -r["c"],
        )
        hot_cells = [r["cell"] for r in over[:max_hot_cells]]

    remaining = queries.select(
        F.col(q_key).alias("_q_key"),
        F.col(q_lon).alias("_q_lon"),
        F.col(q_lat).alias("_q_lat"),
    ).cache()
    results = None
    ring = initial_ring
    while True:
        # ring cells are array_distinct'ed and an entity lives in exactly
        # one cell, so (query, entity) pairs are already unique — no
        # dedup shuffle needed. k_ring_col is a pure Catalyst expression:
        # the candidate generator has NO Python stage.
        exploded = remaining.withColumn(
            "_e_cell",
            F.explode(
                F.array_distinct(
                    C.k_ring_col(F.col("_q_lon"), F.col("_q_lat"), res, ring)
                )
            ),
        )
        if hot_cells:
            from .spatial_join import salted_join_skewed

            joined = salted_join_skewed(
                exploded, ent, "_e_cell", hot_cells,
                salt_buckets=hot_cell_buckets,
            )
        else:
            joined = exploded.join(ent, "_e_cell")
        cand = joined.withColumn(
            "dist_km",
            haversine_col(
                F.col("_q_lon"), F.col("_q_lat"), F.col("_e_lon"), F.col("_e_lat")
            ),
        )
        w = Window.partitionBy("_q_key").orderBy(F.asc("dist_km"), F.asc("_e_key"))
        # localCheckpoint: materialize this round's candidates once —
        # converged-split, anti-join and the result union all reuse it
        # without recomputing the join lineage next round. Eviction: each
        # ring's checkpoint blocks stay referenced by the growing
        # `results` union until the caller's ACTION completes, so peak
        # storage is sum over rings of the (already top-k-truncated)
        # per-ring winners — k rows per unconverged query, shrinking
        # geometrically as queries converge; `remaining` (the only
        # unbounded-width checkpoint) IS explicitly unpersisted below.
        topk = (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("_q_key", "_q_lon", "_q_lat", "_e_key", "dist_km", "rank")
            .localCheckpoint()
        )
        # a query is converged iff it found k neighbors AND its kth
        # distance is < the lower bound of the nearest UNEXPLORED cell
        per_q = topk.groupBy("_q_key").agg(
            F.count(F.lit(1)).alias("_n"),
            F.max("dist_km").alias("_kth"),
            F.first("_q_lat").alias("_lat"),
        )
        converged_keys = per_q.filter(
            (F.col("_n") >= k)
            & (F.col("_kth") < _ring_min_dist_col(res, ring, F.col("_lat")))
        ).select("_q_key")
        done = topk.join(converged_keys, "_q_key").select(
            F.col("_q_key").alias(q_key), F.col("_e_key").alias(e_key), "dist_km", "rank"
        )
        results = done if results is None else results.unionByName(done)
        if ring >= max_ring:
            # final round: accept best-effort for stragglers (or none left)
            rest = topk.join(converged_keys, "_q_key", "left_anti").select(
                F.col("_q_key").alias(q_key),
                F.col("_e_key").alias(e_key),
                "dist_km",
                "rank",
            )
            results = results.unionByName(rest)
            break
        new_remaining = remaining.join(
            converged_keys, "_q_key", "left_anti"
        ).localCheckpoint()
        remaining.unpersist()
        n_left = new_remaining.count()
        if n_left == 0:
            break
        if n_left <= max(1000, n_ent):
            # straggler cut-off: escalating rings costs one full Spark
            # job per doubling; once the unconverged set is small, the
            # exact map-side brute force answers them in ONE job.
            rest = knn_bruteforce(
                new_remaining.select(
                    F.col("_q_key").alias(q_key),
                    F.col("_q_lon").alias(q_lon),
                    F.col("_q_lat").alias(q_lat),
                ),
                ent.select(
                    F.col("_e_key").alias(e_key),
                    F.col("_e_lon").alias(e_lon),
                    F.col("_e_lat").alias(e_lat),
                ),
                k,
                q_key=q_key, e_key=e_key, q_lon=q_lon, q_lat=q_lat,
                e_lon=e_lon, e_lat=e_lat,
                _known_entity_count=n_ent,
            )
            results = rest if results is None else results.unionByName(rest)
            break
        remaining = new_remaining
        ring = min(ring * 2, max_ring)
    ent.unpersist()
    return results
