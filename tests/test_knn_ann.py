import numpy as np
import pandas as pd

from osm_wikipedia_tag_validator_spark.functions.geometry import haversine_km
from osm_wikipedia_tag_validator_spark.operators import knn as KNN


def _dense_entities(spark, n=500):
    """Dense entity cloud so the k-ring index path converges quickly."""
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            "qid": np.arange(n, dtype=np.int64),
            "lon": rng.uniform(-20, 40, n),
            "lat": rng.uniform(-10, 30, n),
        }
    )
    return spark.createDataFrame(pdf), pdf


def _queries(spark, n=80):
    rng = np.random.default_rng(12)
    pdf = pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "lon": rng.uniform(-20, 40, n),
            "lat": rng.uniform(-10, 30, n),
        }
    )
    return spark.createDataFrame(pdf), pdf


def _numpy_knn(qpdf, epdf, k):
    out = {}
    for _, q in qpdf.iterrows():
        d = haversine_km(
            np.full(len(epdf), q["lon"]), np.full(len(epdf), q["lat"]),
            epdf["lon"].to_numpy(), epdf["lat"].to_numpy(),
        )
        order = np.lexsort((epdf["qid"].to_numpy(), d))[:k]
        out[int(q["id"])] = [int(epdf["qid"].iloc[i]) for i in order]
    return out


def test_knn_bruteforce_matches_numpy(spark):
    ents, epdf = _dense_entities(spark)
    qs, qpdf = _queries(spark)
    got = KNN.knn_bruteforce(qs, ents, k=5, q_key="id", e_key="qid").toPandas()
    exp = _numpy_knn(qpdf, epdf, 5)
    for qid, grp in got.groupby("id"):
        nbrs = grp.sort_values("rank")["qid"].tolist()
        assert nbrs == exp[int(qid)]


def test_knn_kring_exact_on_dense_entities(spark):
    ents, epdf = _dense_entities(spark)
    qs, qpdf = _queries(spark, n=40)
    got = KNN.knn_kring(qs, ents, k=3, q_key="id", e_key="qid").toPandas()
    exp = _numpy_knn(qpdf, epdf, 3)
    assert len(got) == 40 * 3
    for qid, grp in got.groupby("id"):
        assert grp.sort_values("rank")["qid"].tolist() == exp[int(qid)]


def test_knn_kring_handles_polar_queries(spark):
    """Queries near the pole exercise the wall-aware convergence bound."""
    ents, epdf = _dense_entities(spark, n=200)
    qpdf = pd.DataFrame({"id": [0, 1, 2], "lon": [0.0, 100.0, -170.0], "lat": [89.5, -89.5, 88.0]})
    qs = spark.createDataFrame(qpdf)
    got = KNN.knn_kring(qs, ents, k=2, q_key="id", e_key="qid").toPandas()
    exp = _numpy_knn(qpdf, epdf, 2)
    for qid, grp in got.groupby("id"):
        assert grp.sort_values("rank")["qid"].tolist() == exp[int(qid)]


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_knn_bruteforce_overlimit_routes_to_blocked(spark):
    """Over-limit entity side: cogroup block plan, no broadcast of the
    entity table, exact results equal to the numpy oracle."""
    ents, epdf = _dense_entities(spark, n=300)
    qs, qpdf = _queries(spark, n=50)
    out = KNN.knn_bruteforce(
        qs, ents, k=5, q_key="id", e_key="qid", max_inline_entities=100
    )
    plan = _executed_plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapCoGroupsInPandas" in plan
    got = out.toPandas()
    exp = _numpy_knn(qpdf, epdf, 5)
    assert len(got) == 50 * 5
    for qid, grp in got.groupby("id"):
        assert grp.sort_values("rank")["qid"].tolist() == exp[int(qid)]


def test_knn_kring_salts_hot_city_cell(spark, monkeypatch):
    """SURVEY §4 skew row: one city-density cell (half the entity table
    in a single grid cell) must route the candidate equi-join through
    salted_join_skewed — and the salted answer must be byte-equal to
    the unsalted run AND to brute force (salting is result-neutral)."""
    from osm_wikipedia_tag_validator_spark.operators import spatial_join as SJ

    rng = np.random.default_rng(21)
    n_hot, n_cold = 600, 300
    epdf = pd.DataFrame(
        {
            "qid": np.arange(n_hot + n_cold, dtype=np.int64),
            "lon": np.concatenate(
                [10.0 + rng.uniform(-0.05, 0.05, n_hot), rng.uniform(-20, 40, n_cold)]
            ),
            "lat": np.concatenate(
                [50.0 + rng.uniform(-0.05, 0.05, n_hot), rng.uniform(-10, 30, n_cold)]
            ),
        }
    )
    ents = spark.createDataFrame(epdf)
    qpdf = pd.DataFrame(
        {
            "id": np.arange(30, dtype=np.int64),
            "lon": rng.uniform(-20, 40, 30),
            "lat": rng.uniform(-10, 30, 30),
        }
    )
    qs = spark.createDataFrame(qpdf)

    calls = []
    real = SJ.salted_join_skewed

    def spy(big, small, key, hot_keys, salt_buckets=8):
        calls.append(list(hot_keys))
        return real(big, small, key, hot_keys, salt_buckets=salt_buckets)

    monkeypatch.setattr(SJ, "salted_join_skewed", spy)

    kw = dict(k=3, q_key="id", e_key="qid", max_inline_entities=0, res=6,
              hot_cell_min=64)
    salted = KNN.knn_kring(qs, ents, **kw).toPandas().sort_values(["id", "rank"])
    # the histogram pre-pass found the planted city cell and the salted
    # plan fired (every escalation round routes through the salt)
    assert calls and all(len(c) >= 1 for c in calls)

    unsalted = (
        KNN.knn_kring(qs, ents, salt_hot_cells=False, **kw)
        .toPandas()
        .sort_values(["id", "rank"])
    )
    assert salted["qid"].tolist() == unsalted["qid"].tolist()
    assert np.allclose(salted["dist_km"].to_numpy(), unsalted["dist_km"].to_numpy())

    exp = _numpy_knn(qpdf, epdf, 3)
    for qid, grp in salted.groupby("id"):
        assert grp.sort_values("rank")["qid"].tolist() == exp[int(qid)]


def test_knn_family_uniform_null_coordinate_semantics(spark):
    """Null-lon/lat rows are dropped by every kNN strategy: the k-ring
    path's Catalyst cell expression drops them structurally (a null
    cell never joins), so the brute-force matrix path must agree
    instead of ranking NaN distances nondeterministically. The entity
    cloud is dense enough that the k-ring leg exercises the GENUINE
    escalation loop: with max_inline_entities=0 the cost rule is off,
    and at n=500/k=3 the operator's resolution arithmetic (res =
    ½·log2(n/4k) = 2) makes the sparse-grid delegation condition
    (2·ring+1 ≥ 2^res) false — asserted below so a datagen change
    can't silently shrink this back onto the brute-force path (at the
    previous n=120, res=1 delegated and the k-ring claim went
    untested)."""
    n_ent = 500
    res = int(0.5 * np.log2(n_ent / (4 * 3)))
    assert (2 * 1 + 1) < (1 << res), "entity cloud too sparse: kring would delegate"
    ents, epdf = _dense_entities(spark, n=n_ent)
    ents = ents.unionByName(
        spark.createDataFrame(
            [(900, None, 10.0), (901, 10.0, None)], "qid long, lon double, lat double"
        )
    )
    qpdf = pd.DataFrame({"id": [0, 1], "lon": [5.0, 6.0], "lat": [5.0, 6.0]})
    qs = spark.createDataFrame(qpdf).unionByName(
        spark.createDataFrame([(800, None, None)], "id long, lon double, lat double")
    )
    exp = _numpy_knn(qpdf, epdf, 3)
    brute = KNN.knn_bruteforce(qs, ents, k=3, q_key="id", e_key="qid").toPandas()
    kring = KNN.knn_kring(
        qs, ents, k=3, q_key="id", e_key="qid", max_inline_entities=0
    ).toPandas()
    for got in (brute, kring):
        assert set(got["id"]) == {0, 1}, "null-coordinate query leaked"
        assert not got["qid"].isin([900, 901]).any(), "null-coordinate entity leaked"
        for qid, grp in got.groupby("id"):
            assert grp.sort_values("rank")["qid"].tolist() == exp[int(qid)]


def test_knn_bruteforce_empty_entities_after_null_drop(spark):
    """Regression (round-5 review): an entity side that empties under
    the null-coordinate drop made the inline path's np.argpartition
    crash with kth=-1 in every task; it must return the empty result
    the blocked twin produces."""
    qs = spark.createDataFrame(
        [(0, 5.0, 5.0)], "id long, lon double, lat double"
    )
    ents = spark.createDataFrame(
        [(900, None, 10.0), (901, 10.0, None)], "qid long, lon double, lat double"
    )
    out = KNN.knn_bruteforce(qs, ents, k=3, q_key="id", e_key="qid")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id", "qid", "dist_km", "rank"]


def test_knn_bruteforce_exact_under_duplicate_coordinates(spark):
    """Tie regression for the GEMM-selection kernel: many entities at
    bit-identical coordinates put more boundary ties than the
    candidate pad can cover — the certification margin must fail and
    the full-matrix (dist, key) fallback must keep the smallest-key
    ties, exactly like the pre-GEMM kernel and the SQL oracle."""
    rng = np.random.default_rng(31)
    base_lon = 10 + rng.uniform(0, 0.002, 40)
    base_lat = 50 + rng.uniform(0, 0.002, 40)
    epdf = pd.DataFrame(
        {
            "qid": np.arange(4000, dtype=np.int64),
            "lon": np.repeat(base_lon, 100),
            "lat": np.repeat(base_lat, 100),
        }
    )
    qpdf = pd.DataFrame(
        {
            "id": np.arange(30, dtype=np.int64),
            "lon": 10 + rng.uniform(0, 0.002, 30),
            "lat": 50 + rng.uniform(0, 0.002, 30),
        }
    )
    got = KNN.knn_bruteforce(
        spark.createDataFrame(qpdf), spark.createDataFrame(epdf), k=5,
        q_key="id", e_key="qid",
    ).toPandas()
    exp = _numpy_knn(qpdf, epdf, 5)
    for qid, grp in got.groupby("id"):
        assert grp.sort_values("rank")["qid"].tolist() == exp[int(qid)]


def test_knn_topk_block_fuzz_regimes():
    """Kernel-level fuzz of `_topk_block` (the GEMM selection + float32
    certificate + exact fallback) against a per-row numpy brute force,
    BIT-EXACT on (q_key, e_key, dist, rank). Eight regimes rotate
    through the geometries that stress the selection boundary: uniform,
    dense ~200 m cluster, duplicate-coordinate groups, all-identical
    entities, polar, antipodal, query==entity, and near-tie rings at
    1e-12-degree separation. Seeded; no Spark needed."""
    rng = np.random.default_rng(20260822)

    def brute(qk, qlon, qlat, ek, elon, elat, k):
        out = []
        kk = min(k, len(ek))
        for i in range(len(qk)):
            d = haversine_km(
                np.full(len(ek), qlon[i]), np.full(len(ek), qlat[i]), elon, elat
            )
            order = np.lexsort((ek, d))[:kk]
            out.extend((qk[i], ek[j], d[j], r + 1) for r, j in enumerate(order))
        return sorted(out)

    for trial in range(64):
        regime = trial % 8
        nq = int(rng.integers(1, 40))
        ne = int(rng.integers(1, 300))
        k = int(rng.integers(1, 12))
        if regime == 0:
            qlon, qlat = rng.uniform(-180, 180, nq), rng.uniform(-85, 85, nq)
            elon, elat = rng.uniform(-180, 180, ne), rng.uniform(-85, 85, ne)
        elif regime == 1:
            c = rng.uniform(-50, 50, 2)
            qlon, qlat = c[0] + rng.normal(0, 0.002, nq), c[1] + rng.normal(0, 0.002, nq)
            elon, elat = c[0] + rng.normal(0, 0.002, ne), c[1] + rng.normal(0, 0.002, ne)
        elif regime == 2:
            ngroups = max(1, ne // 10)
            glon, glat = rng.uniform(-180, 180, ngroups), rng.uniform(-85, 85, ngroups)
            gi = rng.integers(0, ngroups, ne)
            elon, elat = glon[gi], glat[gi]
            qlon, qlat = rng.uniform(-180, 180, nq), rng.uniform(-85, 85, nq)
        elif regime == 3:
            elon = np.full(ne, 13.4); elat = np.full(ne, 52.5)
            qlon, qlat = rng.uniform(-180, 180, nq), rng.uniform(-85, 85, nq)
        elif regime == 4:
            qlon, qlat = rng.uniform(-180, 180, nq), rng.uniform(85, 90, nq)
            elon, elat = rng.uniform(-180, 180, ne), rng.uniform(-90, 90, ne)
        elif regime == 5:
            qlon, qlat = rng.uniform(-180, 180, nq), rng.uniform(-5, 5, nq)
            idx = rng.integers(0, nq, ne)
            elon = (qlon[idx] + 180) % 360 - 180
            elat = -qlat[idx]
        elif regime == 6:
            elon, elat = rng.uniform(-180, 180, ne), rng.uniform(-85, 85, ne)
            idx = rng.integers(0, ne, nq)
            qlon, qlat = elon[idx].copy(), elat[idx].copy()
        else:
            qlon, qlat = np.full(nq, 10.0), np.full(nq, 45.0)
            ang = rng.uniform(0, 2 * np.pi, ne)
            r = 0.01 + rng.choice([0.0, 1e-12, 1e-9], ne)
            elon, elat = 10.0 + r * np.cos(ang), 45.0 + r * np.sin(ang)
        qk = np.arange(nq, dtype=np.int64)
        ek = rng.permutation(ne).astype(np.int64)
        oq, oe, od, orr = KNN._topk_block(qk, qlon, qlat, ek, elon, elat, k)
        got = sorted(zip(oq.tolist(), oe.tolist(), od.tolist(), orr.tolist()))
        exp = brute(qk, qlon, qlat, ek, elon, elat, k)
        assert got == exp, f"trial {trial} regime {regime} nq={nq} ne={ne} k={k}"
