"""Per-snapshot memos: the validator's cached pre-joined wiki dim and the
PIP paths' collected polygon dim are built once per input snapshot, and
a new snapshot — committed, or a parquet path rewritten in place — is
seen by the very next call."""

import numpy as np
from pyspark.sql import functions as F

from osm_wikipedia_tag_validator_spark import session as S
from osm_wikipedia_tag_validator_spark.datagen import world as W
from osm_wikipedia_tag_validator_spark.operators import spatial_join as SJ
from osm_wikipedia_tag_validator_spark.operators import validator as V
from osm_wikipedia_tag_validator_spark.plans import incremental as INC
from osm_wikipedia_tag_validator_spark.sources import tables as T
from osm_wikipedia_tag_validator_spark.sources import wiki_dim as WD


def _wiki(spark, q1_exists):
    return spark.createDataFrame(
        [
            ("Q1", "en:Good", "en", None, False, q1_exists, "place", 1.0, 1.0, True, {"en": "en:Good"}),
            ("Q2", "en:Other", "en", None, False, True, "place", None, None, False, {"en": "en:Other"}),
        ],
        W.WIKI_SCHEMA,
    )


def _q1_error(spark, wiki):
    els = spark.createDataFrame(
        [("node", 1, 0.0, -10.0, {"wikidata": "Q1"}, "alpha", 1000, None)],
        W.ELEMENTS_SCHEMA,
    )
    rows = V.validate(els, WD.build_wiki_entities_dim(wiki), W.spark_regions(spark)).collect()
    return rows[0]["error_id"]


def _persistent_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_new_wiki_snapshot_is_seen(spark, tmp_path):
    path = str(tmp_path / "wiki")
    T.write_table(_wiki(spark, True), path)
    assert _q1_error(spark, T.read_table(spark, path)) is None
    T.write_table(_wiki(spark, False), path)
    assert _q1_error(spark, T.read_table(spark, path)) == "wikidata tag links to 404"


def test_wiki_parquet_overwritten_in_place_is_seen(spark, tmp_path):
    path = str(tmp_path / "wiki.parquet")
    _wiki(spark, True).write.parquet(path)
    assert _q1_error(spark, spark.read.parquet(path)) is None
    _wiki(spark, False).write.mode("overwrite").parquet(path)
    assert _q1_error(spark, spark.read.parquet(path)) == "wikidata tag links to 404"


def test_new_redirect_target_article_is_seen(spark, tmp_path):
    """The redirect target's article is looked up when the memo fills:
    a new snapshot that renames the target changes the proposed change
    of the next validate."""
    path = str(tmp_path / "wiki")
    els = spark.createDataFrame(
        [("node", 1, 0.0, -10.0, {"wikipedia": "en:Old"}, "alpha", 1000, None)],
        W.ELEMENTS_SCHEMA,
    )

    def wiki(target):
        return spark.createDataFrame(
            [
                ("Q1", target, "en", None, False, True, "place", None, None, False, {"en": target}),
                ("Q2", "en:Old", "en", "Q1", False, True, "place", None, None, False, {"en": "en:Old"}),
            ],
            W.WIKI_SCHEMA,
        )

    def proposed():
        wiki_dim = WD.build_wiki_entities_dim(T.read_table(spark, path))
        row = V.validate(els, wiki_dim, W.spark_regions(spark)).first()
        assert row["error_id"] == "wikipedia tag links to a redirect"
        return [(c["from"], c["to"]) for c in row["report"]["proposed_tagging_changes"]]

    T.write_table(wiki("en:New"), path)
    assert proposed() == [({"wikipedia": "en:Old"}, {"wikipedia": "en:New"})]
    T.write_table(wiki("en:Newer"), path)
    assert proposed() == [({"wikipedia": "en:Old"}, {"wikipedia": "en:Newer"})]


def test_new_polygon_snapshot_is_seen(spark, tmp_path):
    path = str(tmp_path / "polygons")
    square = [[(-1.0, -1.0), (1.0, -1.0), (1.0, 1.0), (-1.0, 1.0), (-1.0, -1.0)]]
    far = [[(x + 50.0, y) for x, y in square[0]]]
    pts = spark.createDataFrame([("node", 1, 0.0, 0.0)], "type string, id long, lon double, lat double")

    def regions():
        polys = T.read_table(spark, path)
        tag = SJ.point_in_polygon_tag(pts, polys).first()["containing_region"]
        join = [r["region"] for r in SJ.point_in_polygon_join(pts, polys).collect()]
        return tag, join

    T.write_table(spark.createDataFrame([("alpha", "p1", square)], W.POLYGONS_SCHEMA), path)
    assert regions() == ("alpha", ["alpha"])
    T.write_table(spark.createDataFrame([("beta", "p1", square)], W.POLYGONS_SCHEMA), path)
    assert regions() == ("beta", ["beta"])
    T.write_table(spark.createDataFrame([("beta", "p1", far)], W.POLYGONS_SCHEMA), path)
    assert regions() == (None, [])


def test_one_cached_wiki_entry_per_snapshot(spark, tmp_path):
    path = str(tmp_path / "wiki")
    T.write_table(W.spark_wiki_entities(spark), path)
    elements = W.spark_elements(spark, 400)
    regions = W.spark_regions(spark)

    def run():
        out = V.validate(elements, WD.build_wiki_entities_dim(T.read_table(spark, path)), regions)
        return sorted(
            map(repr, out.select("type", "id", "status", "error_id", "suppressed",
                                 F.to_json("report")).collect())
        )

    spark.catalog.clearCache()
    before = _persistent_rdds(spark)
    first, second = run(), run()
    assert len(_persistent_rdds(spark) - before) == 1
    assert first == second and len(first) > 0
    spark.catalog.clearCache()
    assert run() == first


def test_cached_and_uncached_reads_share_one_entry(spark, tmp_path):
    """A cached read of a snapshot (its optimized plan lists no files)
    hits the entry an uncached read of the same snapshot filled."""
    path = str(tmp_path / "wiki")
    T.write_table(_wiki(spark, True), path)
    builds = []

    def memo(df):
        return S.snapshot_memo("test", df, lambda: builds.append(df) or len(builds))

    cached = T.read_table(spark, path).cache()
    cached.count()
    try:
        assert memo(T.read_table(spark, path)) == memo(cached) == 1
        T.write_table(_wiki(spark, False), path)
        assert memo(T.read_table(spark, path)) == 2
    finally:
        cached.unpersist()
        S._SNAPSHOT_MEMOS.pop("test", None)


def test_stop_spark_clears_memo_slots(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "wiki")
    T.write_table(_wiki(spark, True), path)
    _q1_error(spark, T.read_table(spark, path))
    assert "wiki_dim" in S._SNAPSHOT_MEMOS
    # keep the shared session alive: only the slot bookkeeping is checked
    monkeypatch.setattr(S.SparkSession, "getActiveSession", staticmethod(lambda: None))
    S.stop_spark()
    assert S._SNAPSHOT_MEMOS == {}


def _elements_batch(spark, lo, n, ts):
    pdf = W.gen_elements_batch(np.arange(lo, lo + n, dtype=np.int64))
    pdf["download_timestamp"] = ts
    return spark.createDataFrame(pdf, W.ELEMENTS_SCHEMA)


def test_incremental_round_job_count_guard(spark, tmp_path, count_jobs):
    """Two incremental rounds over one wiki snapshot: the second reuses
    the cached wiki dim and every read is planned from its manifest
    schema, so it launches fewer jobs than the first, which fills the
    memo."""
    d = {k: str(tmp_path / k) for k in ("wiki", "state", "delta-0", "delta-1")}
    T.write_table(W.spark_wiki_entities(spark), d["wiki"])
    T.write_table(INC.initial_state(_elements_batch(spark, 0, 300, 1000)), d["state"])
    T.write_table(_elements_batch(spark, 250, 100, 2000), d["delta-0"])
    T.write_table(_elements_batch(spark, 320, 100, 3000), d["delta-1"])
    regions = W.spark_regions(spark)

    def one_round(r):
        merged = INC.ingest_delta(
            T.read_table(spark, d["state"]), T.read_table(spark, d[f"delta-{r}"])
        )
        wiki = WD.build_wiki_entities_dim(T.read_table(spark, d["wiki"]))
        T.write_table(INC.validate_unchecked(merged, wiki, regions), d["state"])

    _, round1 = count_jobs(lambda: one_round(0))
    _, round2 = count_jobs(lambda: one_round(1))
    assert round2 < round1
    # Measured with this test's session (local[8], 8 shuffle partitions,
    # AQE on), counted as above: round 1 launched 14 jobs, round 2
    # launched 7. Before the manifest schema and the wiki-dim memo, both
    # rounds launched 17; before the validator joined its regions once
    # (one region broadcast, not two), 15 and 9; before the redirect
    # target's article came from the memoised dim (three wiki broadcasts
    # per query, not four), 14 and 8.
    assert round2 <= 7, (round1, round2)
