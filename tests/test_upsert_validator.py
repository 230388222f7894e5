import pandas as pd
from pyspark.sql import functions as F

from osm_wikipedia_tag_validator_spark.datagen import world as W
from osm_wikipedia_tag_validator_spark.operators import upsert as UP
from osm_wikipedia_tag_validator_spark.operators import validator as V


def test_latest_per_key_keeps_newest(spark):
    df = spark.createDataFrame(
        [
            ("node", 1, 100, "a"),
            ("node", 1, 200, "b"),
            ("way", 1, 100, "c"),
            ("node", 2, 50, "d"),
        ],
        "type string, id long, download_timestamp long, payload string",
    )
    got = UP.latest_per_key(df).toPandas().set_index(["type", "id"])["payload"].to_dict()
    assert got == {("node", 1): "b", ("way", 1): "c", ("node", 2): "d"}


def test_merge_upsert_delta_wins_only_when_newer(spark):
    base = spark.createDataFrame(
        [("node", 1, 200, "base"), ("node", 2, 100, "base2")],
        "type string, id long, download_timestamp long, payload string",
    )
    delta = spark.createDataFrame(
        [("node", 1, 150, "older-delta"), ("node", 2, 300, "newer-delta"), ("node", 3, 10, "insert")],
        "type string, id long, download_timestamp long, payload string",
    )
    got = UP.merge_upsert(base, delta).toPandas().set_index("id")["payload"].to_dict()
    assert got == {1: "base", 2: "newer-delta", 3: "insert"}


def test_invalidate_stale(spark):
    df = spark.createDataFrame(
        [(1, 100, 200, "err-x", "error"), (2, 300, 200, "err-y", "error")],
        "id long, download_timestamp long, new_download_timestamp long, error_id string, status string",
    )
    got = UP.invalidate_stale(df).toPandas().set_index("id")
    assert got.loc[1, "error_id"] is None and got.loc[1, "status"] == "unchecked"
    assert got.loc[2, "error_id"] == "err-y" and got.loc[2, "status"] == "error"


def _mini_world(spark):
    regions = W.spark_regions(spark)
    # sitelinks: Q5 has an en twin (→ fixable wrong-language), Q7 is
    # de-only (→ plain wrong-language), Q8 is a tests-quarantine class
    wiki = spark.createDataFrame(
        [
            ("Q1", "en:Good", "en", None, False, True, "place", 1.0, 1.0, True, {"en": "en:Good"}),
            ("Q2", "en:Redirecting", "en", "Q1", False, True, "place", None, None, False, {"en": "en:Redirecting"}),
            ("Q3", "en:Disambig", "en", None, True, True, "place", None, None, False, {"en": "en:Disambig"}),
            ("Q4", "en:Person", "en", None, False, True, "human", None, None, False, {"en": "en:Person"}),
            ("Q5", "de:Gut", "de", None, False, True, "place", None, None, False, {"de": "de:Gut", "en": "en:Gut"}),
            ("Q6", "en:Gone", "en", None, False, False, "place", None, None, False, {"en": "en:Gone"}),
            ("Q7", "de:Nur", "de", None, False, True, "place", None, None, False, {"de": "de:Nur"}),
            ("Q8", "en:Quark", "en", None, False, True, "science", None, None, False, {"en": "en:Quark"}),
        ],
        W.WIKI_SCHEMA,
    )
    return regions, wiki


def _elem(spark, tags, area="alpha"):
    return spark.createDataFrame(
        [("node", 1, 0.0, -10.0, tags, area, 1000, None)], W.ELEMENTS_SCHEMA
    )


def _one_error(spark, tags, area="alpha"):
    regions, wiki = _mini_world(spark)
    out = V.validate(_elem(spark, tags, area), wiki, regions).toPandas()
    assert len(out) == 1
    return out["error_id"].iloc[0], out


CASES = [
    ({"wikipedia": "en:Good"}, None),
    ({"wikipedia": "NoLangPrefix"}, "malformed wikipedia tag"),
    ({"brand:wikipedia": "NoLangPrefix"}, "malformed secondary wikipedia tag - for brand prefixed tags"),
    ({"wikidata": "banana"}, "malformed wikidata tag"),
    ({"subject:wikidata": "banana"}, "malformed secondary wikidata tag - for subject prefixed tags"),
    ({"name:etymology:wikidata": "banana"}, "malformed secondary wikidata tag - for name:etymology prefixed tags"),
    ({"wikipedia:en": "Good"}, "invalid old-style wikipedia tag"),
    ({"wikipedia": "en:Missing"}, "wikipedia tag links to 404"),
    ({"wikipedia": "en:Gone"}, "wikipedia tag links to 404"),
    ({"wikidata": "Q999999"}, "wikidata tag links to 404"),
    ({"subject:wikidata": "Q999999"}, "secondary wikidata tag links to 404"),
    ({"wikipedia": "en:Good", "wikidata": "Q3"}, "wikipedia wikidata mismatch"),
    ({"wikipedia": "en:Redirecting", "wikidata": "Q1"},
     "wikipedia wikidata mismatch - follow wikipedia redirect"),
    ({"wikipedia": "en:Good", "wikidata": "Q2"},
     "wikipedia wikidata mismatch - follow wikidata redirect"),
    ({"wikidata": "Q2"}, "wikidata tag links to a redirect"),
    ({"wikipedia": "en:Redirecting"}, "wikipedia tag links to a redirect"),
    ({"wikipedia": "en:Disambig"}, "link to a disambiguation page"),
    # disambig-refined mismatch (wp → disambiguation page, wd does not)
    ({"wikipedia": "en:Disambig", "wikidata": "Q1"},
     "wikipedia wikidata mismatch - wikipedia points to disambiguation page and wikidata does not"),
    # prefixed PAIRS — the reference's "- for {prefix} prefixed tags"
    # generated families, validated pair-coherently
    ({"architect:wikipedia": "en:Good", "architect:wikidata": "Q3"},
     "wikipedia wikidata mismatch - for architect prefixed tags"),
    ({"sculptor:wikipedia": "en:Redirecting", "sculptor:wikidata": "Q1"},
     "wikipedia wikidata mismatch - follow wikipedia redirect - for sculptor prefixed tags"),
    # a prefixed pair linking a human article is CORRECT secondary
    # usage — no complaint
    ({"taxon:wikipedia": "en:Person"}, None),
    # out-of-pair secondary keys next to a clean plain pair: shape/404
    # checks only, never a mismatch against the plain pair
    ({"wikipedia": "en:Good", "subject:wikidata": "banana"},
     "malformed secondary wikidata tag - for subject prefixed tags"),
    ({"wikipedia": "en:Good", "related:wikidata": "Q999999"},
     "secondary wikidata tag links to 404"),
    ({"wikipedia": "en:Good", "brand:wikipedia": "NoLang"},
     "malformed secondary wikipedia tag - for brand prefixed tags"),
    # information boards should link their subject via subject:*
    ({"tourism": "information", "information": "board", "wikipedia": "en:Good"},
     "information board with wikipedia tag, not subject:wikipedia"),
    ({"tourism": "information", "information": "board", "wikidata": "Q1"},
     "information board with wikidata tag, not subject:wikidata"),
    # a board already using subject:* is correct
    ({"tourism": "information", "information": "board", "subject:wikidata": "Q1"}, None),
    # catch-all human marker, ranked after every specific diagnosis
    ({"wikipedia": "en:Good", "fixme:wikipedia": "verify"},
     "something is wrong with wikipedia tag - fixme:wikipedia is present"),
    # a LONE fixme:wikipedia is a marker, never a prefixed link pair
    ({"fixme:wikipedia": "needs check"},
     "something is wrong with wikipedia tag - fixme:wikipedia is present"),
    # bridge:* links belong on the bridge outline object
    ({"bridge:wikipedia": "en:Good"}, "bridge:wikipedia - move to bridge outline"),
    ({"bridge:wikidata": "Q1"}, "bridge:wikidata - move to bridge outline"),
    ({"bridge:wikipedia": "en:Good", "bridge:wikidata": "Q1"},
     "bridge:wikipedia and bridge:wikidata - move to bridge outline"),
    # the outline object itself is the right place — no complaint
    ({"bridge:wikipedia": "en:Good", "man_made": "bridge"}, None),
    # a BROKEN bridge pair keeps its specific diagnosis
    ({"bridge:wikipedia": "en:Good", "bridge:wikidata": "Q3"},
     "wikipedia wikidata mismatch - for bridge prefixed tags"),
    ({"wikipedia": "en:Person"},
     "should use a secondary wikipedia tag - linking from wikipedia tag to a human"),
    ({"wikidata": "Q4"},
     "should use a secondary wikipedia tag - linking from wikidata tag to a human"),
    ({"wikipedia": "en:Person", "wikidata": "Q4"},
     "should use a secondary wikipedia tag - linking from wikipedia and wikidata tag to a human"),
    ({"wikipedia": "de:Gut"},
     "wikipedia tag in unexpected language, good one in expected language found"),
    ({"wikipedia": "de:Nur"}, "wikipedia tag unexpected language"),
    ({"wikipedia": "eng:Good"}, "wikipedia tag using redirecting language code"),
    ({"wikipedia": "xx:Good"}, "malformed wikipedia tag - nonexisting language code"),
    ({"wikipedia": "en:Quark"},
     "should use a secondary wikipedia tag - linking from wikipedia tag to a science"),
    ({"name": "no wiki tags"}, "FILTERED"),
]


def test_validator_cascade_all_classes(spark):
    """Golden selftest pattern (maproulette_challenge_creation.py:399-433):
    inputs with known single expected error class (or clean)."""
    regions, wiki = _mini_world(spark)
    for tags, expected in CASES:
        if expected == "FILTERED":
            out = V.validate(_elem(spark, tags), wiki, regions).toPandas()
            assert len(out) == 0, tags  # relevance filter drops it
            continue
        got, _ = _one_error(spark, tags)
        assert got == expected, f"{tags}: got {got!r}, want {expected!r}"


def test_validator_priority_order(spark):
    # malformed wikipedia beats wikidata redirect
    got, _ = _one_error(spark, {"wikipedia": "NoColon", "wikidata": "Q2"})
    assert got == "malformed wikipedia tag"


def test_ignored_problems_mark_not_drop(spark):
    # delta ignores 'wikipedia tag links to 404': the row SURVIVES in
    # state (suppressed=True) — the reference stores the complaint and
    # only skips it at report time (`script.py:309-313`)
    from osm_wikipedia_tag_validator_spark.plans import pipeline as P

    regions, wiki = _mini_world(spark)
    validated = V.validate(
        _elem(spark, {"wikipedia": "en:Missing"}, area="delta"), wiki, regions
    )
    out = validated.toPandas()
    assert len(out) == 1
    assert out["suppressed"].iloc[0] == True  # noqa: E712
    assert out["error_id"].iloc[0] == "wikipedia tag links to 404"
    # ...but every report surface drops it
    flagged = validated.withColumn("hidden", F.lit(False))
    assert P.error_reports(flagged, regions).count() == 0
    # a non-ignored region reports the same error
    validated2 = V.validate(
        _elem(spark, {"wikipedia": "en:Missing"}, area="alpha"), wiki, regions
    )
    assert not validated2.toPandas()["suppressed"].iloc[0]


def test_suppressed_edge_cases(spark):
    # `suppressed` is read off the element's joined region row
    regions, wiki = _mini_world(spark)

    def one(tags, area, regions=regions):
        out = V.validate(_elem(spark, tags, area), wiki, regions).toPandas()
        assert len(out) == 1
        return out.iloc[0]

    # an element in no region: not suppressed, no region language
    row = one({"wikipedia": "en:Missing"}, "nowhere")
    assert row["error_id"] == "wikipedia tag links to 404"
    assert row["suppressed"] == False  # noqa: E712
    assert row["language_code"] is None
    # a clean row in a region that ignores some error id
    row = one({"wikipedia": "en:Good"}, "delta")
    assert row["error_id"] is None and row["suppressed"] == False  # noqa: E712
    # a region listing the same ignored id twice: still one row out
    err = "wikipedia tag links to 404"
    twice = regions.withColumn(
        "ignored_problems",
        F.when(F.col("internal_region_name") == "delta", F.array(F.lit(err), F.lit(err)))
        .otherwise(F.col("ignored_problems")),
    )
    row = one({"wikipedia": "en:Missing"}, "delta", twice)
    assert row["error_id"] == err and row["suppressed"] == True  # noqa: E712


def test_ignored_problems_survive_incremental_round(spark):
    # regression (round-1 ADVICE): suppressed rows must not vanish from
    # incremental state between rounds
    from osm_wikipedia_tag_validator_spark.plans import incremental as INC

    regions, wiki = _mini_world(spark)
    state = INC.initial_state(_elem(spark, {"wikipedia": "en:Missing"}, area="delta"))
    after = INC.validate_unchecked(state, wiki, regions).toPandas()
    assert len(after) == 1
    assert after["status"].iloc[0] == "error"


def test_report_struct_fields(spark):
    _, out = _one_error(spark, {"wikidata": "Q2"})
    rep = out["report"].iloc[0]
    assert rep["error_id"] == "wikidata tag links to a redirect"
    assert rep["osm_object_url"] == "https://www.openstreetmap.org/node/1"
    assert rep["prerequisite"] == {"wikidata": "Q2"}
    assert rep["proposed_tagging_changes"][0]["from"] == {"wikidata": "Q2"}
    assert rep["proposed_tagging_changes"][0]["to"] == {"wikidata": "Q1"}


def test_secondary_key_not_flagged_as_human(spark):
    # brand:wikipedia to a human is the CORRECT secondary usage
    got, _ = _one_error(spark, {"brand:wikipedia": "en:Person"})
    assert got is None


def test_proposed_change_wikipedia_redirect(spark):
    # F13: wikipedia-redirect classes carry a full from/to change
    # (`generate_webpage_with_error_output.py:216-234`)
    _, out = _one_error(spark, {"wikipedia": "en:Redirecting"})
    rep = out["report"].iloc[0]
    ch = rep["proposed_tagging_changes"][0]
    assert ch["from"] == {"wikipedia": "en:Redirecting"}
    assert ch["to"] == {"wikipedia": "en:Good"}  # article of redirect target Q1


def test_proposed_change_old_style(spark):
    _, out = _one_error(spark, {"wikipedia:en": "Good"})
    ch = out["report"].iloc[0]["proposed_tagging_changes"][0]
    assert ch["from"] == {"wikipedia:en": "Good"}
    assert ch["to"] == {"wikipedia": "en:Good"}


def test_proposed_change_follow_wikidata_redirect(spark):
    _, out = _one_error(spark, {"wikipedia": "en:Good", "wikidata": "Q2"})
    ch = out["report"].iloc[0]["proposed_tagging_changes"][0]
    assert ch["from"] == {"wikidata": "Q2"}
    assert ch["to"] == {"wikidata": "Q1"}


def test_proposed_wikipedia_target_extraction(spark):
    import pytest
    from pyspark.sql import functions as F

    regions, wiki = _mini_world(spark)
    v = V.validate(_elem(spark, {"wikipedia": "en:Redirecting"}), wiki, regions)
    out = V.proposed_wikipedia_target(v).toPandas()
    assert out["current_wikipedia_target"].iloc[0] == "en:Redirecting"
    assert out["desired_wikipedia_target"].iloc[0] == "en:Good"
    # rows with no wikipedia-touching change → NULLs, no error
    v2 = V.validate(_elem(spark, {"wikidata": "Q2"}), wiki, regions)
    out2 = V.proposed_wikipedia_target(v2).toPandas()
    assert out2["current_wikipedia_target"].iloc[0] is None
    # the uniqueness assertion fires on a synthetic multi-change report
    # (reference raises ValueError, :222-223)
    broken = v.withColumn(
        "report",
        F.col("report").withField(
            "proposed_tagging_changes",
            F.concat(
                F.col("report.proposed_tagging_changes"),
                F.array(F.struct(
                    F.create_map(F.lit("wikipedia"), F.lit("x")).alias("from"),
                    F.create_map(F.lit("wikipedia"), F.lit("y")).alias("to"),
                )),
            ),
        ),
    )
    with pytest.raises(Exception, match="multiple|ASSERT"):
        V.proposed_wikipedia_target(broken).collect()


def test_proposed_change_wrong_language_fixable(spark):
    # language-preference obvious fix: retag to the sitelink in the
    # region's preferred language (alpha → en)
    _, out = _one_error(spark, {"wikipedia": "de:Gut"})
    ch = out["report"].iloc[0]["proposed_tagging_changes"][0]
    assert ch["from"] == {"wikipedia": "de:Gut"}
    assert ch["to"] == {"wikipedia": "en:Gut"}


def test_proposed_change_lang_code_redirect(spark):
    _, out = _one_error(spark, {"wikipedia": "eng:Good"})
    ch = out["report"].iloc[0]["proposed_tagging_changes"][0]
    assert ch["from"] == {"wikipedia": "eng:Good"}
    assert ch["to"] == {"wikipedia": "en:Good"}


def test_request_missing_tags_families(spark):
    # reference obvious_fixes tag-completion classes, gated off by
    # default (baseline cascade only complains about present-but-wrong
    # tags) and enabled via request_missing_tags=True
    regions, wiki = _mini_world(spark)

    def run(tags, **kw):
        return V.validate(_elem(spark, tags), wiki, regions, **kw).toPandas()

    # default off: a valid wikipedia-only element stays clean
    assert run({"wikipedia": "en:Good"})["error_id"].iloc[0] is None

    out = run({"wikipedia": "en:Good"}, request_missing_tags=True)
    assert out["error_id"].iloc[0] == "wikidata from wikipedia tag"
    ch = out["report"].iloc[0]["proposed_tagging_changes"][0]
    assert ch["from"] == {} and ch["to"] == {"wikidata": "Q1"}

    out = run({"wikidata": "Q5"}, request_missing_tags=True)
    assert out["error_id"].iloc[0] == "wikipedia from wikidata tag"
    ch = out["report"].iloc[0]["proposed_tagging_changes"][0]
    assert ch["to"] == {"wikipedia": "en:Gut"}  # region-preferred sitelink

    out = run({"wikidata": "Q7"}, request_missing_tags=True)
    assert out["error_id"].iloc[0] == "wikipedia from wikidata tag, unexpected language"
    ch = out["report"].iloc[0]["proposed_tagging_changes"][0]
    assert ch["to"] == {"wikipedia": "de:Nur"}


def test_every_emitted_error_is_routed(spark):
    # note_unused_errors consistency (`generate_webpage…py:265-275`):
    # the synthetic world must only emit error ids the catalog routes
    from osm_wikipedia_tag_validator_spark.operators import reports as R
    from osm_wikipedia_tag_validator_spark.plans import pipeline as P

    inputs = P.build_inputs(spark, 800)
    v = P.validated_elements(inputs)
    unused = R.note_unused_errors(v, inputs["error_catalog"]).toPandas()
    assert len(unused) == 0, unused


def test_catalog_covers_cascade_families(spark):
    # every cascade family (except the config-dependent outside_region)
    # has at least one catalog row, and priorities agree
    from osm_wikipedia_tag_validator_spark.datagen.world import gen_error_catalog

    cat = gen_error_catalog()
    fams = set(cat["rule_family"])
    for fam in V.RULE_PRIORITIES:
        assert fam in fams, fam
    for _, row in cat.iterrows():
        if row["rule_family"] in V.RULE_PRIORITIES:
            assert row["priority"] == V.RULE_PRIORITIES[row["rule_family"]]
