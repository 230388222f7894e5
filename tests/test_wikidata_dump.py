"""Real-data ingestion seam (round-4 verdict item 6): a checked-in
sample in the PUBLIC wikidata entity-dump format (array framing,
trailing commas, property entities, a malformed line) parses through
`sources.wiki_dim.wikidata_dump_to_dim` into the dim contract, and the
validator produces IDENTICAL reports over the parsed dim and over a
hand-built dim with the same logical content — so a real user's first
step (dump → dim → validate) is pinned end to end.

Reference analog: the per-row wikibrain lookups the dim replaces
(`generate_webpage_with_error_output.py:589,859,874`)."""

import os

from osm_wikipedia_tag_validator_spark.datagen import world as W
from osm_wikipedia_tag_validator_spark.operators import validator as V
from osm_wikipedia_tag_validator_spark.sources import wiki_dim as WD

FIX = os.path.join(os.path.dirname(__file__), "fixtures")
DUMP = os.path.join(FIX, "wikidata_dump_sample.json")
REDIRECTS = os.path.join(FIX, "wikidata_redirects_sample.ndjson")

INSTANCE_MAP = {"Q5": "human", "Q515": "place"}


def _parsed_dim(spark):
    return WD.wikidata_dump_to_dim(
        spark, DUMP,
        preferred_langs=("en",),
        instance_of_map=INSTANCE_MAP,
        redirects_path=REDIRECTS,
    )


def _hand_dim(spark):
    """The fixture's logical content, written out by hand — what a
    correct parse MUST produce (one row per qid; Q100's duplicate dump
    line collapses; the property entity and the malformed line drop)."""
    rows = [
        ("Q100", "en:Alphaville (city)", "en", None, False, True, "place",
         {"en": "en:Alphaville (city)", "de": "de:Alphaville (Stadt)"}),
        ("Q101", "en:Mercury", "en", None, True, True, "Q4167410",
         {"en": "en:Mercury"}),
        ("Q102", "en:Ada Lovelace", "en", None, False, True, "human",
         {"en": "en:Ada Lovelace", "pl": "pl:Ada Lovelace"}),
        ("Q103", None, None, "Q100", False, True, None, {}),
        ("Q104", "zh-min-nan:Tâi-lâm", "zh-min-nan", None, False, True, None,
         {"zh-min-nan": "zh-min-nan:Tâi-lâm"}),
        ("Q105", None, None, "Q102", False, True, None, {}),
        ("Q106", None, None, None, False, True, None, {}),
    ]
    schema = (
        "qid string, article string, lang string, redirect_to string, "
        "is_disambiguation boolean, exists boolean, instance_of string, "
        "sitelinks map<string,string>"
    )
    return spark.createDataFrame(rows, schema)


def _elements(spark):
    """One element per ingestion-visible behavior."""
    rows = [
        # wikidata 404: Q999 is nowhere in the dump
        ("node", 1, 50.0, 10.0, {"wikidata": "Q999"}, "alpha", 1000, None),
        # sidecar-only redirect entity → 'wikidata tag links to a redirect'
        ("node", 2, 50.0, 10.0, {"wikidata": "Q103"}, "alpha", 1000, None),
        # article resolves to the disambiguation entity
        ("node", 3, 50.0, 10.0, {"wikipedia": "en:Mercury"}, "alpha", 1000, None),
        # human-class entity → secondary-wikipedia-tag family
        ("node", 4, 50.0, 10.0, {"wikipedia": "en:Ada Lovelace",
                                 "wikidata": "Q102"}, "alpha", 1000, None),
        # clean pair: city with coords, matching article+qid
        ("node", 5, 50.05, 10.1, {"wikipedia": "en:Alphaville (city)",
                                  "wikidata": "Q100"}, "alpha", 1000, None),
        # non-latin lang sitelink parses and joins
        ("node", 6, 23.0, 120.2, {"wikipedia": "zh-min-nan:Tâi-lâm",
                                  "wikidata": "Q104"}, "beta", 1000, None),
    ]
    return spark.createDataFrame(rows, W.ELEMENTS_SCHEMA)


def _report_keys(df):
    pdf = (
        df.select("type", "id", "error_id")
        .toPandas()
        .sort_values(["type", "id", "error_id"])
    )
    return list(pdf.itertuples(index=False, name=None))


def test_dump_parses_to_exact_contract_content(spark):
    got = {r["qid"]: r.asDict() for r in _parsed_dim(spark).collect()}
    want = {r["qid"]: r.asDict() for r in _hand_dim(spark).collect()}
    assert set(got) == set(want)
    for qid in want:
        assert got[qid] == want[qid], qid
    # schema is exactly the consumed contract
    schema = {f.name: f.dataType.simpleString()
              for f in _parsed_dim(spark).schema.fields}
    assert schema == WD.CONSUMED_COLUMNS


def test_validator_parity_dump_vs_handbuilt(spark):
    elements = _elements(spark)
    regions = W.spark_regions(spark)
    got = _report_keys(V.validate(elements, _parsed_dim(spark), regions))
    want = _report_keys(V.validate(elements, _hand_dim(spark), regions))
    assert got == want and len(got) > 0
    errs = {e for (_, _, e) in got}
    assert "wikidata tag links to 404" in errs
    assert "wikidata tag links to a redirect" in errs
    assert "link to a disambiguation page" in errs


def test_dump_parse_uncached_matches_cached(spark):
    """cache_parse=False (round-5 review: the persist has no unpersist
    point and DISK-tier blocks outlive LRU pressure, so callers
    building many dims need a zero-retention mode) must produce the
    identical dim — it only trades a second dump parse for it."""
    cached = {r["qid"]: r.asDict() for r in _parsed_dim(spark).collect()}
    uncached_df = WD.wikidata_dump_to_dim(
        spark, DUMP,
        preferred_langs=("en",),
        instance_of_map=INSTANCE_MAP,
        redirects_path=REDIRECTS,
        cache_parse=False,
    )
    uncached = {r["qid"]: r.asDict() for r in uncached_df.collect()}
    assert uncached == cached
