"""The validator⇄wiki-source boundary (`sources/wiki_dim.py`): any raw
entity table normalizes through `build_wiki_entities_dim` into exactly
the column contract `operators.validator.join_wiki_entities` consumes —
the engine's replacement for the reference's per-row wikibrain lookups
(`generate_webpage_with_error_output.py:589,859,874`)."""

import pandas as pd
import pytest

from osm_wikipedia_tag_validator_spark.datagen import world as W
from osm_wikipedia_tag_validator_spark.sources import wiki_dim as WD


def test_generator_satisfies_contract(spark):
    """The synthetic generator is the reference implementation of the
    contract: normalizing it is a no-op apart from column order."""
    raw = W.spark_wiki_entities(spark, n=80)
    dim = WD.build_wiki_entities_dim(raw)
    assert list(dim.columns) == list(WD.CONSUMED_COLUMNS)
    raw_rows = {r["qid"]: r for r in raw.collect()}
    dim_rows = {r["qid"]: r for r in dim.collect()}
    assert set(raw_rows) == set(dim_rows)
    for qid, r in dim_rows.items():
        for c in WD.CONSUMED_COLUMNS:
            assert r[c] == raw_rows[qid][c], (qid, c)


def test_missing_required_column_fails_fast(spark):
    raw = W.spark_wiki_entities(spark, n=10).drop("sitelinks")
    with pytest.raises(ValueError, match="sitelinks"):
        WD.build_wiki_entities_dim(raw)
    with pytest.raises(ValueError, match="build_wiki_entities_dim"):
        WD.assert_wiki_dim(raw)


def test_column_map_and_casts_normalize_a_foreign_dump(spark):
    """A dump with foreign names, int ids, string booleans and no
    coordinate columns still normalizes."""
    pdf = pd.DataFrame(
        {
            "id": ["Q5", "Q7"],
            "enwiki": ["en:A", "en:B"],
            "language": ["en", "en"],
            "exists": ["true", "false"],
            "redirect_to": [None, "Q5"],
            "is_disambiguation": ["false", "true"],
            "instance_of": ["Q515", "Q4167410"],
            "sitelinks": [{"en": "en:A"}, {"en": "en:B"}],
        }
    )
    schema = (
        "id string, enwiki string, language string, exists string, "
        "redirect_to string, is_disambiguation string, instance_of string, "
        "sitelinks map<string,string>"
    )
    dim = WD.build_wiki_entities_dim(
        spark.createDataFrame(pdf, schema),
        column_map={"id": "qid", "enwiki": "article", "language": "lang"},
    )
    rows = {r["qid"]: r for r in dim.collect()}
    assert rows["Q5"]["exists"] is True and rows["Q7"]["exists"] is False
    assert rows["Q7"]["is_disambiguation"] is True
    schema = {f.name: f.dataType.simpleString() for f in dim.schema.fields}
    assert schema == WD.CONSUMED_COLUMNS


def test_duplicate_qids_dedupe_deterministically(spark):
    pdf = pd.DataFrame(
        {
            "qid": ["Q1", "Q1", "Q1"],
            "article": ["en:Z", "en:A", None],
            "lang": ["en", "en", None],
            "exists": [True, True, True],
            "redirect_to": [None, None, None],
            "is_disambiguation": [False, False, False],
            "instance_of": ["Q515", "Q515", "Q515"],
            "sitelinks": [{}, {}, {}],
        }
    )
    schema = (
        "qid string, article string, lang string, exists boolean, "
        "redirect_to string, is_disambiguation boolean, instance_of string, "
        "sitelinks map<string,string>"
    )
    dim = WD.build_wiki_entities_dim(spark.createDataFrame(pdf, schema))
    rows = dim.collect()
    assert len(rows) == 1
    # smallest non-null article wins — stable across source ordering
    assert rows[0]["article"] == "en:A"


def test_validator_consumes_normalized_dim(spark):
    """End-to-end: the flagship validator accepts the normalized dim
    (same rows as feeding the generator output directly)."""
    from osm_wikipedia_tag_validator_spark.operators import validator as V

    elements = W.spark_elements(spark, 400)
    regions = W.spark_regions(spark)
    raw = W.spark_wiki_entities(spark)
    a = V.validate(elements, WD.build_wiki_entities_dim(raw), regions).count()
    b = V.validate(elements, raw, regions).count()
    assert a == b and a > 0


def test_validator_caches_only_contract_columns(spark):
    """A raw dim with columns outside the contract (the generator's
    `lat`/`lon`/`has_coord`) is projected before the validator caches
    its pre-joined wiki dim, so none of them is cached or broadcast."""
    from osm_wikipedia_tag_validator_spark import session as S
    from osm_wikipedia_tag_validator_spark.operators import validator as V

    raw = W.spark_wiki_entities(spark, n=80)
    extra = {"lat", "lon", "has_coord"}
    assert extra <= set(raw.columns)
    V.validate(W.spark_elements(spark, 80), raw, W.spark_regions(spark))
    dim = S._SNAPSHOT_MEMOS["wiki_dim"][3]
    assert set(WD.CONSUMED_COLUMNS) <= set(dim.columns)
    assert not extra & set(dim.columns)
