import pyspark.sql.functions as F

from osm_wikipedia_tag_validator_spark.functions import textfns as TX


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


def test_html_escape(spark):
    got = _one(spark, TX.html_escape_col(F.lit("a<b & c>d\ne")))
    assert got == "a&lt;b &amp; c&gt;d<br>e"


def test_escape_for_overpass(spark):
    got = _one(spark, TX.escape_for_overpass_col(F.lit(r"it's a \ test")))
    assert got == r"it\'s a \\ test"


def test_pluralized_count(spark):
    assert _one(spark, TX.pluralized_count_col(F.lit(1), "problem", "problems")) == "1 problem"
    assert _one(spark, TX.pluralized_count_col(F.lit(5), "problem", "problems")) == "5 problems"


def test_fit_within_limit(spark):
    long, short = F.lit("x" * 30), F.lit("short")
    assert _one(spark, TX.fit_within_limit_col([long, short], 10)) == "short"
    assert _one(spark, TX.fit_within_limit_col([long, short], 50)) == "x" * 30
    assert _one(spark, TX.fit_within_limit_col([long], 10)) is None
