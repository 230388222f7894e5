import pytest
from pyspark.sql import functions as F

from osm_wikipedia_tag_validator_spark.datagen import world as W
from osm_wikipedia_tag_validator_spark.operators import images_ops as IO
from osm_wikipedia_tag_validator_spark.streaming import events as SE


@pytest.fixture(scope="module")
def images(spark):
    return W.spark_images(spark, 60).cache()


def test_verify_invariants(images):
    v = IO.verify_invariants(images).toPandas()
    assert v["phash_match"].all()
    assert v["caption_ok"].all()
    assert v["invariant_ok"].all()
    from osm_wikipedia_tag_validator_spark.datagen.codecs import LOSSY_FMTS

    # lossless round trip: psnr inf (clipped to 1e9); lossy ≥ 40
    lossy = v["fmt"].isin(LOSSY_FMTS)
    assert (v.loc[~lossy, "psnr"] >= 1e8).all()
    assert (v.loc[lossy, "psnr"] >= 40).all()
    # the REAL lossy codec produces genuine finite reconstruction error
    dct = v.loc[v["fmt"] == "dct8", "psnr"]
    assert len(dct) > 0 and (dct < 1e8).all()


def test_verify_invariants_verdict_applies_min_psnr_db(images):
    """`invariant_ok` applies `min_psnr_db`: a bound above every dct8
    round trip fails each dct8 row, and only those (the other formats
    round-trip exactly)."""
    strict = IO.verify_invariants(images, min_psnr_db=1e8).toPandas()
    dct = strict["fmt"] == "dct8"
    assert dct.any() and not strict.loc[dct, "invariant_ok"].any()
    assert strict.loc[~dct, "invariant_ok"].all()


def test_caption_corruption_detected(spark, images):
    # byte-exact caption invariant: recompute the expected caption from
    # the seeded generator and flag any mutated row
    corrupted = images.withColumn(
        "caption",
        F.when(F.col("image_id") == "img-000000003", F.concat(F.col("caption"), F.lit("X")))
        .otherwise(F.col("caption")),
    )
    v = IO.verify_invariants(corrupted, caption_fn=W.expected_captions).toPandas()
    bad = v.loc[~v["caption_ok"], "image_id"].tolist()
    assert bad == ["img-000000003"]
    # and the honest pass is all-green
    ok = IO.verify_invariants(images, caption_fn=W.expected_captions).toPandas()
    assert ok["caption_ok"].all()


def test_rate_limited_batch_quota(spark):
    df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    take, overflow = SE.rate_limited_batch(df, quota=3, order_cols=["id"])
    got = take.toPandas()
    assert len(got) == 3 and overflow == 7
    # deterministic keep order: lowest ids
    assert sorted(got["id"].tolist()) == [0, 1, 2]
    # under quota → no overflow
    take2, overflow2 = SE.rate_limited_batch(df, quota=100, order_cols=["id"])
    assert take2.count() == 10 and overflow2 == 0


def test_rate_limited_sink_defer_hook(spark, tmp_path):
    """Each trigger: at most `quota` rows reach the sink, the over-quota
    remainder reaches `defer_fn` (sink ∪ defer == batch, disjoint) —
    the re-enqueue hook standing in for the reference's re-read-each-
    loop pending table."""
    df = spark.range(10).select(F.col("id"), (F.col("id") * 3).alias("v"))
    src = str(tmp_path / "rl_src")
    df.coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema("id long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sunk, deferred = [], []
    q = SE.rate_limited_sink(
        stream,
        lambda d, b: sunk.extend(r["id"] for r in d.collect()),
        quota_per_batch=4,
        order_cols=["id"],
        defer_fn=lambda d, b: deferred.extend(r["id"] for r in d.collect()),
        query_name="rl_test",
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(sunk) == [0, 1, 2, 3]          # deterministic lowest-first
    assert sorted(deferred) == [4, 5, 6, 7, 8, 9]
    assert set(sunk).isdisjoint(deferred)


def test_rate_limited_split_partitions_exactly_under_collisions(spark):
    """Property test for the T8 quota split (round-4 verdict item 5):
    with deliberately colliding order keys — duplicate key values, FULL
    duplicate rows, and rows that differ ONLY in a MapType column — the
    sink and defer halves must partition every micro-batch exactly as
    multisets (no row reaches both, none is dropped), at every quota."""
    from collections import Counter

    rows = []
    for i in range(12):
        key = i % 2  # heavy key collisions
        for rep in range(2):  # exact full-row duplicates
            rows.append((key, f"p{i % 3}", {"a": str(i % 4)}))
        # same orderable prefix as above, different MAP value only —
        # the case the to_json sort key exists for
        rows.append((key, f"p{i % 3}", {"a": f"only{i}"}))
    df = spark.createDataFrame(
        rows, "k int, payload string, tags map<string,string>"
    ).repartition(8)  # many partitions so the two sorts run real jobs

    def multiset(pdf):
        return Counter(
            (int(r.k), r.payload, tuple(sorted(r.tags.items())))
            for r in pdf.itertuples()
        )

    whole = multiset(df.toPandas())
    total = sum(whole.values())
    for quota in (0, 1, 5, total // 2, total - 1, total, total + 10):
        take, rest = SE.rate_limited_split(df, quota, order_cols=["k"])
        tm, rm = multiset(take.toPandas()), multiset(rest.toPandas())
        assert sum(tm.values()) == min(quota, total)
        assert tm + rm == whole, f"quota={quota}: not an exact partition"


def test_rate_limited_split_map_column_not_last(spark):
    """Regression (round-5 review): _total_order tracked handled fields
    in the same list that holds to_json Column objects, so a map column
    FOLLOWED by any other column crashed on `name in cols` (Column ==
    str -> bool(Column) raises). The map-in-the-middle schema must split
    exactly like the map-last one."""
    from collections import Counter

    rows = [(i % 2, {"a": str(i % 3)}, f"p{i}") for i in range(10)]
    df = spark.createDataFrame(
        rows, "k int, tags map<string,string>, payload string"
    ).repartition(4)

    def multiset(pdf):
        return Counter(
            (int(r.k), tuple(sorted(r.tags.items())), r.payload)
            for r in pdf.itertuples()
        )

    whole = multiset(df.toPandas())
    take, rest = SE.rate_limited_split(df, 4, order_cols=["k"])
    tm, rm = multiset(take.toPandas()), multiset(rest.toPandas())
    assert sum(tm.values()) == 4
    assert tm + rm == whole


def test_rate_limited_split_nested_map_column(spark):
    """Regression (round-5 review): a NESTED map (array<map<...>>) is
    just as unorderable as a bare MapType but passed the old
    isinstance check and crashed orderBy. It must route through
    to_json like a top-level map and still break ties totally."""
    from collections import Counter

    rows = []
    for i in range(8):
        # identical orderable prefix; rows differ only in the nested map
        rows.append((1, [{"h": f"v{i}"}], "p"))
    df = spark.createDataFrame(
        rows, "k int, hist array<map<string,string>>, payload string"
    ).repartition(4)

    def multiset(pdf):
        return Counter(
            (int(r.k), tuple(tuple(sorted(m.items())) for m in r.hist), r.payload)
            for r in pdf.itertuples()
        )

    whole = multiset(df.toPandas())
    take, rest = SE.rate_limited_split(df, 3, order_cols=["k"])
    tm, rm = multiset(take.toPandas()), multiset(rest.toPandas())
    assert sum(tm.values()) == 3
    assert tm + rm == whole


def test_rate_limited_split_map_column_first_and_as_order_col(spark):
    """Regression (round-5 review, second pass): the seed columns —
    the first-schema-column default anchor and caller-passed
    order_cols — bypassed the map→to_json route, so a map-bearing
    column in EITHER position reached orderBy raw and crashed every
    trigger. Both seeds must split exactly as multisets."""
    from collections import Counter

    rows = [({"a": str(i % 3)}, i % 2, f"p{i}") for i in range(10)]
    df = spark.createDataFrame(
        rows, "tags map<string,string>, k int, payload string"
    ).repartition(4)

    def multiset(pdf):
        return Counter(
            (tuple(sorted(r.tags.items())), int(r.k), r.payload)
            for r in pdf.itertuples()
        )

    whole = multiset(df.toPandas())
    # default anchor = the map column (first in schema)
    take, rest = SE.rate_limited_split(df, 4)
    tm, rm = multiset(take.toPandas()), multiset(rest.toPandas())
    assert sum(tm.values()) == 4
    assert tm + rm == whole
    # caller explicitly orders BY the map column
    take, rest = SE.rate_limited_split(df, 6, order_cols=["tags"])
    tm, rm = multiset(take.toPandas()), multiset(rest.toPandas())
    assert sum(tm.values()) == 6
    assert tm + rm == whole
