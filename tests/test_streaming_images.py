import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_wikipedia_tag_validator_spark.datagen import world as W
from osm_wikipedia_tag_validator_spark.operators import images_ops as IO
from osm_wikipedia_tag_validator_spark.streaming import events as SE


@pytest.fixture(scope="module")
def images(spark):
    return W.spark_images(spark, 60).cache()


def test_extract_features(images):
    feats = IO.extract_features(images).toPandas()
    assert len(feats) == 60
    # recomputed hash must equal the stored phash (datagen computed it
    # from the same decoded pixels)
    assert (feats["decoded_phash"] == feats["phash"]).all()
    assert feats["mean_luma"].between(0, 255).all()


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


def test_thumbnails_decode(images):
    from osm_wikipedia_tag_validator_spark.datagen.codecs import decode_image

    th = IO.make_thumbnails(images, size=8).toPandas()
    assert len(th) == 60
    img = decode_image(bytes(th["thumb"].iloc[0]))
    assert img.shape == (8, 8, 3)


def test_phash_neardup_pairs(spark, images):
    feats = IO.extract_features(images)
    pairs = IO.neardup_by_phash(feats, max_hamming=2).toPandas()
    assert list(pairs.columns) == ["id1", "id2", "hamming"]
    # pairs symmetric-free and within threshold
    assert (pairs["hamming"] <= 2).all()
    assert (pairs["id1"] < pairs["id2"]).all()


def test_phash_neardup_exact_vs_bruteforce(spark):
    """At the default threshold (6 bits over 8 bands) the band join is
    EXACT: it returns every pair an all-pairs brute force finds, and
    nothing else. Planted copies with 0..7 flipped bits sit on both
    sides of the threshold."""
    rng = np.random.default_rng(5)
    base = rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, 40, dtype=np.int64)
    ids = [f"img-{i:03d}" for i in range(40)]
    hashes = list(base)
    for i in range(16):
        flips = rng.choice(64, size=i % 8, replace=False)
        mask = np.uint64(sum(1 << int(b) for b in flips))
        hashes.append((base[i].view(np.uint64) ^ mask).view(np.int64))
        ids.append(f"img-p{i:02d}")
    features = spark.createDataFrame(
        pd.DataFrame({"image_id": ids, "phash": hashes}), "image_id string, phash long"
    )
    got = {
        (r["id1"], r["id2"], r["hamming"])
        for r in IO.neardup_by_phash(features).collect()
    }
    u = [int(np.int64(h).view(np.uint64)) for h in hashes]
    want = set()
    for i in range(len(ids)):
        for j in range(len(ids)):
            d = bin(u[i] ^ u[j]).count("1")
            if ids[i] < ids[j] and d <= 6:
                want.add((ids[i], ids[j], d))
    assert got == want
    assert {(f"img-{i:03d}", f"img-p{i:02d}") for i in range(16) if i % 8 <= 6} <= {
        (a, b) for a, b, _ in got
    }
    with pytest.raises(ValueError, match="pigeonhole"):
        IO.neardup_by_phash(features, max_hamming=64)


def test_streaming_windowed_counts(spark, tmp_path):
    # write the driver events table as 3 micro-batch files
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    schema = ev.schema.simpleString().removeprefix("struct<").removesuffix(">").replace(":", " ")
    src = str(tmp_path / "stream_src")
    ev.withColumn("b", F.col("event_id") % 3).repartition("b").drop("b").write.parquet(src)
    stream = SE.stream_events_from_files(spark, src, ev.schema, max_files_per_trigger=2)
    out = SE.run_stream_to_memory(
        SE.windowed_counts(stream), "win_counts", output_mode="append"
    ).toPandas()
    # compare against the batch answer for windows the watermark closed
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
        .toPandas()
    )
    merged = out.merge(batch, on=["window_start", "event_type"], suffixes=("_s", "_b"))
    assert (merged["n_s"] == merged["n_b"]).all()
    assert len(out) > 0


def test_streaming_latest_per_key(spark, tmp_path):
    # out-of-order micro-batches: write the events SHUFFLED into many
    # small files so later-arriving batches carry earlier event times —
    # max_by semantics must still surface the event-time max per key
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "stream_src2")
    ev.withColumn("b", F.xxhash64("event_id") % 8).repartition("b").drop("b").write.parquet(src)
    stream = SE.stream_events_from_files(spark, src, ev.schema, max_files_per_trigger=2)
    out = SE.run_stream_to_memory(
        SE.latest_state_per_key(stream), "latest_keys", output_mode="update"
    ).toPandas()
    # update-mode memory sink appends every changed row; the LAST
    # occurrence per key is the final state — must equal the batch max
    final = out.groupby("user_id").tail(1).set_index("user_id")["ts"]
    batch = (
        ev.groupBy("user_id").agg(F.max("ts").alias("ts")).toPandas()
        .set_index("user_id")["ts"]
    )
    assert len(final) == len(batch)
    assert (final.sort_index() == batch.sort_index()).all()


def test_compare_against_reference(spark, images):
    diff = IO.compare_against_reference(images, images).toPandas()
    assert diff["pixels_ok"].all() and diff["caption_ok"].all()
    ref = images.withColumn(
        "caption",
        F.when(F.col("image_id") < "img-000000010", F.lit("CORRUPT")).otherwise(
            F.col("caption")
        ),
    ).filter(F.col("image_id") != "img-000000020")
    d = IO.compare_against_reference(images, ref).toPandas().set_index("image_id")
    assert not d.loc["img-000000005", "caption_ok"]
    assert not d.loc["img-000000020", "pixels_ok"]  # missing from reference
    assert d.loc["img-000000030", "caption_ok"] and d.loc["img-000000030", "pixels_ok"]


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


def test_streaming_image_feature_ingest(spark, tmp_path):
    """Streaming multimodal ingest: the binary image column decodes
    inside micro-batches through the SAME mapInPandas operator as the
    batch path — streamed features must equal the batch answer row for
    row."""
    images = W.spark_images(spark, 45)
    src = str(tmp_path / "img_stream_src")
    images.withColumn("b", F.crc32(F.col("image_id")) % 3).repartition(
        "b"
    ).drop("b").write.parquet(src)

    streamed = SE.run_stream_to_memory(
        SE.stream_image_features(spark, src, max_files_per_trigger=1),
        "img_feats",
        output_mode="append",
    ).toPandas().sort_values("image_id").reset_index(drop=True)
    batch = (
        IO.extract_features(spark.read.parquet(src))
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    assert len(streamed) == 45
    assert (streamed["image_id"] == batch["image_id"]).all()
    assert (streamed["decoded_phash"] == batch["decoded_phash"]).all()
    assert (streamed["mean_luma"] == batch["mean_luma"]).all()


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
