"""Multimodal (image) column operators — decode / features / resize /
verify, all as Arrow-batched mapInPandas stages over the binary column.

The `images.bytes` column is opaque binary + typed metadata (w, h,
fmt) per the input_hint. Decode uses the in-repo codecs
(datagen/codecs.py): REAL minimal PNG (lossless), REAL dct8 (8×8 DCT +
quantization — genuine transform-coding loss, the honest lossy path
for the PSNR ≥ 40 dB invariant), and a clearly-marked DETERMINISTIC
FAKE for JPEG (no libjpeg in this container; documented swap point).
The Spark-side plumbing — schema, batch shape, partition behavior — is
the part that matters at 100 TB and is real and tested.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..datagen.codecs import (
    LOSSY_FMTS,
    decode_image,
    encode_image,
    psnr,
)
from ..functions.imagefns import ahash64, luma, resize_nearest

FEATURES_SCHEMA = (
    "image_id string, w int, h int, fmt string, caption string, "
    "phash long, mean_luma double, std_luma double, decoded_phash long"
)


def extract_features(images: DataFrame) -> DataFrame:
    """Decode each image inside the Arrow batch and emit cheap features
    + a recomputed perceptual hash (drift check against the stored
    phash column)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                img = decode_image(bytes(r.bytes))
                g = luma(img)
                rows.append(
                    (
                        r.image_id, r.w, r.h, r.fmt, r.caption, r.phash,
                        float(g.mean()), float(g.std()), ahash64(img),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "w", "h", "fmt", "caption", "phash",
                    "mean_luma", "std_luma", "decoded_phash",
                ],
            )

    return images.mapInPandas(gen, FEATURES_SCHEMA)


COMPARE_SCHEMA = (
    "image_id string, fmt string, psnr_db double, pixels_ok boolean, caption_ok boolean"
)


def compare_against_reference(
    images: DataFrame, reference: DataFrame, min_psnr_db: float = 40.0
) -> DataFrame:
    """THE per-row invariant of BASELINE.json input_hint, verbatim:
    decoded-pixel allclose (PSNR ≥ 40 dB for lossy formats; exact for
    lossless) + BYTE-EXACT caption equality, row-matched against a
    reference table on image_id.

    Physical plan: equi-join on image_id (shuffle-hash both-sides-big,
    or bucketed co-located at scale) → one Arrow-batched decode+compare
    stage. Rows missing from either side surface as pixels_ok=false.
    """
    ref = reference.select(
        F.col("image_id"),
        F.col("bytes").alias("ref_bytes"),
        F.col("fmt").alias("ref_fmt"),
        F.col("caption").alias("ref_caption"),
    )
    joined = images.select("image_id", "bytes", "fmt", "caption").join(
        ref.hint("shuffle_hash"), "image_id", "full_outer"
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if r.bytes is None or r.ref_bytes is None:
                    rows.append((r.image_id, r.fmt or r.ref_fmt, 0.0, False, False))
                    continue
                try:
                    a = decode_image(bytes(r.bytes))
                    b = decode_image(bytes(r.ref_bytes))
                except ValueError:
                    # structurally corrupt row (bad header/truncation) —
                    # flag it, never fail the task
                    rows.append(
                        (r.image_id, r.fmt, 0.0, False, r.caption == r.ref_caption)
                    )
                    continue
                if a.shape != b.shape:
                    rows.append((r.image_id, r.fmt, 0.0, False, r.caption == r.ref_caption))
                    continue
                p = psnr(a, b)
                lossy = (r.fmt in LOSSY_FMTS) or (r.ref_fmt in LOSSY_FMTS)
                ok = (p >= min_psnr_db) if lossy else (p == float("inf"))
                rows.append(
                    (r.image_id, r.fmt, float(min(p, 1e9)), bool(ok), r.caption == r.ref_caption)
                )
            yield pd.DataFrame(
                rows, columns=["image_id", "fmt", "psnr_db", "pixels_ok", "caption_ok"]
            )

    return joined.mapInPandas(gen, COMPARE_SCHEMA)


VERIFY_SCHEMA = (
    "image_id string, fmt string, psnr double, phash_match boolean, "
    "caption_ok boolean, invariant_ok boolean"
)


def verify_invariants(images: DataFrame, min_psnr_db: float = 40.0,
                      caption_fn=None) -> DataFrame:
    """Self-referential integrity check of each image row: re-encode the
    decoded pixels with the row's own fmt and report the round-trip
    PSNR + stored-phash match — the engine-side integrity pass the
    bench loop samples (SURVEY.md §7.3e). The row-matched comparison
    against a reference table (BASELINE.json input_hint) is
    `compare_against_reference`.

    `invariant_ok` is the row's verdict: `phash_match` and `caption_ok`
    hold, and the PSNR passes — ≥ `min_psnr_db` for lossy formats
    (`LOSSY_FMTS`), exact for lossless ones (psnr is clipped to 1e9, so
    an exact round trip reads 1e9). `caption_fn(image_ids) -> list[str]`
    recomputes the expected caption from source of truth (e.g. the
    seeded generator, where caption is a pure function of image_id) so
    caption_ok is a byte-exact comparison, evaluated batch-side inside
    the Arrow stage. Without it caption integrity cannot be derived
    from the row alone, so caption_ok only asserts presence."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if caption_fn is not None:
                expected = caption_fn(pdf["image_id"].tolist())
            else:
                expected = [None] * len(pdf)
            rows = []
            for r, exp in zip(pdf.itertuples(index=False), expected):
                caption_ok = bool(
                    r.caption == exp if exp is not None else isinstance(r.caption, str)
                )
                try:
                    img = decode_image(bytes(r.bytes))
                    rt = decode_image(encode_image(img, r.fmt))
                except ValueError:
                    # a corrupted byte flips the row to False — including
                    # structural (header/container) corruption, which the
                    # codecs surface as ValueError per their contract
                    rows.append((r.image_id, r.fmt, 0.0, False, caption_ok, False))
                    continue
                p = float(min(psnr(img, rt), 1e9))
                phash_match = bool(ahash64(img) == r.phash)
                psnr_ok = p >= min_psnr_db if r.fmt in LOSSY_FMTS else p == 1e9
                rows.append(
                    (
                        r.image_id,
                        r.fmt,
                        p,
                        phash_match,
                        caption_ok,
                        bool(phash_match and caption_ok and psnr_ok),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "fmt", "psnr", "phash_match", "caption_ok",
                    "invariant_ok",
                ],
            )

    return images.mapInPandas(gen, VERIFY_SCHEMA)


THUMB_SCHEMA = "image_id string, thumb binary, tw int, th int"


def make_thumbnails(images: DataFrame, size: int = 8) -> DataFrame:
    """Resize (nearest-neighbor) each image to size×size and re-encode
    as PNG — the classic preprocessing stage; stays inside the batch."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                img = decode_image(bytes(r.bytes))
                th = resize_nearest(img, size, size)
                rows.append((r.image_id, encode_image(th, "png"), size, size))
            yield pd.DataFrame(rows, columns=["image_id", "thumb", "tw", "th"])

    return images.mapInPandas(gen, THUMB_SCHEMA)


def neardup_by_phash(features: DataFrame, max_hamming: int = 6) -> DataFrame:
    """(id1, id2, hamming) image near-dup pairs with Hamming(phash) ≤
    max_hamming, id1 < id2.

    Candidates come from a band equi-join (never an all-pairs cross
    join): the 64-bit phash splits into n_bands chunks; a pair with
    ≤ n_bands-1 differing bits must agree on at least one chunk
    (pigeonhole), so EXACT recall requires max_hamming ≤ n_bands - 1.
    The band count is the smallest power of two that keeps the
    guarantee (8 for the default of 6) — a looser threshold costs more
    bands (shorter chunks → fatter candidate buckets), it never
    silently drops recall. Verification is JVM-side bit_count on the
    joined hashes. Scales as Σ bucket² per band, not n²."""
    n_bands = 4
    while n_bands - 1 < max_hamming and n_bands < 64:
        n_bands *= 2
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the pigeonhole guarantee "
            f"for {n_bands} bands (exact only ≤ {n_bands - 1})"
        )
    band_bits = 64 // n_bands
    mask = (1 << band_bits) - 1
    chunks = features.select(
        "image_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright("phash", i * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("ck"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("c"),
    ).select("image_id", "phash", "c.*")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ck") == F.col("b.ck"))
            & (F.col("a.image_id") < F.col("b.image_id")),
        )
        .select(
            F.col("a.image_id").alias("id1"),
            F.col("b.image_id").alias("id2"),
            F.col("a.phash").alias("s1"),
            F.col("b.phash").alias("s2"),
        )
        .dropDuplicates(["id1", "id2"])
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(s1 ^ s2)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )
