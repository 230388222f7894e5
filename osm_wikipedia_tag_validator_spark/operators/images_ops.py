"""Multimodal (image) column operator — the per-row integrity check,
an Arrow-batched mapInPandas stage over the binary column.

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
from pyspark.sql import DataFrame

from ..datagen.codecs import (
    LOSSY_FMTS,
    decode_image,
    encode_image,
    psnr,
)
from ..functions.imagefns import ahash64

VERIFY_SCHEMA = (
    "image_id string, fmt string, psnr double, phash_match boolean, "
    "caption_ok boolean, invariant_ok boolean"
)


def verify_invariants(images: DataFrame, min_psnr_db: float = 40.0,
                      caption_fn=None) -> DataFrame:
    """Self-referential integrity check of each image row: re-encode the
    decoded pixels with the row's own fmt and report the round-trip
    PSNR + stored-phash match — the engine-side integrity pass the
    bench loop samples (SURVEY.md §7.3e).

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
