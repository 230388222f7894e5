"""Vectorized image feature functions (numpy, Arrow-batch friendly).

These run inside mapInPandas / pandas UDFs over the `images.bytes`
binary column; decode stays inside the Arrow batch (SURVEY.md §7.3e).
The perceptual hash is an average-hash (aHash): 8×8 block-mean
downsample of the luma plane, thresholded at its mean → 64-bit int.
Public technique (pHash family); DCT-free so it's pure numpy.
"""

from __future__ import annotations

import numpy as np

_LW = np.array([0.299, 0.587, 0.114], dtype=np.float32)


def luma(img: np.ndarray) -> np.ndarray:
    # float32: half the memory traffic of float64 on the per-pixel hot
    # path; luma is in [0, 255] where float32 carries ~7 significant
    # digits — far beyond the 8-bit source precision
    f = img.astype(np.float32)
    return f[..., 0] * _LW[0] + f[..., 1] * _LW[1] + f[..., 2] * _LW[2]


def block_mean_resize(plane: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Area-style downsample via index-binned means (handles any size).

    Fast path for exact-multiple sizes (reshape-mean — identical result
    to the binned mean since bin edges align); general path otherwise.
    """
    h, w = plane.shape
    if h % out_h == 0 and w % out_w == 0:
        return plane.reshape(out_h, h // out_h, out_w, w // out_w).mean(
            axis=(1, 3), dtype=np.float32
        )
    ys = (np.arange(h) * out_h // h).astype(np.int64)
    xs = (np.arange(w) * out_w // w).astype(np.int64)
    out = np.zeros((out_h, out_w), dtype=np.float32)
    cnt = np.zeros((out_h, out_w), dtype=np.int64)
    np.add.at(out, (ys[:, None], xs[None, :]), plane)
    np.add.at(cnt, (ys[:, None], xs[None, :]), 1)
    return out / np.maximum(cnt, 1)


def ahash64(img: np.ndarray) -> int:
    """64-bit average hash of an RGB image. Deterministic.

    Fused fast path: block-sum each channel with EXACT uint32 integer
    accumulation (all pixel sums fit far below 2^32), then apply the
    linear luma weights to the 8×8 block means — mathematically the
    mean-of-luma, but it never materializes a full-resolution float
    plane, which is ~90% of the naive hash's memory traffic. Falls back
    to the general binned path for dimensions not divisible by 8."""
    h, w = img.shape[:2]
    if h % 8 == 0 and w % 8 == 0 and img.ndim == 3:
        bh, bw = h // 8, w // 8
        sums = (
            img.reshape(8, bh, 8, bw, 3)
            .sum(axis=(1, 3), dtype=np.uint32)
            .astype(np.float32)
        )
        g = (sums @ _LW) / np.float32(bh * bw)
    else:
        g = block_mean_resize(luma(img), 8, 8)
    bits = (g > g.mean()).ravel()
    v = int.from_bytes(np.packbits(bits).tobytes(), "big")
    # reinterpret as signed int64 for Spark LongType
    return v - (1 << 64) if v >= (1 << 63) else v


def ahash64_batch(imgs: np.ndarray) -> np.ndarray:
    """Vectorized `ahash64` over a (n, h, w, 3) uint8 stack → (n,)
    int64. Identical bits to the scalar function (same integer block
    sums, same f32 luma combine, same mean threshold) with ~3 numpy
    calls for the whole stack instead of ~10 per image."""
    imgs = np.asarray(imgs, dtype=np.uint8)
    n, h, w, _ = imgs.shape
    if h % 8 or w % 8:  # pragma: no cover - datagen sizes are multiples of 8
        return np.array([ahash64(imgs[i]) for i in range(n)], dtype=np.int64)
    bh, bw = h // 8, w // 8
    # two sequential single-axis reductions instead of one fused
    # multi-axis reduce: the fused form iterates tiny (bh, bw) strided
    # slices per output cell (~4× slower, measured); integer addition is
    # order-independent so the sums — and every bit downstream — are
    # identical. Step 1 reduces the w-blocks on the contiguous axis,
    # step 2 reduces the h-blocks on data already bw× smaller.
    sums = (
        imgs.reshape(n * h * 8, bw, 3)
        .sum(axis=1, dtype=np.uint32)
        .reshape(n, 8, bh, 8, 3)
        .sum(axis=2, dtype=np.uint32)
        .astype(np.float32)
    )
    g = (sums @ _LW).reshape(n, 64) / np.float32(bh * bw)
    bits = g > g.mean(axis=1, keepdims=True)
    return np.packbits(bits, axis=1).view(">i8").astype(np.int64).ravel()
