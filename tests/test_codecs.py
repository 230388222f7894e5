import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from osm_wikipedia_tag_validator_spark.datagen import codecs
from osm_wikipedia_tag_validator_spark.functions import imagefns


@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    seed=st.integers(0, 2**31),
)
@settings(max_examples=50, deadline=None)
def test_png_roundtrip_lossless(h, w, seed):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert (codecs.png_decode(codecs.png_encode(img)) == img).all()


def test_fake_jpeg_lossy_but_above_psnr_bar():
    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    dec = codecs.fake_jpeg_decode(codecs.fake_jpeg_encode(img))
    assert not (dec == img).all()  # genuinely lossy
    assert codecs.psnr(img, dec) >= 40.0  # input_hint invariant


def test_dct8_real_lossy_codec():
    # smooth content (gradient + mild noise) — the datagen image family
    gy, gx = np.mgrid[0:37, 0:53]
    rng = np.random.default_rng(3)
    img = (
        ((gy * 3 + gx * 2)[:, :, None] + rng.integers(0, 20, (37, 53, 3))) % 256
    ).astype(np.uint8)
    enc = codecs.dct8_encode(img)  # default quality
    dec = codecs.dct8_decode(enc)
    assert dec.shape == img.shape
    assert not (dec == img).all()  # genuinely lossy
    assert codecs.psnr(img, dec) >= 40.0  # input_hint invariant at default q
    # quality is a REAL rate-distortion knob: lower q → lower PSNR and
    # smaller payload (fake quantizers can't show this tradeoff)
    p95, p50 = (
        codecs.psnr(img, codecs.dct8_decode(codecs.dct8_encode(img, q)))
        for q in (95, 50)
    )
    assert p95 > p50
    assert len(codecs.dct8_encode(img, 50)) < len(codecs.dct8_encode(img, 95))
    with pytest.raises(ValueError):
        codecs.dct8_decode(b"nope")


def test_dct8_odd_sizes_pad_and_crop():
    for h, w in ((1, 1), (7, 9), (8, 8), (17, 24)):
        img = np.full((h, w, 3), 123, dtype=np.uint8)
        dec = codecs.dct8_decode(codecs.dct8_encode(img))
        assert dec.shape == (h, w, 3)
        assert codecs.psnr(img, dec) >= 40.0


def test_psnr_identical_is_inf():
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    assert codecs.psnr(img, img) == float("inf")


def test_decode_dispatch_and_errors():
    img = np.full((4, 4, 3), 7, dtype=np.uint8)
    assert codecs.decode_image(codecs.encode_image(img, "png")).shape == (4, 4, 3)
    assert codecs.decode_image(codecs.encode_image(img, "jpeg")).shape == (4, 4, 3)
    with pytest.raises(ValueError):
        codecs.decode_image(b"garbage")
    with pytest.raises(ValueError):
        codecs.encode_image(img, "webp")


def test_png_is_spec_valid_signature_and_chunks():
    img = np.zeros((2, 3, 3), dtype=np.uint8)
    data = codecs.png_encode(img)
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    assert b"IHDR" in data and b"IDAT" in data and data.endswith(
        b"IEND" + (0xAE426082).to_bytes(4, "big")
    )


def test_ahash_stability_and_locality():
    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    h1 = imagefns.ahash64(img)
    assert h1 == imagefns.ahash64(img.copy())
    # small perturbation → small hamming distance
    pert = img.astype(np.int16) + rng.integers(-3, 4, size=img.shape)
    h2 = imagefns.ahash64(np.clip(pert, 0, 255).astype(np.uint8))
    assert bin((h1 ^ h2) & 0xFFFF_FFFF_FFFF_FFFF).count("1") <= 8


# --------------------------------------------------------------------------
# batch codecs: bit-identity to the scalar paths (the load-bearing
# invariant behind stored-phash == hash(decode(bytes)) in datagen's
# vectorized ingest — codecs.py batch docstrings cite these tests)
# --------------------------------------------------------------------------

def _stack(n, h, w, seed=7):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(n, h, w, 3), dtype=np.uint8)


@pytest.mark.parametrize("h,w", [(8, 8), (16, 24), (32, 32), (64, 48)])
def test_png_encode_batch_identical_to_scalar(h, w):
    imgs = _stack(5, h, w)
    got = codecs.png_encode_batch(imgs)
    assert got == [codecs.png_encode(imgs[i]) for i in range(len(imgs))]


@pytest.mark.parametrize("h,w", [(8, 8), (16, 24), (64, 48)])
def test_fake_jpeg_encode_batch_identical_to_scalar(h, w):
    imgs = _stack(4, h, w, seed=11)
    datas, dec = codecs.fake_jpeg_encode_batch(imgs)
    for i in range(len(imgs)):
        assert datas[i] == codecs.fake_jpeg_encode(imgs[i])
        np.testing.assert_array_equal(dec[i], codecs.decode_image(datas[i]))


@pytest.mark.parametrize("h,w", [(8, 8), (16, 24), (32, 32), (64, 48)])
def test_dct8_encode_batch_identical_to_scalar(h, w):
    imgs = _stack(4, h, w, seed=13)
    datas, dec = codecs.dct8_encode_batch(imgs)
    for i in range(len(imgs)):
        assert datas[i] == codecs.dct8_encode(imgs[i])
        np.testing.assert_array_equal(dec[i], codecs.dct8_decode(datas[i]))


def test_dct8_encode_batch_identity_across_batch_sizes():
    """Partitioning changes Arrow batch sizes; encoded bytes must not.
    The same image must encode identically alone, in a small stack and
    in a large stack (fixed-order _mm_core makes BLAS-order effects
    impossible by construction — this is the regression tripwire)."""
    imgs = _stack(64, 16, 16, seed=17)
    one = codecs.dct8_encode_batch(imgs[:1])[0][0]
    small = codecs.dct8_encode_batch(imgs[:4])[0][0]
    large = codecs.dct8_encode_batch(imgs)[0][0]
    assert one == small == large == codecs.dct8_encode(imgs[0])


@pytest.mark.parametrize("h,w", [(8, 8), (16, 24), (64, 48)])
def test_ahash64_batch_identical_to_scalar(h, w):
    imgs = _stack(6, h, w, seed=23)
    got = imagefns.ahash64_batch(imgs)
    exp = np.array([imagefns.ahash64(imgs[i]) for i in range(len(imgs))], dtype=np.int64)
    np.testing.assert_array_equal(got, exp)
