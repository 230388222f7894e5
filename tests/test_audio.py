"""Audio multimodal column: codec round-trip, features, resample,
segmentation, fingerprint near-dup, and the per-row invariant —
including corruption DETECTION (a mutated byte/caption must flip the
invariant to False, not pass vacuously)."""

import numpy as np
import pandas as pd
import pytest

from osm_wikipedia_tag_validator_spark.datagen import audio as A
from osm_wikipedia_tag_validator_spark.operators import audio_ops as AO


# ---------------------------------------------------------------------------
# codec — pure numpy, no Spark
# ---------------------------------------------------------------------------

def test_wav_roundtrip_mono_and_stereo():
    for aid in (3, 7):  # 7 % 7 == 0 → stereo; 3 → mono
        ref = A.synth_samples(aid)
        sr, back = A.decode_wav(A.encode_wav(ref, A.SR))
        assert sr == A.SR
        assert back.shape == ref.shape
        assert np.array_equal(back, ref)


def test_decode_rejects_garbage():
    with pytest.raises(ValueError):
        A.decode_wav(b"not a wav stream at all....")


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_fingerprint_properties():
    x = A.synth_samples(11)
    fp = A.audio_fp64(x)
    assert isinstance(fp, int) and -(1 << 63) <= fp < (1 << 63)
    # amplitude-scale invariance (slope SIGNS are scale-free)
    assert A.audio_fp64((x * 0.5).astype(np.int16)) == fp
    # planted near-dups: id ≡ 1 (mod 53) clones (id-1)'s tones with a
    # tiny amp perturbation → identical spectral-peak positions
    assert _ham(A.audio_fp64(A.synth_samples(54)), A.audio_fp64(A.synth_samples(53))) == 0
    assert _ham(A.audio_fp64(A.synth_samples(107)), A.audio_fp64(A.synth_samples(106))) == 0
    # distributional contrast: unrelated clips sit far apart on median
    # (adjacent ids share tone BANDS — those legitimately collide, the
    # fingerprint measures spectral similarity, not id identity)
    fps = [A.audio_fp64(A.synth_samples(i)) for i in range(0, 120, 7)]
    dists = sorted(_ham(a, b) for i, a in enumerate(fps) for b in fps[i + 1 :])
    assert dists[len(dists) // 2] > 15


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def audio_df(spark):
    return A.spark_audio(spark, 120).cache()


def test_features_match_direct_numpy(spark, audio_df):
    got = {r["audio_id"]: r for r in AO.extract_features(audio_df).collect()}
    assert len(got) == 120
    for aid in (0, 7, 54):
        samples = A.synth_samples(aid)
        x = samples.astype(np.float64) / 32768.0
        x = x.mean(axis=1)
        r = got[f"aud-{aid:09d}"]
        assert r["sr"] == A.SR
        assert r["n_channels"] == samples.shape[1]
        assert r["duration_s"] == pytest.approx(len(x) / A.SR)
        assert r["rms"] == pytest.approx(float(np.sqrt(np.mean(x * x))), rel=1e-9)
        spec = np.abs(np.fft.rfft(x))
        freqs = np.fft.rfftfreq(len(x), d=1.0 / A.SR)
        assert r["centroid_hz"] == pytest.approx(
            float((freqs * spec).sum() / spec.sum()), rel=1e-9
        )
        # centroid must sit between the two synth tones (sanity)
        p = A._params(np.array([aid]))
        assert min(p["f1"][0], p["f2"][0]) * 0.5 < r["centroid_hz"] < A.SR / 2


def test_resample_halves_length(spark, audio_df):
    out = AO.resample_audio(audio_df, target_sr=8000).collect()
    orig = {r["audio_id"]: r["n_samples"] for r in audio_df.collect()}
    assert len(out) == len(orig)
    for r in out:
        assert r["sr"] == 8000
        assert r["n_samples"] == int(round(orig[r["audio_id"]] / 2))
        sr, arr = A.decode_wav(bytes(r["bytes"]))
        assert sr == 8000 and arr.shape[0] == r["n_samples"]


def test_segments_cover_clip(spark, audio_df):
    segs = AO.segment_features(audio_df, win_s=0.05, hop_s=0.05).toPandas()
    one = segs[segs.audio_id == "aud-000000000"].sort_values("seg_idx")
    n = A.synth_samples(0).shape[0]
    expected = max(n - int(0.05 * A.SR) + 1, 1)
    assert len(one) == len(range(0, expected, int(0.05 * A.SR)))
    assert one.iloc[0].start_s == 0.0
    assert (one.rms > 0).all()


def test_neardup_finds_planted_pairs_matches_bruteforce(spark):
    df = A.spark_audio(spark, 160).cache()
    got = {
        (r["id1"], r["id2"])
        for r in AO.neardup_by_fingerprint(df, max_hamming=3).collect()
    }
    # brute-force oracle over all pairs — at the pigeonhole-guaranteed
    # threshold (≤3 over 4×16 bands) the banded join must be EXACT
    fps = {r["audio_id"]: r["afp"] for r in df.select("audio_id", "afp").collect()}
    ids = sorted(fps)
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if _ham(fps[a], fps[b]) <= 3
    }
    assert got == want
    # the planted clone pairs are in there
    assert ("aud-000000053", "aud-000000054") in got
    assert ("aud-000000106", "aud-000000107") in got


def test_invariants_all_green_and_corruption_detected(spark):
    df = A.spark_audio(spark, 60)
    ok = AO.verify_invariants(df, caption_fn=A.expected_audio_captions).toPandas()
    assert len(ok) == 60
    assert ok.samples_exact.all() and ok.fp_match.all() and ok.caption_ok.all()

    # corrupt one caption and one sample buffer → those rows must flag
    pdf = df.limit(4).toPandas()
    pdf.loc[0, "caption"] = pdf.loc[0, "caption"] + " TAMPERED"
    raw = bytearray(pdf.loc[1, "bytes"])
    raw[-2] ^= 0x7F  # flip bits inside the PCM payload
    pdf.loc[1, "bytes"] = bytes(raw)
    bad = AO.verify_invariants(
        spark.createDataFrame(pdf), caption_fn=A.expected_audio_captions
    ).toPandas().set_index("audio_id")
    assert not bad.loc[pdf.loc[0, "audio_id"], "caption_ok"]
    assert not bad.loc[pdf.loc[1, "audio_id"], "samples_exact"]
    # untouched rows still green
    assert bad.loc[pdf.loc[2, "audio_id"]].all()
