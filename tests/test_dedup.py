import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_wikipedia_tag_validator_spark.functions import textfns as TX
from osm_wikipedia_tag_validator_spark.functions.hashing import splitmix64
from osm_wikipedia_tag_validator_spark.operators import dedup as DD


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away into the woods "
        "while the hunter sleeps near the river bank under a tall oak tree"
    )
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("quick", "fast")),  # near dup of 0
        (3, base.replace("fox", "cat").replace("dog", "bird")),  # near dup
        (4, "completely different text about spark query engines and columnar formats"),
        (5, "another unrelated document mentioning distributed joins and shuffles"),
        (6, base + " with a small suffix appended at the end"),  # near dup
        (7, ""),  # empty edge case
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    kept = DD.exact_dedup(docs).select("doc_id").toPandas()["doc_id"].tolist()
    assert 0 in kept and 1 not in kept
    assert len(kept) == 7
    groups = DD.exact_dup_groups(docs).toPandas()
    assert len(groups) == 1
    assert groups["n_dups"].iloc[0] == 2
    assert groups["keeper_id"].iloc[0] == 0


def test_minhash_estimates_jaccard(docs):
    """MinHash estimated Jaccard ≈ true char-3-gram Jaccard."""
    pdf = docs.toPandas()
    hs = TX.char_ngrams_hashed(pdf["text"].tolist(), n=3)
    sets = [set(h.tolist()) for h in hs]
    true_j = len(sets[0] & sets[2]) / len(sets[0] | sets[2])
    sig0 = TX.minhash_signature(hs[0], 256)
    sig2 = TX.minhash_signature(hs[2], 256)
    est = (sig0 == sig2).mean()
    assert abs(est - true_j) < 0.12


def test_minhash_lsh_finds_near_dups(docs):
    pairs = DD.minhash_lsh_pairs(docs, threshold=0.6, num_perm=64, bands=16).toPandas()
    got = {(int(a), int(b)) for a, b in zip(pairs["id1"], pairs["id2"])}
    assert (0, 1) in got  # exact dup certainly found
    assert (0, 2) in got or (1, 2) in got  # near dup found
    # unrelated docs must not pair with the base family
    assert not any((a in (4, 5)) ^ (b in (4, 5)) for a, b in got)


def test_simhash_pairs(docs):
    pairs = DD.simhash_pairs(docs, max_hamming=10).toPandas()
    got = {(int(a), int(b)) for a, b in zip(pairs["id1"], pairs["id2"])}
    assert (0, 1) in got
    assert not any((a in (4, 5)) ^ (b in (4, 5)) for a, b in got if (a, b) != (4, 5))


def test_token_jaccard_matches_manual(docs):
    pairs = DD.token_jaccard_pairs(docs, threshold=0.5).toPandas()
    got = {(int(a), int(b)): j for a, b, j in zip(pairs["id1"], pairs["id2"], pairs["jaccard"])}
    assert got[(0, 1)] == 1.0
    t0 = set("the quick brown fox jumps over the lazy dog and runs far away into the woods while the hunter sleeps near the river bank under a tall oak tree".split())
    t2 = set("the fast brown fox jumps over the lazy dog and runs far away into the woods while the hunter sleeps near the river bank under a tall oak tree".split())
    expected = len(t0 & t2) / len(t0 | t2)
    assert abs(got[(0, 2)] - expected) < 1e-6


def test_winnow_fingerprints_shift_invariant():
    h = TX.char_ngrams_hashed(["abcdefghijklmnopqrstuvwxyz" * 3], n=4)[0]
    fp1 = set(TX.winnow_fingerprints(h, 8).tolist())
    h2 = TX.char_ngrams_hashed(["XYZ " + "abcdefghijklmnopqrstuvwxyz" * 3], n=4)[0]
    fp2 = set(TX.winnow_fingerprints(h2, 8).tolist())
    overlap = len(fp1 & fp2) / len(fp1 | fp2)
    assert overlap > 0.6  # winnowing is robust to prefix shifts


def _brute_winnow(text: str, n: int, window: int) -> set[int]:
    """Pure-Python winnowing reference: per-position rolling hash (same
    base-257 formula + splitmix64 remix as char_ngrams_hashed), min per
    sliding window, distinct — the independent oracle for the
    vectorized numpy path."""
    b = text.encode("utf-8")
    if len(b) < n:
        return {int(x) for x in np.unique(TX.char_ngrams_hashed([text], n=n)[0])}
    hashes = []
    for i in range(len(b) - n + 1):
        h = 0
        for j in range(n):
            h = (h * 257 + b[i + j]) % (1 << 64)
        hashes.append(int(splitmix64(np.array([h ^ 1], dtype=np.uint64))[0]))
    if len(hashes) < window:
        return set(hashes)
    return {min(hashes[i : i + window]) for i in range(len(hashes) - window + 1)}


def test_winnow_sets_match_bruteforce(docs):
    """The distributed fingerprint sets equal an independent pure-Python
    winnowing implementation, doc by doc."""
    got = DD.winnow_fingerprint_sets(docs, n=8, window=4).toPandas()
    by_doc = {
        int(k): {int(v) & ((1 << 64) - 1) for v in g["fp"]}
        for k, g in got.groupby("doc_id")
    }
    for doc_id, text in docs.toPandas().itertuples(index=False):
        expected = _brute_winnow(text, n=8, window=4)
        assert by_doc.get(int(doc_id), set()) == expected, f"doc {doc_id}"


def test_winnow_copy_pairs_vs_bruteforce(docs):
    """Pair shared-counts equal brute-force set intersections, and the
    winnowing guarantee holds: docs 0/6 share a long verbatim prefix
    (≥ window+n-1 chars) so they MUST pair."""
    pairs = DD.winnow_copy_pairs(docs, min_shared=1, n=16, window=8).toPandas()
    got = {(int(a), int(b)): int(s) for a, b, s in zip(pairs.id1, pairs.id2, pairs.n_shared)}
    texts = {int(i): t for i, t in docs.toPandas().itertuples(index=False)}
    sets = {i: _brute_winnow(t, n=16, window=8) for i, t in texts.items()}
    expected = {}
    for i in sets:
        for j in sets:
            if i < j and len(sets[i] & sets[j]) >= 1:
                expected[(i, j)] = len(sets[i] & sets[j])
    assert got == expected
    assert (0, 1) in got and (0, 6) in got  # guarantee: long verbatim overlap
    # unrelated docs never pair with the base family
    assert not any((a in (4, 5)) ^ (b in (4, 5)) for a, b in got)


def test_winnow_fp_df_cut(spark):
    """max_fp_df drops hot fingerprints from the inverted index only:
    a fingerprint present in EVERY doc stops generating candidates."""
    boiler = "SHARED-BOILERPLATE-FOOTER-TEXT-123456"  # > n+window-1 chars
    rows = [
        (0, "alpha document body first " * 3 + boiler),
        (1, "alpha document body first " * 3 + boiler + " tail"),  # near-dup of 0
        (2, "totally different content here about engines " + boiler),
        (3, "yet another unrelated body of text entirely " + boiler),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    exact = DD.winnow_copy_pairs(d, min_shared=1).toPandas()
    cut = DD.winnow_copy_pairs(d, min_shared=1, max_fp_df=2).toPandas()
    exact_pairs = {(int(a), int(b)) for a, b in zip(exact.id1, exact.id2)}
    cut_pairs = {(int(a), int(b)) for a, b in zip(cut.id1, cut.id2)}
    # boilerplate-only pairs exist uncut but are dropped by the df cut
    assert (2, 3) in exact_pairs and (2, 3) not in cut_pairs
    # the genuine near-dup pair survives the cut
    assert (0, 1) in cut_pairs


def test_token_jaccard_df_cut(spark):
    # doc 10/11 share rare tokens (near-dups); doc 12/13 overlap ONLY in
    # the hot token "common" which appears in every doc
    rows = [
        (10, "common alpha beta gamma delta"),
        (11, "common alpha beta gamma epsilon"),
        (12, "common zeta"),
        (13, "common eta"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    exact = DD.token_jaccard_pairs(d, threshold=0.3).toPandas()
    cut = DD.token_jaccard_pairs(d, threshold=0.3, max_token_df=3).toPandas()
    exact_pairs = {(int(a), int(b)): j for a, b, j in zip(exact.id1, exact.id2, exact.jaccard)}
    cut_pairs = {(int(a), int(b)): j for a, b, j in zip(cut.id1, cut.id2, cut.jaccard)}
    # "common" has df=4 > 3 → dropped from the inverted index: the
    # hot-token-only pair (12,13) is cut while rare-token pairs survive
    assert (10, 11) in cut_pairs
    assert (12, 13) in exact_pairs and (12, 13) not in cut_pairs
    # verify pass is exact: surviving jaccards match the uncut values
    for k, v in cut_pairs.items():
        assert v == exact_pairs[k]
