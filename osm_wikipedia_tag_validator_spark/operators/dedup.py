"""Deduplication operators for the training-data pipeline.

Each variant is shaped for 100 TB: candidate generation is always a
hash-bucket equi-join (never an O(n²) cross join); exact verification
runs only inside buckets.

  exact_dedup        md5-fingerprint groupBy (one shuffle on the hash)
  token_jaccard_pairs  inverted-index self-join on tokens + count agg —
                       fully relational, DuckDB-oracle-matchable
  winnow_copy_pairs  rolling-hash winnowing fingerprints (SIGMOD'03)
                     → inverted-index join — MOSS-style copy detection
  minhash_lsh_pairs  shingle→MinHash→band→bucket-join→verify
  simhash_pairs      64-bit SimHash, 4×16-bit pigeonhole bands
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions import textfns as TX
from ..functions.hashing import splitmix64


# --------------------------------------------------------------------------
# exact
# --------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest id per identical text; one hash shuffle on the
    md5 fingerprint (never on the full text bytes)."""
    fp = df.withColumn("_fp", TX.fingerprint_col(F.col(text_col)))
    keep = fp.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return fp.join(keep, [ "_fp", id_col]).drop("_fp")


def exact_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(fingerprint, n_dups, keeper_id) for groups with duplicates."""
    return (
        df.withColumn("fingerprint", TX.fingerprint_col(F.col(text_col)))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keeper_id"))
        .filter(F.col("n_dups") > 1)
    )


# --------------------------------------------------------------------------
# token-Jaccard via inverted index (relational; oracle-matchable)
# --------------------------------------------------------------------------

def token_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_token_df: int | None = None,
) -> DataFrame:
    """All (id1 < id2) pairs with distinct-token Jaccard ≥ threshold.

    Inverted-index plan: explode distinct tokens → self-equi-join on
    token → count shared → |A|+|B|-shared. The join key is the token,
    so hot tokens ("the") make the self-join quadratic in their df —
    the classic fix is a document-frequency cut on the *candidate
    generation* side (Vernica et al., SIGMOD'10 set-similarity joins):

    `max_token_df=None` (default) — exact: every token indexes, and the
    pair's `shared` count comes straight from the join (oracle twin).

    `max_token_df=t` — tokens with df > t are dropped from the inverted
    index only; candidate pairs must share ≥1 *rare* token, then each
    candidate is verified exactly against the full token arrays
    (`array_intersect`), so reported jaccard values are exact. Pairs
    whose overlap is hot-tokens-only are missed — the documented recall
    cut that keeps the join linear in df at 100 TB.
    """
    toks = (
        df.select(F.col(id_col).alias("id"), F.explode(F.array_distinct(TX.tokens_col(F.lower(F.col(text_col))))).alias("tok"))
    )
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    if max_token_df is None:
        a = toks.alias("a")
        b = toks.alias("b")
        shared = (
            a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
            .agg(F.count(F.lit(1)).alias("shared"))
        )
        return (
            shared.join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("sz", "sz1"), "id1")
            .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("sz", "sz2"), "id2")
            .withColumn(
                "jaccard",
                F.round(F.col("shared") / (F.col("sz1") + F.col("sz2") - F.col("shared")), 6),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id1", "id2", "jaccard")
        )

    # df-cut path: rare-token index for candidates, exact verify after
    rare = toks.join(
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_df")).filter(F.col("_df") <= max_token_df),
        "tok",
    )
    a = rare.alias("a")
    b = rare.alias("b")
    candidates = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )
    full = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(TX.tokens_col(F.lower(F.col(text_col)))).alias("toks"),
    )
    return (
        candidates.join(full.select(F.col("id").alias("id1"), F.col("toks").alias("t1")), "id1")
        .join(full.select(F.col("id").alias("id2"), F.col("toks").alias("t2")), "id2")
        .withColumn("shared", F.size(F.array_intersect("t1", "t2")))
        .withColumn(
            "jaccard",
            F.round(F.col("shared") / (F.size("t1") + F.size("t2") - F.col("shared")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


# --------------------------------------------------------------------------
# winnowing (rolling-hash document fingerprints)
# --------------------------------------------------------------------------

def winnow_fingerprint_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 16,
    window: int = 8,
) -> DataFrame:
    """Exploded (id, fp) winnowed fingerprint sets (Schleimer et al.,
    SIGMOD'03 winnowing): rolling base-257 char-n-gram hashes → min per
    length-`window` sliding window → distinct mins. The winnowing
    guarantee: any substring shared verbatim by two documents of length
    ≥ window + n - 1 contributes at least one SHARED fingerprint, so
    copy detection never misses long verbatim overlaps while keeping
    ~2/(window+1) of the n-gram hashes.

    The per-doc hash/min path is vectorized numpy inside mapInPandas;
    the output is the relational inverted index `winnow_copy_pairs`
    consumes (uint64 hashes reinterpreted as Spark signed longs,
    bit-identical either way)."""
    out_schema = f"{id_col} long, fp long"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hs = TX.char_ngrams_hashed(pdf[text_col].tolist(), n=n)
            ids, fps = [], []
            for i, h in enumerate(hs):
                w = TX.winnow_fingerprints(h, window)
                ids.append(np.full(len(w), pdf[id_col].iloc[i], dtype=np.int64))
                fps.append(w.view(np.int64))
            yield pd.DataFrame(
                {
                    id_col: np.concatenate(ids) if ids else np.empty(0, np.int64),
                    "fp": np.concatenate(fps) if fps else np.empty(0, np.int64),
                }
            )

    return df.select(id_col, text_col).mapInPandas(gen, out_schema)


def winnow_copy_pairs(
    df: DataFrame,
    min_shared: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 16,
    window: int = 8,
    max_fp_df: int | None = None,
) -> DataFrame:
    """MOSS-style copy-detection pairs: all (id1 < id2, n_shared) with
    ≥ min_shared shared winnowed fingerprints.

    Inverted-index self-join on the fingerprint (the same Σ df² shape
    as `token_jaccard_pairs`, never an all-pairs cross join), then a
    count aggregate per pair. `max_fp_df` applies the Vernica-style
    document-frequency cut to degenerate hot fingerprints (boilerplate
    shared by thousands of docs would otherwise make the self-join
    quadratic in that fingerprint's df at 100 TB); with the cut, a
    reported pair's n_shared counts rare fingerprints only — the
    documented recall trade, same contract as token_jaccard_pairs."""
    # cache: the fingerprint scan (the expensive full-corpus hashing
    # pass) feeds both self-join sides and, with max_fp_df, the df-count
    # too — uncached it would recompute 2-4× (same reason the minhash
    # and simhash paths cache their signature frames)
    fps = winnow_fingerprint_sets(df, text_col, id_col, n, window).cache()
    if max_fp_df is not None:
        fps = fps.join(
            fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_df")).filter(
                F.col("_df") <= max_fp_df
            ),
            "fp",
        ).select(id_col, "fp")
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id1"), F.col(f"b.{id_col}").alias("id2")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    ngram: int = 3,
) -> DataFrame:
    """(id, sig: array<long>) — char-ngram shingles → MinHash, one
    Arrow-batched pass, no shuffle."""
    out_schema = f"{id_col} long, sig array<long>"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hs = TX.char_ngrams_hashed(pdf[text_col].tolist(), n=ngram)
            sigs = [TX.minhash_signature(h, num_perm).astype(np.int64) for h in hs]
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), "sig": sigs})

    return df.select(id_col, text_col).mapInPandas(gen, out_schema)


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    ngram: int = 3,
) -> DataFrame:
    """Near-dup pairs: band the signature (bands × rows), bucket-join on
    (band_idx, band_hash), then verify with the estimated Jaccard from
    the full signatures (matching-minima fraction ≥ threshold)."""
    rows = num_perm // bands
    sigs = minhash_signatures(df, text_col, id_col, num_perm, ngram).cache()
    banded = sigs.select(
        F.col(id_col).alias("id"),
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.slice("sig", b * rows + 1, rows)).alias("bh"),
                ),
            )
        ).alias("bk"),
    ).select("id", "sig", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a.sig").alias("sig1"),
            F.col("b.sig").alias("sig2"),
        )
        .dropDuplicates(["id1", "id2"])
    )
    est = cand.withColumn(
        "est_jaccard",
        F.round(
            F.size(
                F.filter(
                    F.zip_with("sig1", "sig2", lambda x, y: (x == y).cast("int")),
                    lambda v: v == 1,
                )
            )
            / F.lit(float(num_perm)),
            6,
        ),
    )
    return est.filter(F.col("est_jaccard") >= threshold).select("id1", "id2", "est_jaccard")


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    out_schema = f"{id_col} long, simhash long"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hs = TX.char_ngrams_hashed(pdf[text_col].tolist(), n=3)
            sh = [TX.simhash64(h) for h in hs]
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), "simhash": sh})

    return df.select(id_col, text_col).mapInPandas(gen, out_schema)


def banded_hamming_pairs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int = 3,
    n_bands: int | None = None,
) -> DataFrame:
    """(id1, id2, hamming) pairs with Hamming(sig) ≤ max_hamming over a
    64-bit signature column — THE shared banding plan behind SimHash
    text dedup and image phash near-dup (one implementation, two
    callers, so the pigeonhole caveat can't drift between copies).

    Candidates come from a band equi-join (never an all-pairs cross
    join): the signature splits into n_bands chunks; a pair with
    ≤ n_bands-1 differing bits must agree on at least one chunk
    (pigeonhole), so EXACT recall requires max_hamming ≤ n_bands - 1.
    n_bands=None (default) picks the smallest power-of-two band count
    that keeps the guarantee — a looser threshold costs more bands
    (shorter chunks → fatter candidate buckets), it never silently
    drops recall. Verification is JVM-side bit_count on the joined
    signatures. Scales as Σ bucket² per band, not n²."""
    if n_bands is None:
        n_bands = 4
        while n_bands - 1 < max_hamming and n_bands < 64:
            n_bands *= 2
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the pigeonhole guarantee "
            f"for {n_bands} bands (exact only ≤ {n_bands - 1}); raise "
            "n_bands instead of the threshold"
        )
    band_bits = 64 // n_bands
    mask = (1 << band_bits) - 1
    chunks = sigs.select(
        F.col(id_col).alias("id"),
        F.col(sig_col).alias("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright(sig_col, i * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("ck"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("c"),
    ).select("id", "sig", F.col("c.chunk").alias("chunk"), F.col("c.ck").alias("ck"))
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ck") == F.col("b.ck"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a.sig").alias("s1"),
            F.col("b.sig").alias("s2"),
        )
        .dropDuplicates(["id1", "id2"])
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(s1 ^ s2)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming, candidates by
    pigeonhole over 4×16-bit chunks (≤3 differing bits → at least one
    identical chunk). Verification = JVM-side bit ops."""
    sigs = simhash_signatures(df, text_col, id_col).cache()
    return banded_hamming_pairs(sigs, id_col, "simhash", max_hamming)

