"""Document deduplication operators (training-data-pipeline extensions).

Five strategies over a (doc_id, text) table, each returning an assignment
(doc_id, dup_group, canonical_doc) or candidate-pair DataFrame:

- exact_dedup:        hash-groupBy on normalized full text
- minhash_lsh_dedup:  word-shingle MinHash -> banded LSH -> bucket pairs ->
                      verified Jaccard -> connected components
- simhash_dedup:      64-bit SimHash over token hashes; Hamming-ball
                      candidates via 4x16-bit band blocking
- ngram_jaccard_pairs: character n-gram Jaccard verification kernel
- embedding_dedup:    cosine near-duplicates over an embedding column

All heavy per-text work runs in Arrow-batched pandas UDFs; pair generation
and grouping are DataFrame joins through the mention-ER blocker's MinHash
kernel, JVM banding and salted self-join (blocking.py `minhash_signatures`,
`band_keys`, `bucket_pairs`): this is record linkage over documents. Band
buckets are salted at blocking.MAX_BLOCK_SIZE (boilerplate corpora would
otherwise put O(n^2) pairs in one skewed join key); only the exact-verified
variants default to full recall.
"""

from __future__ import annotations

import hashlib
import struct
import warnings
import zlib
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from session_graph_spark.operators.blocking import (MAX_BLOCK_SIZE, band_keys,
                                                    bucket_pairs, minhash_signatures)
from session_graph_spark.operators.cc import connected_components

_BAND = ["band_idx", "band_key"]


# --------------------------------------------------------------------------
# exact
# --------------------------------------------------------------------------
def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, text_hash, canonical_doc): normalized-text hash groups."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    h = docs.select(F.col(id_col).alias("doc_id"), F.md5(norm).alias("text_hash"))
    canon = h.groupBy("text_hash").agg(F.min("doc_id").alias("canonical_doc"))
    return h.join(canon, "text_hash").select("doc_id", "text_hash", "canonical_doc")


# --------------------------------------------------------------------------
# MinHash + LSH over word shingles
# --------------------------------------------------------------------------
def _shingles(text: str, k: int) -> set[str]:
    words = text.lower().split()
    if len(words) < k:
        return {" ".join(words)} if words else set()
    return {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}


def _word_shingles(text: str, k: int) -> np.ndarray:
    return np.array([zlib.crc32(g.encode("utf-8")) for g in _shingles(text, k)],
                    dtype=np.uint64)


def _signatures(docs: DataFrame, text_col: str, id_col: str, n_hashes: int,
                shingle_k: int) -> DataFrame:
    """(doc_id, sig) word-shingle MinHash signatures."""
    d = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    return minhash_signatures(d, "doc_id", "text", partial(_word_shingles, k=shingle_k),
                              n_hashes, 31)


def _dup_groups(docs: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """(doc_id, dup_group): connected components over (id_a, id_b) pairs;
    dup_group = the component's min doc id, a doc with no pair maps to
    itself."""
    comp = connected_components(
        pairs.select(F.col("id_a").cast("string").alias("u"),
                     F.col("id_b").cast("string").alias("v"))
    )
    base = docs.select(F.col(id_col).alias("doc_id"))
    return base.join(comp, base.doc_id.cast("string") == comp.label, "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id").cast("long"), F.col("doc_id")).alias("dup_group"),
    )


def minhash_lsh_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      n_hashes: int = 128, bands: int = 32, shingle_k: int = 3,
                      threshold: float = 0.8) -> DataFrame:
    """Near-dup assignment (doc_id, dup_group): LSH candidates verified by
    estimated Jaccard (signature agreement) >= threshold, then CC."""
    sigs = _signatures(docs, text_col, id_col, n_hashes, shingle_k).cache()
    pairs = bucket_pairs(band_keys(sigs, bands, n_hashes // bands), _BAND,
                         "doc_id").distinct()
    # verify: fraction of agreeing minhashes estimates Jaccard
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    verified = (
        pairs.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "est_jaccard",
            F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                            lambda v: v)) / F.lit(float(n_hashes)),
        )
        .where(F.col("est_jaccard") >= threshold)
    )
    groups = _dup_groups(docs, id_col, verified)
    # CC materialized its input (localCheckpoint + count), so the cached
    # signatures are no longer reachable from any downstream plan
    sigs.unpersist()
    return groups


def minhash_candidate_pairs(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", n_hashes: int = 128,
                            bands: int = 32, shingle_k: int = 3,
                            max_bucket_docs: int | None = None) -> DataFrame:
    """LSH candidate (id_a, id_b) pairs from banded MinHash signatures.

    max_bucket_docs=None (default) keeps EVERY candidate — full recall,
    the contract of the exact-verified variants below (a cap would
    silently drop docs 65+ of any band bucket, so a skewed corpus of
    near-identical boilerplate would lose all their pairs while the
    verification step still claims exactness). Pass a cap only when the
    caller owns the recall tradeoff; the estimated-Jaccard scale path
    (`minhash_lsh_dedup`) stays capped at MAX_BLOCK_SIZE."""
    banded = band_keys(_signatures(docs, text_col, id_col, n_hashes, shingle_k),
                       bands, n_hashes // bands)
    if max_bucket_docs is None:
        # full recall means unbounded O(bucket^2) pairs in one join key:
        # surface the risk instead of silently eating it ('no silent
        # caps' in reverse). Costs one extra pass over the signatures —
        # acceptable for the oracle-exact variant; the capped scale path
        # (minhash_lsh_dedup) never takes this branch
        biggest = (
            banded.groupBy(*_BAND).count()
            .agg(F.max("count").alias("m")).first()["m"]
        ) or 0
        if biggest > MAX_BLOCK_SIZE:
            warnings.warn(
                f"minhash_candidate_pairs: largest band bucket holds "
                f"{biggest} docs (> {MAX_BLOCK_SIZE}); uncapped full-"
                f"recall mode will emit O(n^2) pairs for it — pass "
                f"max_bucket_docs or use minhash_lsh_dedup for skewed "
                f"near-identical corpora",
                stacklevel=2,
            )
    return bucket_pairs(banded, _BAND, "doc_id", max_size=max_bucket_docs).distinct()


def word_shingle_jaccard(pairs_with_text: DataFrame, shingle_k: int = 3,
                         text_a: str = "text_a", text_b: str = "text_b") -> DataFrame:
    """Adds the exact word-k-shingle Jaccard column (Arrow kernel) — the
    verification step run only on LSH candidates, never all pairs."""

    @F.pandas_udf("double")
    def _j(a: pd.Series, b: pd.Series) -> pd.Series:  # pragma: no cover
        out = np.empty(len(a))
        av, bv = a.fillna(""), b.fillna("")
        for i in range(len(a)):
            ga, gb = _shingles(str(av.iat[i]), shingle_k), _shingles(str(bv.iat[i]), shingle_k)
            out[i] = len(ga & gb) / max(len(ga | gb), 1)
        return pd.Series(out, index=a.index)

    return pairs_with_text.withColumn("jaccard", _j(F.col(text_a), F.col(text_b)))


def minhash_dedup_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n_hashes: int = 128,
                        bands: int = 32, shingle_k: int = 3,
                        threshold: float = 0.8,
                        max_bucket_docs: int | None = None) -> DataFrame:
    """Near-dup PAIRS with exact Jaccard: LSH candidate generation
    (uncapped by default — full recall is this variant's contract), then
    true word-shingle Jaccard verification >= threshold. This is the
    oracle-checkable form (exact-Jaccard semantics, approximation only in
    band collision probability); `minhash_lsh_dedup` keeps the cheaper
    capped estimated-Jaccard verify + CC grouping as the scale path."""
    d = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    cand = minhash_candidate_pairs(d, "text", "doc_id", n_hashes, bands,
                                   shingle_k, max_bucket_docs)
    ta = d.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    tb = d.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    with_text = cand.join(ta, "id_a").join(tb, "id_b")
    return (
        word_shingle_jaccard(with_text, shingle_k)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_dedup_groups_exact(docs: DataFrame, text_col: str = "text",
                               id_col: str = "doc_id", n_hashes: int = 128,
                               bands: int = 32, shingle_k: int = 3,
                               threshold: float = 0.8) -> DataFrame:
    """Near-dup group assignment (doc_id, dup_group) built from the
    EXACT-Jaccard-verified pair set + connected components: the
    oracle-checkable grouping form (an all-pairs exact Jaccard + recursive
    transitive closure reproduces it in SQL). dup_group = the component's
    lexicographic-min doc id (the CC min-label convention), docs with no
    near-dup map to themselves. `minhash_lsh_dedup` stays the cheaper
    estimated-Jaccard-verify variant."""
    pairs = minhash_dedup_pairs(docs, text_col, id_col, n_hashes, bands,
                                shingle_k, threshold)
    return _dup_groups(docs, id_col, pairs)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------
def _word_hash64(w: str) -> int:
    """Lower 64 bits of md5, little-endian — the exact value DuckDB's
    md5_number_lower() returns, so SimHash is oracle-mirrorable in SQL."""
    return struct.unpack("<Q", hashlib.md5(w.encode()).digest()[8:])[0]


def simhash_batch(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over md5-lower-64 word hashes (vectorized inner
    loop). Word hashes are memoized per batch: natural-language word
    frequencies are Zipfian, so most md5 calls hit the cache — md5 costs
    ~5x crc32 per call but amortizes well below it on real corpora."""
    memo: dict[str, int] = {}
    out = np.zeros(len(texts), dtype=np.uint64)
    for i, text in enumerate(texts.fillna("")):
        words = text.lower().split()
        if not words:
            continue
        hs = np.fromiter(
            (memo.get(w) or memo.setdefault(w, _word_hash64(w)) for w in words),
            dtype=np.uint64, count=len(words),
        )
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1).astype(np.int64)
        vote = bits.sum(axis=0) * 2 - len(hs)
        out[i] = np.packbits((vote > 0).astype(np.uint8)[::-1]).view(">u8")[0]
    return pd.Series(out.astype(np.int64), index=texts.index)


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    @F.pandas_udf("long")
    def _sh(t: pd.Series) -> pd.Series:  # pragma: no cover
        return simhash_batch(t)

    return docs.select(F.col(id_col).alias("doc_id"), _sh(F.col(text_col)).alias("simhash"))


def simhash_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 3) -> DataFrame:
    """Candidate pairs whose 64-bit SimHashes differ by <= max_hamming bits.
    Blocking: 4 x 16-bit bands — any pair within Hamming distance 3 shares
    at least one exact band (pigeonhole)."""
    sh = simhash(docs, text_col, id_col)
    banded = sh.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*[
            F.shiftrightunsigned("simhash", 16 * i).bitwiseAND(F.lit(0xFFFF))
            for i in range(4)
        ])).alias("band_idx", "band_val"),
    )
    cand = bucket_pairs(banded, ["band_idx", "band_val"], "doc_id",
                        carry=("simhash",)).distinct()
    return (
        cand.withColumn("hamming",
                        F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --------------------------------------------------------------------------
# n-gram Jaccard verification kernel
# --------------------------------------------------------------------------
def ngram_jaccard_pairs(pairs_with_text: DataFrame, n: int = 3,
                        text_a: str = "text_a", text_b: str = "text_b") -> DataFrame:
    """Adds char-n-gram jaccard column to a pair DataFrame (Arrow kernel)."""

    @F.pandas_udf("double")
    def _jacc(a: pd.Series, b: pd.Series) -> pd.Series:  # pragma: no cover
        def grams(s: str) -> set[str]:
            s = " ".join(str(s).lower().split())
            return {s[i : i + n] for i in range(max(len(s) - n + 1, 1))}
        out = np.empty(len(a))
        av, bv = a.fillna(""), b.fillna("")
        for i in range(len(a)):
            ga, gb = grams(av.iat[i]), grams(bv.iat[i])
            out[i] = len(ga & gb) / max(len(ga | gb), 1)
        return pd.Series(out, index=a.index)

    return pairs_with_text.withColumn("ngram_jaccard", _jacc(F.col(text_a), F.col(text_b)))


# --------------------------------------------------------------------------
# embedding-cosine near-dup
# --------------------------------------------------------------------------
def embedding_dedup(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
                    threshold: float = 0.95, n_planes: int = 16) -> DataFrame:
    """Near-dup pairs by cosine >= threshold. Blocking: random-hyperplane
    LSH (sign sketch) so only same-bucket pairs are scored; brute force
    within bucket, JVM-side zip_with/aggregate arithmetic."""
    from session_graph_spark.operators.ann import hyperplane_bucket, cosine_expr

    e = emb.select(F.col(id_col).alias("doc_id"),
                   F.transform(vec_col, lambda x: x.cast("double")).alias("v"))
    e = e.withColumn("bucket", hyperplane_bucket(F.col("v"), n_planes))
    pairs = bucket_pairs(e, ["bucket"], "doc_id", carry=("v",))
    return (
        pairs.withColumn("cosine", cosine_expr(F.col("v_a"), F.col("v_b")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )
