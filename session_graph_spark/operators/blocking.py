"""Blocking: candidate generation for pairwise scoring (SURVEY.md §2.10, M2).

Two channels, unioned:

1. **Exact-key blocking** — block_key = slug(alias(normalize(label))), the
   reference's deterministic entity identity (common.py:29-37 +
   entity_aliases.json). Labels sharing a key are trivially candidates.
2. **MinHash-LSH over character trigrams** — recall for surface forms the
   alias dictionary does not know (typos). Deterministic seeded universal
   hashing (crc32 base hash, fixed odd multipliers), `n_hashes` minhashes
   banded into `bands` bands; labels sharing any band bucket are candidates.

Candidate pairs are generated over **distinct labels**, never mention
occurrences — a hot label ("python") may have 10^9 occurrences but is one
row here, which is what makes this survive 10^12 turns. Occurrence-level
skew is handled where occurrences join back to clusters (AQE skew join +
optional salting, see `with_salt`).

Runaway blocks (a band bucket collecting > MAX_BLOCK_SIZE labels) are
salted into bounded sub-buckets rather than generating O(n^2) pairs.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 32 bands of 2 rows: a pair with trigram-Jaccard s collides with
# probability 1-(1-s^2)^32 — >= 0.94 at s=0.4 (close typos), < 0.08 for
# unrelated labels (s ~ 0.05). At much larger label cardinalities raise
# rows-per-band to 3 and rely on the exact-key channel for near-identicals.
N_HASHES = 64
BANDS = 32
_MERSENNE = (1 << 61) - 1
# fixed odd multipliers/offsets -> deterministic across runs and machines
_A = np.array([(2 * i + 1) * 0x9E3779B97F4A7C15 % _MERSENNE for i in range(1, N_HASHES + 1)], dtype=np.uint64)
_B = np.array([(i * 0xC2B2AE3D27D4EB4F + 17) % _MERSENNE for i in range(1, N_HASHES + 1)], dtype=np.uint64)

MAX_BLOCK_SIZE = 64  # distinct labels per LSH sub-bucket (salting bound)


def _trigram_hashes(label: str) -> np.ndarray:
    padded = f"  {label} "
    grams = {padded[i : i + 3] for i in range(len(padded) - 2)}
    return np.array([zlib.crc32(g.encode("utf-8")) for g in grams], dtype=np.uint64)


def minhash_bands_batch(labels: pd.Series) -> pd.DataFrame:
    """label -> rows (label, band_idx, band_key)."""
    rows_label: list[str] = []
    rows_band: list[int] = []
    rows_key: list[str] = []
    r = N_HASHES // BANDS
    for label in labels:
        h = _trigram_hashes(label)
        # sig[i] = min over grams of (a_i * h + b_i mod p)
        prods = (h[None, :] * _A[:, None] + _B[:, None]) % _MERSENNE
        sig = prods.min(axis=1)
        for b in range(BANDS):
            band = sig[b * r : (b + 1) * r]
            key = f"{b}:" + "-".join(str(int(x)) for x in band)
            rows_label.append(label)
            rows_band.append(b)
            rows_key.append(key)
    return pd.DataFrame({"label": rows_label, "band_idx": rows_band, "band_key": rows_key})


def lsh_buckets(labels: DataFrame, label_col: str = "canon_label") -> DataFrame:
    """Distinct labels -> (label, band_idx, band_key) bucket assignments."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:  # pragma: no cover
        for pdf in batches:
            yield minhash_bands_batch(pdf[label_col].astype(str))

    return labels.select(label_col).distinct().mapInPandas(
        run, schema="label string, band_idx int, band_key string"
    )


def _pairs_within(df: DataFrame, key_col: str, label_col: str) -> DataFrame:
    a = df.select(F.col(key_col).alias("k"), F.col(label_col).alias("label_a"))
    b = df.select(F.col(key_col).alias("k"), F.col(label_col).alias("label_b"))
    return (
        a.join(b, "k")
        .where(F.col("label_a") < F.col("label_b"))
        .select("label_a", "label_b")
    )


def candidate_pairs(
    labels: DataFrame,
    label_col: str = "canon_label",
    block_col: str = "block_key",
) -> DataFrame:
    """Distinct (label, block_key) rows -> candidate (label_a, label_b) pairs.

    Union of exact-key pairs and LSH-bucket pairs, deduplicated. Buckets
    larger than MAX_BLOCK_SIZE are salted into deterministic sub-buckets
    (lexicographic rank order) so pair counts stay bounded with partial
    recall instead of over-cap labels losing every candidate; bucket
    sizes are observable via `block_metrics`.
    """
    keyed = labels.select(label_col, block_col).distinct()
    exact = _pairs_within(keyed, block_col, label_col)

    buckets = lsh_buckets(labels, label_col)
    # over-cap buckets are salted into sub-buckets of <= MAX_BLOCK_SIZE
    # (rank by label, deterministic) rather than truncated: pair count per
    # join key stays bounded while labels past the cap keep their
    # intra-sub-bucket candidates (graceful recall degradation)
    w = Window.partitionBy("band_key").orderBy("label")
    capped = (
        buckets.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "band_key",
            F.concat("band_key", F.lit("#"),
                     ((F.col("rn") - 1) / F.lit(MAX_BLOCK_SIZE)).cast("int")),
        )
        .drop("rn")
    )
    # cheap JVM-side prefilter before the expensive scoring UDF: true typo
    # pairs have similar lengths; this prunes most spurious bucket pairs
    fuzzy = _pairs_within(capped, "band_key", "label").where(
        F.abs(F.length("label_a") - F.length("label_b"))
        <= F.greatest(F.length("label_a"), F.length("label_b")) * 0.34
    )
    return exact.unionByName(fuzzy).distinct()


def exact_edges(mentions: DataFrame, aliases: DataFrame,
                label_col: str = "norm_label") -> DataFrame:
    """The ER pipeline's fully deterministic identity channel, exposed as
    an auditable edge table (reference common.py:29-37: two surface forms
    with the same slug — or linked by the curated alias dictionary — ARE
    the same entity; no similarity scoring involved).

    Output (label_a, label_b, channel), label_a < label_b:
    - 'alias': a surface form joined to its distinct canonical
      (entity_aliases.json semantics);
    - 'slug':  two distinct canonical labels sharing a block key
      (slug-equality, the identity rule).

    Both channels are plain joins over distinct labels — SQL-expressible
    end to end, so the DuckDB oracle can verify them exactly; the engine's
    unoracled surface narrows to the typo/LSH scoring channel."""
    from session_graph_spark.functions.normalize import apply_aliases, slug

    d = mentions.select(label_col).distinct()
    with_canon = apply_aliases(d, aliases, label_col=label_col,
                               out_col="canon_label")
    alias_edges = (
        with_canon.where(F.col(label_col) != F.col("canon_label"))
        .select(
            F.least(F.col(label_col), F.col("canon_label")).alias("label_a"),
            F.greatest(F.col(label_col), F.col("canon_label")).alias("label_b"),
            F.lit("alias").alias("channel"),
        )
    )
    canon = (
        with_canon.select("canon_label").distinct()
        .withColumn("block_key", slug("canon_label"))
    )
    slug_edges = _pairs_within(canon, "block_key", "canon_label").withColumn(
        "channel", F.lit("slug")
    )
    return alias_edges.unionByName(slug_edges).distinct()


def block_metrics(labels: DataFrame, label_col: str = "canon_label",
                  block_col: str = "block_key") -> DataFrame:
    """Per-block size distribution (A4 analog: pair-count metrics)."""
    sizes = labels.groupBy(block_col).agg(F.countDistinct(label_col).alias("n_labels"))
    return sizes.select(
        block_col,
        "n_labels",
        (F.col("n_labels") * (F.col("n_labels") - 1) / 2).alias("n_pairs"),
    )


def with_salt(df: DataFrame, key_col: str, buckets: int = 16,
              out_col: str = "salted_key") -> DataFrame:
    """Salted key for occurrence-level joins on skewed keys:
    concat(key, '#', pmod(xxhash64(unique id cols), buckets)). The small
    side must be exploded against all salt values. AQE skew-join splitting
    usually suffices; this is the explicit fallback for 100TB-scale hot
    labels."""
    return df.withColumn(
        out_col,
        F.concat_ws("#", F.col(key_col), F.pmod(F.xxhash64(*df.columns), F.lit(buckets)).cast("string")),
    )
