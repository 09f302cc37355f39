"""Blocking: candidate generation for pairwise scoring (SURVEY.md §2.10, M2),
and the package's one MinHash-LSH candidate join.

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
skew is handled where occurrences join back to clusters (AQE skew join).

The LSH pieces are shared with the document dedup operators (dedup.py):
`minhash_signatures` is the one Arrow kernel (value -> signature array;
each caller brings its own gram function and hash offset), `band_keys`
bands a signature in the JVM, and `bucket_pairs` is the one salted
same-bucket self-join. Runaway buckets (> MAX_BLOCK_SIZE members) are
salted into bounded sub-buckets rather than generating O(n^2) pairs.
"""

from __future__ import annotations

import zlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

# 32 bands of 2 rows: a pair with trigram-Jaccard s collides with
# probability 1-(1-s^2)^32 — >= 0.94 at s=0.4 (close typos), < 0.08 for
# unrelated labels (s ~ 0.05). At much larger label cardinalities raise
# rows-per-band to 3 and rely on the exact-key channel for near-identicals.
N_HASHES = 64
BANDS = 32
_MERSENNE = (1 << 61) - 1
MAX_BLOCK_SIZE = 64  # members per LSH sub-bucket (salting bound)


def _trigram_hashes(label: str) -> np.ndarray:
    padded = f"  {label} "
    grams = {padded[i : i + 3] for i in range(len(padded) - 2)}
    return np.array([zlib.crc32(g.encode("utf-8")) for g in grams], dtype=np.uint64)


def minhash_signatures(df: DataFrame, id_col: str, value_col: str,
                       grams: Callable[[str], np.ndarray], n_hashes: int,
                       offset: int) -> DataFrame:
    """(id_col, sig: array<long>) MinHash signatures, one Arrow kernel.

    sig[i] = min over grams(value) of (a_i * h + b_i) mod (2^61 - 1) in
    uint64 arithmetic (a_i * h wraps at 2^64), with fixed odd multipliers
    a_i and offsets b_i = i * C + `offset`, so a signature is deterministic
    across runs and machines. A value with no grams gets the all-zero
    signature."""
    idx = range(1, n_hashes + 1)
    a = np.array([(2 * i + 1) * 0x9E3779B97F4A7C15 % _MERSENNE for i in idx], dtype=np.uint64)
    b = np.array([(i * 0xC2B2AE3D27D4EB4F + offset) % _MERSENNE for i in idx], dtype=np.uint64)
    zero = [0] * n_hashes

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:  # pragma: no cover
        for pdf in batches:
            sigs = []
            for v in pdf[value_col].fillna(""):
                h = grams(v)
                sigs.append(((h[None, :] * a[:, None] + b[:, None]) % _MERSENNE)
                            .min(axis=1).astype(np.int64).tolist() if len(h) else zero)
            yield pd.DataFrame({id_col: pdf[id_col].values, "sig": sigs})

    schema = StructType([df.schema[id_col], StructField("sig", ArrayType(LongType()))])
    return df.select(*dict.fromkeys((id_col, value_col))).mapInPandas(run, schema=schema)


def band_keys(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """One (band_idx, band_key) row per band of `sig` (the other columns
    carried): band_key joins the band's `rows` minhashes with '-'."""
    return sigs.select(
        *[c for c in sigs.columns if c != "sig"],
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.concat_ws("-", F.slice("sig", i * rows + 1, rows)),
            )
        ).alias("band_idx", "band_key"),
    )


def cap_buckets(df: DataFrame, bucket_cols: list[str], id_col: str,
                max_size: int = MAX_BLOCK_SIZE) -> DataFrame:
    """Adds a `__salt` sub-bucket column: over-cap buckets are SPLIT into
    deterministic sub-buckets of <= max_size (rank by id_col), not
    truncated. Joins that include `__salt` in the key stay bounded at
    C(max_size, 2) pairs per join key, while members past the cap keep
    their intra-sub-bucket pairs — recall degrades gracefully instead of
    members 65+ silently losing every candidate."""
    w = Window.partitionBy(*bucket_cols).orderBy(id_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__salt", ((F.col("__rn") - 1) / F.lit(max_size)).cast("int"))
        .drop("__rn")
    )


def bucket_pairs(df: DataFrame, bucket_cols: list[str], id_col: str,
                 carry: tuple[str, ...] = (),
                 max_size: int | None = MAX_BLOCK_SIZE) -> DataFrame:
    """Same-bucket self-join -> (id_a, id_b, <carry>_a, <carry>_b), id_a <
    id_b, one row per shared bucket (banded callers take `.distinct()`).
    Buckets are salted by `cap_buckets` unless max_size is None (full
    recall: O(bucket^2) pairs, for keys that cannot run away)."""
    keys = list(bucket_cols)
    if max_size is not None:
        df = cap_buckets(df, keys, id_col, max_size)
        keys.append("__salt")

    def side(s: str) -> DataFrame:
        return df.select(*keys, F.col(id_col).alias(f"id_{s}"),
                         *[F.col(c).alias(f"{c}_{s}") for c in carry])

    return (
        side("a").join(side("b"), keys)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", *[f"{c}_{s}" for s in "ab" for c in carry])
    )


def candidate_pairs(
    labels: DataFrame,
    label_col: str = "canon_label",
    block_col: str = "block_key",
) -> DataFrame:
    """Distinct (label, block_key) rows -> candidate (label_a, label_b) pairs.

    Union of exact-key pairs and LSH-bucket pairs, deduplicated. LSH
    buckets larger than MAX_BLOCK_SIZE are salted into deterministic
    sub-buckets (rank by label) so pair counts stay bounded with partial
    recall instead of over-cap labels losing every candidate; block
    sizes are observable via `block_metrics`.
    """
    keyed = labels.select(label_col, block_col).distinct()
    exact = bucket_pairs(keyed, [block_col], label_col, max_size=None)

    sigs = minhash_signatures(labels.select(label_col).distinct(), label_col,
                              label_col, _trigram_hashes, N_HASHES, 17)
    # cheap JVM-side prefilter before the expensive scoring UDF: true typo
    # pairs have similar lengths; this prunes most spurious bucket pairs
    fuzzy = bucket_pairs(band_keys(sigs, BANDS, N_HASHES // BANDS),
                         ["band_idx", "band_key"], label_col).where(
        F.abs(F.length("id_a") - F.length("id_b"))
        <= F.greatest(F.length("id_a"), F.length("id_b")) * 0.34
    )
    return (
        exact.unionByName(fuzzy)
        .select(F.col("id_a").alias("label_a"), F.col("id_b").alias("label_b"))
        .distinct()
    )


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
    slug_edges = bucket_pairs(canon, ["block_key"], "canon_label", max_size=None).select(
        F.col("id_a").alias("label_a"), F.col("id_b").alias("label_b"),
        F.lit("slug").alias("channel"),
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

