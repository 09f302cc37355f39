"""Pairwise match scoring (SURVEY.md §2.10 F2/J7, M3).

Candidate label pairs -> similarity score via the Arrow-batched kernel in
functions/similarity.py (a whole-batch numpy array program per Arrow
batch, no per-pair Python); pairs scoring >= MATCH_THRESHOLD (0.7, the
reference's confidence threshold at link_entities.py:57) become match
edges.

Decision caching (P13/J4): the reference memoizes linking decisions in
SQLite *including negative results* (link_entities.py:308-311) so re-runs
never re-score. Here the decision cache is a table of
(label_a, label_b, score); `score_pairs` left-anti-joins candidates
against it, scores only the misses, and returns the union — re-running on
unchanged input does zero kernel work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from session_graph_spark.functions.similarity import (CTX_MIN_JACC,
                                                      CTX_VARIANT_LEV,
                                                      CTX_WEIGHT,
                                                      MATCH_THRESHOLD,
                                                      pair_score)

PAIR_KEY = ["label_a", "label_b"]


# the context bonus can only flip a match decision when the string kernel
# lands in [CTX_BAND_LO, threshold) — an additive bonus of at most
# CTX_WEIGHT cannot push anything below the band over the line, and pairs
# at/above the threshold already match. Scores outside the band stay the
# pure kernel value (bonus gated, not blended everywhere), which is what
# makes band-restricted context computation EXACT, not approximate.
CTX_BAND_LO = MATCH_THRESHOLD - CTX_WEIGHT


def _variant_shaped():
    """levenshtein_ratio(label_a, label_b) >= CTX_VARIANT_LEV as a JVM
    column: the variant-shape guard that both band_labels and
    apply_context_bonus apply."""
    return (
        1.0
        - F.levenshtein("label_a", "label_b")
        / F.greatest(F.length("label_a"), F.length("label_b"))
    ) >= F.lit(CTX_VARIANT_LEV)


def band_labels(scored: DataFrame) -> DataFrame:
    """Distinct labels appearing in a borderline pair the bonus could
    actually move: kernel in [CTX_BAND_LO, threshold) AND variant-shaped
    (levenshtein_ratio >= CTX_VARIANT_LEV — apply_context_bonus gives
    non-variant pairs nothing, so their labels need no vectors). The
    shape cut prunes the context build hard: band kernels are dominated
    by morpheme-distinct near-misses (hot-token pairs, brand families
    like apache *), while variant-shaped band pairs are rare typo
    variants. Skipping a label's vector is observationally identical to
    building it — every pair that could consult it is guarded off —
    which is why the DuckDB oracle can keep building vectors for the
    full band while parity still holds bit-for-bit."""
    band = scored.where(
        (F.col("score") >= F.lit(CTX_BAND_LO))
        & (F.col("score") < F.lit(MATCH_THRESHOLD))
        & _variant_shaped()
    )
    return (
        band.select(F.col("label_a").alias("canon_label"))
        .unionByName(band.select(F.col("label_b").alias("canon_label")))
        .distinct()
    )


def apply_context_bonus(scored: DataFrame, context: DataFrame) -> DataFrame:
    """Blend the surrounding-turn-context signal the north star calls for
    into borderline pair scores: for kernel scores in [CTX_BAND_LO,
    threshold), score = min(kernel + CTX_WEIGHT * jaccard(ctx_a, ctx_b),
    1.0) WHEN the jaccard clears the CTX_MIN_JACC evidence floor
    (essentially identical vectors — partial overlap is chance, not
    evidence) AND the pair is variant-shaped (levenshtein_ratio >=
    CTX_VARIANT_LEV — context may arbitrate typo-scale string pairs but
    never bridge distinct morphemes; see similarity.py for both
    rationales); all other scores pass through untouched. `context` is a (canon_label, context array<string>) frame
    (entity_context output) — it only needs rows for band labels. The
    Jaccard is a JVM column (array_intersect/array_union over the two
    top-5 arrays); the Arrow kernel stays string-only and bit-identical
    to DuckDB's."""
    ca = context.select(F.col("canon_label").alias("label_a"),
                        F.col("context").alias("__ctx_a"))
    cb = context.select(F.col("canon_label").alias("label_b"),
                        F.col("context").alias("__ctx_b"))
    jacc = (
        F.size(F.array_intersect("__ctx_a", "__ctx_b"))
        / F.size(F.array_union("__ctx_a", "__ctx_b"))
    )
    in_band = (
        (F.col("score") >= F.lit(CTX_BAND_LO))
        & (F.col("score") < F.lit(MATCH_THRESHOLD))
    )
    bonus = F.when(_variant_shaped() & (jacc >= F.lit(CTX_MIN_JACC)),
                   F.lit(CTX_WEIGHT) * jacc)
    return (
        scored.join(F.broadcast(ca), "label_a", "left")
        .join(F.broadcast(cb), "label_b", "left")
        .withColumn(
            "score",
            F.when(
                in_band,
                F.least(
                    F.col("score") + F.coalesce(bonus, F.lit(0.0)),
                    F.lit(1.0),
                ),
            ).otherwise(F.col("score")),
        )
        .drop("__ctx_a", "__ctx_b")
    )


def score_pairs(pairs: DataFrame, decisions: DataFrame | None = None,
                context_builder=None) -> DataFrame:
    """(label_a, label_b) candidates -> (label_a, label_b, score).

    `decisions` is the resume cache (same 3-column schema); cached pairs —
    positive AND negative — are reused without rescoring (so the bonus is
    never applied twice: a cached decision already carries it).

    `context_builder` (optional): callable(scored_fresh) -> (canon_label,
    context) DataFrame. Called AFTER the kernel scores materialize so the
    builder can restrict the expensive context derivation to the
    borderline band (see band_labels); the returned vectors feed
    apply_context_bonus. The fresh scores are eagerly localCheckpointed
    first — the band query and the bonus join both scan them, and the
    checkpoint also guarantees the Arrow kernel runs exactly once."""
    if decisions is not None:
        # the semi and anti branches below both consume `pairs`, whose
        # plan (LSH bucket UDF + window + self-joins) is NOT cached by
        # the caller — without a shared materialization the whole
        # candidate-generation subtree executes once per branch. A lazy
        # localCheckpoint dedups it: the first action materializes the
        # pair partitions once and both branches read them (r7 A/B at
        # the 25M-turn corpus: cached-arm count 0.87s -> 0.11s,
        # fingerprints equal — probe in commit 4247e06).
        pairs = pairs.localCheckpoint(eager=False)
        cached = decisions.join(pairs, PAIR_KEY, "left_semi")
        fresh = pairs.join(decisions, PAIR_KEY, "left_anti")
    else:
        cached = None
        fresh = pairs

    scored = fresh.withColumn("score", pair_score(F.col("label_a"), F.col("label_b")))
    if context_builder is not None:
        scored = scored.localCheckpoint(eager=True)
        ctx = context_builder(scored)
        if ctx is not None:  # None = empty band, nothing the bonus can flip
            scored = apply_context_bonus(scored, ctx)
    if cached is not None:
        scored = scored.unionByName(cached.select("label_a", "label_b", "score"))
    return scored


def match_edges(scored: DataFrame, threshold: float = MATCH_THRESHOLD) -> DataFrame:
    """P8: keep pairs with score >= threshold."""
    return scored.where(F.col("score") >= F.lit(threshold)).select("label_a", "label_b")

