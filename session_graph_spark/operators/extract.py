"""Deterministic mention extraction (SURVEY.md §2.10 F1).

The reference extracts knowledge triples per assistant message with an LLM
(triple_extraction.py:524-579) and then normalizes/validates/caps them.
That is non-deterministic (20% inter-model overlap, CLAUDE.md:249), so the
replicable spec — and what we implement — is the deterministic part: a
gazetteer + token candidate generator followed by the same normalization
(N2) and L1 validity filter (P5), capped at 10 mentions per turn in
occurrence-priority order (T1, triple_extraction.py:508-512).

The engine is pure-JVM column expressions over ONE trie-regex scan
(_marked_head): extract_mentions for the mention table (optionally with
each mention's exact char offset), extract_mention_arrays for resolve().
The per-text plain-Python reference it is equivalence-tested against
lives in tests/test_corpus_extract.py.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from session_graph_spark.data import ALIAS_MAP
from session_graph_spark.functions.filters import JAVA_WORD, is_valid_entity_col

MAX_MENTIONS_PER_TURN = 10
EXTRACT_INPUT_MAX_CHARS = 1500  # reference truncates extraction input (N7)

# phrase gazetteer: multi-word / dotted surface forms from the alias
# dimension (both surface and canonical sides)
_PHRASES = sorted(
    {s for kv in ALIAS_MAP.items() for s in kv if (" " in s or "." in s)},
    key=len,
    reverse=True,
)

# the engine's per-candidate norm skips normalize_entity's trim and
# whitespace-collapse as provable no-ops: residual tokens come from a
# whitespace split (cannot contain whitespace) and phrase candidates are
# literal gazetteer matches — valid ONLY while every gazetteer entry is
# already trimmed and single-spaced, so enforce that loudly at import
# (survives python -O, unlike assert)
for _p in _PHRASES:
    if _p != " ".join(_p.split()):
        raise ValueError(
            f"gazetteer phrase {_p!r} is not trimmed/single-spaced; "
            "extract_mentions' reduced norm() would diverge from "
            "normalize_entity on its matches")


def _trie_pattern(words: list[str]) -> str:
    """Common-prefix-factored alternation (trie regex).

    A flat `a|b|c|...` alternation costs O(|dictionary|) alternative
    probes per text position in both Java and CPython regex engines — the
    scan gets linearly slower every time the alias dimension grows. The
    trie form bounds per-position cost by the trie's branching factor
    instead. Branches are disjoint by construction (first differing
    char), and a node that is both a word-end and a prefix emits a greedy
    optional suffix, so the longest phrase still wins — the same
    semantics as a longest-first alternation."""
    trie: dict = {}
    for w in words:
        node = trie
        for ch in w:
            node = node.setdefault(ch, {})
        node["\0"] = {}  # end-of-word marker

    def emit(node: dict) -> str:
        end = "\0" in node
        alts = [re.escape(ch) + emit(child)
                for ch, child in sorted(node.items()) if ch != "\0"]
        if not alts:
            return ""
        if len(alts) == 1:
            return alts[0] if not end else "(?:" + alts[0] + ")?"
        return "(?:" + "|".join(alts) + (")?" if end else ")")

    return emit(trie)


# text is lowercased before matching (IGNORECASE costs ~3x in CPython re)
_PHRASE_TRIE = _trie_pattern(_PHRASES)

# the phrase scan (Java regex): a gazetteer hit with no word character or
# '.' before it and no word character after it
_PHRASE_RE = rf"(?<![{JAVA_WORD}.])({_PHRASE_TRIE})(?!{JAVA_WORD})"

# phrase-hit markers for the single-scan extraction head (r7). The trie
# regex is the expensive scan — the round-6 microbench priced each trie
# pass at ~4.5s of the ~20s stage (local[8], sf0.1) and the r7 variant
# A/B (probe in commit 4247e06) measured the two-scan form 1.26x
# slower end to end — so ONE regexp_replace wraps every phrase hit in
# \x01..\x02 and both downstream needs become cheap marker scans:
# phrase list = regexp_extract_all on the marker pattern, residual
# tokens = split on (marker-span | whitespace), which yields exactly the
# fragments the former replace-with-space + whitespace split produced.
# Text that itself carries a marker byte has it mapped to a space
# first (_marked_head), so the markers are unambiguous.
_M1, _M2 = "\x01", "\x02"
# whitespace = exactly the characters of Python's str.isspace(). Java's
# \s is ASCII-only and would glue 'postgres\xa0redis' into one token, so
# the two scans run in UNICODE_CHARACTER_CLASS mode ((?U): \s = Unicode
# White_Space) with \x1c-\x1f added, which Python also counts. (A class
# listing the characters and ranges one by one read ~25% slower on the
# extraction head in an in-process A/B, local[4] on a 4-cpu host.) _WS
# is the same set as a trim charset.
_WS = ("\t\n\x0b\f\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
       + "".join(map(chr, range(0x2000, 0x200B)))
       + "\u2028\u2029\u202f\u205f\u3000")
_MARKER_EXTRACT = rf"{_M1}([^{_M2}]*){_M2}"
_MARKER_OR_WS = rf"(?U){_M1}[^{_M2}]*{_M2}|[\s\x1c-\x1f]+"
# one phrase hit (markers included) or residual token plus the whitespace
# after it: in text order the fragments tile `resid` past its leading
# whitespace, so their lengths locate every candidate without a search
_FRAGMENT = (rf"(?U)((?:{_M1}[^{_M2}]*{_M2}|[^\s\x1c-\x1f{_M1}{_M2}]+)"
             rf"[\s\x1c-\x1f]*)")


def _marked_head(turns: DataFrame):
    """Shared single-trie-scan head: (frame with `resid` marked text and
    `ph` phrase array, deduped-capped label array expression).

    The returned frame keeps `resid` and `ph` as NAMED PROJECT OUTPUTS
    and the big array expression references them as attributes — do NOT
    refactor this into further stacked selects over the array: letting
    the optimizer inline `ph`/`resid` into a downstream Generate
    re-evaluates the trie regex per candidate element (observed: a
    factored arrays->explode composition planned 5x regexp_extract_all
    / 10x regexp_replace and ran ~30x slower)."""
    from pyspark.sql import functions as F

    low = F.lower(F.substring("text", 1, EXTRACT_INPUT_MAX_CHARS))
    # marker bytes in the text become spaces (length-preserving, so
    # offsets keep their coordinates); the byte-level contains guard
    # keeps the translate pass off the rows that carry none
    lower_text = F.when(
        low.contains(_M1) | low.contains(_M2),
        F.translate(low, _M1 + _M2, "  "),
    ).otherwise(low)

    t = turns.select(
        "conv_id", "turn_idx", "platform", "ts",
        F.regexp_replace(lower_text, _PHRASE_RE, f"{_M1}$1{_M2}").alias("resid"),
    ).withColumn(
        "ph", F.regexp_extract_all("resid", F.lit(_MARKER_EXTRACT), 1)
    )
    toks = F.filter(F.split("resid", _MARKER_OR_WS), lambda x: x != "")
    cands = F.concat("ph", toks)

    def norm(x):
        # normalize_entity minus trim + ws-collapse, no-ops here: split
        # tokens carry no whitespace and phrase hits are literal
        # single-spaced gazetteer strings (invariant enforced at import).
        # r7: rtrim with a trim charset — TRIM(TRAILING '.,;:') strips
        # exactly the suffix the former regexp_replace(r'[.,;:]+$')
        # matched, without a per-candidate Java regex invocation
        # (guide §1.2; A/B probe in commit 4247e06).
        return F.rtrim(x, F.lit(".,;:"))

    # r7 note: a dedup-BEFORE-validity variant (L1 once per distinct
    # candidate) was A/B'd and measured WORSE at both sf0.1 and sf1.0
    # (probe in commit 4247e06, arm dedup_only) — the extra
    # array_distinct over all candidates plus the separate phrase-norm
    # pass cost more than the skipped validity evaluations, because
    # most candidates are already distinct within a turn. The
    # filter-then-distinct order stays.
    n_ph = F.size("ph")
    normed = F.transform(cands, norm)
    kept = F.filter(
        normed,
        lambda x, i: (i < n_ph) | is_valid_entity_col(x),
    )
    deduped = F.slice(F.array_distinct(kept), 1, MAX_MENTIONS_PER_TURN)
    return t, deduped


def extract_mention_arrays(turns: DataFrame) -> DataFrame:
    """Per-turn extraction WITHOUT the final explode: one row per turn
    with the deduped, capped mention-label array — the form the ER
    pipeline CACHES (r7): ~10x fewer rows and no per-mention
    conv_id/mention_id duplication in the cache bytes.

    Use `explode_mention_arrays` ONLY over the materialized cache (an
    InMemoryRelation): exploding this plan uncached invites the
    generator-inlining hazard documented in _marked_head — the uncached
    full-table path is extract_mentions."""
    t, deduped = _marked_head(turns)
    return t.select(
        "conv_id", "turn_idx", "platform", "ts",
        deduped.alias("norm_labels"),
    )


def _mention_rows(exploded: DataFrame, *extra: str) -> DataFrame:
    """(conv_id, turn_idx, platform, ts, pos, norm_label, *extra) -> the
    standard mention table. mention/mention_id are derived columns —
    computing them after the explode (post-cache on the ER path) means
    the cache never stores or concatenates them unless a consumer
    actually reads them."""
    from pyspark.sql import functions as F

    return exploded.select(
        "conv_id", "turn_idx", "platform", "ts",
        F.col("norm_label").alias("mention"),
        "norm_label",
        F.concat_ws("|", "conv_id", "turn_idx", "pos").alias("mention_id"),
        F.col("pos").cast("int").alias("pos"),
        *extra,
    )


def explode_mention_arrays(arrays: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, platform, ts, norm_labels array) -> the
    standard mention table (identical schema/values to extract_mentions;
    equivalence pinned by tests/test_r7_pipeline_equiv.py)."""
    from pyspark.sql import functions as F

    return _mention_rows(arrays.select(
        "conv_id", "turn_idx", "platform", "ts",
        F.posexplode("norm_labels").alias("pos", "norm_label"),
    ))


def _with_candidate_offsets(t: DataFrame) -> DataFrame:
    """Adds to _marked_head's frame, per turn and in text order, every
    extraction candidate's normalized text (`ms`; a phrase hit keeps its
    \\x01 marker so phrase and token candidates stay apart) and its
    1-based char offset in the lowered truncated text (`offs`).

    One cheap fragment scan over `resid` lists the candidates with their
    trailing whitespace. An offset is the previous one plus the previous
    fragment's length, less its two marker bytes if it was a phrase hit
    (markers are not in the original text)."""
    from pyspark.sql import functions as F

    lead = F.length("resid") - F.length(F.ltrim("resid", F.lit(_WS)))
    offs = F.aggregate(
        "frags",
        F.struct((lead + 1).alias("at"),
                 F.expr("cast(array() as array<int>)").alias("offs")),
        lambda acc, f: F.struct(
            (acc["at"] + F.length(f)
             - 2 * F.startswith(f, F.lit(_M1)).cast("int")).alias("at"),
            F.array_append(acc["offs"], acc["at"]).alias("offs"),
        ),
        lambda acc: acc["offs"],
    )
    # the same norm as _marked_head's, whitespace included in the charset
    # to drop the fragment's trailing whitespace in the same pass
    ms = F.transform(
        "frags", lambda f: F.rtrim(F.translate(f, _M2, ""), F.lit(".,;:" + _WS)))
    return (t.withColumn("frags", F.regexp_extract_all("resid", F.lit(_FRAGMENT), 1))
            .withColumn("offs", offs).withColumn("ms", ms))


def _first_offset(label):
    """Offset of `label`'s first candidate in phrases-first order — the
    occurrence _marked_head's dedup keeps, because a phrase hit is always
    kept and a token's validity depends only on its label."""
    from pyspark.sql import functions as F

    i = F.coalesce(
        F.nullif(F.array_position("ms", F.concat(F.lit(_M1), label)), F.lit(0)),
        F.array_position("ms", label),
    )
    return F.try_element_at("offs", F.nullif(i, F.lit(0)).cast("int"))


def extract_mentions(turns: DataFrame, with_offsets: bool = False) -> DataFrame:
    """turns (post P3/P4/P9 filters) -> mentions DataFrame.

    Pure-JVM extraction: ONE trie-regex scan marks phrase hits
    (_marked_head; the probe in commit 4247e06 measured the former
    two-scan form 1.26x slower with identical output), marker-pattern
    scans recover the phrase list and residual tokens, higher-order
    array ops do normalize/L1-filter/first-occurrence-dedup/cap — all
    per-row, zero shuffle, no Python workers. Input must have columns
    conv_id, turn_idx, platform, ts, text. Emits mention = normalized
    label (nothing downstream reads the raw surface).

    with_offsets=True adds `off`: each mention's exact 1-based char
    offset in the lowered truncated text, consumed by
    triples.build_triples so per-pair cue predicates are chosen by TRUE
    mention span (the reference picks a predicate per triple,
    triple_extraction.py:348-374) — re-locating normalized labels
    downstream cannot find an alias-normalized surface (k8s ->
    kubernetes) and mislocates a label embedded in another word ('java'
    inside 'javascript'). The offsets come from the same trie scan
    (_with_candidate_offsets, _first_offset). The default path carries
    no offsets: ER never consumes them, and a dead column through the
    mention shuffle at 10^12 turns is pure cost.
    """
    from pyspark.sql import functions as F

    t, deduped = _marked_head(turns)
    if not with_offsets:
        return _mention_rows(t.select(
            "conv_id", "turn_idx", "platform", "ts",
            F.posexplode(deduped).alias("pos", "norm_label"),
        ))
    labelled = F.transform(deduped, lambda x: F.struct(
        x.alias("norm_label"), _first_offset(x).alias("off")))
    exploded = _with_candidate_offsets(t).select(
        "conv_id", "turn_idx", "platform", "ts",
        F.posexplode(labelled).alias("pos", "m"),
    ).select("conv_id", "turn_idx", "platform", "ts", "pos", "m.norm_label",
             F.col("m.off").cast("int").alias("off"))
    return _mention_rows(exploded, "off")
