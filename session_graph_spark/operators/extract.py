"""Deterministic mention extraction (SURVEY.md §2.10 F1).

The reference extracts knowledge triples per assistant message with an LLM
(triple_extraction.py:524-579) and then normalizes/validates/caps them.
That is non-deterministic (20% inter-model overlap, CLAUDE.md:249), so the
replicable spec — and what we implement — is the deterministic part: a
gazetteer + token candidate generator followed by the same normalization
(N2) and L1 validity filter (P5), capped at 10 mentions per turn in
occurrence-priority order (T1, triple_extraction.py:508-512).

The engine path is pure-JVM column expressions over ONE trie-regex scan
(_marked_head): extract_mentions for the mention table (optionally with
each mention's exact char offset), extract_mention_arrays for resolve().
The Arrow-batched `mapInPandas` form (extract_mentions_pandas: vectorized
pandas `.str` ops, one output row per extracted mention — UDTF shape, 1
row in -> 0..10 rows out) is kept as the equivalence reference for phrase
hits and offsets.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from session_graph_spark.data import ALIAS_MAP
from session_graph_spark.functions.filters import is_valid_entity_pd

MAX_MENTIONS_PER_TURN = 10
EXTRACT_INPUT_MAX_CHARS = 1500  # reference truncates extraction input (N7)

# phrase gazetteer: multi-word / dotted surface forms from the alias
# dimension (both surface and canonical sides)
_PHRASES = sorted(
    {s for kv in ALIAS_MAP.items() for s in kv if (" " in s or "." in s)},
    key=len,
    reverse=True,
)

# the SQL engines' per-candidate norm skips normalize_entity's trim and
# whitespace-collapse as provable no-ops: residual tokens come from
# split(\s+) (cannot contain whitespace) and phrase candidates are
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
_PHRASE_RE = re.compile(
    r"(?<![\w.])(" + _trie_pattern(_PHRASES) + r")(?!\w)"
)
_TOKEN_RE = re.compile(r"\S+")

MENTION_SCHEMA = (
    "conv_id string, turn_idx int, platform string, ts timestamp, "
    "mention string, norm_label string, mention_id string, pos int"
)
# with_offsets=True adds `off`: the mention's 1-based char offset in the
# lowered, truncated turn text (the coordinate system build_triples' cue
# offsets use for the first EXTRACT_INPUT_MAX_CHARS chars)
MENTION_SCHEMA_OFFSETS = MENTION_SCHEMA + ", off int"


def _normalize_series(s: pd.Series) -> pd.Series:
    """pandas mirror of functions.normalize.normalize_entity (N2)."""
    s = s.str.strip().str.lower()
    s = s.str.replace(r"\s+", " ", regex=True)
    # strip the same trailing punctuation set as normalize_entity (the
    # reference's rstrip('.,;:') — '!' and '?' are NOT stripped)
    return s.str.replace(r"[.,;:]+$", "", regex=True)


def _row_offsets(txt: str) -> list[int]:
    """1-based char offsets of one row's phrase hits followed by its
    residual tokens (the order extract_mentions_batch concatenates them),
    read straight off the regex match starts: the residual tokens are the
    \\S+ runs in the gaps between phrase matches."""
    ph_offs: list[int] = []
    tok_offs: list[int] = []
    prev = 0
    for m in _PHRASE_RE.finditer(txt):
        tok_offs += [t.start() + 1 for t in _TOKEN_RE.finditer(txt, prev, m.start())]
        ph_offs.append(m.start() + 1)
        prev = m.end()
    tok_offs += [t.start() + 1 for t in _TOKEN_RE.finditer(txt, prev)]
    return ph_offs + tok_offs


def extract_mentions_batch(pdf: pd.DataFrame,
                           with_offsets: bool = False) -> pd.DataFrame:
    """One Arrow batch of turns -> mention rows."""
    off_cols = ["off"] if with_offsets else []
    if len(pdf) == 0:
        return pd.DataFrame(
            columns=["conv_id", "turn_idx", "platform", "ts", "mention",
                     "norm_label", "mention_id", "pos", *off_cols]
        )
    # lowercase once up front: phrase matching avoids IGNORECASE and the
    # downstream normalize/filter work on mention strings sees lowercase
    # (normalize_entity lowercases anyway, so semantics are unchanged)
    text = pdf["text"].fillna("").str.slice(0, EXTRACT_INPUT_MAX_CHARS).str.lower()
    phrases = text.str.findall(_PHRASE_RE)
    residual = text.str.replace(_PHRASE_RE, " ", regex=True)
    tokens = residual.str.findall(_TOKEN_RE)

    base = pdf[["conv_id", "turn_idx", "platform", "ts"]].copy()
    # phrase hits are known dictionary entries: they bypass L1 (whitelist
    # semantics — otherwise the filename rule would reject 'node.js');
    # loose tokens go through the full L1 validity filter. Phrases are
    # prepended so they win the per-turn cap — a single explode keeps that
    # order without a concat+sort over the exploded frame.
    base["mention"] = phrases + tokens
    base["n_ph"] = phrases.str.len()
    if with_offsets:
        base["off"] = [_row_offsets(t) for t in text.tolist()]
    out = base.explode(["mention", *off_cols], ignore_index=False)
    out = out[out["mention"].notna()]
    if len(out) == 0:
        return (out.reset_index(drop=True)
                .assign(norm_label=[], mention_id=[], pos=[])
                .drop(columns=["n_ph"])
                [["conv_id", "turn_idx", "platform", "ts", "mention",
                  "norm_label", "mention_id", "pos", *off_cols]])
    out["is_phrase"] = out.groupby(level=0).cumcount() < out["n_ph"]
    out = out.reset_index(drop=True)

    out["norm_label"] = _normalize_series(out["mention"].astype(str))
    out = out[out["is_phrase"] | is_valid_entity_pd(out["norm_label"])]
    # dedupe within turn (set semantics, U2) keeping first occurrence,
    # then cap at 10 (T1)
    out = out.drop_duplicates(["conv_id", "turn_idx", "norm_label"])
    out["pos"] = out.groupby(["conv_id", "turn_idx"]).cumcount()
    out = out[out["pos"] < MAX_MENTIONS_PER_TURN].reset_index(drop=True)
    out["mention_id"] = (
        out["conv_id"].astype(str) + "|"
        + out["turn_idx"].astype(str) + "|"
        + out["pos"].astype(str)
    )
    out["pos"] = out["pos"].astype("int32")
    out["turn_idx"] = out["turn_idx"].astype("int32")
    if with_offsets:
        out["off"] = out["off"].astype("int32")
    out = out.drop(columns=["n_ph", "is_phrase"])
    return out[["conv_id", "turn_idx", "platform", "ts", "mention",
                "norm_label", "mention_id", "pos", *off_cols]]


def extract_mentions_pandas(turns: DataFrame,
                            with_offsets: bool = False) -> DataFrame:
    """Arrow-batched pandas implementation (the UDTF-shaped F1 form).

    Kept as the reference implementation; `extract_mentions` is
    equivalence-tested against it and is the default in the pipeline.
    """
    cols = ["conv_id", "turn_idx", "platform", "ts", "text"]
    schema = MENTION_SCHEMA_OFFSETS if with_offsets else MENTION_SCHEMA

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:  # pragma: no cover
        for pdf in batches:
            yield extract_mentions_batch(pdf, with_offsets=with_offsets)

    return turns.select(*cols).mapInPandas(run, schema=schema)


# phrase-hit markers for the single-scan extraction head (r7). The trie
# regex is the expensive scan — the round-6 microbench priced each trie
# pass at ~4.5s of the ~20s stage (local[8], sf0.1) and the r7 variant
# A/B (probe in commit 4247e06) measured the two-scan form 1.26x
# slower end to end — so ONE regexp_replace wraps every phrase hit in
# \x01..\x02 and both downstream needs become cheap marker scans:
# phrase list = regexp_extract_all on the marker pattern, residual
# tokens = split on (marker-span | whitespace), which yields exactly the
# fragments the former replace-with-space + \s+ split produced.
# Equivalence caveat (documented, not load-bearing): input text that
# itself contains \x01/\x02 control bytes would mis-parse; conversation
# text never carries them and the pandas engine equivalence tests pin
# the behavior on real text shapes.
_M1, _M2 = "\x01", "\x02"
_MARKER_EXTRACT = rf"{_M1}([^{_M2}]*){_M2}"
_MARKER_OR_WS = rf"{_M1}[^{_M2}]*{_M2}|\s+"
# one phrase hit (markers included) or residual token plus the whitespace
# after it: in text order the fragments tile `resid` past its leading
# whitespace, so their lengths locate every candidate without a search
_FRAGMENT = rf"((?:{_M1}[^{_M2}]*{_M2}|[^\s{_M1}{_M2}]+)\s*)"
_WS = " \t\n\x0b\f\r"  # the characters of Java's \s


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

    from session_graph_spark.functions.filters import is_valid_entity_col

    java_phrase_re = _PHRASE_RE.pattern  # lookarounds are valid Java regex
    lower_text = F.lower(F.substring("text", 1, EXTRACT_INPUT_MAX_CHARS))

    t = turns.select(
        "conv_id", "turn_idx", "platform", "ts",
        F.regexp_replace(lower_text, java_phrase_re,
                         f"{_M1}$1{_M2}").alias("resid"),
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
    label (the pandas form keeps the raw surface; nothing downstream
    reads it).

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
    extract_mentions_pandas is the equivalence reference for phrase hits
    and offsets.
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
