"""Deterministic mention extraction (SURVEY.md §2.10 F1).

The reference extracts knowledge triples per assistant message with an LLM
(triple_extraction.py:524-579) and then normalizes/validates/caps them.
That is non-deterministic (20% inter-model overlap, CLAUDE.md:249), so the
replicable spec — and what we implement — is the deterministic part: a
gazetteer + token candidate generator followed by the same normalization
(N2) and L1 validity filter (P5), capped at 10 mentions per turn in
occurrence-priority order (T1, triple_extraction.py:508-512).

The engine path is pure-JVM column expressions (extract_mentions_sql,
and extract_mention_arrays for resolve()). The Arrow-batched
`mapInPandas` form (extract_mentions_pandas: vectorized pandas `.str`
ops, one output row per extracted mention — UDTF shape, 1 row in ->
0..10 rows out) is kept as the equivalence reference for phrase hits and
offsets.
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
            "extract_mentions_sql's reduced norm() would diverge from "
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


def _row_offsets(txt: str, phs: list[str], tks: list[str]) -> list[int]:
    """1-based char offsets (original lowered-text coordinates) for one
    row's phrase hits + residual tokens, mirroring the SQL form's locate
    folds EXACTLY (sequential left-to-right find walk; resid offsets
    mapped back through the cumulative phrase-collapse shifts) so the
    pandas and SQL engines stay bit-equal."""
    ph_offs: list[int] = []
    frm = 0
    for p in phs:
        i = txt.find(p, frm)
        ph_offs.append(i + 1)
        frm = i + len(p)
    # phrase k (length L, resid offset roff) collapsed to one space:
    # resid positions past it shift by a further L-1
    shifts: list[tuple[int, int]] = []
    d = 0
    for p, o in zip(phs, ph_offs):
        shifts.append((o - d, d + len(p) - 1))
        d += len(p) - 1
    resid = _PHRASE_RE.sub(" ", txt)
    tok_offs: list[int] = []
    frm = 0
    for tk in tks:
        i = resid.find(tk, frm)
        r = i + 1
        frm = i + len(tk)
        sh = 0
        for roff, s in shifts:  # roff strictly increasing
            if roff < r:
                sh = s
            else:
                break
        tok_offs.append(r + sh)
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
        base["off"] = [
            _row_offsets(t, p, k)
            for t, p, k in zip(text.tolist(), phrases.tolist(), tokens.tolist())
        ]
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

    Kept as the reference implementation; `extract_mentions_sql` is
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
    full-table path is extract_mentions_sql."""
    t, deduped = _marked_head(turns)
    return t.select(
        "conv_id", "turn_idx", "platform", "ts",
        deduped.alias("norm_labels"),
    )


def explode_mention_arrays(arrays: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, platform, ts, norm_labels array) -> the
    standard mention table (identical schema/values to
    extract_mentions_sql; equivalence pinned by
    tests/test_r7_pipeline_equiv.py). mention/mention_id are derived
    columns — computing them here (post-cache) means the ER cache never
    stores or concatenates them unless a consumer actually reads them."""
    from pyspark.sql import functions as F

    out = arrays.select(
        "conv_id", "turn_idx", "platform", "ts",
        F.posexplode("norm_labels").alias("pos", "norm_label"),
    )
    return out.select(
        "conv_id", "turn_idx", "platform", "ts",
        F.col("norm_label").alias("mention"),
        "norm_label",
        F.concat_ws("|", "conv_id", "turn_idx", "pos").alias("mention_id"),
        F.col("pos").cast("int").alias("pos"),
    )


def extract_mentions_sql(turns: DataFrame, with_offsets: bool = False) -> DataFrame:
    """Pure-JVM extraction: ONE trie-regex scan marks phrase hits
    (r7 — was regexp_extract_all + regexp_replace, two trie scans;
    the probe in commit 4247e06 measured the two-scan form 1.26x
    slower with identical output), marker-pattern scans recover the
    phrase list and residual tokens, higher-order array ops do
    normalize/L1-filter/first-occurrence-dedup/cap — all per-row, zero
    shuffle, no Python workers. Emits mention = normalized label (the
    pandas form keeps the raw surface; nothing downstream reads it).

    with_offsets=True additionally carries each kept mention's 1-based
    char offset in the lowered truncated text (see
    _extract_mentions_sql_offsets; that path keeps the two-scan head —
    its locate() folds need the space-replaced residual coordinates).
    The default path is value-identical to the offset-free round-5
    output: ER never consumes offsets, and carrying a dead column
    through the mention shuffle at 10^12 turns is pure cost — triple
    construction opts in.
    """
    if with_offsets:
        return _extract_mentions_sql_offsets(turns)
    from pyspark.sql import functions as F

    t, deduped = _marked_head(turns)
    out = t.select(
        "conv_id", "turn_idx", "platform", "ts",
        F.posexplode(deduped).alias("pos", "norm_label"),
    )
    return out.select(
        "conv_id", "turn_idx", "platform", "ts",
        F.col("norm_label").alias("mention"),
        "norm_label",
        F.concat_ws("|", "conv_id", "turn_idx", "pos").alias("mention_id"),
        F.col("pos").cast("int").alias("pos"),
    )


def _extract_mentions_sql_offsets(turns: DataFrame) -> DataFrame:
    """The pure-JVM extraction, additionally carrying each kept mention's
    1-based char offset (`off`) in the lowered truncated turn text —
    consumed by triples.build_triples so per-pair cue predicates are
    chosen by TRUE mention span (reference picks a predicate per triple,
    triple_extraction.py:348-374) instead of re-locating normalized
    labels downstream, which cannot find an alias-normalized surface
    (k8s -> kubernetes) and mislocates a label embedded in another word
    ('java' inside 'javascript').

    Offset recovery, all JVM higher-order expressions (no UDF):
    - phrase hits: a sequential locate() fold mirrors the regex's
      left-to-right non-overlapping walk (the cue-fold technique,
      triples.py). Best-effort corner: locate() is not lookaround-aware,
      so a phrase whose text also occurs earlier EMBEDDED in a word
      (matched by locate, skipped by the regex) shifts that phrase's
      offset; the blast radius is one pair's cue choice.
    - residual tokens: located in the phrase-blanked residual — exact,
      because inter-token gaps there are pure whitespace — then mapped
      back to original coordinates by adding the cumulative collapse
      shift of every phrase replaced before them (a phrase of length L
      became one space: positions after it shift by L-1).

    The pandas form (_row_offsets) replays the same folds for
    bit-equality; the equivalence test pins it.
    """
    from pyspark.sql import functions as F

    from session_graph_spark.functions.filters import is_valid_entity_col

    java_phrase_re = _PHRASE_RE.pattern
    lower_text = F.lower(F.substring("text", 1, EXTRACT_INPUT_MAX_CHARS))

    t = turns.select(
        "conv_id", "turn_idx", "platform", "ts",
        lower_text.alias("__lt"),
        F.regexp_extract_all(lower_text, F.lit(java_phrase_re), 1).alias("ph"),
        F.regexp_replace(lower_text, java_phrase_re, " ").alias("resid"),
    ).withColumn(
        # 1-based offset of each phrase hit in __lt (sequential locate
        # fold — same walk as the extraction regex)
        "ph_offs",
        F.expr(
            "aggregate(ph,"
            " named_struct('frm', 1, 'offs', cast(array() as array<int>)),"
            " (acc, c) -> named_struct("
            "   'frm', locate(c, __lt, acc.frm) + length(c),"
            "   'offs', array_append(acc.offs, locate(c, __lt, acc.frm))),"
            " acc -> acc.offs)"
        ),
    ).withColumn(
        # resid -> original coordinate map: entry k = (phrase k's resid
        # offset, cumulative original-minus-resid shift for positions
        # after it); roff is strictly increasing by construction
        "ph_map",
        F.expr(
            "aggregate(arrays_zip(ph, ph_offs),"
            " named_struct('d', 0, 'arr',"
            "   cast(array() as array<struct<roff:int, shift:int>>)),"
            " (acc, x) -> named_struct("
            "   'd', acc.d + length(x.ph) - 1,"
            "   'arr', array_append(acc.arr, named_struct("
            "     'roff', x.ph_offs - acc.d,"
            "     'shift', acc.d + length(x.ph) - 1))),"
            " acc -> acc.arr)"
        ),
    ).withColumn(
        "toks", F.filter(F.split("resid", r"\s+"), lambda x: x != "")
    ).withColumn(
        # token offsets in resid: exact (gaps between consecutive \\S+
        # runs are pure whitespace, so the forward locate can never land
        # early)
        "tok_roffs",
        F.expr(
            "aggregate(toks,"
            " named_struct('frm', 1, 'offs', cast(array() as array<int>)),"
            " (acc, c) -> named_struct("
            "   'frm', locate(c, resid, acc.frm) + length(c),"
            "   'offs', array_append(acc.offs, locate(c, resid, acc.frm))),"
            " acc -> acc.offs)"
        ),
    ).withColumn(
        # candidates = phrase structs ++ token structs, token offsets
        # mapped to original coordinates via the last ph_map entry
        # strictly before them (try_element_at: empty filter -> null -> 0)
        "cands",
        F.expr(
            "concat("
            " transform(arrays_zip(ph, ph_offs),"
            "   x -> named_struct('m', x.ph, 'off', x.ph_offs)),"
            " transform(arrays_zip(toks, tok_roffs),"
            "   x -> named_struct('m', x.toks,"
            "     'off', x.tok_roffs + coalesce("
            "       try_element_at(filter(ph_map, e -> e.roff < x.tok_roffs),"
            "                      -1).shift, 0))))"
        ),
    )
    n_ph = F.size("ph")

    def norm(x):
        # same reduced norm as the default SQL path (no-op trim/ws
        # dropped; gazetteer invariant enforced at import)
        return F.regexp_replace(x, r"[.,;:]+$", "")

    normed = F.transform(
        "cands",
        lambda x: F.struct(norm(x["m"]).alias("label"), x["off"].alias("off")),
    )
    kept = F.filter(normed, lambda x, i: (i < n_ph) | is_valid_entity_col(x["label"]))
    t = t.withColumn("kept", kept).withColumn(
        "klabels", F.expr("transform(kept, x -> x.label)")
    )
    # first-occurrence dedup on the label field (array_distinct would
    # treat same-label/different-offset structs as distinct), then cap
    deduped = F.expr(
        "slice(filter(kept, (x, i) -> array_position(klabels, x.label) == i + 1),"
        f" 1, {MAX_MENTIONS_PER_TURN})"
    )
    out = t.select(
        "conv_id", "turn_idx", "platform", "ts",
        F.posexplode(deduped).alias("pos", "m"),
    )
    return out.select(
        "conv_id", "turn_idx", "platform", "ts",
        F.col("m.label").alias("mention"),
        F.col("m.label").alias("norm_label"),
        F.concat_ws("|", "conv_id", "turn_idx", "pos").alias("mention_id"),
        F.col("pos").cast("int").alias("pos"),
        F.col("m.off").cast("int").alias("off"),
    )


def extract_mentions(turns: DataFrame, with_offsets: bool = False) -> DataFrame:
    """turns (post P3/P4/P9 filters) -> mentions DataFrame via the
    whole-stage-codegen column expressions (extract_mentions_sql).

    Input must have columns conv_id, turn_idx, platform, ts, text.
    with_offsets=True adds the `off` char-offset column (triple path;
    see extract_mentions_sql). The Arrow-batched UDF form,
    extract_mentions_pandas, is the equivalence reference for phrase
    hits and offsets.
    """
    return extract_mentions_sql(turns, with_offsets=with_offsets)
