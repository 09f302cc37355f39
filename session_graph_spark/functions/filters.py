"""Two-level entity garbage filters (SURVEY.md §2.2, P5/P6).

The reference applies ~13 regex/rule groups per string, row-at-a-time
(L1 validity at extraction: triple_extraction.py:109-258; L2 linkability
before the expensive linking stage: link_entities.py:80-255). Here both
levels are vectorized pandas kernels over whole Arrow batches (pandas
`.str` ops with module-level precompiled patterns). L1 runs in the engine
as the JVM column `is_valid_entity_col`; L2 is exposed as a
`pandas_udf(BooleanType())` for use in DataFrame `.filter()`.

Rule order matters and is preserved: empty/1-char and stopwords reject
first, then the whitelist bypasses every remaining rule.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from session_graph_spark.data import STOPWORDS, TWO_CHAR_WHITELIST, WHITELIST

_FILE_EXTENSIONS = (
    r"ts|tsx|js|jsx|py|json|yaml|yml|css|html|md|sql|sh|env|db|sqlite|txt|"
    r"png|csv|jsonl|xml|toml|lock|cfg|ini|log|ttl|rdf|sparql|ipynb|whl|gz|"
    r"tar|zip|jpg|jpeg|gif|svg|wasm|map|d\.ts|mjs|cjs|pyc|appimage|dmg|exe|npz|rq"
)

# ---- L1 (validity-at-extraction) patterns ---------------------------------
_L1 = {
    "filename": re.compile(rf"^[\w@./-][\w./-]*\.(?:{_FILE_EXTENSIONS})$", re.I),
    "icd_short": re.compile(r"^[a-z]\d{2,}(\.\d+)?$", re.I),
    "icd_underscore": re.compile(r"^[a-z]+_\d{3}_\d{3}$", re.I),
    "proto_code": re.compile(r"^[a-z]+_\d+$", re.I),
    "snake3": re.compile(r"^[a-z][a-z0-9]*(_[a-z0-9]+){2,}$"),
    "num_prefix": re.compile(r"^\d+\s"),
    "version": re.compile(r"^\d+\.\d+"),
    "px": re.compile(r"^\d+px"),
    "pure_num": re.compile(r"^\d+$"),
    "ip": re.compile(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$"),
    "duration": re.compile(
        r"^\d+\s*(seconds?|minutes?|hours?|days?|ms|s|m|h|kb|mb|gb|tb)\b", re.I
    ),
    "hexhash": re.compile(r"^[0-9a-f]{6,}$", re.I),
    "quantity": re.compile(r"^\d+\s+\w+s$"),
    "ordinal": re.compile(r"^\d+(st|nd|rd|th)\b", re.I),
    "fraction": re.compile(r"^\d+/\d+"),
    "css_dim": re.compile(r"\d+(?:px|vh|vw|em|rem|pt|%)\b", re.I),
    "brackets": re.compile(r"[\[\]]"),
    "parens": re.compile(r"[()]"),
}

# ---- L2 (linkability) extra patterns ---------------------------------------
_L2 = {
    "file_ext": re.compile(rf"^[\w./-]+\.(?:{_FILE_EXTENSIONS})$", re.I),
    "special_start": re.compile(r"^[#@$*!~.:]"),
    "cli_flag": re.compile(r"^--"),
    "num_prefix": _L1["num_prefix"],
    "version": re.compile(r"^\d+\.\d"),
    "brackets": _L1["brackets"],
    "parens": _L1["parens"],
    "npm_scope": re.compile(r"^@.+/"),
    "css_dim": re.compile(r"\d+(?:px|vh|vw|em|rem|pt|%)\b", re.I),
    "percent": re.compile(r"\d+%"),
    "path2": re.compile(r"(?:^|[^a-zA-Z])[a-zA-Z0-9_./-]+/[a-zA-Z0-9_./-]+/[a-zA-Z0-9_./-]+"),
    "path_simple": re.compile(r"^[a-zA-Z0-9_./-]+/[a-zA-Z0-9_./-]+$"),
    "medical": re.compile(r"^[a-z]\d{2,}", re.I),
    "medical2": _L1["icd_underscore"],
    "snake3": _L1["snake3"],
    "proto_code": _L1["proto_code"],
    "dims": re.compile(r"^\d+x\d+"),
}

_SPECIAL_FIRST = ("#", "@", "$", "*", "!", "~", ".", ":", "-")
# the anchored (prefix-match) L1 rules
_L1_PREFIX_KEYS = (
    "filename", "icd_short", "icd_underscore", "proto_code", "snake3",
    "num_prefix", "version", "px", "pure_num", "ip", "duration",
    "hexhash", "quantity", "ordinal", "fraction",
)


def is_valid_entity_pd(s: pd.Series) -> pd.Series:
    """Vectorized L1 validity filter, the full rule set: the reference
    `is_valid_entity_col` (the engine form) is tested against. Input: raw
    (already lowercased or mixed-case) mention strings; output: boolean
    keep-mask."""
    s = s.fillna("")
    n = s.str.len()
    base_reject = (n <= 1) | s.isin(STOPWORDS)
    white = s.isin(WHITELIST)

    rej = pd.Series(False, index=s.index)
    rej |= s.str[0].isin(_SPECIAL_FIRST).fillna(False)
    rej |= s.str.startswith("/").fillna(False) | s.str.contains("\\\\", regex=True)
    for key in _L1_PREFIX_KEYS:
        rej |= s.str.match(_L1[key]).fillna(False)
    rej |= s.str.contains(_L1["css_dim"]).fillna(False)
    rej |= s.str.contains("%", regex=False)
    rej |= s.str.contains(_L1["brackets"]).fillna(False)
    rej |= s.str.contains(_L1["parens"]).fillna(False)
    rej |= n == 2
    rej |= s.str.split().str.len().fillna(0) > 3
    return (~base_reject) & (white | ~rej)


def is_linkable_entity_pd(s: pd.Series) -> pd.Series:
    """Vectorized L2 linkability filter (pre-pairwise-scoring). Catches what
    slipped past L1 (configs with '=', quoted strings, globs, NxM dims,
    multi-segment paths, npm scopes)."""
    s = s.fillna("").str.strip()
    low = s.str.lower()
    n = s.str.len()
    empty = n == 0
    white = low.isin(WHITELIST)

    rej = pd.Series(False, index=s.index)
    rej |= low.str.match(_L2["file_ext"]).fillna(False)
    rej |= s.str.match(_L2["special_start"]).fillna(False)
    rej |= s.str.match(_L2["cli_flag"]).fillna(False)
    rej |= s.str.match(_L2["num_prefix"]).fillna(False)
    rej |= s.str.match(_L2["version"]).fillna(False)
    rej |= (n == 2) & low.str.isalpha().fillna(False) & ~low.isin(TWO_CHAR_WHITELIST)
    rej |= n == 1
    rej |= s.str.contains(_L2["brackets"]).fillna(False)
    rej |= s.str.contains(_L2["parens"]).fillna(False)
    rej |= s.str.match(_L2["npm_scope"]).fillna(False)
    rej |= s.str.contains(_L2["css_dim"]).fillna(False)
    rej |= s.str.contains(_L2["percent"]).fillna(False)
    rej |= s.str.contains(_L2["path2"]).fillna(False)
    rej |= s.str.match(_L2["path_simple"]).fillna(False)
    rej |= (
        (n <= 6)
        & low.str.match(_L2["medical"]).fillna(False)
        & ~low.str.isalpha().fillna(True)
    )
    rej |= low.str.match(_L2["medical2"]).fillna(False)
    rej |= low.str.match(_L2["snake3"]).fillna(False)
    rej |= low.str.match(_L2["proto_code"]).fillna(False)
    rej |= low.str.startswith(".").fillna(False)
    rej |= s.str.contains("*", regex=False)
    rej |= s.str.replace(".", "", regex=False).str.replace("-", "", regex=False).str.isdigit().fillna(False)
    rej |= s.str.contains("=", regex=False) & (s.str.split().str.len() <= 2)
    rej |= (n <= 2) & ~s.str[0].str.isalnum().fillna(True)
    rej |= s.str.startswith("'").fillna(False) | s.str.startswith('"').fillna(False)
    rej |= s.str[0].isin(["%", "&"]).fillna(False) & (s.str.split().str.len() <= 2)
    rej |= s.str.match(_L2["dims"]).fillna(False)
    return (~empty) & (white | ~rej)


# ---- JVM column-expression variant of L1 -----------------------------------
# Python's Unicode \w as a Java character class: str.isalnum() or '_',
# i.e. the general categories L* and N* plus '_'. Java's \w is ASCII-only
# (the engine would take 'node.js' out of 'énode.js' and keep 'énode.js'
# past the filename rule), and its (?U)\w adds the combining marks
# (Mn/Mc/Me) and misses No ('²', '½'), so the class is spelled out by
# category. Python 3.11 reads Unicode 14 and Java 17 Unicode 13: the L/N
# code points Unicode 14 added are unassigned (Cn) on that JVM, so they
# are listed behind a Cn gate. ASCII is decided by Java's \w alone, so
# the category checks run only on non-ASCII characters (in a local[4]
# microbenchmark of the phrase scan on a 4-cpu host, category checks on
# every character read ~10% slower than ASCII \w, and a flat list of the
# ranges ~3x slower; this form read the same as ASCII \w).
_UNICODE_14_WORD = (
    "870-887 889-88E 8B5 8C8-8C9 C5D CDD 170D 171F 1B4C 2C2F 2C5F 9FFD-9FFF "
    "A7C0-A7C1 A7D0-A7D1 A7D3 A7D5-A7D9 A7F2-A7F4 10570-1057A 1057C-1058A "
    "1058C-10592 10594-10595 10597-105A1 105A3-105B1 105B3-105B9 105BB-105BC "
    "10780-10785 10787-107B0 107B2-107BA 10F70-10F81 11071-11072 11075 "
    "11740-11746 11AB0-11ABF 12F90-12FF0 16A70-16ABE 16AC0-16AC9 1AFF0-1AFF3 "
    "1AFF5-1AFFB 1AFFD-1AFFE 1B11F-1B122 1DF00-1DF1E 1E290-1E2AD 1E7E0-1E7E6 "
    "1E7E8-1E7EB 1E7ED-1E7EE 1E7F0-1E7FE 2A6DE-2A6DF 2B735-2B738")
JAVA_WORD = (r"[\w[\P{ASCII}&&[\p{L}\p{N}[\p{Cn}&&["
             + "".join("-".join(rf"\x{{{h}}}" for h in r.split("-"))
                       for r in _UNICODE_14_WORD.split())
             + "]]]]]")


# r7: the full-path rule chain is fused into two regex invocations — one
# anchored union of the 15 prefix rules and one search union of the
# contains-class rules (css_dim + the %, backslash, bracket and paren
# character probes). The union of matches is the OR of the individual
# matches, so the decision is unchanged (the SQL≡pandas equivalence
# tests pin it); what changes is ~19 Java regex invocations per
# non-plain candidate becoming 2 (guide §1.2 per-task work — measured
# by the extraction probe in commit 4247e06).
def _java_union_prefix(keys: tuple[str, ...]) -> str:
    # \w -> JAVA_WORD, also inside a class: Java reads [[...]@./-] as a union
    parts = [
        ("(?i:" if _L1[k].flags & re.I else "(?:")
        + _L1[k].pattern.replace("\\w", JAVA_WORD) + ")"
        for k in keys
    ]
    return r"\A(?:" + "|".join(parts) + ")"


_L1_PREFIX_UNION = _java_union_prefix(_L1_PREFIX_KEYS)
# search union: any of  % \ [ ] ( )  anywhere, or a css dimension. The
# css_dim %-alternative is already implied by the bare %-probe, but it
# is kept verbatim so each branch mirrors one original rule exactly.
_L1_SEARCH_UNION = r"[\[\]()%\\]|(?i:" + _L1["css_dim"].pattern + ")"


def is_valid_entity_col(c: Column) -> Column:
    """Pure-Column L1 validity filter — same decision as
    `is_valid_entity_pd` (equivalence-tested), usable inside higher-order
    array lambdas so extraction can stay in whole-stage codegen."""
    n = F.length(c)
    base_reject = (n <= 1) | c.isin(*sorted(STOPWORDS))
    white = c.isin(*sorted(WHITELIST))
    first = F.substring(c, 1, 1)
    rej_full = first.isin(*_SPECIAL_FIRST)
    rej_full = rej_full | c.startswith("/")
    rej_full = rej_full | c.rlike(_L1_SEARCH_UNION)
    rej_full = rej_full | c.rlike(_L1_PREFIX_UNION)
    rej_full = rej_full | (n == 2)
    # > 3 single-space-separated segments == > 2 literal spaces
    rej_full = rej_full | (
        (n - F.length(F.replace(c, F.lit(" "), F.lit("")))) > 2
    )
    # plain-alpha fast path: a ^[a-z]+$ token can only trip the hexhash
    # or 2-char rules; CASE WHEN makes codegen evaluate only the taken
    # branch, skipping the ~20 rlikes above (tests pin it against the
    # full rule set, is_valid_entity_pd).
    # (r6: a translate()-char-table variant of these two tests measured
    # identical within noise in a 4-quadrant interleaved A/B —
    # microbench in commit 4247e06, narrative in BENCH.md — so the
    # regex form stays.)
    plain = c.rlike(r"\A[a-z]+\Z")
    rej = F.when(plain, c.rlike(r"\A[a-f]{6,}\Z") | (n == 2)).otherwise(rej_full)
    return (~base_reject) & (white | ~rej)


@F.pandas_udf(BooleanType())
def is_linkable_entity(s: pd.Series) -> pd.Series:  # pragma: no cover
    return is_linkable_entity_pd(s)


def min_length_filter(col: str = "text", min_chars: int = 30) -> Column:
    """P3: skip texts shorter than 30 chars (triple_extraction.py:539-540)."""
    return F.length(F.trim(F.col(col))) >= min_chars


def assistant_only(col: str = "role") -> Column:
    """P4: extraction runs only on assistant turns (jsonl_to_rdf.py:211)."""
    return F.col(col) == "assistant"


def not_subagent(col: str = "source_file") -> Column:
    """P9: drop transcripts under /subagents/ (bulk_process.py:31-33)."""
    return ~F.coalesce(F.col(col), F.lit("")).contains("/subagents/")


def min_output_filter(extracted, min_rows: int = 1,
                      conv_col: str = "conv_id"):
    """P11: drop conversations whose extraction produced fewer than
    `min_rows` output rows (reference warp_to_rdf.py:330-339 skips a
    conversation when fewer than --min-triples knowledge triples were
    extracted). Takes the extracted table (mentions or triples) and
    returns it with under-producing conversations removed.

    The keep-list is an aggregate over conv_id (small) broadcast back
    against the extraction output — no full shuffle of the big side."""
    keep = (
        extracted.groupBy(conv_col)
        .agg(F.count("*").alias("__n_out"))
        .where(F.col("__n_out") >= min_rows)
        .select(conv_col)
    )
    return extracted.join(F.broadcast(keep), conv_col, "left_semi")
