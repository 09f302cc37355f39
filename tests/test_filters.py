"""Unit tests for the two-level garbage filters (P5/P6).

Cases come from the reference's documented rule examples
(triple_extraction.py:146-258, link_entities.py:142-255).
The kernels are pure pandas; only the JVM fast-path check needs Spark.
"""

import pandas as pd
from pyspark.sql import functions as F

from session_graph_spark.functions.filters import (
    is_linkable_entity_pd,
    is_valid_entity_pd,
)

L1_REJECT = [
    "", "x", "the", "it", "true", "null", "n/a",            # empty/stopword
    "#8776f6", "@radix-ui/react-dialog", "$price", "*.py", ".env",
    "--force", ":hover", "~tmp",                             # special prefix
    "/usr/bin/python", "c:\\windows",                        # paths
    "config.json", "__init__.py", "auth-utils.ts", "src/main/app.py",
    "j458", "a021", "k25.0",                                 # ICD codes
    "ansied_022_001", "cefaleia_007",                        # protocol codes
    "anthropic_api_key", "my_var_name_here",                 # snake_case 3+
    "0 bytes data", "1 llm call",                            # numeric prefix
    "0.3", "5.0.0", "0.75 confidence",                       # versions
    "280px", "1400px",                                       # px dims
    "42",                                                    # pure number
    "192.168.0.1", "10.158.0.38",                            # IPs
    "120 seconds", "500ms", "10mb",                          # durations
    "7f9ef80", "a1b2c3d4",                                   # git hashes
    "80 tests", "3 files",                                   # quantity
    "7th character extensions",                              # ordinal
    "3/4", "8/8h",                                           # fractions
    "height 280px", "100vh",                                 # css dims
    "100%", "50% discount",                                  # percent
    "candidates[0]", "[]",                                   # brackets
    "express.json()",                                        # parens
    "aa", "bp", "df",                                        # 2-char noise
    "a very long noun phrase here",                          # 4+ words
]
L1_ACCEPT = [
    "python", "kubernetes", "react", "postgresql", "fastapi",
    "machine learning", "visual studio code",
    "ai", "js", "go", "api", "sql", "npm", "k8s",            # whitelist/short
    "scikit-learn", "docker-compose", "kubernets",           # hyphens + typos
]

L2_REJECT = [
    "key=value", "debug=true",                               # configs
    "'quoted'", '"quoted"',                                  # quoted
    "*.py", "src/*.ts",                                      # globs
    "1184x864", "768x1344",                                  # NxM dims
    "a/b/c", "foo/bar",                                      # paths 2+ seg
    "@radix-ui/react-dialog",                                # npm scope
    "aa", "zz",                                              # 2-char noise
    "5.5", "--verbose", ".bashrc", "1234",
]
L2_ACCEPT = [
    "python", "kubernetes", "postgresql", "large language model",
    "ai", "js", "db", "go",                                  # 2-char whitelist
    "node.js",                                               # L2 file-ext list has no bare 'js'... see note
]


def test_l1_rejects():
    s = pd.Series(L1_REJECT)
    got = is_valid_entity_pd(s)
    bad = [v for v, ok in zip(L1_REJECT, got) if ok]
    assert not bad, f"L1 should reject: {bad}"


def test_l1_accepts():
    s = pd.Series(L1_ACCEPT)
    got = is_valid_entity_pd(s)
    bad = [v for v, ok in zip(L1_ACCEPT, got) if not ok]
    assert not bad, f"L1 should accept: {bad}"


def test_l2_rejects():
    s = pd.Series(L2_REJECT)
    got = is_linkable_entity_pd(s)
    bad = [v for v, ok in zip(L2_REJECT, got) if ok]
    assert not bad, f"L2 should reject: {bad}"


def test_l2_accepts():
    # node.js: ends in .js which IS in the L2 extension list -> rejected by
    # L2 exactly like the reference; the pipeline protects dictionary
    # entries by alias-normalizing BEFORE the L2 filter only when the
    # canonical itself is clean. Check the clean ones here.
    s = pd.Series([v for v in L2_ACCEPT if v != "node.js"])
    got = is_linkable_entity_pd(s)
    bad = [v for v, ok in zip(s, got) if not ok]
    assert not bad, f"L2 should accept: {bad}"


def test_l1_fast_path_equals_full_rules(spark):
    # is_valid_entity_col's ^[a-z]+$ CASE-WHEN fast path must decide
    # identically to the full rule set (is_valid_entity_pd)
    from session_graph_spark.functions.filters import is_valid_entity_col
    import random
    words = (L1_REJECT + L1_ACCEPT
             + ["decade", "cafe", "deadbeef", "abcdef", "ab", "go", "xyz"]
             + ["".join(random.Random(i).choices("abcdef", k=7)) for i in range(50)]
             + ["".join(random.Random(i).choices("abcxyz", k=5)) for i in range(50)])
    words = [w for w in words if w]
    reference = is_valid_entity_pd(pd.Series(words)).tolist()
    df = spark.createDataFrame([(i, w) for i, w in enumerate(words)], "i int, w string")
    got = [r[0] for r in df.orderBy("i").select(is_valid_entity_col(F.col("w"))).collect()]
    diff = [w for w, a, b in zip(words, reference, got) if a != b]
    assert not diff, f"fast path diverges on: {diff}"


def test_whitelist_beats_every_rule():
    # 'go' (2 chars), 'ai' (2 chars), 'c1'-like shapes are rejected, but
    # whitelisted terms always pass both levels
    for term in ["ai", "ui", "db", "go", "js", "api", "npm"]:
        assert bool(is_valid_entity_pd(pd.Series([term]))[0]), term
        assert bool(is_linkable_entity_pd(pd.Series([term]))[0]), term
