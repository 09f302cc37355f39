"""Unit tests for the string-similarity kernels (F2)."""

import math
import random
import string
import sys
from pathlib import Path

import pandas as pd
import pytest

from session_graph_spark.functions import similarity as S


def test_jaro_known_values():
    # classic textbook values
    assert math.isclose(S.jaro("martha", "marhta"), 0.944444, abs_tol=1e-5)
    assert math.isclose(S.jaro("dixon", "dicksonx"), 0.766667, abs_tol=1e-5)
    assert S.jaro("same", "same") == 1.0
    assert S.jaro("", "x") == 0.0
    assert S.jaro("abc", "xyz") == 0.0


def test_jaro_winkler_known_values():
    assert math.isclose(S.jaro_winkler("martha", "marhta"), 0.961111, abs_tol=1e-5)
    assert math.isclose(S.jaro_winkler("dwayne", "duane"), 0.84, abs_tol=1e-2)
    assert S.jaro_winkler("kubernetes", "kubernetes") == 1.0


def test_levenshtein_ratio():
    assert S.levenshtein_ratio("kitten", "sitting") == pytest.approx(1 - 3 / 7)
    assert S.levenshtein_ratio("abc", "abc") == 1.0
    assert S.levenshtein_ratio("", "abc") == 0.0
    assert S.levenshtein_ratio("dockr", "docker") == pytest.approx(1 - 1 / 6)


def test_jaccards():
    assert S.token_jaccard("apache spark", "apache kafka") == pytest.approx(1 / 3)
    assert S.trigram_jaccard("abc", "abc") == 1.0
    assert 0 < S.trigram_jaccard("kubernets", "kubernetes") < 1


def test_combined_score_separates_matches_from_confusables():
    positives = [
        ("kubernets", "kubernetes"), ("postgresq", "postgresql"),
        ("dockr", "docker"), ("tensorflw", "tensorflow"),
        ("elasticsearh", "elasticsearch"), ("graphqls", "graphql"),
        ("terafform", "terraform"), ("graffana", "grafana"),
        ("prometheos", "prometheus"), ("pydantics", "pydantic"),
        ("kotlyn", "kotlin"), ("ansibel", "ansible"),
        ("webpck", "webpack"), ("tailwnd", "tailwind"),
        ("typescripts", "typescript"), ("pyhton", "python"),
    ]
    negatives = [
        ("java", "javascript"), ("python", "pytorch"), ("react", "redis"),
        ("go", "graphql"), ("terraform", "tensorflow"),
        ("grafana", "graphql"), ("kotlin", "kubernetes"),
        ("rust", "redis"), ("nginx", "next.js"), ("ansible", "apache spark"),
    ]
    for a, b in positives:
        assert S.combined_score(a, b) >= S.MATCH_THRESHOLD, (a, b, S.combined_score(a, b))
    for a, b in negatives:
        assert S.combined_score(a, b) < S.MATCH_THRESHOLD, (a, b, S.combined_score(a, b))


def test_batch_kernel_matches_scalar():
    a = pd.Series(["kubernets", "java", "docker", None])
    b = pd.Series(["kubernetes", "javascript", "docker", "x"])
    got = S.combined_score_batch(a, b)
    assert got[2] == 1.0
    assert got[0] == S.combined_score("kubernets", "kubernetes")
    assert got[1] == S.combined_score("java", "javascript")
    assert got[3] == S.combined_score("", "x")


def _word(rng, alphabet, lo, hi):
    return "".join(rng.choice(alphabet) for _ in range(rng.randint(lo, hi)))


def _typo_pairs(rng, n):
    """(base, one-character-deletion variant) pairs, typo side first or
    second at random, mixed with unrelated pairs of the same lengths."""
    pairs = []
    for _ in range(n):
        a = _word(rng, string.ascii_lowercase, 3, 14)
        k = rng.randrange(len(a))
        pairs.append((a, a[:k] + a[k + 1:]) if rng.random() < 0.5
                     else (a[:k] + a[k + 1:], a))
        pairs.append((a, _word(rng, string.ascii_lowercase, 3, 14)))
    return pairs


def test_batch_kernel_property_equals_scalar():
    """combined_score_batch(a, b)[i] == combined_score(a[i], b[i]) with
    `==`: the array program must reproduce the scalar kernel bit for bit
    (DuckDB's kernel_score_sql and stored decision caches rely on it)."""
    rng = random.Random(20261019)
    ascii_ = string.ascii_lowercase + " .-_0123456789"
    words = ["apache", "spark", "kafka", "flink", "data", "lake", "js", "go"]
    non_ascii = "éèßüñøабвгдежзийк中文字符日本語한국"
    pairs = _typo_pairs(rng, 400)
    pairs += [(_word(rng, ascii_, 0, 16), _word(rng, ascii_, 0, 16))
              for _ in range(800)]
    pairs += [(" ".join(rng.sample(words, rng.randint(1, 3))),
               " ".join(rng.sample(words, rng.randint(1, 3))))
              for _ in range(300)]
    pairs += [(_word(rng, non_ascii + "ab", 0, 10),
               _word(rng, non_ascii + "ab", 0, 10)) for _ in range(300)]
    pairs += [("straße", "strasse"), ("café", "cafe"), ("москва", "моска"),
              ("東京都", "東京"), ("naïve", "naive")]
    pairs += [(a, b) for a in ("", None, "x", "same", "a b")
              for b in ("", None, "x", "same", "a b")]
    pairs += [(w, w) for w in rng.sample(words, 4)]
    # one batch mixing a 200-character label with short ones: the length
    # buckets must keep the short rows exact next to the long one
    long_label = _word(rng, "abcde ", 200, 200)
    pairs += [(long_label, long_label[:-1]), (long_label, "abc"),
              ("abc", long_label), (long_label, long_label)]
    rng.shuffle(pairs)
    a = pd.Series([p[0] for p in pairs], dtype=object)
    b = pd.Series([p[1] for p in pairs], dtype=object)
    got = S.combined_score_batch(a, b)
    assert list(got.index) == list(a.index)
    for i, (x, y) in enumerate(pairs):
        want = S.combined_score(x or "", y or "")
        assert got[i] == want, (x, y, got[i], want)


def test_pair_score_udf_equals_scalar(spark):
    """score_pairs through the real Arrow `pair_score` UDF returns, per
    row, exactly combined_score."""
    from session_graph_spark.operators.scoring import score_pairs

    pairs = sorted(set(_typo_pairs(random.Random(7), 150)))
    df = spark.createDataFrame(pairs, "label_a string, label_b string")
    rows = score_pairs(df).collect()
    assert len(rows) == len(pairs)
    for r in rows:
        want = S.combined_score(r["label_a"], r["label_b"])
        assert r["score"] == want, (r["label_a"], r["label_b"], r["score"], want)


def test_duckdb_kernel_bit_parity():
    """The er_clusters DuckDB oracle relies on DuckDB's
    jaro_winkler_similarity/levenshtein being bit-identical to our kernel
    (__spark_entry__.kernel_score_sql). Pin that claim on seeded random
    strings plus the curated positive/negative label pairs."""
    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from __spark_entry__ import kernel_score_sql, trigram_list_sql

    rng = random.Random(1234)
    alphabet = string.ascii_lowercase + " .-_0123456789"
    pairs = [
        ("kubernets", "kubernetes"), ("java", "javascript"),
        ("pyhton", "python"), ("apache spark", "apache kafka"),
        ("go", "graphql"), ("node.js", "nodejs"),
    ]
    for _ in range(500):
        a = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 16)))
        b = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 16)))
        if a != b:
            pairs.append((a, b))

    con = duckdb.connect()
    con.execute("CREATE TABLE p(a VARCHAR, b VARCHAR)")
    con.executemany("INSERT INTO p VALUES (?, ?)", pairs)
    sql = f"""
        WITH g AS (SELECT a, b, {trigram_list_sql('a')} AS ta,
                          {trigram_list_sql('b')} AS tb FROM p)
        SELECT a, b, {kernel_score_sql('a', 'b')} AS score FROM g"""
    for a, b, score in con.execute(sql).fetchall():
        assert score == S.combined_score(a, b), (a, b, score, S.combined_score(a, b))
