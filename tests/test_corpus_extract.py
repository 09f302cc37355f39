"""M0 corpus determinism + M1 extraction behavior + the per-row invariant.

`reference_mentions` is the plain-Python per-text F1 reference the JVM
extraction (operators.extract) is equivalence-tested against."""

import re

import pandas as pd
from pyspark.sql import functions as F

from session_graph_spark import corpus
from session_graph_spark.functions.filters import is_valid_entity_pd
from session_graph_spark.operators.extract import (EXTRACT_INPUT_MAX_CHARS,
                                                   MAX_MENTIONS_PER_TURN,
                                                   _PHRASE_RE, _PHRASE_TRIE,
                                                   extract_mentions)
from session_graph_spark.plans.pipeline import mentions_from_turns, prepare_turns

# the engine's Java phrase scan, with Python's Unicode \w in the lookarounds
_PHRASE_RE_PY = re.compile(r"(?<![\w.])(" + _PHRASE_TRIE + r")(?!\w)")
_TOKEN_RE = re.compile(r"\S+")  # Python's \s is exactly str.isspace()
_MARKERS_TO_SPACE = str.maketrans("\x01\x02", "  ")


def reference_mentions(text):
    """One turn's text -> [(surface, norm_label, off)] in pos order.

    Phrase hits first, then the residual \\S+ tokens between them, each
    with its 1-based match start in the lowered, truncated text (marker
    bytes mapped to spaces, which keeps the coordinates). A label is the
    candidate stripped, lowered, whitespace-collapsed and rstrip('.,;:').
    Tokens must pass L1; phrase hits are gazetteer entries and bypass it.
    A label's first occurrence wins, and a turn keeps at most 10."""
    low = (text or "")[:EXTRACT_INPUT_MAX_CHARS].lower().translate(_MARKERS_TO_SPACE)
    phrases, tokens, prev = [], [], 0
    for m in _PHRASE_RE_PY.finditer(low):
        tokens += _TOKEN_RE.finditer(low, prev, m.start())
        phrases.append(m)
        prev = m.end()
    tokens += _TOKEN_RE.finditer(low, prev)

    def norm(s):
        return " ".join(s.lower().split()).rstrip(".,;:")

    tok_labels = [norm(t.group()) for t in tokens]
    valid = is_valid_entity_pd(pd.Series(tok_labels, dtype=object)).tolist()
    cands = ([(m.group(), norm(m.group()), m.start() + 1, True) for m in phrases]
             + [(t.group(), label, t.start() + 1, ok)
                for t, label, ok in zip(tokens, tok_labels, valid)])
    out, seen = [], set()
    for surface, label, off, keep in cands:
        if keep and label not in seen:
            seen.add(label)
            out.append((surface, label, off))
    return out[:MAX_MENTIONS_PER_TURN]


def reference_rows(turns):
    """(conv_id, turn_idx, text) rows -> sorted (conv_id, turn_idx,
    norm_label, mention_id, pos, off) rows, extract_mentions' id scheme."""
    return sorted(
        (c, t, label, f"{c}|{t}|{pos}", pos, off)
        for c, t, text in turns
        for pos, (_, label, off) in enumerate(reference_mentions(text)))


def _turns_frame(spark, pdf):
    return spark.createDataFrame(
        pdf, "conv_id string, turn_idx int, platform string, ts timestamp, "
             "text string")


def test_corpus_deterministic():
    a = corpus.generate_turns_pdf(n_convs=30, seed=42)
    b = corpus.generate_turns_pdf(n_convs=30, seed=42)
    pd.testing.assert_frame_equal(a, b)
    c = corpus.generate_turns_pdf(n_convs=30, seed=43)
    assert not a["text"].equals(c["text"])


def test_corpus_shape_and_noise():
    pdf = corpus.generate_turns_pdf(n_convs=40)
    assert set(pdf.columns) >= {"conv_id", "turn_idx", "role", "text", "tool", "ts",
                                "platform", "source_file"}
    assert (pdf.groupby("conv_id")["turn_idx"].apply(lambda s: (s.sort_values().values
            == range(len(s))).all())).all(), "turn_idx must be dense 0..n-1"
    assert pdf["source_file"].str.contains("/subagents/").any()
    assert (pdf["text"].str.len() < 30).any()
    assert (pdf["text"].str.len() > 2000).any()
    assert set(pdf["platform"]) == set(corpus.PLATFORMS)


def test_extract_batch_finds_planted_and_rejects_noise(spark):
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1", "c1", "c2"],
            "turn_idx": [1, 3, 1],
            "platform": ["claude-code"] * 3,
            "ts": pd.to_datetime(["2026-01-01"] * 3),
            "text": [
                "I migrated the service from postgres to kubernetes using k8s "
                "manifests under config.json with --force and 280px of #8776f6.",
                "short",  # no planted mentions; generic tokens only
                "The fast api layer wraps sqlalchemy; vs code debugs it via node.js.",
            ],
        }
    )
    df = _turns_frame(spark, pdf)
    out = extract_mentions(df, with_offsets=True).toPandas()
    labels = set(out["norm_label"])
    assert {"postgres", "kubernetes", "k8s"} <= labels
    assert {"fast api", "sqlalchemy", "vs code", "node.js"} <= labels
    assert not labels & {"config.json", "--force", "280px", "#8776f6"}
    # cap: <= 10 mentions per turn, positions dense from 0
    per_turn = out.groupby(["conv_id", "turn_idx"])["pos"]
    assert (per_turn.max() <= 9).all()
    assert (per_turn.min() == 0).all()
    # mention_id is deterministic
    out2 = extract_mentions(df, with_offsets=True).toPandas()
    assert list(out["mention_id"]) == list(out2["mention_id"])


def test_sql_extraction_equals_pandas(spark):
    """The whole-stage-codegen extraction must decide identically to the
    plain-Python reference on (conv_id, turn_idx, norm_label, mention_id,
    pos)."""
    turns = corpus.generate_turns(spark, n_convs=25, seed=42)
    base = turns.where(
        (F.col("role") == "assistant") & (F.length(F.trim("text")) >= 30)
    ).select("conv_id", "turn_idx", "platform", "ts", "text")
    cols = ["conv_id", "turn_idx", "norm_label", "mention_id", "pos"]
    a = sorted(map(tuple, extract_mentions(base).select(*cols).collect()))
    b = [r[:5] for r in reference_rows(
        base.select("conv_id", "turn_idx", "text").collect())]
    assert len(a) > 500
    only_sql = set(a) - set(b)
    only_ref = set(b) - set(a)
    assert not only_sql and not only_ref, (
        f"sql-only: {sorted(only_sql)[:10]} reference-only: {sorted(only_ref)[:10]}"
    )


def test_extract_offsets_point_at_surface(spark):
    """with_offsets=True: every emitted offset must index the mention's
    raw surface in the lowered truncated text (1-based), for phrase hits,
    residual tokens after phrase collapse, and punctuation-normalized
    tokens alike."""
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1", "c2"],
            "turn_idx": [1, 1],
            "platform": ["claude-code"] * 2,
            "ts": pd.to_datetime(["2026-01-01"] * 2),
            "text": [
                # phrase ('vs code', 'node.js') + tokens; trailing-punct
                # normalization; token AFTER a phrase needs the collapse
                # shift mapped back to original coordinates
                "We debug vs code with postgres, then node.js runs redis.",
                "kubernetes via k8s manifests; fast api wraps sqlalchemy",
            ],
        }
    )
    out = extract_mentions(_turns_frame(spark, pdf), with_offsets=True).toPandas()
    assert len(out) > 5 and out["off"].notna().all()
    texts = {("c1", 1): pdf["text"][0].lower(), ("c2", 1): pdf["text"][1].lower()}
    for r in out.itertuples(index=False):
        t = texts[(r.conv_id, r.turn_idx)]
        surface = str(r.mention)
        got = t[r.off - 1 : r.off - 1 + len(surface)]
        assert got == surface, (r.norm_label, r.off, got, surface)


def test_offsets_surface_property_random_texts():
    """Property: for ANY text built from tokens, phrases, and punctuation,
    every mention's offset indexes its raw surface in the lowered
    truncated text (the plain-Python reference; the SQL form is separately
    bit-matched against it). 'xnode.js' puts a gazetteer phrase inside a
    longer word, where the regex must not match it."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    word = st.text(alphabet="abkz.", min_size=1, max_size=6)
    piece = st.one_of(word, st.sampled_from(
        ["vs code", "node.js", "xnode.js", "fast api", "k8s", "alpha,", "beta.",
         "  "]))
    texts = st.lists(
        st.lists(piece, min_size=1, max_size=25).map(" ".join),
        min_size=1, max_size=8)

    @settings(max_examples=60, deadline=None)
    @given(texts)
    def run(tt):
        for t in tt:
            low = t[:1500].lower()
            for s, _, off in reference_mentions(t):
                got = low[off - 1 : off - 1 + len(s)]
                assert got == s, (t, s, off, got)

    run()


def test_sql_offsets_equal_pandas(spark):
    """The JVM offsets must bit-match the reference's match-start walk on
    a corpus slice PLUS handcrafted rows exercising the tricky paths
    (multiple phrase hits, tokens after phrases, repeated substrings,
    trailing punctuation, a phrase first seen inside a longer word, text
    carrying the \\x01/\\x02 marker bytes, non-ASCII whitespace, non-ASCII
    letters touching a phrase), and every offset must index its label in
    the lowered text."""
    from session_graph_spark.functions.filters import JAVA_WORD
    from session_graph_spark.operators.extract import _MARKER_OR_WS, _WS

    every = "".join(chr(i) for i in range(3, 0x110000) if not 0xD800 <= i < 0xE000)
    probe = spark.createDataFrame([(every,)], "s string")
    # the JVM split drops exactly str.isspace()'s characters
    kept = probe.select(F.split("s", _MARKER_OR_WS)).first()[0]
    assert set(every) - set("".join(kept)) == set(_WS) \
        == {c for c in every if c.isspace()}
    # the phrase lookarounds' word class is exactly Python's Unicode \w
    kept = probe.select(F.regexp_replace("s", JAVA_WORD, "")).first()[0]
    assert set(every) - set(kept) == set(re.findall(r"\w", every)) \
        == {c for c in every if c.isalnum() or c == "_"}
    hard = spark.createDataFrame(
        [
            ("h1", 1, "p", None,
             "vs code and node.js: vs code again, alphabeta alpha beta."),
            ("h2", 1, "p", None,
             "fast api wraps fast api; k8s talks to kubernetes via k8s."),
            ("h3", 1, "p", None, "   leading space  postgres   redis "),
            ("h4", 1, "p", None, "x" * 2000 + " postgres"),  # truncation
            # 'node.js' first occurs inside 'denode.js', which the
            # phrase regex skips
            ("h5", 1, "p", None, "denode.js postgres then node.js with redis"),
            # the extraction head's own marker bytes inside the text
            ("h6", 1, "p", None, "redis \x01node.js\x02 kafka and postgres"),
            ("h7", 1, "p", None, "we run postgres\x01 and node.js with redis"),
            ("h8", 1, "p", None, "alpha\x02beta then postgres\x01redis kafka"),
            # whitespace outside Java's ASCII \s
            ("h9", 1, "p", None, "postgres\xa0redis with kafka"),
            ("h10", 1, "p", None, "postgres\x1credis then node.js"),
            ("h11", 1, "p", None, "postgres\u2003redis\u3000kafka\x85docker"),
            # non-ASCII word characters outside Java's ASCII \w
            ("h12", 1, "p", None, "\xe9node.js with postgres and redis"),
            ("h13", 1, "p", None, "vs code\xe9 with postgres and redis"),
        ],
        "conv_id string, turn_idx int, platform string, ts timestamp, text string",
    )
    turns = corpus.generate_turns(spark, n_convs=15, seed=7)
    base = turns.where(
        (F.col("role") == "assistant") & (F.length(F.trim("text")) >= 30)
    ).select("conv_id", "turn_idx", "platform", "ts", "text").unionByName(hard)
    cols = ["conv_id", "turn_idx", "norm_label", "mention_id", "pos", "off"]
    a = sorted(map(tuple, extract_mentions(base, with_offsets=True)
                   .select(*cols).collect()))
    b = reference_rows(base.select("conv_id", "turn_idx", "text").collect())
    assert len(a) > 300
    only_sql = set(a) - set(b)
    only_ref = set(b) - set(a)
    assert not only_sql and not only_ref, (
        f"sql-only: {sorted(only_sql)[:10]} reference-only: {sorted(only_ref)[:10]}"
    )
    h5 = {r[2]: r[5] for r in a if r[0] == "h5"}
    assert (h5["node.js"], h5["postgres"], h5["then"]) == (25, 11, 20), h5
    for h in ("h6", "h7", "h8", "h9", "h10", "h11", "h12", "h13"):
        labels = {r[2] for r in a if r[0] == h}
        assert {"postgres", "redis"} <= labels, (h, labels)
    # a non-ASCII letter touching a phrase keeps it from matching
    assert "node.js" not in {r[2] for r in a if r[0] == "h12"}
    assert "vs code" not in {r[2] for r in a if r[0] == "h13"}
    texts = {(r.conv_id, r.turn_idx): r.text.lower()
             for r in base.select("conv_id", "turn_idx", "text").collect()}
    for conv_id, turn_idx, label, _, _, off in a:
        assert texts[(conv_id, turn_idx)][off - 1:].startswith(label), \
            (conv_id, turn_idx, label, off)


def test_offsets_path_scans_trie_once(spark):
    """with_offsets reuses _marked_head: the executed plan evaluates the
    trie phrase pattern exactly once."""
    base = spark.createDataFrame(
        [("c", 1, "p", None, "vs code runs node.js with postgres")],
        "conv_id string, turn_idx int, platform string, ts timestamp, text string",
    )
    df = extract_mentions(base, with_offsets=True)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count(_PHRASE_RE) == 1


def test_offset_and_default_paths_agree_on_mentions(spark):
    """with_offsets must never change WHICH mentions are extracted — only
    add the off column (the default ER path keeps the round-5 plan)."""
    turns = corpus.generate_turns(spark, n_convs=10, seed=11)
    base = turns.where(F.col("role") == "assistant").select(
        "conv_id", "turn_idx", "platform", "ts", "text")
    cols = ["conv_id", "turn_idx", "norm_label", "pos"]
    plain = sorted(map(tuple, extract_mentions(base).select(*cols).collect()))
    offs = sorted(map(tuple, extract_mentions(base, with_offsets=True)
                      .select(*cols).collect()))
    assert plain == offs


def test_extraction_spark_roundtrip_and_invariant(spark):
    turns = corpus.generate_turns(spark, n_convs=12)
    # per-row invariant: per-turn text equality under stable ordering after
    # a round trip through prepare_turns (the pipeline's turn table)
    prepared = prepare_turns(turns)
    src = turns.where(~F.col("source_file").contains("/subagents/")) \
               .orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text")
    rt = prepared.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text")
    assert [r.asDict() for r in src.collect()] == [r.asDict() for r in rt.collect()]

    mentions = mentions_from_turns(prepared)
    got = mentions.groupBy().agg(F.count("*"), F.countDistinct("norm_label")).collect()[0]
    assert got[0] > 0 and got[1] > 10
    # extraction only from assistant turns (P4): join back and check roles
    joined = mentions.join(turns.select("conv_id", "turn_idx", "role"),
                           ["conv_id", "turn_idx"])
    assert joined.where(F.col("role") != "assistant").count() == 0
