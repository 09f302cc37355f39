"""Offline federated enrichment (the 6 SERVICE-template analogs,
operators/federation.py; reference devkg-sparql SKILL.md W1-W6)."""

from __future__ import annotations

from pyspark.sql import functions as F

from session_graph_spark.operators import federation as FD


def _linked(spark, labels):
    r = FD.remote_dfs(spark)
    df = spark.createDataFrame([(x,) for x in labels], "label string")
    return FD.same_as(df, r["entities"]), r


def test_same_as_links_exact_lowercase(spark):
    linked, _ = _linked(spark, ["Spark", "  sort ", "nonsense", "spark"])
    rows = {(r["label"], r["qid"]) for r in linked.collect()}
    # case/trim-normalized, distinct, unlinked labels absent
    assert rows == {("spark", "kbw:Q1001"), ("sort", "kbw:Q1006")}


def test_class_closure_reflexive_and_complete(spark):
    """The precomputed closure equals a hand-walked transitive closure
    (independent reimplementation), including depth-0 reflexive rows."""
    parent = {q: p for q, _, p in FD.REMOTE_CLASSES}
    expect = set()
    for q in parent:
        node, d = q, 0
        seen = set()
        while node is not None:
            assert node not in seen, "cycle in class hierarchy"
            seen.add(node)
            expect.add((q, node, d))
            node, d = parent[node], d + 1
    assert set(FD.class_closure()) == expect
    # every entity's class reaches the root
    roots = {q for q, _, p in FD.REMOTE_CLASSES if p is None}
    closure = FD.class_closure()
    for _, _, _, c in FD.REMOTE_ENTITIES:
        ancestors = {a for q, a, _ in closure if q == c}
        assert ancestors & roots, f"class {c} does not reach a root"


def test_fed_categories_matches_closure(spark):
    linked, r = _linked(spark, ["sort"])
    rows = [(x["ancestor_label"], x["depth"])
            for x in FD.fed_categories(linked, r).collect()]
    assert rows == [("sorting algorithm", 0), ("algorithm", 1),
                    ("technology", 2)]


def test_fed_peers_discovers_remote_only(spark):
    """The reference's pitch: peers that exist in no local session."""
    linked, r = _linked(spark, ["spark"])
    peers = {x["peer_label"] for x in FD.fed_peers(linked, r).collect()}
    assert "hadoop" in peers and "beam" in peers
    assert "spark" not in peers  # self excluded


def test_fed_bridge_direct_and_two_hop(spark):
    linked, r = _linked(spark, ["join", "table", "query"])
    rows = FD.fed_bridge(linked, r).collect()
    direct = {(x["label_x"], x["label_y"], x["hop1_prop"])
              for x in rows if x["mid_label"] is None}
    twohop = {(x["label_x"], x["mid_label"], x["label_y"]) for x in rows
              if x["mid_label"] is not None}
    assert ("join", "query", "part of") in direct
    assert ("query", "table", "uses") in direct
    # join -> (part of) query -> (uses) table
    assert ("join", "query", "table") in twohop


def test_fed_properties_capped_and_labeled(spark):
    linked, r = _linked(spark, ["spark"])
    rows = FD.fed_properties(linked, r, k=2).collect()
    assert len(rows) == 2  # cap binds (spark has 4 claims incl. P31)
    assert all(x["prop_label"] in {"instance of", "uses", "part of"}
               for x in rows)
    # deterministic: first two by (prop_label, value_label)
    assert [x["prop_label"] for x in rows] == sorted(
        x["prop_label"] for x in rows)


def test_kb_federation_composite_consistent_with_templates(spark):
    """The driver row's composite union contains exactly the six
    template outputs (tag counts match the individual functions)."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    out = E.q_kb_federation(spark, sf)
    counts = {r["template"]: r["n"]
              for r in out.groupBy("template").agg(
                  F.count("*").alias("n")).collect()}
    r = FD.remote_dfs(spark)
    linked = FD.same_as(
        E._tokens(spark, sf).select(F.col("token").alias("label")),
        r["entities"])
    assert counts.get("w1_properties", 0) == FD.fed_properties(linked, r).count()
    assert counts.get("w2_peers", 0) == FD.fed_peers(linked, r).count()
    assert counts.get("w5_bridge", 0) == FD.fed_bridge(linked, r).count()
    assert set(counts) <= {"w1_properties", "w2_peers", "w3_disambiguation",
                           "w4_categories", "w5_bridge", "w6_batch_enrich"}
