"""Physical-plan inspection -> PLANS.md.

Captures `.explain(formatted)` for the engine's key plans and asserts the
properties that matter at 100TB:
- parquet scans carry PushedFilters + pruned ReadSchema,
- the alias/vocab dimension joins are BroadcastHashJoin,
- relational stages run inside WholeStageCodegen,
- the blocking self-join is an equi-join (no cartesian),
- the context band, cue-offset and extractor-offset plans hold no
  Python evaluation node.

Usage: python scripts/explain_plans.py [SF_DIR]   (default: sf0.01 testdata)
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def explain_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def main() -> None:
    from pyspark.sql import functions as F

    from session_graph_spark.session import get_spark
    from session_graph_spark.plans import pipeline as P
    from session_graph_spark.operators.blocking import candidate_pairs
    from session_graph_spark.sources.testdata import documents_as_turns

    # a bounded heap, as in tests/conftest.py: get_spark's 16g default is
    # sized for the sf1.0 bench corpus
    spark = get_spark(app_name="plans", master="local[8]", shuffle_partitions=8,
                      extra_conf={"spark.driver.memory": "4g"})
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.01"
    if len(sys.argv) > 1:  # scale-factor directory, as check_oracles.py takes it
        sf = sys.argv[1]

    sections: list[tuple[str, str, list[str]]] = []

    # 1. filter/projection pushdown into parquet
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    q = docs.where(F.col("lang") == "en").select("doc_id", "n_chars")
    sections.append((
        "Predicate + projection pushdown (documents scan)",
        explain_str(q),
        ["PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]", "ReadSchema"],
    ))

    # 2. labels stage (resolve()'s form): per-conv distinct labels from
    # the mention arrays, alias broadcast join, per-conv canonical
    # distinct riding the conv_id exchange, count per label
    turns = P.prepare_turns(documents_as_turns(spark, sf))
    mentions = P.mentions_from_turns(turns)
    labels = P.normalized_labels_from_arrays(
        P.mention_arrays_from_turns(turns), P.alias_df(spark))
    # formatted mode under AQE does not print codegen stage markers; the
    # simple mode's "*(n)" prefixes show whole-stage codegen spans
    simple = explain_str(labels, "simple")
    assert "*(" in simple, "expected whole-stage codegen spans in labels plan"
    labels_plan = explain_str(labels)
    assert "hashpartitioning(conv_id" in labels_plan, \
        "labels must group the mention arrays by conv_id"
    assert not [ln for ln in labels_plan.splitlines()
                if "hashpartitioning(" in ln and "conv_id" in ln
                and "canon_label" in ln], \
        "the (conv_id, canon_label) distinct must ride the conv_id exchange"
    sections.append((
        "Labels stage: alias broadcast join on per-conv distinct labels, "
        "no (conv_id, canon_label) exchange",
        labels_plan,
        ["BroadcastHashJoin", "ArrowEvalPython"],
    ))

    # 3. blocking self-join: equi-join on block/band keys, never cartesian
    pairs = candidate_pairs(labels, "canon_label", "block_key")
    plan = explain_str(pairs)
    assert "CartesianProduct" not in plan, "blocking must not be cartesian"
    sections.append((
        "Candidate pair generation (exact-key + LSH channels)",
        plan,
        ["SortMergeJoin", "HashAggregate"],
    ))

    # 4. two_hop_neighbors: the co-mention expansion must be pruned by the
    # hop-1 semi-join BEFORE the big self-join (round-1 finding: the
    # unpruned form is a full O(sum d_c^2) shuffle)
    from session_graph_spark.queries import two_hop_neighbors

    mc = mentions.select("conv_id", F.col("norm_label").alias("cluster_id"))
    label = mc.first()["cluster_id"]
    hop_plan = explain_str(two_hop_neighbors(mc, label), "formatted")
    opt = two_hop_neighbors(mc, label)._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in opt, "two_hop must semi-join against hop1 before expanding"
    sections.append((
        "two_hop_neighbors: hop1 semi-join prunes before the co-mention join",
        hop_plan,
        ["BroadcastHashJoin"],
    ))

    # 5. bucketed co-located join: pre-bucketing the turns and mentions
    # tables by conv_id makes their join shuffle-free — the storage-layout
    # lever for repeated 100TB joins (both sides read already-partitioned)
    import shutil
    import tempfile

    wh = tempfile.mkdtemp(prefix="wh_")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # the demo tables are tiny, so the planner would broadcast (and
        # skip the bucketed scan); disable broadcast to show the layout
        # that matters when BOTH sides are fact-table sized
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.sql(f"CREATE DATABASE IF NOT EXISTS bdemo LOCATION '{wh}/bdemo'")
        t = turns.select("conv_id", "turn_idx", "text")
        (t.write.mode("overwrite").bucketBy(8, "conv_id").sortBy("conv_id")
         .option("path", f"{wh}/t1").saveAsTable("bdemo.turns_b"))
        (mentions.select("conv_id", "norm_label").write.mode("overwrite")
         .bucketBy(8, "conv_id").sortBy("conv_id")
         .option("path", f"{wh}/t2").saveAsTable("bdemo.mentions_b"))
        joined = spark.table("bdemo.turns_b").join(
            spark.table("bdemo.mentions_b"), "conv_id"
        )
        bucket_plan = explain_str(joined)
        assert "Exchange" not in bucket_plan, \
            "bucketed join must not shuffle either side"
        sections.append((
            "Bucketed co-located join (conv_id): zero Exchange",
            bucket_plan,
            ["SortMergeJoin", "SelectedBucketsCount"],
        ))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS bdemo.turns_b")
        spark.sql("DROP TABLE IF EXISTS bdemo.mentions_b")
        spark.sql("DROP DATABASE IF EXISTS bdemo")
        shutil.rmtree(wh, ignore_errors=True)

    # 6. IVF cell assignment: broadcast codebook row + array_min — the
    # plan has NO per-cell nodes (round 2 inlined every centroid as a
    # literal CASE chain, which explodes past a few hundred cells), and
    # its size is constant in n_cells
    from session_graph_spark.operators.ann import _codebook_df, assign_cells

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    ev = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    cents16 = [[float(i)] * 64 for i in range(16)]
    ivf_plan = explain_str(assign_cells(ev, _codebook_df(spark, cents16)))
    assert "CASE WHEN" not in ivf_plan, "codebook must not be a literal CASE chain"
    cents256 = [[float(i)] * 64 for i in range(256)]
    ivf_plan_256 = explain_str(assign_cells(ev, _codebook_df(spark, cents256)))
    assert abs(len(ivf_plan_256) - len(ivf_plan)) < 500, \
        "IVF plan size must be constant in n_cells"
    sections.append((
        "IVF cell assignment: broadcast codebook, plan constant in n_cells",
        ivf_plan,
        ["BroadcastNestedLoopJoin", "array_min"],
    ))

    # 7. hub query over lineitem-sized data: partial aggregation present
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    agg = (li.where(F.col("l_shipdate") <= "1998-09-02")
           .groupBy("l_returnflag").agg(F.sum("l_quantity").alias("sum_qty")))
    sections.append((
        "Partial+final aggregation with pushdown (pricing summary)",
        explain_str(agg),
        ["HashAggregate", "PushedFilters"],
    ))

    # 8. context bonus (round 4): both context-vector joins onto the
    # scored pairs must be BROADCAST (the band-limited ctx dim is tiny by
    # construction) and never cartesian
    from session_graph_spark.operators.scoring import apply_context_bonus

    scored_demo = spark.createDataFrame(
        [("a", "b", 0.65)], "label_a string, label_b string, score double")
    ctx_demo = spark.createDataFrame(
        [("a", ["x"]), ("b", ["x"])], "canon_label string, context array<string>")
    bonus_plan = explain_str(apply_context_bonus(scored_demo, ctx_demo))
    assert "CartesianProduct" not in bonus_plan
    assert bonus_plan.count("BroadcastHashJoin") >= 2, \
        "both ctx-vector joins must broadcast"
    sections.append((
        "Context bonus: band-limited ctx dim broadcast onto scored pairs",
        bonus_plan,
        ["BroadcastHashJoin"],
    ))

    # 8a. context band: the borderline + variant-shape filter that picks
    # which labels get a context vector is JVM expressions (levenshtein,
    # length), never a Python UDF. Range-backed input: a local relation
    # would constant-fold the filter away.
    from session_graph_spark.operators.scoring import band_labels

    scored_range = spark.range(64).select(
        F.concat(F.lit("label"), F.col("id").cast("string")).alias("label_a"),
        F.concat(F.lit("label"), (F.col("id") + 1).cast("string")).alias("label_b"),
        (F.lit(0.5) + F.col("id") / 256).alias("score"))
    band_plan = explain_str(band_labels(scored_range))
    assert "BatchEvalPython" not in band_plan \
        and "ArrowEvalPython" not in band_plan, \
        "the context band filter must stay JVM-side"
    sections.append((
        "Context band: borderline variant-shaped labels, pure JVM filter",
        band_plan,
        ["levenshtein", "HashAggregate"],
    ))

    # 8b. context-sample plan shape (round 6): the evidence sample MUST
    # plan as a rank-limit pushdown — WindowGroupLimit(Partial) on the
    # map side keeps only top-K turns per band label per partition, so a
    # hot label's full turn set never funnels through one task. This is
    # the property the round-6 dense_rank rewrite exists for (the
    # round-5 salt + distinct DEFEATED it — counted FAIL 0.346,
    # BENCH.md); asserting it here makes a regression to any
    # non-pushdown-eligible sample shape machine-caught. Inputs are
    # range-backed (local relations would constant-fold the whole plan).
    from session_graph_spark.plans.pipeline import _mention_context, alias_df

    m_demo = spark.range(100).select(
        F.concat(F.lit("c"), (F.col("id") % 7).cast("string")).alias("conv_id"),
        (F.col("id") % 3).cast("int").alias("turn_idx"),
        F.element_at(
            F.array(F.lit("alphaflux"), F.lit("betagrid"), F.lit("gammavane")),
            ((F.col("id") % 3) + 1).cast("int")).alias("norm_label"))
    l_demo = m_demo.select(F.col("norm_label").alias("canon_label")).distinct()
    w_demo = spark.range(2).select(
        F.element_at(F.array(F.lit("alphaflux"), F.lit("betagrid")),
                     (F.col("id") + 1).cast("int")).alias("canon_label"))
    ctx_plan = explain_str(_mention_context(
        m_demo, alias_df(spark), l_demo, w_demo))
    assert ctx_plan.count("WindowGroupLimit") >= 2, \
        "ctx sample must plan as a partial+final rank-limit pushdown"
    assert "CartesianProduct" not in ctx_plan
    sections.append((
        "Context sample: WindowGroupLimit rank-limit pushdown (partial+final)",
        ctx_plan,
        ["WindowGroupLimit"],
    ))

    # 8c. federated bridge (round 6, SERVICE-template analog W5): pairs
    # must NEVER materialize quadratically — both arms are equi-join
    # chains through the broadcast claim edges, so the plan has no
    # cartesian/nested-loop product at any linked-set cardinality
    from session_graph_spark.operators import federation as FD

    r = FD.remote_dfs(spark)
    lk_demo = FD.same_as(
        spark.range(50).select(
            F.concat(F.lit("t"), F.col("id").cast("string")).alias("label")),
        r["entities"])
    bridge_plan = explain_str(FD.fed_bridge(lk_demo, r))
    assert "CartesianProduct" not in bridge_plan
    assert "BroadcastNestedLoopJoin" not in bridge_plan, \
        "fed_bridge must drive pairs through claim equi-joins"
    sections.append((
        "Federated bridge: equi-join chains through broadcast claims",
        bridge_plan,
        ["BroadcastHashJoin"],
    ))

    # 9. KB link join (round 4: external dimension path): the match dim is
    # broadcast regardless of whether it came from code or parquet
    from session_graph_spark.operators.linking import kb_df, link_to_kb

    kb_plan = explain_str(link_to_kb(
        spark.createDataFrame([("python",)], ["label"]), kb_df(spark)))
    assert "CartesianProduct" not in kb_plan
    sections.append((
        "KB link: broadcast match dimension (code or external parquet)",
        kb_plan,
        ["BroadcastHashJoin"],
    ))

    # 10. triple predicate assignment (round 5: char-offset cue choice):
    # the locate folds and span filters are higher-order JVM expressions —
    # the plan must contain NO Python evaluation and no cartesian product
    # (two keyed joins only: mention pair self-join + turn-cue join)
    from session_graph_spark.operators.triples import build_triples

    t_demo = spark.createDataFrame(
        [("c", 0, "alpha uses beta", None)],
        "conv_id string, turn_idx int, text string, ts timestamp")
    m_demo = spark.createDataFrame(
        [("c", 0, "alpha", 0, None), ("c", 0, "beta", 1, None)],
        "conv_id string, turn_idx int, canon_label string, pos int, "
        "ts timestamp")
    tri_plan = explain_str(build_triples(m_demo, t_demo)["reified"])
    assert "CartesianProduct" not in tri_plan
    assert "BatchEvalPython" not in tri_plan and "ArrowEvalPython" not in tri_plan, \
        "cue-offset assignment must stay JVM-side"
    sections.append((
        "Triple predicates: char-offset cue choice, pure JVM expressions",
        tri_plan,
        ["aggregate", "locate"],
    ))

    # 10b. round 6: the standard triple path — extractor-carried mention
    # offsets (extract_mentions with_offsets=True) feeding build_triples.
    # The offset folds are higher-order JVM expressions too: still no
    # Python evaluation, no cartesian product anywhere in the composed
    # plan
    from session_graph_spark.operators.extract import extract_mentions

    t_demo2 = spark.createDataFrame(
        [("c", 0, "p", None, "alpha beta k8s uses redis")],
        "conv_id string, turn_idx int, platform string, ts timestamp, "
        "text string")
    m_off = extract_mentions(t_demo2, with_offsets=True) \
        .withColumnRenamed("norm_label", "canon_label")
    tri_off_plan = explain_str(build_triples(m_off, t_demo2)["reified"])
    assert "CartesianProduct" not in tri_off_plan
    assert "BatchEvalPython" not in tri_off_plan \
        and "ArrowEvalPython" not in tri_off_plan, \
        "extractor offset folds must stay JVM-side"
    sections.append((
        "Triple predicates via extractor-carried offsets (round 6), pure JVM",
        tri_off_plan,
        ["aggregate", "locate"],
    ))

    failures = []
    out = ["# PLANS — physical plan inspection (generated by scripts/explain_plans.py)\n"]
    for title, plan, must in sections:
        status = []
        for needle in must:
            ok = needle.split(":")[0] in plan
            status.append(f"{'OK' if ok else 'MISSING'}: {needle.split(':')[0]}")
            if not ok:
                failures.append((title, needle))
        out.append(f"\n## {title}\n\nchecks: {', '.join(status)}\n\n```\n{plan}\n```\n")

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written;", "FAILURES: " + str(failures) if failures else "all checks ok")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
