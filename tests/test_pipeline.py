"""Golden end-to-end: full ER pipeline on the synthetic corpus.

Gates (BASELINE.json):
- pairwise F1 >= 0.99 on labeled same-block surface pairs
- alias variants and typo variants co-cluster; confusables do not
- resume: re-running over a checkpoint dir reuses every stage
"""

import pytest
from pyspark.sql import functions as F

from session_graph_spark import corpus
from session_graph_spark.eval import pairwise_f1
from session_graph_spark.plans.pipeline import alias_df, resolve


@pytest.fixture(scope="module")
def result(spark):
    turns = corpus.generate_turns(spark, n_convs=120, seed=42)
    return resolve(spark, turns)


def test_f1_gate(spark, result):
    lp = spark.createDataFrame(corpus.labeled_pairs_pdf())
    scores = pairwise_f1(result.clusters, lp, alias_df(spark))
    assert scores.f1 >= 0.99, (
        f"F1={scores.f1:.4f} p={scores.precision:.4f} r={scores.recall:.4f} "
        f"tp={scores.tp} fp={scores.fp} fn={scores.fn}"
    )


def test_f1_gate_seed_robustness(spark):
    """The F1 gate must hold for corpus RNG and corpus sizes the shipped
    seed never saw, and — stronger than F1 over the labeled pairs — no
    two DISTINCT planted canonical entities may ever co-cluster.

    Regression pins: before the CTX_MIN_JACC evidence floor,
    ecmascript/javascript (kernel 0.6586, inside the bonus band) drew a
    2/3 context jaccard from seed 2026's co-mention noise and crossed
    0.7 (F1 0.9855); before the CTX_VARIANT_LEV shape guard, IDENTICAL
    top-5 vectors at seeds 99/777 (and at the shipped seed with a 5x
    corpus) transitively merged all five apache products — a silent
    error until the apache pairs joined the labeled negatives."""
    lp = spark.createDataFrame(corpus.labeled_pairs_pdf())
    planted = set(corpus.ENTITY_VARIANTS.keys())
    for seed, n_convs in ((2026, 120), (99, 120), (777, 120), (42, 600)):
        turns = corpus.generate_turns(spark, n_convs=n_convs, seed=seed)
        res = resolve(spark, turns)
        scores = pairwise_f1(res.clusters, lp, alias_df(spark))
        cl = {r["label"]: r["cluster_id"] for r in res.clusters.collect()
              if r["label"] in planted}
        res.unpersist()
        assert scores.f1 >= 0.99, (
            f"seed={seed} n={n_convs} F1={scores.f1:.4f} "
            f"p={scores.precision:.4f} r={scores.recall:.4f} "
            f"fp={scores.fp} fn={scores.fn}"
        )
        assert len(set(cl.values())) == len(cl), (
            f"seed={seed} n={n_convs}: distinct planted canonicals "
            f"co-clustered: "
            f"{[sorted(k for k in cl if cl[k] == v) for v in set(cl.values()) if list(cl.values()).count(v) > 1]}"
        )


def test_variants_cocluster(result):
    cl = {r["label"]: r["cluster_id"] for r in result.clusters.collect()}
    assert cl.get("kubernetes") == cl.get("kubernets")
    assert cl.get("postgresql") == cl.get("postgresq")
    assert cl.get("docker") == cl.get("dockr")
    # confusables stay apart
    assert cl.get("java") != cl.get("javascript")
    assert cl.get("python") != cl.get("pytorch")


def test_no_subagent_leakage(result):
    assert result.mentions.where(F.col("conv_id").endswith("-sub")).count() == 0


def test_min_sessions_filter(result):
    assert result.labels.where(F.col("n_sessions") < 2).count() == 0


def test_metrics_present(result):
    assert result.clusters.select("cluster_id").distinct().count() > 10
    assert result.metrics["mentions"]["rows"] > 0


def test_candidate_pairs_exact_set(result):
    """Blocking's exact candidate set, recomputed in plain numpy:
    same-slug pairs, plus pairs sharing any of the 32 two-row MinHash bands
    over `_trigram_hashes` that pass the length filter. No band bucket
    exceeds MAX_BLOCK_SIZE here, so salting splits none of them."""
    from itertools import combinations

    import numpy as np

    from session_graph_spark.operators.blocking import (BANDS, MAX_BLOCK_SIZE,
                                                        N_HASHES, _trigram_hashes,
                                                        candidate_pairs)

    rows = result.labels.select("canon_label", "block_key").distinct().collect()
    labels = sorted({r["canon_label"] for r in rows})
    p = (1 << 61) - 1
    i = np.arange(1, N_HASHES + 1, dtype=object)
    a = np.array((2 * i + 1) * 0x9E3779B97F4A7C15 % p, dtype=np.uint64)
    b = np.array((i * 0xC2B2AE3D27D4EB4F + 17) % p, dtype=np.uint64)
    r = N_HASHES // BANDS
    buckets: dict = {}
    for label in labels:
        h = _trigram_hashes(label)
        sig = ((h[None, :] * a[:, None] + b[:, None]) % p).min(axis=1)
        for band in range(BANDS):
            key = (band, tuple(sig[band * r:(band + 1) * r].tolist()))
            buckets.setdefault(key, []).append(label)
    assert max(len(v) for v in buckets.values()) <= MAX_BLOCK_SIZE

    expected = {
        (x, y) for v in buckets.values() for x, y in combinations(sorted(v), 2)
        if abs(len(x) - len(y)) <= max(len(x), len(y)) * 0.34
    }
    by_key: dict = {}
    for row in rows:
        by_key.setdefault(row["block_key"], set()).add(row["canon_label"])
    expected |= {pair for v in by_key.values()
                 for pair in combinations(sorted(v), 2)}

    got = [tuple(x) for x in candidate_pairs(result.labels).collect()]
    assert len(got) == len(set(got))
    assert set(got) == expected


def test_resume_from_checkpoint(spark, tmp_path):
    turns = corpus.generate_turns(spark, n_convs=25, seed=42)
    ckpt = str(tmp_path / "run1")
    r1 = resolve(spark, turns, checkpoint_dir=ckpt)
    c1 = sorted(map(tuple, r1.clusters.collect()))
    wall1 = {k: v["wall_sec"] for k, v in r1.metrics.items() if isinstance(v, dict) and "wall_sec" in v}

    # second run over the same checkpoint dir: byte-identical clusters and
    # every stage reused (input fingerprints unchanged)
    r2 = resolve(spark, turns, checkpoint_dir=ckpt)
    c2 = sorted(map(tuple, r2.clusters.collect()))
    assert c1 == c2
    wall2 = {k: v["wall_sec"] for k, v in r2.metrics.items() if isinstance(v, dict) and "wall_sec" in v}
    assert wall1 == wall2, "stage wall times changed -> stages were recomputed"


def test_watermark_skip(spark):
    from session_graph_spark.plans.checkpoint import conversation_watermarks

    turns = corpus.generate_turns(spark, n_convs=8, seed=42)
    wm = conversation_watermarks(turns)
    # mark half the conversations processed; the (conv_id, content_hash)
    # anti-join IncrementalRunner runs leaves exactly the other half
    done = spark.createDataFrame(wm.orderBy("conv_id").limit(4).collect(), wm.schema)
    remaining = wm.join(done, ["conv_id", "content_hash"], "left_anti")
    assert remaining.count() == turns.select("conv_id").distinct().count() - 4
    # all marked processed -> nothing left
    assert wm.join(wm, ["conv_id", "content_hash"], "left_anti").count() == 0
    # editing one turn changes exactly that conversation's hash
    first = wm.orderBy("conv_id").first()["conv_id"]
    edited = turns.withColumn(
        "text", F.when((F.col("conv_id") == first) & (F.col("turn_idx") == 0),
                       F.concat(F.col("text"), F.lit(" edited")))
        .otherwise(F.col("text")))
    changed = conversation_watermarks(edited).join(
        wm, ["conv_id", "content_hash"], "left_anti")
    assert [r["conv_id"] for r in changed.collect()] == [first]


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_checkpoint_policy_matches_memory_policy(spark, tmp_path):
    """resolve() runs one stage list under either StageStore policy:
    with and without checkpoint_dir the outputs are row-identical, and a
    checkpoint-path pass fed the first pass's scores as its decision
    cache reproduces the clusters."""
    turns = corpus.generate_turns(spark, n_convs=60, seed=42)
    mem = resolve(spark, turns)
    ckpt = resolve(spark, turns, checkpoint_dir=str(tmp_path / "run"))
    for name in ("labels", "pairs_scored", "clusters", "mention_clusters"):
        assert _rows(getattr(ckpt, name)) == _rows(getattr(mem, name)), name
    for stage in ("mentions", "labels", "pairs", "scored", "clusters"):
        assert ckpt.metrics[stage]["rows"] == mem.metrics[stage]["rows"], stage
    assert mem.metrics["mentions"]["rows"] == mem.mentions.count()

    resumed = resolve(spark, turns, checkpoint_dir=str(tmp_path / "run_dec"),
                      decisions=ckpt.pairs_scored)
    assert _rows(resumed.clusters) == _rows(mem.clusters)
    mem.unpersist()


def test_checkpoint_recomputes_exploded_mentions_stage(spark, tmp_path):
    """A checkpoint directory whose mentions stage holds exploded mention
    rows (the layout written before the stage became per-turn arrays)
    under the bare turns fingerprint must be recomputed, not read back
    as arrays."""
    import json

    from session_graph_spark.plans.checkpoint import StageStore
    from session_graph_spark.plans.pipeline import mentions_from_turns, prepare_turns

    turns = corpus.generate_turns(spark, n_convs=25, seed=42)
    root = tmp_path / "old_layout"
    prepared = prepare_turns(turns)
    turns_fp = StageStore(spark, root).fingerprint(
        prepared.select("conv_id", "turn_idx", "text"))
    old = mentions_from_turns(prepared)
    old.write.parquet(str(root / "mentions"))
    (root / "manifest.json").write_text(json.dumps({"mentions": {
        "input_fp": turns_fp, "path": str(root / "mentions"),
        "rows": old.count(), "wall_sec": 1.0}}))

    res = resolve(spark, turns, checkpoint_dir=str(root))
    manifest = json.loads((root / "manifest.json").read_text())
    assert manifest["mentions"]["input_fp"] == f"arrays:{turns_fp}"
    assert manifest["mentions"]["rows"] == old.count()
    assert "norm_labels" in spark.read.parquet(str(root / "mentions")).columns
    assert _rows(res.mentions) == _rows(old)


def test_checkpoint_decisions_from_own_scored_stage(spark, tmp_path):
    """Decisions read from the checkpoint dir's own `scored` stage: the
    rewrite of that stage must not delete the files it is reading, the
    clusters must equal the first run's, and the manifest must never name
    a stage directory holding other data or none — a later plain resolve
    on the same dir reads every stage."""
    import json

    turns = corpus.generate_turns(spark, n_convs=60, seed=3)
    ck = tmp_path / "run"
    r1 = resolve(spark, turns, checkpoint_dir=str(ck))
    want = {name: _rows(getattr(r1, name))
            for name in ("labels", "pairs_scored", "clusters", "mention_clusters")}
    wall1 = {k: r1.metrics[k]["wall_sec"] for k in ("mentions", "labels", "pairs")}

    r2 = resolve(spark, turns, checkpoint_dir=str(ck),
                 decisions=spark.read.parquet(str(ck / "scored")))
    assert _rows(r2.clusters) == want["clusters"]

    r3 = resolve(spark, turns, checkpoint_dir=str(ck))
    for name, rows in want.items():
        assert _rows(getattr(r3, name)) == rows, name
    # the unchanged upstream stages were read back, not recomputed
    assert {k: r3.metrics[k]["wall_sec"] for k in wall1} == wall1
    manifest = json.loads((ck / "manifest.json").read_text())
    assert set(manifest) == {"mentions", "labels", "pairs", "scored", "clusters"}
    for name in ("labels", "pairs", "scored", "clusters"):
        assert spark.read.parquet(manifest[name]["path"]).count() == manifest[name]["rows"], name
    assert not list(ck.glob("*.staging"))


def test_checkpoint_invalidates_on_config_change(spark, tmp_path):
    """Stage keys fold in config: re-running over the same checkpoint dir
    with a different threshold or min_sessions must NOT return the stale
    stage output (round-1 defect: keys ignored config)."""
    turns = corpus.generate_turns(spark, n_convs=25, seed=42)
    ckpt = str(tmp_path / "run_cfg")
    r1 = resolve(spark, turns, checkpoint_dir=ckpt)
    n_labels_1 = r1.labels.count()
    c1 = sorted(map(tuple, r1.clusters.collect()))

    # min_sessions=1 keeps strictly more labels -> labels stage must recompute
    r2 = resolve(spark, turns, checkpoint_dir=ckpt, min_sessions=1)
    assert r2.labels.count() > n_labels_1

    # threshold=0.99 breaks typo edges -> clusters stage must recompute
    r3 = resolve(spark, turns, checkpoint_dir=ckpt, threshold=0.99)
    c3 = sorted(map(tuple, r3.clusters.collect()))
    assert c3 != c1

    # back to the original config: original stage outputs are reproduced
    r4 = resolve(spark, turns, checkpoint_dir=ckpt)
    assert sorted(map(tuple, r4.clusters.collect())) == c1


def test_sql_cc_replays_pipeline_merges(result):
    """Replay the er_clusters DuckDB oracle's score+CC chain over the
    pipeline's own labels stage on the typo-planted corpus — where real
    merges happen (unlike the driver's documents table, whose labels are
    all singletons) — and require identical cluster assignments. This is
    the merge-path half of the oracle-parity claim: all-pairs-prefilter
    candidates + DuckDB (kernel + context-Jaccard bonus) + recursive
    closure == LSH candidates + Arrow kernel + JVM ctx bonus +
    distributed CC. The canonicalized mentions feed the SQL side's
    context derivation, mirroring resolve()'s context bonus."""
    import sys
    from pathlib import Path

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from __spark_entry__ import _score_cc_cte
    from session_graph_spark.functions.normalize import apply_aliases

    spark = result.labels.sparkSession
    labels_pdf = result.labels.select("canon_label", "block_key").toPandas()
    cm_pdf = (
        apply_aliases(result.mentions.select("conv_id", "turn_idx", "norm_label"),
                      alias_df(spark), "norm_label", "canon_label")
        .select("conv_id", "turn_idx", "canon_label").toPandas()
    )
    expected = {
        r["label"]: r["cluster_id"] for r in result.clusters.collect()
    }

    con = duckdb.connect()
    con.register("labels_t", labels_pdf)
    con.register("cmentions_t", cm_pdf)
    sql = f"""
        WITH RECURSIVE {_score_cc_cte("labels_t", ctx_src="cmentions_t")}
        SELECT l.canon_label AS label,
               coalesce(grp.cluster_id, l.canon_label) AS cluster_id
        FROM (SELECT DISTINCT canon_label FROM labels_t) l
        LEFT JOIN grp ON l.canon_label = grp.label"""
    got = {a: c for a, c in con.execute(sql).fetchall()}

    assert got == expected
    # the corpus must actually exercise merges for this to mean anything
    assert sum(1 for k, v in got.items() if k != v) >= 10


def test_ctx_sample_dense_rank_is_exact(spark):
    """The dense_rank group-limit sample in _mention_context must select
    the bit-identical turn set the naive distinct() + row_number form
    selects — the r6 rewrite (drop the distinct shuffle and the salt,
    ride WindowGroupLimit) is a physical-plan change only. Pinned on a
    skewed frame (one hot label owning most turns, well past
    CTX_EVIDENCE_TURNS) that CONTAINS DUPLICATE TURN ROWS (the case the
    removed distinct() handled: two surfaces canonicalizing to one
    label in one turn)."""
    from pyspark.sql import Window

    from session_graph_spark.functions.similarity import CTX_EVIDENCE_TURNS
    from session_graph_spark.plans.pipeline import (alias_df,
                                                    _mention_context)

    rows = [("c%04d" % (i % 997), i, "apache spark") for i in range(5000)]
    rows += [("c%04d" % (i % 997), i, "redis") for i in range(5000)]
    # duplicate turn rows: every 7th hot-label turn appears twice
    rows += [("c%04d" % (i % 997), i, "apache spark")
             for i in range(0, 5000, 7)]
    band_m = spark.createDataFrame(rows, "conv_id string, turn_idx int, canon_label string")

    key = F.md5(F.concat_ws("|", F.col("conv_id"), F.col("turn_idx").cast("string")))
    naive = (
        band_m.distinct()
        .withColumn("__rk", F.row_number().over(
            Window.partitionBy("canon_label").orderBy(key, "conv_id", "turn_idx")))
        .where(F.col("__rk") <= CTX_EVIDENCE_TURNS)
        .select("canon_label", "conv_id", "turn_idx")
    )
    dense = (
        band_m
        .withColumn("__rk", F.dense_rank().over(
            Window.partitionBy("canon_label").orderBy(key, "conv_id", "turn_idx")))
        .where(F.col("__rk") <= CTX_EVIDENCE_TURNS)
        .dropDuplicates(["canon_label", "conv_id", "turn_idx"])
        .select("canon_label", "conv_id", "turn_idx")
    )
    n_hot = naive.where(F.col("canon_label") == "apache spark").count()
    assert n_hot == CTX_EVIDENCE_TURNS  # the skew actually exercises top-K
    assert naive.exceptAll(dense).count() == 0
    assert dense.exceptAll(naive).count() == 0

    # and the production function still yields vectors for exactly the
    # wanted labels
    mentions = band_m.withColumnRenamed("canon_label", "norm_label")
    labels = band_m.select("canon_label").distinct()
    wanted = spark.createDataFrame([("apache spark",)], "canon_label string")
    ctx = _mention_context(mentions, alias_df(spark), labels, wanted)
    got = {r["canon_label"]: r["context"] for r in ctx.collect()}
    ctx.unpersist()
    assert set(got) == {"apache spark"}
    assert got["apache spark"] == ["redis"]


def test_ctx_pushdown_preimage_covers_alias_surfaces(spark):
    """The r6 filter pushdown in _mention_context filters the corpus scan
    on RAW norm_label before canonicalizing, so the filter set must be
    the band's full preimage under apply_aliases: a mention whose surface
    form is an alias ('k8s') of a wanted canonical ('kubernetes') must
    still feed the sample/co-mention passes even though the canonical
    string never appears verbatim in any mention."""
    from session_graph_spark.plans.pipeline import (alias_df,
                                                    _mention_context)

    rows = [("c%02d" % i, 0, "k8s") for i in range(20)]
    rows += [("c%02d" % i, 0, "redis") for i in range(20)]
    mentions = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, norm_label string")
    labels = spark.createDataFrame(
        [("kubernetes",), ("redis",)], "canon_label string")
    wanted = spark.createDataFrame([("kubernetes",)], "canon_label string")
    ctx = _mention_context(mentions, alias_df(spark), labels, wanted)
    got = {r["canon_label"]: r["context"] for r in ctx.collect()}
    ctx.unpersist()
    assert got == {"kubernetes": ["redis"]}
