"""Tests for platform source readers (S1-S5) and incremental processing."""

import json

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def claude_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("cc") / "session-abc.jsonl"
    lines = [
        {"type": "user", "uuid": "u1", "parentUuid": None,
         "timestamp": "2026-01-05T08:00:00Z", "sessionId": "s1",
         "message": {"content": "Please migrate the auth service to kubernetes"}},
        {"type": "assistant", "uuid": "a1", "parentUuid": "u1",
         "timestamp": "2026-01-05T08:00:30Z", "sessionId": "s1",
         "message": {"model": "m-1", "content": [
             {"type": "text", "text": "I will use k8s manifests for the deployment."},
             {"type": "tool_use", "id": "t1", "name": "Bash", "input": {"command": "kubectl apply"}},
             {"type": "thinking", "text": "secret thoughts"},
         ]}},
        {"type": "assistant", "uuid": "a2", "parentUuid": "a1",
         "timestamp": "2026-01-05T08:01:00Z", "sessionId": "s1",
         "message": {"content": [
             {"type": "tool_result", "tool_use_id": "t1", "content": "deployment created"},
             {"type": "text", "text": "Done."}, {"type": "text", "text": "The postgres pod restarted."},
             {"type": "tool_use", "id": "t2", "name": "Read", "input": {"file_path": "/x"}},
         ]}},
        {"type": "user", "uuid": "u2", "parentUuid": "a2",
         "timestamp": "2026-01-05T08:01:10Z", "sessionId": "s1",
         "message": {"content": [
             {"type": "tool_result", "tool_use_id": "t2",
              "content": [{"type": "text", "text": "ok"}, {"type": "text", "text": "block"}]},
         ]}},
        {"type": "summary", "uuid": "x", "sessionId": "s1"},  # dropped
        "NOT JSON AT ALL",                                     # malformed -> dropped
    ]
    p.write_text("\n".join(json.dumps(x) if isinstance(x, dict) else x for x in lines))
    return str(p)


def test_read_claude_code(spark, claude_file):
    from session_graph_spark.sources.readers import read_claude_code_jsonl

    t = read_claude_code_jsonl(spark, claude_file)
    rows = {r["turn_idx"]: r for r in t.collect()}
    assert len(rows) == 4
    assert rows[0]["role"] == "user"
    assert rows[0]["text"] == "Please migrate the auth service to kubernetes"
    assert rows[1]["tool"] == "Bash"
    assert rows[1]["text"] == "I will use k8s manifests for the deployment."  # thinking dropped
    assert rows[2]["text"] == "Done.\nThe postgres pod restarted."  # blocks joined
    assert rows[3]["text"] == ""  # tool_result-only message: empty text turn
    assert rows[0]["conv_id"] == "s1" and rows[0]["platform"] == "claude-code"


def test_claude_model_provenance(spark, claude_file):
    """Model/agent provenance (reference jsonl_to_rdf.py:158-162,
    common.py:96-113): assistant turns carry message.model; models_seen
    rolls them up per conversation."""
    from session_graph_spark.queries import models_seen
    from session_graph_spark.sources.readers import read_claude_code_jsonl

    t = read_claude_code_jsonl(spark, claude_file)
    rows = {r["turn_idx"]: r for r in t.collect()}
    assert rows[1]["model"] == "m-1"   # assistant message.model
    assert rows[0]["model"] is None    # user rows carry no model

    ms = models_seen(t).collect()
    assert len(ms) == 1
    r = ms[0]
    assert r["conv_id"] == "s1" and r["models_seen"] == "m-1"
    assert r["first_model"] == "m-1" and r["n_models"] == 1


_DS_CONVS = [{
    "id": "d1", "title": "t",
    "mapping": {
        "root": {"message": None, "parent": None, "children": ["n1"]},
        "n1": {"message": {"fragments": [
                   {"type": "REQUEST", "content": "how do I deploy postgres"}],
               "inserted_at": "2026-01-05T08:00:00"},
               "parent": "root", "children": ["n2"]},
        "n2": {"message": {"fragments": [
                   {"type": "THINK", "content": "hmm"},
                   {"type": "RESPONSE", "content": "use docker compose with postgresql"}],
               "inserted_at": "2026-01-05T08:00:10"},
               "parent": "n1", "children": []},
    },
}]


def test_read_deepseek_pretty_printed(spark, tmp_path):
    """Real DeepSeek exports are pretty-printed multi-line JSON — the
    round-1 line-by-line read silently yielded zero rows on these."""
    from session_graph_spark.sources.readers import read_deepseek_json

    p = tmp_path / "conversations.json"
    p.write_text(json.dumps(_DS_CONVS, indent=2))
    t = read_deepseek_json(spark, str(p))
    rows = sorted(t.collect(), key=lambda r: r["turn_idx"])
    assert [r["role"] for r in rows] == ["user", "assistant"]
    # reference walk: RESPONSE and THINK both join into the assistant turn
    assert rows[1]["text"] == "hmm\nuse docker compose with postgresql"
    assert rows[0]["platform"] == "deepseek"
    assert rows[0]["ts"].year == 2026


def test_read_deepseek_zip(spark, tmp_path):
    import zipfile

    from session_graph_spark.sources.readers import read_deepseek_json

    zp = tmp_path / "deepseek_export.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr("user.json", json.dumps({"id": "u"}))
        zf.writestr("data/conversations.json", json.dumps(_DS_CONVS, indent=1))
    t = read_deepseek_json(spark, str(zp))
    rows = sorted(t.collect(), key=lambda r: r["turn_idx"])
    assert len(rows) == 2 and rows[0]["text"] == "how do I deploy postgres"
    assert rows[0]["source_file"].endswith("!data/conversations.json")


def test_read_deepseek_forked_tree_dfs(spark, tmp_path):
    """Forked mapping (a regenerated branch): DFS keeps each branch
    contiguous even when the fork's timestamps interleave."""
    from session_graph_spark.sources.readers import read_deepseek_json

    convs = [{
        "id": "d2",
        "mapping": {
            "root": {"message": None, "parent": None, "children": ["q"]},
            "q": {"message": {"fragments": [{"type": "REQUEST", "content": "q text"}],
                  "inserted_at": "2026-01-05T08:00:00"},
                  "parent": "root", "children": ["a1", "a2"]},
            # branch 1 (older regeneration) with a follow-up ts LATER than a2
            "a1": {"message": {"fragments": [{"type": "RESPONSE", "content": "answer one"}],
                   "inserted_at": "2026-01-05T08:00:10"},
                   "parent": "q", "children": ["f1"]},
            "f1": {"message": {"fragments": [{"type": "REQUEST", "content": "followup one"}],
                   "inserted_at": "2026-01-05T08:03:00"},
                   "parent": "a1", "children": []},
            # branch 2 (regenerated answer) between a1 and f1 in time
            "a2": {"message": {"fragments": [{"type": "RESPONSE", "content": "answer two"}],
                   "inserted_at": "2026-01-05T08:01:00"},
                   "parent": "q", "children": []},
        },
    }]
    p = tmp_path / "conversations.json"
    p.write_text(json.dumps(convs))
    t = read_deepseek_json(spark, str(p))
    texts = [r["text"] for r in sorted(t.collect(), key=lambda r: r["turn_idx"])]
    # DFS: q -> a1 -> f1 (branch 1 complete) -> a2; a ts sort would put
    # a2 before f1, interleaving the branches
    assert texts == ["q text", "answer one", "followup one", "answer two"]


_GROK_DATA = {"conversations": [{
    "conversation": {"_id": {"$oid": "g1"}},
    "responses": [
        {"response": {"sender": "human", "message": "why is the grafana dashboard empty",
                      "create_time": {"$date": {"$numberLong": "1767600000000"}}}},
        {"response": {"sender": "grok", "message": "prometheus scrape config is wrong",
                      "create_time": {"$date": {"$numberLong": "1767600010000"}}}},
    ],
}]}


def test_read_grok_pretty_printed(spark, tmp_path):
    from session_graph_spark.sources.readers import read_grok_json

    p = tmp_path / "prod-grok-backend.json"
    p.write_text(json.dumps(_GROK_DATA, indent=2))
    t = read_grok_json(spark, str(p))
    rows = sorted(t.collect(), key=lambda r: r["turn_idx"])
    assert [r["role"] for r in rows] == ["user", "assistant"]
    assert rows[0]["conv_id"] == "g1"
    assert rows[0]["ts"].year == 2026


def test_read_grok_zip(spark, tmp_path):
    import zipfile

    from session_graph_spark.sources.readers import read_grok_json

    zp = tmp_path / "grok_export.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr("prod-grok-backend.json", json.dumps(_GROK_DATA))
    t = read_grok_json(spark, str(zp))
    assert t.count() == 2
    assert t.first()["conv_id"] == "g1"


def test_claude_tool_events(spark, claude_file):
    """J3: tool_use joined back to its tool_result by tool_use_id, with
    both content shapes (plain string / list of text blocks)."""
    from session_graph_spark.sources.readers import claude_tool_events

    ev = claude_tool_events(spark, claude_file).collect()
    by_id = {r["tool_use_id"]: r for r in ev}
    assert set(by_id) == {"t1", "t2"}
    assert by_id["t1"]["tool_name"] == "Bash"
    assert "kubectl apply" in by_id["t1"]["tool_input"]
    assert by_id["t1"]["result_text"] == "deployment created"  # string content
    assert by_id["t2"]["result_text"] == "ok block"            # block-list content
    assert by_id["t1"]["result_ts"] >= by_id["t1"]["call_ts"]


def test_claude_message_parents(spark, claude_file):
    """J1: message -> parent join materialized."""
    from session_graph_spark.sources.readers import claude_message_parents

    rows = {r["uuid"]: r for r in claude_message_parents(spark, claude_file).collect()}
    assert rows["a1"]["parent_uuid"] == "u1" and rows["a1"]["parent_role"] == "user"
    assert rows["u1"]["parent_role"] is None  # root message
    assert rows["a2"]["parent_ts"] < rows["a2"]["ts"]


def test_read_warp_sqlite(spark, tmp_path):
    """S4: direct SQLite read path (reference warp_to_rdf.py:59-87)."""
    import sqlite3

    from session_graph_spark.sources.readers import read_warp_sqlite

    db = str(tmp_path / "warp.sqlite")
    conn = sqlite3.connect(db)
    conn.execute(
        "CREATE TABLE ai_queries (exchange_id TEXT, conversation_id TEXT, "
        "start_ts TEXT, input TEXT, working_directory TEXT, "
        "output_status TEXT, model_id TEXT)"
    )
    for i in range(5):
        conn.execute(
            "INSERT INTO ai_queries VALUES (?,?,?,?,?,?,?)",
            (f"e{i}", "w1", f"2026-01-05T08:0{i}:00",
             json.dumps([{"Query": {"text": f"long enough substantive question {i} about postgres"}}]),
             "/w", "done", "m1"),
        )
    conn.commit()
    conn.close()
    t = read_warp_sqlite(spark, db, min_exchanges=5)
    rows = sorted(t.collect(), key=lambda r: r["turn_idx"])
    assert len(rows) == 5  # user turns only: Warp stores no assistant text
    assert all(r["role"] == "user" for r in rows)
    assert rows[0]["platform"] == "warp" and "postgres" in rows[0]["text"]

    # chunked driver read (multi-GB tables stream at chunk_rows memory):
    # a chunk size smaller than the table must yield identical output
    chunked = read_warp_sqlite(spark, db, min_exchanges=5, chunk_rows=2)
    assert sorted(map(tuple, chunked.collect())) == sorted(map(tuple, t.collect()))


def test_warp_turns(spark):
    from session_graph_spark.sources.readers import warp_turns

    def q(conv, ex, ts, text, output="assistant answer " * 3):
        return (conv, ex, ts, json.dumps([{"Query": {"text": text}}]), output, "/w", "m1")

    cols = ["conversation_id", "exchange_id", "start_ts", "input", "output",
            "working_directory", "model_id"]
    # conv w1: 5 substantive exchanges (kept); conv w2: 1 (dropped)
    rows = [q("w1", f"e{i}", f"2026-01-05T08:0{i}:00", f"long enough substantive question {i} about postgres")
            for i in range(5)]
    rows.append(q("w2", "e0", "2026-01-05T08:00:00", "short"))
    df = spark.createDataFrame(rows, cols)
    t = warp_turns(df, min_exchanges=5)
    assert t.where(F.col("conv_id") == "w2").count() == 0
    w1 = t.where(F.col("conv_id") == "w1")
    assert w1.count() == 10  # 5 user + 5 assistant
    first = w1.orderBy("turn_idx").first()
    assert first["role"] == "user" and "postgres" in first["text"]


def test_union_platforms_and_pipeline(spark, claude_file):
    from session_graph_spark.plans.pipeline import resolve
    from session_graph_spark.sources.readers import read_claude_code_jsonl

    t = read_claude_code_jsonl(spark, claude_file)
    res = resolve(spark, t, min_sessions=1)
    labels = {r["label"] for r in res.clusters.collect()}
    assert "kubernetes" in labels  # k8s alias-normalized
    assert "postgresql" in labels  # postgres alias-normalized


def test_incremental_runner(spark, tmp_path):
    from session_graph_spark import corpus
    from session_graph_spark.streaming.incremental import IncrementalRunner

    turns1 = corpus.generate_turns(spark, n_convs=6, seed=42)
    runner = IncrementalRunner(spark, str(tmp_path / "state"))
    out1 = runner.run(turns1)
    assert out1.count() > 0
    # a clean batch creates no dead-letter table
    assert runner.quarantined() is None

    # same input again: watermark skip -> nothing processed
    out2 = runner.run(turns1)
    assert out2.count() == 0

    # grown input (append-only, like new sessions arriving): only the new
    # conversations are processed
    extra = corpus.generate_turns(spark, n_convs=3, seed=77).withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("-new"))
    )
    turns2 = turns1.unionByName(extra)
    out3 = runner.run(turns2)
    new_convs = {r["conv_id"] for r in out3.select("conv_id").distinct().collect()}
    assert new_convs
    assert all(c.endswith("-new") for c in new_convs), new_convs


def test_incremental_changed_conversation(spark, tmp_path):
    """A *changed* conversation must (1) be re-processed exactly once —
    the watermark keeps the new hash — and (2) have its old cluster rows
    replaced, not duplicated (merge, not blind append)."""
    from session_graph_spark import corpus
    from session_graph_spark.streaming.incremental import IncrementalRunner

    turns1 = corpus.generate_turns(spark, n_convs=6, seed=42).cache()
    state = str(tmp_path / "state")
    runner = IncrementalRunner(spark, state)
    runner.run(turns1)
    clusters1 = runner.clusters()
    changed_conv = clusters1.first()["conv_id"]
    # materialize now: the parquet path is overwritten by the next run
    n_other_rows = clusters1.where(F.col("conv_id") != changed_conv).count()

    # mutate one conversation's text
    turns2 = turns1.withColumn(
        "text",
        F.when(F.col("conv_id") == changed_conv,
               F.concat(F.col("text"), F.lit(" plus fastapi and sqlalchemy changes")))
        .otherwise(F.col("text")),
    ).cache()
    out2 = runner.run(turns2)
    assert {r["conv_id"] for r in out2.select("conv_id").distinct().collect()} == {changed_conv}

    # merged table: the changed conversation's rows are exactly this
    # batch's output — old assignment rows replaced, not appended next to
    merged = runner.clusters()
    got = sorted(map(tuple, merged.where(F.col("conv_id") == changed_conv).collect()))
    want = sorted(map(tuple, out2.collect()))
    assert got == want
    # unchanged conversations' rows are untouched
    assert merged.where(F.col("conv_id") != changed_conv).count() == n_other_rows

    # third run on identical input: watermark kept the NEW hash -> no work
    out3 = runner.run(turns2)
    assert out3.count() == 0


def test_quarantine_batch_scale_failure_degrades_per_conv(spark, tmp_path):
    """When the COMBINED healthy set fails even though every conversation
    probes clean (batch-scale failure — bisection cannot localize it),
    the quarantine path must degrade to per-conversation resolves so
    healthy data still commits, instead of letting the exception escape
    and commit nothing."""
    from session_graph_spark import corpus
    from session_graph_spark.plans.pipeline import resolve
    from session_graph_spark.streaming.incremental import IncrementalRunner

    turns = corpus.generate_turns(spark, n_convs=4, seed=42).cache()
    # subagent conversations are dropped by the pipeline's P9 filter and
    # never produce mention-cluster rows
    n_convs = (turns.select("conv_id").distinct()
               .where(~F.col("conv_id").endswith("-sub")).count())

    def scale_limited_resolve(t):
        if t.select("conv_id").distinct().count() > 1:
            raise RuntimeError("simulated batch-scale OOM")
        return resolve(spark, t, min_sessions=1)

    r = IncrementalRunner(spark, str(tmp_path / "state"),
                          resolve_fn=scale_limited_resolve)
    out = r.run(turns)
    committed = {x[0] for x in out.select("conv_id").distinct().collect()}
    assert len(committed) == n_convs  # every conv committed solo
    dlq = r.quarantined()
    assert dlq is None or dlq.count() == 0  # nothing quarantined
    # watermarked: identical re-run is a no-op
    assert r.run(turns).count() == 0
    turns.unpersist()


def test_merge_overwrite_upserts_unlisted_new_convs(spark, tmp_path):
    """_merge_overwrite is a true upsert: a new_rows conversation the
    caller did NOT list in replaced_convs still lands (its partition is
    included in the touched set), instead of being silently dropped by
    the partition swap."""
    from session_graph_spark.streaming.incremental import IncrementalRunner

    runner = IncrementalRunner(spark, str(tmp_path / "state"), n_parts=4)
    path = str(tmp_path / "state" / "clusters")
    first = spark.createDataFrame(
        [("conv-a", "l1", "c1")],
        "conv_id string, canon_label string, cluster_id string")
    runner._merge_overwrite(path, first, first.select("conv_id"))
    # second merge: new conv-b rows but replaced_convs mentions only conv-a
    second = spark.createDataFrame(
        [("conv-a", "l2", "c2"), ("conv-b", "l3", "c3")],
        "conv_id string, canon_label string, cluster_id string")
    runner._merge_overwrite(
        path, second,
        spark.createDataFrame([("conv-a",)], "conv_id string"))
    got = sorted(map(tuple, runner.clusters().collect()))
    assert got == [("conv-a", "l2", "c2"), ("conv-b", "l3", "c3")]


def test_merge_overwrite_matches_naive_reference(spark, tmp_path):
    """Property: a random sequence of partition-scoped MERGEs produces
    exactly the table a naive full-rewrite upsert would — across new
    conversations, replacements, row-count changes, and deletions
    (replaced conv with zero new rows), including partitions that empty
    out entirely."""
    import random

    from session_graph_spark.streaming.incremental import IncrementalRunner

    rng = random.Random(7)
    runner = IncrementalRunner(spark, str(tmp_path / "state"), n_parts=4)
    path = str(tmp_path / "state" / "clusters")
    reference: dict[str, list[tuple]] = {}

    for step in range(6):
        # each batch: a mix of brand-new convs and replacements of known
        # ones; some replacements carry zero rows (pure deletion)
        batch_convs = {f"conv-{rng.randint(0, 9)}" for _ in range(rng.randint(1, 4))}
        rows = []
        for c in batch_convs:
            n = rng.choice([0, 1, 2, 3])
            for i in range(n):
                rows.append((c, f"label-{rng.randint(0, 5)}-{i}", f"cl-{step}"))
        new_df = spark.createDataFrame(
            rows, "conv_id string, canon_label string, cluster_id string"
        ) if rows else spark.createDataFrame(
            [], "conv_id string, canon_label string, cluster_id string"
        )
        replaced = spark.createDataFrame(
            [(c,) for c in sorted(batch_convs)], "conv_id string"
        )
        runner._merge_overwrite(path, new_df, replaced)
        for c in batch_convs:
            reference.pop(c, None)
        for r in rows:
            reference.setdefault(r[0], []).append(r)

        got = sorted(map(tuple, runner.clusters().collect()))
        want = sorted(t for rows_ in reference.values() for t in rows_)
        assert got == want, f"diverged at step {step}"


def test_context_bonus_invariants(spark):
    """apply_context_bonus: (1) scores outside the band pass through
    bit-identically; (2) the bonus never decreases a score; (3) the
    result caps at 1.0; (4) a label with no context vector gets the pure
    kernel score; (5) partial context overlap below the CTX_MIN_JACC
    evidence floor earns NO bonus (chance convergence must not flip
    band-kernel negatives); (6) a pair that is not variant-shaped
    (levenshtein_ratio < CTX_VARIANT_LEV) earns NO bonus even at perfect
    context identity — context agreement never bridges distinct
    morphemes (the apache flink|apache spark class)."""
    from session_graph_spark.operators.scoring import (CTX_BAND_LO,
                                                       apply_context_bonus)

    scored = spark.createDataFrame(
        [("alpha", "beta", 0.50),
         ("postgresql", "postgresq", 0.65),       # variant shape, weak ctx
         ("kubernetes", "kubernets", 0.695),      # variant shape, full ctx
         ("ecmascript", "javascript", 0.68),      # NOT variant-shaped (0.7)
         ("gamma", "delta", 0.75),
         ("iota", "jota", 0.99),
         ("kubernetes", "noctx", 0.69)],
        "label_a string, label_b string, score double",
    )
    ctx = spark.createDataFrame(
        [("alpha", ["x", "y"]), ("beta", ["x", "y"]),
         ("postgresql", ["x", "y", "z"]), ("postgresq", ["x", "y", "w"]),
         ("kubernetes", ["x"]), ("kubernets", ["x"]),
         ("ecmascript", ["x"]), ("javascript", ["x"]),
         ("gamma", ["x"]), ("delta", ["x"]),
         ("iota", ["x"]), ("jota", ["x"])],
        "canon_label string, context array<string>",
    )
    out = {(r["label_a"], r["label_b"]): r["score"]
           for r in apply_context_bonus(scored, ctx).collect()}
    assert out[("alpha", "beta")] == 0.50   # below band: untouched
    assert out[("gamma", "delta")] == 0.75  # at/above threshold: untouched
    assert out[("iota", "jota")] == 0.99
    # jacc(xyz, xyw) = 0.5 < floor -> kernel only, despite variant shape
    assert out[("postgresql", "postgresq")] == 0.65
    # variant-shaped (ratio 0.9) + identical ctx -> bonus
    assert out[("kubernetes", "kubernets")] == min(0.695 + 0.08 * 1.0, 1.0)
    # identical ctx but ratio 0.7 < CTX_VARIANT_LEV -> NO bonus
    assert out[("ecmascript", "javascript")] == 0.68
    assert out[("kubernetes", "noctx")] == 0.69  # missing vector
    assert all(v <= 1.0 for v in out.values())
    assert CTX_BAND_LO < 0.7


def test_incremental_merge_rewrites_only_touched_partitions(spark, tmp_path):
    """The partition-scoped MERGE contract: state tables are hash-
    partitioned by conv_id, and a batch that changes one conversation
    rewrites ONLY the partitions containing it — every other partition's
    files stay byte-identical (same inode, same mtime), so per-batch
    write cost is O(batch + touched partitions), not O(total history)."""
    import os

    from session_graph_spark import corpus
    from session_graph_spark.streaming.incremental import IncrementalRunner

    turns1 = corpus.generate_turns(spark, n_convs=8, seed=42).cache()
    state = str(tmp_path / "state")
    runner = IncrementalRunner(spark, state, n_parts=8)
    runner.run(turns1)

    def snapshot(table):
        # parquet data files only: the _MANIFEST.json pointer is REQUIRED
        # to change on every commit (it IS the commit), and _SUCCESS
        # markers live at generation scope — the O(batch) contract is
        # about the immutable data files
        root = tmp_path / "state" / table
        files = {}
        for dirpath, _, names in os.walk(root):
            for n in names:
                if not n.endswith(".parquet"):
                    continue
                p = os.path.join(dirpath, n)
                st = os.stat(p)
                files[os.path.relpath(p, root)] = (st.st_ino, st.st_mtime_ns,
                                                   st.st_size)
        return files

    before_clusters = snapshot("clusters")
    before_wm = snapshot("processed_watermarks")

    changed_conv = sorted(
        r[0] for r in turns1.select("conv_id").distinct().collect()
    )[0]
    touched_part = (
        turns1.select(
            F.pmod(F.xxhash64("conv_id"), F.lit(8)).alias("part")
        ).where(F.col("conv_id") == changed_conv).first()["part"]
    )
    turns2 = turns1.withColumn(
        "text",
        F.when(F.col("conv_id") == changed_conv,
               F.concat(F.col("text"), F.lit(" plus flink and beam changes")))
        .otherwise(F.col("text")),
    )
    out2 = runner.run(turns2)
    assert {r[0] for r in out2.select("conv_id").distinct().collect()} == {changed_conv}

    for table, before in [("clusters", before_clusters),
                          ("processed_watermarks", before_wm)]:
        after = snapshot(table)
        untouched_before = {k: v for k, v in before.items()
                            if f"part={touched_part}/" not in k}
        untouched_after = {k: v for k, v in after.items()
                          if f"part={touched_part}/" not in k}
        # untouched partitions: identical file set, same inode + mtime
        assert untouched_before == untouched_after, table
        # the touched partition WAS rewritten
        touched_after = {k for k in after if f"part={touched_part}/" in k
                         and k.endswith(".parquet")}
        touched_before_keys = {k: before[k] for k in before
                               if f"part={touched_part}/" in k}
        assert touched_after, table
        assert all(before.get(k) != after.get(k)
                   for k in touched_after) or touched_before_keys.keys() != touched_after, table

    # the merged table is still correct: changed conv's rows replaced
    merged = runner.clusters()
    got = sorted(map(tuple, merged.where(F.col("conv_id") == changed_conv).collect()))
    want = sorted(map(tuple, out2.collect()))
    assert got == want
    turns1.unpersist()


def test_state_store_commit_is_crash_atomic(spark, tmp_path):
    """The generation-pointer protocol: a merge that dies at ANY point
    before the single manifest rename leaves the complete PRE-merge state
    visible — no half-old/half-new table — and the next merge detects the
    uncommitted leftovers (warning), rolls them back, and commits
    cleanly."""
    import warnings as _warnings

    from session_graph_spark.streaming.incremental import IncrementalRunner

    runner = IncrementalRunner(spark, str(tmp_path / "state"), n_parts=4)
    path = str(tmp_path / "state" / "clusters")
    schema = "conv_id string, canon_label string, cluster_id string"
    first = spark.createDataFrame(
        [(f"conv-{i}", f"l{i}", f"c{i}") for i in range(8)], schema)
    runner._merge_overwrite(path, first, first.select("conv_id"))
    committed = sorted(map(tuple, runner.clusters().collect()))
    assert len(committed) == 8

    # crash INJECTION: die after the new generation's data files are fully
    # written but before the pointer rename (the worst case — every
    # partition directory exists twice)
    real_commit = runner._commit_manifest

    def dying_commit(*args, **kwargs):
        raise OSError("injected crash before manifest rename")

    runner._commit_manifest = dying_commit
    second = spark.createDataFrame(
        [(f"conv-{i}", f"l{i}x", "c-new") for i in range(8)], schema)
    with pytest.raises(OSError, match="injected crash"):
        runner._merge_overwrite(path, second, second.select("conv_id"))
    # readers see the COMPLETE pre-merge state, not a partial swap
    assert sorted(map(tuple, runner.clusters().collect())) == committed

    # recovery: the next merge warns about the uncommitted generation,
    # discards it, and the retried merge lands exactly
    runner._commit_manifest = real_commit
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        runner._merge_overwrite(path, second, second.select("conv_id"))
    assert any("uncommitted" in str(w.message) for w in caught)
    got = sorted(map(tuple, runner.clusters().collect()))
    assert got == sorted(map(tuple, second.collect()))
    # no stray generation directories survive recovery + GC
    import os as _os
    gens = sorted(d for d in _os.listdir(path) if d.startswith("gen="))
    man_gens = {f"gen={g}" for g in
                {v for v in __import__("json").loads(
                    (tmp_path / "state" / "clusters" / "_MANIFEST.json")
                    .read_text())["parts"].values()}}
    assert set(gens) == man_gens


def _write_legacy_layout(spark, path: str, n_rows: int = 6, n_parts: int = 4):
    from pyspark.sql import functions as _F

    df = spark.createDataFrame(
        [(f"conv-{i}", f"l{i}", f"c{i}") for i in range(n_rows)],
        "conv_id string, canon_label string, cluster_id string")
    df.withColumn("part", _F.pmod(_F.xxhash64("conv_id"), _F.lit(n_parts))) \
        .write.partitionBy("part").parquet(path)
    return df


@pytest.mark.parametrize("layout", ["flat", "gen0", "both"])
def test_state_store_pre_manifest_layout_rejected(spark, tmp_path, layout):
    """A manifest-less table dir holding flat part=P dirs (the pre-manifest
    swap-protocol layout), gen=0 (where its removed in-place migration
    moved them) or both must be refused at open with ValueError, and
    every file under the state dir keeps its path and bytes. A gen=0
    that a manifest references is ordinary committed state."""
    import json as _json

    from session_graph_spark.streaming.incremental import IncrementalRunner

    state = tmp_path / "state"
    table = state / "clusters"
    df = _write_legacy_layout(spark, str(table))
    flat = sorted(table.glob("part=*"))
    assert len(flat) >= 2, "fixture needs >= 2 partitions"
    if layout != "flat":
        (table / "gen=0").mkdir()
        for d in flat if layout == "gen0" else flat[: len(flat) // 2]:
            d.rename(table / "gen=0" / d.name)

    def snapshot():
        return {str(f.relative_to(state)): f.read_bytes() if f.is_file() else None
                for f in state.rglob("*")}

    before = snapshot()
    with pytest.raises(ValueError, match="pre-manifest layout"):
        IncrementalRunner(spark, str(state), n_parts=4)
    assert snapshot() == before

    if layout == "gen0":
        parts = {d.name.split("=", 1)[1]: 0 for d in (table / "gen=0").glob("part=*")}
        (table / "_MANIFEST.json").write_text(_json.dumps(
            {"version": 1, "n_parts": 4, "gen": 0, "parts": parts}))
        runner = IncrementalRunner(spark, str(state), n_parts=4)
        assert sorted(map(tuple, runner.clusters().collect())) == \
            sorted(map(tuple, df.collect()))
        upd = spark.createDataFrame(
            [("conv-0", "lx", "cx")],
            "conv_id string, canon_label string, cluster_id string")
        runner._merge_overwrite(str(table), upd, upd.select("conv_id"))
        after = {r["conv_id"]: r["canon_label"] for r in runner.clusters().collect()}
        assert after["conv-0"] == "lx" and after["conv-5"] == "l5" and len(after) == 6


def test_state_store_legacy_layout_rejects_wrong_n_parts(spark, tmp_path):
    """A pre-manifest store written under a LARGER n_parts (some flat
    part index out of range) is refused like any pre-manifest layout —
    opening it must never hash conv_ids to the wrong partitions."""
    from session_graph_spark.streaming.incremental import IncrementalRunner

    path = str(tmp_path / "state" / "clusters")
    _write_legacy_layout(spark, path, n_parts=4)
    # a partition index only an n_parts > 4 store could produce
    (tmp_path / "state" / "clusters" / "part=7").mkdir()

    # the constructor's fail-fast manifest pass refuses the layout
    with pytest.raises(ValueError, match="pre-manifest layout.*part=7"):
        IncrementalRunner(spark, str(tmp_path / "state"), n_parts=4)


def test_state_store_detects_concurrent_writer(spark, tmp_path):
    """Single-writer contract: if another writer commits between a
    merge's base-manifest read and its commit, the commit refuses
    (loud lost-update detection) instead of clobbering the newer
    generation."""
    import json as _json

    from session_graph_spark.streaming.incremental import IncrementalRunner

    runner = IncrementalRunner(spark, str(tmp_path / "state"), n_parts=4)
    path = str(tmp_path / "state" / "clusters")
    df = spark.createDataFrame(
        [("conv-a", "l1", "c1")],
        "conv_id string, canon_label string, cluster_id string")
    runner._merge_overwrite(path, df, df.select("conv_id"))

    # simulate a racing writer bumping the manifest mid-merge
    mf = tmp_path / "state" / "clusters" / "_MANIFEST.json"
    man = _json.loads(mf.read_text())

    real_commit = runner._commit_manifest

    def racing_commit(p, m, expect_gen=None):
        man["gen"] += 1
        mf.write_text(_json.dumps(man))
        return real_commit(p, m, expect_gen=expect_gen)

    runner._commit_manifest = racing_commit
    with pytest.raises(RuntimeError, match="concurrent writer"):
        runner._merge_overwrite(path, df, df.select("conv_id"))


def test_state_store_n_parts_pinned(spark, tmp_path):
    """n_parts is part of the on-disk contract: partition assignment is
    pmod(xxhash64(conv_id), n_parts), so reopening a state dir under a
    different n_parts would merge around rows it can never see. The
    manifest pins it and the runner fails fast on mismatch."""
    from session_graph_spark.streaming.incremental import IncrementalRunner

    runner = IncrementalRunner(spark, str(tmp_path / "state"), n_parts=4)
    path = str(tmp_path / "state" / "clusters")
    df = spark.createDataFrame(
        [("conv-a", "l1", "c1")],
        "conv_id string, canon_label string, cluster_id string")
    runner._merge_overwrite(path, df, df.select("conv_id"))
    # same n_parts reopens fine
    again = IncrementalRunner(spark, str(tmp_path / "state"), n_parts=4)
    assert again.clusters().count() == 1
    # different n_parts is rejected at open, not after a corrupting merge
    with pytest.raises(ValueError, match="n_parts=4"):
        IncrementalRunner(spark, str(tmp_path / "state"), n_parts=8)


def test_stateful_conversation_stream(spark, tmp_path):
    """applyInPandasWithState: per-conversation running state over a turn
    stream; accumulated counts must match the batch ground truth."""
    from session_graph_spark import corpus
    from session_graph_spark.streaming.stateful import streaming_conversation_state

    src = str(tmp_path / "turns_in")
    turns = corpus.generate_turns(spark, n_convs=5, seed=42).select(
        "conv_id", "text", F.col("ts").cast("string").alias("ts")
    )
    turns.write.mode("overwrite").parquet(src)
    want = {
        r["conv_id"]: (r["n"], r["chars"])
        for r in turns.groupBy("conv_id")
        .agg(F.count("*").alias("n"),
             F.sum(F.length(F.coalesce("text", F.lit("")))).alias("chars"))
        .collect()
    }

    stream = spark.readStream.schema("conv_id string, text string, ts string").parquet(src)
    q = (
        streaming_conversation_state(stream)
        .writeStream.outputMode("update").format("memory")
        .queryName("conv_state")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT * FROM conv_state WHERE closed = false"
    ).collect()
    got = {r["conv_id"]: (r["n_turns"], r["n_chars"]) for r in rows}
    assert got == want


def test_deepseek_dfs_walker_matches_recursive_reference():
    """Property: the iterative preorder walker (_walk_deepseek_mapping)
    must equal a plain recursive preorder over randomly generated trees —
    forks, empty fragment lists, and missing children included."""
    import random

    from session_graph_spark.sources.readers import _walk_deepseek_mapping

    def recursive_walk(mapping, node_id, out):
        node = mapping.get(node_id)
        if not isinstance(node, dict):
            return
        msg = node.get("message") or {}
        frags = msg.get("fragments") or []
        ts = msg.get("inserted_at")
        u = [f.get("content") for f in frags
             if f.get("type") == "REQUEST" and f.get("content")]
        a = [f.get("content") for f in frags
             if f.get("type") in ("RESPONSE", "THINK") and f.get("content")]
        if u:
            out.append(("user", "\n".join(u), ts))
        if a:
            out.append(("assistant", "\n".join(a), ts))
        for c in node.get("children") or []:
            recursive_walk(mapping, c, out)

    rng = random.Random(99)
    for trial in range(50):
        n = rng.randint(1, 40)
        mapping = {}
        ids = ["root"] + [f"n{i}" for i in range(1, n)]
        children: dict[str, list] = {i: [] for i in ids}
        for i in range(1, n):
            parent = ids[rng.randint(0, i - 1)]  # random tree, forks allowed
            children[parent].append(ids[i])
        for nid in ids:
            frags = []
            for _ in range(rng.randint(0, 3)):
                frags.append({
                    "type": rng.choice(["REQUEST", "RESPONSE", "THINK", "OTHER"]),
                    "content": rng.choice([f"c{rng.randint(0, 9)}", "", None]),
                })
            mapping[nid] = {
                "parent": None if nid == "root" else "x",
                "message": {"fragments": frags, "inserted_at": f"t{nid}"},
                "children": children[nid],
            }
        expected: list = []
        recursive_walk(mapping, "root", expected)
        assert _walk_deepseek_mapping(mapping) == expected, f"trial {trial}"


def test_quarantine_isolates_poison_conversation(spark, tmp_path):
    """ST2 DLQ analog: a conversation whose processing throws must be
    bisected out and quarantined — healthy conversations in the same
    batch still commit, the poison conv is not retried while its content
    is unchanged, and it heals (and leaves the DLQ) once its content
    changes and processing succeeds."""
    from session_graph_spark import corpus
    from session_graph_spark.plans.pipeline import resolve
    from session_graph_spark.streaming.incremental import IncrementalRunner

    turns = corpus.generate_turns(spark, n_convs=6, seed=42).cache()
    poison = sorted(
        r[0] for r in turns.select("conv_id").distinct().collect()
    )[0]
    flag = {"fail": True}

    def failing_resolve(t):
        present = {r[0] for r in t.select("conv_id").distinct().collect()}
        if flag["fail"] and poison in present:
            raise RuntimeError("decode explosion in poison conv")
        return resolve(spark, t, min_sessions=1)

    r = IncrementalRunner(spark, str(tmp_path / "state"),
                          resolve_fn=failing_resolve)
    out = r.run(turns)
    committed = {x[0] for x in out.select("conv_id").distinct().collect()}
    assert poison not in committed
    assert len(committed) >= 1  # healthy convs still landed

    dlq = {x["conv_id"]: x["error"] for x in r.quarantined().collect()}
    assert poison in dlq and "decode explosion" in dlq[poison]

    # unchanged content -> not retried (watermarked), stays quarantined
    assert r.run(turns).count() == 0
    assert r.quarantined().where(F.col("conv_id") == poison).count() == 1

    # content change + healthy processing -> reprocessed and healed
    flag["fail"] = False
    changed = turns.withColumn(
        "text",
        F.when(F.col("conv_id") == poison,
               F.concat(F.col("text"), F.lit(" recovered")))
        .otherwise(F.col("text")),
    )
    out3 = r.run(changed)
    assert {x[0] for x in out3.select("conv_id").distinct().collect()} == {poison}
    assert r.quarantined().where(F.col("conv_id") == poison).count() == 0
    turns.unpersist()
