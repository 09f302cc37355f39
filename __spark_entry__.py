"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship entity-resolution pipeline on sf0.001.
`queries()` exposes one callable per implemented operator family from
SURVEY.md §2; `oracle_sql()` gives the DuckDB-equivalent SQL for every
SQL-expressible one (the ER pipeline itself — pandas-UDF extraction,
MinHash-LSH, iterative connected components — is non-SQL-expressible and
gets rows-only checks).

Column-name parity rule: every computed column is aliased identically in
the Spark code and the SQL text.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """ER pipeline over turns derived from sf0.001 documents: extract
    mentions, block, score, cluster; return per-cluster rollup."""
    from session_graph_spark.plans.pipeline import resolve
    from session_graph_spark.sources.testdata import documents_as_turns

    turns = documents_as_turns(spark, SF0001)
    res = resolve(spark, turns)
    return (
        res.mention_clusters.groupBy("cluster_id")
        .agg(F.count("*").alias("n_mentions"),
             F.countDistinct("conv_id").alias("n_convs"))
        .orderBy(F.desc("n_mentions"), F.asc("cluster_id"))
    )


# ---------------------------------------------------------------------------
# helpers shared by the query callables
# ---------------------------------------------------------------------------
def _docs(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/documents.parquet")


def _tokens(spark: SparkSession, sf: str) -> DataFrame:
    return (
        _docs(spark, sf)
        .select("doc_id", "source", "lang", F.explode(F.split("text", " ")).alias("token"))
        .where(F.length("token") >= 3)
    )


_TOK_SQL = (
    "(SELECT doc_id, source, lang, token FROM "
    "(SELECT doc_id, source, lang, unnest(string_split(text, ' ')) AS token "
    "FROM documents) WHERE len(token) >= 3)"
)


def _events(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/events.parquet")


def _doc_triples(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic token-triple table over documents, shared by the
    SPARQL-template driver queries (subject = token i, object = token
    i+1, predicate from a doc-level cue word — the SQL-expressible
    analog of the mention-based build_triples edges)."""
    d = _docs(spark, sf)
    lt = F.lower(F.col("text"))
    pred = (
        F.when(lt.contains("join"), F.lit("uses"))
        .when(lt.contains("stream"), F.lit("integratesWith"))
        .when(lt.contains("merge"), F.lit("composesWith"))
        .otherwise(F.lit("relatedTo"))
    )
    w = F.split("text", " ")
    n = F.least(F.size(w) - 1, F.lit(10))
    t = d.select(
        "doc_id", w.alias("w"), pred.alias("predicate"),
        F.explode(
            # guard: sequence(1, 0) would count DOWN in Spark
            F.when(n >= 1, F.sequence(F.lit(1), n))
            .otherwise(F.array().cast("array<int>"))
        ).alias("i"),
    )
    return t.select(
        "doc_id", "predicate",
        F.element_at("w", F.col("i")).alias("subject"),
        F.element_at("w", F.col("i") + 1).alias("object"),
    ).where(
        (F.length("subject") >= 3) & (F.length("object") >= 3)
        & (F.col("subject") != F.col("object"))
    )


# DuckDB mirror of _doc_triples (list indexing, not unnest-order reliance)
_TRIPLES_SQL = """
    (SELECT doc_id, predicate, w[i] AS subject, w[i+1] AS object
     FROM (SELECT doc_id, w, predicate,
                  unnest(range(1, greatest(least(len(w)-1, 10), 0) + 1)) AS i
           FROM (SELECT doc_id, string_split(text, ' ') AS w,
                        CASE WHEN contains(lower(text), 'join') THEN 'uses'
                             WHEN contains(lower(text), 'stream') THEN 'integratesWith'
                             WHEN contains(lower(text), 'merge') THEN 'composesWith'
                             ELSE 'relatedTo' END AS predicate
                 FROM documents))
     WHERE len(w[i]) >= 3 AND len(w[i+1]) >= 3 AND w[i] != w[i+1])
"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------
def q_hub_entities(spark, sf):
    """A5 / SPARQL template 10: top-20 tokens by distinct-doc degree.

    r7 plan: doc_id is unique per document row, so deduping tokens
    IN-ARRAY per doc and counting rows is exactly countDistinct(doc_id)
    — one plain-count exchange with map-side partials instead of the
    distinct aggregate's two exchanges over (token, doc_id) (guide
    §2.3 aggregate-before-shuffle; A/B at sf0.1: 0.59s -> 0.42s
    best-of-3, probe in commit 4247e06; value parity
    oracle-checked)."""
    d = _docs(spark, sf).select(
        F.explode(
            F.array_distinct(
                F.filter(F.split("text", " "), lambda t: F.length(t) >= 3)
            )
        ).alias("token")
    )
    return (
        d.groupBy("token")
        .agg(F.count("*").alias("degree"))
        .orderBy(F.desc("degree"), F.asc("token")).limit(20)
    )


def q_cooccurrence(spark, sf):
    """A6 / Q8: token pairs co-occurring in the same document, top-20.

    r7 plan: per-doc tokens are deduped IN-ARRAY at the scan (exactly
    the distinct (doc_id, token) set, since doc_id is unique per row),
    which removes the standalone distinct aggregate's exchange over
    (doc_id, token); the self-join then reuses one exchange for both
    sides (identical subplans). A/B at sf0.1: 1.04s -> 0.74s best-of-3
    (probe in commit 4247e06, arm cooc_mid; a full in-array
    pair-generation variant with zero join was also measured and LOST
    at 1.39s — the nested-array struct allocation costs more than the
    join it saves). Value parity oracle-checked."""
    t = _docs(spark, sf).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(F.split("text", " "), lambda x: F.length(x) >= 3)
            )
        ).alias("token"),
    )
    a = t.select("doc_id", F.col("token").alias("token_a"))
    b = t.select("doc_id", F.col("token").alias("token_b"))
    return (
        a.join(b, "doc_id").where(F.col("token_a") < F.col("token_b"))
        .groupBy("token_a", "token_b").agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("token_a"), F.asc("token_b")).limit(20)
    )


def q_cross_source_overlap(spark, sf):
    """A8 / Q10: tokens seen in more than one source."""
    return (
        _tokens(spark, sf).groupBy("token")
        .agg(F.countDistinct("source").alias("n_sources"))
        .where(F.col("n_sources") > 1)
        .orderBy(F.desc("n_sources"), F.asc("token")).limit(20)
    )


def q_min_sessions_filter(spark, sf):
    """P7: frequency pruning — tokens in >= 2 distinct docs."""
    return (
        _tokens(spark, sf).groupBy("token")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .orderBy(F.asc("token"))
    )


def q_platform_counts(spark, sf):
    """A7 / Q9+Q11: per-source document and char counts."""
    return (
        _docs(spark, sf).groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("source")
    )


def q_lang_stats(spark, sf):
    """A11 analog: per-language doc count + mean length."""
    return (
        _docs(spark, sf).groupBy("lang")
        .agg(F.count("*").alias("n_docs"),
             F.round(F.avg("n_chars"), 4).alias("avg_chars"))
        .orderBy("lang")
    )


def q_text_features(spark, sf):
    """Text-analysis rollup per document — one row per doc carrying the
    whole text toolbox so each function's values are oracle-hashed:
    token count (whitespace), md5 fingerprint of the 64-char prefix (N6),
    stopword-profile language ID, quality features (token count via
    regex split, punct ratio, en-stopword ratio, 0.4/0.3/0.3 score
    blend), and per-token stats (avg token length, the/a stopword
    ratio). Consolidates the former token_count / fingerprint / lang_id /
    quality_features / quality_score driver rows (round-4 registry
    diet)."""
    from session_graph_spark.functions.text import lang_id_col, quality_features

    # r7: lang_id moves from the Arrow-batched pandas UDF to the
    # decision-identical pure-Column form — the plan's one
    # ArrowEvalPython node disappears (guide §4.1) and the A/B read
    # 1.33s -> 1.22s best-of-3 at sf0.1 (probe in commit 4247e06,
    # arm tf_oldlangcol). A single-scan zero-shuffle projection variant
    # (per-token stats as in-array folds) was also measured and LOST
    # (1.51s) — the explode+aggregate form vectorizes better here — so
    # the three-branch join shape deliberately stays (guide §1.1:
    # empirics over the first-principles ideal).
    d = _docs(spark, sf)
    base = d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.md5(F.substring("text", 1, 64)).alias("fp"),
        lang_id_col(F.col("text")).alias("lang_pred"),
    )
    qf = quality_features(d).select(
        "doc_id", "n_tokens_q", "punct_ratio", "stopword_ratio_en", "quality_score"
    )
    tok = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(F.length("token")), 4).alias("avg_token_len"),
            F.round(
                F.sum(F.when(F.col("token").isin("the", "a"), 1).otherwise(0))
                / F.count("*"), 4,
            ).alias("stopword_ratio"),
        )
    )
    return base.join(qf, "doc_id").join(tok, "doc_id").orderBy("doc_id")


def q_exact_dedup(spark, sf):
    """Dedup (exact): hash-groupBy full text; canonical = min doc_id."""
    return (
        _docs(spark, sf)
        .groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("canonical_doc"))
    )


def q_ngram_bucket_dedup(spark, sf):
    """Dedup (near, bucketed): docs sharing an 8-token prefix shingle."""
    d = _docs(spark, sf).select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8))).alias("shingle"),
    )
    return (
        d.groupBy("shingle")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("canonical_doc"))
        .where(F.col("n_docs") > 1)
    )


def q_turn_ordering(spark, sf):
    """W1: stable per-user event ordering (row_number), first 3 each."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _events(spark, sf)
        .select("user_id", "event_id", (F.row_number().over(w) - 1).alias("turn_idx"))
        .where(F.col("turn_idx") < 3)
    )


def q_prev_event(spark, sf):
    """J2/W4: previous-event chaining via lag."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _events(spark, sf)
        .select("user_id", "event_id", "event_type",
                F.lag("event_type").over(w).alias("prev_type"))
        .where(F.col("prev_type").isNotNull())
    )


def q_sessionization(spark, sf):
    """W2 + ST analog in one row per user: session bounds (first/last
    timestamp, event count) plus 30-minute-gap sessionization count
    (absorbs the former session_bounds driver row)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = _events(spark, sf).withColumn("prev_ts", F.lag("ts").over(w))
    e = e.withColumn(
        "new_sess",
        F.when(
            F.col("prev_ts").isNull()
            | ((F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")) > 1800),
            1,
        ).otherwise(0),
    )
    return (
        e.groupBy("user_id").agg(
            F.min("ts").alias("created"), F.max("ts").alias("modified"),
            F.count("*").alias("n_events"),
            F.sum("new_sess").alias("n_sessions"),
        )
        .orderBy("user_id")
    )


def q_event_type_rollup(spark, sf):
    """A10 analog: per-event-type counts + value sum."""
    return (
        _events(spark, sf).groupBy("event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 3).alias("total_value"))
        .orderBy("event_type")
    )


def q_pricing_summary(spark, sf):
    """TPC-H Q1-shaped partial-agg check over lineitem."""
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"),
             F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
             F.count("*").alias("n_items"))
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_ann_topk(spark, sf):
    """Similarity search: brute-force cosine top-10 per query vector
    (query set = vec_id < 5) — the operator itself
    (ann.brute_force_topk), not a reimplementation."""
    from session_graph_spark.operators.ann import brute_force_topk

    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return brute_force_topk(e, q, k=10)


def q_triple_hubs(spark, sf):
    """A5 exact analog over the constructed knowledge-triple table
    (rows-only: mention extraction is a pandas UDF)."""
    from session_graph_spark.functions.normalize import apply_aliases
    from session_graph_spark.operators.triples import build_triples, hub_by_triple_degree
    from session_graph_spark.plans.pipeline import (alias_df, mentions_from_turns,
                                                    prepare_turns)
    from session_graph_spark.sources.testdata import documents_as_turns

    turns = prepare_turns(documents_as_turns(spark, sf))
    # with_offsets=True: the standard triple path — build_triples picks
    # per-pair cue predicates from the extractor's TRUE mention offsets
    # (alias-normalized labels included) instead of re-locating labels
    mentions = apply_aliases(mentions_from_turns(turns, with_offsets=True),
                             alias_df(spark), "norm_label", "canon_label")
    edges = build_triples(mentions, turns)["edges"]
    return hub_by_triple_degree(edges, k=20)


def q_minhash_dedup_groups(spark, sf):
    """MinHash-LSH near-dup groups with exact-Jaccard verification + CC
    (oracle = all-pairs exact Jaccard + recursive transitive closure)."""
    from session_graph_spark.operators.dedup import minhash_dedup_groups_exact

    return minhash_dedup_groups_exact(_docs(spark, sf), threshold=0.8).orderBy("doc_id")


def q_ann_lsh_topk(spark, sf):
    """Hyperplane-LSH approximate top-k (rows-only; exact baseline is the
    oracled ann_topk)."""
    from session_graph_spark.operators.ann import lsh_topk

    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return lsh_topk(e, q, k=10, n_planes=4, n_tables=8)


def q_ann_ivf_topk(spark, sf):
    """IVF coarse-quantizer ANN (rows-only: approximate by design; the
    exact baseline is the oracled ann_topk)."""
    from session_graph_spark.operators.ann import ivf_topk

    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return ivf_topk(e, q, k=10, n_cells=16, n_probe=6)


def q_predicate_search(spark, sf):
    """Template 3: what does 'spark' use? (predicate='uses', either end)."""
    from session_graph_spark.queries import predicate_search

    return predicate_search(_doc_triples(spark, sf), "uses", "spark")


def q_entity_to_entity(spark, sf):
    """Template 2: how does 'spark' relate to 'customer'?"""
    from session_graph_spark.queries import entity_to_entity

    return entity_to_entity(_doc_triples(spark, sf), "spark", "customer")


def q_path_discovery(spark, sf):
    """Template 12: 2-hop paths 'spark' -> mid -> 'vector' (3 direction
    shapes unioned)."""
    from session_graph_spark.queries import path_discovery

    return path_discovery(_doc_triples(spark, sf), "spark", "vector")


def q_sibling_entities(spark, sf):
    """Template 14: entities sharing a (predicate, object) with 'spark'."""
    from session_graph_spark.queries import sibling_entities

    return sibling_entities(_doc_triples(spark, sf), "spark")


def q_topic_search(spark, sf):
    """Template 5: documents (session analog) whose tokens contain the
    topic substring, with their metadata."""
    t = _tokens(spark, sf).where(F.col("token").contains("spark"))
    convs = t.select("doc_id").distinct()
    meta = _docs(spark, sf).select("doc_id", "source", "lang")
    return convs.join(meta, "doc_id").orderBy("doc_id")


def q_kb_linking(spark, sf):
    """KB-linking ladder over distinct document tokens: exact 1.0 /
    tech-keyword 0.8 / else 0.5, threshold 0.7 (reference
    link_entities.py:517-545)."""
    from session_graph_spark.operators.linking import kb_df, link_to_kb

    labels = _tokens(spark, sf).select(F.col("token").alias("label"))
    out = link_to_kb(labels, kb_df(spark), label_col="label")
    return out.select(
        "label", "kb_id", F.round("confidence", 2).alias("confidence"), "linked"
    ).orderBy("label")


def q_kb_linking_ctx(spark, sf):
    """Context-aware KB linking (reference link_entities.py:653-663 +
    select_best_match :374-400): same ladder as kb_linking, but each
    label's top-5 co-occurring tokens (entity_context semantics) feed the
    evidence re-rank between same-confidence candidates."""
    from session_graph_spark.operators.linking import kb_df, link_to_kb
    from session_graph_spark.operators.triples import entity_context

    t = _tokens(spark, sf)
    mentions = t.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("token").alias("canon_label"),
    )
    ctx = entity_context(mentions).withColumnRenamed("canon_label", "label")
    labels = t.select(F.col("token").alias("label"))
    out = link_to_kb(labels, kb_df(spark), label_col="label", context=ctx)
    return out.select(
        "label", "kb_id", F.round("confidence", 2).alias("confidence"), "linked"
    ).orderBy("label")


# size of the generated gazetteer the kb_pipeline driver row links
# against (curated 450 ∪ kbgen rows; VERDICT r5 #9 — the composite must
# be proven at realistic multi-sense collision density, not just against
# the curated toy dimension). Shared by the Spark query and its oracle
# so both sides build the bit-identical dimension.
KB_PIPELINE_DIM_N = 30000


def q_kb_pipeline(spark, sf):
    """End-to-end KB composite (the reference's actual pipeline order:
    resolve entities, then link_entities over the RESOLVED list with
    per-entity context, then summary counters — link_entities.py main
    flow + :653-663 + :760-786): mentions → ER clusters → per-cluster
    co-mention context → context-aware KB link once per cluster
    canonical → enrichment columns (README.md:311-324 SERVICE analog) →
    run metrics pinned as columns. Replaces the former kb_enrichment +
    kb_link_metrics driver rows while widening the covered surface.

    Round 6: the dimension is the curated 450 ∪ the 30k generated
    gazetteer (kbgen.generate_kb_rows(n=30000, seed=7): acronym aliases,
    tech/non-tech senses, ~8% multi-sense collisions), so the ladder,
    tie-breaks and context re-rank run against production-shaped
    distractor statistics; the DuckDB oracle inlines the identical
    33k-row dimension as VALUES."""
    from session_graph_spark import kbgen
    from session_graph_spark.operators.linking import KB_SCHEMA, link_clusters
    from session_graph_spark.operators.triples import entity_context
    from session_graph_spark.plans.pipeline import resolve
    from session_graph_spark.sources.testdata import documents_as_turns

    res = resolve(spark, documents_as_turns(spark, sf))
    ctx = entity_context(
        res.mention_clusters.select(
            "conv_id", "turn_idx", F.col("cluster_id").alias("canon_label")
        )
    )
    kb = spark.createDataFrame(
        kbgen.generate_kb_rows(n=KB_PIPELINE_DIM_N, seed=7), KB_SCHEMA)
    linked = link_clusters(res.clusters, kb, context=ctx)
    aliases_dim = F.broadcast(kb.select(
        "kb_id", F.concat_ws(",", F.sort_array("aliases")).alias("aliases_csv")
    ))
    out = linked.join(aliases_dim, "kb_id", "left")
    metrics = out.agg(
        F.sum(F.when(F.col("linked"), 1).otherwise(0)).alias("n_linked"),
        F.sum(F.when(~F.col("linked") & (F.col("confidence") > 0), 1)
              .otherwise(0)).alias("n_below"),
        F.sum(F.when(F.col("confidence") == 0, 1).otherwise(0)).alias("n_not_found"),
    )
    return (
        out.crossJoin(F.broadcast(metrics))
        .select("cluster_id", "kb_id",
                F.round("confidence", 2).alias("confidence"), "linked",
                "kb_label", "description", "aliases_csv",
                "n_linked", "n_below", "n_not_found")
        .orderBy("cluster_id")
    )


def q_models_seen(spark, sf):
    """Model/agent provenance rollup (reference jsonl_to_rdf.py:158-162
    models_seen per session, common.py:96-113 AIModel agent nodes) —
    documents analog: source = the session, lang = the model-id stand-in.
    The turns-table form is `queries.models_seen` over the Claude reader's
    model column; this derivation is the SQL-oracle-able twin."""
    return (
        _docs(spark, sf)
        .groupBy("source")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("lang"))).alias("models_seen"),
            F.expr("min_by(lang, doc_id)").alias("first_model"),
            F.countDistinct("lang").alias("n_models"),
        )
        .orderBy("source")
    )


def q_er_labels(spark, sf):
    """The ER pipeline's post-filter label table (resolve()'s labels
    stage, normalized_labels_from_arrays over the per-turn mention arrays:
    alias join -> distinct conv/label -> min-sessions >= 2 -> block key),
    joined to the A4 blocking metrics (per-block label count and pair
    count, blocking.block_metrics — absorbs the former er_block_metrics
    driver row). Fully SQL-expressible on this corpus (plain lowercase
    alpha tokens, so the L2 pandas filter reduces to a no-op — same
    justification as _mentions_cte)."""
    from session_graph_spark.plans.pipeline import (
        alias_df, mention_arrays_from_turns, normalized_labels_from_arrays,
        prepare_turns)
    from session_graph_spark.sources.testdata import documents_as_turns

    from session_graph_spark.operators.blocking import block_metrics

    turns = prepare_turns(documents_as_turns(spark, sf))
    lab = normalized_labels_from_arrays(mention_arrays_from_turns(turns),
                                        alias_df(spark))
    bm = block_metrics(lab).select(
        "block_key",
        F.col("n_labels").alias("n_labels_in_block"),
        F.col("n_pairs").alias("n_pairs_in_block"),
    )
    return (
        lab.select("canon_label", "n_sessions", "block_key")
        .join(bm, "block_key")
        .select("canon_label", "n_sessions", "block_key",
                "n_labels_in_block", "n_pairs_in_block")
        .orderBy("canon_label")
    )


def q_er_edges_exact(spark, sf):
    """The ER pipeline's deterministic identity channel (alias edges +
    slug-equality pairs, reference common.py:29-37) — the SQL-expressible
    part of edge generation, leaving only the typo/LSH scoring channel
    unoracled. On this corpus the alias channel carries traffic
    ('spark' -> 'apache spark'); slug collisions are pytest-covered."""
    from session_graph_spark.operators.blocking import exact_edges
    from session_graph_spark.plans.pipeline import (alias_df, mentions_from_turns,
                                                    prepare_turns)
    from session_graph_spark.sources.testdata import documents_as_turns

    turns = prepare_turns(documents_as_turns(spark, sf))
    m = mentions_from_turns(turns)
    return exact_edges(m, alias_df(spark)).orderBy("channel", "label_a", "label_b")


def q_minhash_dedup_pairs(spark, sf):
    """MinHash-LSH near-dup pairs verified by EXACT word-3-shingle
    Jaccard >= 0.8 (oracle = all-pairs exact Jaccard in DuckDB; LSH must
    achieve full recall at this threshold)."""
    from session_graph_spark.operators.dedup import minhash_dedup_pairs

    return minhash_dedup_pairs(_docs(spark, sf), threshold=0.8).orderBy("id_a", "id_b")


def q_simhash_dedup(spark, sf):
    """SimHash near-dup candidate pairs within Hamming distance 3 (4x16-bit
    band blocking, pigeonhole-complete). The word hash is md5-lower-64 —
    the exact value DuckDB's md5_number_lower() computes — so the whole
    operator (hash, bit votes, bands, cap, Hamming filter) is mirrored
    value-for-value in the oracle."""
    from session_graph_spark.operators.dedup import simhash_dedup

    return simhash_dedup(_docs(spark, sf), max_hamming=3).orderBy("id_a", "id_b")


def q_embedding_neardup(spark, sf):
    """Embedding cosine near-dup pairs via seeded hyperplane-LSH blocking
    (dedup.embedding_dedup). The testdata embeddings are random vectors
    (max pairwise cosine ~0.51 — planted-duplicate recall is covered in
    pytest), so this exercises the bucket/cap/threshold machinery at
    threshold 0.2 with 4 planes; the seeded planes are constants, making
    the approximate search fully SQL-expressible (same claim as
    ann_lsh_topk)."""
    from session_graph_spark.operators.dedup import embedding_dedup

    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    return embedding_dedup(e, threshold=0.2, n_planes=4).orderBy("id_a", "id_b")


def q_er_incremental(spark, sf):
    """Incremental-processing surface as one driver query (SURVEY §2.9
    ST1/ST3/P12/ST5 — absorbs the former er_incremental_update row): run
    IncrementalRunner three times over documents-derived turns. Batch 1
    processes everything; batch 2 re-presents identical turns and must
    watermark-skip (exactly-once effect: an idempotent no-op); batch 3
    re-presents the turns with ONE conversation's texts modified (suffix
    appended to the lexicographically-first source) and must re-process
    exactly that conversation (content hash changed) and MERGE — replace
    its old rows, keep everyone else's. The oracle recomputes the final
    assignment one-shot in SQL over the POST-UPDATE corpus
    (min_sessions=1, the incremental contract) with both behavior pins
    (second_batch_rows=0, reprocessed_convs=1) folded in as columns."""
    import shutil
    import tempfile

    from session_graph_spark.sources.testdata import documents_as_turns
    from session_graph_spark.streaming.incremental import IncrementalRunner

    state = tempfile.mkdtemp(prefix="er_inc_state_")
    try:
        turns = documents_as_turns(spark, sf)
        first_src = turns.agg(F.min("conv_id")).collect()[0][0]
        changed = turns.withColumn(
            "text",
            F.when(F.col("conv_id") == first_src,
                   F.concat(F.col("text"), F.lit(" changedtoken changedtoken")))
            .otherwise(F.col("text")),
        )
        runner = IncrementalRunner(spark, state)
        runner.run(turns)
        second = runner.run(turns)  # watermark skip: must be empty
        n_second = second.count()
        third = runner.run(changed)  # late-update merge: exactly 1 conv
        n_third_convs = third.select("conv_id").distinct().count()
        final = (
            runner.clusters()
            # fold the skip/merge evidence into the oracled output: any
            # row from a non-empty second batch or a wrong batch-3 scope
            # breaks the value hash
            .withColumn("second_batch_rows", F.lit(n_second))
            .withColumn("reprocessed_convs", F.lit(n_third_convs))
            .orderBy("conv_id", "canon_label", "cluster_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(state, ignore_errors=True)
    return final


def q_claude_jsonl_scan(spark, sf):
    """The S1 ingestion path driven through the oracle gate: a
    deterministic Claude-Code-style JSONL fixture is synthesized from the
    documents table (one message per doc row: content blocks, tool_use
    blocks on every 5th doc, assistant model provenance, monotone
    timestamps), ingested with the REAL reader
    (sources/readers.py:read_claude_code_jsonl — content-block
    projection, tool extraction, ts parse, per-conversation turn
    ordering), and the resulting turns are oracled against SQL that
    recomputes the same projection straight from documents.
    source_file is excluded (it carries the tmp fixture path)."""
    import hashlib as _hl
    import json
    import os

    from session_graph_spark.sources.readers import read_claude_code_jsonl

    fx_dir = "/tmp/spark_graft_fixtures"
    os.makedirs(fx_dir, exist_ok=True)
    path = os.path.join(
        fx_dir, f"claude_{_hl.md5(sf.encode()).hexdigest()[:10]}.jsonl"
    )
    rows = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "source", "text", "lang")
        .orderBy("doc_id")
        .collect()
    )
    rank: dict[str, int] = {}
    with open(path, "w") as f:
        for r in rows:
            i = rank.get(r["source"], 0)
            rank[r["source"]] = i + 1
            role = "user" if i % 2 == 0 else "assistant"
            blocks = [{"type": "text", "text": r["text"]}]
            if r["doc_id"] % 5 == 0:
                blocks.append({"type": "tool_use",
                               "name": f"tool-{r['doc_id'] % 3}",
                               "id": f"tu{r['doc_id']}"})
            base = __import__("datetime").datetime(2024, 1, 1)
            ts = base + __import__("datetime").timedelta(seconds=int(r["doc_id"]))
            msg = {"content": blocks}
            if role == "assistant":
                msg["model"] = f"m-{r['lang']}"
            f.write(json.dumps({
                "type": role,
                "uuid": f"u{int(r['doc_id']):08d}",
                "parentUuid": None,
                "timestamp": ts.strftime("%Y-%m-%d %H:%M:%S"),
                "sessionId": r["source"],
                "message": msg,
            }) + "\n")
    return (
        read_claude_code_jsonl(spark, path)
        .drop("source_file")
        .orderBy("conv_id", "turn_idx")
    )


def q_warp_sqlite_scan(spark, sf):
    """The S4 ingestion path driven through the oracle gate: a SQLite
    ai_queries database is synthesized from documents (one exchange per
    doc row, Warp's input-JSON Query shape, monotone start_ts), ingested
    with the REAL chunked reader (readers.py:read_warp_sqlite -> warp_turns:
    JSON Query-text projection, substantive-exchange conversation filter,
    turn ordering). chunk_rows=200 forces the multi-chunk path. Oracle =
    SQL recomputation from documents (conversations keep all exchanges
    when >= 5 of them have > 30 chars of query text)."""
    import hashlib as _hl
    import os
    import sqlite3

    from session_graph_spark.sources.readers import read_warp_sqlite

    fx_dir = "/tmp/spark_graft_fixtures"
    os.makedirs(fx_dir, exist_ok=True)
    path = os.path.join(
        fx_dir, f"warp_{_hl.md5(sf.encode()).hexdigest()[:10]}.sqlite"
    )
    if os.path.exists(path):
        os.remove(path)
    rows = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "source", "text")
        .orderBy("doc_id")
        .collect()
    )
    conn = sqlite3.connect(path)
    try:
        conn.execute(
            "CREATE TABLE ai_queries (exchange_id TEXT, conversation_id TEXT,"
            " start_ts TEXT, input TEXT, working_directory TEXT,"
            " output_status TEXT, model_id TEXT)"
        )
        import datetime as _dt
        import json
        base = _dt.datetime(2024, 1, 1)
        conn.executemany(
            "INSERT INTO ai_queries VALUES (?, ?, ?, ?, ?, ?, ?)",
            [(
                f"e{int(r['doc_id'])}",
                r["source"],
                (base + _dt.timedelta(seconds=int(r["doc_id"])))
                .strftime("%Y-%m-%d %H:%M:%S"),
                json.dumps([{"Query": {"text": r["text"]}}]),
                "/workdir",
                "done",
                "warp-model-1",
            ) for r in rows],
        )
        conn.commit()
    finally:
        conn.close()
    return read_warp_sqlite(spark, path, chunk_rows=200).orderBy(
        "conv_id", "turn_idx"
    )


def q_deepseek_zip_scan(spark, sf):
    """The S2+S5 ingestion path driven through the oracle gate: a
    DeepSeek-style export (.zip of pretty-printed conversations.json) is
    synthesized from documents as a genuinely FORKED tree — each
    conversation's root has two children (trunk = first half of its
    docs, branch = second half) and timestamps run BACKWARDS, so only a
    true preorder DFS (readers.py:_walk_deepseek_mapping) reproduces doc
    order; a timestamp sort would reverse it. Fragment-join semantics are
    exercised too (assistant nodes carry RESPONSE + THINK fragments).
    Oracle = SQL recomputation from documents. source_file is excluded
    (tmp path)."""
    import datetime as _dt
    import hashlib as _hl
    import json
    import os
    import zipfile

    from session_graph_spark.sources.readers import read_deepseek_json

    fx_dir = "/tmp/spark_graft_fixtures"
    os.makedirs(fx_dir, exist_ok=True)
    path = os.path.join(
        fx_dir, f"deepseek_{_hl.md5(sf.encode()).hexdigest()[:10]}.zip"
    )
    rows = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "source", "text")
        .orderBy("doc_id")
        .collect()
    )
    by_conv: dict[str, list] = {}
    for r in rows:
        by_conv.setdefault(r["source"], []).append(r)
    base = _dt.datetime(2024, 1, 1)
    convs = []
    for source, docs in sorted(by_conv.items()):
        m = len(docs)
        k = (m + 1) // 2  # trunk length; branch forks off the root
        mn, mx = int(docs[0]["doc_id"]), int(docs[-1]["doc_id"])
        key = lambda j: "root" if j == 0 else f"n{int(docs[j]['doc_id'])}"
        mapping = {}
        for j, d in enumerate(docs):
            children = []
            if j == 0:
                if k > 1:
                    children.append(key(1))
                if m > k:
                    children.append(key(k))
            elif j < k - 1 or (k <= j < m - 1):
                children.append(key(j + 1))
            ts = base + _dt.timedelta(seconds=mx - (int(d["doc_id"]) - mn))
            if j % 2 == 0:
                frags = [{"type": "REQUEST", "content": d["text"]}]
            else:
                frags = [
                    {"type": "RESPONSE", "content": d["text"]},
                    {"type": "THINK", "content": f"think-{int(d['doc_id'])}"},
                ]
            mapping[key(j)] = {
                "parent": None if j == 0 else "unused",
                "message": {"fragments": frags,
                            "inserted_at": ts.strftime("%Y-%m-%d %H:%M:%S")},
                "children": children,
            }
        convs.append({"id": source, "mapping": mapping})
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("conversations.json", json.dumps(convs, indent=1))
    return (
        read_deepseek_json(spark, path)
        .drop("source_file")
        .orderBy("conv_id", "turn_idx")
    )


def q_grok_json_scan(spark, sf):
    """The S3 ingestion path driven through the oracle gate: a Grok
    Mongo-export fixture (conversations -> responses with $oid/$date/
    $numberLong wrappers) synthesized from documents, ingested with the
    REAL reader (readers.py:read_grok_json — whole-file read, JVM
    from_json, human->user mapping, epoch-millis timestamps). All
    responses in a conversation share one timestamp, so turn order is
    decided by the array-position tie-break (resp_ord) — a reader that
    dropped it would fail the hash. Oracle = SQL from documents;
    source_file excluded (tmp path)."""
    import hashlib as _hl
    import json
    import os

    from session_graph_spark.sources.readers import read_grok_json

    fx_dir = "/tmp/spark_graft_fixtures"
    os.makedirs(fx_dir, exist_ok=True)
    path = os.path.join(
        fx_dir, f"grok_{_hl.md5(sf.encode()).hexdigest()[:10]}.json"
    )
    rows = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "source", "text")
        .orderBy("doc_id")
        .collect()
    )
    by_conv: dict[str, list] = {}
    for r in rows:
        by_conv.setdefault(r["source"], []).append(r)
    convs = []
    for source, docs in sorted(by_conv.items()):
        mn = int(docs[0]["doc_id"])
        ms = 1700000000000 + mn * 1000  # one shared ts per conversation
        convs.append({
            "conversation": {"_id": {"$oid": source}},
            "responses": [{
                "response": {
                    "sender": "human" if j % 2 == 0 else "grok",
                    "message": d["text"],
                    "create_time": {"$date": {"$numberLong": str(ms)}},
                }
            } for j, d in enumerate(docs)],
        })
    with open(path, "w") as f:
        json.dump({"conversations": convs}, f, indent=1)
    # member_suffix match requires the canonical export filename; rename
    final = os.path.join(os.path.dirname(path),
                         f"grok_{_hl.md5(sf.encode()).hexdigest()[:10]}",
                         "prod-grok-backend.json")
    os.makedirs(os.path.dirname(final), exist_ok=True)
    os.replace(path, final)
    return (
        read_grok_json(spark, final)
        .drop("source_file")
        .orderBy("conv_id", "turn_idx")
    )


def q_turtle_roundtrip(spark, sf):
    """The S7 Turtle sink driven through the oracle gate: reified triples
    from the documents token-triple table are serialized with the REAL
    sink (sinks.py:write_turtle — JVM column formatter, prefix header,
    direct + reified statement per triple), the .ttl directory is read
    back as text, and the parsed statements are aggregated per predicate.
    Parity with the SQL recomputation proves each triple produced exactly
    one direct and one reified statement with the right slugs."""
    import hashlib as _hl
    import os
    import shutil

    from session_graph_spark.sources.sinks import write_turtle

    t = _doc_triples(spark, sf)
    reified = t.select(
        F.md5(F.concat_ws("|", "doc_id", "subject", "predicate", "object"))
        .alias("triple_id"),
        "subject", "predicate", "object",
        F.col("doc_id").cast("string").alias("conv_id"),
    )
    path = os.path.join(
        "/tmp/spark_graft_fixtures",
        f"ttl_{_hl.md5(sf.encode()).hexdigest()[:10]}",
    )
    shutil.rmtree(path, ignore_errors=True)
    write_turtle(reified, path)
    lines = spark.read.text(path)
    direct_re = r"^data:entity/([^ ]+) devkg:([^ ]+) data:entity/([^ ]+) \.$"
    direct = lines.where(F.col("value").rlike(direct_re)).select(
        F.regexp_extract("value", direct_re, 2).alias("predicate"),
        F.regexp_extract("value", direct_re, 1).alias("subject_slug"),
    )
    reif = lines.where(F.col("value").startswith("data:triple/")).select(
        F.regexp_extract("value", r"rdf:predicate devkg:([^ ]+) ;", 1)
        .alias("predicate"),
    )
    agg_d = direct.groupBy("predicate").agg(
        F.count("*").alias("n_direct"),
        F.countDistinct("subject_slug").alias("n_subjects"),
    )
    agg_r = reif.groupBy("predicate").agg(F.count("*").alias("n_reified"))
    return agg_d.join(agg_r, "predicate").orderBy("predicate")


def q_tool_events_scan(spark, sf):
    """The J3 ToolCall -> ToolResult provenance join driven through the
    oracle gate (readers.py:claude_tool_events — VariantType accessors
    over the union-typed tool_result content). The fixture exercises all
    three result shapes: list-of-text-blocks (joined with spaces), plain
    string, and missing result (left join -> nulls, every 7th call)."""
    import datetime as _dt
    import hashlib as _hl
    import json
    import os

    from session_graph_spark.sources.readers import claude_tool_events

    fx_dir = "/tmp/spark_graft_fixtures"
    os.makedirs(fx_dir, exist_ok=True)
    path = os.path.join(
        fx_dir, f"tools_{_hl.md5(sf.encode()).hexdigest()[:10]}.jsonl"
    )
    rows = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "source", "text")
        .orderBy("doc_id")
        .collect()
    )
    base = _dt.datetime(2024, 1, 1)
    with open(path, "w") as f:
        for r in rows:
            i = int(r["doc_id"])
            ts = (base + _dt.timedelta(seconds=i)).strftime("%Y-%m-%d %H:%M:%S")
            f.write(json.dumps({
                "type": "assistant", "sessionId": r["source"], "timestamp": ts,
                "message": {"content": [{
                    "type": "tool_use", "id": f"tu{i}",
                    "name": f"tool-{i % 3}", "input": r["text"][:50],
                }]},
            }) + "\n")
            if i % 7 == 0:
                continue  # missing result -> left-join nulls
            ts2 = (base + _dt.timedelta(seconds=i + 1)).strftime("%Y-%m-%d %H:%M:%S")
            content = (
                [{"type": "text", "text": f"ok-{i}"},
                 {"type": "text", "text": "done"}]
                if i % 2 == 0 else f"res-{i}"
            )
            f.write(json.dumps({
                "type": "user", "sessionId": r["source"], "timestamp": ts2,
                "message": {"content": [{
                    "type": "tool_result", "tool_use_id": f"tu{i}",
                    "content": content,
                }]},
            }) + "\n")
    return (
        claude_tool_events(spark, path)
        .drop("source_file")
        .orderBy("tool_use_id")
    )


def q_message_parents_scan(spark, sf):
    """The J1 message -> parent self-join driven through the oracle gate
    (readers.py:claude_message_parents): a per-conversation parentUuid
    chain synthesized from documents (first message per source is a root
    with null parent), ingested by the real reader, each message joined
    to its parent's role and timestamp."""
    import datetime as _dt
    import hashlib as _hl
    import json
    import os

    from session_graph_spark.sources.readers import claude_message_parents

    fx_dir = "/tmp/spark_graft_fixtures"
    os.makedirs(fx_dir, exist_ok=True)
    path = os.path.join(
        fx_dir, f"parents_{_hl.md5(sf.encode()).hexdigest()[:10]}.jsonl"
    )
    rows = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "source", "text")
        .orderBy("doc_id")
        .collect()
    )
    base = _dt.datetime(2024, 1, 1)
    prev: dict[str, int] = {}
    with open(path, "w") as f:
        for r in rows:
            i = int(r["doc_id"])
            parent = prev.get(r["source"])
            f.write(json.dumps({
                "type": "user" if i % 2 == 0 else "assistant",
                "uuid": f"u{i:08d}",
                "parentUuid": None if parent is None else f"u{parent:08d}",
                "timestamp": (base + _dt.timedelta(seconds=i))
                .strftime("%Y-%m-%d %H:%M:%S"),
                "sessionId": r["source"],
                "message": {"content": [{"type": "text", "text": r["text"]}]},
            }) + "\n")
            prev[r["source"]] = i
    return (
        claude_message_parents(spark, path)
        .orderBy("uuid")
    )


def q_pair_scores_cached(spark, sf):
    """P13/J4 cache-hit split + the Arrow scoring kernel, oracled on
    VALUES (er_clusters only oracles the >= 0.7 decisions): all pairs of
    the er_labels stage are scored through operators/scoring.score_pairs
    with a pre-seeded decisions cache — every pair whose combined label
    length is divisible by 3 carries sentinel score 0.424242. Cached
    pairs must short-circuit (sentinel survives verbatim), fresh pairs
    must match the DuckDB kernel bit-for-bit before rounding."""
    from session_graph_spark.operators.scoring import score_pairs
    from session_graph_spark.plans.pipeline import (
        alias_df, mention_arrays_from_turns, normalized_labels_from_arrays,
        prepare_turns)
    from session_graph_spark.sources.testdata import documents_as_turns

    m = mention_arrays_from_turns(prepare_turns(documents_as_turns(spark, sf)))
    lab = normalized_labels_from_arrays(m, alias_df(spark)).select("canon_label")
    a = lab.select(F.col("canon_label").alias("label_a"))
    b = lab.select(F.col("canon_label").alias("label_b"))
    pairs = a.crossJoin(b).where(F.col("label_a") < F.col("label_b"))
    cache = pairs.where(
        (F.length("label_a") + F.length("label_b")) % 3 == 0
    ).withColumn("score", F.lit(0.424242))
    scored = score_pairs(pairs, decisions=cache)
    return scored.select(
        "label_a", "label_b",
        (F.floor(F.col("score") * 1e6 + F.lit(0.5)) / 1e6).alias("score"),
    ).orderBy("label_a", "label_b")


def q_serving_table_sink(spark, sf):
    """The S8 serving-table sink driven through the oracle gate: two
    appends (documents split by doc_id parity) into a fresh serving
    table via sinks.write_serving_table, whose delta-file verify returns
    the per-append row count; the final table is re-read and counted.
    Parity proves append isolation (each verify sees only its own batch)
    and that nothing was lost or duplicated across appends."""
    import hashlib as _hl
    import os
    import shutil

    from session_graph_spark.sources.sinks import write_serving_table

    path = os.path.join(
        "/tmp/spark_graft_fixtures",
        f"serving_{_hl.md5(sf.encode()).hexdigest()[:10]}",
    )
    shutil.rmtree(path, ignore_errors=True)
    docs = _docs(spark, sf)
    n1 = write_serving_table(docs.where(F.col("doc_id") % 2 == 0), path)
    n2 = write_serving_table(docs.where(F.col("doc_id") % 2 == 1), path)
    final = spark.read.parquet(path).count()
    return spark.createDataFrame(
        [(int(n1), int(n2), int(final))],
        "appended_even long, appended_odd long, final_rows long",
    )


def q_er_resume(spark, sf):
    """The S9/J6 checkpoint-resume path driven through the oracle gate:
    resolve() runs twice against the same StageStore directory; the
    second run must reuse EVERY stage (manifest.json byte-identical — any
    recompute rewrites it with a new wall_sec), and the resumed clusters
    must equal the full-batch SQL recomputation. stages_reused=1 pins
    the reuse; the cluster rows pin that resume returned the same
    answer."""
    import hashlib as _hl
    import os
    import shutil

    from session_graph_spark.plans.pipeline import resolve
    from session_graph_spark.sources.testdata import documents_as_turns

    state = os.path.join(
        "/tmp/spark_graft_fixtures",
        f"ckpt_{_hl.md5(sf.encode()).hexdigest()[:10]}",
    )
    shutil.rmtree(state, ignore_errors=True)
    turns = documents_as_turns(spark, sf)
    resolve(spark, turns, checkpoint_dir=state).clusters.count()
    with open(os.path.join(state, "manifest.json")) as f:
        mf1 = f.read()
    res2 = resolve(spark, turns, checkpoint_dir=state)
    clusters = res2.clusters.localCheckpoint(eager=True)
    with open(os.path.join(state, "manifest.json")) as f:
        mf2 = f.read()
    return (
        clusters.withColumn("stages_reused", F.lit(1 if mf1 == mf2 else 0))
        .orderBy("label")
    )


_STREAM_QUERY_SEQ = [0]


def q_streaming_state(spark, sf):
    """The ST6 custom stateful operator driven through the oracle gate:
    documents-derived turns are replayed as a real file STREAM
    (readStream + Trigger.AvailableNow) into
    streaming/stateful.streaming_conversation_state
    (applyInPandasWithState, update mode), and the per-conversation
    running summaries landing in the memory sink are reduced to their
    final values (counts are monotone, so max = final). A 10-minute idle
    timeout keeps conversations open for the whole drain, so the oracle
    is the plain per-conversation aggregate."""
    import hashlib as _hl
    import os
    import shutil

    from session_graph_spark.sources.testdata import documents_as_turns
    from session_graph_spark.streaming.stateful import (
        streaming_conversation_state,
    )

    h = _hl.md5(sf.encode()).hexdigest()[:10]
    src_dir = os.path.join("/tmp/spark_graft_fixtures", f"stream_src_{h}")
    ckpt_dir = os.path.join("/tmp/spark_graft_fixtures", f"stream_ckpt_{h}")
    shutil.rmtree(src_dir, ignore_errors=True)
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    # ts travels as a STRING: a timestamp column through the Arrow state
    # channel crashes the Python worker on this Spark build
    turns = documents_as_turns(spark, sf).select(
        "conv_id", "text", F.col("ts").cast("string").alias("ts")
    )
    turns.coalesce(1).write.mode("overwrite").parquet(src_dir)

    stream = spark.readStream.schema(
        "conv_id string, text string, ts string"
    ).parquet(src_dir)
    out = streaming_conversation_state(stream, idle_timeout_ms=600_000)
    _STREAM_QUERY_SEQ[0] += 1
    qname = f"stream_state_{h}_{_STREAM_QUERY_SEQ[0]}"
    n_convs = turns.select("conv_id").distinct().count()
    query = (
        out.writeStream.format("memory").queryName(qname)
        .option("checkpointLocation", ckpt_dir)
        .outputMode("update").trigger(availableNow=True).start()
    )
    # applyInPandasWithState + AvailableNow can idle on the processing-
    # time timeout tick after draining, so poll the sink for completeness
    # (every conversation emits its progress row in the batch it appears)
    # instead of blocking on termination
    import time as _time

    deadline = _time.time() + 180
    while _time.time() < deadline:
        try:
            if spark.table(qname).select("conv_id").distinct().count() >= n_convs:
                break
        except Exception:  # noqa: BLE001 - sink table not registered yet
            pass
        if not query.isActive:
            break
        _time.sleep(2)
    query.stop()
    res = (
        spark.table(qname)
        .where(~F.col("closed"))
        .groupBy("conv_id")
        .agg(F.max("n_turns").alias("n_turns"),
             F.max("n_chars").alias("n_chars"),
             F.max("last_ts").alias("last_ts"))
        .orderBy("conv_id")
        .localCheckpoint(eager=True)
    )
    return res


def q_kb_linking_cached(spark, sf):
    """The KB decision cache driven through the oracle gate (reference
    link_entities.py:308-311 negative/positive caching): link_to_kb runs
    with a pre-seeded cache carrying sentinel decisions for every label
    whose length is divisible by 4 — cached labels must skip the join
    and return the sentinel verbatim; the rest take the normal ladder."""
    from session_graph_spark.operators.linking import kb_df, link_to_kb

    labels = _tokens(spark, sf).select(
        F.lower(F.trim(F.col("token"))).alias("label")
    ).distinct()
    cache = labels.where(F.length("label") % 4 == 0).select(
        "label",
        F.lit("kb:cached").alias("kb_id"),
        F.lit("cached").alias("kb_label"),
        F.lit("cached-desc").alias("description"),
        F.lit(0.99).alias("confidence"),
        F.lit(True).alias("linked"),
    )
    out = link_to_kb(labels, kb_df(spark), cache=cache)
    return out.select(
        "label", "kb_id", F.round("confidence", 2).alias("confidence"), "linked"
    ).orderBy("label")


def q_session_overlap(spark, sf):
    """A9 / template 11: conversation pairs sharing > 2 entity clusters,
    over the full ER pipeline's mention-cluster assignment."""
    from session_graph_spark.plans.pipeline import resolve
    from session_graph_spark.queries import cross_session_overlap
    from session_graph_spark.sources.testdata import documents_as_turns

    res = resolve(spark, documents_as_turns(spark, sf))
    return cross_session_overlap(res.mention_clusters)


def q_media_features(spark, sf):
    """Multimodal decode + plumbing exercised on driver data (round 4:
    the decode step is REAL, not stubbed): image rows carry actual
    24-bpp BMP bytes and audio rows actual PCM WAV bytes — dimensions,
    fill value, sample count, and amplitude all derived from doc_id — so
    the native decoders (operators/multimodal.py:decode_image /
    decode_audio) must parse real binary formats to produce width/
    height/mean_pixel and n_samples/sample_rate/duration_ms/rms, which
    the oracle recomputes ARITHMETICALLY from doc_id (including the
    exact BMP file size with its 4-byte row padding). Video rows carry
    real YUV4MPEG2 streams (round 5): per-frame constant luma fill
    derived from doc_id and frame index, so the y4m parser
    (operators/multimodal.py:decode_video) must walk the plain-text
    header and FRAME markers to produce per-sampled-frame width/height/
    mean_pixel plus duration_ms — all of which, and the exact container
    byte size (header + per-frame FRAME marker + Y plane + C420 chroma),
    the oracle recomputes from doc_id."""
    import numpy as np

    from session_graph_spark.operators.multimodal import (encode_bmp,
                                                          encode_wav,
                                                          encode_y4m,
                                                          extract_features)

    d = _docs(spark, sf).select("doc_id", "text")

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                did = int(r.doc_id)
                k = did % 3
                if k == 0:
                    w, h, v = did % 7 + 1, did % 5 + 1, did % 256
                    media = encode_bmp(np.full((h, w, 3), v, dtype=np.uint8))
                    kind = "image"
                elif k == 1:
                    n, a = did % 50 + 1, did % 1000
                    media = encode_wav(np.full(n, a, dtype=np.int16), 8000)
                    kind = "audio"
                else:
                    vw, vh = 2 * (did % 5 + 1), 2 * (did % 4 + 1)
                    nf = did % 6 + 1
                    media = encode_y4m(np.stack([
                        np.full((vh, vw), (did + 13 * j) % 256, dtype=np.uint8)
                        for j in range(nf)
                    ]))
                    kind = "video"
                out.append((did, kind, bytearray(media)))
            yield pd.DataFrame(out, columns=["asset_id", "kind", "media"])

    assets = d.mapInPandas(synth, "asset_id long, kind string, media binary")
    return (
        extract_features(assets)
        .select(
            "asset_id", "kind", "n_bytes",
            "frame_idx", "width", "height", "mean_pixel",
            "n_samples", "sample_rate", "duration_ms", "rms",
        )
        .orderBy("asset_id", "frame_idx")
    )


# --- rows-only (non-SQL-expressible: pandas-UDF extraction, LSH, iterative CC)
def q_er_clusters(spark, sf):
    """Full ER pipeline over turns derived from documents; returns the
    (label, cluster_id) assignment."""
    from session_graph_spark.plans.pipeline import resolve
    from session_graph_spark.sources.testdata import documents_as_turns

    res = resolve(spark, documents_as_turns(spark, sf))
    return res.clusters.orderBy("label")


def q_er_mentions(spark, sf):
    """Deterministic mention extraction (F1 + L1 filter + cap 10/turn)."""
    from session_graph_spark.plans.pipeline import mentions_from_turns, prepare_turns
    from session_graph_spark.sources.testdata import documents_as_turns

    m = mentions_from_turns(prepare_turns(documents_as_turns(spark, sf)))
    return m.select("conv_id", "turn_idx", "norm_label", "pos").orderBy(
        "conv_id", "turn_idx", "pos"
    )


def q_kb_federation(spark, sf):
    """All 6 federated SERVICE templates (reference devkg-sparql
    SKILL.md W1-W6; README.md:311-324) as ONE composite row — the
    round-4 merge convention (text_features-style): each template's
    output is coerced to (template, label, detail_1..detail_4) and
    unioned. The 'remote endpoint' is the offline deterministic snapshot
    in operators/federation.py — the production shape for federation at
    cluster scale (broadcast dim join, not per-row HTTP). Column map:
      w1_properties:     d1=prop_label,  d2=value_label
      w2_peers:          d1=class_label, d2=peer_label, d3=peer_description
      w3_disambiguation: d1=remote_label, d2=description
      w4_categories:     d1=class_label, d2=ancestor_label, d3=depth
      w5_bridge:         label=label_x, d1=label_y, d2=hop1_prop,
                         d3=mid_label, d4=hop2_prop
      w6_batch_enrich:   d1=qid, d2=class_label
    """
    from session_graph_spark.operators import federation as FD

    r = FD.remote_dfs(spark)
    linked = FD.same_as(
        _tokens(spark, sf).select(F.col("token").alias("label")),
        r["entities"])

    def coerce(df, template, cols):
        sel = [F.lit(template).alias("template"),
               F.col(cols[0]).alias("label")]
        for i, c in enumerate(cols[1:], start=1):
            sel.append((F.col(c).cast("string") if c else
                        F.lit(None).cast("string")).alias(f"detail_{i}"))
        for i in range(len(cols), 5):
            sel.append(F.lit(None).cast("string").alias(f"detail_{i}"))
        return df.select(*sel)

    parts = [
        coerce(FD.fed_properties(linked, r), "w1_properties",
               ["label", "prop_label", "value_label"]),
        coerce(FD.fed_peers(linked, r), "w2_peers",
               ["label", "class_label", "peer_label", "peer_description"]),
        coerce(FD.fed_disambiguation(linked, r), "w3_disambiguation",
               ["label", "remote_label", "description"]),
        coerce(FD.fed_categories(linked, r), "w4_categories",
               ["label", "class_label", "ancestor_label", "depth"]),
        coerce(FD.fed_bridge(linked, r), "w5_bridge",
               ["label_x", "label_y", "hop1_prop", "mid_label", "hop2_prop"]),
        coerce(FD.fed_batch_enrich(linked, r), "w6_batch_enrich",
               ["label", "qid", "class_label"]),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("template", "label", "detail_1", "detail_2",
                       "detail_3", "detail_4")


def _fed_dim_sql() -> str:
    """The federation snapshot inlined as VALUES CTEs, plus the P279*
    closure derived INDEPENDENTLY via WITH RECURSIVE (so a bug in the
    Spark-side precomputed closure is caught, not mirrored). Shares the
    deterministic literals with operators/federation.py."""
    from session_graph_spark.operators import federation as FD

    ents = ",\n          ".join(
        f"('{q}', '{l}', '{d}', '{c}')" for q, l, d, c in FD.REMOTE_ENTITIES)
    claims = ",\n          ".join(
        [f"('{s}', '{p}', '{o}')" for s, p, o in FD.REMOTE_CLAIMS]
        + [f"('{q}', 'P31', '{c}')" for q, _, _, c in FD.REMOTE_ENTITIES])
    classes = ",\n          ".join(
        f"('{q}', '{l}', " + (f"'{p}'" if p else "NULL") + ")"
        for q, l, p in FD.REMOTE_CLASSES)
    props = ", ".join(f"('{p}', '{l}')" for p, l in FD.PROP_LABELS)
    return f"""rent(qid, rlabel, description, class_qid) AS MATERIALIZED (VALUES
          {ents}),
        rclaims(s_qid, prop, o_qid) AS MATERIALIZED (VALUES
          {claims}),
        rclasses(class_qid, class_label, parent_qid) AS MATERIALIZED (VALUES
          {classes}),
        rprops(prop, prop_label) AS (VALUES {props}),
        rclosure AS (
          SELECT class_qid, class_qid AS ancestor_qid, 0 AS depth
          FROM rclasses
          UNION ALL
          SELECT c.class_qid, k.parent_qid, c.depth + 1
          FROM rclosure c JOIN rclasses k ON c.ancestor_qid = k.class_qid
          WHERE k.parent_qid IS NOT NULL),
        rvals(o_qid, value_label) AS (
          SELECT qid, rlabel FROM rent
          UNION ALL SELECT class_qid, class_label FROM rclasses),
        linked AS (
          SELECT DISTINCT lower(trim(token)) AS label, e.qid, e.class_qid
          FROM {_TOK_SQL} t JOIN rent e ON lower(trim(t.token)) = e.rlabel)"""


def _kb_federation_oracle() -> str:
    """DuckDB mirror of q_kb_federation: the same six templates over the
    inlined snapshot, unioned with the same template tags and
    detail-column coercion."""
    return f"""
        WITH RECURSIVE {_fed_dim_sql()},
        w1 AS (
          SELECT 'w1_properties' AS template, label,
                 prop_label AS detail_1, value_label AS detail_2,
                 NULL AS detail_3, NULL AS detail_4
          FROM (SELECT l.label, p.prop_label, v.value_label,
                       row_number() OVER (PARTITION BY l.qid
                         ORDER BY p.prop_label, v.value_label) AS rk
                FROM linked l
                JOIN rclaims c ON l.qid = c.s_qid
                JOIN rprops p ON c.prop = p.prop
                JOIN rvals v ON c.o_qid = v.o_qid)
          WHERE rk <= 30),
        w2 AS (
          SELECT 'w2_peers', label, class_label, peer_label, peer_description,
                 NULL
          FROM (SELECT l.label, k.class_label, e.rlabel AS peer_label,
                       e.description AS peer_description,
                       row_number() OVER (PARTITION BY l.qid
                         ORDER BY e.rlabel) AS rk
                FROM linked l
                JOIN rent e ON l.class_qid = e.class_qid
                             AND e.qid != l.qid
                JOIN rclasses k ON l.class_qid = k.class_qid)
          WHERE rk <= 20),
        w3 AS (
          SELECT 'w3_disambiguation', l.label, e.rlabel, e.description,
                 NULL, NULL
          FROM linked l JOIN rent e ON l.qid = e.qid),
        w4 AS (
          SELECT 'w4_categories', l.label, k.class_label,
                 ka.class_label, CAST(c.depth AS VARCHAR), NULL
          FROM linked l
          JOIN rclosure c ON l.class_qid = c.class_qid
          JOIN rclasses k ON c.class_qid = k.class_qid
          JOIN rclasses ka ON c.ancestor_qid = ka.class_qid),
        w5 AS (
          SELECT 'w5_bridge', label_x, label_y, hop1_prop, mid_label,
                 hop2_prop
          FROM (SELECT *, row_number() OVER (PARTITION BY label_x, label_y
                  ORDER BY (CASE WHEN mid_label IS NULL THEN 0 ELSE 1 END),
                           hop1_prop, coalesce(mid_label, ''),
                           coalesce(hop2_prop, '')) AS rk
                FROM (
                  SELECT a.label AS label_x, b.label AS label_y,
                         p.prop_label AS hop1_prop,
                         NULL AS mid_label, NULL AS hop2_prop
                  FROM linked a
                  JOIN rclaims c ON a.qid = c.s_qid AND c.prop != 'P31'
                  JOIN linked b ON c.o_qid = b.qid AND a.qid != b.qid
                  JOIN rprops p ON c.prop = p.prop
                  UNION ALL
                  SELECT a.label, b.label, p1.prop_label, m.rlabel,
                         p2.prop_label
                  FROM linked a
                  JOIN rclaims c1 ON a.qid = c1.s_qid AND c1.prop != 'P31'
                  JOIN rclaims c2 ON c1.o_qid = c2.s_qid AND c2.prop != 'P31'
                  JOIN linked b ON c2.o_qid = b.qid AND a.qid != b.qid
                  JOIN rent m ON c1.o_qid = m.qid
                  JOIN rprops p1 ON c1.prop = p1.prop
                  JOIN rprops p2 ON c2.prop = p2.prop))
          WHERE rk <= 10),
        w6 AS (
          SELECT 'w6_batch_enrich', l.label, l.qid, k.class_label,
                 NULL, NULL
          FROM linked l JOIN rclasses k ON l.class_qid = k.class_qid)
        SELECT template, label, detail_1, detail_2, detail_3, detail_4
        FROM (SELECT * FROM w1 UNION ALL SELECT * FROM w2
              UNION ALL SELECT * FROM w3 UNION ALL SELECT * FROM w4
              UNION ALL SELECT * FROM w5 UNION ALL SELECT * FROM w6)
        ORDER BY template, label, detail_1, detail_2, detail_3, detail_4"""


def _kb_dim_sql(n_generated: int = 0) -> str:
    """The gazetteer match dimension inlined as a VALUES CTE with the
    tech-keyword flag precomputed — shared by every KB oracle. With
    n_generated > 0 the dimension is the curated table UNION the
    deterministic kbgen gazetteer (generate_kb_rows(n, seed=7) — pure
    Python, so the oracle inlines the bit-identical rows Spark loads)."""
    from session_graph_spark.operators.linking import KB_ENTRIES, TECH_KEYWORDS

    if n_generated:
        from session_graph_spark import kbgen

        entries = kbgen.generate_kb_rows(n=n_generated, seed=7)
    else:
        entries = KB_ENTRIES
    rows = []
    for kb_id, label, desc, aliases in entries:
        rows.append(f"('{label}', '{kb_id}', '{desc}', false)")
        for a in aliases:
            rows.append(f"('{a}', '{kb_id}', '{desc}', true)")
    values = ",\n             ".join(rows)
    kw = " OR ".join(f"contains(lower(description), '{k}')" for k in TECH_KEYWORDS)
    # MATERIALIZED: DuckDB re-plans an inlined CTE per reference, and a
    # 50k-row VALUES expression tree costs seconds PER REFERENCE to plan
    # (the 33k-dim kb_pipeline oracle went 340s -> ~15s with this); the
    # dim is referenced 2-4 times by every KB oracle.
    return f"""dim0(match_key, kb_id, description, via_alias) AS MATERIALIZED (VALUES
             {values}),
             dim AS MATERIALIZED (SELECT *, ({kw}) AS is_tech FROM dim0)"""


def _kb_linking_oracle() -> str:
    """DuckDB mirror of link_to_kb: the gazetteer inlined as VALUES, the
    same exact-1.0 / tech-keyword-0.8 / else-0.5 ladder, threshold 0.7."""
    return f"""
        WITH q AS (SELECT DISTINCT lower(trim(token)) AS label FROM {_TOK_SQL}),
             {_kb_dim_sql()},
             cand AS (SELECT q.label, d.kb_id, d.via_alias, d.is_tech
                      FROM q LEFT JOIN dim d ON q.label = d.match_key),
             scored AS (SELECT label, kb_id,
                          (CASE WHEN kb_id IS NULL THEN 0.0
                                WHEN NOT via_alias THEN 1.0
                                WHEN is_tech THEN 0.8
                                ELSE 0.5 END)::DOUBLE AS confidence
                        FROM cand),
             best AS (SELECT label, kb_id, confidence,
                             row_number() OVER (PARTITION BY label
                                                ORDER BY confidence DESC, kb_id)
                             AS rk
                      FROM scored)
        SELECT label,
               CASE WHEN confidence >= 0.7 THEN kb_id END AS kb_id,
               round(confidence, 2) AS confidence,
               confidence >= 0.7 AS linked
        FROM best WHERE rk = 1 ORDER BY label"""


def _kb_linking_cached_oracle() -> str:
    """kb_linking ladder with the sentinel short-circuit for labels whose
    length % 4 == 0 (the pre-seeded cache)."""
    return f"""
        WITH q AS (SELECT DISTINCT lower(trim(token)) AS label FROM {_TOK_SQL}),
             {_kb_dim_sql()},
             cand AS (SELECT q.label, d.kb_id, d.via_alias, d.is_tech
                      FROM q LEFT JOIN dim d ON q.label = d.match_key),
             scored AS (SELECT label, kb_id,
                          (CASE WHEN kb_id IS NULL THEN 0.0
                                WHEN NOT via_alias THEN 1.0
                                WHEN is_tech THEN 0.8
                                ELSE 0.5 END)::DOUBLE AS confidence
                        FROM cand),
             best AS (SELECT label, kb_id, confidence,
                             row_number() OVER (PARTITION BY label
                                                ORDER BY confidence DESC, kb_id)
                             AS rk
                      FROM scored)
        SELECT label,
               CASE WHEN length(label) % 4 = 0 THEN 'kb:cached'
                    WHEN confidence >= 0.7 THEN kb_id END AS kb_id,
               CASE WHEN length(label) % 4 = 0 THEN 0.99
                    ELSE round(confidence, 2) END AS confidence,
               CASE WHEN length(label) % 4 = 0 THEN TRUE
                    ELSE confidence >= 0.7 END AS linked
        FROM best WHERE rk = 1 ORDER BY label"""


def _kb_linking_ctx_oracle() -> str:
    """DuckDB mirror of the context-aware linker: entity_context (top-5
    co-occurring tokens per label, ranked by count desc then label) feeds
    the evidence re-rank — domain agreement (+2 when the context names a
    known tech entity and the candidate is the tech sense, or both are
    non-tech) plus description-word overlap (+0..3) — between
    same-confidence candidates, before the kb_id tie-break."""
    return f"""
        WITH q AS (SELECT DISTINCT lower(trim(token)) AS label FROM {_TOK_SQL}),
             {_kb_dim_sql()},
             m AS (SELECT DISTINCT doc_id, token FROM {_TOK_SQL}),
             co AS (SELECT a.token AS label, b.token AS ctx_tok, count(*) AS n
                    FROM m a JOIN m b USING (doc_id)
                    WHERE a.token != b.token GROUP BY 1, 2),
             top AS (SELECT label, ctx_tok FROM (
                       SELECT label, ctx_tok,
                              row_number() OVER (PARTITION BY label
                                                 ORDER BY n DESC, ctx_tok) AS rk
                       FROM co) WHERE rk <= 5),
             ctxarr AS (SELECT label, list_sort(list(ctx_tok)) AS ctx
                        FROM top GROUP BY label),
             ctxflag AS (SELECT t.label, count(t.ctx_tok) AS n_ctx,
                                coalesce(bool_or(d.is_tech), false) AS any_tech
                         FROM top t LEFT JOIN dim d
                           ON lower(t.ctx_tok) = d.match_key
                         GROUP BY t.label),
             cand AS (SELECT q.label, d.kb_id, d.description, d.via_alias, d.is_tech
                      FROM q LEFT JOIN dim d ON q.label = d.match_key),
             scored AS (SELECT c.label, c.kb_id,
                          (CASE WHEN c.kb_id IS NULL THEN 0.0
                                WHEN NOT c.via_alias THEN 1.0
                                WHEN c.is_tech THEN 0.8
                                ELSE 0.5 END)::DOUBLE AS confidence,
                          (CASE WHEN f.label IS NULL OR f.n_ctx = 0 THEN 0
                                WHEN f.any_tech = c.is_tech THEN 2
                                ELSE 0 END)
                          + least(greatest(coalesce(
                              len(list_intersect(
                                string_split(lower(array_to_string(ca.ctx, ' ')), ' '),
                                string_split(lower(c.description), ' '))), 0), 0), 3)
                            AS ctx_score
                        FROM cand c
                        LEFT JOIN ctxflag f USING (label)
                        LEFT JOIN ctxarr ca USING (label)),
             best AS (SELECT label, kb_id, confidence,
                             row_number() OVER (PARTITION BY label
                                                ORDER BY confidence DESC,
                                                         ctx_score DESC, kb_id)
                             AS rk
                      FROM scored)
        SELECT label,
               CASE WHEN confidence >= 0.7 THEN kb_id END AS kb_id,
               round(confidence, 2) AS confidence,
               confidence >= 0.7 AS linked
        FROM best WHERE rk = 1 ORDER BY label"""


def _kb_pipeline_oracle() -> str:
    """DuckDB mirror of the end-to-end KB composite: the er_clusters
    score+CC chain produces cluster canonicals; per-cluster context =
    top-5 co-occurring cluster ids per (conv, turn) (entity_context
    semantics); the context-aware ladder links each canonical once;
    enrichment columns come from the KB VALUES; the three run counters
    are cross-joined onto every row."""
    return f"""
        WITH {_mentions_cte()},
        {_er_labels_cte()},
        {_score_cc_cte("er_labels")},
        {_kb_dim_sql(n_generated=KB_PIPELINE_DIM_N)},
        enrich AS (SELECT kb_id,
                          max(CASE WHEN NOT via_alias THEN match_key END)
                            AS kb_label,
                          max(CASE WHEN NOT via_alias THEN description END)
                            AS description_e,
                          coalesce(string_agg(
                              CASE WHEN via_alias THEN match_key END,
                              ',' ORDER BY match_key), '') AS aliases_csv
                   FROM dim0 GROUP BY kb_id),
        cmt AS (SELECT conv_id, turn_idx,
                       coalesce(al.canonical, mentions.norm_label) AS canon_label
                FROM mentions LEFT JOIN al ON mentions.norm_label = al.surface),
        ca AS (SELECT DISTINCT cmt.conv_id, cmt.turn_idx,
                      coalesce(grp.cluster_id, cmt.canon_label) AS cl
               FROM cmt JOIN er_labels USING (canon_label)
               LEFT JOIN grp ON cmt.canon_label = grp.label),
        clab AS (SELECT DISTINCT cl AS label FROM ca),
        co AS (SELECT a.cl AS label, b.cl AS ctx_tok, count(*) AS n
               FROM ca a JOIN ca b USING (conv_id, turn_idx)
               WHERE a.cl != b.cl GROUP BY 1, 2),
        top AS (SELECT label, ctx_tok FROM (
                  SELECT label, ctx_tok,
                         row_number() OVER (PARTITION BY label
                                            ORDER BY n DESC, ctx_tok) AS rk
                  FROM co) WHERE rk <= 5),
        ctxarr AS (SELECT label, list_sort(list(ctx_tok)) AS ctx
                   FROM top GROUP BY label),
        ctxflag AS (SELECT t.label, count(t.ctx_tok) AS n_ctx,
                           coalesce(bool_or(d.is_tech), false) AS any_tech
                    FROM top t LEFT JOIN dim d
                      ON lower(t.ctx_tok) = d.match_key
                    GROUP BY t.label),
        kcand AS (SELECT q.label, d.kb_id, d.description, d.via_alias, d.is_tech
                 FROM clab q LEFT JOIN dim d ON q.label = d.match_key),
        kscored AS (SELECT c.label, c.kb_id,
                     (CASE WHEN c.kb_id IS NULL THEN 0.0
                           WHEN NOT c.via_alias THEN 1.0
                           WHEN c.is_tech THEN 0.8
                           ELSE 0.5 END)::DOUBLE AS confidence,
                     (CASE WHEN f.label IS NULL OR f.n_ctx = 0 THEN 0
                           WHEN f.any_tech = c.is_tech THEN 2
                           ELSE 0 END)
                     + least(greatest(coalesce(
                         len(list_intersect(
                           string_split(lower(array_to_string(cx.ctx, ' ')), ' '),
                           string_split(lower(c.description), ' '))), 0), 0), 3)
                       AS ctx_score
                   FROM kcand c
                   LEFT JOIN ctxflag f USING (label)
                   LEFT JOIN ctxarr cx USING (label)),
        kbest AS (SELECT label, kb_id, confidence,
                        row_number() OVER (PARTITION BY label
                                           ORDER BY confidence DESC,
                                                    ctx_score DESC, kb_id)
                        AS rk
                 FROM kscored),
        sel AS (SELECT label, kb_id, confidence FROM kbest WHERE rk = 1),
        outp AS (SELECT s.label AS cluster_id,
                        CASE WHEN s.confidence >= 0.7 THEN s.kb_id END AS kb_id,
                        round(s.confidence, 2) AS confidence,
                        s.confidence >= 0.7 AS linked,
                        CASE WHEN s.confidence >= 0.7 THEN e.kb_label END AS kb_label,
                        CASE WHEN s.confidence >= 0.7 THEN e.description_e END
                          AS description,
                        CASE WHEN s.confidence >= 0.7 THEN e.aliases_csv END
                          AS aliases_csv
                 FROM sel s LEFT JOIN enrich e ON s.kb_id = e.kb_id),
        m2 AS (SELECT sum(CASE WHEN linked THEN 1 ELSE 0 END)::BIGINT AS n_linked,
                      sum(CASE WHEN NOT linked AND confidence > 0 THEN 1 ELSE 0
                          END)::BIGINT AS n_below,
                      sum(CASE WHEN confidence = 0 THEN 1 ELSE 0 END)::BIGINT
                        AS n_not_found
               FROM outp)
        SELECT cluster_id, kb_id, confidence, linked, kb_label, description,
               aliases_csv, n_linked, n_below, n_not_found
        FROM outp CROSS JOIN m2
        ORDER BY cluster_id"""


def _er_labels_cte(min_sessions: int = 2) -> str:
    """normalized_labels_from_arrays over the documents-derived turns: alias
    broadcast join -> distinct (conv, canon) -> min-sessions filter -> slug
    block key. Valid on this corpus for the same reason as _mentions_cte
    (plain lowercase alpha tokens: the L2 pandas filter rejects nothing)."""
    from session_graph_spark.data import ALIAS_MAP

    alias_rows = ",\n             ".join(
        f"('{s}', '{c}')" for s, c in sorted(ALIAS_MAP.items())
    )
    return f"""
        al(surface, canonical) AS (VALUES
             {alias_rows}),
        canon_mentions AS (
          SELECT conv_id,
                 coalesce(al.canonical, mentions.norm_label) AS canon_label
          FROM mentions LEFT JOIN al ON mentions.norm_label = al.surface
        ),
        er_labels AS (
          SELECT canon_label, count(*)::BIGINT AS n_sessions,
                 regexp_replace(regexp_replace(lower(canon_label),
                                '[^a-z0-9]+', '-', 'g'),
                                '(^-+|-+$)', '', 'g') AS block_key
          FROM (SELECT DISTINCT conv_id, canon_label FROM canon_mentions)
          GROUP BY canon_label HAVING count(*) >= {min_sessions}
        )"""


def _er_labels_oracle() -> str:
    return f"""
        WITH {_mentions_cte()},
        {_er_labels_cte()},
        bm AS (SELECT block_key, count(*)::BIGINT AS n_labels_in_block,
                      (count(*) * (count(*) - 1) / 2.0)::DOUBLE AS n_pairs_in_block
               FROM er_labels GROUP BY block_key)
        SELECT canon_label, n_sessions, block_key,
               n_labels_in_block, n_pairs_in_block
        FROM er_labels JOIN bm USING (block_key)
        ORDER BY canon_label"""


def _er_clusters_oracle() -> str:
    """Full ER-pipeline oracle: the similarity kernel (0.45*JW +
    0.35*lev_ratio + 0.20*trigram_jaccard, threshold 0.7,
    functions/similarity.py) is computable in DuckDB — its
    jaro_winkler_similarity and levenshtein built-ins are bit-identical
    to ours (property-tested in tests/test_similarity.py), and the padded
    char-trigram Jaccard is a list expression. Candidates = exact
    block-key pairs UNION all pairs passing the blocking length prefilter
    (|la-lb| <= 0.34*max) — a superset of the Spark LSH buckets, so
    parity additionally asserts LSH recall completeness on pairs that
    pass prefilter+threshold (same corpus-level claim as the
    minhash_dedup_pairs oracle; the F1=1.0 gate tests it independently).
    Clusters = transitive closure, lexicographic-min canonical,
    singletons mapping to themselves (operators/cc.py semantics)."""
    return f"""
        WITH {_mentions_cte()},
        {_er_labels_cte()},
        {_score_cc_cte("er_labels")}
        SELECT l.canon_label AS label,
               coalesce(grp.cluster_id, l.canon_label) AS cluster_id
        FROM (SELECT DISTINCT canon_label FROM er_labels) l
        LEFT JOIN grp ON l.canon_label = grp.label
        ORDER BY label"""


def kernel_score_sql(a: str, b: str, ta: str = "ta", tb: str = "tb") -> str:
    """The DuckDB form of similarity.combined_score for a != b: bit-equal
    to the Python kernel (same IEEE-double expression order; DuckDB's
    jaro_winkler_similarity, jaro_similarity and levenshtein are
    algorithm-identical to ours — property-tested in
    tests/test_similarity.py). Multi-word pairs use plain Jaro — the
    Winkler prefix boost must not reward a shared brand/namespace first
    token (see similarity.combined_score). `ta`/`tb` are padded-trigram
    list columns built with trigram_list_sql."""
    return f"""0.45 * (CASE WHEN contains({a}, ' ') OR contains({b}, ' ')
                       THEN jaro_similarity({a}, {b})
                       ELSE jaro_winkler_similarity({a}, {b}) END)
            + 0.35 * (1.0 - levenshtein({a}, {b}) * 1.0
                      / greatest(length({a}), length({b})))
            + 0.20 * (len(list_intersect({ta}, {tb})) * 1.0
                      / (len({ta}) + len({tb}) - len(list_intersect({ta}, {tb}))))"""


def trigram_list_sql(c: str) -> str:
    """similarity._trigrams in DuckDB: distinct 3-grams of '  s '."""
    return (
        f"list_distinct(list_transform("
        f"range(1, length('  '||{c}||' ') - 1), "
        f"i -> substring('  '||{c}||' ', i::INT, 3)))"
    )


def _score_cc_cte(labels_rel: str, ctx_src: str | None = "derive") -> str:
    """Blocking + kernel scoring + transitive-closure CTE chain over a
    relation with (canon_label, block_key) columns; defines `grp(label,
    cluster_id)`. Shared by the er_clusters oracle and the pytest that
    replays it over the typo-planted corpus (where merges DO happen).

    ctx_src controls the surrounding-turn-context bonus the pipeline
    applies since round 4 — BAND-GATED: for kernel scores in
    [threshold - CTX_WEIGHT, threshold), score = min(kernel + CTX_WEIGHT
    * jaccard(top-5 co-mention vectors), 1.0) when the jaccard clears the
    CTX_MIN_JACC evidence floor AND the pair is variant-shaped
    (levenshtein_ratio >= CTX_VARIANT_LEV — round 5: partial context
    overlap is chance, and context agreement alone must never bridge
    distinct morphemes; see similarity.py for both rationales); other
    scores stay the pure kernel (an additive bonus cannot flip decisions
    outside the band, so the gate is exact). Context vectors mirror _mention_context: content
    restricted to the surviving label set, coverage to the band labels,
    evidence to a deterministic hash-spread sample of
    CTX_EVIDENCE_TURNS turns per band label (ordered by md5(conv|turn),
    identical in Spark and DuckDB).
      - "derive" (default): build canonicalized mentions from the
        `mentions` + `al` CTEs in scope (the driver oracle chains);
      - any other string: name of a relation already carrying
        (conv_id, turn_idx, canon_label) — used by the pytest replay;
      - None: string kernel only, no context bonus."""
    from session_graph_spark.functions.similarity import (CTX_EVIDENCE_TURNS,
                                                          CTX_MIN_JACC,
                                                          CTX_VARIANT_LEV,
                                                          CTX_WEIGHT,
                                                          MATCH_THRESHOLD)

    band_lo = MATCH_THRESHOLD - CTX_WEIGHT  # same Python float as Spark's lit
    ctx_turns = CTX_EVIDENCE_TURNS

    if ctx_src is None:
        ctx_ctes = ""
        scored_cte = f"""
        scored AS MATERIALIZED (
          SELECT label_a, label_b,
            {kernel_score_sql('label_a', 'label_b')} AS score
          FROM g),"""
    else:
        base = (
            """(SELECT conv_id, turn_idx,
                       coalesce(al.canonical, mentions.norm_label) AS canon_label
                FROM mentions LEFT JOIN al ON mentions.norm_label = al.surface)"""
            if ctx_src == "derive" else ctx_src
        )
        # sc_m0: co-occurrence content restricted to the surviving label
        # set; sc_bm/sc_sam: a hash-spread sample of CTX_EVIDENCE_TURNS
        # turns per band label — mirrors pipeline._mention_context exactly
        ctx_ctes = f"""
        sc_m0 AS MATERIALIZED (SELECT DISTINCT m0.conv_id, m0.turn_idx, m0.canon_label
                  FROM {base} m0
                  JOIN (SELECT DISTINCT canon_label FROM {labels_rel}) sl
                    USING (canon_label)),
        sc_k AS MATERIALIZED (SELECT label_a, label_b,
                        {kernel_score_sql('label_a', 'label_b')} AS k
                 FROM g),
        sc_bl AS (SELECT DISTINCT canon_label FROM (
                    SELECT label_a AS canon_label FROM sc_k
                    WHERE k >= {band_lo!r} AND k < 0.7
                    UNION ALL
                    SELECT label_b FROM sc_k
                    WHERE k >= {band_lo!r} AND k < 0.7)),
        sc_bm AS MATERIALIZED (
          SELECT canon_label, conv_id, turn_idx,
                 row_number() OVER (PARTITION BY canon_label
                                    ORDER BY md5(conv_id || '|' || turn_idx::VARCHAR),
                                             conv_id, turn_idx) AS rk
          FROM (SELECT DISTINCT sc_m0.canon_label, sc_m0.conv_id, sc_m0.turn_idx
                FROM sc_m0 JOIN sc_bl USING (canon_label))),
        sc_sam AS MATERIALIZED (
          SELECT canon_label AS band_label, conv_id, turn_idx
          FROM sc_bm WHERE rk <= {ctx_turns}),
        sc_co AS MATERIALIZED (
          SELECT s.band_label AS label, m.canon_label AS ctx_tok,
                 count(*) AS n
          FROM sc_sam s JOIN sc_m0 m USING (conv_id, turn_idx)
          WHERE m.canon_label != s.band_label GROUP BY 1, 2),
        sc_top AS (SELECT label, ctx_tok FROM (
                     SELECT label, ctx_tok,
                            row_number() OVER (PARTITION BY label
                                               ORDER BY n DESC, ctx_tok) AS rk
                     FROM sc_co) WHERE rk <= 5),
        sc_ctx AS MATERIALIZED (SELECT label, list_sort(list(ctx_tok)) AS ctx
                   FROM sc_top GROUP BY label),"""
        scored_cte = f"""
        scored AS MATERIALIZED (
          SELECT label_a, label_b,
            CASE WHEN k >= {band_lo!r} AND k < 0.7
                 THEN least(k + CASE WHEN coalesce(jacc, 0.0) >= {CTX_MIN_JACC!r}
                                      AND 1.0 - levenshtein(label_a, label_b)
                                          / greatest(length(label_a),
                                                     length(label_b))
                                          >= {CTX_VARIANT_LEV!r}
                                 THEN {CTX_WEIGHT!r} * jacc
                                 ELSE 0.0 END, 1.0)
                 ELSE k END AS score
          FROM (SELECT sc_k.*,
                       len(list_intersect(sca.ctx, scb.ctx)) * 1.0
                       / len(list_distinct(list_concat(sca.ctx, scb.ctx))) AS jacc
                FROM sc_k LEFT JOIN sc_ctx sca ON sc_k.label_a = sca.label
                          LEFT JOIN sc_ctx scb ON sc_k.label_b = scb.label)),"""
    return f"""
        lab AS (SELECT DISTINCT canon_label, block_key FROM {labels_rel}),
        exact AS (
          SELECT a.canon_label AS label_a, b.canon_label AS label_b
          FROM lab a JOIN lab b USING (block_key)
          WHERE a.canon_label < b.canon_label),
        fuzzy AS (
          SELECT a.canon_label AS label_a, b.canon_label AS label_b
          FROM lab a JOIN lab b ON a.canon_label < b.canon_label
          WHERE abs(length(a.canon_label) - length(b.canon_label))
                <= greatest(length(a.canon_label), length(b.canon_label)) * 0.34),
        cand AS (SELECT DISTINCT label_a, label_b
                 FROM (SELECT * FROM exact UNION ALL SELECT * FROM fuzzy)),
        g AS MATERIALIZED (
          SELECT label_a, label_b,
                 {trigram_list_sql('label_a')} AS ta,
                 {trigram_list_sql('label_b')} AS tb
          FROM cand),{ctx_ctes}{scored_cte}
        p AS MATERIALIZED (SELECT label_a, label_b FROM scored WHERE score >= 0.7),
        e AS MATERIALIZED (SELECT label_a AS u, label_b AS v FROM p
              UNION ALL SELECT label_b, label_a FROM p),
        -- the transitive closure is NESTED so callers' outer WITH stays
        -- non-recursive: DuckDB re-plans every CTE per reference inside a
        -- top-level WITH RECURSIVE block (MATERIALIZED hints ignored),
        -- which costs seconds PER REFERENCE once the kb_pipeline oracle
        -- inlines the 33k-entry gazetteer VALUES (340s -> ~15s)
        grp AS MATERIALIZED (
          WITH RECURSIVE reach(a, b) AS (
            SELECT u, v FROM e
            UNION
            SELECT r.a, e2.v FROM reach r JOIN e e2 ON r.b = e2.u)
          SELECT a AS label, least(min(b), a) AS cluster_id
          FROM reach GROUP BY a)"""


def _er_edges_exact_oracle() -> str:
    """exact_edges mirror: alias identity edges over distinct mention
    labels, plus slug-equality pairs over distinct canonicals."""
    return f"""
        WITH {_mentions_cte()},
        {_er_labels_cte()},
        d AS (SELECT DISTINCT norm_label FROM mentions),
        wc AS (SELECT norm_label,
                      coalesce(al.canonical, d.norm_label) AS canon_label
               FROM d LEFT JOIN al ON d.norm_label = al.surface),
        alias_edges AS (
          SELECT least(norm_label, canon_label) AS label_a,
                 greatest(norm_label, canon_label) AS label_b,
                 'alias' AS channel
          FROM wc WHERE norm_label != canon_label),
        canon AS (SELECT DISTINCT canon_label,
                         regexp_replace(regexp_replace(lower(canon_label),
                                        '[^a-z0-9]+', '-', 'g'),
                                        '(^-+|-+$)', '', 'g') AS block_key
                  FROM wc),
        slug_edges AS (
          SELECT a.canon_label AS label_a, b.canon_label AS label_b,
                 'slug' AS channel
          FROM canon a JOIN canon b USING (block_key)
          WHERE a.canon_label < b.canon_label)
        SELECT DISTINCT label_a, label_b, channel
        FROM (SELECT * FROM alias_edges UNION ALL SELECT * FROM slug_edges)
        ORDER BY channel, label_a, label_b"""


def _ann_lsh_oracle() -> str:
    """DuckDB mirror of lsh_topk (q_ann_lsh_topk params: 4 planes x 8
    tables, dim 64, k 10): the hyperplanes are seeded CONSTANTS
    (ann._planes), so the whole approximate search — sign-sketch buckets,
    bucket join, distinct candidates, cosine rank — is SQL-expressible.
    Plane literals are repr-round-tripped doubles (bit-exact)."""
    from session_graph_spark.operators.ann import _planes

    n_planes, n_tables, dim = 4, 8, 64
    rows = []
    for t in range(n_tables):
        pl = _planes(dim, n_planes, t)
        for i in range(n_planes):
            vec = ", ".join(repr(float(x)) for x in pl[i])
            rows.append(f"({t}, {i}, [{vec}]::DOUBLE[])")
    values = ",\n             ".join(rows)
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
             planes(tbl, idx, p) AS (VALUES
             {values}),
             eb AS (SELECT vec_id, v,
                      't' || tbl || ':' ||
                      string_agg(CASE WHEN list_dot_product(v, p) > 0
                                      THEN '1' ELSE '0' END, '' ORDER BY idx)
                      AS bucket
                    FROM e CROSS JOIN planes GROUP BY vec_id, v, tbl),
             qb AS (SELECT query_id, qv,
                      't' || tbl || ':' ||
                      string_agg(CASE WHEN list_dot_product(qv, p) > 0
                                      THEN '1' ELSE '0' END, '' ORDER BY idx)
                      AS bucket
                    FROM q CROSS JOIN planes GROUP BY query_id, qv, tbl),
             cand AS (SELECT DISTINCT query_id, qv, vec_id, v
                      FROM qb JOIN eb USING (bucket)
                      WHERE vec_id != query_id),
             scored AS (SELECT query_id, vec_id,
                               list_cosine_similarity(qv, v) AS cos
                        FROM cand),
             r AS (SELECT query_id, vec_id, cos,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY cos DESC, vec_id) AS rank
                   FROM scored)
        SELECT query_id, vec_id, rank, round(cos, 6) AS cosine
        FROM r WHERE rank <= 10"""


def _simhash_dedup_oracle() -> str:
    """Value-level SimHash mirror: md5_number_lower word hashes, per-bit
    majority votes, 4x16-bit bands with the 64-doc cap, Hamming <= 3.
    The unsigned 64-bit simhash is assembled in HUGEINT and reduced to
    the two's-complement BIGINT Spark emits."""
    return """
        WITH w0 AS (SELECT doc_id,
                      list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x != '') AS ws
                    FROM documents),
        w AS (SELECT doc_id, unnest(ws) AS word FROM w0 WHERE len(ws) > 0),
        h AS (SELECT doc_id, md5_number_lower(word) AS hv FROM w),
        bits AS (SELECT doc_id, bp.b AS b,
                        sum(((hv >> bp.b) % 2)::HUGEINT) AS ones,
                        count(*) AS n
                 FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bp
                 GROUP BY doc_id, bp.b),
        sh0 AS (SELECT doc_id,
                       sum(CASE WHEN 2 * ones > n
                                THEN ((1::UBIGINT << b))::HUGEINT
                                ELSE 0::HUGEINT END) AS u
                FROM bits GROUP BY doc_id),
        sv AS (SELECT d.doc_id, coalesce(s.u, 0::HUGEINT) AS u,
                      (CASE WHEN coalesce(s.u, 0::HUGEINT) >= 9223372036854775808::HUGEINT
                            THEN coalesce(s.u, 0::HUGEINT) - 18446744073709551616::HUGEINT
                            ELSE coalesce(s.u, 0::HUGEINT) END)::BIGINT AS sh
               FROM documents d LEFT JOIN sh0 s USING (doc_id)),
        pw(i, p) AS (VALUES (0, 1::HUGEINT), (1, 65536::HUGEINT),
                            (2, 4294967296::HUGEINT),
                            (3, 281474976710656::HUGEINT)),
        banded AS (SELECT doc_id, sh, i AS band_idx,
                          ((u // p) % 65536)::BIGINT AS band_val
                   FROM sv CROSS JOIN pw),
        capped AS (SELECT doc_id, sh, band_idx, band_val,
                          ((rn - 1) // 64)::INT AS salt FROM (
                     SELECT doc_id, sh, band_idx, band_val,
                            row_number() OVER (PARTITION BY band_idx, band_val
                                               ORDER BY doc_id) AS rn
                     FROM banded)),
        pairs AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                         x.sh AS sh_a, y.sh AS sh_b
                  FROM capped x JOIN capped y
                    ON x.band_idx = y.band_idx AND x.band_val = y.band_val
                       AND x.salt = y.salt AND x.doc_id < y.doc_id)
        SELECT id_a, id_b, bit_count(xor(sh_a, sh_b))::INT AS hamming
        FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= 3
        ORDER BY id_a, id_b"""


def _embedding_neardup_oracle() -> str:
    """embedding_dedup mirror (threshold 0.2, 4 seeded planes, table 0):
    plane constants inlined as VALUES, sign-sketch bucket, 64-doc cap,
    in-bucket cosine filter + round."""
    from session_graph_spark.operators.ann import _planes

    pl = _planes(64, 4, 0)
    rows = []
    for i in range(4):
        vec = ", ".join(repr(float(x)) for x in pl[i])
        rows.append(f"({i}, [{vec}]::DOUBLE[])")
    values = ",\n             ".join(rows)
    return f"""
        WITH e AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v
                   FROM embeddings),
        planes(idx, p) AS (VALUES
             {values}),
        b AS (SELECT doc_id, v,
                't0:' || string_agg(CASE WHEN list_dot_product(v, p) > 0
                                         THEN '1' ELSE '0' END, ''
                                    ORDER BY idx) AS bucket
              FROM e CROSS JOIN planes GROUP BY doc_id, v),
        capped AS (SELECT doc_id, v, bucket, ((rn - 1) // 64)::INT AS salt
                   FROM (
                     SELECT doc_id, v, bucket,
                            row_number() OVER (PARTITION BY bucket
                                               ORDER BY doc_id) AS rn
                     FROM b)),
        pr AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                      list_cosine_similarity(x.v, y.v) AS c
               FROM capped x JOIN capped y
                 ON x.bucket = y.bucket AND x.salt = y.salt
                    AND x.doc_id < y.doc_id)
        SELECT id_a, id_b, round(c, 6) AS cosine
        FROM pr WHERE c >= 0.2 ORDER BY id_a, id_b"""


def _er_incremental_oracle() -> str:
    """One-shot SQL recomputation of the three-batch incremental end
    state over the POST-UPDATE corpus (the lexicographically first
    source's texts carry the appended tokens): mention-level canon labels
    (multiplicity preserved — the clusters table stores one row per
    mention occurrence) joined to the score+CC assignment over ALL labels
    (min_sessions=1, IncrementalRunner's contract: frequency pruning is
    corpus-wide, not batch-local). second_batch_rows = 0 pins the
    watermark skip; reprocessed_convs = 1 pins that the late-update batch
    re-ran exactly the changed conversation."""
    return f"""
        WITH docs_upd AS (
          SELECT doc_id, source,
                 CASE WHEN source = (SELECT min(source) FROM documents)
                      THEN text || ' changedtoken changedtoken'
                      ELSE text END AS text
          FROM documents),
        {_mentions_cte(rel="docs_upd")},
        {_er_labels_cte(min_sessions=1)},
        {_score_cc_cte("er_labels")}
        SELECT cm.conv_id, cm.canon_label,
               coalesce(grp.cluster_id, cm.canon_label) AS cluster_id,
               0 AS second_batch_rows,
               1 AS reprocessed_convs
        FROM canon_mentions cm
        LEFT JOIN grp ON cm.canon_label = grp.label
        ORDER BY conv_id, canon_label, cluster_id"""


def _claude_jsonl_scan_oracle() -> str:
    """Recompute the reader's projection straight from documents: the
    fixture construction (q_claude_jsonl_scan) and this SQL share only
    the documents table and the deterministic derivation rules."""
    return """
        WITH d AS (SELECT doc_id, source, text, lang,
                          row_number() OVER (PARTITION BY source
                                             ORDER BY doc_id) - 1 AS r
                   FROM documents)
        SELECT source AS conv_id,
               r::INT AS turn_idx,
               CASE WHEN r % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
               text,
               CASE WHEN doc_id % 5 = 0 THEN 'tool-' || (doc_id % 3)
                    ELSE NULL END AS tool,
               TIMESTAMP '2024-01-01 00:00:00'
                 + to_seconds(doc_id::BIGINT) AS ts,
               'claude-code' AS platform,
               CASE WHEN r % 2 = 1 THEN 'm-' || lang ELSE NULL END AS model
        FROM d ORDER BY conv_id, turn_idx"""


def _deepseek_zip_scan_oracle() -> str:
    """The forked-tree fixture's DFS preorder equals per-conversation
    doc order (trunk then branch, both ascending doc_id), so the oracle
    is a plain rank — while the fixture's timestamps are REVERSED, so
    any ts-ordered reader would fail this hash."""
    return """
        WITH d AS (SELECT doc_id, source, text,
                          row_number() OVER (PARTITION BY source
                                             ORDER BY doc_id) - 1 AS r,
                          min(doc_id) OVER (PARTITION BY source) AS mn,
                          max(doc_id) OVER (PARTITION BY source) AS mx
                   FROM documents)
        SELECT source AS conv_id, r::INT AS turn_idx,
               CASE WHEN r % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
               CASE WHEN r % 2 = 0 THEN text
                    ELSE text || chr(10) || 'think-' || doc_id END AS text,
               NULL::VARCHAR AS tool,
               TIMESTAMP '2024-01-01 00:00:00'
                 + to_seconds((mx - (doc_id - mn))::BIGINT) AS ts,
               'deepseek' AS platform, NULL::VARCHAR AS model
        FROM d ORDER BY conv_id, turn_idx"""


def _er_resume_oracle() -> str:
    """er_clusters recomputation + the pinned stages_reused=1 flag."""
    return f"""
        WITH {_mentions_cte()},
        {_er_labels_cte()},
        {_score_cc_cte("er_labels")}
        SELECT l.canon_label AS label,
               coalesce(grp.cluster_id, l.canon_label) AS cluster_id,
               1 AS stages_reused
        FROM (SELECT DISTINCT canon_label FROM er_labels) l
        LEFT JOIN grp ON l.canon_label = grp.label
        ORDER BY label"""


def _session_overlap_oracle() -> str:
    """Conversation pairs sharing > 2 clusters over the same score+CC
    assignment as the er_clusters oracle (min_sessions=2 default)."""
    return f"""
        WITH {_mentions_cte()},
        {_er_labels_cte()},
        {_score_cc_cte("er_labels")},
        mc AS (SELECT DISTINCT cm.conv_id,
                      coalesce(grp.cluster_id, cm.canon_label) AS cluster_id
               FROM canon_mentions cm
               JOIN (SELECT DISTINCT canon_label FROM er_labels) l
                 ON cm.canon_label = l.canon_label
               LEFT JOIN grp ON cm.canon_label = grp.label),
        pairs_ov AS (SELECT a.conv_id AS conv_a, b.conv_id AS conv_b,
                            count(*) AS n_shared
                     FROM mc a JOIN mc b
                       ON a.cluster_id = b.cluster_id AND a.conv_id < b.conv_id
                     GROUP BY a.conv_id, b.conv_id
                     HAVING count(*) > 2)
        SELECT conv_a, conv_b, n_shared::BIGINT AS n_shared
        FROM pairs_ov ORDER BY n_shared DESC, conv_a, conv_b LIMIT 10"""


def _pair_scores_cached_oracle() -> str:
    return f"""
        WITH {_mentions_cte()},
        {_er_labels_cte()},
        lab AS (SELECT DISTINCT canon_label FROM er_labels),
        p AS (SELECT a.canon_label AS label_a, b.canon_label AS label_b
              FROM lab a JOIN lab b ON a.canon_label < b.canon_label),
        g AS (SELECT label_a, label_b,
                     {trigram_list_sql('label_a')} AS ta,
                     {trigram_list_sql('label_b')} AS tb
              FROM p),
        s AS (SELECT label_a, label_b,
                CASE WHEN (length(label_a) + length(label_b)) % 3 = 0
                     THEN 0.424242
                     ELSE {kernel_score_sql('label_a', 'label_b')}
                END AS score
              FROM g)
        SELECT label_a, label_b,
               floor(score * 1e6 + 0.5) / 1e6 AS score
        FROM s ORDER BY label_a, label_b"""


def _message_parents_scan_oracle() -> str:
    return """
        WITH d AS (SELECT doc_id, source,
                          lag(doc_id) OVER (PARTITION BY source
                                            ORDER BY doc_id) AS p
                   FROM documents)
        SELECT source AS conv_id,
               'u' || lpad(doc_id::VARCHAR, 8, '0') AS uuid,
               CASE WHEN p IS NULL THEN NULL
                    ELSE 'u' || lpad(p::VARCHAR, 8, '0') END AS parent_uuid,
               CASE WHEN doc_id % 2 = 0 THEN 'user'
                    ELSE 'assistant' END AS role,
               TIMESTAMP '2024-01-01 00:00:00'
                 + to_seconds(doc_id::BIGINT) AS ts,
               CASE WHEN p IS NULL THEN NULL
                    WHEN p % 2 = 0 THEN 'user'
                    ELSE 'assistant' END AS parent_role,
               CASE WHEN p IS NULL THEN NULL
                    ELSE TIMESTAMP '2024-01-01 00:00:00'
                         + to_seconds(p::BIGINT) END AS parent_ts
        FROM d ORDER BY uuid"""


def _tool_events_scan_oracle() -> str:
    return """
        SELECT source AS conv_id,
               'tu' || doc_id AS tool_use_id,
               'tool-' || (doc_id % 3) AS tool_name,
               substring(text, 1, 50) AS tool_input,
               TIMESTAMP '2024-01-01 00:00:00'
                 + to_seconds(doc_id::BIGINT) AS call_ts,
               CASE WHEN doc_id % 7 = 0 THEN NULL
                    WHEN doc_id % 2 = 0 THEN 'ok-' || doc_id || ' done'
                    ELSE 'res-' || doc_id END AS result_text,
               CASE WHEN doc_id % 7 = 0 THEN NULL
                    ELSE TIMESTAMP '2024-01-01 00:00:00'
                         + to_seconds((doc_id + 1)::BIGINT) END AS result_ts
        FROM documents ORDER BY tool_use_id"""


def _turtle_roundtrip_oracle() -> str:
    """Each reified triple serializes to exactly one direct and one
    reified Turtle statement; subject slugs mirror normalize.slug."""
    return f"""
        WITH t AS (SELECT * FROM {_TRIPLES_SQL}),
        s AS (SELECT predicate,
                     regexp_replace(regexp_replace(lower(subject),
                                    '[^a-z0-9]+', '-', 'g'),
                                    '(^-+|-+$)', '', 'g') AS subject_slug
              FROM t)
        SELECT predicate,
               count(*)::BIGINT AS n_direct,
               count(DISTINCT subject_slug)::BIGINT AS n_subjects,
               count(*)::BIGINT AS n_reified
        FROM s GROUP BY predicate ORDER BY predicate"""


def _grok_json_scan_oracle() -> str:
    return """
        WITH d AS (SELECT doc_id, source, text,
                          row_number() OVER (PARTITION BY source
                                             ORDER BY doc_id) - 1 AS r,
                          min(doc_id) OVER (PARTITION BY source) AS mn
                   FROM documents)
        SELECT source AS conv_id, r::INT AS turn_idx,
               CASE WHEN r % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
               text, NULL::VARCHAR AS tool,
               epoch_ms(1700000000000 + mn * 1000) AS ts,
               'grok' AS platform, NULL::VARCHAR AS model
        FROM d ORDER BY conv_id, turn_idx"""


def _warp_sqlite_scan_oracle() -> str:
    """warp_turns mirror from documents: only user turns exist (Warp
    stores no assistant text), a conversation survives when >= 5 of its
    exchanges carry > 30 chars of query text, and surviving conversations
    keep ALL their exchanges."""
    return """
        WITH keep AS (SELECT source FROM documents
                      WHERE length(text) > 30
                      GROUP BY source HAVING count(*) >= 5),
        t AS (SELECT d.doc_id, d.source, d.text,
                     row_number() OVER (PARTITION BY d.source
                                        ORDER BY d.doc_id) - 1 AS r
              FROM documents d JOIN keep USING (source))
        SELECT source AS conv_id, r::INT AS turn_idx, 'user' AS role, text,
               NULL::VARCHAR AS tool,
               TIMESTAMP '2024-01-01 00:00:00'
                 + to_seconds(doc_id::BIGINT) AS ts,
               'warp' AS platform, 'warp.sqlite' AS source_file,
               NULL::VARCHAR AS model
        FROM t ORDER BY conv_id, turn_idx"""


def _media_features_oracle() -> str:
    """Decode + plumbing mirror, all arithmetic: the BMP file size is
    54 + height * row_size with row_size = (3*width+3)//4*4 (the 4-byte
    row padding the decoder must honor), the WAV size is 44 + 2*samples,
    the y4m size is the exact text header plus per-frame FRAME marker +
    Y plane + C420 chroma (w*h/2), the constant-fill means equal the
    fill values (per VIDEO FRAME: fill (doc_id + 13*src) % 256 at the
    evenly-sampled source frame src = frame_idx*n_frames//3), and the
    constant-amplitude RMS equals the amplitude (exact in float64)."""
    return """
        WITH a AS (SELECT doc_id AS asset_id, doc_id % 3 AS k, text,
                          doc_id % 7 + 1 AS w, doc_id % 5 + 1 AS h,
                          doc_id % 256 AS v,
                          doc_id % 50 + 1 AS n, doc_id % 1000 AS amp,
                          2 * (doc_id % 5 + 1) AS vw,
                          2 * (doc_id % 4 + 1) AS vh,
                          doc_id % 6 + 1 AS nf
                   FROM documents),
             b AS (SELECT *, unnest(range(0, CASE WHEN k = 2 THEN 3 ELSE 1
                                             END))::INT AS frame_idx
                   FROM a)
        SELECT asset_id,
               CASE k WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                      ELSE 'video' END AS kind,
               (CASE k WHEN 0 THEN 54 + h * ((3 * w + 3) // 4 * 4)
                       WHEN 1 THEN 44 + 2 * n
                       ELSE strlen('YUV4MPEG2 W' || vw || ' H' || vh
                                   || ' F25:1 Ip A1:1 C420') + 1
                            + nf * (6 + vw * vh + (vw * vh) // 2)
                  END)::INT AS n_bytes,
               frame_idx,
               (CASE WHEN k = 0 THEN w WHEN k = 2 THEN vw END)::INT AS width,
               (CASE WHEN k = 0 THEN h WHEN k = 2 THEN vh END)::INT AS height,
               (CASE WHEN k = 0 THEN v
                     WHEN k = 2 THEN (asset_id + 13 * ((frame_idx * nf) // 3))
                                     % 256
                  END)::DOUBLE AS mean_pixel,
               (CASE WHEN k = 1 THEN n END)::INT AS n_samples,
               (CASE WHEN k = 1 THEN 8000 END)::INT AS sample_rate,
               (CASE WHEN k = 1 THEN (n * 1000) // 8000
                     WHEN k = 2 THEN nf * 40 END)::INT AS duration_ms,
               (CASE WHEN k = 1 THEN amp END)::DOUBLE AS rms
        FROM b
        ORDER BY asset_id, frame_idx"""


def _ann_ivf_oracle() -> str:
    """DuckDB mirror of ivf_topk (q_ann_ivf_topk params: 16 cells, 4
    Lloyd iterations, n_probe 6, k 10): the quantizer is deterministic
    (seeded with the 16 lowest-id vectors, per-cell means in exact
    DECIMAL(25,10)), so the whole index build unrolls as one CTE chain —
    init, then per iteration assign (argmin d2, ties -> lowest cell) and
    update (decimal mean, empty cells keep previous). DuckDB's decimal
    division rounds the 14th decimal differently from Spark's avg, so
    centroids agree only to ~3e-12 — but every discrete decision
    downstream (cell argmin, probe choice) has margins many orders
    larger on real data, and the output cosines are computed from the
    ORIGINAL vectors, so the value hash is unaffected."""
    n_cells, n_iters, dim, n_probe, k = 16, 4, 64, 6, 10
    parts = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""c0 AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cell, v
               FROM e ORDER BY vec_id LIMIT {n_cells})""",
        f"dims AS (SELECT unnest(range(1, {dim}+1))::INT AS i)",
    ]
    d2 = (
        f"list_sum(list_transform(range(1, {dim}+1), "
        f"i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i])))"
    )
    for t in range(n_iters):
        parts.append(f"""d{t} AS (
          SELECT e.vec_id, e.v, c.cell, {d2} AS d2
          FROM e CROSS JOIN c{t} c)""")
        parts.append(f"""a{t} AS (
          SELECT vec_id, v, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY d2, cell) AS rn
            FROM d{t}) WHERE rn = 1)""")
        parts.append(f"""u{t} AS (
          SELECT cell, i, sum(CAST(v[i] AS DECIMAL(25,10))) AS s,
                 count(*) AS n
          FROM a{t} CROSS JOIN dims GROUP BY cell, i)""")
        parts.append(f"""m{t} AS (
          SELECT cell, list(CAST(s / n AS DOUBLE) ORDER BY i) AS v
          FROM u{t} GROUP BY cell)""")
        parts.append(f"""c{t+1} AS (
          SELECT c.cell, coalesce(m.v, c.v) AS v
          FROM c{t} c LEFT JOIN m{t} m USING (cell))""")
    final = n_iters
    parts.append(f"""dv AS (
          SELECT e.vec_id, e.v, c.cell, {d2} AS d2
          FROM e CROSS JOIN c{final} c)""")
    parts.append("""av AS (
          SELECT vec_id, v, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY d2, cell) AS rn
            FROM dv) WHERE rn = 1)""")
    parts.append("""q AS (SELECT vec_id AS query_id, v AS qv FROM e
                          WHERE vec_id < 5)""")
    qd2 = (
        f"list_sum(list_transform(range(1, {dim}+1), "
        f"i -> (q.qv[i] - c.v[i]) * (q.qv[i] - c.v[i])))"
    )
    parts.append(f"""qp AS (
          SELECT query_id, qv, cell FROM (
            SELECT q.query_id, q.qv, c.cell,
                   row_number() OVER (PARTITION BY q.query_id
                                      ORDER BY {qd2}, c.cell) AS rn
            FROM q CROSS JOIN c{final} c) WHERE rn <= {n_probe})""")
    parts.append("""cand AS (
          SELECT qp.query_id, qp.qv, av.vec_id, av.v
          FROM qp JOIN av USING (cell)
          WHERE av.vec_id != qp.query_id)""")
    parts.append("""r AS (
          SELECT query_id, vec_id,
                 list_cosine_similarity(qv, v) AS cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY list_cosine_similarity(qv, v)
                                    DESC, vec_id) AS rank
          FROM cand)""")
    return (
        "WITH " + ",\n".join(parts)
        + f"""
        SELECT query_id, vec_id, rank, round(cos, 6) AS cosine
        FROM r WHERE rank <= {k}"""
    )


def _models_seen_oracle() -> str:
    return """
        SELECT source,
               array_to_string(list_sort(list(DISTINCT lang)), ',') AS models_seen,
               min_by(lang, doc_id) AS first_model,
               count(DISTINCT lang) AS n_models
        FROM documents GROUP BY source ORDER BY source"""


def _text_features_oracle() -> str:
    """DuckDB mirror of the merged per-doc text toolbox row:
    - lang_pred: functions.text.lang_id_col — stopword-profile hits per
      language over the distinct lowercase word set; ties break in
      profile order (en, es, de, fr, pt) because the reference loop
      (_lang_id_batch) only replaces the best on strictly-greater hits;
    - n_tokens_q / punct_ratio / stopword_ratio_en / quality_score:
      functions.text.quality_features (the 0.4/0.3/0.3 blend over the
      ROUNDED intermediate columns, exactly as the Column code computes);
    - n_tokens / fp / avg_token_len / stopword_ratio: the whitespace
      token count, md5-of-64-char-prefix fingerprint, and per-token
      stats."""
    from session_graph_spark.functions.text import _LANG_PROFILES

    langs = list(_LANG_PROFILES)  # insertion order = tie-break order
    hit_cols = ",\n                  ".join(
        "len(list_intersect(wl, [" + ", ".join(f"'{w}'" for w in sorted(_LANG_PROFILES[lg]))
        + f"])) AS h_{lg}"
        for lg in langs
    )
    all_h = ", ".join(f"h_{lg}" for lg in langs)
    case = [f"WHEN greatest({all_h}) = 0 THEN 'und'"]
    for i, lg in enumerate(langs[:-1]):
        conds = " AND ".join(f"h_{lg} >= h_{o}" for o in langs[i + 1:])
        case.append(f"WHEN {conds} THEN '{lg}'")
    case_sql = "\n               ".join(case)
    en = ", ".join(f"'{w}'" for w in sorted(_LANG_PROFILES["en"]))
    return f"""
        WITH t AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS wl
                   FROM documents),
             h AS (SELECT doc_id,
                  {hit_cols}
                   FROM t),
             lang AS (SELECT doc_id,
                             CASE {case_sql}
                                  ELSE '{langs[-1]}' END AS lang_pred
                      FROM h),
             b AS (SELECT doc_id,
                          regexp_split_to_array(text, '\\s+') AS toks,
                          length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct,
                          greatest(length(text), 1) AS nc
                   FROM documents),
             c AS (SELECT doc_id,
                          len(toks) AS n_tokens_q,
                          round(punct * 1.0 / nc, 4) AS punct_ratio,
                          round(len(list_filter(toks, x -> lower(x) IN ({en}))) * 1.0
                                / greatest(len(toks), 1), 4) AS stopword_ratio_en
                   FROM b),
             qf AS (SELECT doc_id, n_tokens_q, punct_ratio, stopword_ratio_en,
                           floor((least(n_tokens_q / 50.0, 1.0) * 0.4
                                  + (1 - least(punct_ratio * 4, 1.0)) * 0.3
                                  + least(stopword_ratio_en * 5, 1.0) * 0.3)
                                 * 10000 + 0.5)
                           / 10000 AS quality_score
                    FROM c),
             ws AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                    FROM documents),
             tok AS (SELECT doc_id,
                            round(avg(len(token)), 4) AS avg_token_len,
                            round(sum(CASE WHEN token IN ('the','a') THEN 1
                                           ELSE 0 END) * 1.0 / count(*), 4)
                              AS stopword_ratio
                     FROM ws GROUP BY doc_id),
             base AS (SELECT doc_id,
                             len(string_split(text, ' ')) AS n_tokens,
                             md5(substring(text, 1, 64)) AS fp
                      FROM documents)
        SELECT doc_id, n_tokens, fp, lang_pred, n_tokens_q, punct_ratio,
               stopword_ratio_en, quality_score, avg_token_len, stopword_ratio
        FROM base JOIN qf USING (doc_id) JOIN lang USING (doc_id)
             JOIN tok USING (doc_id)
        ORDER BY doc_id"""


def _mentions_cte(rel: str = "documents") -> str:
    """DuckDB mirror of the deterministic extraction over documents-derived
    turns. The general extractor has a phrase-gazetteer channel (Java
    lookbehind regex, inexpressible in RE2) and ~20 L1 reject rules, but
    on THIS corpus every token is plain lowercase alpha and no phrase or
    cue matches (asserted before shipping), so the exact semantics reduce
    to: tokenize, strip trailing punctuation, keep len>1 non-stopword
    tokens (whitelist overrides the hex/2-char rejects), first-occurrence
    dedup per turn, cap 10."""
    from session_graph_spark.data import STOPWORDS, WHITELIST

    stop = ", ".join(f"'{w}'" for w in sorted(STOPWORDS))
    white = ", ".join(f"'{w}'" for w in sorted(WHITELIST))
    return f"""
        turns AS (
          SELECT source AS conv_id,
                 (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)::INT
                   AS turn_idx,
                 string_split(lower(substring(text, 1, 1500)), ' ') AS l
          FROM {rel}
          WHERE length(trim(text)) >= 30
        ),
        tok AS (
          SELECT conv_id, turn_idx, unnest(range(1, len(l) + 1)) AS i, l FROM turns
        ),
        val AS (
          SELECT conv_id, turn_idx, i,
                 regexp_replace(trim(l[i]), '[.,;:]+$', '') AS norm_label
          FROM tok
        ),
        valid AS (
          SELECT * FROM val
          WHERE length(norm_label) > 1
            AND norm_label NOT IN ({stop})
            AND (norm_label IN ({white})
                 OR NOT (regexp_matches(norm_label, '^[a-f]{{6,}}$')
                         OR length(norm_label) = 2))
        ),
        firsts AS (
          SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx, norm_label
                                       ORDER BY i) AS rn
          FROM valid
        ),
        ranked AS (
          SELECT conv_id, turn_idx, norm_label,
                 (row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY i) - 1)::INT
                   AS pos
          FROM firsts WHERE rn = 1
        ),
        mentions AS (
          SELECT conv_id, turn_idx, norm_label, pos FROM ranked WHERE pos < 10
        )"""


def _er_mentions_oracle() -> str:
    return f"""
        WITH {_mentions_cte()}
        SELECT conv_id, turn_idx, norm_label, pos FROM mentions
        ORDER BY conv_id, turn_idx, pos"""


def _triple_hubs_oracle() -> str:
    """Alias join (inlined VALUES) + consecutive-mention pairs + edge
    distinct + subject∪object degree — mirrors q_triple_hubs exactly; the
    cue scan finds nothing on this corpus so every predicate is the
    relatedTo fallback."""
    from session_graph_spark.data import ALIAS_MAP

    alias_rows = ",\n             ".join(
        f"('{s}', '{c}')" for s, c in sorted(ALIAS_MAP.items())
    )
    return f"""
        WITH {_mentions_cte()},
        al(surface, canonical) AS (VALUES
             {alias_rows}),
        m AS (
          SELECT conv_id, turn_idx, pos,
                 coalesce(al.canonical, mentions.norm_label) AS canon_label
          FROM mentions LEFT JOIN al ON mentions.norm_label = al.surface
        ),
        pairs AS (
          SELECT a.canon_label AS subject, b.canon_label AS object
          FROM m a JOIN m b
            ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
               AND b.pos = a.pos + 1
          WHERE a.canon_label != b.canon_label
        ),
        edges AS (SELECT DISTINCT subject, object FROM pairs),
        nodes AS (SELECT subject AS label FROM edges
                  UNION ALL SELECT object FROM edges)
        SELECT label, count(*)::BIGINT AS degree FROM nodes GROUP BY label
        ORDER BY degree DESC, label LIMIT 20"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry order = the driver's correctness window order (it checks
    # the first 50 entries). Round 4 consolidated 60 rows to exactly 50 —
    # merges: text_features <- {token_count, fingerprint, lang_id,
    # quality_features, quality_score}; sessionization <- session_bounds;
    # er_incremental <- er_incremental_update; er_labels <-
    # er_block_metrics; kb_pipeline <- {kb_enrichment, kb_link_metrics};
    # drops (generic sanity, no §2 mapping): top_customers,
    # embedding_label_counts — and the flagship ER/ANN oracles now come
    # first so every row lands inside the driver's hard signal.
    return {
        # --- the ER pipeline itself ---
        "er_clusters": q_er_clusters,
        "er_mentions": q_er_mentions,
        "er_labels": q_er_labels,
        "er_edges_exact": q_er_edges_exact,
        "pair_scores_cached": q_pair_scores_cached,
        "session_overlap": q_session_overlap,
        "triple_hubs": q_triple_hubs,
        "er_incremental": q_er_incremental,
        "er_resume": q_er_resume,
        # --- KB linking ---
        "kb_pipeline": q_kb_pipeline,
        "kb_linking": q_kb_linking,
        "kb_linking_ctx": q_kb_linking_ctx,
        "kb_linking_cached": q_kb_linking_cached,
        # round 6: the 6 federated SERVICE templates (W1-W6) as one
        # composite row, per the round-4 merge convention; displaces
        # models_seen past the window (its §2 item W3 stays
        # driver-evidenced by turn_ordering; models_seen remains
        # oracle-checked by scripts/check_oracles.py and pytest)
        "kb_federation": q_kb_federation,
        # --- dedup / similarity ---
        "minhash_dedup_pairs": q_minhash_dedup_pairs,
        "minhash_dedup_groups": q_minhash_dedup_groups,
        "simhash_dedup": q_simhash_dedup,
        "ngram_bucket_dedup": q_ngram_bucket_dedup,
        "exact_dedup": q_exact_dedup,
        "embedding_neardup": q_embedding_neardup,
        "ann_topk": q_ann_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        # --- text / multimodal ---
        "text_features": q_text_features,
        "lang_stats": q_lang_stats,
        "media_features": q_media_features,
        # --- graph query templates ---
        "hub_entities": q_hub_entities,
        "cooccurrence": q_cooccurrence,
        "cross_source_overlap": q_cross_source_overlap,
        "min_sessions_filter": q_min_sessions_filter,
        "platform_counts": q_platform_counts,
        "predicate_search": q_predicate_search,
        "entity_to_entity": q_entity_to_entity,
        "path_discovery": q_path_discovery,
        "sibling_entities": q_sibling_entities,
        "topic_search": q_topic_search,
        # --- windows / events ---
        "turn_ordering": q_turn_ordering,
        "prev_event": q_prev_event,
        "sessionization": q_sessionization,
        "event_type_rollup": q_event_type_rollup,
        "pricing_summary": q_pricing_summary,
        # --- readers / sinks / streaming ---
        "claude_jsonl_scan": q_claude_jsonl_scan,
        "warp_sqlite_scan": q_warp_sqlite_scan,
        "deepseek_zip_scan": q_deepseek_zip_scan,
        "grok_json_scan": q_grok_json_scan,
        "tool_events_scan": q_tool_events_scan,
        "message_parents_scan": q_message_parents_scan,
        "turtle_roundtrip": q_turtle_roundtrip,
        "serving_table_sink": q_serving_table_sink,
        "streaming_state": q_streaming_state,
        # --- past the driver's 50-row window (still oracle-checked by
        # scripts/check_oracles.py + pytest; see kb_federation note) ---
        "models_seen": q_models_seen,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "hub_entities": f"""
            SELECT token, count(DISTINCT doc_id) AS degree
            FROM {_TOK_SQL} GROUP BY token
            ORDER BY degree DESC, token LIMIT 20""",
        "cooccurrence": f"""
            WITH t AS (SELECT DISTINCT doc_id, token FROM {_TOK_SQL})
            SELECT a.token AS token_a, b.token AS token_b, count(*) AS n_docs
            FROM t a JOIN t b USING (doc_id)
            WHERE a.token < b.token
            GROUP BY 1, 2 ORDER BY n_docs DESC, token_a, token_b LIMIT 20""",
        "cross_source_overlap": f"""
            SELECT token, count(DISTINCT source) AS n_sources
            FROM {_TOK_SQL} GROUP BY token HAVING n_sources > 1
            ORDER BY n_sources DESC, token LIMIT 20""",
        "min_sessions_filter": f"""
            SELECT token, count(DISTINCT doc_id) AS n_docs
            FROM {_TOK_SQL} GROUP BY token HAVING n_docs >= 2
            ORDER BY token""",
        "platform_counts": """
            -- ::BIGINT: DuckDB sum(BIGINT) returns HUGEINT -> pandas float64,
            -- which breaks value-hash parity against Spark's int64
            SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
            FROM documents GROUP BY source ORDER BY source""",
        "lang_stats": """
            SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
            FROM documents GROUP BY lang ORDER BY lang""",
        "text_features": _text_features_oracle(),
        "exact_dedup": """
            SELECT md5(text) AS text_hash, count(*) AS n_dups,
                   min(doc_id) AS canonical_doc
            FROM documents GROUP BY 1""",
        "ngram_bucket_dedup": """
            WITH d AS (SELECT doc_id,
                       md5(array_to_string(string_split(text,' ')[1:8], ' ')) AS shingle
                       FROM documents)
            SELECT shingle, count(*) AS n_docs, min(doc_id) AS canonical_doc
            FROM d GROUP BY shingle HAVING count(*) > 1""",
        "turn_ordering": """
            SELECT user_id, event_id, turn_idx FROM (
                SELECT user_id, event_id,
                       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
                       AS turn_idx
                FROM events) WHERE turn_idx < 3""",
        "prev_event": """
            SELECT user_id, event_id, event_type, prev_type FROM (
                SELECT user_id, event_id, event_type,
                       lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS prev_type
                FROM events) WHERE prev_type IS NOT NULL""",
        "sessionization": """
            WITH g AS (
                SELECT user_id, ts,
                       CASE WHEN prev_ts IS NULL
                                 OR date_diff('second', prev_ts, ts) > 1800
                            THEN 1 ELSE 0 END AS new_sess
                FROM (SELECT user_id, ts,
                             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             AS prev_ts
                      FROM events))
            SELECT user_id, min(ts) AS created, max(ts) AS modified,
                   count(*) AS n_events, sum(new_sess)::BIGINT AS n_sessions
            FROM g GROUP BY user_id ORDER BY user_id""",
        "event_type_rollup": """
            SELECT event_type, count(*) AS n_events,
                   round(sum(value), 3) AS total_value
            FROM events GROUP BY event_type ORDER BY event_type""",
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_price,
                   count(*) AS n_items
            FROM lineitem WHERE l_shipdate <= '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus""",
        "ann_topk": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
                 q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
                 j AS (SELECT query_id, vec_id,
                              list_cosine_similarity(qv, v) AS cos
                       FROM q CROSS JOIN e WHERE vec_id != query_id),
                 r AS (SELECT query_id, vec_id, cos,
                              row_number() OVER (PARTITION BY query_id
                                                 ORDER BY cos DESC, vec_id) AS rank
                       FROM j)
            SELECT query_id, vec_id, rank, round(cos, 6) AS cosine
            FROM r WHERE rank <= 10""",
        "predicate_search": f"""
            SELECT DISTINCT subject, object FROM {_TRIPLES_SQL}
            WHERE predicate = 'uses'
              AND (contains(subject, 'spark') OR contains(object, 'spark'))
            ORDER BY subject, object""",
        "entity_to_entity": f"""
            SELECT DISTINCT predicate FROM {_TRIPLES_SQL}
            WHERE contains(subject, 'spark') AND contains(object, 'customer')
            ORDER BY predicate""",
        "path_discovery": f"""
            WITH e AS (SELECT subject, predicate, object FROM {_TRIPLES_SQL}),
                 arms AS (
                   SELECT t1.predicate AS p1, t1.object AS mid, t2.predicate AS p2,
                          t1.subject AS a, t2.object AS b
                   FROM e t1 JOIN e t2 ON t1.object = t2.subject
                   WHERE contains(t1.subject, 'spark') AND contains(t2.object, 'vector')
                   UNION ALL
                   SELECT t1.predicate, t1.subject, t2.predicate,
                          t1.object, t2.object
                   FROM e t1 JOIN e t2 ON t1.subject = t2.subject
                   WHERE contains(t1.object, 'spark') AND contains(t2.object, 'vector')
                   UNION ALL
                   SELECT t1.predicate, t1.object, t2.predicate,
                          t1.subject, t2.subject
                   FROM e t1 JOIN e t2 ON t1.object = t2.object
                   WHERE contains(t1.subject, 'spark') AND contains(t2.subject, 'vector'))
            SELECT DISTINCT p1, mid, p2 FROM arms
            WHERE a != b AND a != mid AND mid != b
            ORDER BY p1, mid, p2""",
        "sibling_entities": f"""
            WITH e AS (SELECT DISTINCT subject, predicate, object FROM {_TRIPLES_SQL}),
                 xe AS (SELECT DISTINCT predicate, object AS shared, subject AS x_subj
                        FROM e WHERE contains(subject, 'spark')),
                 sib AS (SELECT DISTINCT subject AS sibling, predicate,
                                object AS shared FROM e)
            SELECT DISTINCT sibling, predicate, shared
            FROM sib JOIN xe USING (predicate, shared)
            WHERE sibling != x_subj
            ORDER BY predicate, shared, sibling""",
        "topic_search": f"""
            SELECT doc_id, source, lang FROM documents
            WHERE doc_id IN (SELECT DISTINCT doc_id FROM {_TOK_SQL}
                             WHERE contains(token, 'spark'))
            ORDER BY doc_id""",
        "kb_linking": _kb_linking_oracle(),
        "kb_linking_ctx": _kb_linking_ctx_oracle(),
        "kb_pipeline": _kb_pipeline_oracle(),
        "models_seen": _models_seen_oracle(),
        "er_labels": _er_labels_oracle(),
        "er_clusters": _er_clusters_oracle(),
        "er_edges_exact": _er_edges_exact_oracle(),
        "ann_lsh_topk": _ann_lsh_oracle(),
        "ann_ivf_topk": _ann_ivf_oracle(),
        "simhash_dedup": _simhash_dedup_oracle(),
        "embedding_neardup": _embedding_neardup_oracle(),
        "media_features": _media_features_oracle(),
        "er_incremental": _er_incremental_oracle(),
        "claude_jsonl_scan": _claude_jsonl_scan_oracle(),
        "warp_sqlite_scan": _warp_sqlite_scan_oracle(),
        "deepseek_zip_scan": _deepseek_zip_scan_oracle(),
        "grok_json_scan": _grok_json_scan_oracle(),
        "turtle_roundtrip": _turtle_roundtrip_oracle(),
        "tool_events_scan": _tool_events_scan_oracle(),
        "message_parents_scan": _message_parents_scan_oracle(),
        "pair_scores_cached": _pair_scores_cached_oracle(),
        "er_resume": _er_resume_oracle(),
        "kb_linking_cached": _kb_linking_cached_oracle(),
        "kb_federation": _kb_federation_oracle(),
        "session_overlap": _session_overlap_oracle(),
        "streaming_state": """
            SELECT source AS conv_id, count(*)::BIGINT AS n_turns,
                   sum(length(text))::BIGINT AS n_chars,
                   strftime(TIMESTAMP '2026-01-01 00:00:00'
                            + to_seconds(max(doc_id)::BIGINT),
                            '%Y-%m-%d %H:%M:%S') AS last_ts
            FROM documents GROUP BY source ORDER BY conv_id""",
        "serving_table_sink": """
            SELECT sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
                     AS appended_even,
                   sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT
                     AS appended_odd,
                   count(*)::BIGINT AS final_rows
            FROM documents""",
        "minhash_dedup_pairs": """
            WITH d AS (SELECT doc_id,
                         list_distinct(
                           CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                                ELSE list_transform(range(1, len(ws)-1),
                                       i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))
                           END) AS sh
                       FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
                             FROM documents)),
                 p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                              len(list_intersect(a.sh, b.sh)) * 1.0
                              / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1)
                              AS j
                       FROM d a JOIN d b ON a.doc_id < b.doc_id)
            SELECT id_a, id_b, round(j, 6) AS jaccard
            FROM p WHERE j >= 0.8 ORDER BY id_a, id_b""",
        "er_mentions": _er_mentions_oracle(),
        "triple_hubs": _triple_hubs_oracle(),
        "minhash_dedup_groups": """
            WITH RECURSIVE
              d AS (SELECT doc_id,
                      list_distinct(
                        CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                             ELSE list_transform(range(1, len(ws)-1),
                                    i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))
                        END) AS sh
                    FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
                          FROM documents)),
              p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                    FROM d a JOIN d b ON a.doc_id < b.doc_id
                    WHERE len(list_intersect(a.sh, b.sh)) * 1.0
                          / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1)
                          >= 0.8),
              e AS (SELECT id_a AS u, id_b AS v FROM p
                    UNION ALL SELECT id_b, id_a FROM p),
              reach(a, b) AS (
                SELECT u, v FROM e
                UNION
                SELECT r.a, e2.v FROM reach r JOIN e e2 ON r.b = e2.u
              ),
              -- dup_group = component's LEXICOGRAPHIC-min id (the CC
              -- min-string-label convention), so compare as VARCHAR
              grp AS (SELECT a AS doc_id,
                             CAST(least(min(b::VARCHAR), a::VARCHAR) AS BIGINT)
                               AS dup_group
                      FROM reach GROUP BY a)
            SELECT doc_id, coalesce(grp.dup_group, doc_id) AS dup_group
            FROM documents LEFT JOIN grp USING (doc_id)
            ORDER BY doc_id""",
        # Every queries() entry has an oracle: the last holdout,
        # ann_ivf_topk, unrolls its deterministic Lloyd quantizer as a
        # CTE chain (see _ann_ivf_oracle).
    }
