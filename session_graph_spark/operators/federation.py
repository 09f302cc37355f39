"""Offline federated enrichment — the Spark-first analog of the
reference's 6 federated `SERVICE <wikidata>` templates (devkg-sparql
SKILL.md W1-W6, README.md "Federated queries").

The reference crosses from the local graph into Wikidata's public SPARQL
endpoint per query (owl:sameAs QID -> live SERVICE call). At 100 TB that
shape is wrong twice over: per-row HTTP against a rate-limited public
endpoint (~60 req/min) cannot meet a cluster's throughput, and the
results are unreproducible (Wikidata mutates). The standard production
pattern — and what this module implements — is federation against an
OFFLINE SNAPSHOT of the remote endpoint: a wikidata-shaped dimension
(entities with QIDs + descriptions, instance-of/uses/part-of claims, a
subclass-of class hierarchy) joined broadcast onto the corpus-derived
entity set. Every template below is then a pure DataFrame plan: the big
(local) side is scanned once and never shuffled against the dimension;
the remote side is a broadcast dim exactly like the KB gazetteer
(linking.py kb_df — link time flat from 450 to 30k rows, BENCH kb_link).

The snapshot here is a deterministic in-repo literal (no external data,
per the build rules): ~40 entities whose labels overlap the synthetic
`documents` vocabulary (so sameAs linking finds them), peer entities
that exist ONLY remotely (the reference's pitch: "knowledge that does
not exist in your local sessions"), a 12-class subclass hierarchy, and
inter-entity claims for relationship bridges.

Template map (reference SKILL.md:477-588 -> functions here):
  W1 entity properties   -> fed_properties
  W2 peer discovery      -> fed_peers
  W3 disambiguation      -> fed_disambiguation
  W4 broader categories  -> fed_categories (P279* bounded closure)
  W5 relationship bridge -> fed_bridge (direct + 2-hop)
  W6 batch enrichment    -> fed_batch_enrich (one join for all QIDs)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---- the remote snapshot (deterministic literals) --------------------------

# (class_qid, label, parent_class_qid | None) — parent edges are P279
# ("subclass of"); the hierarchy is a forest rooted at C01.
REMOTE_CLASSES: list[tuple[str, str, str | None]] = [
    ("kbq:C01", "technology", None),
    ("kbq:C02", "software", "kbq:C01"),
    ("kbq:C03", "data processing framework", "kbq:C02"),
    ("kbq:C04", "algorithm", "kbq:C01"),
    ("kbq:C05", "sorting algorithm", "kbq:C04"),
    ("kbq:C06", "relational operator", "kbq:C02"),
    ("kbq:C07", "data structure", "kbq:C01"),
    ("kbq:C08", "hash function", "kbq:C04"),
    ("kbq:C09", "database object", "kbq:C02"),
    ("kbq:C10", "stream processing framework", "kbq:C03"),
    ("kbq:C11", "query language construct", "kbq:C02"),
    ("kbq:C12", "machine learning concept", "kbq:C01"),
]

# (qid, label, description, class_qid) — labels lowercase; the first
# block overlaps the synthetic documents vocabulary (sameAs targets),
# the second exists only remotely (peer-discovery payoff).
REMOTE_ENTITIES: list[tuple[str, str, str, str]] = [
    ("kbw:Q1001", "spark", "distributed data processing framework", "kbq:C03"),
    ("kbw:Q1002", "stream", "unbounded sequence of data records", "kbq:C07"),
    ("kbw:Q1003", "vector", "ordered numeric array used in similarity search", "kbq:C07"),
    ("kbw:Q1004", "batch", "bounded collection processed as one unit", "kbq:C07"),
    ("kbw:Q1005", "hash", "function mapping keys to fixed-size codes", "kbq:C08"),
    ("kbw:Q1006", "sort", "algorithm arranging records into order", "kbq:C05"),
    ("kbw:Q1007", "merge", "algorithm combining sorted runs", "kbq:C05"),
    ("kbw:Q1008", "scan", "operator reading a table sequentially", "kbq:C06"),
    ("kbw:Q1009", "filter", "operator discarding rows by predicate", "kbq:C06"),
    ("kbw:Q1010", "join", "operator combining rows on matching keys", "kbq:C06"),
    ("kbw:Q1011", "query", "declarative request evaluated by an engine", "kbq:C11"),
    ("kbw:Q1012", "window", "construct computing over row neighborhoods", "kbq:C11"),
    ("kbw:Q1013", "group", "construct partitioning rows for aggregation", "kbq:C11"),
    ("kbw:Q1014", "order", "construct imposing output row order", "kbq:C11"),
    ("kbw:Q1015", "table", "relation stored as rows and columns", "kbq:C09"),
    ("kbw:Q1016", "column", "named typed attribute of a relation", "kbq:C09"),
    ("kbw:Q1017", "row", "single record of a relation", "kbq:C09"),
    ("kbw:Q1018", "key", "attribute set identifying rows", "kbq:C09"),
    ("kbw:Q1019", "data", "encoded facts processed by software", "kbq:C07"),
    # remote-only peers — discoverable via W2, absent from any session
    ("kbw:Q2001", "flink", "stream-first distributed processing framework", "kbq:C10"),
    ("kbw:Q2002", "storm", "realtime stream computation system", "kbq:C10"),
    ("kbw:Q2003", "hadoop", "batch-oriented distributed processing framework", "kbq:C03"),
    ("kbw:Q2004", "beam", "unified batch and stream programming model", "kbq:C03"),
    ("kbw:Q2005", "quicksort", "partition-exchange sorting algorithm", "kbq:C05"),
    ("kbw:Q2006", "heapsort", "selection sorting algorithm using a heap", "kbq:C05"),
    ("kbw:Q2007", "timsort", "hybrid stable sorting algorithm", "kbq:C05"),
    ("kbw:Q2008", "project", "operator selecting a column subset", "kbq:C06"),
    ("kbw:Q2009", "union", "operator concatenating compatible relations", "kbq:C06"),
    ("kbw:Q2010", "xxhash", "fast non-cryptographic hash function", "kbq:C08"),
    ("kbw:Q2011", "murmur", "non-cryptographic hash function family", "kbq:C08"),
    ("kbw:Q2012", "index", "auxiliary structure accelerating lookups", "kbq:C09"),
    ("kbw:Q2013", "view", "virtual relation defined by a query", "kbq:C09"),
    ("kbw:Q2014", "limit", "construct truncating result cardinality", "kbq:C11"),
    ("kbw:Q2015", "graph", "nodes and edges data structure", "kbq:C07"),
    ("kbw:Q2016", "tensor", "multidimensional numeric array", "kbq:C07"),
    ("kbw:Q2017", "embedding", "learned dense vector representation", "kbq:C12"),
    ("kbw:Q2018", "gradient", "direction of steepest loss change", "kbq:C12"),
]

# entity-to-entity claims: (subject_qid, prop, object_qid). P31 rows are
# derived from REMOTE_ENTITIES; P279 lives on the class table.
REMOTE_CLAIMS: list[tuple[str, str, str]] = [
    ("kbw:Q1001", "P2283", "kbw:Q1005"),   # spark uses hash
    ("kbw:Q1001", "P2283", "kbw:Q1006"),   # spark uses sort
    ("kbw:Q1001", "P2283", "kbw:Q1003"),   # spark uses vector
    ("kbw:Q1007", "P2283", "kbw:Q1006"),   # merge uses sort
    ("kbw:Q1010", "P2283", "kbw:Q1005"),   # join uses hash
    ("kbw:Q2003", "P2283", "kbw:Q1006"),   # hadoop uses sort
    ("kbw:Q2005", "P2283", "kbw:Q1005"),   # quicksort uses hash (pivot mix)
    ("kbw:Q2017", "P2283", "kbw:Q1003"),   # embedding uses vector
    ("kbw:Q1008", "P361", "kbw:Q1011"),    # scan part of query
    ("kbw:Q1009", "P361", "kbw:Q1011"),    # filter part of query
    ("kbw:Q1010", "P361", "kbw:Q1011"),    # join part of query
    ("kbw:Q1012", "P361", "kbw:Q1011"),    # window part of query
    ("kbw:Q1013", "P361", "kbw:Q1011"),    # group part of query
    ("kbw:Q1014", "P361", "kbw:Q1011"),    # order part of query
    ("kbw:Q1016", "P361", "kbw:Q1015"),    # column part of table
    ("kbw:Q1017", "P361", "kbw:Q1015"),    # row part of table
    ("kbw:Q1018", "P361", "kbw:Q1015"),    # key part of table
    ("kbw:Q2012", "P361", "kbw:Q1015"),    # index part of table
    ("kbw:Q1011", "P2283", "kbw:Q1015"),   # query uses table
    ("kbw:Q1004", "P361", "kbw:Q1001"),    # batch part of spark
    ("kbw:Q1002", "P361", "kbw:Q2001"),    # stream part of flink
]

PROP_LABELS: list[tuple[str, str]] = [
    ("P31", "instance of"),
    ("P279", "subclass of"),
    ("P2283", "uses"),
    ("P361", "part of"),
]

# W4 closure depth bound: the deepest P279 chain. Validated at import so
# a grown hierarchy cannot silently truncate the closure.
CLOSURE_MAX_DEPTH = 4


def _validate_snapshot() -> None:
    cls = {q: p for q, _, p in REMOTE_CLASSES}
    for q, _, p in REMOTE_CLASSES:
        d, node = 0, p
        while node is not None:
            node = cls[node]
            d += 1
            if d > CLOSURE_MAX_DEPTH:
                raise ValueError(
                    f"class {q} deeper than CLOSURE_MAX_DEPTH={CLOSURE_MAX_DEPTH}")
    ents = {q for q, _, _, _ in REMOTE_ENTITIES}
    labels = [l for _, l, _, _ in REMOTE_ENTITIES]
    if len(set(labels)) != len(labels):
        raise ValueError("remote entity labels must be unique (sameAs is exact)")
    # the oracle inlines labels/descriptions/class labels into SQL VALUES
    # literals (_fed_dim_sql); a quote or backslash in a future snapshot
    # edit would break the DuckDB oracle with a parse error at gate time
    # (ADVICE r6) — reject loudly at import instead
    texts = ([l for _, l, _, _ in REMOTE_ENTITIES]
             + [d for _, _, d, _ in REMOTE_ENTITIES]
             + [cl for _, cl, _ in REMOTE_CLASSES]
             + [pl for _, pl in PROP_LABELS])
    for t in texts:
        if "'" in t or "\\" in t:
            raise ValueError(
                f"snapshot text {t!r} contains a quote/backslash; "
                "_fed_dim_sql inlines these as SQL string literals")
    for q, _, _, c in REMOTE_ENTITIES:
        if c not in cls:
            raise ValueError(f"entity {q} has unknown class {c}")
    for s, p, o in REMOTE_CLAIMS:
        if s not in ents or o not in ents:
            raise ValueError(f"claim ({s},{p},{o}) references unknown qid")
        if p not in {pid for pid, _ in PROP_LABELS}:
            raise ValueError(f"claim property {p} has no label")


_validate_snapshot()


def class_closure() -> list[tuple[str, str, int]]:
    """(class_qid, ancestor_class_qid, depth) pairs of the P279* closure,
    INCLUDING depth 0 (reflexive, per SPARQL `*` semantics). The
    hierarchy is dimension-sized by design (a class taxonomy, not a fact
    table), so the closure is computed driver-side and broadcast — the
    same driver-small-dimension rationale as the alias preimage
    (pipeline._mention_context) and the ANN centroid list."""
    parent = {q: p for q, _, p in REMOTE_CLASSES}
    out = []
    for q in parent:
        node, d = q, 0
        while node is not None:
            out.append((q, node, d))
            node = parent[node]
            d += 1
    return out


def remote_dfs(spark: SparkSession) -> dict[str, DataFrame]:
    """The snapshot as broadcast-ready DataFrames: entities, claims
    (P31 included), classes, closure, props."""
    p31 = [(q, "P31", c) for q, _, _, c in REMOTE_ENTITIES]
    return {
        "entities": spark.createDataFrame(
            REMOTE_ENTITIES,
            "qid string, label string, description string, class_qid string"),
        "claims": spark.createDataFrame(
            REMOTE_CLAIMS + p31, "s_qid string, prop string, o_qid string"),
        "classes": spark.createDataFrame(
            [(q, l, p) for q, l, p in REMOTE_CLASSES],
            "class_qid string, class_label string, parent_qid string"),
        "closure": spark.createDataFrame(
            class_closure(), "class_qid string, ancestor_qid string, depth int"),
        "props": spark.createDataFrame(
            PROP_LABELS, "prop string, prop_label string"),
    }


def same_as(local_labels: DataFrame, entities: DataFrame,
            label_col: str = "label") -> DataFrame:
    """owl:sameAs: local label -> remote qid by exact lowercase label
    match (the reference materializes these links per entity,
    link_entities.py; here the dimension IS the link table). Inner join:
    unlinked labels have nothing to federate.

    Order of operations is the scale point: the broadcast probe runs
    FIRST and the distinct() after it, so the only shuffle carries rows
    that matched the dimension (bounded by |entities| distinct keys) —
    a distinct() before the join would shuffle the corpus's full
    distinct-token set. Identical semantics because dim labels are
    unique (enforced by _validate_snapshot), so join-then-distinct ==
    distinct-then-join."""
    dim = F.broadcast(entities.select(
        F.col("label").alias("__rlabel"), "qid"))
    return (local_labels
            .select(F.lower(F.trim(F.col(label_col))).alias("label"))
            .join(dim, F.col("label") == F.col("__rlabel"))
            .drop("__rlabel")
            .distinct())


def _value_labels(r: dict[str, DataFrame]) -> DataFrame:
    """qid -> label for claim objects (entities union classes)."""
    return (r["entities"].select("qid", "label")
            .unionByName(r["classes"].select(
                F.col("class_qid").alias("qid"),
                F.col("class_label").alias("label"))))


def fed_properties(linked: DataFrame, r: dict[str, DataFrame],
                   k: int = 30) -> DataFrame:
    """W1: every direct claim of each linked entity with human-readable
    property/value labels, top-k per entity by (prop_label, value_label).
    SKILL.md:477-488."""
    from pyspark.sql import Window

    vals = F.broadcast(_value_labels(r).withColumnsRenamed(
        {"qid": "o_qid", "label": "value_label"}))
    props = F.broadcast(r["props"])
    cl = (linked.join(F.broadcast(r["claims"]),
                      F.col("qid") == F.col("s_qid"))
          .join(props, "prop").join(vals, "o_qid"))
    w = Window.partitionBy("qid").orderBy("prop_label", "value_label")
    return (cl.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= k)
            .select("label", "qid", "prop_label", "value_label")
            .orderBy("label", "prop_label", "value_label"))


def fed_peers(linked: DataFrame, r: dict[str, DataFrame],
              k: int = 20) -> DataFrame:
    """W2: other instances of each linked entity's P31 class — discovers
    remote-only alternatives. Top-k per entity by peer_label.
    SKILL.md:500-516."""
    from pyspark.sql import Window

    ent = F.broadcast(r["entities"])
    mine = (linked.join(ent.select("qid", "class_qid"), "qid"))
    peers = (mine.join(
        ent.select(F.col("qid").alias("peer_qid"),
                   F.col("label").alias("peer_label"),
                   F.col("description").alias("peer_description"),
                   F.col("class_qid")),
        "class_qid")
        .where(F.col("peer_qid") != F.col("qid")))
    cls = F.broadcast(r["classes"].select("class_qid", "class_label"))
    w = Window.partitionBy("qid").orderBy("peer_label")
    return (peers.join(cls, "class_qid")
            .withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= k)
            .select("label", "class_label", "peer_label", "peer_description")
            .orderBy("label", "peer_label"))


def fed_disambiguation(linked: DataFrame, r: dict[str, DataFrame]
                       ) -> DataFrame:
    """W3: remote label + description for each sameAs link — the
    trust-but-verify lookup. SKILL.md:518-530."""
    ent = F.broadcast(r["entities"].select(
        "qid", F.col("label").alias("remote_label"), "description"))
    return (linked.join(ent, "qid")
            .select("label", "qid", "remote_label", "description")
            .orderBy("label"))


def fed_categories(linked: DataFrame, r: dict[str, DataFrame]) -> DataFrame:
    """W4: the P279* ancestor chain of each linked entity's P31 class
    (reflexive, per SPARQL `*`), with depth. The closure is precomputed
    driver-side over the dimension-sized class forest (class_closure)
    and broadcast — no iterative join over the corpus. SKILL.md:532-539."""
    ent = F.broadcast(r["entities"].select("qid", "class_qid"))
    clo = F.broadcast(r["closure"])
    cls = F.broadcast(r["classes"].select(
        F.col("class_qid").alias("ancestor_qid"),
        F.col("class_label").alias("ancestor_label")))
    base = F.broadcast(r["classes"].select("class_qid", "class_label"))
    return (linked.join(ent, "qid").join(clo, "class_qid")
            .join(cls, "ancestor_qid").join(base, "class_qid")
            .select("label", "class_label", "ancestor_label", "depth")
            .orderBy("label", "depth", "ancestor_label"))


def fed_bridge(linked: DataFrame, r: dict[str, DataFrame],
               k: int = 10) -> DataFrame:
    """W5: how two linked entities connect remotely — direct claims
    first, then 2-hop bridges through a mid entity, top-k per ordered
    pair. The pair frame is the linked set self-joined: linked is
    distinct-label (dimension-shaped after same_as), so this never
    touches corpus cardinality. SKILL.md:541-565."""
    from pyspark.sql import Window

    # pairs are NEVER materialized quadratically: both arms start from
    # the claim edges (broadcast dim) and equi-join the linked set onto
    # each end, so only connected pairs exist in the plan — at any
    # linked-set cardinality
    a = linked.select(F.col("label").alias("label_x"),
                      F.col("qid").alias("qx"))
    b = linked.select(F.col("label").alias("label_y"),
                      F.col("qid").alias("qy"))
    claims = r["claims"].where(F.col("prop") != "P31")
    props = F.broadcast(r["props"])
    direct = (a.join(F.broadcast(claims), F.col("qx") == F.col("s_qid"))
              .join(F.broadcast(b), F.col("o_qid") == F.col("qy"))
              .where(F.col("qx") != F.col("qy"))
              .join(props, "prop")
              .select("label_x", "label_y",
                      F.col("prop_label").alias("hop1_prop"),
                      F.lit(None).cast("string").alias("mid_label"),
                      F.lit(None).cast("string").alias("hop2_prop")))
    c1 = claims.withColumnsRenamed(
        {"s_qid": "qx", "prop": "p1", "o_qid": "mid"})
    c2 = claims.withColumnsRenamed(
        {"s_qid": "mid", "prop": "p2", "o_qid": "qy"})
    mids = F.broadcast(r["entities"].select(
        F.col("qid").alias("mid"), F.col("label").alias("mid_label")))
    p1l = F.broadcast(r["props"].withColumnsRenamed(
        {"prop": "p1", "prop_label": "hop1_prop"}))
    p2l = F.broadcast(r["props"].withColumnsRenamed(
        {"prop": "p2", "prop_label": "hop2_prop"}))
    twohop = (a.join(F.broadcast(c1), "qx")
              .join(F.broadcast(c2), "mid")
              .join(F.broadcast(b), "qy")
              .where(F.col("qx") != F.col("qy"))
              .join(mids, "mid").join(p1l, "p1").join(p2l, "p2")
              .select("label_x", "label_y", "hop1_prop", "mid_label",
                      "hop2_prop"))
    w = Window.partitionBy("label_x", "label_y").orderBy(
        F.col("mid_label").isNotNull(), "hop1_prop",
        F.coalesce("mid_label", F.lit("")), F.coalesce("hop2_prop", F.lit("")))
    return (direct.unionByName(twohop)
            .withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= k).drop("__rk")
            .orderBy("label_x", "label_y", "hop1_prop", "mid_label"))


def fed_batch_enrich(linked: DataFrame, r: dict[str, DataFrame]
                     ) -> DataFrame:
    """W6: one-shot class enrichment for every linked entity (the VALUES
    batch analog — here simply one broadcast join for the whole set).
    SKILL.md:567-587."""
    ent = F.broadcast(r["entities"].select("qid", "class_qid"))
    cls = F.broadcast(r["classes"].select("class_qid", "class_label"))
    return (linked.join(ent, "qid").join(cls, "class_qid")
            .select("label", "qid", "class_label")
            .orderBy("label"))
