"""End-to-end entity-resolution pipeline (SURVEY.md §3.2 Spark lifecycle).

turns -> mentions -> normalized labels -> blocking -> pairwise scoring ->
connected components -> canonical clusters, as one ordered stage list
(resolve). Each stage is materialized through plans.checkpoint.StageStore,
whose policy is the only thing `checkpoint_dir` changes: in-memory caches
by default, keyed parquet checkpoints (resume) when a directory is given.
A decision cache skips rescoring known pairs.

Stage boundaries follow the reference's link_entities entry point:
  P9 subagent filter, P3 min-length, P4 assistant-only
  F1 deterministic extraction (+ L1 validity inside)
  N2/N4 normalization + alias broadcast join (on per-conv distinct labels)
  P6 L2 linkability filter
  P7 min-sessions frequency filter (countDistinct conv_id >= 2)
  M2 blocking (exact slug key + MinHash-LSH)
  M3 scoring (Arrow-batched JW/Lev/trigram kernel, threshold 0.7)
  M4 large-star/small-star connected components
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from session_graph_spark.data import alias_rows
from session_graph_spark.functions import filters as Flt
from session_graph_spark.functions.filters import is_linkable_entity
from session_graph_spark.functions.normalize import (alias_preimage,
                                                     apply_aliases, slug)
from session_graph_spark.functions.similarity import MATCH_THRESHOLD
from session_graph_spark.operators.blocking import candidate_pairs
from session_graph_spark.operators.cc import assign_clusters
from session_graph_spark.operators.extract import (explode_mention_arrays,
                                                   extract_mention_arrays,
                                                   extract_mentions)
from session_graph_spark.operators.scoring import match_edges, score_pairs
from session_graph_spark.plans.checkpoint import StageStore

MIN_SESSIONS = 2  # reference --min-sessions default (link_entities.py:824-828)

# NOTE: the round-5 CTX_SAMPLE_SALTS salted two-phase top-K was removed
# in round 6 — Spark's rank-limit pushdown (WindowGroupLimit) already
# bounds the per-task work of the context-sample window map-side, and
# the salt actively defeated it (see _mention_context).


@dataclass
class ResolutionResult:
    mentions: DataFrame
    labels: DataFrame          # distinct (canon_label, block_key, n_sessions)
    pairs_scored: DataFrame    # (label_a, label_b, score)
    edges: DataFrame           # matches >= threshold
    clusters: DataFrame        # (label, cluster_id)
    mention_clusters: DataFrame  # mentions + cluster_id
    metrics: dict = field(default_factory=dict)
    store: StageStore | None = field(default=None, repr=False)

    def unpersist(self) -> None:
        """Release the stages the memory policy cached. A long-lived
        service that calls resolve() per batch (IncrementalRunner) would
        otherwise accumulate one set of cached stages per batch in the
        executor block manager — call this once every consumer has
        severed lineage (collect/localCheckpoint/write)."""
        if self.store is not None:
            self.store.release()


def alias_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(alias_rows(), ["surface", "canonical"])


def prepare_turns(turns: DataFrame) -> DataFrame:
    """P9 subagent filter (narrow — no shuffle here; the U2 dedup happens
    inside mentions_from_turns AFTER the row filters so the shuffle moves
    only assistant turns' projected columns, not every raw row)."""
    t = turns
    if "source_file" in t.columns:
        t = t.where(Flt.not_subagent())
    return t


def _extraction_input(turns: DataFrame) -> DataFrame:
    """P3/P4 row filters + the five-column projection extraction reads."""
    base = turns.where(Flt.assistant_only() & Flt.min_length_filter())
    if "platform" not in base.columns:
        base = base.withColumn("platform", F.lit("unknown"))
    return base.select("conv_id", "turn_idx", "platform", "ts", "text")


def mentions_from_turns(turns: DataFrame, with_offsets: bool = False) -> DataFrame:
    """M1: extraction input filters + deterministic extraction, one row
    per mention. Serves the consumers that do not materialize first (the
    triples offsets path, the queries); resolve() extracts the per-turn
    array form instead (mention_arrays_from_turns).

    with_offsets=True carries each mention's char offset (triple
    construction path; the ER pipeline itself never reads offsets and
    keeps the narrower mention shuffle).

    Turn identity is the ingest layer's contract: the readers emit unique
    (conv_id, turn_idx) and the watermark path (P12/ST3) dedups
    re-delivered conversations, so extraction does not re-check it."""
    return extract_mentions(_extraction_input(turns), with_offsets=with_offsets)


def mention_arrays_from_turns(turns: DataFrame) -> DataFrame:
    """Same input filters as mentions_from_turns, but stopping at the
    per-turn mention-label ARRAY (extract.extract_mention_arrays) — the
    form resolve()'s mentions stage materializes: one row per turn
    instead of one per mention, no per-mention conv_id/mention_id
    duplication in the cached or written bytes. `explode_mention_arrays`
    on this output is expression-identical to mentions_from_turns."""
    return extract_mention_arrays(_extraction_input(turns))


def normalized_labels_from_arrays(
    m_arrays: DataFrame, aliases: DataFrame, min_sessions: int = MIN_SESSIONS
) -> DataFrame:
    """N4 alias join + P6 linkability + P7 frequency filter over the
    per-turn mention-label ARRAYS (the form resolve()'s mentions stage
    materializes); one row per surviving distinct label with its session
    count and block key. Row-identical to the classic per-mention form,
    the reference in tests/test_r7_pipeline_equiv.py.

    The arrays are aggregated by conv_id FIRST (collect_list of per-turn
    arrays: one append per turn row, ~10x fewer partial-aggregate inputs
    than mention rows) and deduped in-array, so the alias broadcast join
    probes each conversation's DISTINCT labels, not every mention row —
    the r7 probe priced the per-mention shape at 21.0s vs 13.0s for the
    per-conv form (then with a literal-map lookup) at sf1.0/local[32]
    (probe in commit 4247e06, interleaved best-of-3, identical output
    fingerprints). The (conv_id, canon_label)
    distinct then runs on the conv_id partitioning the grouping left
    behind (no exchange of its own; scripts/explain_plans.py asserts it),
    so count(*) per label == countDistinct(conv_id) and the only other
    exchange carries label-cardinality partial counts.

    Curated alias canonicals bypass L2 (whitelist semantics): a canonical
    like 'node.js' would otherwise hit the file-extension rule even though
    it is a known-good dictionary entry. The whitelist is a broadcast
    left-join flag, so neither dimension is ever collected to the driver
    and the dictionary may be any size."""
    per_conv = (
        m_arrays.groupBy("conv_id")
        .agg(F.array_distinct(F.flatten(F.collect_list("norm_labels")))
             .alias("ls"))
        .select("conv_id", F.explode("ls").alias("norm_label"))
    )
    counts = (
        apply_aliases(per_conv, aliases, label_col="norm_label",
                      out_col="canon_label")
        .select("conv_id", "canon_label").distinct()
        .groupBy("canon_label").agg(F.count("*").alias("n_sessions"))
        .where(F.col("n_sessions") >= min_sessions)
    )
    canon_dim = F.broadcast(
        aliases.select(F.col("canonical").alias("canon_label")).distinct()
        .withColumn("__is_canon", F.lit(True))
    )
    return (
        counts.join(canon_dim, "canon_label", "left")
        .where(is_linkable_entity(F.col("canon_label"))
               | F.col("__is_canon").isNotNull())
        .drop("__is_canon")
        .withColumn("block_key", slug("canon_label"))
    )


def _mention_context(mentions: DataFrame, aliases: DataFrame,
                     labels: DataFrame, wanted: DataFrame) -> DataFrame | None:
    """Per-canonical-label top-5 co-mention context vectors for the
    scoring bonus, or None when the band is empty (nothing the bonus can
    flip). Three scale bounds keep this stage O(band x evidence), never
    O(corpus):

    - COVERAGE: vectors are built only for `wanted` (the borderline band
      labels, scoring.band_labels) — the only labels whose vector the
      gated bonus can consult;
    - EVIDENCE: each label's vector aggregates a deterministic
      hash-spread sample of CTX_EVIDENCE_TURNS of its turns (ordered by
      md5(conv|turn) — see similarity.CTX_EVIDENCE_TURNS for why NOT
      first-K) — band labels are often hot tokens ('not', 'apache
      spark') whose full turn set is a large fraction of the corpus,
      while a spread sample estimates their top-5 without corpus-sized
      aggregation;
    - CONTENT: co-occurrence counts only labels from the SURVIVING set
      (min-sessions filter) — one-off labels are noise as context.

    The derivation makes two narrow passes over the mention table (pick
    the sample turns; gather co-mentions on them); every wide operation
    runs on band-sized data. Both passes key the corpus scan on the RAW
    norm_label / turn key: canonicalizing first and filtering on
    apply_aliases' output (a coalesce over the join result, which
    Catalyst cannot push below the join) ran every corpus mention row
    through 2-3 broadcast probes before discarding it — measured
    corpus-scan-bound under load (round-6 pools in commit 4247e06: 4x
    more band rows moved the 1-core stage only 14.3s -> 16.6s). The
    sample pass therefore probes the band's preimage under aliasing
    (normalize.alias_preimage: a dim-sized broadcast that carries each
    row's canon_label), one probe per mention row at any band or
    dictionary size, with nothing collected to the driver. The result is
    lazy; resolve() caches it for the two broadcast builds in
    apply_context_bonus."""
    from pyspark.sql import Window

    from session_graph_spark.functions.similarity import CTX_EVIDENCE_TURNS

    if wanted.isEmpty():
        return None
    raw_m = mentions.select("conv_id", "turn_idx", "norm_label")
    band_m = raw_m.join(F.broadcast(alias_preimage(aliases, wanted)),
                        "norm_label")
    # hash-spread order: an unbiased deterministic sample of the label's
    # turns (md5 is identical in Spark and DuckDB, so the oracle mirrors
    # the exact sample); conv/turn tiebreak for md5-collision paranoia.
    # Top-K rides Spark's rank-limit pushdown (WindowGroupLimit, Spark
    # 3.5+): a `dense_rank() <= K` filter plans a PARTIAL group-limit on
    # the map side, so each scan partition keeps only its first K
    # distinct turns per label (heap scan, no shuffle of the label's
    # full turn set) and the per-label exchange carries <= K rows per
    # label per map partition — a hot label's billions of rows never
    # reach one task. dense_rank (not row_number) because the input is
    # NOT pre-deduped: the order key (md5, conv, turn) is a pure
    # function of (conv, turn), so ties are exactly duplicate turn rows
    # (two surfaces canonicalizing to one label) and rank <= K selects
    # precisely the first K distinct turns; the residual dup rows are
    # dropped on the tiny post-limit frame. Deduping this way (instead
    # of the round-5 distinct() + salted two-phase row_number) matters
    # twice at scale: the distinct was a full band-sized shuffle whose
    # output AQE legitimately coalesces to few partitions when the
    # band's shuffle BYTES are small — which then serialized the
    # downstream sort + partial group-limit into those few tasks (the
    # round-6 counted pool read ctx_build 0.346 at 1v4,
    # counted pool in commit 4247e06) — and the 64-way salt
    # multiplied the partial limit's groups 64x, so at <= 64*K rows
    # kept per partition the map-side reduction never reduced anything.
    # Dropping both runs the group-limit directly on the cached
    # mention-scan partitioning.
    sample_key = F.md5(
        F.concat_ws("|", F.col("conv_id"), F.col("turn_idx").cast("string"))
    )
    w2 = Window.partitionBy("canon_label").orderBy(
        sample_key, "conv_id", "turn_idx"
    )
    # residual dup rows (same turn, two surfaces) are NOT dropped here:
    # the gather pass's count_distinct collapses the duplicate join
    # matches they produce, so a dropDuplicates would spend an extra
    # exchange + stage inside the broadcast build to remove rows the
    # aggregate already ignores
    sampled = (
        band_m.select("canon_label", "conv_id", "turn_idx")
        .withColumn("__rk", F.dense_rank().over(w2))
        .where(F.col("__rk") <= CTX_EVIDENCE_TURNS)
        .select(F.col("canon_label").alias("__band"), "conv_id", "turn_idx")
    )
    # gather pass: probe the corpus scan against the broadcast sample
    # keys FIRST (one hash probe per mention row), then canonicalize and
    # apply the CONTENT bound (surviving labels only) on the sampled
    # turns' rows — band-sized, not corpus-sized
    co = (
        apply_aliases(
            raw_m.join(F.broadcast(sampled), ["conv_id", "turn_idx"]),
            aliases, label_col="norm_label", out_col="canon_label")
        # labels is one row per canon_label by construction (the labels
        # stage's groupBy) — no distinct shuffle in this broadcast build
        .join(F.broadcast(labels.select("canon_label")),
              "canon_label", "left_semi")
        .where(F.col("canon_label") != F.col("__band"))
        # both inputs can carry dups (two surfaces -> one canonical);
        # co-occurrence counts distinct turns — count_distinct's partial
        # aggregation dedups map-side in the SAME shuffle as the count
        # (the former dropDuplicates + count was a second full shuffle
        # and an extra codegen stage of per-job latency)
        .select("__band", "conv_id", "turn_idx",
                F.col("canon_label").alias("ctx"))
        .groupBy("__band", "ctx")
        .agg(F.count_distinct("conv_id", "turn_idx").alias("n"))
    )
    # top-5 by (n desc, ctx asc) fused into the per-band aggregate:
    # array_sort on (-n, ctx) structs == the former rank window's order,
    # so slice(.., 1, 5) selects the identical five and sort_array
    # yields the identical context vector — one aggregate stage instead
    # of window + filter + aggregate (each a codegen stage of fixed
    # latency on a frame that is band-sized anyway)
    return (
        co.groupBy("__band")
        .agg(F.sort_array(F.transform(
            F.slice(F.array_sort(F.collect_list(
                F.struct((-F.col("n")).alias("a"), F.col("ctx").alias("b")))),
                1, 5),
            lambda x: x["b"])).alias("context"))
        .withColumnRenamed("__band", "canon_label")
    )


def resolve(
    spark: SparkSession,
    turns: DataFrame,
    aliases: DataFrame | None = None,
    min_sessions: int = MIN_SESSIONS,
    threshold: float = MATCH_THRESHOLD,
    checkpoint_dir: str | None = None,
    decisions: DataFrame | None = None,
    max_parallelism: int | None = None,
) -> ResolutionResult:
    """Run the full ER pipeline. All heavy lifting is DataFrame ops; Python
    only runs inside Arrow-batched UDFs (L2 filter, LSH, scoring).

    One ordered stage list — mentions (per-turn label arrays), labels,
    pairs, scored, clusters — each materialized through
    `StageStore.stage`. `checkpoint_dir` only picks the store's policy:
    None caches every stage in memory (released by
    ResolutionResult.unpersist()); a directory writes each stage as
    parquet under a key that folds in every input shaping it — data
    fingerprints AND config — so a re-run reuses exactly the stages
    whose inputs did not change. Stage functions are looked up as module
    globals when each stage runs, so a tracer can rebind them.

    Labels canonicalize one way, a broadcast join on the alias table:
    apply_aliases in the labels stage, and its preimage
    (normalize.alias_preimage) where raw mention rows must land in a
    label set (the context band, the mention_clusters join-back). The
    alias table is never collected to the driver, so its size is bounded
    by the broadcast threshold, not by plan literals.

    decisions: a (label_a, label_b, score) cache from an earlier run;
    cached pairs are reused without rescoring (score_pairs).

    max_parallelism: optional cap on concurrent extraction tasks (a
    shuffle-free coalesce of the turns input). The regex/extraction stage
    is memory-bandwidth-bound, not ALU-bound — on this host class
    per-task throughput degrades ~6x at 16 concurrent tasks and ~23x at
    32 (BENCH.md microbench) — so above the knee, fewer fatter tasks run
    faster. Scoped HERE rather than a session-wide spark.task.cpus so
    sub-second shuffle queries on the same session keep full parallelism
    (the round-2 global knob cost them ~2x).

    Scores blend the surrounding-turn-context signal per the north star
    ("mention strings AND surrounding turn context"): for kernel scores
    in [threshold - CTX_WEIGHT, threshold), score = min(kernel +
    CTX_WEIGHT * jaccard(top-5 co-mention context vectors), 1.0); other
    scores stay the pure kernel. The band gate is exact, not
    approximate: an additive bonus of at most CTX_WEIGHT cannot flip any
    decision outside that band, so the context aggregation runs only
    over turns containing a borderline label (scoring.band_labels +
    _mention_context) instead of the whole corpus."""
    aliases = aliases if aliases is not None else alias_df(spark)

    turns = prepare_turns(turns)
    if max_parallelism:
        turns = turns.coalesce(max_parallelism)

    store = StageStore(spark, checkpoint_dir)
    ctx_caches: list[DataFrame] = []

    def ctx_builder(scored_fresh: DataFrame) -> DataFrame | None:
        from session_graph_spark.operators import scoring

        ctx = _mention_context(mentions, aliases, labels,
                               scoring.band_labels(scored_fresh))
        if ctx is None:
            return None
        # the two broadcast builds in apply_context_bonus both read it:
        # the first populates the cache for the second
        ctx_caches.append(ctx.cache())
        return ctx

    try:
        turns_fp = store.fingerprint(turns.select("conv_id", "turn_idx", "text"))
        alias_fp = store.fingerprint(aliases)
        # mentions are materialized as per-turn label ARRAYS, not exploded
        # rows: ~10x fewer rows and no per-mention conv_id/mention_id
        # bytes, and materializing is this stage's cost (cache population
        # was ~19s of the 57.9s stage at sf1.0/local[32] while reads were
        # sub-second — probe in commit 4247e06). The form is part of the
        # key: a directory written when this stage held exploded rows is
        # recomputed, not read back as arrays. The recorded row count is
        # the MENTION count, the sum of the array sizes
        m_arrays = store.stage(
            "mentions", f"arrays:{turns_fp}",
            lambda: mention_arrays_from_turns(turns),
            rows=lambda df: df.agg(F.sum(F.size("norm_labels"))).collect()[0][0])
        # the row consumers (ctx, mention_clusters) scan the materialized
        # arrays and explode in-stage
        mentions = explode_mention_arrays(m_arrays)
        labels = store.stage(
            "labels", f"{turns_fp}:{alias_fp}:ms={min_sessions}",
            lambda: normalized_labels_from_arrays(m_arrays, aliases, min_sessions))
        labels_fp = store.fingerprint(labels)
        decisions_fp = store.fingerprint(decisions) if decisions is not None else "none"
        pairs = store.stage(
            "pairs", labels_fp,
            lambda: candidate_pairs(labels, label_col="canon_label",
                                    block_col="block_key"))
        # ctx derives from mentions+aliases but is NOT a function of the
        # labels table alone (co-occurrence can change while the distinct
        # label set stays fixed), so the key carries the turns+alias
        # fingerprints too. A reused stage never calls ctx_builder
        score_key = f"{labels_fp}:dec={decisions_fp}:ctx={turns_fp}:{alias_fp}"
        scored = store.stage(
            "scored", score_key,
            lambda: score_pairs(pairs, decisions=decisions,
                                context_builder=ctx_builder))
        edges = match_edges(scored, threshold)
        clusters = store.stage(
            "clusters", f"{score_key}:th={threshold}",
            lambda: assign_clusters(labels, edges, label_col="canon_label"))
    except Exception:
        # a failure mid-build (poison data in extraction, scoring ...)
        # must not leak the caches materialized before it — the
        # quarantine path's bisection probes hit this repeatedly and
        # would otherwise accumulate orphaned cached stages exactly when
        # memory is already tight
        store.release()
        raise
    finally:
        for c in ctx_caches:  # scored is materialized; the ctx cache is dead
            c.unpersist()

    # ONE broadcast probe: the former apply_aliases-then-inner-join
    # shape ran every mention row through two broadcast hash probes
    # (~10s of the 11s mention_clusters action at sf1.0/local[32], r7
    # probe: the bare cache scan is 0.9s). Joining on the preimage of
    # `clusters` under aliasing keeps the inner-join semantics exactly:
    # a mention row survives iff its canonical label is clustered, with
    # the same canon_label/cluster_id values
    cl = clusters.select(F.col("label").alias("canon_label"), "cluster_id")
    mention_clusters = (
        mentions.join(F.broadcast(alias_preimage(aliases, cl)), "norm_label")
        .select("conv_id", "turn_idx", "platform", "ts", "mention",
                "norm_label", "mention_id", "pos", "canon_label",
                "cluster_id")
    )

    return ResolutionResult(
        mentions=mentions, labels=labels, pairs_scored=scored, edges=edges,
        clusters=clusters, mention_clusters=mention_clusters,
        metrics=dict(store.manifest),
        store=store,
    )
