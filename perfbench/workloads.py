"""The benchmark's workloads: input build, one op, and the op's checks.

Every op resolves the workload's turns from cold caches and materializes
`clusters` and `mention_clusters`. The traced op adds the read mix on the
resolved mention table and, on `er_wide`, a resume pass: the same turns
resolved again with the first pass's scores as the decision cache.
`Workload.op` returns the op's timings and the values its checks compare.
"""

from __future__ import annotations

import hashlib
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench import inputs

# er_batch: the engine's sf-style corpus (144 labels, closed vocabulary)
BATCH_CONVS = 10_000
# er_wide: ~1.6k planted labels (names + ~30% typo variants)
WIDE_BASES = 1_200
WIDE_TYPO_SHARE = 0.3
WIDE_CONVS = 1_000
WIDE_PLANTS = 3
# er_batch must reproduce the reference clusters; er_wide's planted
# variants include chance look-alikes, so its floor sits below the
# lowest F1 seen across seeds
F1_FLOOR = {"er_batch": 0.99, "er_wide": 0.90}
# the traced run's read mix serves the mention rows of this many
# conversations (the first by conv_id): co_occurrence and
# two_hop_neighbors are self-joins whose cost grows with conversations x
# clusters-per-conversation squared
SERVED_CONVS = 1_000
# incremental phase of the traced er_batch run: state over a slice of the
# corpus, then one merge of new conversations plus one changed one
SERVE_STATE_CONVS = 2_000
SERVE_NEW_CONVS = 50


def clusters_fingerprint(clusters: DataFrame) -> str:
    rows = sorted((r["label"], r["cluster_id"]) for r in clusters.collect())
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


@dataclass
class OpResult:
    resolve_s: float
    f1: float
    fingerprint: str
    mention_rows: int
    resume_s: float | None = None
    resume_fingerprint: str | None = None
    read_rows: dict[str, int] = field(default_factory=dict)


class Workload:
    """One workload's seeded input and its op.

    `span(name)` is a context manager factory; the untraced run passes a
    no-op one, the traced run the ledger's."""

    def __init__(self, spark: SparkSession, name: str, seed: int):
        from session_graph_spark.plans.pipeline import alias_df

        self.spark = spark
        self.name = name
        self.seed = seed
        self.aliases = alias_df(spark).localCheckpoint(eager=True)
        if name == "er_batch":
            from session_graph_spark import corpus

            self.turns = corpus.generate_turns_distributed(
                spark, n_convs=BATCH_CONVS, seed=seed).localCheckpoint(eager=True)
            pairs = corpus.labeled_pairs_pdf()[["surface_a", "surface_b", "is_match"]]
        elif name == "er_wide":
            labels, variants = inputs.wide_vocabulary(WIDE_BASES, WIDE_TYPO_SHARE, seed)
            pdf = inputs.wide_turns_pdf(labels, WIDE_CONVS, WIDE_PLANTS, seed)
            self.turns = spark.createDataFrame(
                pdf, inputs.TURN_SCHEMA).localCheckpoint(eager=True)
            pairs = inputs.wide_labeled_pairs(variants, seed)
        else:
            raise ValueError(f"unknown workload {name!r}")
        self.labeled_pairs = spark.createDataFrame(pairs).localCheckpoint(eager=True)
        self.n_turns = self.turns.count()
        self.served: list[str] | None = None

    def truth_pairs(self) -> DataFrame:
        """Positive labeled pairs as canonical (label_a < label_b) pairs
        whose two sides stay distinct after alias normalization: the pairs
        blocking has to find."""
        from session_graph_spark.functions.normalize import apply_aliases

        def canon(side: str) -> DataFrame:
            return (apply_aliases(self.labeled_pairs.where("is_match"), self.aliases,
                                  f"surface_{side}", f"c_{side}"))

        a = canon("a").select("surface_a", "surface_b", "c_a")
        b = canon("b").select("surface_a", "surface_b", "c_b")
        j = a.join(b, ["surface_a", "surface_b"]).where(F.col("c_a") != F.col("c_b"))
        return j.select(F.least("c_a", "c_b").alias("label_a"),
                        F.greatest("c_a", "c_b").alias("label_b")).distinct() \
            .localCheckpoint(eager=True)

    def read_mix(self, mc: DataFrame, span) -> dict[str, int]:
        """hub_entities, co_occurrence and two_hop_neighbors(<top hub>) on
        the served conversations' mention rows; returns each read's row
        count. The two-hop query starts from the top hub's cluster id (a
        cluster id is its component's minimum label, so a fixed label
        such as 'python' can name no cluster)."""
        from session_graph_spark import queries

        if self.served is None:
            self.served = [r[0] for r in self.turns.select("conv_id").distinct()
                           .orderBy("conv_id").limit(SERVED_CONVS).collect()]
        mc = mc.where(F.col("conv_id").isin(self.served))
        with span("queries.hub_entities"):
            hubs = queries.hub_entities(mc).collect()
        with span("queries.co_occurrence"):
            co = queries.co_occurrence(mc).collect()
        with span("queries.two_hop_neighbors"):
            hop = queries.two_hop_neighbors(mc, hubs[0]["cluster_id"]).collect() \
                if hubs else []
        return {"hub_entities": len(hubs), "co_occurrence": len(co),
                "two_hop_neighbors": len(hop)}

    def _resolve_pass(self, span, root: str, decisions: DataFrame | None = None):
        from session_graph_spark.plans.pipeline import resolve

        self.spark.catalog.clearCache()
        t0 = time.perf_counter()
        with span(root):
            res = resolve(self.spark, self.turns, aliases=self.aliases,
                          decisions=decisions)
            res.clusters.count()
            with span("joinback") as s:
                mc = res.mention_clusters.cache()
                n = mc.count()
                if s is not None:
                    s.counts["rows_out"] = n
        return res, mc, n, time.perf_counter() - t0

    def op(self, span, traced: bool = False) -> OpResult:
        """A cold resolve through materialized outputs. The traced op then
        runs the read mix and, on er_wide, the resume pass."""
        from session_graph_spark.eval import pairwise_f1

        res, mc, n_rows, resolve_s = self._resolve_pass(span, "resolve")
        out = OpResult(resolve_s=resolve_s,
                       f1=pairwise_f1(res.clusters, self.labeled_pairs, self.aliases).f1,
                       fingerprint=clusters_fingerprint(res.clusters),
                       mention_rows=n_rows)
        if traced:
            out.read_rows = self.read_mix(mc, span)
        if traced and self.name == "er_wide":
            decisions = res.pairs_scored.select(
                "label_a", "label_b", "score").localCheckpoint(eager=True)
            res2, _, _, out.resume_s = self._resolve_pass(span, "resume", decisions)
            out.resume_fingerprint = clusters_fingerprint(res2.clusters)
        self.spark.catalog.clearCache()
        return out

    def incremental_merge(self, ledger, state_dir: str) -> int:
        """Build an IncrementalRunner state over a slice of the corpus
        (untimed), then merge one batch of new conversations plus one
        changed one inside an `incremental` span whose resolve call is a
        child span. Returns the merge's output row count."""
        import json
        from pathlib import Path

        from session_graph_spark import corpus
        from session_graph_spark.plans.pipeline import resolve
        from session_graph_spark.streaming.incremental import IncrementalRunner

        from perfbench.ledger import install_wrappers

        traced = {"on": False}

        def resolve_fn(t):
            if not traced["on"]:
                return resolve(self.spark, t, aliases=self.aliases, min_sessions=1)
            with ledger.span("resolve"):
                return resolve(self.spark, t, aliases=self.aliases, min_sessions=1)

        runner = IncrementalRunner(self.spark, state_dir, resolve_fn=resolve_fn)
        base = self.turns.where(F.col("conv_id") < f"conv-{SERVE_STATE_CONVS:07d}")
        runner.run(base)
        changed = (base.where(F.col("conv_id") == "conv-0000000")
                   .withColumn("text", F.concat("text", F.lit(" changed"))))
        new = (corpus.generate_turns_distributed(self.spark, n_convs=SERVE_NEW_CONVS,
                                                 seed=self.seed + 1)
               .withColumn("conv_id", F.concat(F.lit("new-"), "conv_id")))
        batch = new.unionByName(changed).localCheckpoint(eager=True)
        self.spark.catalog.clearCache()

        def manifests() -> dict[str, dict]:
            return {f.parent.name: json.loads(f.read_text())["parts"]
                    for f in Path(state_dir).glob("*/_MANIFEST.json")}

        before = manifests()
        restore = install_wrappers(ledger, None)
        traced["on"] = True
        try:
            with ledger.span("incremental") as s:
                rows = runner.run(batch).count()
        finally:
            traced["on"] = False
            restore()
        after = manifests()
        s.counts["convs_in"] = batch.select("conv_id").distinct().count()
        s.counts["parts_rewritten"] = sum(
            1 for t in after for k, g in after[t].items()
            if before.get(t, {}).get(k) != g)
        return rows

    def check(self, r: OpResult, reference: OpResult | None) -> list[str]:
        """Problems with one op's output; empty when it is correct."""
        bad = []
        if r.f1 < F1_FLOOR[self.name]:
            bad.append(f"pair_f1 {r.f1:.4f} < {F1_FLOOR[self.name]}")
        for q, n in r.read_rows.items():
            if n == 0:
                bad.append(f"{q} returned no rows")
        if r.resume_fingerprint is not None and r.resume_fingerprint != r.fingerprint:
            bad.append("resume clusters differ from the cold pass")
        if reference is not None:
            if r.fingerprint != reference.fingerprint:
                bad.append("clusters differ from the first op of this seed")
            if r.mention_rows != reference.mention_rows:
                bad.append("mention_clusters row count differs from the first op")
        return bad
