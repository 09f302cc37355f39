"""Traced per-layer ledger: spans around the engine's layer entry points.

A span records its name, parent, wall time and self time (wall minus the
part its child spans cover). While a span is the innermost open span, the
Spark jobs it launches run under a job group of its own; when it closes,
the group's stages are read back from the status store, so each span also
carries executor time, shuffle bytes, spill and task counts. A stage is
attributed to the first span that sees it (a stage reused by a later job
is skipped there, not counted twice).

`install_wrappers` rebinds the layer functions where `plans.pipeline`
(and `operators.scoring` for `band_labels`) looks them up, so the traced
run measures the unmodified `resolve()` from the outside. Each wrapper
forces its output to materialize (cache + count) inside its span; that
extra work is the tracing overhead the traced run reports.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STAGE_FIELDS = ("exec_s", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "tasks")


class Span:
    __slots__ = ("id", "name", "parent", "wall_s", "child_s", "counts", "stages")

    def __init__(self, span_id: int, name: str, parent: "Span | None"):
        self.id = span_id
        self.name = name
        self.parent = parent
        self.wall_s = 0.0
        self.child_s = 0.0
        self.counts: dict[str, float] = {}
        self.stages = dict.fromkeys(STAGE_FIELDS, 0.0)

    @property
    def self_s(self) -> float:
        return self.wall_s - self.child_s

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name,
                "parent": self.parent.id if self.parent else None,
                "wall_s": self.wall_s, "self_s": self.self_s,
                **self.stages, **self.counts}


class Ledger:
    """In-memory span store for one traced run."""

    def __init__(self, spark, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seen_stages: set[int] = set()
        self._ids = itertools.count()
        self._store = self.sc._jsc.sc().statusStore()
        self._group = "perfbench:idle"
        self.sc.setJobGroup(self._group, self._group)

    @contextmanager
    def span(self, name: str):
        parent = self.current
        s = Span(next(self._ids), name, parent)
        outer_group = self._group
        self._group = f"perfbench:{s.id}:{name}"
        self.sc.setJobGroup(self._group, name)
        self._stack.append(s)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.wall_s = time.perf_counter() - t0
            self._stack.pop()
            self._collect_stages(s, self._group)
            self._group = outer_group
            self.sc.setJobGroup(outer_group, outer_group)
            if parent is not None:
                parent.child_s += s.wall_s
            self.spans.append(s)

    @property
    def current(self) -> Span | None:
        """The innermost open span."""
        return self._stack[-1] if self._stack else None

    def _collect_stages(self, s: Span, group: str) -> None:
        tracker = self.sc.statusTracker()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            for sid in (info.stageIds if info else ()):
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: never submitted
                    continue
                s.stages["exec_s"] += st.executorRunTime() / 1000.0
                s.stages["shuffle_read_bytes"] += (st.shuffleRemoteBytesRead()
                                                   + st.shuffleLocalBytesRead())
                s.stages["shuffle_write_bytes"] += st.shuffleWriteBytes()
                s.stages["spill_bytes"] += (st.memoryBytesSpilled()
                                            + st.diskBytesSpilled())
                s.stages["tasks"] += st.numTasks()

    def storage_bytes(self) -> int:
        """Bytes held by cached blocks (memory + disk) right now."""
        return sum(int(i.memSize()) + int(i.diskSize())
                   for i in self.sc._jsc.sc().getRDDStorageInfo())

    def layer_metrics(self, layers: list[str]) -> dict[str, float]:
        """Per-layer sums over every span of that name: wall and self time,
        the span's own stage metrics, idle share and its counters."""
        out: dict[str, float] = {}
        for layer in layers:
            spans = [s for s in self.spans if s.name == layer]
            wall = sum(s.wall_s for s in spans)
            self_s = sum(s.self_s for s in spans)
            out[f"{layer}.wall_s"] = wall
            out[f"{layer}.self_s"] = self_s
            for k in STAGE_FIELDS:
                out[f"{layer}.{k}"] = sum(s.stages[k] for s in spans)
            # share of the span's own core-seconds no task ran in
            out[f"{layer}.idle_share"] = (
                1.0 - out[f"{layer}.exec_s"] / (self_s * self.cores)
                if self_s > 0 else 0.0)
            for s in spans:
                for k, v in s.counts.items():
                    out[f"{layer}.{k}"] = out.get(f"{layer}.{k}", 0.0) + v
        return out


def _materialize(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.cache()
    return df, df.count()


def install_wrappers(ledger: Ledger, truth_pairs: DataFrame | None):
    """Rebind the layer entry points `resolve()` calls to span-recording,
    output-materializing wrappers. Returns a function that restores the
    originals. `truth_pairs` (label_a < label_b) is what blocking recall
    is measured against."""
    from session_graph_spark.functions.similarity import MATCH_THRESHOLD
    from session_graph_spark.operators import scoring as scoring_mod
    from session_graph_spark.operators.scoring import PAIR_KEY
    from session_graph_spark.plans import pipeline

    orig = {n: getattr(pipeline, n) for n in (
        "mention_arrays_from_turns", "normalized_labels_from_arrays",
        "candidate_pairs", "score_pairs", "assign_clusters")}
    orig_band = scoring_mod.band_labels

    def extract(turns, *a, **kw):
        with ledger.span("extract") as s:
            before = ledger.storage_bytes()
            out, _ = _materialize(orig["mention_arrays_from_turns"](turns, *a, **kw))
            s.counts["turns_in"] = turns.count()
            s.counts["mentions_out"] = out.agg(
                F.sum(F.size("norm_labels"))).collect()[0][0] or 0
            s.counts["cache_bytes"] = ledger.storage_bytes() - before
        return out

    def labels(m_arrays, *a, **kw):
        with ledger.span("labels") as s:
            out, n = _materialize(orig["normalized_labels_from_arrays"](m_arrays, *a, **kw))
            s.counts["labels_out"] = n
        return out

    def blocking(lbls, *a, **kw):
        with ledger.span("blocking") as s:
            out, n = _materialize(orig["candidate_pairs"](lbls, *a, **kw))
            n_labels = lbls.count()
            s.counts["pairs_out"] = n
            s.counts["labels_in"] = n_labels
            if truth_pairs is not None:
                want = (truth_pairs
                        .join(lbls.select(F.col("canon_label").alias("label_a")),
                              "label_a", "left_semi")
                        .join(lbls.select(F.col("canon_label").alias("label_b")),
                              "label_b", "left_semi"))
                s.counts["true_pairs"] = want.count()
                s.counts["true_found"] = want.join(out, PAIR_KEY, "left_semi").count()
        return out

    def scoring(pairs, decisions=None, *a, **kw):
        with ledger.span("scoring") as s:
            out, n = _materialize(orig["score_pairs"](pairs, decisions, *a, **kw))
            s.counts["pairs_scored"] = n
            s.counts["edges_out"] = out.where(
                F.col("score") >= F.lit(MATCH_THRESHOLD)).count()
            s.counts["cache_hits"] = (
                pairs.join(decisions, PAIR_KEY, "left_semi").count()
                if decisions is not None else 0)
        return out

    def band(scored):  # called inside score_pairs: counts on the scoring span
        out, n = _materialize(orig_band(scored))
        counts = ledger.current.counts
        counts["band_labels"] = counts.get("band_labels", 0) + n
        return out

    def cc(lbls, edges, *a, **kw):
        with ledger.span("cc") as s:
            out, n = _materialize(orig["assign_clusters"](lbls, edges, *a, **kw))
            s.counts["edges_in"] = edges.count()
            s.counts["clusters_out"] = out.select("cluster_id").distinct().count()
            s.counts["multi_clusters"] = (
                out.groupBy("cluster_id").count().where(F.col("count") > 1).count())
        return out

    pipeline.mention_arrays_from_turns = extract
    pipeline.normalized_labels_from_arrays = labels
    pipeline.candidate_pairs = blocking
    pipeline.score_pairs = scoring
    pipeline.assign_clusters = cc
    scoring_mod.band_labels = band

    def restore() -> None:
        for n, f in orig.items():
            setattr(pipeline, n, f)
        scoring_mod.band_labels = orig_band

    return restore
