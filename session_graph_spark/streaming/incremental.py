"""Incremental processing (SURVEY.md §2.9 ST1-ST5).

The reference's event-driven path (stop hook -> RabbitMQ -> consumer ->
triplestore) maps to incremental batch over table snapshots:

- new transcript rows land in the turns table (Iceberg append in prod;
  a parquet directory here);
- `IncrementalRunner.run` reads only conversations whose content hash is
  not in the processed-watermarks table (exactly-once effect via
  idempotent dedupe keys, ST3), runs the ER pipeline scoped to the
  changed conv_ids, and merges results;
- failures quarantine instead of poisoning the run (DLQ analog, ST2).

The batch path is the only ER path (the north rule requires no
event-time windowing); Structured Streaming under Trigger.AvailableNow
(ST1) is exercised by the driver's `q_streaming_state` query.
"""

from __future__ import annotations

import json
import os
import shutil
import warnings
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from session_graph_spark.plans.checkpoint import conversation_watermarks
from session_graph_spark.plans.pipeline import resolve


class IncrementalRunner:
    """Stateful incremental ER over a growing turns store.

    min_sessions defaults to 1 here (not the batch pipeline's 2): the
    frequency filter is a corpus-wide property, and an incremental batch
    may contain a single changed conversation — pruning on batch-local
    session counts would silently drop every label. This mirrors the
    reference, where the watermark consumer ingests per-session and the
    min-sessions cut happens at entity-linking time over the full graph
    (link_entities.py --min-sessions)."""

    def __init__(self, spark: SparkSession, state_dir: str, min_sessions: int = 1,
                 resolve_fn=None, n_parts: int = 16):
        self.spark = spark
        self.state_dir = Path(state_dir)
        self.state_dir.mkdir(parents=True, exist_ok=True)
        self.min_sessions = min_sessions
        # state tables (clusters / watermarks / quarantine) are hash-
        # partitioned by conv_id into n_parts buckets so a batch rewrites
        # only the partitions it touches — per-batch write cost is
        # O(batch + touched partitions), never O(total history). Size
        # n_parts so one partition's rows fit an executor comfortably
        # (at 10^12 turns: thousands, not 16 — it only changes the
        # directory fan-out, not the plan shape)
        self.n_parts = n_parts
        # fail fast if any existing state table is in the pre-manifest
        # layout or was written under a different n_parts: part = pmod(xxhash64(conv_id), n_parts), so a
        # mismatched runner would compute different partitions for the
        # same conv_id and merge around stale rows it can never see
        for p in (self._wm_path, self._clusters_path, self._dlq_path):
            self._load_manifest(p)
        # injectable for fault-handling tests; production default is the
        # real pipeline
        self._resolve = resolve_fn or (
            lambda t: resolve(self.spark, t, min_sessions=self.min_sessions)
        )

    @property
    def _wm_path(self) -> str:
        return str(self.state_dir / "processed_watermarks")

    @property
    def _clusters_path(self) -> str:
        return str(self.state_dir / "clusters")

    @property
    def _dlq_path(self) -> str:
        return str(self.state_dir / "quarantine")

    _STATE_SCHEMAS = {
        "processed_watermarks": "conv_id string, content_hash string",
        "clusters": "conv_id string, canon_label string, cluster_id string",
        "quarantine": "conv_id string, content_hash string, error string",
    }

    # ---------------------------------------------------------------
    # generation-pointer state-store protocol
    #
    # Layout:   <table>/_MANIFEST.json          (the atomic pointer)
    #           <table>/gen=<g>/part=<p>/*.parquet   (immutable data)
    #
    # The manifest maps each hash partition to the generation that holds
    # its current rows. A merge writes the touched partitions into a NEW
    # generation directory, then commits by atomically replacing the
    # manifest (write tmp + fsync + os.replace — one rename is the whole
    # commit). Readers resolve the manifest, so a crash at ANY point
    # before the replace leaves the complete pre-merge state visible;
    # uncommitted generation directories are detected and garbage-
    # collected (with a warning) by the next merge. This is the local-FS
    # analog of Iceberg's metadata-pointer commit (the production target;
    # no Iceberg runtime jar in this sandbox, BASELINE.md).
    # ---------------------------------------------------------------

    def _load_manifest(self, path: str) -> dict | None:
        f = Path(path) / "_MANIFEST.json"
        if not f.exists():
            # flat part=P dirs are the pre-manifest (swap-protocol) layout
            # and gen=0 only ever held its in-place migration: refuse both
            # rather than read committed state as empty, which would
            # reprocess every conversation and orphan the old rows. gen>=1
            # dirs alone are a crashed first merge, which the next merge's
            # pre-write GC rolls back
            root = Path(path)
            old = sorted(d.name for d in (*root.glob("part=*"), *root.glob("gen=0")))
            if old:
                raise ValueError(
                    f"state table {path} has no _MANIFEST.json but holds "
                    f"pre-manifest layout dirs {old}; that layout is no "
                    "longer read. Rewrite the state dir: re-run the "
                    "corpus into an empty state_dir.")
            return None
        man = json.loads(f.read_text())
        if man["n_parts"] != self.n_parts:
            raise ValueError(
                f"state table {path} was written with n_parts="
                f"{man['n_parts']} but this runner was opened with "
                f"n_parts={self.n_parts}; partition assignment is "
                "pmod(xxhash64(conv_id), n_parts), so merging under a "
                "different n_parts would rewrite the wrong partitions "
                "and leave stale rows behind. Reopen with the original "
                "n_parts (or rewrite the state dir)."
            )
        return man

    def _commit_manifest(self, path: str, man: dict,
                         expect_gen: int | None = None) -> None:
        """THE commit point: one atomic rename of the pointer file.

        The protocol is SINGLE-WRITER (like Iceberg's optimistic commit,
        minus the retry loop): concurrent merges on one state dir are a
        deployment error. `expect_gen` makes the realistic race fail
        loudly instead of silently losing an update — if another writer
        committed since this merge read its base manifest, the on-disk
        generation no longer matches and we refuse to clobber it."""
        if expect_gen is not None:
            f = Path(path) / "_MANIFEST.json"
            on_disk = json.loads(f.read_text())["gen"] if f.exists() else 0
            if on_disk != expect_gen:
                raise RuntimeError(
                    f"state table {path}: concurrent writer detected "
                    f"(manifest moved gen {expect_gen} -> {on_disk} "
                    "during this merge); the store is single-writer")
        tmp = Path(path) / "_MANIFEST.json.tmp"
        with open(tmp, "w") as fh:
            fh.write(json.dumps(man, sort_keys=True))
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, Path(path) / "_MANIFEST.json")
        # fsync the directory so the rename itself is durable
        dirfd = os.open(path, os.O_RDONLY)
        try:
            os.fsync(dirfd)
        finally:
            os.close(dirfd)

    def _gc_unreferenced(self, path: str, man: dict, pre_write: bool = False) -> None:
        """Remove every gen=*/part=* directory the manifest does not
        reference: superseded partitions after a commit, and — on the
        pre_write pass — uncommitted leftovers of a crashed merge, which
        are surfaced with a warning rather than silently overwritten
        (the manifest never referenced them, so discarding them IS the
        rollback to the last committed state)."""
        ref = {(int(g), int(k)) for k, g in man["parts"].items()}
        for gd in Path(path).glob("gen=*"):
            g = int(gd.name.split("=", 1)[1])
            for pd in gd.glob("part=*"):
                q = int(pd.name.split("=", 1)[1])
                if (g, q) not in ref:
                    # only generations ABOVE the committed one are a
                    # rolled-back crashed WRITE; unreferenced dirs at or
                    # below it are committed-then-superseded leftovers of
                    # an interrupted post-commit GC — cleaning those is
                    # routine, and warning about them would read as a
                    # false data-loss alarm
                    if pre_write and g > man.get("gen", 0):
                        warnings.warn(
                            f"state table {path}: discarding uncommitted "
                            f"partition {gd.name}/{pd.name} left by a "
                            "crashed merge (rolling back to the committed "
                            "manifest)", stacklevel=2)
                    shutil.rmtree(pd, ignore_errors=True)
            if not any(gd.glob("part=*")):
                shutil.rmtree(gd, ignore_errors=True)

    def _part_dirs(self, path: str, man: dict, parts: list[int] | None = None
                   ) -> list[str]:
        cur = {int(k): g for k, g in man["parts"].items()}
        keys = sorted(cur) if parts is None else [q for q in parts if q in cur]
        return [str(Path(path) / f"gen={cur[q]}" / f"part={q}") for q in keys]

    def _read_state(self, path: str) -> DataFrame | None:
        """Read a state table via its manifest, hiding the internal gen/
        hash-bucket partition columns from callers. A table whose last
        rows were merged away (e.g. a fully-healed quarantine) has an
        empty partition map — return a typed empty DataFrame, not an
        error."""
        man = self._load_manifest(path)
        if man is None:
            return None
        dirs = self._part_dirs(path, man)
        if not dirs:
            return self.spark.createDataFrame([], self._STATE_SCHEMAS[Path(path).name])
        df = self.spark.read.option("basePath", path).parquet(*dirs)
        return df.drop("gen", "part")

    def processed(self) -> DataFrame | None:
        return self._read_state(self._wm_path)

    def quarantined(self) -> DataFrame | None:
        """The dead-letter table: (conv_id, content_hash, error)."""
        return self._read_state(self._dlq_path)

    def clusters(self) -> DataFrame | None:
        """The merged clusters state table: (conv_id, canon_label,
        cluster_id)."""
        return self._read_state(self._clusters_path)

    def run(self, turns: DataFrame) -> DataFrame:
        """Process new/changed conversations; returns this batch's
        mention-cluster assignment. Unchanged conversations cost nothing
        (anti-join skip, reference watermark semantics P12). A failing
        batch quarantines instead of poisoning the run (ST2, the DLQ
        analog of the reference's RabbitMQ dead-letter queue): the
        failure is bisected down to the poison conversations, which land
        in the quarantine table and are watermarked so they are not
        retried until their content changes; every healthy conversation
        in the batch still commits."""
        wm = conversation_watermarks(turns).cache()
        prev = self.processed()
        if prev is not None:
            todo = wm.join(prev, ["conv_id", "content_hash"], "left_anti")
        else:
            todo = wm
        todo = todo.cache()
        try:
            if todo.count() == 0:
                return self.spark.createDataFrame([], self._STATE_SCHEMAS["clusters"])
            batch_turns = turns.join(F.broadcast(todo.select("conv_id")),
                                     "conv_id", "left_semi")
            try:
                out, bad = self._resolve_severed(batch_turns), None
            except Exception:  # noqa: BLE001 - isolate the poison conversations
                out, bad = self._run_with_quarantine(turns, todo)
            self._commit(out, bad, todo)
            return out
        finally:
            # per-batch cache hygiene on every exit, the no-op poll of an
            # unchanged corpus included: a long-running service would
            # otherwise accumulate two cached frames per batch
            wm.unpersist()
            todo.unpersist()

    def _resolve_severed(self, turns: DataFrame) -> DataFrame:
        """Resolve `turns` and return its (conv_id, canon_label,
        cluster_id) assignment with lineage severed, releasing resolve()'s
        cached stages. Severing comes BEFORE any state table is merged:
        the returned DataFrame's plan must not re-read a parquet path the
        commit is about to overwrite (the overwrite invalidates dependent
        caches and a later action would re-plan against the new
        watermarks). The eager checkpoint is also the action that
        surfaces lazy failures (cache-evicted recompute of the extraction
        UDF) inside the caller's quarantine guard."""
        res = self._resolve(turns)
        try:
            return res.mention_clusters.select(
                "conv_id", "canon_label", "cluster_id"
            ).localCheckpoint(eager=True)
        finally:
            res.unpersist()

    def _commit(self, out: DataFrame, quarantined_rows: list[tuple[str, str]] | None,
                todo: DataFrame) -> None:
        """The batch's one commit sequence: clusters, then dead-letter
        table, then watermarks, each a merge that replaces exactly the
        todo conversations' rows. `quarantined_rows` are the batch's
        (conv_id, error) poison conversations; None (a clean batch) only
        heals a dead-letter table that already exists, so a store that
        never quarantined has none."""
        replaced = todo.select("conv_id")
        # merge-by-conv_id, not blind append: a *changed* conversation's
        # old assignment rows must be replaced (poison ones dropped) or
        # readers of the clusters table see stale rows forever
        self._merge_overwrite(self._clusters_path, out, replaced)
        # dead-letter MERGE: the batch's healthy convs leave the DLQ,
        # poison ones carry the content hash that failed. This MUST run
        # before the watermark merge below: todo's cached plan reads the
        # watermark table, and rewriting it must not race todo's
        # recompute if the cache is ever evicted
        if quarantined_rows is not None or self.quarantined() is not None:
            add = self.spark.createDataFrame(
                quarantined_rows or [], "conv_id string, error string"
            ).join(todo.select("conv_id", "content_hash"), "conv_id").select(
                "conv_id", "content_hash", "error"
            )
            self._merge_overwrite(self._dlq_path, add, replaced)
        # watermark EVERY todo conv (poison included: quarantined content
        # is not retried until its hash changes); the partition-scoped
        # merge keeps the NEW hash for changed conv_ids and leaves every
        # other partition's files untouched
        self._merge_overwrite(self._wm_path, todo, replaced)

    def _run_with_quarantine(self, turns: DataFrame, todo: DataFrame
                             ) -> tuple[DataFrame, list[tuple[str, str]]]:
        """ST2 failure isolation: bisect the failing batch down to the
        poison conversations, then re-resolve ALL healthy conversations
        together in one final pass — so labels that co-cluster across
        bisection halves (typo variants spanning conversations) get
        exactly the cluster ids the happy path would have produced.
        Returns that assignment and the (conv_id, error) poison rows for
        `_commit`, which quarantines and watermarks them (so they are NOT
        retried until their content changes) and drops their stale
        cluster rows rather than leaving them to serve outdated content.
        Driver-side recursion only runs on the failure path and is
        bounded by the batch's conversation count; the bisection probes
        discard their outputs (they exist only to locate the poison)."""
        conv_ids = sorted(
            r["conv_id"] for r in todo.select("conv_id").distinct().collect()
        )
        bad: list[tuple[str, str]] = []

        def subset_of(ids: list[str]) -> DataFrame:
            return turns.join(
                F.broadcast(self.spark.createDataFrame(
                    [(c,) for c in ids], "conv_id string"
                )),
                "conv_id", "left_semi",
            )

        def probe(ids: list[str]) -> None:
            try:
                self._resolve_severed(subset_of(ids))
            except Exception as exc:  # noqa: BLE001
                if len(ids) == 1:
                    bad.append((ids[0], str(exc)[:500]))
                else:
                    mid = len(ids) // 2
                    probe(ids[:mid])
                    probe(ids[mid:])

        probe(conv_ids)

        healthy = [c for c in conv_ids if c not in {b for b, _ in bad}]
        outs: list[DataFrame] = []
        if healthy:
            # one combined resolve over every healthy conversation: the
            # committed assignment is identical to a batch that never
            # contained the poison conversations
            try:
                outs.append(self._resolve_severed(subset_of(healthy)))
            except Exception:  # noqa: BLE001 - batch-SCALE failure
                # the combined set failed even though every conversation
                # passed its probe (memory/scale or cross-conversation
                # interaction — bisection cannot localize it). Degraded
                # emergency path: resolve each conversation alone so
                # healthy data still commits (cross-conversation merges
                # are lost for this batch; the next content change
                # re-resolves them together), quarantining any conv that
                # fails even solo
                for c in healthy:
                    try:
                        outs.append(self._resolve_severed(subset_of([c])))
                    except Exception as exc:  # noqa: BLE001
                        bad.append((c, str(exc)[:500]))
        if not outs:
            return self.spark.createDataFrame([], self._STATE_SCHEMAS["clusters"]), bad
        return reduce(DataFrame.unionByName, outs), bad

    def _with_part(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "part", F.pmod(F.xxhash64("conv_id"), F.lit(self.n_parts))
        )

    def _parts_of(self, convs: DataFrame) -> list[int]:
        return sorted(
            r["part"]
            for r in self._with_part(convs.select("conv_id").distinct())
            .select("part").distinct().collect()
        )

    def _merge_overwrite(self, path: str, new_rows: DataFrame,
                         replaced_convs: DataFrame) -> None:
        """Partition-scoped, CRASH-ATOMIC upsert over a conv_id-keyed
        state table (the Iceberg MERGE INTO analog): state tables are
        hash-partitioned by pmod(xxhash64(conv_id), n_parts); a merge
        reads ONLY the partitions containing replaced conversations
        (manifest-resolved path list, so the scan is partition-pruned by
        construction), writes the merged partitions into a fresh
        generation directory, and commits with one atomic manifest
        rename — so each batch costs O(batch + touched partitions),
        never a full-table rewrite, and a crash at any point leaves the
        complete pre-merge state visible. An empty merged partition
        simply drops out of the new manifest (the partition-delete case
        Spark's dynamic overwrite gets wrong)."""
        p = Path(path)
        p.mkdir(parents=True, exist_ok=True)
        man = self._load_manifest(path) or {
            "version": 1, "n_parts": self.n_parts, "gen": 0, "parts": {},
        }
        # crash recovery: drop (loudly) any generation directories a
        # crashed merge left behind but never committed
        self._gc_unreferenced(path, man, pre_write=True)
        # touched partitions = replaced convs' AND new rows' — a new_rows
        # conv the caller forgot to list in replaced_convs still lands
        # (true upsert); without the union its partition would silently
        # keep the old generation in the new manifest
        parts = sorted(set(self._parts_of(replaced_convs))
                       | set(self._parts_of(new_rows)))
        if not parts:
            return
        touched_dirs = self._part_dirs(path, man, parts)
        if touched_dirs:
            kept = (
                self.spark.read.option("basePath", path).parquet(*touched_dirs)
                .drop("gen", "part")
                .join(F.broadcast(replaced_convs), "conv_id", "left_anti")
            )
            merged = kept.unionByName(new_rows)
        else:
            merged = new_rows
        next_gen = man["gen"] + 1
        gen_dir = p / f"gen={next_gen}"
        self._with_part(merged).write.partitionBy("part") \
            .mode("overwrite").parquet(str(gen_dir))
        written = {int(d.name.split("=", 1)[1])
                   for d in gen_dir.glob("part=*") if d.is_dir()}
        new_parts = {int(k): g for k, g in man["parts"].items()
                     if int(k) not in set(parts)}
        new_parts.update({q: next_gen for q in written})
        man2 = {
            "version": 1, "n_parts": self.n_parts, "gen": next_gen,
            "parts": {str(k): new_parts[k] for k in sorted(new_parts)},
        }
        self._commit_manifest(path, man2, expect_gen=man["gen"])
        # post-commit GC of the superseded partition directories; a crash
        # here only leaves unreferenced dirs for the next pre-write pass
        self._gc_unreferenced(path, man2)
        # the manifest swap is invisible to Spark's CacheManager: without
        # this refresh the NEXT batch's todo anti-join can be served from
        # the PREVIOUS batch's cached plan (matched by canonicalized
        # plan!) and re-process the same conversations forever
        self.spark.catalog.refreshByPath(path)

