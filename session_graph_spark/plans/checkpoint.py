"""Per-stage materialization, lineage manifest, and watermarks (M5).

Mirrors the reference's three resume mechanisms:
- watermark skip (P12): sha256 content hash per conversation
  (`conversation_watermarks`); IncrementalRunner anti-joins unchanged
  conversations away (bulk_process.py:83-99).
- stage checkpoints: each resolve() stage commits its output to the run
  store (parquet here; Iceberg `writeTo(...).createOrReplace()` on a real
  cluster — the sandbox JVM has no Iceberg runtime jar) keyed by a
  fingerprint of the stage's inputs, so a re-run reuses any stage whose
  inputs did not change.
- run manifest (shape of bulk_batch.py:122-150): JSON with per-stage row
  counts, input keys, paths, wall time — the per-partition lineage +
  metrics record the north rule asks for.
"""

from __future__ import annotations

import json
import shutil
import time
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class StageStore:
    """The materialization policy of resolve()'s stage list.

    Every stage goes through `stage(name, key, compute)`; the root
    decides what that does:

    - no root (memory policy): cache the stage's output, run one action
      on it (the row count) and keep the handle, so `release()` can drop
      it once consumers have severed lineage. Keys are never compared,
      so `fingerprint` returns "" without scanning anything.
    - root set (parquet policy): reuse `root/<name>` when the manifest
      records the same input key, else compute, write parquet to a
      staging dir, swap it in as `root/<name>`, read it back and record
      the stage in `root/manifest.json`.

    Either way `manifest[name]` holds the stage's row count and wall
    time, which resolve() returns as its metrics."""

    def __init__(self, spark: SparkSession, root: str | Path | None):
        self.spark = spark
        self.root = Path(root) if root else None
        self.manifest: dict[str, dict] = {}
        self.cached: list[DataFrame] = []
        if self.root:
            self.root.mkdir(parents=True, exist_ok=True)
            mf = self.root / "manifest.json"
            if mf.exists():
                self.manifest = json.loads(mf.read_text())

    def _flush(self) -> None:
        (self.root / "manifest.json").write_text(json.dumps(self.manifest, indent=2))

    def fingerprint(self, df: DataFrame) -> str:
        """Order-insensitive content fingerprint of a DataFrame, for stage
        keys ("" under the memory policy, which never compares keys)."""
        if self.root is None:
            return ""
        row = df.agg(
            F.count("*").alias("n"),
            # decimal sum: xxhash64 values overflow a long sum under ANSI mode
            F.coalesce(F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")), F.lit(0)).alias("h"),
        ).collect()[0]
        return f"{row['n']}:{row['h']}"

    def stage(self, name: str, key: str, compute: Callable[[], DataFrame],
              rows: Callable[[DataFrame], int] = DataFrame.count) -> DataFrame:
        """Materialize stage `name` under the store's policy. `rows` is the
        stage's recorded row count and, under the memory policy, the one
        action that populates the cache."""
        path = self.root / name if self.root else None
        if path is not None:
            entry = self.manifest.get(name)
            if entry and entry.get("input_fp") == key and path.exists():
                return self.spark.read.parquet(str(path))
        t0 = time.time()
        out = compute()
        if path is None:
            out = out.cache()
            self.cached.append(out)  # before the action: a failure still releases it
            self.manifest[name] = {"rows": int(rows(out) or 0),
                                   "wall_sec": round(time.time() - t0, 3)}
            return out
        # write beside the stage dir, then swap it in: `compute` may scan
        # this stage's current output (decisions read from this root's
        # own `scored`), which an in-place overwrite deletes under the
        # running write job. The manifest drops the entry before the old
        # dir goes and names the new key only once its data is in place,
        # so it never points at a missing or foreign directory
        staging = path.with_name(f"{name}.staging")
        out.write.mode("overwrite").parquet(str(staging))
        n = int(rows(self.spark.read.parquet(str(staging))) or 0)
        if self.manifest.pop(name, None) is not None:
            self._flush()
        shutil.rmtree(path, ignore_errors=True)
        staging.rename(path)
        self.manifest[name] = {
            "input_fp": key,
            "path": str(path),
            "rows": n,
            "wall_sec": round(time.time() - t0, 3),
        }
        self._flush()
        return self.spark.read.parquet(str(path))

    def release(self) -> None:
        """Drop the memory policy's cached stages."""
        for df in self.cached:
            df.unpersist()
        self.cached.clear()


def conversation_watermarks(turns: DataFrame) -> DataFrame:
    """(conv_id, content_hash): sha256 over the ordered turn texts — the
    Spark analog of the reference's per-file sha256 watermark."""
    ordered = turns.select(
        "conv_id",
        F.concat_ws("", "turn_idx", "role", F.coalesce("text", F.lit(""))).alias("t"),
        "turn_idx",
    )
    return (
        ordered.groupBy("conv_id")
        .agg(F.sha2(F.concat_ws("", F.array_sort(F.collect_list(F.struct("turn_idx", "t")))
                                .getField("t")), 256).alias("content_hash"))
    )
