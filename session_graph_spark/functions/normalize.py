"""Scalar normalization functions (SURVEY.md §2.3, N1-N7).

All pure Column expressions — JVM-side, whole-stage-codegen friendly, no
Python in the hot path. Reference behavior being replicated:

- N1 slug:             common.py:29-31   (lowercase, non-alnum runs -> '-', strip '-')
- N2 normalize_entity: triple_extraction.py:340-345
- N3 normalize_predicate: triple_extraction.py:348-374 (exact -> camelCase ->
  case-insensitive -> fallback 'relatedTo'); here a single broadcast join on a
  separator/case-stripped key, which decides identically for a closed vocabulary
  whose members differ only in case and separators.
- N4 alias normalization: link_entities.py:262-277 (broadcast left join)
- N5 timestamp normalization: deepseek_to_rdf.py:70-82, grok_to_rdf.py:50-80
- N6 content hashing: triple_extraction.py:62, bulk_process.py:83-89, common.py:206-209
- N7 truncation: common.py:148-150, jsonl_to_rdf.py:184-187
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from session_graph_spark.data import FALLBACK_PREDICATE

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --------------------------------------------------------------------------
# N1: slug — the deterministic entity / blocking key
# --------------------------------------------------------------------------
def slug(col: ColumnOrName) -> Column:
    s = F.regexp_replace(F.lower(_c(col)), r"[^a-z0-9]+", "-")
    return F.regexp_replace(s, r"(^-+|-+$)", "")


# --------------------------------------------------------------------------
# N2: normalize_entity — lowercase, collapse whitespace, strip trailing punct
# --------------------------------------------------------------------------
def normalize_entity(col: ColumnOrName) -> Column:
    s = F.lower(F.trim(_c(col)))
    s = F.regexp_replace(s, r"\s+", " ")
    return F.regexp_replace(s, r"[.,;:]+$", "")


# --------------------------------------------------------------------------
# N3: predicate coercion to the closed 24-predicate vocabulary
# --------------------------------------------------------------------------
def predicate_key(col: ColumnOrName) -> Column:
    """Case/separator-stripped join key: 'depends_on'|'Depends On'|'dependsOn'
    all map to 'dependson'."""
    return F.regexp_replace(F.lower(F.trim(_c(col))), r"[_\s-]+", "")


def normalize_predicates(
    df: DataFrame, vocab_df: DataFrame, pred_col: str = "predicate"
) -> DataFrame:
    """Coerce df[pred_col] into the vocabulary via broadcast join;
    out-of-vocabulary values fall back to 'relatedTo'."""
    vocab = F.broadcast(
        vocab_df.select(
            predicate_key("predicate").alias("__pk"),
            F.col("predicate").alias("__canonical_pred"),
        )
    )
    out = (
        df.withColumn("__pk", predicate_key(pred_col))
        .join(vocab, "__pk", "left")
        .withColumn(
            pred_col, F.coalesce(F.col("__canonical_pred"), F.lit(FALLBACK_PREDICATE))
        )
        .drop("__pk", "__canonical_pred")
    )
    return out


# --------------------------------------------------------------------------
# N4: alias normalization (broadcast left join against the alias dimension)
# --------------------------------------------------------------------------
def apply_aliases(
    df: DataFrame,
    alias_df: DataFrame,
    label_col: str = "norm_label",
    out_col: str = "canon_label",
) -> DataFrame:
    """Map surface form -> canonical; unknown labels pass through unchanged."""
    a = F.broadcast(
        alias_df.select(
            F.col("surface").alias("__surface"), F.col("canonical").alias("__canon")
        )
    )
    return (
        df.join(a, df[label_col] == F.col("__surface"), "left")
        .withColumn(out_col, F.coalesce(F.col("__canon"), F.col(label_col)))
        .drop("__surface", "__canon")
    )


def alias_preimage(alias_df: DataFrame, canon: DataFrame) -> DataFrame:
    """Preimage of `canon` (keyed by canon_label) under apply_aliases:
    (norm_label, canon_label, *canon's other columns), one row per raw
    label that canonicalizes into `canon` — each alias surface of a
    canon_label, plus each canon_label that is not itself a remapped
    surface (a remapped surface never canonicalizes to itself). Joining
    raw rows to it on norm_label equals apply_aliases followed by an
    inner join with `canon`, in one broadcast probe of a dim-sized table."""
    surfaces = alias_df.select(F.col("surface").alias("norm_label"),
                               F.col("canonical").alias("canon_label"))
    cols = ["norm_label", "canon_label",
            *[c for c in canon.columns if c != "canon_label"]]
    direct = (canon.withColumn("norm_label", F.col("canon_label"))
              .join(surfaces.select("norm_label"), "norm_label", "left_anti"))
    return (surfaces.join(canon, "canon_label").select(*cols)
            .unionByName(direct.select(*cols)))


# --------------------------------------------------------------------------
# N5: timestamp normalization
# --------------------------------------------------------------------------
def ts_from_iso(col: ColumnOrName) -> Column:
    """ISO-8601 with optional offset -> UTC timestamp."""
    return F.to_timestamp(_c(col))


def ts_from_epoch_millis(col: ColumnOrName) -> Column:
    """Mongo-style $numberLong epoch milliseconds -> UTC timestamp."""
    return F.timestamp_millis(_c(col).cast("long"))


# --------------------------------------------------------------------------
# N6: hashing — cache-audit hash, file watermark, deterministic triple id
# --------------------------------------------------------------------------
def content_hash(col: ColumnOrName, n: int = 16) -> Column:
    return F.substring(F.sha2(_c(col), 256), 1, n)


def stable_id(*cols: ColumnOrName, n: int = 12) -> Column:
    """md5(concat_ws('|', ...))[:n] — deterministic id, dedups identical
    extractions (reference triple id, common.py:206-209)."""
    return F.substring(F.md5(F.concat_ws("|", *[_c(c) for c in cols])), 1, n)


# --------------------------------------------------------------------------
# N7: truncation
# --------------------------------------------------------------------------
def truncate(col: ColumnOrName, max_chars: int) -> Column:
    return F.substring(_c(col), 1, max_chars)
