"""Adapters from the driver's testdata tables to the engine's input shapes.

The synthetic star-schema tables live at /root/testdata/sf*/ (TESTDATA.md).
`documents_as_turns` derives a table of exactly the BASELINE.json
input_hint shape (conv_id, turn_idx, role, text, tool, ts) from the
documents table, deterministically: conversation = source, turn order =
doc_id within source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def documents_as_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r7 note: a narrow-window + broadcast-join-back variant (text kept
    # out of the window exchange) was A/B'd at sf0.1 and measured a
    # wash end-to-end (docs_e2e_old 4.98s vs _new 5.21s best-of-3,
    # probe in commit 4247e06) — the ~20 source keys already
    # spread the window across the reduce width, so the join-back's
    # extra broadcast job buys nothing. Kept in the simpler form.
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    return docs.select(
        F.col("source").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.lit("assistant").alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        (F.to_timestamp(F.lit("2026-01-01 00:00:00"))
         + F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), F.col("doc_id").cast("double"))
         ).alias("ts"),
        F.col("lang").alias("platform"),   # provenance stand-in
        F.concat(F.lit("/projects/p0/"), F.col("source"), F.lit(".jsonl")).alias("source_file"),
    )


def doc_tokens(spark: SparkSession, sf_dir: str, min_len: int = 3) -> DataFrame:
    """documents -> (doc_id, source, lang, token): whitespace tokens of
    length >= min_len. SQL-oracle-able (string_split + unnest in DuckDB)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", "source", "lang",
                    F.explode(F.split("text", " ")).alias("token"))
        .where(F.length("token") >= min_len)
    )
