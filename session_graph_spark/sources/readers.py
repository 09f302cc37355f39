"""Platform source readers (SURVEY.md §2.1 S1-S5): each normalizes one
platform's export format into the canonical turns shape
(conv_id, turn_idx, role, text, tool, ts, platform, source_file).

Reference parsers being re-expressed (behavior, not code):
- Claude Code JSONL: pipeline/jsonl_to_rdf.py:58-200 — line-per-message,
  content is a tagged union (plain string | list of text/tool_use/
  tool_result/thinking blocks; thinking dropped). `claude_tool_events`
  materializes the ToolCall -> ToolResult provenance join (J3) and
  `claude_message_parents` the message -> parent join (J1).
- DeepSeek export: pipeline/deepseek_to_rdf.py:40-162 — a .zip containing
  conversations.json (or the bare file), each conversation a `mapping`
  tree walked depth-first from root. The DFS runs per conversation inside
  an Arrow batch (tree recursion is genuinely non-relational; one
  conversation is one row, parallelism is across conversations/files).
- Grok export: pipeline/grok_to_rdf.py:40-180 — a .zip containing
  prod-grok-backend.json (Mongo export) with $date/$numberLong
  timestamps, sender 'human' -> user.
- Warp: pipeline/warp_to_rdf.py:59-87 — SQLite ai_queries table.
  `read_warp_sqlite` reads the single-file DB on the driver (that is
  where a SQLite file lives); everything downstream is distributed.

Line-delimited parsing stays JVM-side (spark.read.text + from_json /
parse_json); whole-file vendor exports go through binaryFile so .zip and
pretty-printed multi-line JSON both work. Malformed input is dropped like
the reference's try/except-continue.
"""

from __future__ import annotations

import io
import json
import zipfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, StringType, StructField, StructType)

TURNS_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts",
                 "platform", "source_file", "model"]

_BLOCK = StructType([
    StructField("type", StringType()),
    StructField("text", StringType()),
    StructField("name", StringType()),
    StructField("id", StringType()),
    StructField("tool_use_id", StringType()),
])

_CLAUDE_SCHEMA = StructType([
    StructField("type", StringType()),
    StructField("uuid", StringType()),
    StructField("parentUuid", StringType()),
    StructField("timestamp", StringType()),
    StructField("sessionId", StringType()),
    StructField("message", StructType([
        StructField("content", ArrayType(_BLOCK)),
        StructField("model", StringType()),
    ])),
])


def read_claude_code_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """S1+P1+W1: Claude Code JSONL -> turns."""
    raw = spark.read.text(path).withColumn("source_file", F.input_file_name())
    j = raw.withColumn("rec", F.from_json("value", _CLAUDE_SCHEMA))
    j = j.where(F.col("rec.type").isin("user", "assistant"))
    blocks = F.col("rec.message.content")
    # bracket access, not attribute access: Column.name is a method and
    # shadows struct-field resolution inside higher-order lambdas
    text_from_blocks = F.array_join(
        F.transform(F.filter(blocks, lambda b: b["type"] == "text"), lambda b: b["text"]),
        "\n",
    )
    # content union: when blocks failed to parse, the content was a plain
    # JSON string -> pull it straight out of the raw line
    text_plain = F.get_json_object("value", "$.message.content")
    # try_element_at: ANSI mode makes element_at throw on empty arrays
    tool_col = F.try_element_at(
        F.transform(F.filter(blocks, lambda b: b["type"] == "tool_use"), lambda b: b["name"]),
        F.lit(1),
    )
    w = Window.partitionBy("conv_id").orderBy("ts", "uuid")
    return (
        j.select(
            F.col("rec.sessionId").alias("conv_id"),
            F.col("rec.type").alias("role"),
            F.coalesce(
                F.when(blocks.isNotNull(), text_from_blocks), text_plain, F.lit("")
            ).alias("text"),
            tool_col.alias("tool"),
            F.to_timestamp("rec.timestamp").alias("ts"),
            F.col("rec.uuid").alias("uuid"),
            "source_file",
            # model/agent provenance (reference jsonl_to_rdf.py:158-162
            # models_seen per session, common.py:96-113 AIModel nodes):
            # assistant messages carry message.model; user rows have none
            F.col("rec.message.model").alias("model"),
        )
        .where(F.col("conv_id").isNotNull())
        .withColumn("turn_idx", (F.row_number().over(w) - 1).cast("int"))
        .withColumn("platform", F.lit("claude-code"))
        .select(*TURNS_COLUMNS)
    )


_ZIP_MAGIC = b"PK\x03\x04"


def read_whole_files(spark: SparkSession, path: str,
                     member_suffix: str | None = None) -> DataFrame:
    """(source_file, value): one row per input file with its full text.

    Vendor exports are either a bare (often pretty-printed, multi-line)
    JSON file or the .zip the vendor ships; binaryFile handles both
    uniformly and an Arrow-batched decode extracts the `member_suffix`
    entry from zips (reference deepseek_to_rdf.py:40-63,
    grok_to_rdf.py:42-47). One export is one bounded per-user file, so
    whole-file rows are the right granularity — parallelism is across
    files, which is how a 100TB corpus of exports arrives."""
    raw = spark.read.format("binaryFile").load(path)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:  # pragma: no cover
        for pdf in batches:
            files: list[str] = []
            texts: list[str] = []
            for p, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                if data[:4] == _ZIP_MAGIC:
                    try:
                        with zipfile.ZipFile(io.BytesIO(data)) as zf:
                            names = [n for n in zf.namelist()
                                     if member_suffix is None or n.endswith(member_suffix)]
                            for n in names:
                                files.append(f"{p}!{n}")
                                texts.append(zf.read(n).decode("utf-8", "replace"))
                    except zipfile.BadZipFile:
                        continue
                else:
                    files.append(p)
                    texts.append(data.decode("utf-8", "replace"))
            yield pd.DataFrame({"source_file": files, "value": texts})

    return raw.select("path", "content").mapInPandas(
        decode, schema="source_file string, value string"
    )


def _walk_deepseek_mapping(mapping: dict) -> list[tuple[str, str, str | None]]:
    """Iterative preorder DFS from root (reference walk_conversation_tree,
    deepseek_to_rdf.py:89-162): per node, REQUEST fragments join into one
    user turn, RESPONSE/THINK fragments into one assistant turn. Iterative
    so a 10k-turn linear chat doesn't hit the recursion limit."""
    roots = ["root"] if "root" in mapping else [
        nid for nid, n in mapping.items() if isinstance(n, dict) and n.get("parent") is None
    ][:1]
    out: list[tuple[str, str, str | None]] = []
    stack = list(reversed(roots))
    while stack:
        node = mapping.get(stack.pop())
        if not isinstance(node, dict):
            continue
        msg = node.get("message") or {}
        frags = msg.get("fragments") or []
        ts = msg.get("inserted_at")
        user_parts = [f.get("content") for f in frags
                      if f.get("type") == "REQUEST" and f.get("content")]
        asst_parts = [f.get("content") for f in frags
                      if f.get("type") in ("RESPONSE", "THINK") and f.get("content")]
        if user_parts:
            out.append(("user", "\n".join(user_parts), ts))
        if asst_parts:
            out.append(("assistant", "\n".join(asst_parts), ts))
        stack.extend(reversed(node.get("children") or []))
    return out


def read_deepseek_json(spark: SparkSession, path: str) -> DataFrame:
    """S2+S5: DeepSeek export (.zip or conversations.json, pretty-printed
    or compact) -> turns in true DFS tree order — forked conversations
    (regenerated branches) keep each branch contiguous, unlike a
    timestamp sort. Fragment roles follow the reference: REQUEST -> user,
    RESPONSE/THINK -> assistant (deepseek_to_rdf.py:104-121)."""
    raw = read_whole_files(spark, path, member_suffix="conversations.json")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:  # pragma: no cover
        for pdf in batches:
            rows: list[tuple] = []
            for src, text in zip(pdf["source_file"], pdf["value"]):
                try:
                    convs = json.loads(text)
                except ValueError:
                    continue  # malformed export -> dropped (reference behavior)
                if not isinstance(convs, list):
                    continue
                for c in convs:
                    if not isinstance(c, dict):
                        continue
                    mapping = c.get("mapping") or {}
                    if isinstance(mapping, str):  # tolerated: stringified mapping
                        try:
                            mapping = json.loads(mapping)
                        except ValueError:
                            continue
                    for idx, (role, txt, ts) in enumerate(_walk_deepseek_mapping(mapping)):
                        rows.append((c.get("id"), idx, role, txt, ts, src))
            yield pd.DataFrame(
                rows, columns=["conv_id", "turn_idx", "role", "text", "ts_raw",
                               "source_file"],
            )

    turns = raw.mapInPandas(
        parse,
        schema="conv_id string, turn_idx int, role string, text string, "
               "ts_raw string, source_file string",
    )
    return (
        turns.where(F.col("conv_id").isNotNull())
        .select(
            "conv_id", "turn_idx", "role", "text",
            F.lit(None).cast("string").alias("tool"),
            F.to_timestamp("ts_raw").alias("ts"),
            F.lit("deepseek").alias("platform"),
            "source_file",
            F.lit(None).cast("string").alias("model"),  # export has no model id
        )
        .select(*TURNS_COLUMNS)
    )


_GROK_SCHEMA = StructType([
    StructField("conversations", ArrayType(StructType([
        StructField("conversation", StructType([
            StructField("_id", StructType([StructField("$oid", StringType())])),
        ])),
        StructField("responses", ArrayType(StructType([
            StructField("response", StructType([
                StructField("sender", StringType()),
                StructField("message", StringType()),
                StructField("create_time", StructType([
                    StructField("$date", StructType([
                        StructField("$numberLong", StringType()),
                    ])),
                ])),
            ])),
        ]))),
    ]))),
])


def read_grok_json(spark: SparkSession, path: str) -> DataFrame:
    """S3: Grok export (.zip or prod-grok-backend.json, pretty-printed or
    compact) -> turns ('human' -> user, epoch-millis timestamps;
    reference grok_to_rdf.py:40-80,172-180). Whole-file read, then the
    structured parse stays JVM-side (from_json on the file text)."""
    raw = read_whole_files(spark, path, member_suffix="prod-grok-backend.json")
    j = raw.select("source_file", F.from_json("value", _GROK_SCHEMA).alias("r"))
    conv = j.select("source_file", F.explode("r.conversations").alias("c"))
    resp = conv.select(
        "source_file",
        F.col("c.conversation._id.$oid").alias("conv_id"),
        F.posexplode("c.responses").alias("resp_ord", "resp"),
    )
    # stable order: timestamp, then array position (Mongo export order)
    w = Window.partitionBy("conv_id").orderBy("ts", "resp_ord")
    return (
        resp.select(
            "conv_id",
            F.when(F.col("resp.response.sender") == "human", "user")
            .otherwise("assistant").alias("role"),
            F.col("resp.response.message").alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.timestamp_millis(
                F.col("resp.response.create_time.$date.$numberLong").cast("long")
            ).alias("ts"),
            "resp_ord", "source_file",
            F.lit(None).cast("string").alias("model"),  # export has no model id
        )
        .withColumn("turn_idx", (F.row_number().over(w) - 1).cast("int"))
        .withColumn("platform", F.lit("grok"))
        .select(*TURNS_COLUMNS)
    )


def warp_turns(queries_df: DataFrame, min_exchanges: int = 5,
               min_text_chars: int = 30) -> DataFrame:
    """S4+P2+P10: Warp ai_queries rows (exported from SQLite to a
    DataFrame: conversation_id, exchange_id, start_ts, input, output,
    working_directory, model_id) -> turns. Keeps only conversations with
    >= min_exchanges substantive exchanges (reference warp_to_rdf.py:
    264-314); 'input' is a JSON array whose Query.text items are joined."""
    q = queries_df.withColumn(
        "user_text",
        F.array_join(
            F.transform(
                F.filter(
                    F.from_json("input", "array<struct<Query:struct<text:string>>>"),
                    lambda x: x.Query.isNotNull(),
                ),
                lambda x: x.Query.text,
            ),
            "\n",
        ),
    )
    substantive = (
        q.groupBy("conversation_id")
        .agg(F.sum(F.when(F.length("user_text") > min_text_chars, 1).otherwise(0))
             .alias("n_sub"))
        .where(F.col("n_sub") >= min_exchanges)
        .select("conversation_id")
    )
    q = q.join(F.broadcast(substantive), "conversation_id", "left_semi")
    user = q.select(
        F.col("conversation_id").alias("conv_id"),
        F.lit("user").alias("role"),
        F.col("user_text").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.to_timestamp("start_ts").alias("ts"),
        F.lit(0).alias("sub_order"),
        F.lit(None).cast("string").alias("model"),
    )
    asst = q.where(F.col("output").isNotNull()).select(
        F.col("conversation_id").alias("conv_id"),
        F.lit("assistant").alias("role"),
        F.col("output").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.to_timestamp("start_ts").alias("ts"),
        F.lit(1).alias("sub_order"),
        # Warp stores the model per exchange (reference warp_to_rdf.py
        # reads model_id); provenance lands on the assistant turn
        F.col("model_id").alias("model"),
    )
    both = user.unionByName(asst)
    w = Window.partitionBy("conv_id").orderBy("ts", "sub_order")
    return (
        both.withColumn("turn_idx", (F.row_number().over(w) - 1).cast("int"))
        .withColumn("platform", F.lit("warp"))
        .withColumn("source_file", F.lit("warp.sqlite"))
        .select(*TURNS_COLUMNS)
    )


_WARP_EXPORT_SCHEMA = (
    "conversation_id string, exchange_id string, start_ts string, "
    "input string, output string, working_directory string, model_id string"
)


def read_warp_sqlite(spark: SparkSession, db_path: str,
                     min_exchanges: int = 5, min_text_chars: int = 30,
                     chunk_rows: int = 50_000) -> DataFrame:
    """S4: read Warp's ai_queries table straight from the SQLite file and
    normalize to turns (reference warp_to_rdf.py:59-87). A SQLite DB is a
    single local file, so the scan is a driver-side sqlite3 read — the
    one-time export step; everything downstream is distributed. The read
    is CHUNKED (fetchmany -> one DataFrame per chunk, unioned) so a
    multi-GB ai_queries table streams through the driver at
    chunk_rows-sized memory instead of one fetchall materialization.
    Warp stores no assistant text (the reference reads output_status
    only), so assistant turns are absent unless the caller supplies
    them."""
    import sqlite3

    conn = sqlite3.connect(db_path)
    parts: list[DataFrame] = []
    try:
        cur = conn.execute(
            "SELECT exchange_id, conversation_id, start_ts, input, "
            "working_directory, output_status, model_id "
            "FROM ai_queries ORDER BY conversation_id, start_ts"
        )
        while True:
            rows = cur.fetchmany(chunk_rows)
            if not rows:
                break
            parts.append(spark.createDataFrame(
                [(r[1], r[0], r[2], r[3], None, r[4], r[6]) for r in rows],
                schema=_WARP_EXPORT_SCHEMA,
            ))
    finally:
        conn.close()
    df = parts[0] if parts else spark.createDataFrame([], schema=_WARP_EXPORT_SCHEMA)
    for p in parts[1:]:
        df = df.unionByName(p)
    return warp_turns(df, min_exchanges=min_exchanges, min_text_chars=min_text_chars)


def claude_tool_events(spark: SparkSession, path: str) -> DataFrame:
    """J3: ToolCall -> ToolResult provenance join over a Claude Code JSONL.

    One row per tool_use block joined to its tool_result by tool_use_id
    (reference jsonl_to_rdf.py:150-200: ToolCall node + hasToolResult
    edge). tool_result content is a union type — plain string or a list
    of text blocks — handled with the VariantType accessors so both
    shapes parse without a Python UDF."""
    raw = spark.read.text(path).withColumn("source_file", F.input_file_name())
    v = F.try_parse_json("value")
    rec = raw.select(
        "source_file",
        F.try_variant_get(v, "$.sessionId", "string").alias("conv_id"),
        F.try_variant_get(v, "$.timestamp", "string").alias("ts_raw"),
        F.explode(
            F.try_variant_get(v, "$.message.content", "array<variant>")
        ).alias("b"),
    )
    calls = rec.select(
        "conv_id", "source_file",
        F.try_variant_get("b", "$.id", "string").alias("tool_use_id"),
        F.try_variant_get("b", "$.name", "string").alias("tool_name"),
        # input summary truncated at 500 chars (reference :185-187)
        F.substring(
            F.try_variant_get("b", "$.input", "string"), 1, 500
        ).alias("tool_input"),
        F.to_timestamp("ts_raw").alias("call_ts"),
    ).where(
        (F.try_variant_get("b", "$.type", "string") == "tool_use")
        & F.col("tool_use_id").isNotNull()
    )
    result_blocks = F.try_variant_get(
        "b", "$.content", "array<struct<type string, text string>>"
    )
    results = rec.select(
        F.try_variant_get("b", "$.tool_use_id", "string").alias("tool_use_id"),
        # list-of-text-blocks -> joined text; plain string -> as-is
        F.coalesce(
            F.when(
                result_blocks.isNotNull(),
                F.array_join(
                    F.transform(
                        F.filter(result_blocks, lambda x: x["type"] == "text"),
                        lambda x: x["text"],
                    ),
                    " ",
                ),
            ),
            F.try_variant_get("b", "$.content", "string"),
        ).alias("result_text"),
        F.to_timestamp("ts_raw").alias("result_ts"),
    ).where(
        (F.try_variant_get("b", "$.type", "string") == "tool_result")
        & F.col("tool_use_id").isNotNull()
    )
    # tool_use_id is unique per call; results follow their call in the log
    return calls.join(results, "tool_use_id", "left").select(
        "conv_id", "tool_use_id", "tool_name", "tool_input",
        "call_ts", "result_text", "result_ts", "source_file",
    )


def claude_message_parents(spark: SparkSession, path: str) -> DataFrame:
    """J1: message -> parent join materialized over a Claude Code JSONL:
    each user/assistant message row with its parent's role and timestamp
    (reference jsonl_to_rdf.py message chain via parentUuid)."""
    raw = spark.read.text(path)
    j = raw.withColumn("rec", F.from_json("value", _CLAUDE_SCHEMA)).where(
        F.col("rec.type").isin("user", "assistant")
    )
    msgs = j.select(
        F.col("rec.sessionId").alias("conv_id"),
        F.col("rec.uuid").alias("uuid"),
        F.col("rec.parentUuid").alias("parent_uuid"),
        F.col("rec.type").alias("role"),
        F.to_timestamp("rec.timestamp").alias("ts"),
    ).where(F.col("uuid").isNotNull())
    parents = msgs.select(
        F.col("uuid").alias("parent_uuid"),
        F.col("role").alias("parent_role"),
        F.col("ts").alias("parent_ts"),
    )
    return msgs.join(parents, "parent_uuid", "left").select(
        "conv_id", "uuid", "parent_uuid", "role", "ts", "parent_role", "parent_ts"
    )
