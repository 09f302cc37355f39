"""Deterministic synthetic transcript corpus (SURVEY.md §7 M0, FIXTURES.md §1).

Generates the canonical `turns` table — (conv_id, turn_idx, role, text, tool,
ts) plus provenance columns (platform, source_file) — emulating the five
platform styles the reference parses (Claude Code / ChatGPT / DeepSeek /
Grok / Warp), with:

- planted entity mentions: every canonical entity has surface-form variants
  (alias forms like k8s/kubernetes plus typo forms like kubernets) each
  planted in >= `min_plants` distinct conversations so the min-sessions
  frequency filter keeps them;
- Zipfian canonical-entity frequency -> hot-entity skew (reference hub
  nodes, README.md:65);
- noise tokens every L1/L2 filter group must reject (filenames, hex colors,
  CLI flags, ICD codes, snake_case ids, versions, px dims, npm scopes, ...);
- short (<30 char) turns that the min-length filter must skip and >2000
  char turns that exercise the truncation path;
- duplicated conversations under /subagents/ paths that must be dropped.

Also emits the ground truth used by the F1 gate: variant -> canonical
mapping and labeled same-block surface pairs (FIXTURES.md §4).

Everything is seeded (`random.Random(seed)`); same args -> byte-identical
corpus.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

import pandas as pd

# canonical entity -> surface-form variants. The FIRST variant is the
# primary form. Variants include alias-dictionary forms (resolved by the
# broadcast alias join) and deliberate typos (resolved only via
# MinHash-LSH blocking + pairwise scoring >= 0.7).
ENTITY_VARIANTS: dict[str, list[str]] = {
    "kubernetes": ["kubernetes", "k8s", "K8s", "kube", "kubernets"],
    "postgresql": ["postgresql", "postgres", "postgresq"],
    "javascript": ["javascript", "js", "JavaScript"],
    "typescript": ["typescript", "ts", "typescripts"],
    "python": ["python", "Python", "pyhton"],
    "react": ["react", "reactjs", "react.js"],
    "fastapi": ["fastapi", "fast api", "FastAPI"],
    "docker": ["docker", "Docker", "dockr"],
    "apache spark": ["apache spark", "spark", "pyspark"],
    "node.js": ["node.js", "nodejs", "node"],
    "mongodb": ["mongodb", "mongo"],
    "redis": ["redis"],
    "rabbitmq": ["rabbitmq", "rabbit mq"],
    "tensorflow": ["tensorflow", "tensorflw"],
    "pytorch": ["pytorch", "torch"],
    "scikit-learn": ["scikit-learn", "sklearn", "scikit learn"],
    "elasticsearch": ["elasticsearch", "elasticsearh"],
    "graphql": ["graphql", "graphqls"],
    "terraform": ["terraform", "terafform"],
    "jenkins": ["jenkins"],
    "grafana": ["grafana", "graffana"],
    "prometheus": ["prometheus", "prometheos"],
    "nginx": ["nginx"],
    "sqlalchemy": ["sqlalchemy", "sql alchemy"],
    "pydantic": ["pydantic", "pydantics"],
    "next.js": ["next.js", "nextjs"],
    "vue.js": ["vue.js", "vuejs", "vue"],
    "apache kafka": ["apache kafka", "kafka"],
    "apache airflow": ["apache airflow", "airflow"],
    "apache iceberg": ["apache iceberg", "iceberg"],
    "machine learning": ["machine learning", "ml"],
    "large language model": ["large language model", "llm", "llms"],
    "visual studio code": ["visual studio code", "vscode", "vs code"],
    "go": ["go", "golang"],
    "rust": ["rust"],
    "java": ["java"],
    "kotlin": ["kotlin", "kotlyn"],
    "ansible": ["ansible", "ansibel"],
    "webpack": ["webpack", "webpck"],
    "tailwind": ["tailwind", "tailwnd"],
    # round-2 plantings exercising the expanded alias dimension
    "ruby on rails": ["ruby on rails", "rails", "ror"],
    "apache flink": ["apache flink", "flink"],
    "duckdb": ["duckdb", "duck db", "duckdbb"],
    "github actions": ["github actions", "gh actions"],
    "clickhouse": ["clickhouse", "clickhose"],
    # round-3 plantings: KB-linking rung traffic (VERDICT r2 item 2).
    # ecmascript: KB alias of javascript with a tech description -> the
    # 0.8 rung; quicksilver: KB alias of the non-tech mercury sense -> the
    # 0.5 below-threshold path; zephyrdb/quantafold: in no KB -> the
    # negative (not_found) path. None is edit-distance-confusable with an
    # existing planted entity: string kernels stay < 0.7 against all of
    # them, and the context bonus cannot bridge the gap by chance —
    # ecmascript/javascript (kernel 0.6586, inside the bonus band) hit a
    # 2/3 context jaccard at one corpus seed, which is why the bonus
    # carries the CTX_MIN_JACC evidence floor (similarity.py); the
    # multi-seed F1 test pins that seed.
    "ecmascript": ["ecmascript"],
    "quicksilver": ["quicksilver"],
    "zephyrdb": ["zephyrdb", "zephyrdbb"],
    "quantafold": ["quantafold"],
}

# confusable cross-entity pairs: must NOT co-cluster (score < 0.7). These
# become the labeled negative pairs.
NEGATIVE_PAIRS: list[tuple[str, str]] = [
    ("java", "javascript"),
    ("python", "pytorch"),
    ("react", "redis"),
    ("go", "graphql"),
    ("terraform", "tensorflow"),
    ("grafana", "graphql"),
    ("kotlin", "kubernetes"),
    ("rust", "redis"),
    ("nginx", "next.js"),
    ("ansible", "apache spark"),
    ("javascript", "ecmascript"),
    # the apache family: distinct products whose kernels crowd the
    # threshold from below (flink|spark 0.6970, flink|kafka 0.6729,
    # airflow|flink 0.6670) — the canary for any scoring change that
    # lets near-band pairs cross 0.7 (a context bonus without the
    # variant-shape guard transitively merged all five at some seeds)
    ("apache flink", "apache spark"),
    ("apache airflow", "apache kafka"),
    ("apache flink", "apache iceberg"),
]

# noise the L1/L2 filters must reject — one exemplar per rule group
NOISE_TOKENS: list[str] = [
    "config.json", "#8776f6", "--force", "j458", "anthropic_api_key",
    "5.0.0", "280px", "@radix-ui/react-dialog", "192.168.0.1", "500ms",
    "a1b2c3d4", "src/main/app.py", "100%", "candidates[0]",
    "express.json()", "1184x864", "key=value", "*.py", ".env", "true",
    "null", "3/4", "7f9ef80", "42",
]

PLATFORMS = ["claude-code", "chatgpt", "deepseek", "grok", "warp"]
TOOLS = [None, None, None, "Bash", "Edit", "Read", "Write", "Grep"]

# assistant prose templates; {e} slots take entity surface forms, {n} noise.
# Template words chosen to avoid edit-distance-confusable overlap with
# planted entities.
_ASSISTANT_TEMPLATES = [
    "I refactored the ingestion path so {e0} talks to {e1} directly, and moved the {n0} handling out of the worker.",
    "The deployment failed because {e0} could not reach {e1}; check the manifest under {n0} before retrying with {e2}.",
    "Switched the storage layer from {e0} to {e1}. Benchmarks show the {e2} consumer keeps up even with {n0} enabled.",
    "Added integration coverage: {e0} fixtures now exercise the {e1} adapter, and the {n0} case is skipped on {e2}.",
    "Root cause: the {e0} client pinned an old protocol. Upgrading it and re-running against {e1} fixed the timeouts near {n0}.",
    "I wired {e0} metrics into {e1} so the oncall dashboard shows queue depth; the alert rule references {n0} thresholds.",
    "Migration plan: dual-write from {e0} into {e1}, backfill with {e2}, then cut reads over once parity holds on {n0}.",
    "The schema registry rejects the new field; {e0} consumers must upgrade before {e1} producers emit it, see {n0}.",
]
_USER_TEMPLATES = [
    "Can you migrate the service off {e0} and onto {e1}?",
    "Why is the {e0} job slow after the {n0} change?",
    "Please add tests for the {e0} integration.",
    "How do we monitor {e0} from {e1}?",
]
_SHORT_TURNS = ["ok", "thanks", "yes do it", "lgtm", "retry", "hm"]


# bump whenever the turn-construction logic changes (the cache key can't
# see code changes, only the entity schedule)
GENERATOR_VERSION = 3


def corpus_cache_key(n_convs: int, seed: int) -> str:
    """Cache key for materialized corpora: includes a content hash of the
    planted-entity schedule so generator changes invalidate stale caches
    (a bare (n_convs, seed) key silently reused pre-change corpora)."""
    import hashlib

    h = hashlib.md5(
        (repr(sorted(ENTITY_VARIANTS.items())) + f"|gen={GENERATOR_VERSION}").encode()
    ).hexdigest()[:8]
    return f"{n_convs}_{seed}_{h}"


def _zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (i + 1) ** s for i in range(n)]


def generate_turns_pdf(
    n_convs: int = 120,
    seed: int = 42,
    min_plants: int = 3,
    subagent_dup_every: int = 10,
    long_turn_every: int = 17,
) -> pd.DataFrame:
    """Deterministic turns table as pandas (small scales); see
    `generate_turns` for the Spark-side variant."""
    rng = random.Random(seed)
    canonicals = list(ENTITY_VARIANTS)
    weights = _zipf_weights(len(canonicals))

    # --- schedule variant plantings: every variant in >= min_plants convs ---
    slots: list[list[str]] = [[] for _ in range(n_convs)]
    conv_order = list(range(n_convs))
    rng.shuffle(conv_order)
    k = 0
    for canon in canonicals:
        for variant in ENTITY_VARIANTS[canon]:
            for _ in range(min_plants):
                slots[conv_order[k % n_convs]].append(variant)
                k += 1
    # Zipfian extra occurrences of primary forms -> hot-entity skew
    for _ in range(n_convs * 4):
        canon = rng.choices(canonicals, weights=weights, k=1)[0]
        slots[rng.randrange(n_convs)].append(ENTITY_VARIANTS[canon][0])

    base_ts = datetime(2026, 1, 5, 8, 0, 0, tzinfo=timezone.utc)
    rows: list[dict] = []

    for ci in range(n_convs):
        conv_id = f"conv-{ci:05d}"
        platform = PLATFORMS[ci % len(PLATFORMS)]
        project = f"proj{ci % 7}"
        source_file = f"/projects/{project}/{platform}/session-{conv_id}.jsonl"
        planted = slots[ci] or [ENTITY_VARIANTS[canonicals[ci % len(canonicals)]][0]]
        rng.shuffle(planted)
        n_turns = rng.randint(4, min(40, 4 + 2 * len(planted) + 6))
        conv_ts = base_ts + timedelta(hours=ci)
        pi = 0  # planted cursor

        for ti in range(n_turns):
            role = "user" if ti % 2 == 0 else "assistant"
            ts = conv_ts + timedelta(seconds=30 * ti)
            tool = rng.choice(TOOLS) if role == "assistant" else None
            if role == "assistant" and rng.random() < 0.08:
                text = rng.choice(_SHORT_TURNS)  # < 30 chars: must be skipped
            else:
                templates = _ASSISTANT_TEMPLATES if role == "assistant" else _USER_TEMPLATES
                tpl = rng.choice(templates)
                n_slots = tpl.count("{e")
                # template slots take random PRIMARY forms only; the
                # scheduled plantings are emitted in dedicated short
                # assistant turns below, where they always sit within the
                # first-10-mentions extraction cap (a long template
                # sentence can push a late entity slot past the cap,
                # silently dropping the planting)
                ents = []
                for _ in range(n_slots):
                    canon = rng.choices(canonicals, weights=weights, k=1)[0]
                    ents.append(ENTITY_VARIANTS[canon][0])
                noise = rng.choice(NOISE_TOKENS)
                fmt = {f"e{i}": e for i, e in enumerate(ents)}
                fmt["n0"] = noise
                text = tpl.format(**fmt)
                if role == "assistant" and (ci * 41 + ti) % long_turn_every == 0:
                    text = text + " " + ("The fix also touches the retry budget. " * 60)
            rows.append(
                dict(conv_id=conv_id, turn_idx=ti, role=role, text=text, tool=tool,
                     ts=ts, platform=platform, source_file=source_file)
            )
        # ALL planted entities are emitted as dedicated assistant turns
        # (extraction is assistant-only, P4; two entities per turn keeps
        # them well inside the per-turn mention cap, T1)
        while pi < len(planted):
            take = planted[pi : pi + 2]
            pi += 2
            e1 = take[0]
            e2 = take[1] if len(take) > 1 else ENTITY_VARIANTS[canonicals[0]][0]
            ti = len([r for r in rows if r["conv_id"] == conv_id])
            rows.append(
                dict(conv_id=conv_id, turn_idx=ti, role="assistant",
                     text=f"Follow-up: the {e1} rollout also needs the {e2} sidecar config reviewed before merge.",
                     tool=None, ts=conv_ts + timedelta(seconds=30 * ti),
                     platform=platform, source_file=source_file)
            )

    pdf = pd.DataFrame(rows)

    # subagent duplicates: copies that the P9 filter must drop
    dups = pdf[pdf["conv_id"].isin({f"conv-{i:05d}" for i in range(0, n_convs, subagent_dup_every)})].copy()
    dups["source_file"] = dups["source_file"].str.replace("/projects/", "/projects/subagents/", regex=False)
    dups["conv_id"] = dups["conv_id"] + "-sub"
    out = pd.concat([pdf, dups], ignore_index=True)
    out["turn_idx"] = out["turn_idx"].astype("int32")
    return out


def generate_turns(spark, n_convs: int = 120, seed: int = 42, **kw):
    """Spark DataFrame variant with the canonical input_hint schema."""
    pdf = generate_turns_pdf(n_convs=n_convs, seed=seed, **kw)
    df = spark.createDataFrame(pdf)
    return df.select(
        "conv_id",
        df.turn_idx.cast("int").alias("turn_idx"),
        "role", "text", "tool",
        df.ts.alias("ts"),
        "platform", "source_file",
    )


# --------------------------------------------------------------------------
# Distributed generator (bench scale): same corpus semantics, generated
# per-conversation inside mapInPandas so 10^5-10^7 conversations never
# touch the driver. Determinism: every conversation is seeded by
# (seed, conv_index) and the variant-planting schedule is a pure function
# of (variant, n_convs), so output is independent of partitioning.
# --------------------------------------------------------------------------
_ALL_VARIANTS: list[str] = [v for vs in ENTITY_VARIANTS.values() for v in vs]


def _planted_for_conv(ci: int, n_convs: int, min_plants: int) -> list[str]:
    import zlib

    out = []
    for v in _ALL_VARIANTS:
        h = zlib.crc32(v.encode()) % n_convs
        for j in range(min_plants):
            if (h + j * 97) % n_convs == ci:
                out.append(v)
    return out


def _conversation_rows(ci: int, n_convs: int, seed: int, min_plants: int,
                       long_turn_every: int) -> list[dict]:
    rng = random.Random((seed << 20) ^ ci)
    canonicals = list(ENTITY_VARIANTS)
    weights = _zipf_weights(len(canonicals))
    conv_id = f"conv-{ci:07d}"
    platform = PLATFORMS[ci % len(PLATFORMS)]
    source_file = f"/projects/proj{ci % 7}/{platform}/session-{conv_id}.jsonl"
    planted = _planted_for_conv(ci, n_convs, min_plants)
    rng.shuffle(planted)
    base = datetime(2026, 1, 5, 8, 0, 0, tzinfo=timezone.utc) + timedelta(minutes=ci)
    n_turns = rng.randint(4, 24)
    rows: list[dict] = []
    pi = 0
    for ti in range(n_turns):
        role = "user" if ti % 2 == 0 else "assistant"
        tool = rng.choice(TOOLS) if role == "assistant" else None
        if role == "assistant" and rng.random() < 0.08:
            text = rng.choice(_SHORT_TURNS)
        else:
            tpl = rng.choice(_ASSISTANT_TEMPLATES if role == "assistant" else _USER_TEMPLATES)
            # template slots take random primary forms; scheduled plantings
            # all go to the dedicated turns below (within the mention cap)
            ents = []
            for _ in range(tpl.count("{e")):
                canon = rng.choices(canonicals, weights=weights, k=1)[0]
                ents.append(ENTITY_VARIANTS[canon][0])
            fmt = {f"e{i}": e for i, e in enumerate(ents)}
            fmt["n0"] = rng.choice(NOISE_TOKENS)
            text = tpl.format(**fmt)
            if role == "assistant" and (ci * 41 + ti) % long_turn_every == 0:
                text += " " + ("The fix also touches the retry budget. " * 60)
        rows.append(dict(conv_id=conv_id, turn_idx=ti, role=role, text=text,
                         tool=tool, ts=base + timedelta(seconds=30 * ti),
                         platform=platform, source_file=source_file))
    while pi < len(planted):
        take = planted[pi:pi + 2]; pi += 2
        e2 = take[1] if len(take) > 1 else ENTITY_VARIANTS["python"][0]
        ti = len(rows)
        rows.append(dict(conv_id=conv_id, turn_idx=ti, role="assistant",
                         text=f"Follow-up: the {take[0]} rollout also needs the {e2} sidecar config reviewed before merge.",
                         tool=None, ts=base + timedelta(seconds=30 * ti),
                         platform=platform, source_file=source_file))
    return rows


def generate_turns_distributed(spark, n_convs: int, seed: int = 42,
                               min_plants: int = 3, long_turn_every: int = 17,
                               partitions: int | None = None):
    """Spark-side corpus generation: spark.range over conversation indices,
    each partition materializes its conversations in pandas."""
    import pandas as _pd

    def gen(batches):
        for pdf in batches:
            rows = []
            for ci in pdf["id"].tolist():
                rows.extend(_conversation_rows(int(ci), n_convs, seed,
                                               min_plants, long_turn_every))
            out = _pd.DataFrame(rows)
            out["turn_idx"] = out["turn_idx"].astype("int32")
            yield out

    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp, platform string, source_file string")
    return spark.range(0, n_convs, 1, parts).mapInPandas(gen, schema=schema)


# --------------------------------------------------------------------------
# Ground truth for the F1 gate
# --------------------------------------------------------------------------
def labeled_pairs_pdf() -> pd.DataFrame:
    """Labeled surface-form pairs (FIXTURES.md §4): positives = variants of
    the same canonical; negatives = confusable cross-entity pairs. Pairs are
    normalized-lowercase and deduped with a < b ordering."""
    rows = []
    for canon, variants in ENTITY_VARIANTS.items():
        vs = sorted({v.strip().lower() for v in variants})
        for i in range(len(vs)):
            for j in range(i + 1, len(vs)):
                rows.append(dict(surface_a=vs[i], surface_b=vs[j], block_key=canon, is_match=True))
    for a, b in NEGATIVE_PAIRS:
        pa = ENTITY_VARIANTS[a][0].lower()
        pb = ENTITY_VARIANTS[b][0].lower()
        lo, hi = sorted([pa, pb])
        rows.append(dict(surface_a=lo, surface_b=hi, block_key=f"{a}|{b}", is_match=False))
        # variant-level negatives too
        for va in ENTITY_VARIANTS[a][1:2]:
            lo, hi = sorted([va.lower(), pb])
            rows.append(dict(surface_a=lo, surface_b=hi, block_key=f"{a}|{b}", is_match=False))
    return pd.DataFrame(rows).drop_duplicates(["surface_a", "surface_b"]).reset_index(drop=True)
