"""Seeded benchmark inputs.

`er_batch` uses the engine's own corpus generator. `er_wide` uses the
wide-vocabulary generator below: seeded syllable names plus one-character
deletion typo variants, each label planted in a few conversations in
`Follow-up:` assistant turns, so blocking, scoring and connected
components see thousands of labels instead of the corpus's closed set of
144. The program receives only the generated turns; the ground truth
stays here.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

import pandas as pd

TURN_SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
               "tool string, ts timestamp, platform string, source_file string")

# letters outside [a-f] except two vowels, so no name reads as a hex id
_CONSONANTS = "ghklmnprstvz"
_VOWELS = "aeiou"
_SYLLABLES = [c + v for c in _CONSONANTS for v in _VOWELS]


def wide_vocabulary(n_base: int, typo_share: float, seed: int
                    ) -> tuple[list[str], dict[str, str]]:
    """n_base distinct 3-4 syllable names, plus one-character-deletion
    variants of a `typo_share` sample of them. Returns (all labels,
    variant -> base)."""
    rng = random.Random(seed)
    bases: list[str] = []
    seen: set[str] = set()
    while len(bases) < n_base:
        name = "".join(rng.choice(_SYLLABLES) for _ in range(rng.choice((3, 4))))
        if name not in seen:
            seen.add(name)
            bases.append(name)
    variants: dict[str, str] = {}
    for base in rng.sample(bases, int(n_base * typo_share)):
        i = rng.randrange(1, len(base))
        v = base[:i] + base[i + 1:]
        if v not in seen:
            seen.add(v)
            variants[v] = base
    return bases + list(variants), variants


def wide_turns_pdf(labels: list[str], n_convs: int, plants: int, seed: int
                   ) -> pd.DataFrame:
    """Each label in `plants` distinct conversations, two labels per
    `Follow-up:` assistant turn, after one user turn per conversation."""
    rng = random.Random(seed + 1)
    slots: list[list[str]] = [[] for _ in range(n_convs)]
    for label in labels:
        for ci in rng.sample(range(n_convs), plants):
            slots[ci].append(label)
    base_ts = datetime(2026, 1, 5, 8, 0, 0, tzinfo=timezone.utc)
    rows = []
    for ci, planted in enumerate(slots):
        conv_id = f"wide-{ci:06d}"
        source = f"/projects/wide{ci % 7}/claude-code/session-{conv_id}.jsonl"
        ts = base_ts + timedelta(minutes=ci)
        rng.shuffle(planted)
        texts = [("user", "Please review the rollout plan for these services.")]
        for k in range(0, len(planted), 2):
            e1 = planted[k]
            e2 = planted[k + 1] if k + 1 < len(planted) else planted[0]
            texts.append(("assistant",
                          f"Follow-up: the {e1} rollout also needs the {e2} "
                          "sidecar config reviewed before merge."))
        for ti, (role, text) in enumerate(texts):
            rows.append((conv_id, ti, role, text, None,
                         ts + timedelta(seconds=30 * ti), "claude-code", source))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool",
                                      "ts", "platform", "source_file"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return pdf


def wide_labeled_pairs(variants: dict[str, str], seed: int) -> pd.DataFrame:
    """Positives: every variant with its base. Negatives: each variant
    against another base sharing its first syllable (same-looking,
    different entity), when one exists."""
    rng = random.Random(seed + 2)
    by_prefix: dict[str, list[str]] = {}
    for b in sorted(set(variants.values())):
        by_prefix.setdefault(b[:2], []).append(b)
    rows = []
    for v, b in sorted(variants.items()):
        rows.append((min(v, b), max(v, b), True))
        others = [o for o in by_prefix.get(b[:2], []) if o != b]
        if others:
            o = rng.choice(others)
            rows.append((min(v, o), max(v, o), False))
    return (pd.DataFrame(rows, columns=["surface_a", "surface_b", "is_match"])
            .drop_duplicates(["surface_a", "surface_b"]).reset_index(drop=True))
