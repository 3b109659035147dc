"""Seeded benchmark inputs: transcript corpora and their planted gold.

Conversations come from ``pl_marker_spark.synth.gen_conv``, whose output
is a pure function of a conversation index. Each seed owns a disjoint
block of indices, so two seeds never share a conversation. Index 0, the
generator's fixed 400-turn conversation, is never drawn; instead every
corpus plants its own heavy-tail conversation by stitching seed-owned
conversations end to end.

Everything here runs in one process and writes plain parquet files; the
benchmark's timed passes read only those files.
"""

from __future__ import annotations

import os

import pandas as pd

from pl_marker_spark import synth
from pl_marker_spark.world import SYM_LABELS

STRIDE = 1_000_000        # conversation indices owned by one seed
HEAVY_OFFSET = STRIDE // 2
HEAVY_TURNS = 400
COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _heavy_conv(first_idx: int):
    """One conversation of at least HEAVY_TURNS turns, stitched from the
    seed's own conversations starting at ``first_idx``. Turn indices,
    conversation-level word offsets and timestamps are renumbered so the
    result is a valid single conversation with consistent gold."""
    cid = synth.conv_name(first_idx)
    turns, gold = [], []
    n_words = 0
    idx = first_idx
    ts0 = None
    while len(turns) < HEAVY_TURNS:
        sub_turns, _mentions, sub_rels = synth.gen_conv(idx)
        idx += 1
        t_off = len(turns)
        if ts0 is None:
            ts0 = sub_turns[0][5]
        for _c, t, role, text, tool, _ts in sub_turns:
            turns.append((cid, t_off + t, role, text, tool, ts0 + (t_off + t) * 60))
        for _c, t, s1, e1, s2, e2, label in sub_rels:
            gold.append((cid, t_off + t, s1 + n_words, e1 + n_words,
                         s2 + n_words, e2 + n_words, label))
        n_words += sum(len(text.split(" ")) for *_x, text, _tool, _ts in sub_turns)
    return turns, gold


def corpus(seed: int, n_turns: int):
    """About ``n_turns`` turns for ``seed``: one planted heavy-tail
    conversation plus ordinary ones (3-12 turns, 2% with 60-120) until the
    total reaches ``n_turns``. Sizing by turns rather than conversations
    keeps the work of a pass nearly equal across seeds. Returns
    ``(turns, gold)`` with turns in the transcript schema (``ts`` in epoch
    seconds) and gold relations as ``(conv_id, turn_idx, s1, e1, s2, e2,
    label)``."""
    if seed < 0:
        raise ValueError("seed must be >= 0")
    base = 1 + seed * STRIDE
    turns, gold = [], []
    idx = base
    while len(turns) < n_turns - HEAVY_TURNS:
        t, _m, r = synth.gen_conv(idx)
        idx += 1
        turns.extend(t)
        gold.extend(r)
    t, r = _heavy_conv(base + HEAVY_OFFSET)
    turns.extend(t)
    gold.extend(r)
    return turns, gold


def gold_triple_keys(gold) -> set[tuple]:
    """Gold relations as match keys. A symmetric label matches in either
    direction, so its key is the endpoint pair in sorted order."""
    return {triple_key(c, t, s1, e1, s2, e2, label)
            for c, t, s1, e1, s2, e2, label in gold}


def triple_key(c, t, s1, e1, s2, e2, label) -> tuple:
    a, b = (s1, e1), (s2, e2)
    if label in SYM_LABELS and b < a:
        a, b = b, a
    return (c, int(t), *a, *b, label)


def write_turns(turns, path: str) -> None:
    """One parquet file in the transcript schema."""
    pdf = pd.DataFrame(turns, columns=COLUMNS)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf.to_parquet(path, index=False, coerce_timestamps="us",
                   allow_truncated_timestamps=True)


def split_by_conv(turns, n_files: int) -> list[list[tuple]]:
    """Partition turns into ``n_files`` conversation-complete chunks of
    near-equal conversation count, in first-appearance order."""
    order: dict[str, int] = {}
    for row in turns:
        order.setdefault(row[0], len(order))
    per = -(-len(order) // n_files)
    chunks: list[list[tuple]] = [[] for _ in range(n_files)]
    for row in turns:
        chunks[order[row[0]] // per].append(row)
    return chunks
