"""Seeded input generation for the benchmark: source table, query logs
and CDC micro-batches.

Everything here is plain Python + numpy + pyarrow and runs before the
Spark session starts, outside all timing. It deliberately does not call
the program's own fixture generators, so a change to the program cannot
silently change a workload. The same seed always gives the same files.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SYLLABLES = [
    "ba", "ce", "di", "fo", "gu", "ha", "ki", "lo", "mu", "ne", "pa", "qi",
    "ro", "su", "ta", "ve", "wi", "xo", "yu", "za", "bre", "cla", "dro",
    "fle", "gri", "plo", "sna", "tri", "vor", "zel",
]
_ROLES = ["user", "assistant", "tool"]
_TOOLS = [None, "bash", "search", "edit"]
_PUNCT = [",", ".", "!", "?", ";", ":"]
_BASE_TS = dt.datetime(2026, 1, 1)

ROW_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us"), nullable=False),
    ]
)
CDC_SCHEMA = pa.schema(
    [
        pa.field("op", pa.string(), nullable=False),
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("full_document", pa.struct(list(ROW_SCHEMA))),
        pa.field("updated_fields", pa.map_(pa.string(), pa.string())),
        pa.field("removed_fields", pa.list_(pa.string())),
        pa.field("ts", pa.timestamp("us"), nullable=False),
    ]
)


def vocabulary(size: int) -> "list[str]":
    """``size`` distinct lowercase pseudo-words (two, then three
    syllables), one token each under any word-character analyzer."""
    n = len(_SYLLABLES)
    words = [a + b for a in _SYLLABLES for b in _SYLLABLES]
    words += [a + b + c for a in _SYLLABLES for b in _SYLLABLES for c in _SYLLABLES]
    if size > len(words):
        raise ValueError(f"vocabulary size {size} > {len(words)} ({n} syllables)")
    return words[:size]


def zipf(n: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), s)
    return p / p.sum()


def _text(rng: np.random.Generator, words: "list[str]", probs: np.ndarray,
          lo: int = 5, hi: int = 80) -> str:
    """One turn of Zipf text with some capitals and punctuation, so the
    analyzer has case folding and separators to handle."""
    n = int(rng.integers(lo, hi + 1))
    idx = rng.choice(len(words), size=n, p=probs)
    shape = rng.random(n)
    out = []
    for w, r in zip((words[i] for i in idx), shape):
        if r < 0.05:
            w = w.capitalize()
        elif r < 0.15:
            w += _PUNCT[int(r * 1000) % len(_PUNCT)]
        out.append(w)
    return " ".join(out)


@dataclass
class Corpus:
    """The generated source table plus the facts the gates need."""

    path: str
    words: "list[str]"
    probs: np.ndarray
    n_turns: int
    text_bytes: int
    distinct_terms: int
    #: conv_id -> number of turns (turn_idx 0..n-1)
    turns: "dict[str, int]" = field(repr=False, default_factory=dict)
    #: (conv_id, turn_idx) -> UTF-8 bytes of its text
    key_bytes: "dict[tuple[str, int], int]" = field(repr=False, default_factory=dict)


def make_corpus(path: str, seed: int, n_convs: int, vocab_size: int) -> Corpus:
    """Write ``n_convs`` conversations of 3-12 turns each to one parquet
    file. Returns its sizes."""
    rng = np.random.default_rng([seed, 1])
    words = vocabulary(vocab_size)
    probs = zipf(vocab_size)
    cols: dict = {k: [] for k in ROW_SCHEMA.names}
    turns: dict[str, int] = {}
    seen: set[str] = set()
    for c in range(n_convs):
        conv = f"c{c:06d}"
        n_t = int(rng.integers(3, 13))
        turns[conv] = n_t
        for t in range(n_t):
            text = _text(rng, words, probs)
            seen.update(w.rstrip("".join(_PUNCT)).lower() for w in text.split())
            role = _ROLES[t % 3]
            cols["conv_id"].append(conv)
            cols["turn_idx"].append(t)
            cols["role"].append(role)
            cols["text"].append(text)
            cols["tool"].append(
                _TOOLS[int(rng.integers(0, 4))] if role == "tool" else None
            )
            cols["ts"].append(_BASE_TS + dt.timedelta(seconds=c * 100 + t))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols, schema=ROW_SCHEMA), path)
    key_bytes = {(c, t): len(x.encode()) for c, t, x in
                 zip(cols["conv_id"], cols["turn_idx"], cols["text"])}
    return Corpus(
        path=path,
        words=words,
        probs=probs,
        n_turns=len(cols["text"]),
        text_bytes=sum(key_bytes.values()),
        distinct_terms=len(seen),
        turns=turns,
        key_bytes=key_bytes,
    )


def query_log(seed: int, corpus: Corpus, n: int, max_terms: int = 3) -> "list[str]":
    """``n`` queries of 1..max_terms terms, each term Zipf-drawn from
    the corpus vocabulary (so popular terms are queried most)."""
    rng = np.random.default_rng([seed, 2])
    lens = rng.integers(1, max_terms + 1, size=n)
    idx = rng.choice(len(corpus.words), size=int(lens.sum()), p=corpus.probs)
    words = [corpus.words[i] for i in idx]
    ends = np.cumsum(lens)
    return [" ".join(words[e - k:e]) for e, k in zip(ends.tolist(), lens.tolist())]


def distinct_terms(queries: "list[str]") -> int:
    return len({t for q in queries for t in q.split()})


def batch_token(seed: int, i: int) -> str:
    """A term unique to CDC batch ``i``: digits never occur in the
    corpus vocabulary, so no other turn can match it."""
    return f"tok{seed}n{i}"


@dataclass
class CdcBatch:
    path: str
    token: str
    #: keys (conv_id, turn_idx) the batch inserts; each carries ``token``
    inserted: "list[tuple[str, int]]"
    #: keys the batch deletes
    deleted: "list[tuple[str, int]]"
    n_events: int
    #: UTF-8 text bytes of every live turn once the batch is applied
    live_text_bytes: int


def make_cdc_batches(
    out_dir: str,
    seed: int,
    corpus: Corpus,
    n_cdc: int,
    updates: int,
    replaces: int,
    deletes: int,
    inserts: int,
) -> "list[CdcBatch]":
    """``n_cdc`` micro-batches meant to be applied in order. Every
    update, replace and delete targets a key live in the state the batch
    is applied to (the model below tracks it); inserts append new turns
    to existing conversations. Half of each batch's deletes hit turns an
    earlier batch inserted, so the gate's "never a deleted turn" check
    has earlier tokens to look for."""
    rng = np.random.default_rng([seed, 3])
    live = [(c, t) for c, n in corpus.turns.items() for t in range(n)]
    live_bytes = dict(corpus.key_bytes)  # the live state: key -> text bytes
    next_turn = dict(corpus.turns)
    inserted_live: list[tuple[str, int]] = []
    convs = sorted(corpus.turns)
    clock = _BASE_TS + dt.timedelta(days=400)
    batches = []
    os.makedirs(out_dir, exist_ok=True)
    for b in range(n_cdc):
        token = batch_token(seed, b)
        rows: dict = {k: [] for k in CDC_SCHEMA.names}

        def emit(op, key, doc=None, upd=None, rem=None):
            nonlocal clock
            clock += dt.timedelta(seconds=1)
            rows["op"].append(op)
            rows["conv_id"].append(key[0])
            rows["turn_idx"].append(key[1])
            rows["full_document"].append(doc)
            rows["updated_fields"].append(upd)
            rows["removed_fields"].append(rem)
            rows["ts"].append(clock)

        # pick distinct targets for this batch: earlier inserts first
        # (for half the deletes), then base keys
        n_prev = min(deletes // 2, len(inserted_live))
        prev_pick = [inserted_live[i] for i in
                     rng.choice(len(inserted_live), size=n_prev, replace=False)] if n_prev else []
        chosen = set(prev_pick)
        others = []
        while len(others) < updates + replaces + deletes - n_prev:
            key = live[int(rng.integers(0, len(live)))]
            if key in live_bytes and key not in chosen:
                chosen.add(key)
                others.append(key)
        upd_keys = others[:updates]
        rep_keys = others[updates:updates + replaces]
        del_keys = prev_pick + others[updates + replaces:]
        for key in upd_keys:
            text = _text(rng, corpus.words, corpus.probs)
            live_bytes[key] = len(text.encode())
            emit("update", key, upd={"text": text}, rem=["tool"])
        for key in rep_keys:
            text = _text(rng, corpus.words, corpus.probs)
            live_bytes[key] = len(text.encode())
            emit("replace", key, doc={
                "conv_id": key[0], "turn_idx": key[1], "role": "assistant",
                "text": text, "tool": None, "ts": clock})
        for key in del_keys:
            del live_bytes[key]
            emit("delete", key)
        ins_keys = []
        for _ in range(inserts):
            conv = convs[int(rng.integers(0, len(convs)))]
            key = (conv, next_turn[conv])
            next_turn[conv] += 1
            ins_keys.append(key)
            text = f"{_text(rng, corpus.words, corpus.probs, 4, 30)} {token}"
            live_bytes[key] = len(text.encode())
            emit("insert", key, doc={
                "conv_id": key[0], "turn_idx": key[1], "role": "user",
                "text": text, "tool": None, "ts": clock})
        inserted_live = [k for k in inserted_live if k in live_bytes] + ins_keys
        live.extend(ins_keys)
        path = os.path.join(out_dir, f"batch-{b:04d}.parquet")
        pq.write_table(pa.table(rows, schema=CDC_SCHEMA), path)
        batches.append(CdcBatch(path, token, ins_keys, del_keys,
                                len(rows["op"]), sum(live_bytes.values())))
    return batches
