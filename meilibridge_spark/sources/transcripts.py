"""Deterministic synthetic `transcripts` table (FIXTURES.md §1).

Schema: (conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp) — BASELINE.json input_hint shape.

Generation is distributed AND partition-independent: each conversation
is generated by an RNG seeded by (seed, conv_index), so the same
(seed, n_convs) always yields byte-identical rows no matter how Spark
partitions the work — the property the resume/identity tests rely on.

Text is drawn from a ~500-word Zipfian vocabulary (s≈1.1) so hot-term
skew is real (the salted posting build exists because of this), with
mixed case, punctuation, unicode words, empty strings and tf>1 repeats.
"""

from __future__ import annotations

import datetime as dt
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from meilibridge_spark.session import trim_importer_cache

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

_ROLES = ["user", "assistant", "tool"]
_TOOLS = [None, "bash", "search", "edit"]
_BASE_TS = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

_SYL = [
    "ba", "ce", "di", "fo", "gu", "ha", "ki", "lo", "mu", "ne",
    "pa", "qi", "ro", "su", "ta", "ve", "wi", "xo", "yu", "za",
]
_UNICODE_WORDS = ["café", "naïve", "東京", "мир", "straße", "niño"]
_PUNCT = [",", ".", "!", "?", ";", ":"]


def build_vocab(size: int = 500) -> "list[str]":
    """Deterministic pseudo-words: syllable pairs/triples, plus a few
    unicode words near the tail."""
    vocab: list[str] = []
    i = 0
    while len(vocab) < size - len(_UNICODE_WORDS):
        a, b_, c = _SYL[i % 20], _SYL[(i // 20) % 20], _SYL[(i // 400) % 20]
        vocab.append(a + b_ + (c if i >= 400 else ""))
        i += 1
    vocab.extend(_UNICODE_WORDS)
    return vocab[:size]


def zipf_probs(n: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), s)
    return p / p.sum()


def _gen_conv(conv_idx: int, seed: int, vocab: "list[str]", probs: np.ndarray) -> pd.DataFrame:
    rng = np.random.default_rng((seed, conv_idx))
    n_turns = int(rng.integers(3, 13))
    rows = []
    for t in range(n_turns):
        n_tok = int(rng.integers(5, 81))
        r = rng.random()
        if r < 0.01:
            text = ""
        else:
            idx = rng.choice(len(vocab), size=n_tok, p=probs)
            words = [vocab[i] for i in idx]
            # mixed case + punctuation injection (tokenizer must normalize)
            caps = rng.random(n_tok)
            words = [
                w.upper() if c < 0.03 else (w.capitalize() if c < 0.10 else w)
                for w, c in zip(words, caps)
            ]
            puncts = rng.random(n_tok)
            words = [
                w + _PUNCT[int(p * 1000) % len(_PUNCT)] if p < 0.15 else w
                for w, p in zip(words, puncts)
            ]
            text = " ".join(words)
        role = _ROLES[t % 3]
        tool = _TOOLS[int(rng.integers(0, 4))] if role == "tool" else None
        ts = _BASE_TS + dt.timedelta(seconds=conv_idx * 1000 + t)
        rows.append(
            {
                "conv_id": f"conv{conv_idx:06d}",
                "turn_idx": t,
                "role": role,
                "text": text,
                "tool": tool,
                "ts": ts.replace(tzinfo=None),
            }
        )
    return pd.DataFrame(rows)


def generate_transcripts(
    spark: SparkSession,
    n_convs: int = 64,
    seed: int = 42,
    vocab_size: int = 500,
    num_partitions: "int | None" = None,
) -> DataFrame:
    """Distributed deterministic generation: spark.range over conv
    indices -> mapInPandas; per-conv RNG keyed by (seed, conv_idx)."""
    vocab = build_vocab(vocab_size)
    probs = zipf_probs(len(vocab))
    parts = num_partitions or min(max(1, n_convs // 8), 64)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trim_importer_cache()
        for pdf in batches:
            frames = [
                _gen_conv(int(cid), seed, vocab, probs) for cid in pdf["id"]
            ]
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return (
        spark.range(0, n_convs, numPartitions=parts)
        .mapInPandas(gen, schema=TRANSCRIPT_SCHEMA)
    )


def generate_transcripts_pdf(
    n_convs: int = 64, seed: int = 42, vocab_size: int = 500
) -> pd.DataFrame:
    """Driver-side variant (identical rows) for oracles/small tests."""
    vocab = build_vocab(vocab_size)
    probs = zipf_probs(len(vocab))
    return pd.concat(
        [_gen_conv(i, seed, vocab, probs) for i in range(n_convs)],
        ignore_index=True,
    )
