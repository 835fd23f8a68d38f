"""Seeded input generator: the benchmark's only source of program input.

Writes ``events``, ``documents`` and ``embeddings`` parquet in the testdata
schemas (TESTDATA.md) from a numpy seed, at a shape chosen per workload.
The program only ever reads these files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
# the testdata documents vocabulary (31 words)
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "fr", "zh", "de", "es")
LANG_P = (0.42, 0.145, 0.145, 0.145, 0.145)
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
DAY_US = 86_400_000_000


@dataclass(frozen=True)
class Shape:
    turns: int = 0
    convs: int = 0
    days: int = 0
    docs: int = 0
    vectors: int = 0


def write_events(path: str, shape: Shape, rng: np.random.Generator) -> None:
    """``events(event_id, ts, user_id, event_type, value, props)``: ts
    monotone in event_id over ``days`` days, users uniform over ``convs``
    ids, five event types in even shares, ``value`` ~ Exp(mean 50)."""
    n = shape.turns
    span = shape.days * DAY_US
    offs = np.sort(rng.integers(0, span, size=n))
    ts = pa.array(EPOCH_US + offs, type=pa.timestamp("us"))
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": ts,
            "user_id": pa.array(rng.integers(0, shape.convs, size=n, dtype=np.int64)),
            "event_type": pa.array(np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, 5, size=n)]),
            "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
        }
    )
    pq.write_table(table, path)


def write_documents(path: str, shape: Shape, rng: np.random.Generator) -> None:
    """``documents(doc_id, text, lang, source, n_chars)``: 8-100 words from
    the 31-word vocabulary; one document in ten copies an earlier one with
    one word changed, so the near-duplicate operators find real groups."""
    n = shape.docs
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), size=int(rng.integers(8, 101)))]
        texts.append(" ".join(words))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(5, size=n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    pq.write_table(table, path)


def write_embeddings(path: str, shape: Shape, rng: np.random.Generator, dim: int = 64, k: int = 10) -> None:
    """``embeddings(vec_id, embedding float[], label int)``: unit vectors
    around ``k`` random cluster centres; ``label`` is the centre."""
    n = shape.vectors
    centres = rng.normal(size=(k, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, k, size=n)
    vecs = centres[label] + rng.normal(scale=0.12, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )
    pq.write_table(table, path)


def generate(sf_dir: str, shape: Shape, seed: int) -> None:
    """Write every table the shape asks for into ``sf_dir``."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    if shape.turns:
        write_events(f"{sf_dir}/events.parquet", shape, rng)
    if shape.docs:
        write_documents(f"{sf_dir}/documents.parquet", shape, rng)
    if shape.vectors:
        write_embeddings(f"{sf_dir}/embeddings.parquet", shape, rng)
