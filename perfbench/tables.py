"""Seeded tables for the operator sweep.

The three tables the swept registry operators read (events, documents,
embeddings), with the table names, column names and Arrow types of the
fixed scale-factor directories the registry is written against, and value
ranges modelled on them. Every row count is linear in ``sf``; sf=0.01
gives 10,000 events, 500 documents and 500 embeddings. The same
(sf, seed) writes the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split(),
    dtype=object,
)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.array(values, dtype=object)[rng.integers(0, len(values), n)]


def build(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_ev, n_users = int(sf * 1_000_000), max(int(sf * 15_000), 10)
    n_docs, n_vec = int(sf * 50_000), int(sf * 50_000)

    t: dict[str, pa.Table] = {}
    ev = np.arange(n_ev, dtype=np.int64)
    span_us = 30 * 86_400 * 1_000_000
    t["events"] = pa.table({
        "event_id": ev,
        "ts": np.datetime64("2024-01-01", "us") + (
            (ev + rng.random(n_ev)) * (span_us / n_ev)
        ).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, ["signup", "click", "purchase", "error", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.array([f'{{"k": {k}}}' for k in range(100)], dtype=object)[
            rng.integers(0, 100, n_ev)
        ],
    })
    texts = [" ".join(VOCAB[rng.integers(0, len(VOCAB), c)])
             for c in rng.integers(8, 101, n_docs)]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": np.array(["en", "zh", "es", "fr", "de"], dtype=object)[
            np.searchsorted([0.41, 0.56, 0.71, 0.86], rng.random(n_docs), "right")
        ],
        "source": np.array([f"src{i % 20}" for i in range(n_docs)], dtype=object),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    m = rng.standard_normal((n_vec, 64)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(m), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })
    return t


def write(out_dir: str, sf: float, seed: int) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
