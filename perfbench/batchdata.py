"""Seeded generator for the batch workload's input tables.

Writes ``events``, ``documents`` and ``embeddings`` parquet files with the
schemas that ``arroyo_spark.queries`` reads. The value distributions follow
the repository's fixed test tables (TESTDATA.md), as read from their sf0.1
files: events sorted by time over 30 days with uniform users and event
types; documents of 10 to 100 words drawn from a 31-word vocabulary, about
0.16% of them verbatim re-posts; embeddings that are isotropic unit
vectors with labels drawn independently of them. The tables are built
with numpy on the driver, so the same seed gives byte-identical inputs and
the recorded per-query checksums in ``expected_batch.json`` stay valid.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
WORDS = np.array(
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DIM = 64
LABELS = 10


def events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), rng.integers(10, 101))]) for _ in range(n)]
    # verbatim re-posts (8 in 5000 at sf0.1) so the dedup paths see exact ties
    for i in rng.choice(np.arange(1, n), max(1, n // 625), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vec = rng.normal(size=(n, DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    label = rng.integers(0, LABELS, n)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )


def write_tables(
    out_dir: str, seed: int, n_events: int, n_users: int, n_docs: int, n_vecs: int
) -> dict[str, int]:
    """Write the three tables under ``out_dir``; returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "events": events(rng, n_events, n_users),
        "documents": documents(rng, n_docs),
        "embeddings": embeddings(rng, n_vecs),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
