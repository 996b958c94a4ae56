"""Seeded input tables for the curation batch.

The registry keys the batch runs read ``documents``, ``embeddings`` and
``events``; this writes those three as parquet with the schemas and
value shapes of the engine's testdata (a 30-word vocabulary with ~5%
``dup``-suffixed near-duplicates, unit-norm 64-d float vectors with 10
labels, exponential event gaps over 30 days). Sizes are fixed; the seed
only changes the values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
TABLES = ("documents", "embeddings", "events")


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))])
             for _ in range(n)]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    m = rng.standard_normal((n, dim)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(m), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def events(rng: np.random.Generator, n: int) -> pa.Table:
    gaps = rng.exponential(259.0, n)
    gaps[0] = rng.uniform(0, 60)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    types = np.asarray(["click", "error", "purchase", "signup", "view"])
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n).astype(np.int64)),
        "event_type": pa.array(types[rng.integers(0, len(types), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def write_tables(out_dir: str, seed: int, docs: int, vecs: int,
                 n_events: int) -> int:
    """Write the three tables under ``out_dir``; returns bytes written."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in (("documents", documents(rng, docs)),
                        ("embeddings", embeddings(rng, vecs)),
                        ("events", events(rng, n_events))):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
