"""Seeded synthetic inputs in the testdata layout the package reads.

Writes ``events``, ``documents`` and ``embeddings`` parquet files with
the same schemas and shapes as the testdata of TESTDATA.md:
events spread over January 2024 (the serving queries' ``AS_OF`` window
ends on 2024-01-31), documents from a 30-word vocabulary with 5 % near
duplicates, and unit-norm 64-d embeddings. The same seed and scale give
byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
JAN_2024_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in µs
MONTH_US = 30 * 86_400 * 1_000_000
DIM = 64


def events_table(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    ts = np.sort(JAN_2024_US + rng.integers(0, MONTH_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
             for _ in range(n)]
    dups = rng.choice(n, size=n // 20, replace=False)
    for d in dups:
        texts[d] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.standard_normal((10, DIM)) * 0.1
    x = rng.standard_normal((n, DIM)) + centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def write_dataset(
    out_dir: str, seed: int, sf: float,
    tables: tuple[str, ...] = ("events", "documents", "embeddings"),
) -> str:
    """Write ``tables`` for scale factor ``sf`` under ``out_dir``:
    1e6·sf events over 15000·sf users, 50000·sf documents and
    20000·sf embeddings, with that testdata's floor of 500 documents and
    500 embeddings (sf0.1 matches its sf0.1 sizes)."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {
        "events": lambda rng: events_table(rng, int(1_000_000 * sf), max(int(15_000 * sf), 1)),
        "documents": lambda rng: documents_table(rng, max(int(50_000 * sf), 500)),
        "embeddings": lambda rng: embeddings_table(rng, max(int(20_000 * sf), 500)),
    }
    for name in tables:
        # one stream per table, so a table does not depend on which
        # other tables were generated with it
        rng = np.random.default_rng([seed, list(makers).index(name)])
        pq.write_table(makers[name](rng), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
