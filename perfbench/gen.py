"""Seeded input generators for the benchmark.

Everything here is NumPy + PyArrow: no Spark, no clock, no randomness
outside the ``numpy.random.Generator`` built from the seed, so one
seed always writes the same parquet bytes (pinned by
``perfbench/tests/test_perfbench.py``).

The tables use the exact schemas of the engine's fixture tables
(FIXTURES.md §B), so ``sources.cdc_feed``, ``sources.tables`` and the
registry's DuckDB oracles read them unchanged:

- ``events``: the CDC feed. Keys are ``(event_type, user_id)`` plus the
  engine's ``user_id + 1_000_000`` twin for every fifth event, so
  ``user_id`` stays below 1_000_000 and the twins never collide with a
  real user. Updates per key follow a Zipf law over a seeded
  permutation of user ids; a share of rows is redelivered verbatim
  (same ``event_id``, i.e. the same replayId); event time drifts
  forward with small out-of-order jitter.
- ``documents`` / ``embeddings``: the near-dup screen's corpus, shaped
  like the engine's fixture (a 30-word vocabulary, 8-100 words per
  document, a few percent near-duplicates marked by a trailing
  ``dup`` token, a few exact copies; 64-dim vectors around ten label
  centroids).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ENTITIES = ("click", "view", "purchase", "signup", "error")
TWIN_OFFSET = 1_000_000  # CHANGES_CTE's second record id: user_id + 1M
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
DOCUMENTS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
EMBEDDINGS_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "es", "fr", "de", "zh")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


@dataclass(frozen=True)
class FeedSpec:
    """Shape of a generated CDC feed."""

    events: int  # distinct events (replayIds) before redelivery
    users: int  # user-id space; keys ≈ entities × touched users (+ twins)
    zipf_s: float = 1.1  # skew of updates per user
    redeliver: float = 0.01  # share of events delivered twice
    jitter_s: float = 30.0  # out-of-order event-time jitter, ± seconds
    gap_s: float = 2.0  # mean event-time gap between consecutive events

    def __post_init__(self) -> None:
        if not 0 < self.users < TWIN_OFFSET:
            raise ValueError("users must be in (0, 1_000_000) so twin ids never collide")


def feed_table(spec: FeedSpec, seed: int) -> pa.Table:
    """The CDC feed as an ``events`` table, rows in replayId order with
    each redelivered row right after its original."""
    rng = np.random.default_rng([seed, 1])
    n = spec.events
    ranks = np.arange(1, spec.users + 1, dtype=np.float64)
    p = ranks ** -spec.zipf_s
    user_of_rank = rng.permutation(spec.users)
    user_id = user_of_rank[rng.choice(spec.users, size=n, p=p / p.sum())]
    entity = rng.integers(0, len(ENTITIES), size=n)
    gaps = rng.exponential(spec.gap_s, size=n)
    jitter = rng.uniform(-spec.jitter_s, spec.jitter_s, size=n)
    ts_us = EPOCH_US + np.round((np.cumsum(gaps) + spec.jitter_s + jitter) * 1e6).astype(np.int64)
    value = np.round(rng.exponential(60.0, size=n), 2)
    k = rng.integers(0, 100, size=n)

    copies = np.where(rng.random(n) < spec.redeliver, 2, 1)
    idx = np.repeat(np.arange(n), copies)
    ent_names = pa.array(ENTITIES, type=pa.string())
    props = pa.array([f'{{"k": {v}}}' for v in range(100)], type=pa.string())
    return pa.table(
        {
            "event_id": pa.array(idx.astype(np.int64)),
            "ts": pa.array(ts_us[idx], type=pa.timestamp("us")),
            "user_id": pa.array(user_id[idx].astype(np.int64)),
            "event_type": ent_names.take(entity[idx]),
            "value": pa.array(value[idx]),
            "props": props.take(k[idx]),
        },
        schema=EVENTS_SCHEMA,
    )


def documents_table(n_docs: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < 0.05:  # near-dup: an earlier document plus a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.055:  # exact copy
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(VOCAB), size=int(rng.integers(8, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    lang = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    source = rng.integers(0, 20, size=n_docs)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array([LANGS[x] for x in lang], type=pa.string()),
            "source": pa.array([f"src{x}" for x in source], type=pa.string()),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        },
        schema=DOCUMENTS_SCHEMA,
    )


def embeddings_table(n_vecs: int, seed: int, dim: int = 64) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    centroids = rng.normal(0.0, 0.1, size=(10, dim))
    label = rng.integers(0, 10, size=n_vecs)
    vecs = (centroids[label] + rng.normal(0.0, 0.08, size=(n_vecs, dim))).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n_vecs * dim + 1, dim, dtype=np.int32)),
        pa.array(vecs.reshape(-1)),
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(label.astype(np.int32)),
        },
        schema=EMBEDDINGS_SCHEMA,
    )


def write_table(table: pa.Table, sf_dir: str, name: str) -> str:
    """Write ``<sf_dir>/<name>.parquet`` (the layout ``tables.table_path``
    resolves). Row groups are sized so a scan splits across cores."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, f"{name}.parquet")
    pq.write_table(table, path, row_group_size=max(4096, table.num_rows // 16))
    return path
