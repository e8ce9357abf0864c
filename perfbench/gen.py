"""Seeded input generator for the pipeline benchmark.

Writes ``documents``, ``embeddings`` and ``events`` parquet tables with the
same schemas and the same physical layout as the engine's test data: one
file per table, one row group per file. ``io.sources._parallelize_scan``
and ``streaming.enrich.stream_table`` both branch on that layout, so a
different layout would measure a different plan.

The seed decides which rows carry each property (ids, row order, which
documents are duplicated and how the copies are edited). The properties
themselves -- row counts, exact-duplicate share, near-duplicate share --
are fixed per workload, so two seeds give inputs of the same shape.
Document ids and vector ids are a seeded permutation of ``0..n-1``: the
registry's queries split corpora by id parity and pick probe vectors by
``vec_id < 10``, and a dense permutation keeps both splits the same size
for every seed.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The engine's test-data vocabulary: documents are bags of these words.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
EMB_DIM = 64
EMB_LABELS = 10
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 (naive, microseconds)
SPAN_US = 30 * 24 * 3600 * 1_000_000


@dataclass(frozen=True)
class Shape:
    """The input properties a workload holds fixed across seeds."""

    docs: int
    exact_dup_share: float
    near_dup_share: float
    embeddings: int
    events: int
    users: int


def _doc_texts(rng: np.random.Generator, shape: Shape) -> tuple[list[str], int, int]:
    """Texts for ``shape.docs`` documents; returns (texts, n_exact, n_near).

    Near-duplicates are edited copies: one to three word substitutions
    plus, for half of them, one appended word -- the kind of drift
    MinHash-LSH exists to catch. Exact duplicates are verbatim copies."""
    n = shape.docs
    n_exact = round(n * shape.exact_dup_share)
    n_near = round(n * shape.near_dup_share)
    n_orig = n - n_exact - n_near
    if n_orig < 1:
        raise ValueError(f"duplicate shares leave no original documents: {shape}")
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        for _ in range(n_orig)
    ]
    for _ in range(n_exact):
        texts.append(texts[rng.integers(0, n_orig)])
    for _ in range(n_near):
        words = texts[rng.integers(0, n_orig)].split()
        for pos in rng.choice(len(words), size=rng.integers(1, 4), replace=False):
            words[pos] = vocab[rng.integers(0, len(vocab))]
        if rng.random() < 0.5:
            words.append(vocab[rng.integers(0, len(vocab))])
        texts.append(" ".join(words))
    return texts, n_exact, n_near


def _documents(rng: np.random.Generator, shape: Shape) -> tuple[pa.Table, dict]:
    texts, n_exact, n_near = _doc_texts(rng, shape)
    n = len(texts)
    order = rng.permutation(n)  # seeded row order
    ids = rng.permutation(n).astype(np.int64)  # seeded id relabelling
    texts = [texts[i] for i in order]
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs.tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    props = {
        "docs": n,
        "exact_dup_share": round(n_exact / n, 6),
        "near_dup_share": round(n_near / n, 6),
        "distinct_texts": len(set(texts)),
    }
    return table, props


def _embeddings(rng: np.random.Generator, shape: Shape) -> pa.Table:
    """Unit vectors with a weak per-label direction, like the test data
    (same-label cosine a little above zero, not separable clusters)."""
    n = shape.embeddings
    centers = rng.standard_normal((EMB_LABELS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, EMB_LABELS, n).astype(np.int32)
    x = rng.standard_normal((n, EMB_DIM)) / np.sqrt(EMB_DIM) + 0.07 * centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    ids = rng.permutation(n).astype(np.int64)
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _events(rng: np.random.Generator, shape: Shape) -> pa.Table:
    """Time-ordered events over 30 days; event ids follow time order as in
    the test data, offset by a seeded base so ids are relabelled."""
    n = shape.events
    ts = np.sort(rng.integers(0, SPAN_US, n)) + EPOCH_US
    base = int(rng.integers(0, 1_000_000))
    values = np.round(rng.exponential(50.0, n), 2)
    return pa.table(
        {
            "event_id": pa.array(np.arange(base, base + n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, shape.users, n).astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist(), pa.string()),
            "value": pa.array(values, pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
        }
    )


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, like the test data (see module docstring)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def generate(out_dir: str, shape: Shape, seed: int) -> dict:
    """Write the three tables under ``out_dir`` and return the measured
    input properties. Same (shape, seed) -> byte-identical files."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    docs, props = _documents(rng, shape)
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    _write(_embeddings(rng, shape), os.path.join(out_dir, "embeddings.parquet"))
    _write(_events(rng, shape), os.path.join(out_dir, "events.parquet"))
    props.update(embeddings=shape.embeddings, events=shape.events, users=shape.users)
    return {"seed": seed, "shape": asdict(shape), "measured": props}
