"""Seeded inputs for the benchmark's workloads.

Everything here is a pure function of (size, seed) built with a
seeded numpy Generator, so the same seed always gives the same bytes
and the engine under test only ever sees the generated files.

Match layers: `overmatch_spark.demo` derives both layers from one
integer key per feature, and the key's last digit is its distance
class (0-5 match within 10-50 m, 6-7 sit just beyond the 100 m
buffer, 8-9 lie in the far band ~50 km south). A key is 10*i + class
with i = 0..n-1, so ids are unique; the class is drawn uniformly from
0-7, so every probe has a candidate within 104.5 m.

Near-dup corpus: documents in the style of the driver's
`documents.parquet` (its 31-word vocabulary, 10-100 words, uniform
draws). A seeded share of documents are copies of an earlier
document with a few words rewritten; the rest share almost no word
3-shingles with anything.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]

NEAR_CLASSES = 8  # classes 0..7 have a candidate within 104.5 m
REWRITE_P = 0.04  # per-word rewrite probability of a near-duplicate


def match_keys(n: int, seed: int) -> np.ndarray:
    """n unique demo keys, classes drawn uniformly from 0-7."""
    rng = np.random.default_rng(seed)
    return np.arange(n, dtype=np.int64) * 10 + rng.integers(0, NEAR_CLASSES, n)


def corpus(n: int, dup_share: float, seed: int) -> tuple[np.ndarray, list[str]]:
    """(doc_id, text) for n documents. A `dup_share` fraction copy an
    earlier document and rewrite each word with probability
    REWRITE_P (at least one word)."""
    rng = np.random.default_rng(seed)
    docs: list[np.ndarray] = []
    is_dup = rng.random(n) < dup_share
    is_dup[0] = False
    for i in range(n):
        if is_dup[i]:
            w = docs[int(rng.integers(0, i))].copy()
            hit = rng.random(len(w)) < REWRITE_P
            if not hit.any():
                hit[int(rng.integers(0, len(w)))] = True
            w[hit] = (w[hit] + rng.integers(1, len(VOCAB), int(hit.sum()))) % len(VOCAB)
        else:
            w = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
        docs.append(w)
    text = [" ".join(VOCAB[j] for j in w) for w in docs]
    return np.arange(n, dtype=np.int64), text


def write_keys(path: str, keys: np.ndarray) -> None:
    pq.write_table(pa.table({"k": keys}), path)


def write_corpus(path: str, doc_id: np.ndarray, text: list[str]) -> None:
    pq.write_table(pa.table({"doc_id": doc_id, "text": text}), path)
