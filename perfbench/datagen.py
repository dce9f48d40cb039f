"""Seeded input generation. The same seed gives the same Parquet files.

The shapes follow the repository's star schema (FIXTURES.md): a
5-integer-column ``grades`` table keyed on column 0, TPC-H-like
``orders``, a ``documents`` corpus over a small technical vocabulary
and 64-dimensional clustered ``embeddings``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the key value table row column part hash merge batch fast slow "
    "small big spark query scan sort join filter group order window "
    "stream line data agg vector customer index tail base commit fold "
    "page range version lineage record update insert delete snapshot"
).split()
STATUS = ["O", "P", "F"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "fr", "es", "it"]
DIM = 64
N_CLUSTERS = 10
ZIPF_S = 1.1


class Zipf:
    """Draws indexes 0..n-1 with P(rank r) proportional to 1/r**ZIPF_S;
    the rank -> index map is a seeded permutation, so hot items are
    spread over the key space."""

    def __init__(self, rng: np.random.Generator, n: int):
        w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** ZIPF_S
        self.cdf = np.cumsum(w / w.sum())
        self.perm = rng.permutation(n)
        self.rng = rng

    def draw(self) -> int:
        r = np.searchsorted(self.cdf, self.rng.random(), side="right")
        return int(self.perm[min(r, len(self.perm) - 1)])


def grades(rng: np.random.Generator, n: int) -> pa.Table:
    vals = rng.integers(0, 1000, size=(n, 4))
    cols = {"c0": pa.array(np.arange(n, dtype=np.int64))}
    for i in range(4):
        cols[f"c{i + 1}"] = pa.array(vals[:, i].astype(np.int64))
    return pa.table(cols)


def orders(rng: np.random.Generator, n: int) -> pa.Table:
    days = rng.integers(0, 7 * 365, size=n)
    dates = np.datetime64("1992-01-01", "us") + days.astype("timedelta64[D]")
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, max(1, n // 10), size=n).astype(np.int64)),
            "o_orderstatus": pa.array(rng.choice(STATUS, size=n)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, size=n), 2)),
            "o_orderdate": pa.array(dates, type=pa.timestamp("us", tz="UTC")),
            "o_orderpriority": pa.array(rng.choice(PRIORITY, size=n)),
        }
    )


def documents(rng: np.random.Generator, n: int, id0: int = 0) -> pa.Table:
    lens = rng.integers(20, 80, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    texts, at = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at : at + ln]))
        at += ln
    ids = np.arange(id0, id0 + n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, size=n)),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings(rng: np.random.Generator, n: int, centers: np.ndarray, id0: int = 0) -> pa.Table:
    """``n`` vectors, each one of the ``centers`` plus Gaussian noise."""
    labels = rng.integers(0, N_CLUSTERS, size=n)
    vecs = (centers[labels] + rng.normal(0.0, 0.1, size=(n, DIM))).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(id0, id0 + n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path
