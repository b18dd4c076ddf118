"""Seeded inputs for every workload, written as parquet with the engine's
table schemas (``customer``, ``orders``, ``documents``, ``embeddings``).

The generators reproduce the shape of the engine's sf0.1 test tables, as
measured from those files (README.md, "Input shape"):

- documents: 10-100 words (uniform), each drawn uniformly from the same
  30-word vocabulary, one line, no punctuation; ``lang`` en 41%, the four
  others about 15% each; ``source`` is ``src<doc_id % 20>``. 5% of the
  documents are near duplicates: another document's text plus the word
  ``dup`` (word 3-gram Jaccard about 0.98), so two copies of one original
  are also exact duplicates of each other.
- embeddings: isotropic Gaussian 64-dim unit vectors (float32), label
  uniform in 0..9. Cosine between two vectors is about N(0, 1/64), so
  semantic pairs come from the tail above the threshold.
- customer / orders: 15,000 customers (keys from 0), 150,000 orders
  (keys from 0) spread uniformly over customers and over 1995-01-01 ..
  2001-08-01, status and priority uniform.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
DUP_WORD = "dup"
MIN_WORDS, MAX_WORDS = 10, 100
LANGS = ("en", "de", "fr", "es", "zh")
LANG_WEIGHTS = (0.41, 0.14, 0.15, 0.15, 0.15)
N_SOURCES = 20
DIM = 64
N_LABELS = 10
NEAR_FRAC = 0.05


def _doc(rng) -> str:
    n = int(rng.integers(MIN_WORDS, MAX_WORDS + 1))
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


@dataclass
class Corpus:
    """Documents in id order; ``pool`` holds the texts later duplicates
    may copy."""

    ids: list[int] = field(default_factory=list)
    texts: list[str] = field(default_factory=list)
    pool: list[str] = field(default_factory=list)
    langs: list[str] = field(default_factory=list)
    sources: list[str] = field(default_factory=list)

    def add(self, rng, doc_id: int, text: str) -> None:
        self.ids.append(doc_id)
        self.texts.append(text)
        self.langs.append(str(rng.choice(LANGS, p=LANG_WEIGHTS)))
        self.sources.append(f"src{doc_id % N_SOURCES}")

    def table(self) -> pa.Table:
        return pa.table(
            {
                "doc_id": pa.array(self.ids, pa.int64()),
                "text": pa.array(self.texts, pa.string()),
                "lang": pa.array(self.langs, pa.string()),
                "source": pa.array(self.sources, pa.string()),
                "n_chars": pa.array([len(t) for t in self.texts], pa.int64()),
            }
        )


def corpus(rng, n: int, near_frac: float = NEAR_FRAC) -> Corpus:
    """An sf0.1-shaped document table of ``n`` documents, ids ``0..n-1``:
    ``near_frac`` of the positions (chosen without replacement) hold
    another position's original text plus `` dup``."""
    originals = [_doc(rng) for _ in range(n)]
    texts = list(originals)
    for i in rng.choice(n, int(round(near_frac * n)), replace=False):
        j = int(rng.integers(n - 1))
        j += j >= i  # any position but i
        texts[int(i)] = f"{originals[j]} {DUP_WORD}"
    c = Corpus(pool=originals)
    for i, t in enumerate(texts):
        c.add(rng, i, t)
    return c


def batch(rng, n: int, first_id: int, dup_pool: list[str], exact_frac: float, near_frac: float) -> Corpus:
    """``n`` new documents with ids ``first_id..first_id+n-1``: an exact
    copy of a ``dup_pool`` text with probability ``exact_frac``, a near
    copy (the text plus `` dup``) with probability ``near_frac``, else a
    fresh document. ``Corpus.pool`` is ``dup_pool`` plus the fresh texts."""
    c = Corpus(pool=list(dup_pool))
    for j in range(n):
        u = rng.random()
        if u < exact_frac + near_frac:
            text = c.pool[int(rng.integers(len(c.pool)))]
            if u >= exact_frac:
                text = f"{text} {DUP_WORD}"
        else:
            text = _doc(rng)
            c.pool.append(text)
        c.add(rng, first_id + j, text)
    return c


def embeddings(rng, n: int) -> pa.Table:
    """``n`` isotropic Gaussian unit vectors (float32), ids ``0..n-1``."""
    v = rng.normal(size=(n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, N_LABELS, n).astype(np.int32), pa.int32()),
        }
    )


def customers_orders(rng, n_cust: int, n_orders: int) -> tuple[pa.Table, pa.Table]:
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    cust = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
            "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)]),
        }
    )
    start = np.datetime64("1995-01-01", "us")
    days = rng.integers(0, 2404, n_orders)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
            "o_totalprice": pa.array(np.round(rng.uniform(900, 450000, n_orders), 2)),
            "o_orderdate": pa.array(start + days.astype("timedelta64[D]"), pa.timestamp("us")),
            "o_orderpriority": pa.array(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                    rng.integers(0, 5, n_orders)
                ]
            ),
        }
    )
    return cust, orders


def write(table: pa.Table, directory: str, name: str) -> str:
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, f"{name}.parquet")
    pq.write_table(table, path)
    return path
