"""Seeded input generators for the benchmark workloads.

Every table is built with numpy from one ``numpy.random.Generator`` so
the same seed gives byte-identical inputs. The shapes follow the
TPC-H-like ``orders`` test table and the pipeline-operator tables
(``documents``, ``embeddings``) the engine is developed against: same
column names and types, so the engine takes the same code paths. They
are generated here because the benchmark reads nothing outside its own
checkout.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")
DAY_US = np.int64(86_400_000_000)

# words of the synthetic document corpus; a few English stopwords so the
# quality score's stopword term is non-zero
WORDS = np.array(
    "the a of and to in is data table scan merge part window small hash "
    "join order batch stream spark value filter query row column vector "
    "key sort group line customer fast slow big agg commit log file".split())


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding draws to one
    table never shifts another table's inputs."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


def _dates(rng: np.random.Generator, n: int) -> np.ndarray:
    return EPOCH_1992 + rng.integers(0, 2400, n) * DAY_US


def orders(seed: int, n: int) -> pd.DataFrame:
    """``n`` orders with dense keys ``0..n-1``."""
    rng = rng_for(seed, "orders")
    return pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(1, max(2, n // 10), n, dtype=np.int64),
        "o_orderstatus": STATUSES[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(900.0, 450_000.0, n), 2),
        "o_orderdate": _dates(rng, n),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n)],
    })


def documents(seed: int, n: int, dup_share: float = 0.1) -> pd.DataFrame:
    """``n`` documents of 20-120 words; ``dup_share`` of them copy an
    earlier document with one word changed, so near-duplicate search
    has pairs to find."""
    rng = rng_for(seed, "documents")
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(
                WORDS[rng.integers(0, len(WORDS))])
        else:
            words = list(WORDS[rng.integers(0, len(WORDS),
                                            int(rng.integers(20, 121)))])
        texts.append(" ".join(words))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "es", "de", "zh"])[rng.integers(0, 4, n)],
        "source": np.char.add("src", rng.integers(0, 8, n).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(seed: int, n: int, dim: int = 64,
               dup_share: float = 0.05) -> pd.DataFrame:
    """``n`` unit vectors in 16 clusters; ``dup_share`` of them are
    tiny perturbations of an earlier vector (cosine > 0.99)."""
    rng = rng_for(seed, "embeddings")
    centers = rng.normal(size=(16, dim))
    label = rng.integers(0, 16, n).astype(np.int32)
    vecs = centers[label] + rng.normal(scale=1.5, size=(n, dim))
    for i in np.nonzero(rng.random(n) < dup_share)[0]:
        if i > 0:
            vecs[i] = vecs[rng.integers(0, i)] + rng.normal(scale=0.01,
                                                            size=dim)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs),
        "label": label,
    })
