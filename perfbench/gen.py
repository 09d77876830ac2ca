"""Seeded input generator for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: points come from
seed-offset integer keys through the ``sources/points.py`` formula, and
documents from ``numpy.random.default_rng(seed)`` with planted
near-duplicates and a hot (boilerplate) block.  The program under test
receives only these generated tables.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# Seeds map to disjoint key ranges: seed s owns [1 + s*KEY_STRIDE, ...).
KEY_STRIDE = 10_000_000
N_CAPS = 25


def key_offset(seed: int) -> int:
    return 1 + int(seed) * KEY_STRIDE


def region_keys(seed: int) -> range:
    """The 25 cap ids of a seed (``regions_src.synthetic_caps`` keys)."""
    return range(int(seed) * N_CAPS, int(seed) * N_CAPS + N_CAPS)


def points(spark, seed: int, n: int, partitions: int = 16, salt: int = 0):
    """(key, x, y, z) for ``n`` seed-offset keys via ``sources.points``.

    ``salt`` shifts the key range so two point sets of one seed (kNN
    queries and index) never share keys."""
    from s2geometry_spark.sources import points as P

    lo = key_offset(seed) + salt
    keys = spark.range(lo, lo + n, 1, partitions).withColumnRenamed("id", "key")
    return P.with_xyz(keys)


def points_np(seed: int, n: int, salt: int = 0) -> list[np.ndarray]:
    """[x, y, z] numpy arrays of ``points`` (same formula, same doubles)."""
    from s2geometry_spark.sources import points as P

    lo = key_offset(seed) + salt
    key = np.arange(lo, lo + n, dtype=np.int64)
    return [
        (key % P.MOD[a] * P.MUL[a] % P.MOD[a]).astype(np.float64) / (P.MOD[a] / 2.0) - 1.0
        for a in "xyz"
    ]


def point_keys_sql(seed: int, n: int, salt: int = 0) -> str:
    """DuckDB relation with the same keys as ``points`` (column ``k``)."""
    lo = key_offset(seed) + salt
    return f"(SELECT range AS k FROM range({lo}, {lo + n}))"


def _vocab(rng: np.random.Generator, n_words: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, size=n_words)
    return np.array(["".join(rng.choice(letters, size=k)) for k in lens])


def documents(seed: int, n_docs: int, n_mutants: int, n_hot: int) -> pd.DataFrame:
    """(doc_id, text): word-soup documents, ``n_mutants`` planted
    one-word-substituted copies of random base documents, and ``n_hot``
    identical boilerplate documents (one hot LSH bucket per band)."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 4000)
    texts = [
        " ".join(rng.choice(vocab, size=int(rng.integers(24, 64))))
        for _ in range(n_docs)
    ]
    for src in rng.integers(0, n_docs, size=n_mutants):
        words = texts[src].split(" ")
        words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
        texts.append(" ".join(words))
    boiler = " ".join(rng.choice(vocab, size=40))
    texts.extend([boiler] * n_hot)
    order = rng.permutation(len(texts))
    return pd.DataFrame(
        {
            "doc_id": np.arange(len(texts), dtype=np.int64),
            "text": [texts[i] for i in order],
        }
    )


def write_parquet(pdf: pd.DataFrame, path: str, n_files: int) -> None:
    """Write ``pdf`` as ``n_files`` parquet files under directory ``path``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
        table = pa.Table.from_pandas(pdf.iloc[part], preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:03d}.parquet"))
