"""Seeded input generators for the benchmark.

Every input is a pure function of ``(seed, size)`` and is written as one
parquet file with fixed writer settings, so the same seed gives the same
bytes.  The engine only ever sees these files.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 27 bins = the 3x3x3 ``bin_points_3d()`` lattice; 16 = 4x4 ``bin_points_2d()``
BINS_3D = 27
BINS_2D = 16
N_TEMPLATES = 48
ITEMS_MIN, ITEMS_MAX = 1, 7


def sparse_histograms(seed: int, n: int, bins: int) -> pa.Table:
    """``n`` rows of (id long, w array<double>): each row draws 1-7 unit
    items from one of 48 Dirichlet(0.3) templates, which gives a support of
    about 3 bins and about a quarter duplicate rows."""
    rng = np.random.default_rng([seed, bins, 1])
    templates = rng.dirichlet(np.full(bins, 0.3), size=N_TEMPLATES)
    tpl = rng.integers(0, N_TEMPLATES, size=n)
    items = rng.integers(ITEMS_MIN, ITEMS_MAX + 1, size=n)
    w = np.zeros((n, bins))
    for i in range(n):
        draws = rng.choice(bins, size=items[i], p=templates[tpl[i]])
        np.add.at(w[i], draws, 1.0)
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "w": pa.array(list(w), pa.list_(pa.float64())),
        }
    )


VOCAB = 20_000
WORDS_MIN, WORDS_MAX = 40, 200
NEAR_COPY_SHARE = 0.15
REPLACE_SHARE = 0.025


def documents(seed: int, n: int) -> pa.Table:
    """``n`` rows of (doc_id long, text string): 40-200 words from a
    Zipf(1.0) vocabulary of 20k random-letter words; 15% of the docs are
    near-copies of an earlier doc with about 2.5% of their words replaced."""
    rng = np.random.default_rng([seed, 2])
    lens = rng.integers(4, 10, size=VOCAB)
    letters = rng.integers(0, 26, size=int(lens.sum()))
    chars = np.frombuffer((letters + ord("a")).astype(np.uint8).tobytes(), "S1")
    cuts = np.concatenate(([0], np.cumsum(lens)))
    vocab = [b"".join(chars[cuts[i]: cuts[i + 1]]).decode() for i in range(VOCAB)]
    p = 1.0 / np.arange(1, VOCAB + 1)
    p /= p.sum()
    texts: list[list[int]] = []
    for i in range(n):
        if i > 0 and rng.random() < NEAR_COPY_SHARE:
            src = list(texts[int(rng.integers(0, i))])
            k = max(1, int(round(REPLACE_SHARE * len(src))))
            for pos in rng.choice(len(src), size=k, replace=False):
                src[pos] = int(rng.choice(VOCAB, p=p))
            texts.append(src)
        else:
            m = int(rng.integers(WORDS_MIN, WORDS_MAX + 1))
            texts.append(rng.choice(VOCAB, size=m, p=p).tolist())
    # shuffle ids so near-copies are not adjacent to their sources
    order = rng.permutation(n)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
            "text": pa.array([" ".join(vocab[t] for t in texts[j]) for j in order]),
        }
    )


def write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", write_statistics=False)
