"""Seeded input generators.

Every generator is a pure function of its seed and sizes, so the same
seed gives the same inputs, and the benchmark keeps the NumPy arrays it
hands to the program for its own reference answers. The program only
ever receives the generated DataFrames and arrays.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def _unit(x: np.ndarray) -> np.ndarray:
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def clustered_vectors(seed: int, n: int, dim: int, n_clusters: int, spread: float = 0.6):
    """Unit float32 vectors around `n_clusters` random centres, so the
    neighbourhood structure is real and IVF routing has clusters to find.
    Returns (vectors, integer labels 0..9)."""
    rng = np.random.default_rng([seed, 1])
    centres = rng.standard_normal((n_clusters, dim)).astype(np.float32)
    assign = rng.integers(0, n_clusters, n)
    noise = rng.standard_normal((n, dim), dtype=np.float32)
    vecs = _unit(centres[assign] + spread * noise)
    labels = rng.integers(0, 10, n)
    return vecs, labels


def noisy_queries(seed: int, store: np.ndarray, n: int, noise: float = 0.3) -> np.ndarray:
    """Queries near random store rows: each has a clear nearest
    neighbour but is not a copy of it."""
    rng = np.random.default_rng([seed, 2])
    src = store[rng.integers(0, len(store), n)]
    return _unit(src + noise / np.sqrt(store.shape[1]) * rng.standard_normal(src.shape, dtype=np.float32))


def list_array(vecs: np.ndarray) -> pa.ListArray:
    """Rows of a float32 matrix as an Arrow list<float> column."""
    n, dim = vecs.shape
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(vecs.ravel()))


def vector_table(ids, vecs: np.ndarray, **columns) -> pa.Table:
    """Arrow table (_id_ string, _vector_ array<float>, extra columns)."""
    cols = {"_id_": pa.array([str(i) for i in ids]), "_vector_": list_array(vecs)}
    cols.update({k: pa.array(v) for k, v in columns.items()})
    return pa.table(cols)


def corpus(seed: int, n_docs: int, vocab_n: int = 2000, period: int = 40):
    """Text corpus with planted duplicates, the bench's scale1m shape:
    doc ids = 1 (mod `period`) are exact copies of the preceding base
    doc, ids = 2 (mod `period`) are that base with one word changed.
    Returns (doc_ids, texts, planted exact-copy ids, planted
    (base, mutation) pairs)."""
    vocab = np.array([f"w{i}" for i in range(vocab_n)])
    texts = []
    for i in range(n_docs):
        k = i % period
        base = i - k if k in (1, 2) else i
        rng = np.random.default_rng([seed, 3, base])
        words = vocab[rng.integers(0, vocab_n, 24 + base % 16)]
        if k == 2:
            words = words.copy()
            words[6] = vocab[(base + 7 + int(rng.integers(1, vocab_n - 1))) % vocab_n]
        texts.append(" ".join(words))
    ids = np.arange(n_docs, dtype=np.int64)
    exact = {int(i) for i in ids if i % period == 1}
    mutated = {(int(i) - 2, int(i)) for i in ids if i % period == 2}
    return ids, texts, exact, mutated


def planted_embeddings(seed: int, n: int, dim: int, period: int = 40):
    """Unit embeddings where ids = 1 (mod `period`) copy the preceding
    base vector and ids = 2 (mod `period`) are ~0.99-cosine neighbours
    of it. Returns (ids, vectors, planted exact-copy (base, copy) pairs)."""
    rng = np.random.default_rng([seed, 4])
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    ids = np.arange(n, dtype=np.int64)
    k = ids % period
    base = ids - k
    copy = k == 1
    near = k == 2
    vecs[copy] = vecs[base[copy]]
    noise = rng.standard_normal((int(near.sum()), dim)).astype(np.float32)
    vecs[near] = vecs[base[near]] + noise / 7.0
    vecs = _unit(vecs)
    vecs[copy] = vecs[base[copy]]  # bit-identical copies after normalising
    pairs = {(int(b), int(i)) for b, i in zip(base[copy], ids[copy])}
    return ids, vecs, pairs


def write_batches(seed: int, n: int, dim: int, batch: int, deletes: int) -> dict:
    """Inputs of a small store's write path: `base` (Arrow table of `n`
    rows with an int `bucket` column), one upsert `batch` of item dicts
    (half new ids, half existing ids with new vectors; `fresh` counts the
    new ones) and `doomed`, the sorted base ids to delete afterwards."""
    rng = np.random.default_rng([seed, 6])
    vecs = rng.standard_normal((n + batch, dim)).astype(np.float32)
    buckets = rng.integers(0, 100, n + batch)
    base = vector_table([f"v{i}" for i in range(n)], vecs[:n], bucket=buckets[:n])
    fresh = batch // 2
    items = [{"_id_": f"v{r}", "_vector_": vecs[r].tolist(), "bucket": int(buckets[r])}
             for r in range(n, n + fresh)]
    items += [{"_id_": f"v{r}", "_vector_": rng.standard_normal(dim).tolist(),
               "bucket": int(buckets[r])} for r in rng.choice(n, batch - fresh, replace=False)]
    doomed = sorted(f"v{i}" for i in rng.choice(n, deletes, replace=False))
    return {"base": base, "batch": items, "fresh": fresh, "doomed": doomed}
