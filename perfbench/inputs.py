"""Deterministic input generation for the benchmark workloads.

Everything here is numpy/pyarrow only (no Spark): the harness writes the
inputs as parquet before the program starts, so the program only ever sees
files, and the same ``--seed`` always yields byte-identical files.

Documents are word sequences over a synthetic Zipf vocabulary, so random
document pairs share a realistic trickle of common char n-grams (bucket
occupancy above zero) while planted near-duplicates are the only pairs near
the similarity threshold.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream...) so adding a stream never
    shifts the draws of another."""
    return np.random.default_rng([int(seed), *map(int, stream)])


class Vocabulary:
    """A fixed-size Zipf vocabulary of random lowercase words."""

    def __init__(self, rng: np.random.Generator, size: int = 12000,
                 zipf_s: float = 0.9):
        lens = rng.integers(3, 10, size=size)
        codes = rng.choice(_LETTERS, size=int(lens.sum()))
        offs = np.concatenate([[0], np.cumsum(lens)])
        self.words = [codes[offs[i]:offs[i + 1]].tobytes().decode()
                      for i in range(size)]
        p = 1.0 / np.arange(10, size + 10) ** zipf_s
        self.cdf = np.cumsum(p / p.sum())

    def draw(self, rng: np.random.Generator, n: int) -> list[str]:
        idx = np.searchsorted(self.cdf, rng.random(n), side="right")
        return [self.words[i] for i in np.minimum(idx, len(self.words) - 1)]


def make_text(vocab: Vocabulary, rng: np.random.Generator,
              target_chars: int) -> str:
    """About ``target_chars`` characters of space-separated words."""
    words = vocab.draw(rng, target_chars // 5 + 8)
    out, n = [], 0
    for w in words:
        if n >= target_chars:
            break
        out.append(w)
        n += len(w) + 1
    return " ".join(out)


def mutate(text: str, vocab: Vocabulary, rng: np.random.Generator,
           rate: float) -> str:
    """Word-level edit: each word is independently replaced, dropped or
    followed by an inserted word with total probability ``rate``."""
    words = text.split(" ")
    u = rng.random(len(words))
    fresh = vocab.draw(rng, len(words))
    out = []
    for w, x, f in zip(words, u, fresh):
        if x < rate / 3:
            out.append(f)
        elif x < 2 * rate / 3:
            continue
        elif x < rate:
            out.extend([w, f])
        else:
            out.append(w)
    return " ".join(out)


def ngram_set(text: str, n: int) -> set[str]:
    """Exact string char n-grams (the oracle's view; no hashing)."""
    return {text[i:i + n] for i in range(len(text) - n + 1)}


def write_docs(path: str, ids, texts) -> None:
    table = pa.table({"doc_id": pa.array(ids, pa.int64()),
                      "text": pa.array(texts, pa.string())})
    pq.write_table(table, path, compression="snappy")


def write_pairs(path: str, texts_a, texts_b) -> None:
    table = pa.table({"text_a": pa.array(texts_a, pa.string()),
                      "text_b": pa.array(texts_b, pa.string())})
    pq.write_table(table, path, compression="snappy")


def write_ids(path: str, ids) -> None:
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}), path)


def gen_shard(vocab: Vocabulary, rng: np.random.Generator, first_id: int,
              n_docs: int, dup_frac: float, chars: int,
              rate_range: tuple[float, float]):
    """One shard of ``n_docs`` docs whose last ``dup_frac`` share are mutated
    copies of earlier docs in the same shard, shuffled together.

    Returns (ids, texts, planted) with planted = [(src_id, copy_id)]."""
    n_dup = int(round(n_docs * dup_frac))
    n_orig = n_docs - n_dup
    texts = [make_text(vocab, rng, chars) for _ in range(n_orig)]
    srcs = rng.integers(0, n_orig, size=n_dup)
    rates = rng.uniform(*rate_range, size=n_dup)
    for s, r in zip(srcs, rates):
        texts.append(mutate(texts[s], vocab, rng, r))
    # text j gets id first_id + perm[j]; rows are returned in id order
    perm = rng.permutation(n_docs)
    planted = [(first_id + int(perm[s]), first_id + int(perm[n_orig + j]))
               for j, s in enumerate(srcs)]
    ids = list(range(first_id, first_id + n_docs))
    return ids, [texts[j] for j in np.argsort(perm)], planted


def gen_clustered_vectors(rng: np.random.Generator, n_clusters: int,
                          per_cluster: int, dim: int, spread: float,
                          center_scale: float):
    """``n_clusters`` tight Gaussian clusters; returns (centers, vectors,
    cluster_of_row)."""
    centers = rng.normal(0.0, center_scale, size=(n_clusters, dim))
    labels = np.repeat(np.arange(n_clusters), per_cluster)
    vecs = centers[labels] + rng.normal(0.0, spread,
                                        size=(labels.size, dim))
    return centers, vecs, labels


def write_vectors(path: str, ids, vecs: np.ndarray) -> None:
    flat = pa.array(vecs.astype(np.float64).ravel(), pa.float64())
    offs = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1],
                              dtype=np.int32))
    table = pa.table({"vec_id": pa.array(ids, pa.int64()),
                      "embedding": pa.ListArray.from_arrays(offs, flat)})
    pq.write_table(table, path, compression="snappy")
