"""Seeded workload generator, owned by the benchmark.

Corpora follow the reference's data_loader recipe: a Gaussian cluster
center times 2 plus Gaussian noise times 0.5, then unit norm. Queries are
drawn from the same centers with fresh noise; out-of-distribution (OOD)
queries are in-distribution queries shifted along one fixed "modality
gap" direction and renormalized, the cross-modal shape of the paper.

Ground truth is a numpy brute-force top-k, computed here and never by
the engine, so an engine regression cannot also move the yardstick.
Every input is a pure function of the seed.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

DIM = 128
K = 10
# length of the modality-gap shift applied to a unit-norm query
OOD_SHIFT = 1.0


# The corpus of each workload is a fixed dataset, as ANN benchmarks fix
# theirs: its cluster centers, gap direction and rows never change, and
# neither does the batch written to it. The seed draws every query. Rows
# go to clusters round-robin (row i to cluster i mod c, as
# io/synthetic.py assigns modalities).
STRUCTURE_SEED = 0


@dataclass
class Corpus:
    centers: np.ndarray   # (c, d) float64
    gap: np.ndarray       # (d,) unit-norm OOD shift direction
    rng: np.random.Generator

    def draw(self, n: int) -> np.ndarray:
        """``n`` unit-norm float32 rows, row i from cluster i mod c."""
        lab = np.arange(n) % len(self.centers)
        x = self.centers[lab] * 2.0 + self.rng.standard_normal(
            (n, self.centers.shape[1])
        ) * 0.5
        return _unit(x)

    def queries(self, n_in: int, n_ood: int) -> np.ndarray:
        """``n_in`` in-distribution rows, then ``n_ood`` OOD rows."""
        ood = self.draw(n_ood).astype(np.float64) + self.gap * OOD_SHIFT
        return np.concatenate([self.draw(n_in), _unit(ood)])


def _unit(x: np.ndarray) -> np.ndarray:
    x = np.asarray(x, dtype=np.float64)
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def corpus(seed, n_clusters: int, dim: int = DIM) -> Corpus:
    """The cluster mixture of a ``n_clusters`` dataset, drawing with a
    generator seeded by ``seed``."""
    fixed = np.random.default_rng([STRUCTURE_SEED, n_clusters])
    centers = fixed.standard_normal((n_clusters, dim))
    gap = fixed.standard_normal(dim)
    return Corpus(centers, gap / np.linalg.norm(gap), np.random.default_rng(seed))


def dataset(n_clusters: int, n: int) -> np.ndarray:
    """The fixed ``n``-row corpus of a ``n_clusters`` dataset."""
    return corpus([STRUCTURE_SEED, n_clusters, n], n_clusters).draw(n)


def write_batch(n_clusters: int, n: int, n_new: int, n_updated: int):
    """The fixed batch written to the ``n``-row corpus of a ``n_clusters``
    dataset: the sorted ids it updates, and its ``n_new + n_updated``
    rows (new ids first)."""
    c = corpus([STRUCTURE_SEED, n_clusters, n, 1], n_clusters)
    upd = np.sort(c.rng.choice(n, n_updated, replace=False)).astype(np.int64)
    return upd, c.draw(n_new + n_updated)


def cosine_dist(q: np.ndarray, x: np.ndarray) -> np.ndarray:
    """(nq, nx) cosine distances in float64 from float32 rows — the same
    arithmetic the engine's kernel applies to the stored float32 vectors."""
    q = np.asarray(q, dtype=np.float64)
    x = np.asarray(x, dtype=np.float64)
    qn = np.linalg.norm(q, axis=1)
    xn = np.linalg.norm(x, axis=1)
    return 1.0 - (q @ x.T) / np.outer(qn, xn)


def exact_topk(
    q: np.ndarray, ids: np.ndarray, x: np.ndarray, k: int = K,
    block: int = 512,
) -> np.ndarray:
    """(nq, k) corpus ids of the exact top-k by (distance, id)."""
    out = np.empty((len(q), k), dtype=np.int64)
    for s in range(0, len(q), block):
        d = cosine_dist(q[s : s + block], x)
        part = np.argpartition(d, k, axis=1)[:, : k + 1]
        for r, cand in enumerate(part):
            order = np.lexsort((ids[cand], d[r, cand]))
            out[s + r] = ids[cand[order[:k]]]
    return out
