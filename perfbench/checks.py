"""Output checks. Each returns a list of problems; empty means correct.

A search result is the engine's ``(qid, nbr_rank, neighbor_id, dist)``
frame. It is correct when every query got exactly ``k`` distinct live ids
ranked 1..k with non-decreasing distance, and every ``dist`` equals the
cosine distance the benchmark recomputes from its own copy of the
vectors. Recall is measured, never checked.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from gen import K

DIST_TOL = 1e-6


def search_problems(
    out: pd.DataFrame, qids: np.ndarray, queries: np.ndarray,
    ids: np.ndarray, vecs: np.ndarray, k: int = K,
) -> list[str]:
    """``ids`` (ascending) and ``vecs``: the live corpus as the benchmark
    last wrote it."""
    if len(out) != len(qids) * k:
        return [f"{len(out)} rows for {len(qids)} queries x k={k}"]
    out = out.sort_values(["qid", "nbr_rank"], kind="stable")
    got_q = out["qid"].to_numpy().reshape(len(qids), k)
    if not (got_q == np.sort(qids)[:, None]).all():
        return ["qids are not exactly the queries sent, k rows each"]
    probs = []
    if not (out["nbr_rank"].to_numpy().reshape(-1, k) == np.arange(1, k + 1)).all():
        probs.append("ranks are not 1..k")
    nbr = out["neighbor_id"].to_numpy().reshape(-1, k)
    dist = out["dist"].to_numpy().reshape(-1, k)
    if (np.diff(np.sort(nbr, axis=1), axis=1) == 0).any():
        probs.append("repeated neighbor id within a query")
    pos = np.searchsorted(ids, nbr)
    pos_ok = pos < len(ids)
    known = np.zeros_like(pos_ok)
    known[pos_ok] = ids[pos[pos_ok]] == nbr[pos_ok]
    if not known.all():
        probs.append(f"{int((~known).sum())} neighbor ids not in the corpus")
        return probs
    if (np.diff(dist, axis=1) < 0).any():
        probs.append("distances decrease with rank")
    q = np.asarray(queries[np.argsort(qids)], dtype=np.float64)
    v = np.asarray(vecs, dtype=np.float64)[pos]
    want = 1.0 - np.einsum("qkd,qd->qk", v, q) / (
        np.linalg.norm(v, axis=2) * np.linalg.norm(q, axis=1)[:, None]
    )
    bad = np.abs(want - dist) > DIST_TOL
    if bad.any():
        probs.append(f"{int(bad.sum())} distances off by more than {DIST_TOL}")
    return probs


def recall(out: pd.DataFrame, qids: np.ndarray, gt: np.ndarray,
           k: int = K) -> np.ndarray:
    """Per-query recall@k, aligned with ``qids`` (rows of ``gt``)."""
    got: dict[int, set] = {}
    for q, n in zip(out["qid"].to_numpy(), out["neighbor_id"].to_numpy()):
        got.setdefault(int(q), set()).add(int(n))
    return np.array([
        len(got.get(int(q), set()) & set(g.tolist())) / k
        for q, g in zip(qids, gt)
    ])


def index_problems(index, ids: np.ndarray, vecs: np.ndarray) -> list[str]:
    """A CompactIndex (or a loaded sidecar) holds exactly the live corpus,
    every stored vector equals the last one written for its id, and every
    edge endpoint is a stored node."""
    if not np.array_equal(np.asarray(index.ids), ids):
        return ["stored ids differ from the ids written"]
    probs = []
    if not np.array_equal(np.asarray(index.vecs, dtype=np.float32), vecs):
        probs.append("a stored vector differs from the last one written")
    n = len(ids)
    for layer, ptr in index.indptr.items():
        ptr = np.asarray(ptr)
        ind = np.asarray(index.indices[layer])
        if len(ptr) != n + 1 or ptr[-1] != len(ind) or (np.diff(ptr) < 0).any():
            probs.append(f"layer {layer}: malformed adjacency offsets")
        elif len(ind) and (ind.min() < 0 or ind.max() >= n):
            probs.append(f"layer {layer}: edge endpoint outside the corpus")
    if 0 not in index.indptr or len(index.indices[0]) == 0:
        probs.append("no layer-0 edges")
    return probs
