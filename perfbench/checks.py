"""Output checks, recomputed independently in numpy on the driver."""

from __future__ import annotations

import numpy as np

from harness import CheckFailed

# Scores closer than this to the k-th best count as tied: a tied item
# may sit on either side of the cut.
TIE_TOL = 1e-9


def topk_shape(rows, query_ids, k: int) -> dict[int, list[int]]:
    """Every query has exactly k rows, ranked 1..k; returns the ranked
    item ids per query."""
    got: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        got.setdefault(int(r["query_id"]), []).append(
            (int(r["rank"]), int(r["item_id"])))
    if sorted(got) != sorted(int(q) for q in query_ids):
        raise CheckFailed(f"query ids {sorted(got)[:5]}... != requested "
                          f"{sorted(query_ids)[:5]}...")
    out = {}
    for q, pairs in got.items():
        pairs.sort()
        if [p[0] for p in pairs] != list(range(1, k + 1)):
            raise CheckFailed(f"query {q}: ranks {[p[0] for p in pairs]}, "
                              f"want 1..{k}")
        if len({p[1] for p in pairs}) != k:
            raise CheckFailed(f"query {q}: duplicate items")
        out[q] = [p[1] for p in pairs]
    return out


def query_lambda(Q: np.ndarray, lf: np.ndarray, tau: float) -> np.ndarray:
    """λ of each query row straight from its definition:
    τ·e/(e+τ) + (1−τ)·g with e = xᵀL_F x and g the clamped ratio of the
    squared to the plain feature-graph dispersion."""
    W = np.maximum(-lf, 0.0)
    np.fill_diagonal(W, 0.0)
    out = np.empty(len(Q))
    for i, x in enumerate(Q):
        e = x @ lf @ x
        D = (x[:, None] - x[None, :]) ** 2
        tot = (W * D).sum()
        g = min(max((W * W * D * D).sum() / tot**2, 0.0), 1.0) if tot > 0 else 0.0
        out[i] = tau * e / (e + tau) + (1.0 - tau) * g
    return out


class ExactScorer:
    """Blended score τ·cos + (1−τ)/(1+|λq−λx|) over a collected index."""

    def __init__(self, ids, X, e_raw, g, lf, tau: float):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        self.x_lam = tau * (e_raw / (e_raw + tau)) + (1.0 - tau) * g
        self.lf, self.tau = lf, tau

    def scores(self, Q: np.ndarray) -> np.ndarray:
        cos = (Q / np.linalg.norm(Q, axis=1, keepdims=True)) @ self.Xn.T
        q_lam = query_lambda(Q, self.lf, self.tau)
        return (self.tau * cos + (1.0 - self.tau)
                / (1.0 + np.abs(q_lam[:, None] - self.x_lam[None, :])))

    def topk(self, Q: np.ndarray, k: int) -> list[np.ndarray]:
        S = self.scores(Q)
        return [self.ids[np.lexsort((self.ids, -s))[:k]] for s in S]

    def check_equal(self, Q: np.ndarray, got: dict[int, list[int]], k: int):
        """Tie-aware: the returned ids are the top-k up to ties at the
        cut, and appear in score order."""
        S = self.scores(Q)
        pos = {int(i): n for n, i in enumerate(self.ids)}
        for qi, s in enumerate(S):
            ranked = got[qi]
            kth = np.sort(s)[::-1][k - 1]
            sc = np.array([s[pos[i]] for i in ranked])
            if np.any(sc < kth - TIE_TOL):
                raise CheckFailed(f"query {qi}: item below the k-th score")
            if np.count_nonzero(s > kth + TIE_TOL) > np.count_nonzero(
                    sc > kth + TIE_TOL):
                raise CheckFailed(f"query {qi}: a top-{k} item is missing")
            if np.any(np.diff(sc) > TIE_TOL):
                raise CheckFailed(f"query {qi}: results out of score order")


def check_lambdas(lam: np.ndarray, n: int) -> None:
    if len(lam) != n:
        raise CheckFailed(f"{len(lam)} items carry λ, corpus has {n}")
    if not np.all(np.isfinite(lam)):
        raise CheckFailed("non-finite λ")


def check_edges(src, dst, dist, weight, eps: float) -> None:
    if len(src) == 0:
        raise CheckFailed("empty graph")
    if not np.all(src < dst):
        raise CheckFailed("edge with src >= dst")
    if not np.all((dist >= 0) & (dist <= eps)):
        raise CheckFailed("edge distance outside [0, eps]")
    if not np.all(np.isfinite(weight) & (weight > 0)):
        raise CheckFailed("edge weight not > 0")
    if len(set(zip(src.tolist(), dst.tolist()))) != len(src):
        raise CheckFailed("duplicate edge")
