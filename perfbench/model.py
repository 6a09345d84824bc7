"""The benchmark's own numpy model of a table: every acknowledged write is
applied here, and every answer the program gives is checked against brute
force over it. Pure numpy, no Spark."""

from __future__ import annotations

import numpy as np

#: distances closer than this count as a floating-point near-tie, the only
#: case in which two answers may disagree on order or membership
TIE_TOL = {"cosine": 1e-9, "euclidean": 1e-6}


def distances(X, q, metric):
    """Distance of every row of ``X`` to ``q``, computed the direct way
    (no ||x||^2 - 2xq + ||q||^2 expansion, which loses digits)."""
    if metric == "cosine":
        nx = np.linalg.norm(X, axis=1)
        nq = np.linalg.norm(q)
        if nq == 0.0:
            return np.ones(len(X))
        with np.errstate(invalid="ignore", divide="ignore"):
            d = 1.0 - (X @ q) / (nx * nq)
        return np.where(nx == 0.0, 1.0, d)
    if metric == "euclidean":
        diff = X - q
        return np.sqrt(np.einsum("ij,ij->i", diff, diff))
    raise ValueError(f"unsupported metric {metric!r}")


def topk_order(ids, dists, k):
    """Indices of the k smallest distances, ties broken by lower id."""
    order = np.lexsort((ids, dists))
    return order[:k]


class VectorModel:
    """Live rows of one table: id -> (vector, lang index)."""

    def __init__(self, dim, metric, capacity=1 << 16):
        self.dim = dim
        self.metric = metric
        self.version = 0
        self.ids = np.zeros(capacity, np.int64)
        self.X = np.zeros((capacity, dim))
        self.lang = np.zeros(capacity, np.int64)
        self.live = np.zeros(capacity, bool)
        self.slot = {}

    def _grow(self):
        n = len(self.ids) * 2
        for name in ("ids", "X", "lang", "live"):
            old = getattr(self, name)
            new = np.zeros((n,) + old.shape[1:], old.dtype)
            new[: len(old)] = old
            setattr(self, name, new)

    def upsert(self, ids, vectors, langs):
        """Apply one acknowledged batch of valid rows."""
        for i, v, lg in zip(ids, vectors, langs):
            i = int(i)
            s = self.slot.get(i)
            if s is None:
                s = len(self.slot)
                if s >= len(self.ids):
                    self._grow()
                self.slot[i] = s
                self.ids[s] = i
            self.X[s] = v
            self.lang[s] = lg
            self.live[s] = True
        self.version += 1

    def delete(self, ids):
        """Tombstone ``ids``; returns how many were live."""
        n = 0
        for i in ids:
            s = self.slot.get(int(i))
            if s is not None and self.live[s]:
                self.live[s] = False
                n += 1
        self.version += 1
        return n

    def live_ids(self):
        return np.sort(self.ids[: len(self.slot)][self.live[: len(self.slot)]])

    def count(self):
        return int(self.live[: len(self.slot)].sum())

    def candidates(self, lang=None):
        """Slots of live rows, optionally only those with ``lang`` index."""
        m = self.live[: len(self.slot)].copy()
        if lang is not None:
            m &= self.lang[: len(self.slot)] == lang
        return np.flatnonzero(m)

    def row(self, i):
        s = self.slot.get(int(i))
        return None if s is None or not self.live[s] else s

    def exact(self, q, k, lang=None):
        """(ids, dists) of the exact top-k among live rows (``lang`` filter
        optional), ordered by distance then id."""
        slots = self.candidates(lang)
        d = distances(self.X[slots], q, self.metric)
        ids = self.ids[slots]
        o = topk_order(ids, d, k)
        return ids[o], d[o]

    def exact_batch(self, Q, k, margin=16, block=256):
        """``exact`` for every row of ``Q``. A matrix product shortlists
        ``k + margin`` rows per query; the shortlist is then ranked by
        ``distances``, so the answer carries the direct-formula digits."""
        slots = self.candidates()
        X, ids = self.X[slots], self.ids[slots]
        if self.metric == "cosine":
            Xs = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
        else:
            Xs, x2 = X, (X * X).sum(axis=1)
        out = []
        kk = min(k + margin, len(ids))
        for b in range(0, len(Q), block):
            Qb = Q[b : b + block]
            if self.metric == "cosine":
                approx = -(Qb @ Xs.T)
            else:
                approx = x2[None, :] - 2.0 * (Qb @ Xs.T)
            short = np.argpartition(approx, kk - 1, axis=1)[:, :kk]
            for q, cand in zip(Qb, short):
                d = distances(X[cand], q, self.metric)
                o = topk_order(ids[cand], d, k)
                out.append((ids[cand][o], d[o]))
        return out


def check_topk(got_ids, got_dists, exp_ids, exp_dists, true_dist, tol):
    """Compare an exact top-k answer with the model's, position by position.

    ``true_dist(id)`` gives the model's distance of a returned id (``None``
    when the id is not an admissible live row). A position may hold a
    different id than the model's only when both distances lie within
    ``tol`` (a floating-point near-tie). Returns a list of problems, empty
    when the answer is right."""
    problems = []
    if len(got_ids) != len(exp_ids):
        return [f"{len(got_ids)} hits, expected {len(exp_ids)}"]
    if len(set(int(i) for i in got_ids)) != len(got_ids):
        problems.append("duplicate ids")
    for pos, (gi, gd, ei, ed) in enumerate(zip(got_ids, got_dists, exp_ids, exp_dists)):
        td = true_dist(gi)
        if td is None:
            problems.append(f"pos {pos}: id {gi} is not an admissible live row")
            continue
        if abs(gd - td) > tol:
            problems.append(f"pos {pos}: id {gi} reported dist {gd!r}, true {td!r}")
        if int(gi) != int(ei) and abs(td - ed) > tol:
            problems.append(f"pos {pos}: got id {gi} (dist {td!r}), expected id {ei} (dist {ed!r})")
    return problems
