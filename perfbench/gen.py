"""Seeded input generator. Everything the program receives is made here
from ``--seed``: the corpus (a Gaussian mixture with a ``lang`` field in
JSON metadata) and the request streams. Pure numpy, no Spark."""

from __future__ import annotations

import itertools
import json

import numpy as np

LANGS = ("en", "de", "fr", "ja")
LANG_WEIGHTS = (0.4, 0.3, 0.2, 0.1)
#: new queries per block with a fixed number of filtered ones
FILTER_BLOCK = 4


class Mixture:
    """``n_clusters`` Gaussian clusters in ``dim`` dimensions; cluster
    popularity for queries is Zipf with exponent ``zipf_s`` (0 = uniform)
    over a seeded ranking of the clusters."""

    def __init__(self, rng, dim, n_clusters=64, spread=0.5, zipf_s=0.0):
        self.dim = dim
        self.spread = spread
        self.centers = rng.standard_normal((n_clusters, dim))
        #: clusters from most to least popular
        self.ranking = rng.permutation(n_clusters)
        w = 1.0 / np.arange(1, n_clusters + 1) ** zipf_s
        self.popularity = np.empty(n_clusters)
        self.popularity[self.ranking] = w / w.sum()

    def top_clusters(self, n=4):
        return set(int(c) for c in self.ranking[:n])

    def points(self, rng, n):
        """(vectors, cluster of origin) with clusters drawn uniformly."""
        c = rng.integers(0, len(self.centers), size=n)
        return self.centers[c] + self.spread * rng.standard_normal((n, self.dim)), c

    def query(self, rng):
        """One query vector drawn from the popularity-weighted clusters."""
        c = int(rng.choice(len(self.centers), p=self.popularity))
        return self.centers[c] + self.spread * rng.standard_normal(self.dim), c


def request_kinds(rng, mix):
    """Endless request kinds: cycles holding each kind ``mix[kind]`` times,
    each cycle shuffled. Every seed gets the same mix per cycle, only the
    order differs."""
    deck = [k for k, n in mix.items() for _ in range(n)]
    while True:
        for i in rng.permutation(len(deck)):
            yield deck[i]


def langs(rng, n):
    return rng.choice(len(LANGS), size=n, p=LANG_WEIGHTS)


def metadata(lang_idx):
    return json.dumps({"lang": LANGS[int(lang_idx)]})


class QueryStream:
    """Queries with exact repeats and ``lang`` filters. A repeat re-sends an
    earlier request unchanged (vector and filter), the shape a result cache
    would serve. Records what a later cache change needs to cite: the share
    of repeats and the share landing in the 4 most popular clusters."""

    def __init__(self, rng, mixture, repeat_frac, filter_frac):
        self.rng = rng
        self.mixture = mixture
        self.repeat_frac = repeat_frac
        # every block of 4 new queries holds the same number of filtered
        # ones, so a run's median, taken over as few as 8 queries, does not
        # depend on how many of them the seed happened to filter
        n_filtered = round(FILTER_BLOCK * filter_frac)
        self.filtered = request_kinds(
            rng, {True: n_filtered, False: FILTER_BLOCK - n_filtered})
        # filters take each language in turn, rarest first (LANGS runs from
        # most to least common): how many rows a filter admits sets the
        # recall of a filtered ANN query, so every run filters on the same
        # languages in the same order, and even a short run includes the
        # most selective filter
        self.filter_langs = itertools.cycle(LANGS[::-1])
        self.history = []
        self.repeats = 0
        self.top4 = 0
        self._top = mixture.top_clusters(4)

    def next(self):
        """(vector, lang or None, cluster of origin)."""
        rng = self.rng
        if self.history and rng.random() < self.repeat_frac:
            q = self.history[int(rng.integers(len(self.history)))]
            self.repeats += 1
        else:
            vec, c = self.mixture.query(rng)
            lang = next(self.filter_langs) if next(self.filtered) else None
            q = (vec, lang, c)
            self.history.append(q)
        self.top4 += q[2] in self._top
        return q

    def shares(self):
        n = self.repeats + len(self.history)
        return {
            "repeat_share": self.repeats / n if n else 0.0,
            "top4_cluster_share": self.top4 / n if n else 0.0,
            "queries": n,
        }


def write_batch(rng, mixture, live_ids, next_id, size, overwrite_frac, invalid_frac):
    """One ``batch_insert`` payload: ``size`` rows, about ``overwrite_frac``
    of them reusing live ids, about ``invalid_frac`` planted invalid rows
    (null vector or wrong dimension). Ids are distinct within the batch.
    Returns (ids, vectors (None for a null vector), lang indices,
    valid mask, next free id)."""
    n_over = min(int(rng.binomial(size, overwrite_frac)), len(live_ids))
    over = rng.choice(live_ids, size=n_over, replace=False) if n_over else np.empty(0, np.int64)
    n_new = size - n_over
    ids = np.concatenate([over, np.arange(next_id, next_id + n_new)]).astype(np.int64)
    vecs, _ = mixture.points(rng, size)
    lang = langs(rng, size)
    valid = rng.random(size) >= invalid_frac
    rows = []
    for i in range(size):
        if valid[i]:
            rows.append(vecs[i])
        elif rng.random() < 0.5:
            rows.append(None)
        else:
            rows.append(vecs[i][: mixture.dim - 1])
    return ids, rows, lang, valid, next_id + n_new


def delete_ids(rng, live_ids, next_id, n):
    """1 to ``n`` distinct ids: about two thirds live, the rest absent
    (never minted, or already deleted when ``live_ids`` lags)."""
    k = int(rng.integers(1, n + 1))
    n_live = min(int(rng.binomial(k, 2 / 3)), len(live_ids))
    live = rng.choice(live_ids, size=n_live, replace=False) if n_live else np.empty(0, np.int64)
    absent = next_id + 1_000_000 + rng.choice(1_000_000, size=k - n_live, replace=False)
    return [int(i) for i in np.concatenate([live, absent])]
