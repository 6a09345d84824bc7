"""Tests for the benchmark's own pieces (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from model import VectorModel, check_topk, distances, topk_order  # noqa: E402
from stats import covered, self_time, spread, tail  # noqa: E402


# -- tail percentile rule -----------------------------------------------------
@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_needs_more_than_ten_samples(n):
    assert tail(list(range(n))) is None


def test_tail_with_eleven_samples_leaves_ten_beyond():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0]
    value, pct, n = tail(xs)
    assert (value, n) == (1.0, 11)
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 / 11)


def test_tail_of_hundred_samples_is_p90():
    xs = list(range(1, 101))[::-1]
    value, pct, n = tail(xs)
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(x > value for x in xs) == 10


def test_spread_is_iqr_over_median():
    med, q1, q3, sp = spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert (med, q1, q3) == (3.0, 1.5, 4.5)
    assert sp == pytest.approx(1.0)


# -- self time ----------------------------------------------------------------
def test_self_time_without_children_is_duration():
    assert self_time((2.0, 5.0), []) == 3.0


def test_self_time_counts_overlapping_children_once_and_clips():
    # children cover [1, 5] (overlapping) and [8, 10] once clipped to the span
    children = [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0)]
    assert self_time((0.0, 10.0), children) == pytest.approx(10.0 - 4.0 - 2.0)


def test_self_time_ignores_children_outside_the_span():
    assert self_time((0.0, 1.0), [(2.0, 3.0), (-2.0, -1.0)]) == 1.0


def test_covered_merges_touching_intervals():
    assert covered([(0.0, 1.0), (1.0, 2.0), (3.0, 4.0)]) == 3.0


# -- model top-k --------------------------------------------------------------
def test_topk_breaks_distance_ties_by_lower_id():
    ids = np.array([7, 3, 5, 1])
    d = np.array([0.5, 0.5, 0.1, 0.5])
    assert list(ids[topk_order(ids, d, 3)]) == [5, 1, 3]


def test_model_exact_orders_by_distance_then_id_and_filters():
    m = VectorModel(2, "euclidean", capacity=2)
    m.upsert(np.array([4, 2, 9]), [np.array([1.0, 0.0]), np.array([0.0, 1.0]),
                                  np.array([3.0, 0.0])], np.array([0, 1, 0]))
    ids, d = m.exact(np.zeros(2), 3)
    assert list(ids) == [2, 4, 9]  # 2 and 4 tie at distance 1
    ids, _ = m.exact(np.zeros(2), 3, lang=0)
    assert list(ids) == [4, 9]
    assert m.delete([4, 100]) == 1
    assert list(m.exact(np.zeros(2), 3)[0]) == [2, 9]
    assert m.version == 2


def test_exact_batch_matches_exact():
    rng = np.random.default_rng(0)
    for metric in ("cosine", "euclidean"):
        m = VectorModel(8, metric, capacity=4)
        m.upsert(np.arange(300), list(rng.standard_normal((300, 8))), np.zeros(300, int))
        m.delete(range(0, 300, 7))
        Q = rng.standard_normal((20, 8))
        for q, (ids, d) in zip(Q, m.exact_batch(Q, 10, block=7)):
            e_ids, e_d = m.exact(q, 10)
            assert list(ids) == list(e_ids)
            assert np.array_equal(d, e_d)


def test_cosine_distance_of_zero_vector_is_one():
    X = np.array([[0.0, 0.0], [1.0, 0.0]])
    assert list(distances(X, np.array([1.0, 0.0]), "cosine")) == [1.0, 0.0]


def test_check_topk_allows_only_near_tie_swaps():
    true = {1: 0.1, 2: 0.2, 3: 0.2 + 1e-12, 4: 0.5}.get
    exp_ids, exp_d = [1, 2, 3], [0.1, 0.2, 0.2 + 1e-12]
    assert check_topk([1, 3, 2], [0.1, 0.2, 0.2], exp_ids, exp_d, true, 1e-9) == []
    assert check_topk([1, 2, 4], [0.1, 0.2, 0.5], exp_ids, exp_d, true, 1e-9)
    assert check_topk([1, 2], [0.1, 0.2], exp_ids, exp_d, true, 1e-9)
    # a reported distance that is not the id's true distance
    assert check_topk([1, 2, 3], [0.1, 0.25, 0.2], exp_ids, exp_d, true, 1e-9)
    # an id the model does not hold
    assert check_topk([1, 2, 99], [0.1, 0.2, 0.2], exp_ids, exp_d, true, 1e-9)


# -- generator ----------------------------------------------------------------
def _draw(seed):
    rng = np.random.default_rng([seed, 1])
    mix = gen.Mixture(rng, 16, zipf_s=1.1)
    X, c = mix.points(rng, 50)
    qs = gen.QueryStream(np.random.default_rng([seed, 2]), mix, 0.2, 0.25)
    queries = [qs.next() for _ in range(40)]
    wrng = np.random.default_rng([seed, 3])
    batch = gen.write_batch(wrng, mix, np.arange(50), 50, 100, 0.2, 0.05)
    dels = gen.delete_ids(wrng, np.arange(50), 150, 10)
    return X, c, queries, batch, dels, qs.shares()


def test_generator_is_deterministic_for_a_seed():
    a, b = _draw(7), _draw(7)
    assert np.array_equal(a[0], b[0]) and np.array_equal(a[1], b[1])
    for (qa, la, ca), (qb, lb, cb) in zip(a[2], b[2]):
        assert np.array_equal(qa, qb) and la == lb and ca == cb
    for xa, xb in zip(a[3], b[3]):
        if isinstance(xa, list):
            assert all((u is None and v is None) or np.array_equal(u, v) for u, v in zip(xa, xb))
        else:
            assert np.array_equal(xa, xb)
    assert a[4] == b[4] and a[5] == b[5]


def test_generator_differs_across_seeds():
    assert not np.array_equal(_draw(7)[0], _draw(8)[0])


def test_write_batch_ids_are_distinct_and_invalid_rows_are_marked():
    rng = np.random.default_rng(3)
    mix = gen.Mixture(rng, 8)
    ids, rows, lang, valid, nxt = gen.write_batch(rng, mix, np.arange(100), 100, 200, 0.3, 0.1)
    assert len(set(ids.tolist())) == len(ids) == len(rows) == len(lang) == 200
    assert nxt == 100 + sum(i >= 100 for i in ids)
    for r, v in zip(rows, valid):
        assert v == (r is not None and len(r) == 8)
    assert 0 < (~valid).sum() < 200


def test_delete_ids_mixes_live_and_absent():
    rng = np.random.default_rng(5)
    live = np.arange(1000)
    seen_live = seen_absent = False
    for _ in range(50):
        ids = gen.delete_ids(rng, live, 1000, 10)
        assert 1 <= len(ids) <= 10 and len(set(ids)) == len(ids)
        seen_live |= any(i < 1000 for i in ids)
        seen_absent |= any(i >= 1000 for i in ids)
    assert seen_live and seen_absent


def test_query_stream_repeats_whole_requests():
    rng = np.random.default_rng(1)
    mix = gen.Mixture(rng, 4)
    qs = gen.QueryStream(rng, mix, 0.5, 0.5)
    seen = [qs.next() for _ in range(200)]
    shares = qs.shares()
    assert shares["queries"] == 200
    assert 0.35 < shares["repeat_share"] < 0.65
    distinct = {(q.tobytes(), lang) for q, lang, _ in seen}
    assert len(distinct) == len(qs.history)


def test_request_kinds_hold_the_mix_in_every_cycle():
    mix = {"search": 14, "insert": 4, "delete": 1, "stats": 1}
    a = gen.request_kinds(np.random.default_rng(4), mix)
    b = gen.request_kinds(np.random.default_rng(4), mix)
    first = [next(a) for _ in range(60)]
    assert first == [next(b) for _ in range(60)]
    for c in range(3):
        cycle = first[20 * c : 20 * (c + 1)]
        assert {k: cycle.count(k) for k in mix} == mix
    assert first[:20] != first[20:40]


def test_query_stream_filters_a_fixed_share_of_each_block():
    rng = np.random.default_rng(2)
    qs = gen.QueryStream(rng, gen.Mixture(rng, 4), 0.0, 0.25)
    langs = [qs.next()[1] for _ in range(40)]
    for b in range(0, 40, gen.FILTER_BLOCK):
        assert sum(lang is not None for lang in langs[b : b + gen.FILTER_BLOCK]) == 1
    # filters take the languages in turn, rarest first
    assert [lang for lang in langs if lang is not None][:5] == ["ja", "fr", "de", "en", "ja"]
