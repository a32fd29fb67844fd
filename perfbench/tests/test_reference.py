"""The dedup_exact reference against a brute-force definition."""

from __future__ import annotations

import numpy as np
import pytest

from workloads import frac_half_up, lgram_coverage, longest_repeat


def _brute(docs, L):
    grams = {}
    for d, toks in enumerate(docs):
        for p in range(len(toks) - L + 1):
            grams.setdefault(tuple(toks[p:p + L]), []).append((d, p))
    cov = [set() for _ in docs]
    for where in grams.values():
        if len(where) > 1:
            for d, p in where:
                cov[d].update(range(p, p + L))
    return [len(c) for c in cov]


def _brute_longest(docs):
    best = 0
    for L in range(1, max(map(len, docs)) + 1):
        if any(c for c in _brute(docs, L)):
            best = L
    return best


@pytest.mark.parametrize("seed", range(5))
def test_coverage_and_longest_match_brute_force(seed):
    rng = np.random.default_rng(seed)
    docs = [rng.integers(0, 3, rng.integers(0, 12)).astype(np.int32) for _ in range(6)]
    lengths = np.array([len(d) for d in docs], dtype=np.int64)
    flat = np.concatenate(docs).astype(np.int32)
    for L in (1, 2, 3, 5):
        assert lgram_coverage(flat, lengths, L).tolist() == _brute([d.tolist() for d in docs], L)
    assert longest_repeat(flat, lengths) == _brute_longest([d.tolist() for d in docs])


def test_frac_rounds_half_up_like_spark():
    got = frac_half_up(np.array([65, 0, 60, 1]), np.array([128, 9, 172, 3]))
    assert got.tolist() == [0.507813, 0.0, 0.348837, 0.333333]
