"""Generalized suffix array (prefix doubling) + longest duplicate span."""

from __future__ import annotations

import hashlib
import random

import pytest

from esa_pfa_spark.operators.suffix import (
    _adjacent_lcp,
    duplicate_coverage,
    exact_substring_audit,
    longest_duplicate_span,
    suffix_order,
)

# a zero-token document between two that share a 3-token run
EMPTY_DOC_CORPUS = {1: [4, 5, 6, 7], 2: [], 3: [9, 4, 5, 6]}


def _df(spark, docs: dict[int, list[int]]):
    rows = [(d, toks) for d, toks in docs.items()]
    return spark.createDataFrame(rows, "doc_id long, tokens array<int>")


def _random_docs(seed, n_docs, alphabet, min_len, max_len):
    rng = random.Random(seed)
    return {
        d: [rng.randrange(alphabet) for _ in range(rng.randrange(min_len, max_len))]
        for d in range(n_docs)
    }


def _motif_docs(seed=29):
    """Planted duplicates over a small alphabet + random filler."""
    rng = random.Random(seed)
    motif = [rng.randrange(50) for _ in range(9)]
    docs = {}
    for d in range(12):
        body = [rng.randrange(50) for _ in range(rng.randrange(5, 30))]
        if d % 3 == 0:
            at = rng.randrange(0, max(1, len(body) - 1))
            body = body[:at] + motif + body[at:]
        docs[d] = body
    return docs


def _ref_order(docs: dict[int, list[int]]):
    """Naive reference: sort (suffix, doc, off) lexicographically."""
    sufs = [
        (toks[off:], d, off)
        for d, toks in docs.items()
        for off in range(len(toks))
    ]
    sufs.sort()
    return [(d, off) for _, d, off in sufs]


def _ref_longest_dup(docs: dict[int, list[int]]):
    order = _ref_order(docs)
    sufs = {(d, o): docs[d][o:] for d, o in order}
    best, fps = 0, set()
    for (a, b) in zip(order, order[1:]):
        sa, sb = sufs[a], sufs[b]
        l = 0
        while l < min(len(sa), len(sb)) and sa[l] == sb[l]:
            l += 1
        if l > best:
            best, fps = l, set()
        if l == best:
            fps.add(hashlib.md5(
                ",".join(str(t) for t in sufs[a][:best]).encode()
            ).hexdigest())
    return best, min(fps) if fps else None


def _ref_coverage(docs: dict[int, list[int]], L: int):
    # independent reference: a position is covered iff it lies inside
    # an exactly-L window that occurs >= 2 times in the corpus
    # (equivalent to ">= L duplicated substring" coverage)
    from collections import Counter

    grams = Counter()
    for toks in docs.values():
        for i in range(len(toks) - L + 1):
            grams[tuple(toks[i:i + L])] += 1
    out = {}
    for d, toks in docs.items():
        covered = set()
        for i in range(len(toks) - L + 1):
            if grams[tuple(toks[i:i + L])] >= 2:
                covered.update(range(i, i + L))
        out[d] = len(covered)
    return out


class TestSuffixOrder:
    def test_matches_reference_small(self, spark):
        docs = {1: [3, 1, 2, 1], 2: [1, 2, 1], 3: [2, 2]}
        got = suffix_order(_df(spark, docs)).collect()
        by_idx = {r["sa_idx"]: (r["doc_id"], r["off"]) for r in got}
        assert [by_idx[i] for i in range(len(by_idx))] == _ref_order(docs)

    def test_permutation_and_sortedness_random(self, spark):
        docs = _random_docs(7, 12, 4, 1, 30)
        got = suffix_order(_df(spark, docs)).collect()
        n = sum(len(t) for t in docs.values())
        idxs = sorted(r["sa_idx"] for r in got)
        assert idxs == list(range(n))  # a permutation
        by_idx = {r["sa_idx"]: (r["doc_id"], r["off"]) for r in got}
        assert [by_idx[i] for i in range(n)] == _ref_order(docs)

    def test_identical_docs_tie_break(self, spark):
        # byte-identical suffixes across docs: order falls back to
        # (doc_id, off) and stays a total order
        docs = {5: [1, 2, 3], 9: [1, 2, 3]}
        got = suffix_order(_df(spark, docs)).collect()
        by_idx = {r["sa_idx"]: (r["doc_id"], r["off"]) for r in got}
        assert [by_idx[i] for i in range(6)] == _ref_order(docs)

    def test_negative_token_raises(self, spark):
        from pyspark.errors import PySparkException

        with pytest.raises(PySparkException, match="sentinel ordering"):
            suffix_order(_df(spark, {1: [1, -2, 3]})).collect()


class TestLongestDuplicateSpan:
    def test_hand_case_cross_doc(self, spark):
        # [7,8,9] occurs in both docs; no longer shared run exists
        docs = {1: [1, 7, 8, 9, 2], 2: [7, 8, 9, 3]}
        r = longest_duplicate_span(_df(spark, docs)).collect()
        assert len(r) == 1
        assert r[0]["dup_len"] == 3
        assert r[0]["span_fp"] == hashlib.md5(b"7,8,9").hexdigest()

    def test_within_doc_repeat(self, spark):
        docs = {1: [4, 5, 4, 5, 4]}  # overlapping repeat: [4,5,4] twice
        r = longest_duplicate_span(_df(spark, docs)).collect()[0]
        assert r["dup_len"] == 3
        assert r["span_fp"] == hashlib.md5(b"4,5,4").hexdigest()

    def test_no_repeats(self, spark):
        docs = {1: [1, 2], 2: [3, 4]}
        r = longest_duplicate_span(_df(spark, docs)).collect()[0]
        assert r["dup_len"] == 0
        assert r["span_fp"] == hashlib.md5(b"").hexdigest()

    def test_matches_reference_random(self, spark):
        docs = _random_docs(13, 10, 3, 2, 25)
        want_len, want_fp = _ref_longest_dup(docs)
        r = longest_duplicate_span(_df(spark, docs)).collect()[0]
        assert r["dup_len"] == want_len
        assert r["span_fp"] == want_fp


class TestDuplicateCoverage:
    def test_cross_doc_shared_run(self, spark):
        shared = list(range(100, 118))  # 18 tokens
        docs = {1: [1, 2] + shared + [3], 2: shared + [4, 5, 6]}
        out = {r["doc_id"]: r for r in duplicate_coverage(
            _df(spark, docs), min_len=16).collect()}
        assert out[1]["dup_tokens"] == 18 and out[2]["dup_tokens"] == 18
        assert out[1]["n_tok"] == 21
        assert out[1]["dup_frac"] == round(18 / 21, 6)

    def test_below_threshold_reports_zero(self, spark):
        shared = list(range(100, 115))  # 15 < min_len
        docs = {1: shared + [1], 2: shared + [2]}
        out = {r["doc_id"]: r["dup_tokens"] for r in duplicate_coverage(
            _df(spark, docs), min_len=16).collect()}
        assert out == {1: 0, 2: 0}

    def test_matches_lgram_reference_random(self, spark):
        docs = _motif_docs()
        L = 6
        want = _ref_coverage(docs, L)
        got = {r["doc_id"]: r["dup_tokens"] for r in duplicate_coverage(
            _df(spark, docs), min_len=L).collect()}
        assert got == want


def test_empty_and_single_token_corpora(spark):
    # empty corpus: no suffixes, empty SA; single 1-token doc: one suffix
    empty = spark.createDataFrame([], "doc_id long, tokens array<int>")
    assert suffix_order(empty).count() == 0
    assert longest_duplicate_span(empty).count() == 0  # no adjacent pair
    one = _df(spark, {1: [7]})
    rows = suffix_order(one).collect()
    assert [(r["doc_id"], r["off"], r["sa_idx"]) for r in rows] == [(1, 0, 0)]

    # a zero-token document emits no suffix and must not abort the job;
    # its coverage row reports 0 duplicated tokens and a NULL fraction
    docs = EMPTY_DOC_CORPUS
    got = suffix_order(_df(spark, docs)).collect()
    by_idx = {r["sa_idx"]: (r["doc_id"], r["off"]) for r in got}
    assert [by_idx[i] for i in range(len(by_idx))] == _ref_order(docs)
    want_len, want_fp = _ref_longest_dup(docs)
    r = longest_duplicate_span(_df(spark, docs)).collect()[0]
    assert (r["dup_len"], r["span_fp"]) == (want_len, want_fp)
    cov = {r["doc_id"]: r for r in duplicate_coverage(
        _df(spark, docs), min_len=3).collect()}
    assert {d: r["dup_tokens"] for d, r in cov.items()} == _ref_coverage(docs, 3)
    assert cov[2]["n_tok"] == 0 and cov[2]["dup_frac"] is None
    assert cov[1]["dup_frac"] == 0.75


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "docs, L",
    [
        (_random_docs(7, 12, 4, 1, 30), 4),
        (_random_docs(13, 10, 3, 2, 25), 5),
        (_motif_docs(), 6),
        (EMPTY_DOC_CORPUS, 3),
    ],
    ids=["random7", "random13", "motif29", "empty_doc"],
)
def test_exact_substring_audit_matches_references(spark, docs, L):
    """One shared build gives both statistics: equal to the python
    references and to the two standalone entry points."""
    df = _df(spark, docs)
    cov, longest = exact_substring_audit(df, min_len=L)
    got_cov = {r["doc_id"]: r["dup_tokens"] for r in cov.collect()}
    assert got_cov == _ref_coverage(docs, L)
    assert [(r["dup_len"], r["span_fp"]) for r in longest.collect()] == [
        _ref_longest_dup(docs)
    ]
    assert _rows(cov) == _rows(duplicate_coverage(df, min_len=L))
    assert _rows(longest) == _rows(longest_duplicate_span(df))


def test_exact_substring_audit_empty_corpus(spark):
    empty = spark.createDataFrame([], "doc_id long, tokens array<int>")
    cov, longest = exact_substring_audit(empty)
    assert cov.count() == 0
    assert longest.count() == 0  # no adjacent pair


def test_adjacent_lcp_honours_n_partitions(spark):
    # the session default (8) must not override the caller's count
    pairs, _, _ = _adjacent_lcp(
        _df(spark, {1: [1, 2, 3, 1, 2], 2: [2, 3, 1]}),
        "tokens", "doc_id", 3, 2**31 - 1, 8,
    )
    assert pairs.rdd.getNumPartitions() == 3


def test_build_runs_no_side_action(spark, monkeypatch):
    """The suffix array and the adjacent-LCP build run only the actions
    that materialize their own state: the longest suffix, "anything
    still tied?" and the max LCP are observed on those jobs."""
    docs = _motif_docs()
    df = _df(spark, docs)

    def forbidden(name):
        def call(self, *args, **kwargs):
            raise AssertionError(f"side action DataFrame.{name}")

        return call

    for name in ("isEmpty", "first", "count"):
        monkeypatch.setattr(type(df), name, forbidden(name))
    sa = suffix_order(df)
    cov, longest = exact_substring_audit(df, min_len=6)
    monkeypatch.undo()

    by_idx = {r["sa_idx"]: (r["doc_id"], r["off"]) for r in sa.collect()}
    assert [by_idx[i] for i in range(len(by_idx))] == _ref_order(docs)
    assert {r["doc_id"]: r["dup_tokens"] for r in cov.collect()} == _ref_coverage(docs, 6)
    assert [(r["dup_len"], r["span_fp"]) for r in longest.collect()] == [
        _ref_longest_dup(docs)
    ]


def test_long_single_token_run(spark):
    """A document of 3,000 copies of one token — most of its suffixes
    stay tied until the last refinement round, and its adjacent pairs
    share up to 2,999 tokens — among random documents over a small
    alphabet holding the same token."""
    docs = _random_docs(41, 8, 4, 5, 40)
    docs[100] = [3] * 3000
    df = _df(spark, docs)
    by_idx = {r["sa_idx"]: (r["doc_id"], r["off"]) for r in suffix_order(df).collect()}
    assert [by_idx[i] for i in range(len(by_idx))] == _ref_order(docs)
    cov, longest = exact_substring_audit(df, min_len=16)
    assert {r["doc_id"]: r["dup_tokens"] for r in cov.collect()} == _ref_coverage(docs, 16)
    assert [(r["dup_len"], r["span_fp"]) for r in longest.collect()] == [
        _ref_longest_dup(docs)
    ]


@pytest.mark.parametrize(
    "docs, L, max_token",
    [
        (_random_docs(7, 12, 4, 1, 30), 1, 2**31 - 1),
        (_random_docs(7, 12, 4, 1, 30), 2, 2**31 - 1),
        (_random_docs(13, 10, 3, 2, 25), 4, 3),
        ({1: [1, 2, 3], 2: [1, 2, 4]}, 2, 10),
        ({1: [5, 7, 8], 2: [9, 7, 8]}, 2, 10),
        ({1: [1, 2], 2: [3, 4]}, 1, 10),
        ({1: [1, 2]}, 1, 2**31 - 1),
        ({1: [7]}, 1, 2**31 - 1),
        ({1: [7], 2: []}, 1, 10),
        ({1: []}, 1, 2**31 - 1),
    ],
    ids=[
        "min_len1", "min_len2", "min_len4_k0_27", "prefix_below_k0",
        "identical_short_ends", "two_docs_no_repeat", "one_doc_no_repeat",
        "one_suffix", "one_suffix_and_empty_doc", "only_empty_doc",
    ],
)
def test_pairs_across_key_groups(spark, docs, L, max_token):
    """Adjacent suffixes whose k0-token keys differ share fewer than k0
    tokens: a coverage threshold below k0, a longest repeat shorter than
    k0, identical suffixes shorter than k0 that end two documents and
    the degenerate corpora still give the references' answers."""
    df = _df(spark, docs)
    cov, longest = exact_substring_audit(df, min_len=L, max_token=max_token)
    want_cov = _ref_coverage(docs, L)
    want_longest = [_ref_longest_dup(docs)] if sum(map(len, docs.values())) > 1 else []
    for c, top in (
        (cov, longest),
        (duplicate_coverage(df, min_len=L, max_token=max_token),
         longest_duplicate_span(df, max_token=max_token)),
    ):
        assert {r["doc_id"]: r["dup_tokens"] for r in c.collect()} == want_cov
        assert [(r["dup_len"], r["span_fp"]) for r in top.collect()] == want_longest


def test_audit_compares_only_the_duplicate_mass(spark, monkeypatch):
    """One planted 30-token run in two of 20 documents: the checkpointed
    pairs frame holds one row per tied suffix except the least of its
    key group — (tied positions - tied key groups), not T - 1 — and the
    audit runs no global numbering."""
    from collections import Counter

    from esa_pfa_spark.operators import suffix

    rng = random.Random(5)
    docs = {
        d: [rng.randrange(50_000) for _ in range(rng.randrange(40, 80))]
        for d in range(20)
    }
    run = [rng.randrange(50_000) for _ in range(30)]
    docs[3][10:10] = run
    docs[11][5:5] = run
    k0 = 4  # (50256 + 2)^4 <= 2^63 - 1 < (50256 + 2)^5
    keys = Counter(tuple(t[o:o + k0]) for t in docs.values() for o in range(len(t)))
    tied = [n for n in keys.values() if n > 1]
    n_pos = sum(len(t) for t in docs.values())

    def no_numbering(*a, **kw):
        raise AssertionError("global_cumsum called")

    checkpoints = []
    real = suffix._checkpoint_observed

    def spy(df, **aggs):
        checkpoints.append(real(df, **aggs))
        return checkpoints[-1]

    monkeypatch.setattr(suffix, "global_cumsum", no_numbering)
    monkeypatch.setattr(suffix, "_checkpoint_observed", spy)
    cov, longest = exact_substring_audit(_df(spark, docs), min_len=20, max_token=50256)
    monkeypatch.undo()

    pairs = checkpoints[-1][0]
    assert pairs.count() == sum(tied) - len(tied) < (n_pos - 1) / 20
    assert {r["doc_id"]: r["dup_tokens"] for r in cov.collect()} == _ref_coverage(docs, 20)
    assert [(r["dup_len"], r["span_fp"]) for r in longest.collect()] == [
        _ref_longest_dup(docs)
    ]
