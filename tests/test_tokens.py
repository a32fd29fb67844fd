"""Token-sequence operator tests: hand-counted chunking goldens, sequence
packing vs a sequential numpy oracle (the global-concatenation semantics),
vocab/bigram counts, and repetition stats.  The oracle mirror
(test_entry_oracle.py) covers DuckDB parity end-to-end; these pin the
semantics on tiny inputs where the expected values are hand-checkable."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from esa_pfa_spark.operators import tokens as TK


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("d1", "a b c d e f g", "s1"),
        ("d2", "a a a b", "s1"),
        ("d3", "x", "s2"),
        ("d4", "p q r s t u v w x y z", "s2"),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string, source string")


def test_tokenize_shape_and_determinism(docs):
    out = TK.tokenize(docs).select("doc_id", "tokens", "n_tok").collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id["d1"]["n_tok"] == 7
    assert by_id["d3"]["n_tok"] == 1
    # same word -> same id, everywhere
    t2 = by_id["d2"]["tokens"]
    assert t2[0] == t2[1] == t2[2]
    assert t2[0] == by_id["d1"]["tokens"][0]  # 'a' in both docs
    assert all(0 <= t < TK.DEFAULT_VOCAB for r in out for t in r["tokens"])


def test_chunk_tokens_windows(spark):
    df = spark.createDataFrame(
        [("d", list(range(10)))], "doc_id string, tokens array<int>"
    )
    got = {
        r["chunk_idx"]: r
        for r in TK.chunk_tokens(df, max_len=4, stride=3).collect()
    }
    # starts 0,3,6,9 -> windows [0..3],[3..6],[6..9],[9]
    assert sorted(got) == [0, 1, 2, 3]
    assert (got[0]["first_tok"], got[0]["last_tok"], got[0]["n_chunk"]) == (0, 3, 4)
    assert (got[1]["first_tok"], got[1]["last_tok"]) == (3, 6)
    assert (got[3]["first_tok"], got[3]["last_tok"], got[3]["n_chunk"]) == (9, 9, 1)
    # fingerprint is the md5 of the comma-joined window
    import hashlib

    assert got[2]["chunk_fp"] == hashlib.md5(b"6,7,8,9").hexdigest()


def test_chunk_tokens_drops_empty(spark):
    df = spark.createDataFrame(
        [("e", []), ("f", [5])], "doc_id string, tokens array<int>"
    )
    rows = TK.chunk_tokens(df, max_len=4, stride=3).collect()
    assert [r["doc_id"] for r in rows] == ["f"]


def _pack_oracle(rows, capacity):
    """Sequential reference: concatenate in (source, doc_id) order, cut at
    capacity boundaries, emit (source, doc_id, n_tok, chunk_id, start_in_doc,
    n_in_chunk)."""
    out = []
    gs = 0
    for source, doc_id, n in sorted(rows):
        first_c, last_c = gs // capacity, (gs + n - 1) // capacity
        for c in range(first_c, last_c + 1):
            lo = max(c * capacity - gs, 0)
            hi = min(c * capacity + capacity - gs, n)
            out.append((source, doc_id, n, c, lo, hi - lo))
        gs += n
    return sorted(out)


@pytest.mark.parametrize("n_partitions", [1, 5])
def test_pack_offsets_matches_sequential_oracle(spark, n_partitions):
    rng = np.random.default_rng(7)
    rows = [
        (f"s{i % 3}", f"d{i:03d}", int(rng.integers(1, 40))) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "source string, doc_id string, n_tok int")
    got = sorted(
        tuple(r)
        for r in TK.pack_offsets(df, capacity=64, n_partitions=n_partitions)
        .select("source", "doc_id", "n_tok", "chunk_id", "tok_start_in_doc", "n_in_chunk")
        .collect()
    )
    assert got == _pack_oracle(rows, 64)


def test_pack_offsets_tiles_exactly(spark):
    """Every token lands in exactly one window; full windows hold exactly
    `capacity` tokens."""
    rows = [("s", f"d{i:02d}", 10 + i) for i in range(20)]
    df = spark.createDataFrame(rows, "source string, doc_id string, n_tok int")
    out = TK.pack_offsets(df, capacity=32, n_partitions=3)
    total = out.agg(F.sum("n_in_chunk")).collect()[0][0]
    assert total == sum(n for _, _, n in rows)
    per_chunk = {
        r["chunk_id"]: r["s"]
        for r in out.groupBy("chunk_id").agg(F.sum("n_in_chunk").alias("s")).collect()
    }
    last = max(per_chunk)
    for cid, s in per_chunk.items():
        assert s == 32 or cid == last


def test_pack_offsets_release_pin(spark, monkeypatch):
    """global_cumsum pins a cached range partitioning for the session;
    release_pin(result) drops exactly that cache (not the whole catalog)
    once the result is materialized.  pack_offsets/dense_ids pass the pin
    on; suffix_order releases its own."""
    from esa_pfa_spark.operators import suffix
    from esa_pfa_spark.operators.dictionary import dense_ids, global_cumsum, release_pin

    rows = [("s", f"d{i:02d}", 10 + i) for i in range(20)]
    df = spark.createDataFrame(rows, "source string, doc_id string, n_tok int")
    out = TK.pack_offsets(df, capacity=32, n_partitions=3)
    out.count()  # materialize
    pinned = out._pinned_cache
    assert pinned.storageLevel.useMemory
    assert release_pin(out, blocking=True)
    assert not pinned.storageLevel.useMemory
    # idempotent + safe on unpinned frames
    assert not release_pin(df)

    ids = dense_ids(df, "doc_id", n_partitions=2)
    ids.count()
    assert release_pin(ids, blocking=True)

    # suffix_order leaves nothing it cached behind
    results = []

    def spy(*args, **kwargs):
        results.append(global_cumsum(*args, **kwargs))
        return results[-1]

    monkeypatch.setattr(suffix, "global_cumsum", spy)
    docs = spark.createDataFrame(
        [(1, [3, 1, 2, 1]), (2, [1, 2, 1])], "doc_id long, tokens array<int>"
    )
    assert suffix.suffix_order(docs).count() == 7
    assert len(results) == 1
    level = results[0]._pinned_cache.storageLevel
    assert not (level.useMemory or level.useDisk)

    # exclusive running sums for an empty input and for fewer rows than
    # partitions (most range partitions then hold no row)
    empty = spark.createDataFrame([], "k long, w long")
    few = spark.createDataFrame([(3, 5), (1, 2), (2, 7)], "k long, w long")
    for weight, want in ((None, [0, 1, 2]), ("w", [0, 2, 9])):
        out = global_cumsum(empty, ["k"], "off", weight=weight, n_partitions=4)
        assert out.collect() == []
        release_pin(out)
        out = global_cumsum(few, ["k"], "off", weight=weight, n_partitions=8)
        got = sorted((r["k"], r["w"], r["off"]) for r in out.collect())
        assert got == [(1, 2, want[0]), (2, 7, want[1]), (3, 5, want[2])]
        release_pin(out)


def test_pack_manifest_composition(spark):
    """Hand case: docs of 5/4/6 tokens, capacity 8 -> window 0 holds d0:5 +
    d1:3 (split), window 1 holds d1:1 + d2:6; boundaries reconstruct."""
    rows = [("s", "d0", 5), ("s", "d1", 4), ("s", "d2", 6)]
    df = spark.createDataFrame(rows, "source string, doc_id string, n_tok int")
    got = {
        r["chunk_id"]: r for r in TK.pack_manifest(df, capacity=8).collect()
    }
    assert got[0]["manifest"] == "s:d0:5|s:d1:3"
    assert (got[0]["n_docs"], got[0]["n_tok"]) == (2, 8)
    assert got[1]["manifest"] == "s:d1:1|s:d2:6"
    assert (got[1]["n_docs"], got[1]["n_tok"]) == (2, 7)


def test_vocab_and_bigram_counts(spark):
    df = spark.createDataFrame(
        [("a", [1, 2, 1]), ("b", [1, 3]), ("c", [9])],
        "doc_id string, tokens array<int>",
    )
    vc = {r["token"]: r["cnt"] for r in TK.vocab_counts(df, k=None).collect()}
    assert vc == {1: 3, 2: 1, 3: 1, 9: 1}
    top = TK.vocab_counts(df, k=2).collect()
    assert [(r["token"], r["cnt"]) for r in top] == [(1, 3), (2, 1)]
    bg = {(r["t1"], r["t2"]): r["cnt"] for r in TK.bigram_counts(df, k=None).collect()}
    assert bg == {(1, 2): 1, (2, 1): 1, (1, 3): 1}


def test_repetition_stats(spark):
    df = spark.createDataFrame(
        [("a", [5, 5, 5, 7]), ("b", [1, 2, 3, 4])],
        "doc_id string, tokens array<int>",
    )
    got = {r["doc_id"]: r for r in TK.repetition_stats(df).collect()}
    assert got["a"]["n_tok"] == 4 and got["a"]["n_distinct"] == 2
    assert got["a"]["dup_ratio"] == 0.5 and got["a"]["top_token_share"] == 0.75
    assert got["b"]["dup_ratio"] == 0.0 and got["b"]["top_token_share"] == 0.25
    import math

    # a: counts {3,1} over 4 -> H = ln(4) - (3 ln 3)/4 (decimal-truncated sum)
    want_a = round(math.log(4) - float(int(3 * math.log(3) * 1e6)) / 1e6 / 4, 6)
    assert abs(got["a"]["entropy"] - want_a) < 2e-6
    # b: uniform over 4 distinct -> ln(4)
    assert abs(got["b"]["entropy"] - round(math.log(4), 6)) < 2e-6


def test_dup_ngram_summary(spark):
    """Two docs sharing one 4-gram at overlapping positions; spans merge."""
    shared = [10, 11, 12, 13]
    d1 = [1, 2] + shared + [3, 4]          # dup window at s=2
    d2 = shared + [9, 9, 9] + shared       # dup windows at s=0 and s=7
    d3 = [5, 6, 7, 8, 5, 6]                # no duplicated 4-gram
    df = spark.createDataFrame(
        [("a", d1), ("b", d2), ("c", d3)], "doc_id string, tokens array<int>"
    )
    got = {r["doc_id"]: r for r in TK.dup_ngram_summary(df, n=4).collect()}
    assert set(got) == {"a", "b"}
    assert (got["a"]["n_dup_windows"], got["a"]["n_spans"], got["a"]["dup_tokens"]) == (1, 1, 4)
    # d2: s=0 and s=7, gap 7 > n=4 -> two separate spans of 4 tokens each
    assert (got["b"]["n_dup_windows"], got["b"]["n_spans"], got["b"]["dup_tokens"]) == (2, 2, 8)
    assert got["b"]["dup_frac"] == round(8 / 11, 6)


def test_dup_ngram_merges_overlapping_windows(spark):
    """A run of duplicated windows at consecutive starts collapses to ONE
    span covering the union."""
    rep = [7, 7, 7, 7, 7, 7]  # all 3-grams inside are identical -> dup
    df = spark.createDataFrame([("a", rep)], "doc_id string, tokens array<int>")
    got = TK.dup_ngram_summary(df, n=3).collect()[0]
    # starts 0..3 all duplicated (same fp occurs 4x), one span covering 0..5
    assert (got["n_dup_windows"], got["n_spans"], got["dup_tokens"]) == (4, 1, 6)
    assert got["dup_frac"] == 1.0


def test_dup_ngram_skew_safe_path_identical(spark):
    rng = np.random.default_rng(3)
    rows = [
        (f"d{i}", [int(x) for x in rng.integers(0, 6, size=30)]) for i in range(25)
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    a = sorted(map(tuple, TK.dup_ngram_summary(df, n=4, skew_safe=False).collect()))
    b = sorted(map(tuple, TK.dup_ngram_summary(df, n=4, skew_safe=True).collect()))
    assert a == b and len(a) > 0


def test_chunking_plan_is_map_only(spark):
    """chunk_tokens must not shuffle: no Exchange in the plan."""
    df = spark.createDataFrame(
        [("d", list(range(10)))], "doc_id string, tokens array<int>"
    )
    plan = TK.chunk_tokens(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_decontaminate_hand_counted(spark):
    # train doc "t1" contains eval doc "e1"'s 4-gram [1,2,3,4] at s=2 and
    # s=3 never matches; "t2" is clean; "t3" is too short to window.
    train = spark.createDataFrame(
        [
            ("t1", [9, 9, 1, 2, 3, 4, 9]),   # windows at s=0..3; s=2 hits
            ("t2", [5, 6, 7, 8, 5, 6]),       # 3 windows, no hits
            ("t3", [1, 2, 3]),                # < n, dropped
        ],
        "doc_id string, tokens array<int>",
    )
    ev = spark.createDataFrame(
        [("e1", [0, 1, 2, 3, 4, 0])], "doc_id string, tokens array<int>"
    )
    got = {r["doc_id"]: r for r in TK.decontaminate(train, ev, n=4).collect()}
    assert sorted(got) == ["t1", "t2"]
    assert (got["t1"]["n_windows"], got["t1"]["n_eval_hits"]) == (4, 1)
    assert got["t1"]["contaminated"] is True
    assert got["t1"]["contamination_frac"] == 0.25
    assert (got["t2"]["n_eval_hits"], got["t2"]["contaminated"]) == (0, False)
    assert got["t2"]["n_tok"] == 6


def test_decontaminate_plan_broadcasts_eval(spark):
    train = spark.createDataFrame(
        [("t", list(range(20)))], "doc_id string, tokens array<int>"
    )
    ev = spark.createDataFrame(
        [("e", list(range(10)))], "doc_id string, tokens array<int>"
    )
    plan = TK.decontaminate(train, ev)._jdf.queryExecution().executedPlan().toString()
    # eval fingerprints ride a broadcast join; the exploded training window
    # set must NOT be the build/shuffle side of an exchange before the join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_bloom_superset_and_bigm_exact(spark):
    """Bloom contract: NO false negatives at any m (per-doc bloom hits >=
    exact hits window-for-window), and a generously sized bitmap reproduces
    the exact pass (false-positive rate ~(kn/m)^k -> ~0 here)."""
    import random

    rng = random.Random(7)
    train = spark.createDataFrame(
        [(f"t{i}", [rng.randrange(50) for _ in range(rng.randrange(4, 40))])
         for i in range(60)],
        "doc_id string, tokens array<int>",
    )
    ev = spark.createDataFrame(
        [(f"e{i}", [rng.randrange(50) for _ in range(20)]) for i in range(8)],
        "doc_id string, tokens array<int>",
    )
    exact = {r["doc_id"]: r["n_eval_hits"]
             for r in TK.decontaminate(train, ev, n=4).collect()}
    for m_bits in (1 << 10, 1 << 22):
        got = {r["doc_id"]: r["n_bloom_hits"]
               for r in TK.decontaminate_bloom(train, ev, n=4, m_bits=m_bits, k=3).collect()}
        assert sorted(got) == sorted(exact)
        assert all(got[d] >= exact[d] for d in exact), "false negative"
    assert got == exact  # m = 2^22 vs ~100 set bits: collisions ~0


def test_decontaminate_bloom_bitmap_is_fixed_size(spark):
    """The broadcast payload is m/8 bytes regardless of eval-corpus size,
    and the bitmap build aggregates BYTES (bit_or groupBy), so the driver
    collect is bounded by m/8 rows."""
    ev_small = spark.createDataFrame(
        [("e0", list(range(10)))], "doc_id string, tokens array<int>"
    )
    ev_big = spark.createDataFrame(
        [(f"e{i}", [i * 37 + j for j in range(30)]) for i in range(50)],
        "doc_id string, tokens array<int>",
    )
    m = 1 << 14
    b_small = TK.eval_bloom_bitmap(ev_small, n=4, m_bits=m, k=3)
    b_big = TK.eval_bloom_bitmap(ev_big, n=4, m_bits=m, k=3)
    assert b_small.nbytes == b_big.nbytes == m // 8
    # more eval windows -> more set bits, never fewer
    assert np.unpackbits(b_big).sum() >= np.unpackbits(b_small).sum()


def test_tfidf_topk_hand_computed(spark):
    df = spark.createDataFrame(
        [("d1", [1, 1, 2]), ("d2", [2, 3])], "doc_id string, tokens array<int>"
    )
    rows = TK.tfidf_topk(df, k=2).collect()
    got = {(r["doc_id"], r["rank"]): r for r in rows}
    # N=2; df: {1: 1, 2: 2, 3: 1}; idf ln(2)=0.693147 for tokens 1,3; 0 for 2
    assert got[("d1", 1)]["token"] == 1
    assert got[("d1", 1)]["score"] == pytest.approx(round(2 / 3 * 0.6931472, 6), abs=1e-6)
    assert (got[("d1", 1)]["tf_count"], got[("d1", 1)]["doc_freq"]) == (2, 1)
    assert got[("d1", 2)]["token"] == 2 and got[("d1", 2)]["score"] == 0.0
    assert got[("d2", 1)]["token"] == 3
    assert got[("d2", 1)]["score"] == pytest.approx(round(1 / 2 * 0.6931472, 6), abs=1e-6)


def test_tfidf_plan_broadcasts_docfreq(spark):
    df = spark.createDataFrame(
        [("d", list(range(30)))], "doc_id string, tokens array<int>"
    )
    plan = TK.tfidf_topk(df)._jdf.queryExecution().executedPlan().toString()
    # the vocab-bounded docfreq table and the N scalar must both broadcast;
    # the scored per-(doc,token) rows must not shuffle into a merge join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_vocab_coverage_curve(spark):
    """Hand corpus: coverage is monotone in vocab size, hits 1.0 once the
    size covers the distinct vocab, and matches a direct computation with
    the freq-desc/token-asc tie order."""
    import pandas as pd
    from collections import Counter

    from esa_pfa_spark.operators.tokens import vocab_coverage_curve

    rows = [(0, [1, 1, 1, 2, 2, 3]), (1, [1, 2, 4]), (2, [5])]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "tokens"]))
    got = {r["vocab_size"]: r.asDict()
           for r in vocab_coverage_curve(df, sizes=[1, 2, 5]).collect()}

    cnt = Counter(t for _, ts in rows for t in ts)
    order = sorted(cnt, key=lambda t: (-cnt[t], t))
    total = sum(cnt.values())
    for s in (1, 2, 5):
        covered = sum(cnt[t] for t in order[:s])
        g = got[s]
        assert g["n_total"] == total and g["n_covered"] == covered
        assert abs(g["coverage"] - round(covered / total, 6)) < 1e-9
    assert got[1]["coverage"] < got[2]["coverage"] < got[5]["coverage"] == 1.0


def test_span_corruption_mask(spark):
    """Python mirror of the hash geometry: starts, lengths, overlap union
    and counts all match; corruption lands near start_rate * mean_len;
    same doc+seed reproduces, different seed differs."""
    import hashlib

    import pandas as pd

    from esa_pfa_spark.operators.tokens import span_corruption_mask

    def h(prefix, seed, doc, p):
        return int(hashlib.md5(f"{prefix}{seed}:{doc}:{p}".encode()).hexdigest()[:6], 16)

    rows = [(d, list(range(200))) for d in range(5)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "tokens"]))
    out = {r["doc_id"]: r.asDict()
           for r in span_corruption_mask(df, start_rate=0.05, max_span=5).collect()}
    total = masked = 0
    for d, toks in rows:
        n = len(toks)
        starts = [p for p in range(n) if h("spanstart", 0, d, p) % 1000 < 50]
        lens = {p: 1 + h("spanlen", 0, d, p) % 5 for p in starts}
        want_mask = [
            1 if any(q <= p < q + lens[q] for q in starts) else 0 for p in range(n)
        ]
        g = out[d]
        assert list(g["mask"]) == want_mask, d
        assert g["n_spans"] == len(starts) and g["n_masked"] == sum(want_mask)
        total += n
        masked += sum(want_mask)
    assert 0.05 < masked / total < 0.30  # ~ start_rate * mean_len = 0.15

    again = {r["doc_id"]: list(r["mask"])
             for r in span_corruption_mask(df, start_rate=0.05, max_span=5).collect()}
    assert all(again[d] == list(out[d]["mask"]) for d, _ in rows)
    other = {r["doc_id"]: list(r["mask"])
             for r in span_corruption_mask(df, start_rate=0.05, max_span=5, seed=9).collect()}
    assert any(other[d] != list(out[d]["mask"]) for d, _ in rows)


def test_bigram_pmi_topk(spark):
    """Hand corpus with one true collocation: the inseparable pair tops
    the ranking; PMI matches the closed form; min_count floors rare
    accidental pairs out."""
    import math

    import pandas as pd

    from esa_pfa_spark.operators.tokens import bigram_pmi_topk

    # token 1 and 2 ALWAYS adjacent; 5/6 are frequent but independent
    docs = []
    for i in range(10):
        docs.append((i, [1, 2, 5, 6, 5, 6]))
        docs.append((100 + i, [6, 5, 6, 5, 1, 2]))
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "tokens"]))
    out = bigram_pmi_topk(df, k=5, min_count=3).collect()
    top = out[0]
    assert (top["tok_a"], top["tok_b"]) == (1, 2)

    n_uni = 6 * 20
    n_big = 5 * 20
    c_ab, c_a, c_b = 20, 20, 20
    want = round(math.log((c_ab / n_big) / ((c_a / n_uni) * (c_b / n_uni))), 6)
    assert abs(top["pmi"] - want) < 2e-6
    assert top["c_ab"] == 20
    # every returned pair clears the floor
    assert all(r["c_ab"] >= 3 for r in out)


def test_novelty_curve_saturation(spark):
    """A corpus whose later docs repeat earlier content must show decaying
    novelty; counts must match a brute-force python oracle."""
    import hashlib

    import numpy as np

    from esa_pfa_spark.operators.tokens import novelty_curve

    rng = np.random.default_rng(5)
    docs = []
    for i in range(20):
        if i < 10:
            toks = rng.integers(0, 50, 30).tolist()  # fresh material
        else:
            toks = docs[i - 10][1]  # verbatim repeat of the first half
        docs.append((i, toks))
    df = spark.createDataFrame(
        [(i, [int(t) for t in ts]) for i, ts in docs], "doc_id long, tokens array<int>"
    )
    out = novelty_curve(df, n=8, n_buckets=4).collect()

    # brute-force oracle
    def fp(win):
        return hashlib.md5(",".join(str(t) for t in win).encode()).hexdigest()

    buckets: dict[int, list[str]] = {}
    for i, ts in docs:
        b = (i * 4) // 20
        for s in range(len(ts) - 7):
            buckets.setdefault(b, []).append(fp(ts[s : s + 8]))
    seen: set[str] = set()
    for r in out:
        fps = buckets[r["bucket"]]
        dset = set(fps)
        novel = dset - seen
        assert r["n_windows"] == len(fps)
        assert r["n_fps"] == len(dset)
        assert r["n_novel"] == len(novel)
        seen |= dset
        assert r["cum_distinct"] == len(seen)
    # the repeated half contributes (almost) nothing new
    rates = {r["bucket"]: r["novelty_rate"] for r in out}
    assert rates[0] > 0.9 and rates[2] < 0.1 and rates[3] < 0.1
