"""Dedup operator unit tests (the oracle mirror covers end-to-end parity;
these pin the cap semantics and the shingle generator directly)."""

from __future__ import annotations

import pandas as pd

from esa_pfa_spark.operators import dedup as DD


def _docs(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": [f"d{i}" for i in range(len(texts))], "text": texts})
    )


def test_shingles_tiny_doc(spark):
    got = sorted(
        (r["doc_id"], r["shingle"])
        for r in DD.shingles(_docs(spark, ["a b c d", "x y"])).collect()
    )
    assert got == [("d0", "a b c"), ("d0", "b c d")]  # d1 too short -> dropped


def test_ngram_cap_excludes_hot_shingle_from_sizes(spark):
    """With the cap at 1, the shared shingle (df=2) is excluded from BOTH
    the intersection and the per-doc sizes -> no pair survives."""
    texts = ["p q r s", "p q r t"]  # share shingle 'p q r'
    uncapped = DD.ngram_jaccard_pairs(
        _docs(spark, texts), threshold=0.1, max_shingle_freq=None
    ).collect()
    assert len(uncapped) == 1
    capped = DD.ngram_jaccard_pairs(
        _docs(spark, texts), threshold=0.1, max_shingle_freq=1
    ).collect()
    assert capped == []


def _jaccard_reference(texts, cap, threshold):
    """Pure-Python n-gram Jaccard over capped 3-shingle sets: shingles in
    more than ``cap`` docs leave both the intersection and the sizes."""
    sets = {}
    for i, t in enumerate(texts):
        ws = t.split(" ")
        sets[f"d{i}"] = {" ".join(ws[j:j + 3]) for j in range(len(ws) - 2)}
    df = {}
    for s in sets.values():
        for sh in s:
            df[sh] = df.get(sh, 0) + 1
    if cap is not None:
        sets = {d: {sh for sh in s if df[sh] <= cap} for d, s in sets.items()}
    out = {}
    for a in sets:
        for b in sets:
            i = len(sets[a] & sets[b])
            if a < b and i and i / len(sets[a] | sets[b]) >= threshold:
                out[(a, b)] = i / len(sets[a] | sets[b])
    return out


def test_ngram_jaccard_matches_python_reference(spark):
    """The blocking-primitive plan equals a pure-Python Jaccard over the
    same capped shingle sets, capped and uncapped."""
    texts = [
        "a b c d e f", "a b c d x y", "a b c z w v",
        "q r s t u v", "q r s t u w",
    ]
    for cap in (None, 2):
        got = {
            (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
            for r in DD.ngram_jaccard_pairs(
                _docs(spark, texts), threshold=0.05, max_shingle_freq=cap
            ).collect()
        }
        want = _jaccard_reference(texts, cap, 0.05)
        assert got.keys() == want.keys() and len(got) > 0
        assert all(abs(got[k] - want[k]) < 1e-6 for k in want)


def test_minhash_band_edges_linear_in_cluster(spark, monkeypatch):
    """An exact-duplicate cluster of 400 docs plus one distinct doc: the
    bands emit 79,800 candidate pairs but 399 star edges, and every
    survivor selection (min id, best score, the curation v2 chain) gives
    the same rows from either."""
    from esa_pfa_spark.plans import curation as CU

    words = ("lorem ipsum dolor amet consectetur adipiscing elit sed eiusmod "
             "tempor incididunt labore dolore magna aliqua enim minim veniam "
             "quis nostrud exercitation ullamco laboris nisi aliquip").split()
    dup = " ".join(words)
    other = " ".join(reversed(words)) + " extra"
    rows = [(i, dup, "s0", i % 7) for i in range(400)] + [(400, other, "s1", 3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string, n_chars long")

    edges = DD.minhash_band_edges(docs)
    pairs = DD.minhash_band_candidates(docs)
    assert edges.count() == 399
    assert pairs.count() == 400 * 399 // 2
    assert sorted(map(tuple, DD.dedup_survivors(docs, edges).collect())) == sorted(
        map(tuple, DD.dedup_survivors(docs, pairs).collect())
    )
    best = DD.dedup_survivors_by_score
    by_edges = sorted(map(tuple, best(docs, edges, score="n_chars").collect()))
    assert by_edges == sorted(map(tuple, best(docs, pairs, score="n_chars").collect()))
    assert [r[0] for r in by_edges if r[3]] == [6, 400]  # max n_chars, min id

    seen = []
    components = DD.graph_components

    def spy(edge_list, *args, **kwargs):
        seen.append(edge_list.count())
        return components(edge_list, *args, **kwargs)

    monkeypatch.setattr(DD, "graph_components", spy)
    after = sorted(map(tuple, CU.curate_documents_v2(docs).collect()))
    monkeypatch.setattr(DD, "minhash_band_edges", DD.minhash_band_candidates)
    before = sorted(map(tuple, CU.curate_documents_v2(docs).collect()))
    assert seen == [399, 79_800]
    assert after == before


def _uf_components(edges):
    """Sequential union-find oracle: node -> min id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def test_graph_components_matches_union_find(spark):
    """Alternating-star CC equals a sequential union-find on adversarial
    topologies: a long chain (deep diameter — the case plain propagation
    is slow on), a star, disjoint cliques, and a random graph."""
    import random

    rng = random.Random(7)
    chain = [(i, i + 1) for i in range(40)]
    star = [(100, 100 + i) for i in range(1, 15)]
    cliques = [(200 + a, 200 + b) for a in range(5) for b in range(a + 1, 5)]
    cliques += [(300 + a, 300 + b) for a in range(4) for b in range(a + 1, 4)]
    rand = [(rng.randrange(400, 460), rng.randrange(400, 460)) for _ in range(80)]
    edges = chain + star + cliques + [(u, v) for u, v in rand if u != v]
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_id_a": [u for u, _ in edges], "doc_id_b": [v for _, v in edges]})
    )
    got = {
        r["id"]: r["component"]
        for r in DD.graph_components(pairs).collect()
    }
    assert got == _uf_components(edges)


def test_graph_components_local_finish_parity(spark):
    """The three execution regimes — pure distributed star rounds
    (local_finish_edges=0), immediate driver union-find (huge threshold),
    and the mixed path (a few star rounds, then the endgame once the
    list shrinks under a mid-sized threshold) — must produce identical
    labels on the same adversarial graph."""
    import random

    rng = random.Random(13)
    chain = [(i, i + 1) for i in range(60)]
    rand = [(rng.randrange(100, 180), rng.randrange(100, 180)) for _ in range(120)]
    edges = chain + [(u, v) for u, v in rand if u != v]
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_id_a": [u for u, _ in edges], "doc_id_b": [v for _, v in edges]})
    )
    want = _uf_components(edges)
    for thresh in (0, 60, 10**9):
        got = {
            r["id"]: r["component"]
            for r in DD.graph_components(pairs, local_finish_edges=thresh).collect()
        }
        assert got == want, f"local_finish_edges={thresh}"


def test_graph_components_local_finish_string_ids(spark):
    """The endgame path must round-trip non-numeric id types."""
    edges = [("a", "b"), ("b", "c"), ("x", "y")]
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_id_a": [u for u, _ in edges], "doc_id_b": [v for _, v in edges]})
    )
    got = {r["id"]: r["component"] for r in DD.graph_components(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_dedup_survivors_singletons_survive(spark):
    docs = _docs(spark, ["a b c d e f", "a b c d e f", "totally different text here x"])
    pairs = DD.minhash_band_candidates(docs)
    out = {r["doc_id"]: (r["canonical_doc_id"], r["survives"])
           for r in DD.dedup_survivors(docs, pairs).collect()}
    assert out["d0"] == ("d0", True)
    assert out["d1"] == ("d0", False)
    assert out["d2"] == ("d2", True)


def test_minhash_estimate_within_band_of_exact(spark):
    """Sketch-accuracy contract: on the sf0.01 candidates, the 6-hash
    MinHash estimate must sit within 0.45 of the exact (uncapped)
    shingle Jaccard for every pair, and the mean absolute error must be
    under 0.25 (6 hashes -> binomial σ = sqrt(J(1-J)/6) <= 0.21)."""
    sf = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    est = {
        (r.doc_id_a, r.doc_id_b): r.est_jaccard
        for r in DD.minhash_jaccard_estimates(docs).collect()
    }
    exact = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in DD.ngram_jaccard_pairs(
            docs, threshold=0.0, max_shingle_freq=None
        ).collect()
    }
    assert est, "no candidate pairs at sf0.01?"
    errs = [abs(v - exact.get(k, 0.0)) for k, v in est.items()]
    assert max(errs) <= 0.45, sorted(errs)[-3:]
    assert sum(errs) / len(errs) <= 0.25


def test_dedup_survivors_by_score(spark):
    """Two clusters + an isolated doc: the best-score member survives,
    ties break to min id, docs in no pair survive as themselves."""
    import pandas as pd

    from esa_pfa_spark.operators.dedup import dedup_survivors_by_score

    docs = spark.createDataFrame(pd.DataFrame(
        [(1, 5.0), (2, 9.0), (3, 9.0), (4, 1.0), (5, 3.0), (9, 0.0)],
        columns=["doc_id", "q"],
    ))
    pairs = spark.createDataFrame(pd.DataFrame(
        [(1, 2), (2, 3), (4, 5)], columns=["doc_id_a", "doc_id_b"],
    ))
    got = {r["doc_id"]: (r["canonical_doc_id"], r["survives"])
           for r in dedup_survivors_by_score(docs, pairs, score="q").collect()}
    # cluster {1,2,3}: 2 and 3 tie at q=9 -> min id 2 wins
    assert got[1] == (2, False) and got[2] == (2, True) and got[3] == (2, False)
    # cluster {4,5}: 5 has the higher score
    assert got[4] == (5, False) and got[5] == (5, True)
    # isolated doc survives as itself
    assert got[9] == (9, True)


def test_ngram_containment_directed(spark):
    """A short doc fully quoted inside a long one: containment ~ 1 while
    Jaccard is small — the asymmetric measure finds it, and the direction
    (small contained in big) is reported; unrelated docs emit nothing."""
    import pandas as pd

    from esa_pfa_spark.operators.dedup import ngram_containment_pairs

    quote = "the quick brown fox jumps over the lazy dog tonight"
    filler = " ".join(f"filler{i} word{i} pad{i}" for i in range(30))
    docs = spark.createDataFrame(pd.DataFrame(
        [
            (1, quote),
            (2, filler + " " + quote + " " + filler.replace("filler", "tail")),
            (3, "completely different content about spark plans and shuffles"),
        ],
        columns=["doc_id", "text"],
    ))
    rows = ngram_containment_pairs(docs, threshold=0.5).collect()
    got = {(r["doc_id_small"], r["doc_id_big"]): (r["containment"], r["jaccard"])
           for r in rows}
    assert (1, 2) in got
    c, j = got[(1, 2)]
    assert c >= 0.8          # nearly all of doc 1's shingles appear in doc 2
    assert j < 0.2           # symmetric Jaccard would have missed it
    assert all(3 not in k for k in got)


def test_block_dedup_keeps_one_copy_and_reassembles(spark):
    """Two docs share a 16-word boilerplate block; the keeper is the
    smallest (doc_id, idx) occurrence, unique blocks are untouched, and
    an all-repeat doc reassembles to NULL."""
    blob = " ".join(f"w{i}" for i in range(16))           # one exact block
    uniq = " ".join(f"u{i}" for i in range(16))
    got = {
        r["doc_id"]: r
        for r in DD.block_dedup(
            _docs(spark, [blob + " " + uniq, blob]), block_words=16
        ).collect()
    }
    assert got["d0"]["n_blocks"] == 2 and got["d0"]["n_kept"] == 2
    assert got["d0"]["clean_text"] == blob + " " + uniq
    assert got["d1"]["n_blocks"] == 1 and got["d1"]["n_kept"] == 0
    assert got["d1"]["clean_text"] is None


def test_block_dedup_within_doc_repeat_and_tail_block(spark):
    """A block repeated INSIDE one doc keeps only its first occurrence;
    a trailing short block (< block_words words) is a block of its own."""
    blk = " ".join(f"b{i}" for i in range(4))
    text = blk + " " + blk + " zz"                         # blocks: blk, blk, 'zz'
    row = DD.block_dedup(_docs(spark, [text]), block_words=4).collect()[0]
    assert row["n_blocks"] == 3 and row["n_kept"] == 2
    assert row["clean_text"] == blk + " zz"


def test_editdist_rerank_exact_values(spark):
    """Hand-checked Levenshtein on a fixture pair + the funnel contract:
    only the supplied candidate pairs are scored (never all pairs)."""
    from esa_pfa_spark.operators.dedup import editdist_rerank

    docs = spark.createDataFrame(
        [(1, "kitten sat here"), (2, "sitting sat here"), (3, "unrelated text")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "doc_id_a long, doc_id_b long")
    out = editdist_rerank(docs, pairs).collect()
    assert len(out) == 1  # doc 3 never scored
    r = out[0]
    # kitten->sitting is 3 edits; the rest of the strings are identical
    assert r["edit_dist"] == 3
    assert r["edit_sim"] == round(1.0 - 3 / 16, 6)
