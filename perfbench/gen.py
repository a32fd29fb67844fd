"""Seeded, vectorized input generators for the benchmark workloads.

Work per input is fixed by the size parameters alone: row counts, token
counts, the planted duplicate share and the cluster sizes are the same for
every seed.  The seed only permutes fixed multisets (lengths, counts) and
draws content (token ids, words, timestamps, which rows host the planted
duplicates).  Tables are built with numpy + pyarrow column math; Python
loops run only over the planted clusters and the gate-failing documents.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

VOCAB = 50257
SOURCES = np.array(["web", "book", "code", "news"])
SOURCE_CUM = np.array([0.55, 0.80, 0.95, 1.0])
BASE_TS_S = 1704067200  # 2024-01-01T00:00:00Z
DAY_S = 86400


def spread(n: int, lo: int, hi: int) -> np.ndarray:
    """``n`` integers spread evenly over ``[lo, hi]``: a seed-free multiset
    whose sum is fixed, so permuting it keeps totals identical."""
    return (lo + (np.arange(n, dtype=np.int64) * (hi - lo + 1)) // n).astype(np.int64)


def _list_array(flat: np.ndarray, lengths: np.ndarray) -> pa.ListArray:
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat))


def _labels(prefix: str, ids: np.ndarray, width: int) -> np.ndarray:
    return np.char.add(prefix, np.char.zfill(ids.astype(str), width))


def _ts(seconds: np.ndarray) -> pa.Array:
    # tz-aware so Spark reads TimestampType (a naive parquet timestamp
    # reads back as TIMESTAMP_NTZ)
    return pa.array(seconds * 1_000_000, type=pa.int64()).cast(pa.timestamp("us", tz="UTC"))


# ---------------------------------------------------------------------------
# flagship: observations (entity timelines with token arrays) + probes
# ---------------------------------------------------------------------------

def flagship_tables(seed: int, n_entities: int, mean_obs: int, mean_tok: int,
                    probes_per_entity: int = 8) -> tuple[pa.Table, pa.Table]:
    """Observations and probes in the shape of ``synth`` (FIXTURES F2/F3):
    per-entity gap-mixed timelines, uniform token ids, 8 random probes plus
    one exact-tie probe per entity, and 5% probe-only entities."""
    rng = np.random.default_rng([seed, 1])
    n_obs = rng.permutation(spread(n_entities, 4, 2 * mean_obs - 4))
    total = int(n_obs.sum())
    ent = np.repeat(np.arange(n_entities), n_obs)
    first = np.concatenate([[0], np.cumsum(n_obs)[:-1]])

    cat, u = rng.random(total), rng.random(total)
    gaps = np.where(
        cat < 0.6, 1800 + u * (21600 - 1800),
        np.where(cat < 0.85, DAY_S + u * 6 * DAY_S, 8 * DAY_S + u * 12 * DAY_S),
    ).astype(np.int64)
    cs = np.cumsum(gaps)
    base = cs[first] - gaps[first]  # cumulative gap before each entity
    start = rng.integers(0, 30 * DAY_S, n_entities)
    ts = BASE_TS_S + start[ent] + cs - base[ent]

    ln = rng.permutation(spread(total, 8, 2 * mean_tok - 8))
    flat = rng.integers(0, VOCAB, int(ln.sum()), dtype=np.int32)
    src = SOURCES[np.searchsorted(SOURCE_CUM, rng.random(total))]
    ent_ids = _labels("e", np.arange(n_entities + max(1, n_entities // 20)), 5)
    obs = pa.table({
        "entity_id": pa.array(ent_ids[ent]),
        "bucket_x": pa.array((ent % 360).astype(np.int32)),
        "bucket_y": pa.array(((ent // 360) % 180).astype(np.int32)),
        "ts": _ts(ts),
        "doc_id": pa.array(_labels("doc", np.arange(total), 12)),
        "tokens": _list_array(flat, ln),
        "n_tok": pa.array(ln.astype(np.int32)),
        "source": pa.array(src),
    })

    last = first + n_obs - 1
    lo = ts[first] - 3 * DAY_S
    span = ts[last] + 3 * DAY_S - lo
    q = lo[:, None] + (rng.random((n_entities, probes_per_entity)) * span[:, None]).astype(np.int64)
    tie = ts[first + (rng.random(n_entities) * n_obs).astype(np.int64)]
    q = np.concatenate([q, tie[:, None]], axis=1)
    extra = max(1, n_entities // 20)
    q_only = BASE_TS_S + np.tile(np.arange(probes_per_entity) * DAY_S, (extra, 1))
    probe_ent = np.concatenate([
        np.repeat(np.arange(n_entities), probes_per_entity + 1),
        np.repeat(np.arange(n_entities, n_entities + extra), probes_per_entity),
    ])
    probes = pa.table({
        "entity_id": pa.array(ent_ids[probe_ent]),
        "query_ts": _ts(np.concatenate([q.ravel(), q_only.ravel()])),
    })
    return obs, probes


# ---------------------------------------------------------------------------
# dedup_exact: a tokens corpus with planted duplicate spans
# ---------------------------------------------------------------------------

def dedup_corpus(seed: int, n_docs: int, mean_tok: int, n_clusters: int,
                 span_lo: int, span_hi: int, copies: int) -> tuple[pa.Table, dict]:
    """Documents of uniform random tokens, lengths over synth's
    ``8..2*mean_tok-8`` range (so no document is empty), plus
    ``n_clusters`` planted spans of fixed lengths ``spread(span_lo..span_hi)``,
    each copied verbatim into ``copies`` distinct documents."""
    rng = np.random.default_rng([seed, 2])
    ln = rng.permutation(spread(n_docs, 8, 2 * mean_tok - 8))
    offs = np.concatenate([[0], np.cumsum(ln)])
    flat = rng.integers(0, VOCAB, int(offs[-1]), dtype=np.int32)
    span_len = spread(n_clusters, span_lo, span_hi)
    hosts = rng.permutation(np.flatnonzero(ln >= span_hi))[: n_clusters * copies]
    if len(hosts) < n_clusters * copies:
        raise ValueError("not enough documents long enough to host the planted spans")
    hosts = hosts.reshape(n_clusters, copies)
    for c in range(n_clusters):
        L = int(span_len[c])
        at = offs[hosts[c]] + (rng.random(copies) * (ln[hosts[c]] - L + 1)).astype(np.int64)
        for a in at[1:]:
            flat[a:a + L] = flat[at[0]:at[0] + L]
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "tokens": _list_array(flat, ln),
        "n_tok": pa.array(ln.astype(np.int32)),
    })
    return table, {"planted_tokens": int(span_len.sum() * copies)}


# ---------------------------------------------------------------------------
# curate: a text corpus with gate failures and near-duplicate clusters
# ---------------------------------------------------------------------------

def _vocabulary(n_words: int = 400) -> np.ndarray:
    """A fixed (seed-independent) alphabetic vocabulary, lengths 3..8."""
    rng = np.random.default_rng(0)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = spread(n_words, 3, 8)
    chars = letters[rng.integers(0, 26, int(lens.sum()))]
    return np.array(["".join(w) for w in np.split(chars, np.cumsum(lens)[:-1])])


def curate_corpus(seed: int, n_single: int, mean_words: int, cluster_sizes: list[int],
                  cluster_words: tuple[int, int], edits: int, bad_share: float) -> pa.Table:
    """Documents ``(doc_id, text, lang, source, n_chars)`` in the shape of
    the ``documents`` test table: Zipf-weighted words, word counts over
    ``8..2*mean_words-8`` (the short ones fail the word-count gate), a
    ``bad_share`` of symbol-heavy and the same share of digit-heavy docs
    (failing the symbol and alphabetic gates), and near-duplicate clusters
    of the given sizes: every member copies its cluster's base text with
    ``edits`` substituted words (the first member is the base itself)."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocabulary()
    p = 1.0 / (np.arange(len(vocab)) + 5.0)
    p /= p.sum()

    single_len = rng.permutation(spread(n_single, 8, 2 * mean_words - 8))
    n_clusters = len(cluster_sizes)
    base_len = spread(n_clusters, *cluster_words)  # not permuted: sizes pair with lengths
    lens = np.concatenate([single_len, np.repeat(base_len, cluster_sizes)])
    offs = np.concatenate([[0], np.cumsum(lens)])
    words = rng.choice(len(vocab), int(offs[-1]), p=p)

    first = n_single
    for c, size in enumerate(cluster_sizes):
        L = int(base_len[c])
        b = offs[first]
        for m in range(1, size):
            at = offs[first + m]
            words[at:at + L] = words[b:b + L]
            pos = at + rng.choice(L, edits, replace=False)
            words[pos] = rng.choice(len(vocab), edits, p=p)
        first += size

    tok = vocab[words].astype(object)
    n_bad = int(round(bad_share * n_single))
    bad = rng.permutation(n_single)[: 2 * n_bad]
    for k, d in enumerate(bad):
        idx = np.arange(offs[d], offs[d + 1])
        if k < n_bad:
            tok[idx[::4]] = "#"  # symbol ratio 0.25 > 0.1
        else:
            tok[idx[::3]] = "1024"  # alphabetic fraction ~0.67 < 0.8
    text = pc.binary_join(_list_array(tok, lens), " ")

    n = len(lens)
    text = text.take(pa.array(rng.permutation(n)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": text,
        "lang": pa.array(np.where(rng.random(n) < 0.8, "en", "zh")),
        "source": pa.array(np.char.add("src", rng.permutation(np.arange(n) % 4).astype(str))),
        "n_chars": pc.utf8_length(text).cast(pa.int64()),
    })
