"""Token-sequence operators for LLM training-data pipelines: portable
tokenization, fixed-window chunking, context-window sequence packing (+
the per-window composition manifest), vocabulary / bigram / TF-IDF
statistics,
intra-document repetition/entropy signals, corpus-duplicated n-gram
span detection, and benchmark decontamination (n-gram overlap against a
broadcast eval set).

These operate on the engine's core payload — pre-tokenized sequences
(BASELINE input hint: ``tokens array<int32>``).  For oracle-checkable
queries the token column is DERIVED from ``documents.text`` with an
engine-portable tokenizer (md5-hash word ids, bit-identical between
Spark and DuckDB); production inputs arrive already tokenized and skip
``tokenize``.

Scale notes (100 TB):
 - ``tokenize``/``chunk_tokens`` are pure JVM column math (codegen) — a
   map-only stage, no shuffle.
 - ``pack_offsets`` needs a GLOBAL deterministic concatenation order.
   The naive form is a partition-less window cumsum (one task sees every
   row).  The scalable form here is ``dictionary.global_cumsum``: every
   task touches O(rows/n_partitions).
 - ``vocab_counts``/``bigram_counts`` are explode -> partial-agg (map-side
   combine) -> top-k via TakeOrderedAndProject; the shuffle carries one
   row per distinct (token) or (t1,t2), not per occurrence.
 - ``repetition_stats`` is a two-level aggregation (per (doc,token) then
   per doc) — one shuffle keyed by doc_id; no joins.
 - ``dup_ngram_summary`` never compares all pairs: fingerprint frequency
   filter (skew-safe by default; trade-off measured in
   BENCH/SKEW_TOKENS.md) then a per-doc gaps-and-islands span merge.

Reference analog: the reference has no token ops (imaging domain); these
are the training-data additions the brief requires, shaped like its
per-patch statistics (AbstractApplicationDescriptor feature vectors).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from esa_pfa_spark.operators.dictionary import global_cumsum

DEFAULT_VOCAB = 32768


def word_token(col, vocab: int = DEFAULT_VOCAB):
    """Portable word -> token id: ``conv(substr(md5(w),1,6),16,10) % vocab``.
    md5 is bit-identical across Spark / DuckDB / Python; 6 hex chars fit an
    int32.  DuckDB equivalent: ``CAST(('0x' || substr(md5(w),1,6)) AS
    INTEGER) % vocab``."""
    return (F.conv(F.substring(F.md5(col), 1, 6), 16, 10).cast("int") % vocab).cast("int")


def tokenize(
    df: DataFrame,
    text_col: str = "text",
    vocab: int = DEFAULT_VOCAB,
    out_col: str = "tokens",
) -> DataFrame:
    """Append ``tokens array<int>`` + ``n_tok int`` — the input-hint shape
    — derived from whitespace words via the portable hash tokenizer.
    ``n_tok`` is size(words), not size(tokens): same value, but consumers
    that only project the count (e.g. ``pack_offsets``) then skip the md5
    transform entirely after column pruning."""
    words = F.split(F.col(text_col), " ")
    toks = F.transform(words, lambda w: word_token(w, vocab))
    return df.withColumn(out_col, toks).withColumn("n_tok", F.size(words))


def chunk_tokens(
    df: DataFrame,
    max_len: int = 16,
    stride: int = 12,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document's token array into fixed-length windows of
    ``max_len`` starting every ``stride`` tokens (stride < max_len =>
    overlapping windows, the usual LM pretraining shape).  A window starts
    at every offset 0, stride, 2*stride, ... < n_tok.

    Output per (doc, window): ``chunk_idx`` (0-based), ``n_chunk`` (<=
    max_len; the final window may be short), ``first_tok``/``last_tok``,
    and ``chunk_fp`` = md5 of the comma-joined window — the token-array
    equality witness, portable to the SQL oracle.

    Pure column math + one explode: map-only, no shuffle; at 100 TB this
    is embarrassingly parallel over input splits."""
    toks = F.col(tokens_col)
    n = F.size(toks)
    starts = F.sequence(F.lit(0), n - 1, F.lit(stride))
    out = (
        df.filter(n > 0)
        .select(id_col, toks.alias("__t"), F.posexplode(starts).alias("chunk_idx", "__s"))
        .select(
            id_col,
            "chunk_idx",
            F.slice(F.col("__t"), F.col("__s") + 1, max_len).alias("__c"),
        )
    )
    chunk_str = F.array_join(F.transform(F.col("__c"), lambda x: x.cast("string")), ",")
    return out.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size("__c").cast("long").alias("n_chunk"),
        F.element_at("__c", 1).cast("long").alias("first_tok"),
        F.element_at("__c", -1).cast("long").alias("last_tok"),
        F.md5(chunk_str).alias("chunk_fp"),
    )


def pack_offsets(
    df: DataFrame,
    capacity: int = 128,
    order_cols: tuple[str, ...] = ("source", "doc_id"),
    ntok_col: str = "n_tok",
    n_partitions: int | None = None,
) -> DataFrame:
    """Context-window sequence packing: concatenate all documents in the
    deterministic global order ``order_cols``, then cut the stream into
    windows of ``capacity`` tokens.  A document spanning a boundary is
    split (standard LM packing with document concatenation); emit one row
    per (document x window) overlap with the in-document token span.

    Equivalent SQL: global-window cumsum of n_tok + generate_series over
    the spanned window ids — but ``sum() OVER (ORDER BY ...)`` funnels all
    rows through one task.  Scalable plan: each doc's global ``tok_start``
    is the exclusive running sum of n_tok in ``order_cols`` order
    (``dictionary.global_cumsum`` — range partition, per-partition sums,
    Arrow running sum); the window span + per-window token range is then
    pure column math + explode.

    Output: order_cols…, ``chunk_id`` (global window ordinal), ``tok_start
    _in_doc``/``n_in_chunk`` (0-based half-open span of this doc's tokens
    inside the window), ``n_tok``.  The result carries
    ``global_cumsum``'s partitioning pin (``dictionary.release_pin``);
    the pinned cache holds only the (order_cols, n_tok) projection."""
    base = df.filter(F.col(ntok_col) > 0).select(
        *order_cols, F.col(ntok_col).cast("long").alias("n_tok")
    )
    placed = global_cumsum(
        base, order_cols, "tok_start", weight="n_tok", n_partitions=n_partitions
    )

    start, ntok = F.col("tok_start"), F.col("n_tok")
    first_c = F.floor(start / capacity)
    last_c = F.floor((start + ntok - 1) / capacity)
    spans = placed.select(
        *order_cols,
        ntok.alias("n_tok"),
        start.alias("__gs"),
        F.explode(F.sequence(first_c, last_c)).alias("chunk_id"),
    )
    cstart = F.col("chunk_id") * capacity
    tok_start_in_doc = F.greatest(cstart - F.col("__gs"), F.lit(0)).cast("long")
    tok_end_in_doc = F.least(cstart + capacity - F.col("__gs"), F.col("n_tok").cast("long"))
    out = spans.select(
        *order_cols,
        F.col("n_tok").cast("long").alias("n_tok"),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        tok_start_in_doc.alias("tok_start_in_doc"),
        (tok_end_in_doc - tok_start_in_doc).cast("long").alias("n_in_chunk"),
    )
    out._pinned_cache = placed._pinned_cache  # dictionary.release_pin(out)
    return out


def pack_manifest(
    df: DataFrame,
    capacity: int = 128,
    order_cols: tuple[str, ...] = ("source", "doc_id"),
    ntok_col: str = "n_tok",
    n_partitions: int | None = None,
) -> DataFrame:
    """Loader-facing view of ``pack_offsets``: one row per training window
    with its document composition — ``n_docs``, ``n_tok`` (== capacity
    except the final window), and ``manifest``: the '|'-joined
    'order_cols…:n_in_chunk' pieces in concatenation order.  This is the
    artifact a data loader needs to materialize attention-mask document
    boundaries inside each packed window.

    One extra shuffle over pack_offsets (groupBy chunk_id); the in-chunk
    piece order comes from array_sort over the (order_cols) struct —
    deterministic, no window."""
    spans = pack_offsets(
        df, capacity=capacity, order_cols=order_cols,
        ntok_col=ntok_col, n_partitions=n_partitions,
    )
    s = F.struct(*[F.col(c) for c in order_cols], F.col("n_in_chunk"))

    def _piece(x):
        parts = []
        for c in order_cols:
            parts.append(x[c].cast("string"))
        parts.append(x["n_in_chunk"].cast("string"))
        return F.concat_ws(":", *parts)

    return spans.groupBy("chunk_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_in_chunk").cast("long").alias("n_tok"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(s)), _piece), "|"
        ).alias("manifest"),
    )


def vocab_counts(
    df: DataFrame, tokens_col: str = "tokens", k: int | None = 50
) -> DataFrame:
    """Token-frequency table (the vocabulary histogram a tokenizer audit
    needs).  explode -> groupBy(token).count: Spark's hash aggregate does
    the map-side partial combine, so the shuffle moves one row per
    distinct token per task, not per occurrence.  With ``k``, ordering is
    deterministic (count desc, token asc) via TakeOrderedAndProject."""
    counts = (
        df.select(F.explode(F.col(tokens_col)).alias("__tok"))
        .select(F.col("__tok").cast("long").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if k is None:
        return counts
    return counts.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(k)


def bigram_counts(
    df: DataFrame, tokens_col: str = "tokens", k: int | None = 40
) -> DataFrame:
    """Adjacent-pair (bigram) frequency over token arrays — the n-gram LM
    count table.  Pairs are built JVM-side (transform over an index
    sequence; Spark ``arr[i]`` is 0-based), then the same partial-agg
    top-k shape as ``vocab_counts``."""
    toks = F.col(tokens_col)
    pairs = F.expr(
        f"transform(sequence(0, size({tokens_col}) - 2), "
        f"i -> struct({tokens_col}[i] AS t1, {tokens_col}[i + 1] AS t2))"
    )
    counts = (
        df.filter(F.size(toks) >= 2)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.t1").cast("long").alias("t1"), F.col("p.t2").cast("long").alias("t2"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if k is None:
        return counts
    return counts.orderBy(F.col("cnt").desc(), F.col("t1").asc(), F.col("t2").asc()).limit(k)


def ngram_fps(
    df: DataFrame,
    n: int = 8,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Every length-``n`` token window of every document, fingerprinted:
    ``(id_col, __n_tok, s, fp)`` with ``fp`` = md5 of the comma-joined
    window (portable to the SQL oracle).  One explode — map-only, no
    shuffle; the shared front-end of ``dup_ngram_summary`` (corpus
    self-duplication) and ``decontaminate`` (overlap against an eval
    set)."""
    toks = F.col(tokens_col)
    starts = F.sequence(F.lit(0), F.size(toks) - n)
    gram = F.slice(F.col("__t"), F.col("s") + 1, n)
    return (
        df.filter(F.size(toks) >= n)
        .select(id_col, F.size(toks).alias("__n_tok"), toks.alias("__t"),
                F.explode(starts).alias("s"))
        .select(
            id_col,
            "__n_tok",
            "s",
            F.md5(
                F.array_join(F.transform(gram, lambda x: x.cast("string")), ",")
            ).alias("fp"),
        )
    )


def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: for each training document, count token
    ``n``-gram windows that also occur anywhere in ``eval_df`` (the held-out
    benchmark corpus), the standard pre-training hygiene pass that keeps
    eval answers out of the training set.

    Output per training doc with >= ``n`` tokens: ``doc_id, n_tok,
    n_windows, n_eval_hits, contamination_frac, contaminated`` (any-hit
    flag).  Zero-hit docs are reported too — the pass's point is the clean
    list, not just the offenders.

    Plan shape (100 TB): the eval set is small (benchmarks are thousands
    of docs, the corpus is billions), so its DISTINCT fingerprint set is
    built once and **broadcast**; training windows stream through a
    map-side broadcast-hash left join (no shuffle of the exploded window
    set), then one per-doc aggregation — the only Exchange.  Never joins
    training docs against each other."""
    wins = ngram_fps(df, n=n, tokens_col=tokens_col, id_col=id_col)
    eval_fps = (
        ngram_fps(eval_df, n=n, tokens_col=tokens_col, id_col=id_col)
        .select("fp")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    hits = wins.join(F.broadcast(eval_fps), "fp", "left")
    n_hits = F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
    n_win = F.count(F.lit(1))
    return hits.groupBy(id_col).agg(
        F.first("__n_tok").cast("long").alias("n_tok"),
        n_win.cast("long").alias("n_windows"),
        n_hits.cast("long").alias("n_eval_hits"),
        F.round(n_hits / n_win, 6).alias("contamination_frac"),
        (n_hits > 0).alias("contaminated"),
    )


def _bloom_positions(fp_col, m_bits: int, k: int):
    """``k`` Bloom bit positions from an md5-hex fingerprint column, via
    standard double hashing (Kirsch & Mitzenmacher, "Less Hashing, Same
    Performance"): p_i = (h1 + i*(2*h2+1)) mod m with h1/h2 the first/second
    15 hex chars as 60-bit ints.  Every step is portable int64 arithmetic
    (no unsigned wraparound anywhere: h1 < 2^60, the second term is reduced
    mod m first), so the DuckDB oracle reproduces the positions exactly."""
    h1 = F.conv(F.substring(fp_col, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(fp_col, 16, 15), 16, 10).cast("long")
    step = (h2 * 2 + 1) % m_bits
    return [((h1 % m_bits) + i * step) % m_bits for i in range(k)]


def eval_bloom_bitmap(
    eval_df: DataFrame,
    n: int = 8,
    m_bits: int = 1 << 20,
    k: int = 3,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
):
    """Build the eval-set Bloom bitmap as a packed numpy uint8 array.

    Distributed shape: positions -> byte-index groupBy with a JVM
    ``bit_or`` partial aggregation (map-side combine), so the driver
    receives at most ``m_bits/8`` (word, byte) rows no matter how large
    the eval corpus is — the collect is bounded by the FILTER size, never
    the data size."""
    wins = ngram_fps(eval_df, n=n, tokens_col=tokens_col, id_col=id_col)
    pos = wins.select(
        F.explode(F.array(*_bloom_positions(F.col("fp"), m_bits, k))).alias("p")
    )
    words = (
        pos.select(
            (F.col("p") / 8).cast("long").alias("w"),
            F.expr("shiftleft(1, cast(p % 8 as int))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("byte"))
        .collect()
    )
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    for r in words:
        bits[r["w"]] = np.uint8(r["byte"])
    return bits


def decontaminate_bloom(
    df: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    m_bits: int = 1 << 20,
    k: int = 3,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """``decontaminate`` with a FIXED-SIZE broadcast: instead of shipping
    every distinct eval fingerprint string (32+ bytes each — grows with the
    eval corpus), ship one ``m_bits/8``-byte Bloom bitmap and test each
    training window's ``k`` positions against it.  No false negatives —
    every truly contaminated window is flagged — and false positives only
    over-remove at rate ~(1-e^{-kn/m})^k, the safe direction for hygiene.

    At 100 TB the difference is material: a 10M-window eval suite is a
    ~400 MB exact-fp broadcast vs a fixed 16 MB bitmap at m=2^27, and the
    bitmap build itself is distributed (byte-indexed bit_or aggregation,
    driver receives <= m/8 rows).

    The per-window membership test is a vectorized Arrow-batched pandas
    UDF over the broadcast numpy bitmap (three aligned gather/shift ops
    per batch — no per-row Python); positions are computed JVM-side so the
    test is the only Python stage.  Output schema matches ``decontaminate``
    with ``n_eval_hits`` -> ``n_bloom_hits``.

    Exactly oracle-able: the DuckDB oracle reproduces the SAME Bloom
    semantics (k portable double-hash positions, hit iff all k in the
    eval position set), so even the false positives match bit-for-bit.
    Reference analog: the query-index membership gates of
    pfa-database/.../db/LucenePatchQuery.java:64-93."""
    spark = df.sparkSession
    bits = eval_bloom_bitmap(
        eval_df, n=n, m_bits=m_bits, k=k, tokens_col=tokens_col, id_col=id_col
    )
    bc = spark.sparkContext.broadcast(bits)

    @F.pandas_udf("boolean")
    def bloom_all(ps: pd.DataFrame) -> pd.Series:
        b = bc.value
        acc = np.ones(len(ps), dtype=bool)
        for c in ps.columns:
            p = ps[c].to_numpy()
            acc &= ((b[p >> 3] >> (p & 7)) & 1).astype(bool)
        return pd.Series(acc)

    wins = ngram_fps(df, n=n, tokens_col=tokens_col, id_col=id_col)
    pos_cols = _bloom_positions(F.col("fp"), m_bits, k)
    hit = bloom_all(F.struct(*[p.alias(f"p{i}") for i, p in enumerate(pos_cols)]))
    scored = wins.withColumn("__hit", hit.cast("int"))
    n_hits = F.sum("__hit")
    n_win = F.count(F.lit(1))
    return scored.groupBy(id_col).agg(
        F.first("__n_tok").cast("long").alias("n_tok"),
        n_win.cast("long").alias("n_windows"),
        n_hits.cast("long").alias("n_bloom_hits"),
        F.round(n_hits / n_win, 6).alias("contamination_frac"),
        (n_hits > 0).alias("contaminated"),
    )


def dup_ngram_summary(
    df: DataFrame,
    n: int = 8,
    min_count: int = 2,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    skew_safe: bool = True,
) -> DataFrame:
    """Cross-document duplicated-substring detection at token n-gram
    granularity (the exact-substring training-data dedup pass, approximated
    with fixed n): find every length-``n`` token window whose fingerprint
    occurs >= ``min_count`` times in the corpus, merge overlapping /
    adjacent duplicated windows into maximal spans per document, and report
    per-doc totals.

    Output: ``doc_id, n_tok, n_dup_windows, n_spans, dup_tokens,
    dup_frac`` (dup_tokens = tokens covered by the union of spans).

    Plan shape (100 TB): window fingerprints are one explode (xn_tok rows)
    -> corpus-frequency filter -> per-doc span merge via a doc_id-
    partitioned window (gaps-and-islands).  No all-pairs comparison
    anywhere.  ``skew_safe`` (default True) computes the frequency filter
    as groupBy(fp) partial-agg + equi-join back: a boilerplate fingerprint
    duplicated 10^7x (license headers are exactly this) is counted
    map-side and streams through the AQE-skew-splittable join probe.
    ``skew_safe=False`` uses a partition-by-fp window count instead —
    halves scans/shuffles (3 Exchanges/2 scans -> 2/1, 7.2s -> 4.2s cold
    at sf0.1) but sorts each fingerprint's rows in ONE window task; only
    for corpora with known-bounded duplication.  Measured trade-off on a
    hot-fingerprint spam corpus: BENCH/SKEW_TOKENS.md (the skew-safe form
    is worst-case insurance — AQE-splittable straggler — not a local
    speedup)."""
    wins = ngram_fps(df, n=n, tokens_col=tokens_col, id_col=id_col)
    from pyspark.sql import Window as W

    if skew_safe:
        # groupBy(fp) + equi-join back: two shuffles / two source scans, but
        # the join is AQE-skew-split — use when one fingerprint can dominate
        # (boilerplate / license-header 8-grams duplicated millions of times,
        # which would pile into a single window task below).
        dup_fp = (
            wins.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("occ"))
            .filter(F.col("occ") >= min_count)
            .select("fp")
        )
        dw = wins.join(dup_fp, "fp").select(id_col, "__n_tok", "s")
    else:
        # Corpus-frequency filter as a partition-by-fp window count: ONE
        # shuffle of the window set and ONE source scan, vs the skew_safe
        # form's two of each (measured 3 Exchanges / 2 scans -> 2 / 1 and
        # 7.2s -> 4.2s at sf0.1).  Hot-fp caveat documented above.
        occ = F.count(F.lit(1)).over(W.partitionBy("fp"))
        dw = (
            wins.withColumn("__occ", occ)
            .filter(F.col("__occ") >= min_count)
            .select(id_col, "__n_tok", "s")
        )

    byd = W.partitionBy(id_col).orderBy("s")
    spans = (
        dw.withColumn("__prev", F.lag("s").over(byd))
        .withColumn(
            "__brk",
            F.when(F.col("__prev").isNull() | (F.col("s") - F.col("__prev") > n), 1).otherwise(0),
        )
        .withColumn("__grp", F.sum("__brk").over(byd))
        .groupBy(id_col, "__n_tok", "__grp")
        .agg(
            F.count(F.lit(1)).alias("__w"),
            (F.max("s") + n - F.min("s")).alias("__len"),
        )
    )
    return spans.groupBy(id_col).agg(
        F.first("__n_tok").cast("long").alias("n_tok"),
        F.sum("__w").cast("long").alias("n_dup_windows"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum("__len").cast("long").alias("dup_tokens"),
        F.round(F.sum("__len") / F.first("__n_tok"), 6).alias("dup_frac"),
    )


def tfidf_topk(
    df: DataFrame,
    k: int = 3,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document: ``tf = c/n_tok``, ``idf =
    ln(N/df_t)`` (N = docs with tokens, df_t = docs containing t), ties
    broken by token asc.  The keyword-extraction / relevance primitive a
    corpus audit runs after tokenization.

    Plan shape (100 TB): per-(doc,token) counts are one hash aggregation;
    document frequency aggregates THAT (one row per distinct (doc,token),
    not per occurrence); the df table is vocab-bounded (<= 32k rows here)
    so it joins back as a **broadcast** — the scored rows never shuffle;
    the corpus size N rides a broadcast scalar.  Top-k runs in a window
    partitioned BY DOC (thousands of tiny partitions — nothing global)."""
    per_tok = (
        df.filter(F.size(F.col(tokens_col)) > 0)
        .select(id_col, F.size(F.col(tokens_col)).alias("__n_tok"),
                F.explode(F.col(tokens_col)).alias("token"))
        .groupBy(id_col, "__n_tok", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    docfreq = per_tok.groupBy("token").agg(F.count(F.lit(1)).alias("df_t"))
    n_docs = (
        df.filter(F.size(F.col(tokens_col)) > 0)
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    scored = (
        per_tok.join(F.broadcast(docfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                (F.col("c") / F.col("__n_tok"))
                * F.log(F.col("n_docs") / F.col("df_t")),
                6,
            ),
        )
    )
    from pyspark.sql import Window as W

    byd = W.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(byd))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            F.col("rank").cast("long").alias("rank"),
            F.col("token").cast("long").alias("token"),
            F.col("c").cast("long").alias("tf_count"),
            F.col("df_t").cast("long").alias("doc_freq"),
            "score",
        )
    )


def repetition_stats(
    df: DataFrame, tokens_col: str = "tokens", id_col: str = "doc_id"
) -> DataFrame:
    """Intra-document repetition signals (Gopher-style quality gates):
    distinct-token ratio, most-frequent-token share, and unigram entropy
    (nats; ln(n) - sum(c*ln c)/n).  Two-level aggregation — per (doc,
    token) counts, then per doc — one shuffle keyed by doc_id, no
    self-join, no per-row Python.  The entropy inner sum goes through a
    per-row decimal(18,6) cast so addition is order-independent and
    bit-stable against the SQL oracle."""
    per_tok = (
        df.select(id_col, F.explode(F.col(tokens_col)).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c")
    clogc = F.sum((F.col("c") * F.log("c")).cast("decimal(18,6)")).cast("double")
    return per_tok.groupBy(id_col).agg(
        n.cast("long").alias("n_tok"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.round(F.lit(1.0) - F.count(F.lit(1)) / n, 6).alias("dup_ratio"),
        F.round(F.max("c") / n, 6).alias("top_token_share"),
        F.round(F.log(n) - clogc / n, 6).alias("entropy"),
    )


def length_bucket_stats(df: DataFrame, width: int = 64) -> DataFrame:
    """Length-bucketed batching analysis: how efficiently would fixed-size
    batches pack if sequences were bucketed by token length — the metric
    behind bucketed batching in every LM data loader (pad-to-bucket-cap
    instead of pad-to-global-max).  Each sequence lands in the smallest
    ``width``-multiple cap >= n_tok; per bucket: sequence count, total
    real tokens, and padding efficiency = real / (count * cap).

    Buckets are fixed-width (not power-of-two) deliberately: the cap is
    pure int arithmetic ``((n-1) div w + 1) * w`` — exactly portable to
    the SQL oracle, where a float ``ceil(log2(n))`` could disagree at
    exact powers of two.  Plan: map-side bucket id -> one hash agg; no
    joins, no windows, no skew (bucket count is tiny and bounded)."""
    n = F.col("n_tok").cast("bigint")
    cap = ((n - 1) / width).cast("bigint") * width + width
    return (
        df.filter(n > 0)
        .select(cap.alias("bucket_cap"), n.alias("__n"))
        .groupBy("bucket_cap")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.sum("__n").alias("total_tokens"),
            F.round(
                F.sum("__n") * F.lit(1.0)
                / (F.count(F.lit(1)) * F.col("bucket_cap")),
                6,
            ).alias("padding_efficiency"),
        )
    )


def _merge_pair_batch(arrs, a: int, b: int, new_id: int):
    """Greedy left-to-right merge of adjacent (a, b) -> new_id over a list
    of int arrays.  Vectorized match-finding on the flattened corpus
    (candidate positions via one boolean AND over shifted views, row
    boundaries masked); only the (rare) overlap resolution iterates, and
    only over match positions."""
    lens = np.fromiter((len(x) for x in arrs), dtype=np.int64, count=len(arrs))
    if lens.sum() == 0:
        return arrs
    flat = np.concatenate([np.asarray(x, dtype=np.int64) for x in arrs])
    ends = np.cumsum(lens)
    starts = ends - lens
    cand = np.flatnonzero((flat[:-1] == a) & (flat[1:] == b))
    if cand.size:
        # drop matches straddling a row boundary: position p matches row r
        # only if p+1 is still inside r
        row = np.searchsorted(ends, cand, side="right")
        cand = cand[cand + 1 < ends[row]]
    if cand.size == 0:
        return arrs
    keep = []
    last = -2
    for p in cand:                       # overlap resolution ([a,a,a] with
        if p > last + 1:                 # (a,a): greedy keeps 0, skips 1)
            keep.append(p)
            last = p
    keep = np.asarray(keep, dtype=np.int64)
    flat[keep] = new_id
    dead = np.zeros(len(flat), dtype=bool)
    dead[keep + 1] = True
    kept_mask = ~dead
    new_flat = flat[kept_mask]
    # new per-row lengths: subtract merges that happened in each row
    row_of_keep = np.searchsorted(ends, keep, side="right")
    merges_per_row = np.bincount(row_of_keep, minlength=len(arrs))
    new_lens = lens - merges_per_row
    new_ends = np.cumsum(new_lens)
    return [
        new_flat[e - l : e].astype(np.int32)
        for e, l in zip(new_ends, new_lens)
    ]


def bpe_train(
    df: DataFrame,
    tokens_col: str = "tokens",
    n_merges: int = 8,
    new_id_start: int = 1_000_000,
) -> tuple[list[dict], DataFrame]:
    """Distributed BPE merge training over pre-tokenized sequences (the
    vocabulary-induction step of an LLM data pipeline, Sennrich et al.
    2016 run corpus-parallel): ``n_merges`` rounds of

      1. corpus-wide adjacent-pair counts (``bigram_counts`` shape:
         explode -> map-side partial agg; shuffle is one row per DISTINCT
         pair),
      2. deterministic argmax (count desc, pair asc) via
         TakeOrderedAndProject — k=1 to the driver,
      3. a map-only vectorized merge pass rewriting every sequence
         (``mapInPandas``; flat-corpus match finding, loop only over
         match positions).

    Each round materializes via ``localCheckpoint`` so round r's counts
    scan r merge passes, not a 2^r lineage.  Returns (merge list, merged
    corpus DataFrame, merge-table DataFrame); merge rows are
    ``{rank, t1, t2, new_id, pair_count}``; ties and therefore the whole
    table are deterministic (stops early when the best pair count < 2).
    One merge rule applies once per round, greedily left-to-right on the
    round's input (standard BPE — a freshly-merged id does not re-match
    within the same round).  Null token arrays are not supported; filter
    upstream.  Driver state is O(n_merges) — everything row-scaled stays
    distributed."""
    out_schema = df.schema
    merges: list[dict] = []
    cur = df
    for r in range(n_merges):
        top = (
            bigram_counts(cur, tokens_col, k=None)
            .orderBy(F.col("cnt").desc(), F.col("t1").asc(), F.col("t2").asc())
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < 2:
            break
        a, b, cnt = int(top[0]["t1"]), int(top[0]["t2"]), int(top[0]["cnt"])
        nid = new_id_start + r
        merges.append(
            {"rank": r + 1, "t1": a, "t2": b, "new_id": nid, "pair_count": cnt}
        )

        def apply_merge(batches, a=a, b=b, nid=nid):
            for pdf in batches:
                pdf = pdf.copy()
                pdf[tokens_col] = _merge_pair_batch(
                    list(pdf[tokens_col]), a, b, nid
                )
                yield pdf

        cur = cur.mapInPandas(apply_merge, schema=out_schema).localCheckpoint()
    spark = df.sparkSession
    table = spark.createDataFrame(
        [(m["rank"], m["t1"], m["t2"], m["new_id"], m["pair_count"]) for m in merges]
        or [],
        "rank int, t1 long, t2 long, new_id long, pair_count long",
    )
    return merges, cur, table


def bpe_apply(
    df: DataFrame,
    merges,
    tokens_col: str = "tokens",
) -> DataFrame:
    """Apply a LEARNED BPE merge table corpus-wide in ONE pass — the scale
    path.  ``bpe_train`` rewrites the whole corpus once per merge round
    (n_merges scans + localCheckpoint materializations: exact, and the
    right oracle, but unusable at a real vocab size).  Encoding with a
    FIXED rule table needs no global counts, so all rules apply in a
    single ``mapInPandas`` scan: per Arrow batch, the rules run in rank
    order over the flattened batch corpus via the same vectorized merge
    kernel the trainer uses (``_merge_pair_batch``) — numpy throughout,
    zero shuffles, map-only.

    Rank-order per-batch application is EXACTLY equivalent to the
    trainer's corpus-wide rounds: a merge rule only reads local adjacency
    within a row, so "round r over every row" == "rows in any grouping,
    rules in rank order" (parity-tested against ``bpe_train``'s merged
    corpus in tests/test_bpe.py).

    ``merges``: the merge-table DataFrame from ``bpe_train``/
    ``bpe_train_sampled`` or the equivalent list of dicts; collected to
    the driver (O(n_merges) rows) and shipped as task state.

    Reference analog: the fixed up-front vocab regime of the reference's
    DatasetDescriptor (pfa-core/.../op/DatasetDescriptor.java:10-77) —
    train once, apply everywhere."""
    if isinstance(merges, DataFrame):
        merges = [r.asDict() for r in merges.collect()]
    rules = sorted(
        ((int(m["rank"]), int(m["t1"]), int(m["t2"]), int(m["new_id"])) for m in merges)
    )
    out_schema = df.schema

    def apply_all(batches):
        for pdf in batches:
            pdf = pdf.copy()
            arrs = list(pdf[tokens_col])
            for _rank, a, b, nid in rules:
                arrs = _merge_pair_batch(arrs, a, b, nid)
            pdf[tokens_col] = arrs
            yield pdf

    return df.mapInPandas(apply_all, schema=out_schema)


def _bpe_encode_batch(arrs, rank_of, by_rank):
    """Greedy best-rank BPE encode of a batch of int sequences — the
    standard tokenizer encode shape: repeatedly merge the lowest-rank
    rule pair present, positions resolved left-to-right within a rank.

    Cost is O(n log n) in BATCH TOKENS and independent of the merge-table
    size: a lazy min-heap of (rank, position) candidates over a
    doubly-linked list of live slots.  Each merge touches O(1) slots and
    pushes at most two new candidates (its new left/right-neighbor
    pairs); rules absent from the batch cost nothing.  Contrast
    ``bpe_apply``'s rank-order rule loop: one vectorized corpus sweep PER
    RULE — exact, but O(n * n_merges), unusable at a 32k-merge
    production vocab.

    Equivalent to the rank-order loop (parity-tested in
    tests/test_bpe.py): merges never create an adjacency of two
    pre-existing token ids (the replacement id is fresh), and a rule's
    pair can only involve new_ids of LOWER rank, so processing
    candidates in global (rank, position) order reaches the same
    fixpoint as full corpus sweeps in rank order.

    ``rank_of``: dict (t1, t2) -> (rank, new_id); ``by_rank``: dict
    rank -> (t1, t2, new_id)."""
    import heapq

    lens = np.fromiter((len(x) for x in arrs), dtype=np.int64, count=len(arrs))
    n = int(lens.sum())
    if n == 0 or not rank_of:
        return [np.asarray(x, dtype=np.int32) for x in arrs]
    flat = np.concatenate([np.asarray(x, dtype=np.int64) for x in arrs])
    row = np.repeat(np.arange(len(arrs), dtype=np.int64), lens)
    nxt = np.arange(1, n + 1, dtype=np.int64)
    prv = np.arange(-1, n - 1, dtype=np.int64)
    alive = np.ones(n, dtype=bool)

    # Initial candidates: positions p where (flat[p], flat[p+1]) is a rule
    # and p+1 is in the same row.  Vectorized for the common non-negative
    # id range via one int64 key per pair + searchsorted against the
    # sorted rule keys; plain dict-lookup loop otherwise.
    heap: list[tuple[int, int]] = []
    if n > 1:
        same = np.flatnonzero(row[:-1] == row[1:])
        rmax = max(max(a, b) for a, b in rank_of)
        if same.size and int(flat.min()) >= 0 and min(min(a, b) for a, b in rank_of) >= 0:
            kmax = max(int(flat.max()), rmax) + 1
            rk = np.sort(
                np.fromiter(
                    (a * kmax + b for a, b in rank_of), dtype=np.int64, count=len(rank_of)
                )
            )
            keys = flat[same] * kmax + flat[same + 1]
            idx = np.searchsorted(rk, keys)
            hit = idx < rk.size
            hit[hit] = rk[idx[hit]] == keys[hit]
            heap = [
                (rank_of[(int(flat[p]), int(flat[p + 1]))][0], int(p))
                for p in same[hit]
            ]
        else:
            heap = [
                (rank_of[pr][0], int(p))
                for p in same
                if (pr := (int(flat[p]), int(flat[p + 1]))) in rank_of
            ]
    heapq.heapify(heap)

    while heap:
        r, p = heapq.heappop(heap)
        a, b, nid = by_rank[r]
        if not alive[p] or flat[p] != a:
            continue
        j = nxt[p]
        if j >= n or row[j] != row[p] or flat[j] != b:
            continue
        # merge: p takes the new id, j dies, neighbors re-link
        flat[p] = nid
        alive[j] = False
        k = nxt[j]
        nxt[p] = k
        if k < n:
            prv[k] = p
        i = prv[p]
        if i >= 0 and row[i] == row[p]:
            hit = rank_of.get((int(flat[i]), nid))
            if hit is not None:
                heapq.heappush(heap, (hit[0], int(i)))
        if k < n and row[k] == row[p]:
            hit = rank_of.get((nid, int(flat[k])))
            if hit is not None:
                heapq.heappush(heap, (hit[0], int(p)))

    out_flat = flat[alive].astype(np.int32)
    out_lens = np.bincount(row[alive], minlength=len(arrs))
    out_ends = np.cumsum(out_lens)
    return [out_flat[e - l : e] for e, l in zip(out_ends, out_lens)]


def bpe_encode(
    df: DataFrame,
    merges,
    tokens_col: str = "tokens",
) -> DataFrame:
    """Production-vocab BPE encode: apply a learned merge table in one
    map-only corpus pass with per-batch cost INDEPENDENT of the table
    size (``_bpe_encode_batch``: pair->rank dict + lazy min-rank heap
    over a linked list — the standard tokenizer encode shape).

    ``bpe_apply`` (kept as the parity oracle) makes one vectorized sweep
    per rule: exact, and fine at a few hundred merges, but O(n_merges)
    kernel sweeps per batch — at a 32k-merge production vocabulary that
    is thousands of full-batch scans.  Here every rule costs one dict
    lookup at most, and only merges that actually FIRE do work, so the
    encode cost tracks batch token count, not vocabulary size
    (measured in BENCH/BPE_ENCODE.md: 256 -> 4096 merges near-flat).

    Same contract as ``bpe_apply``: ``merges`` is the merge-table
    DataFrame or list of dicts (collected driver-side, O(n_merges),
    shipped as task state); null token arrays unsupported — filter
    upstream.  Reference analog: the fixed up-front vocab regime of
    DatasetDescriptor (pfa-core/.../op/DatasetDescriptor.java:10-77)."""
    if isinstance(merges, DataFrame):
        merges = [r.asDict() for r in merges.collect()]
    rank_of = {
        (int(m["t1"]), int(m["t2"])): (int(m["rank"]), int(m["new_id"]))
        for m in merges
    }
    by_rank = {
        int(m["rank"]): (int(m["t1"]), int(m["t2"]), int(m["new_id"]))
        for m in merges
    }
    out_schema = df.schema

    def encode_all(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf[tokens_col] = _bpe_encode_batch(list(pdf[tokens_col]), rank_of, by_rank)
            yield pdf

    return df.mapInPandas(encode_all, schema=out_schema)


def bpe_train_local(arrs, n_merges: int, new_id_start: int = 1_000_000) -> list[dict]:
    """Driver-side vectorized BPE trainer over an in-memory (sampled)
    corpus: each round counts adjacent pairs on the flattened corpus
    (np.unique), picks the deterministic argmax (count desc, pair asc),
    and merges via ``_merge_pair_batch``.  Same semantics and stop rule
    (best count < 2) as ``bpe_train`` — this is the trainer for
    ``bpe_train_sampled``, where the sample fits one process and 256
    numpy rounds beat 256 Spark jobs by orders of magnitude."""
    arrs = [np.asarray(a, dtype=np.int64) for a in arrs]
    merges: list[dict] = []
    for r in range(n_merges):
        lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=len(arrs))
        if lens.sum() == 0:
            break
        # int64 REGARDLESS of element dtype: _merge_pair_batch returns
        # int32 rows, and int32 keys silently overflow at p1*kmax once
        # merged ids (~1e6) enter kmax — which corrupted the argmax decode
        # for any round whose best pair had a new-id left element
        flat = (np.concatenate(arrs) if len(arrs) > 1 else arrs[0]).astype(
            np.int64, copy=False
        )
        if len(flat) < 2:
            break
        ends = np.cumsum(lens)
        pos = np.arange(len(flat) - 1)
        row = np.searchsorted(ends, pos, side="right")
        inside = pos + 1 < ends[row]          # pair must not straddle rows
        p1, p2 = flat[:-1][inside], flat[1:][inside]
        if p1.size == 0:
            break
        # count pairs as ONE int64 key (t1*K + t2): scalar np.unique is
        # ~10x the structured axis=0 sort, and the key is monotone in
        # (t1, t2) lexicographic order so argmax ties resolve by min key.
        # Falls back to the structured path for negative token ids.
        kmax = int(flat.max()) + 1
        if int(flat.min()) >= 0 and kmax < (1 << 31):
            keys = p1 * kmax + p2
            uniq, counts = np.unique(keys, return_counts=True)
            best_cnt = int(counts.max())
            if best_cnt < 2:
                break
            best_key = int(uniq[counts == best_cnt].min())
            a, b = best_key // kmax, best_key % kmax
        else:
            pairs = np.stack([p1, p2], axis=1)
            uniq, counts = np.unique(pairs, axis=0, return_counts=True)
            best_cnt = int(counts.max())
            if best_cnt < 2:
                break
            cand = uniq[counts == best_cnt]
            i = np.lexsort((cand[:, 1], cand[:, 0]))[0]   # smallest (t1, t2)
            a, b = int(cand[i, 0]), int(cand[i, 1])
        nid = new_id_start + r
        merges.append(
            {"rank": r + 1, "t1": a, "t2": b, "new_id": nid, "pair_count": best_cnt}
        )
        arrs = _merge_pair_batch(arrs, a, b, nid)
    return merges


def bpe_train_local_fast(
    arrs, n_merges: int, new_id_start: int = 1_000_000
) -> list[dict]:
    """Incremental driver-side BPE trainer — exact same merge table as
    ``bpe_train_local`` (parity-tested), but each round costs O(occurrences
    of the chosen pair), not O(corpus): pair counts live in a dict updated
    by DELTAS as merges rewrite the corpus in place (linked list over the
    flattened sample), the argmax comes from a lazy max-heap keyed
    (-count, t1, t2) — exactly the trainer's deterministic tie-break —
    and per-pair occurrence lists are validated lazily at merge time.
    Total cost is O(N log N) setup + O(total merge events * log), so a
    production 32k-rank table trains in seconds on the same sample where
    the per-round rescan trainer needs O(N * n_merges)
    (BENCH/BPE_ENCODE.md has measured numbers)."""
    import heapq

    lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=len(arrs))
    n = int(lens.sum())
    if n < 2 or n_merges <= 0:
        return []
    flat = np.concatenate([np.asarray(a, dtype=np.int64) for a in arrs])
    row = np.repeat(np.arange(len(arrs), dtype=np.int64), lens)
    nxt = np.arange(1, n + 1, dtype=np.int64)
    prv = np.arange(-1, n - 1, dtype=np.int64)
    alive = np.ones(n, dtype=bool)

    # initial pair counts + per-pair occurrence positions (vectorized:
    # stable argsort groups equal pairs; group boundaries by flag diff)
    same = np.flatnonzero(row[:-1] == row[1:])
    counts: dict[tuple[int, int], int] = {}
    occ: dict[tuple[int, int], list[int]] = {}
    if same.size:
        p1, p2 = flat[same], flat[same + 1]
        order = np.lexsort((p2, p1))
        sp1, sp2, spos = p1[order], p2[order], same[order]
        boundary = np.flatnonzero(
            np.concatenate(([True], (sp1[1:] != sp1[:-1]) | (sp2[1:] != sp2[:-1])))
        )
        grp_ends = np.concatenate((boundary[1:], [sp1.size]))
        for s, e in zip(boundary.tolist(), grp_ends.tolist()):
            pair = (int(sp1[s]), int(sp2[s]))
            counts[pair] = e - s
            occ[pair] = spos[s:e].tolist()
    heap = [(-c, a, b) for (a, b), c in counts.items()]
    heapq.heapify(heap)

    merges: list[dict] = []
    for r in range(n_merges):
        # pop until the top entry matches the CURRENT count (lazy deletion)
        while heap:
            negc, a, b = heap[0]
            if counts.get((a, b), 0) == -negc and -negc >= 2:
                break
            heapq.heappop(heap)
            cur = counts.get((a, b), 0)
            if cur >= 2 and cur < -negc:
                heapq.heappush(heap, (-cur, a, b))
        else:
            break
        if not heap:
            break
        negc, a, b = heap[0]
        best_cnt = -negc
        if best_cnt < 2:
            break
        nid = new_id_start + r
        merges.append(
            {"rank": r + 1, "t1": a, "t2": b, "new_id": nid, "pair_count": best_cnt}
        )
        changed: set[tuple[int, int]] = set()
        positions = sorted(occ.pop((a, b), ()))
        for p in positions:  # left-to-right, overlaps die via validation
            if not alive[p] or flat[p] != a:
                continue
            j = nxt[p]
            if j >= n or row[j] != row[p] or flat[j] != b:
                continue
            counts[(a, b)] -= 1
            flat[p] = nid
            alive[j] = False
            k = nxt[j]
            nxt[p] = k
            if k < n:
                prv[k] = p
            i = prv[p]
            if i >= 0 and row[i] == row[p]:
                x = int(flat[i])
                old = (x, a)
                counts[old] = counts.get(old, 0) - 1
                changed.add(old)
                new = (x, nid)
                counts[new] = counts.get(new, 0) + 1
                occ.setdefault(new, []).append(int(i))
                changed.add(new)
            if k < n and row[k] == row[p]:
                y = int(flat[k])
                old = (b, y)
                counts[old] = counts.get(old, 0) - 1
                changed.add(old)
                new = (nid, y)
                counts[new] = counts.get(new, 0) + 1
                occ.setdefault(new, []).append(int(p))
                changed.add(new)
        if counts.get((a, b), 0) <= 0:
            counts.pop((a, b), None)
        for pair in changed:
            c = counts.get(pair, 0)
            if c <= 0:
                counts.pop(pair, None)
                occ.pop(pair, None)
            elif c >= 2:
                heapq.heappush(heap, (-c, pair[0], pair[1]))
    return merges


def bpe_train_sampled(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n_merges: int = 256,
    sample_docs: int = 10_000,
    seed: int = 0,
    new_id_start: int = 1_000_000,
    encoder: str = "apply",
) -> tuple[list[dict], DataFrame, DataFrame]:
    """BPE at corpus scale: train the merge table on a DETERMINISTIC
    sample, then apply it corpus-wide in ONE map-only pass (``bpe_apply``)
    — n_merges + 1 corpus scans collapse to one scan plus a sample-sized
    training job.  This is the standard production shape (tokenizers are
    trained on samples); ``bpe_train`` remains the exact full-corpus
    oracle.

    The sample (``deterministic_sample``: ORDER BY xxhash64(seed, id)
    LIMIT n — a pure function of the data, reproducible across cluster
    sizes) is collected to the driver: sample_docs * mean_tokens int64s
    (10k docs x 1k tokens = 80 MB) — size ``sample_docs`` to the driver
    heap; the FULL corpus never leaves the executors.  Training uses the
    incremental trainer (``bpe_train_local_fast``: pair-count deltas +
    lazy max-heap, cost independent of n_merges — 32k ranks in ~1s on a
    100k-token sample; exact parity with the per-round rescan trainer).

    ``encoder``: "apply" (rank-order rule loop — fine to a few hundred
    merges, O(n_merges) sweeps per batch) or "encode" (``bpe_encode``:
    min-rank heap, per-batch cost independent of table size — the
    production-vocab path; parity-tested, BENCH/BPE_ENCODE.md).

    Returns (merges, applied corpus DataFrame, merge-table DataFrame)."""
    from esa_pfa_spark.plans.query import deterministic_sample

    sample = deterministic_sample(
        df.select(id_col, tokens_col), sample_docs, [id_col], seed=seed
    )
    arrs = [
        np.asarray(r[tokens_col], dtype=np.int64)
        for r in sample.collect()
        if r[tokens_col] is not None
    ]
    merges = bpe_train_local_fast(arrs, n_merges, new_id_start)
    spark = df.sparkSession
    table = spark.createDataFrame(
        [(m["rank"], m["t1"], m["t2"], m["new_id"], m["pair_count"]) for m in merges]
        or [],
        "rank int, t1 long, t2 long, new_id long, pair_count long",
    )
    apply_fn = bpe_encode if encoder == "encode" else bpe_apply
    return merges, apply_fn(df, merges, tokens_col), table


def mg_heavy_hitters(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    k: int = 32,
    m: int = 20,
    n_summaries: int = 32,
) -> DataFrame:
    """Misra-Gries heavy hitters as mergeable-summary ALGEBRA (Agarwal et
    al., "Mergeable Summaries", PODS 2012) in relational form: the corpus
    is split into ``n_summaries`` logical partitions by a portable md5
    bucket of the doc id (so the result is partition-layout-invariant and
    exactly oracle-able); each bucket's exact token histogram is truncated
    offline-MG style — subtract the (k+1)-th largest count, keep positive
    (<= k survivors, per-token undercount <= n_bucket/(k+1)); summaries
    merge by summing per token; top-m by merged estimate.

    Guarantees (contract-tested): est_count <= true count, and
    true - est_count <= err_bound = sum of bucket thresholds
    (<= N/(k+1)); every token with true frequency > err_bound survives.

    Scale shape: one explode -> (bucket, token) hash agg with map-side
    combine (shuffle carries distinct pairs, not occurrences), two window
    passes over bucket-sized groups, a final token agg and
    TakeOrderedAndProject — no UDFs, no driver-side state.  The sketch
    never holds more than n_summaries * k rows after truncation."""
    pid = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("hh:"), F.col(id_col).cast("string"))), 1, 6),
            16, 10,
        ).cast("int") % n_summaries
    ).alias("__pid")
    counts = (
        df.select(pid, F.explode(F.col(tokens_col)).alias("token"))
        .select("__pid", F.col("token").cast("long").alias("token"))
        .groupBy("__pid", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_rank = Window.partitionBy("__pid").orderBy(
        F.col("cnt").desc(), F.col("token").asc()
    )
    w_pid = Window.partitionBy("__pid")
    ranked = counts.withColumn("__rn", F.row_number().over(w_rank))
    ranked = ranked.withColumn(
        "__thresh",
        F.coalesce(
            F.max(F.when(F.col("__rn") == k + 1, F.col("cnt"))).over(w_pid),
            F.lit(0),
        ),
    )
    summar = ranked.select(
        "token",
        (F.col("cnt") - F.col("__thresh")).alias("est"),
        "__thresh",
        F.col("__rn"),
    ).filter(F.col("est") > 0)
    bound = (
        ranked.select("__pid", "__thresh").distinct()
        .agg(F.sum("__thresh").alias("err_bound"))
    )
    merged = summar.groupBy("token").agg(F.sum("est").alias("est_count"))
    return (
        merged.crossJoin(F.broadcast(bound))
        .orderBy(F.col("est_count").desc(), F.col("token").asc())
        .limit(m)
        .select("token", "est_count", "err_bound")
    )


def dup_ngram_span_list(
    df: DataFrame,
    n: int = 8,
    min_count: int = 2,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document maximal duplicated-n-gram spans as ROWS — the span
    detail behind ``dup_ngram_summary``'s per-doc totals.  Output:
    ``(id, n_tok, span_start, span_len)``, one row per maximal span of
    corpus-duplicated windows (same fingerprint filter + gaps-and-islands
    merge; skew-safe groupBy+join form)."""
    from pyspark.sql import Window as W

    wins = ngram_fps(df, n=n, tokens_col=tokens_col, id_col=id_col)
    dup_fp = (
        wins.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") >= min_count)
        .select("fp")
    )
    dw = wins.join(dup_fp, "fp").select(id_col, "__n_tok", "s")
    byd = W.partitionBy(id_col).orderBy("s")
    return (
        dw.withColumn("__prev", F.lag("s").over(byd))
        .withColumn(
            "__brk",
            F.when(F.col("__prev").isNull() | (F.col("s") - F.col("__prev") > n), 1).otherwise(0),
        )
        .withColumn("__grp", F.sum("__brk").over(byd))
        .groupBy(id_col, "__n_tok", "__grp")
        .agg(
            F.min("s").cast("long").alias("span_start"),
            (F.max("s") + n - F.min("s")).cast("long").alias("span_len"),
        )
        .select(id_col, F.col("__n_tok").cast("long").alias("n_tok"),
                "span_start", "span_len")
    )


def token_loss_mask(
    df: DataFrame,
    n: int = 8,
    min_count: int = 2,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-token LOSS MASK zeroing corpus-duplicated spans: 1 = train on
    this position, 0 = position inside a duplicated n-gram span (don't
    learn boilerplate twice — the loader-side artifact of exact-substring
    dedup when you keep the document but drop the repeated span from the
    loss).  Output: ``(id, n_tok, n_masked, mask, mask_fp)`` where mask is
    the int array and mask_fp its md5 fingerprint (the oracle witness).

    Plan: span rows -> collect_list per doc (span counts per doc are
    tiny), LEFT join onto the corpus, then a map-only higher-order
    transform builds the mask (nested lambda: position p is masked iff
    any span covers it).  Docs with no duplicated span keep an all-ones
    mask via the null-spans branch."""
    spans = dup_ngram_span_list(df, n=n, min_count=min_count,
                                tokens_col=tokens_col, id_col=id_col)
    spl = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(F.col("span_start").alias("s"), F.col("span_len").alias("l"))
        ).alias("__spans")
    )
    base = df.filter(F.size(F.col(tokens_col)) > 0).select(
        id_col, F.size(F.col(tokens_col)).alias("n_tok")
    )
    j = base.join(spl, id_col, "left")

    def bit(p):
        covered = F.exists(
            F.col("__spans"), lambda sp: (p >= sp["s"]) & (p < sp["s"] + sp["l"])
        )
        return (
            F.when(F.col("__spans").isNull(), F.lit(1))
            .when(covered, F.lit(0))
            .otherwise(F.lit(1))
        )

    mask = F.transform(F.sequence(F.lit(0), F.col("n_tok") - 1), bit)
    out = j.withColumn("mask", mask)
    n_kept = F.aggregate("mask", F.lit(0), lambda acc, x: acc + x)
    return out.select(
        id_col,
        F.col("n_tok").cast("long").alias("n_tok"),
        (F.col("n_tok") - n_kept).cast("long").alias("n_masked"),
        "mask",
        F.md5(F.array_join(F.transform("mask", lambda x: x.cast("string")), "")).alias("mask_fp"),
    )


def vocab_coverage_curve(
    df: DataFrame,
    sizes: list[int] = (100, 1000, 8000, 32768),
    tokens_col: str = "tokens",
) -> DataFrame:
    """Tokenizer-budget planning: corpus coverage of the top-``s`` most
    frequent tokens for each candidate vocab size ``s`` — the curve that
    decides whether 32k or 50k vocab is worth the embedding-table memory
    (coverage(s) = share of all token OCCURRENCES whose token ranks in the
    top s by frequency; ties broken by token id so the rank is total).
    Returns one row per size: ``(vocab_size, n_covered, n_total,
    coverage)``.

    Scale shape: ONE explode + frequency aggregation (map-side combine,
    vocab-bounded result), a rank over the vocab-sized table (windowed,
    but the partition is the VOCAB, not the corpus — bounded by
    construction), and a |sizes|-row cross-join readoff via conditional
    sums.  The corpus is scanned once."""
    from pyspark.sql import Window as W

    sizes = sorted(set(int(s) for s in sizes))
    if not sizes or sizes[0] <= 0:
        raise ValueError("sizes must be positive")
    freq = (
        df.select(F.explode(F.col(tokens_col)).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = freq.withColumn(
        "__rk",
        F.row_number().over(W.orderBy(F.col("c").desc(), F.col("t").asc())),
    )
    aggs = [F.sum("c").alias("n_total")]
    for s in sizes:
        aggs.append(
            F.sum(F.when(F.col("__rk") <= s, F.col("c")).otherwise(F.lit(0)))
            .alias(f"__cov_{s}")
        )
    row = ranked.agg(*aggs)
    out = None
    for s in sizes:
        part = row.select(
            F.lit(s).cast("int").alias("vocab_size"),
            F.col(f"__cov_{s}").cast("long").alias("n_covered"),
            F.col("n_total").cast("long").alias("n_total"),
            F.round(F.col(f"__cov_{s}") * 1.0 / F.col("n_total"), 6).alias("coverage"),
        )
        out = part if out is None else out.unionByName(part)
    return out


def span_corruption_mask(
    df: DataFrame,
    start_rate: float = 0.05,
    max_span: int = 5,
    seed: int = 0,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """T5-style span-corruption masks (Raffel et al. 2020 §3.1.4),
    deterministic and engine-portable: position ``p`` of a document STARTS
    a corruption span iff ``md5(seed:doc:p) % 1000 < start_rate*1000``;
    the span's length is ``1 + md5len(seed:doc:p) % max_span`` (mean
    (max_span+1)/2, so expected corruption ~= start_rate * mean_len —
    0.15 at the defaults, the T5 recipe).  Mask: 1 = corrupted (predict
    this token), 0 = keep.  Overlapping spans union naturally.

    Membership is a pure function of (seed, doc, position) — the same doc
    gets the same corruption on any engine, run, or partitioning, which
    is what makes distributed pretraining-data generation reproducible.

    Plan: map-only nested higher-order functions; for each position the
    covering-start check looks back at most ``max_span - 1`` positions
    (bounded O(max_span * n_tok) per doc, no span materialization).
    Output: ``(id, n_tok, n_spans, n_masked, mask, mask_fp)``."""
    if not 0 < start_rate < 1:
        raise ValueError("start_rate must be in (0, 1)")
    thr = int(round(start_rate * 1000))

    def h(prefix, p):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"{prefix}{seed}:"),
                            F.col(id_col).cast("string"),
                            F.lit(":"),
                            p.cast("string"),
                        )
                    ),
                    1, 6,
                ),
                16, 10,
            ).cast("int")
        )

    def is_start(p):
        return h("spanstart", p) % 1000 < thr

    def span_len(p):
        return 1 + h("spanlen", p) % max_span

    n = F.size(F.col(tokens_col))
    pos = F.sequence(F.lit(0), n - 1)

    def covered(p):
        lookback = F.sequence(F.greatest(p - (max_span - 1), F.lit(0)), p)
        return F.exists(lookback, lambda q: is_start(q) & (p < q + span_len(q)))

    mask = F.transform(pos, lambda p: F.when(covered(p), 1).otherwise(0))
    base = df.filter(n > 0).select(
        id_col,
        n.cast("long").alias("n_tok"),
        F.size(F.filter(pos, is_start)).cast("long").alias("n_spans"),
        mask.alias("mask"),
    )
    n_masked = F.aggregate("mask", F.lit(0), lambda a, x: a + x)
    return base.select(
        id_col,
        "n_tok",
        "n_spans",
        n_masked.cast("long").alias("n_masked"),
        "mask",
        F.md5(
            F.array_join(F.transform("mask", lambda x: x.cast("string")), "")
        ).alias("mask_fp"),
    )


def bigram_pmi_topk(
    df: DataFrame,
    k: int = 30,
    min_count: int = 5,
    tokens_col: str = "tokens",
    round_to: int = 6,
) -> DataFrame:
    """Collocation mining: top-``k`` adjacent token pairs by pointwise
    mutual information ``PMI(a,b) = ln( p(ab) / (p(a)p(b)) )`` (Church &
    Hanks 1990) — the phrase-detection pass that decides which bigrams
    deserve a merged vocab entry (word2phrase / BPE-adjacent), with a
    ``min_count`` floor because PMI diverges for rare accidental pairs.

    Returns ``(tok_a, tok_b, c_ab, pmi)``, ties broken by (tok_a, tok_b).

    Shape: one bigram explode -> pair counts (map-side combine);
    unigram counts are vocab-bounded and broadcast back onto the pair
    table twice; the two corpus totals ride 1-row broadcasts; top-k is
    TakeOrderedAndProject.  PMI evaluates as
    ``ln((c_ab/N_big) / ((c_a/N_uni)*(c_b/N_uni)))`` — the same float
    expression shape in the SQL oracle, rounded once."""
    toks = F.col(tokens_col)
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    big = (
        df.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("tok_a"), F.col("p.b").alias("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    uni = (
        df.select(F.explode(toks).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_uni = uni.agg(F.sum("c").alias("n_uni"))
    n_big = (
        df.select(F.greatest(n - 1, F.lit(0)).alias("nb"))
        .agg(F.sum("nb").alias("n_big"))
    )
    ua = uni.select(F.col("t").alias("tok_a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("t").alias("tok_b"), F.col("c").alias("c_b"))
    j = (
        big.join(F.broadcast(ua), "tok_a")
        .join(F.broadcast(ub), "tok_b")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big))
    )
    pmi = F.log(
        (F.col("c_ab").cast("double") / F.col("n_big"))
        / (
            (F.col("c_a").cast("double") / F.col("n_uni"))
            * (F.col("c_b").cast("double") / F.col("n_uni"))
        )
    )
    return (
        j.select(
            "tok_a", "tok_b", F.col("c_ab").cast("long").alias("c_ab"),
            F.round(pmi, round_to).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), F.col("tok_a").asc(), F.col("tok_b").asc())
        .limit(k)
    )


# Winnowing selection keys embed the gram position as lpad(999999 - i, 6):
# past 10^6 k-grams the suffix goes negative and lpad of "-NNN…" corrupts
# the lexicographic rightmost-min tie-break SILENTLY.  Enforce the bound in
# the plan itself so an oversized doc fails the job loudly instead of
# fingerprinting wrong.
_WINNOW_MAX_GRAMS = 999_999


def _winnow_guard(m, id_col: str):
    """Pass ``m`` (k-gram count) through unchanged, raising at execution
    time for any doc whose gram count exceeds the position-key bound."""
    return F.when(m <= F.lit(_WINNOW_MAX_GRAMS), m).otherwise(
        F.raise_error(
            F.concat(
                F.lit("winnow: doc "),
                F.col(id_col).cast("string"),
                F.lit(
                    f" exceeds {_WINNOW_MAX_GRAMS} k-grams; chunk it "
                    "upstream (position key would corrupt the tie-break)"
                ),
            )
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 4,
    w: int = 4,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    2003 — the MOSS local fingerprinting scheme): hash every token
    ``k``-gram, slide a window of ``w`` consecutive gram hashes, and select
    the minimum of each window (rightmost position on hash ties).  The
    guarantee: any shared substring of length >= ``k + w - 1`` tokens
    yields at least one shared selected fingerprint, while only ~``2/(w+1)``
    of grams are kept — the standard sub-sampling primitive for
    exact-substring near-dup detection at corpus scale.

    Output per doc (docs with >= ``k`` tokens): ``doc_id, n_tok, n_grams,
    n_fp, density, fp_digest`` where ``n_fp`` counts distinct selected
    (hash, position) pairs and ``fp_digest`` is the md5 of the sorted
    selection — the cell-level equality witness against the oracle.

    Plan shape (100 TB): the entire selection runs INSIDE the row via
    higher-order array functions (``transform`` over window starts +
    ``array_min`` over key slices) — no explode, no shuffle, whole-stage
    codegen; O(n_grams * w) string comparisons per doc.  Selection keys are
    ``md5(gram) || zero-padded (999999 - pos)`` so lexicographic min gives
    min-hash with rightmost-position tie-break.  The 10^6-gram doc-length
    bound is ENFORCED in-plan (``_winnow_guard`` raises at execution time);
    longer docs must be chunked upstream.

    Reference analog: per-patch feature hashing in the reference's
    AbstractApplicationDescriptor — a per-record, no-shuffle featurizer.
    """
    toks = F.col(tokens_col)
    m = _winnow_guard(F.size(toks) - F.lit(k - 1), id_col)  # number of k-grams
    # gram keys: md5 of comma-joined k-gram, suffixed with reversed 0-based
    # position so array_min = (min hash, rightmost pos).
    keys = F.transform(
        F.sequence(F.lit(0), m - 1),
        lambda i: F.concat(
            F.md5(F.concat_ws(",", F.slice(toks, i + 1, k))),
            F.lpad((F.lit(999999) - i).cast("string"), 6, "0"),
        ),
    )
    out = (
        df.filter(F.size(toks) >= k)
        .withColumn("__m", m)
        .withColumn("__keys", keys)
        .withColumn(
            "__sel",
            F.array_sort(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.greatest(F.col("__m") - w, F.lit(0))),
                        lambda i: F.array_min(F.slice(F.col("__keys"), i + 1, w)),
                    )
                )
            ),
        )
    )
    return out.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tok"),
        F.col("__m").cast("long").alias("n_grams"),
        F.size("__sel").cast("long").alias("n_fp"),
        F.round(F.size("__sel") / F.col("__m"), 6).alias("density"),
        F.md5(F.array_join("__sel", "|")).alias("fp_digest"),
    )


def winnow_selected_fps(
    df: DataFrame,
    k: int = 4,
    w: int = 4,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exploded winnowing selection: one row per distinct selected gram
    HASH per doc (positions stripped — cross-doc matching is on content).
    Map-only until the caller aggregates.

    The gram-key array MUST materialize as its own projection column
    before the window transform references it: handed to the transform as
    a raw expression, Catalyst inlines it into the per-window lambda and
    re-evaluates all m md5s for EVERY window — O(m^2) per doc, measured
    60x slower at sf0.1 (35.3s -> 0.6s for the identical selection).
    Same device as winnow_fingerprints' ``__keys`` column."""
    toks = F.col(tokens_col)
    m = _winnow_guard(F.size(toks) - F.lit(k - 1), id_col)
    keys = F.transform(
        F.sequence(F.lit(0), m - 1),
        lambda i: F.concat(
            F.md5(F.concat_ws(",", F.slice(toks, i + 1, k))),
            F.lpad((F.lit(999999) - i).cast("string"), 6, "0"),
        ),
    )
    based = (
        df.filter(F.size(toks) >= k)
        .withColumn("__m", m)
        .withColumn("__keys", keys)
    )
    sel = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.col("__m") - w, F.lit(0))),
            lambda i: F.substring(
                F.array_min(F.slice(F.col("__keys"), i + 1, w)), 1, 32
            ),
        )
    )
    # array_distinct above already dedups within the doc, and doc_id is the
    # row key — rows are (doc, fp)-unique by construction; no distinct()
    # (and its Exchange) needed.
    return based.select(F.col(id_col), F.explode(sel).alias("fp"))


def winnow_dup_pairs(
    df: DataFrame,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_fp_freq: int = 50,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate near-duplicate pairs from shared winnowing fingerprints
    (the MOSS match step): docs sharing >= ``min_shared`` selected gram
    hashes, with the shared count as the match strength.  By the winnowing
    guarantee every common token run of length >= ``k + w - 1`` contributes
    a shared fingerprint, so long boilerplate/plagiarised spans are caught
    from ~2/(w+1) of the gram stream.

    Plan shape (100 TB): per-doc selection is in-row (no shuffle); the
    match is fp -> groupBy partial-agg -> self-equi-join INSIDE fingerprint
    buckets — never all-pairs.  ``max_fp_freq`` drops stop-fingerprints
    (ubiquitous boilerplate grams) before the join, the same skew guard as
    ``ngram_jaccard_pairs``; at the default 50 the worst bucket joins
    50x50, and dropped-fp counts are observable via ``winnow_selected_fps``
    aggregation rather than silently hidden here.

    Output: ``doc_a, doc_b, n_shared`` (doc_a < doc_b).
    """
    fps = winnow_selected_fps(df, k=k, w=w, tokens_col=tokens_col, id_col=id_col)
    keep = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__occ"))
        .filter((F.col("__occ") >= 2) & (F.col("__occ") <= max_fp_freq))
        .select("fp")
    )
    fk = fps.join(keep, "fp")
    a = fk.select("fp", F.col(id_col).alias("doc_a"))
    b = fk.select("fp", F.col(id_col).alias("doc_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def token_rank_drift(
    df: DataFrame,
    tokens_col: str = "tokens",
    source_col: str = "source",
    round_to: int = 6,
) -> DataFrame:
    """Spearman rank correlation of token-frequency ranks between every
    pair of sources, over the vocabulary common to ALL sources — the
    distribution-drift check run before mixing corpora (a low rho between
    two web snapshots flags a crawler/extractor change; near-1.0 between a
    source and its dedup'd successor confirms dedup didn't skew the
    unigram distribution).

    Ranks are made total (no ties) by ordering ``count DESC, token ASC``
    within each source, so rho = 1 - 6*sum(d^2)/(n(n^2-1)) is an exact
    permutation statistic, identical across engines.  Restricting to the
    all-source common vocab keeps each source's restricted ranks a proper
    1..n permutation (re-ranked after restriction), so rho stays in
    [-1, 1].

    Plan shape (100 TB): explode -> (source, token) partial-agg (map-side
    combine; shuffle carries one row per distinct pair, vocab-bounded) ->
    common-vocab semi-join (broadcast, vocab-sized) -> per-source window
    rank over <= |vocab| rows -> vocab-bounded self-join for the pairs.
    Nothing downstream of the first agg scales with the corpus.

    Output: ``source_a, source_b, n_common, spearman_rho``.
    """
    cnt = (
        df.select(F.col(source_col).alias("source"), F.explode(tokens_col).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # plan-time source census: column-pruned to `source` alone (a parquet
    # dictionary-encoded column scan), never touching the token explode.
    n_sources = df.select(F.col(source_col).alias("source")).distinct().count()
    common = (
        cnt.groupBy("t")
        .agg(F.count(F.lit(1)).alias("__ns"))
        .filter(F.col("__ns") == n_sources)
        .select("t")
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(F.col("cnt").desc(), F.col("t").asc())
    )
    r = cnt.join(F.broadcast(common), "t").withColumn("rk", rk)
    a = r.select(
        F.col("source").alias("source_a"), "t", F.col("rk").alias("ra")
    )
    b = r.select(
        F.col("source").alias("source_b"), "t", F.col("rk").alias("rb")
    )
    d2 = (F.col("ra").cast("long") - F.col("rb")) * (F.col("ra").cast("long") - F.col("rb"))
    n = F.count(F.lit(1)).cast("double")
    return (
        a.join(b, "t")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.round(
                F.lit(1.0) - F.lit(6.0) * F.sum(d2) / (n * (n * n - F.lit(1.0))),
                round_to,
            ).alias("spearman_rho"),
        )
        .orderBy("source_a", "source_b")
    )


def novelty_curve(
    df: DataFrame,
    n: int = 8,
    n_buckets: int = 10,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    round_to: int = 6,
) -> DataFrame:
    """Corpus-saturation curve: split the corpus into ``n_buckets`` ingest-
    order buckets (by ``id_col`` range) and report, per bucket, how many
    token ``n``-gram fingerprints are NEW versus already seen earlier —
    the "is more scraping still paying?" diagnostic.  A healthy fresh
    source holds novelty_rate high; a saturated or self-duplicating one
    decays toward 0 and the cumulative-distinct curve flattens.

    Output per bucket: ``bucket, n_windows`` (n-gram occurrences),
    ``n_fps`` (distinct fingerprints present), ``n_novel`` (fingerprints
    whose FIRST bucket this is), ``novelty_rate = n_novel / n_fps``, and
    ``cum_distinct`` (corpus-wide distinct fingerprints through this
    bucket).

    Bucketing is exact integer arithmetic — ``(id * n_buckets) div
    (max_id + 1)`` — so the assignment is engine- and partitioning-
    invariant (no percentile edges, no sampling).

    Plan shape (100 TB): fingerprints explode map-side (``ngram_fps``);
    the only large shuffles are the (bucket, fp) distinct and the per-fp
    min-bucket agg — both bounded by the DISTINCT fingerprint count, with
    map-side partial aggregation collapsing repeats before the exchange
    (boilerplate n-grams collapse map-side, the same skew shield as
    block_dedup).  NO join carries fp-level rows twice: per-bucket novel
    counts come from the min-bucket table alone, present counts from the
    distinct table alone, and the final join + cumulative window run over
    ``n_buckets`` rows.
    """
    fps = ngram_fps(df, n=n, tokens_col=tokens_col, id_col=id_col)
    mx = df.agg(F.max(F.col(id_col)).alias("__mx"))
    bf = fps.crossJoin(F.broadcast(mx)).select(
        F.expr(f"({id_col} * {int(n_buckets)}) div (__mx + 1)")
        .cast("int")
        .alias("bucket"),
        "fp",
    )
    occ = bf.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_windows"))
    d = bf.distinct()
    per = d.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_fps"))
    fb = d.groupBy("fp").agg(F.min("bucket").alias("bucket"))
    nov = fb.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_novel"))
    j = (
        per.join(occ, "bucket")
        .join(nov, "bucket", "left")
        .select(
            "bucket",
            F.col("n_windows").cast("long").alias("n_windows"),
            F.col("n_fps").cast("long").alias("n_fps"),
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
        )
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return j.select(
        "bucket",
        "n_windows",
        "n_fps",
        "n_novel",
        F.round(
            F.col("n_novel").cast("double") / F.col("n_fps").cast("double"), round_to
        ).alias("novelty_rate"),
        F.sum("n_novel").over(w).cast("long").alias("cum_distinct"),
    ).orderBy("bucket")


def bpe_decode(
    df: DataFrame,
    merges,
    tokens_col: str = "tokens",
) -> DataFrame:
    """BPE decode (detokenize): expand merged ids back to the base-token
    sequence — the inverse of ``bpe_encode``/``bpe_apply``; round-trip
    identity ``decode(encode(x)) == x`` is the tested contract.

    Driver side: each ``new_id``'s base expansion is materialized once
    by walking the merge table in rank order (a rule's t1/t2 may be
    earlier new ids), O(total expansion length) — vocabulary-sized, not
    corpus-sized.  Executor side: ONE map-only pass; each Arrow batch is
    flattened to a single int64 array and expanded with pure numpy
    (repeat/cumsum gather — no per-element Python), then re-split by the
    expanded per-row lengths.  Per-batch cost tracks token count.
    """
    import numpy as np

    if isinstance(merges, DataFrame):
        merges = [r.asDict() for r in merges.collect()]
    exp: dict[int, list[int]] = {}
    for m in sorted(merges, key=lambda m: int(m["rank"])):
        seq: list[int] = []
        for t in (int(m["t1"]), int(m["t2"])):
            seq.extend(exp.get(t, [t]))
        exp[int(m["new_id"])] = seq
    if exp:
        ids_sorted = np.array(sorted(exp), dtype=np.int64)
        lens = np.array([len(exp[i]) for i in ids_sorted], dtype=np.int64)
        offs = np.concatenate([[0], np.cumsum(lens)[:-1]])
        flat_exp = np.array(
            [t for i in ids_sorted for t in exp[int(i)]], dtype=np.int64
        )
    else:
        ids_sorted = np.empty(0, dtype=np.int64)
        lens = offs = flat_exp = np.empty(0, dtype=np.int64)

    def _expand_flat(ids: "np.ndarray") -> tuple:
        """(expanded flat array, per-source-token lengths)."""
        pos = np.searchsorted(ids_sorted, ids)
        is_m = (
            (pos < len(ids_sorted)) & (ids_sorted[np.minimum(pos, max(len(ids_sorted) - 1, 0))] == ids)
            if len(ids_sorted)
            else np.zeros(len(ids), dtype=bool)
        )
        tok_len = np.where(is_m, lens[np.where(is_m, pos, 0)], 1)
        total = int(tok_len.sum())
        tok_rep = np.repeat(np.arange(len(ids)), tok_len)
        within = np.arange(total) - np.repeat(
            np.cumsum(tok_len) - tok_len, tok_len
        )
        src_off = np.where(is_m, offs[np.where(is_m, pos, 0)], 0)
        out = np.where(
            is_m[tok_rep],
            flat_exp[np.minimum(src_off[tok_rep] + within, max(len(flat_exp) - 1, 0))]
            if len(flat_exp)
            else 0,
            ids[tok_rep],
        )
        return out, tok_len

    out_schema = df.schema

    def decode_all(batches):
        for pdf in batches:
            pdf = pdf.copy()
            rows = list(pdf[tokens_col])
            row_lens = np.array([len(r) for r in rows], dtype=np.int64)
            if row_lens.sum() == 0:
                yield pdf
                continue
            flat = np.concatenate(
                [np.asarray(r, dtype=np.int64) for r in rows if len(r)]
            )
            out, tok_len = _expand_flat(flat)
            # expanded length of each row = sum of its tokens' lengths,
            # via cumsum differences (reduceat mishandles empty rows)
            c = np.concatenate([[0], np.cumsum(tok_len)])
            bounds = np.concatenate([[0], np.cumsum(row_lens)])
            exp_row_lens = c[bounds[1:]] - c[bounds[:-1]]
            cuts = np.cumsum(exp_row_lens)[:-1]
            pieces = np.split(out, cuts)
            pdf[tokens_col] = [p.tolist() for p in pieces]
            yield pdf

    return df.mapInPandas(decode_all, schema=out_schema)


def prefix_cache_stats(
    df: DataFrame,
    prefix_len: int = 32,
    tokens_col: str = "tokens",
    group_col: str = "source",
) -> DataFrame:
    """Prefix-cache economics per corpus slice: if sequences sharing an
    identical first-``prefix_len``-token prefix can reuse one cached KV
    prefix (vLLM/SGLang automatic prefix caching; RadixAttention), what
    fraction of this corpus's tokens would be served from cache?

    Per ``group_col``: ``n_seq`` (sequences long enough to participate),
    ``n_prefix_groups`` (distinct prefixes), ``cached_tokens`` =
    Σ(group_size − 1)·prefix_len (every copy after a group's first hits
    the cache), ``total_tokens``, and ``hit_frac`` rounded to 6dp.
    Sequences shorter than ``prefix_len`` count toward total_tokens but
    can never hit (n_seq counts only participants).

    The prefix key is md5 of the comma-joined first ``prefix_len`` tokens
    — at 100 TB the shuffle key is a fixed-width digest, not the token
    array, and the two-level aggregation (by (group, prefix), then by
    group) is map-side combinable at both levels.  Token-array equality
    with the oracle rides the digest (north-rule witness).
    """
    if prefix_len < 1:
        raise ValueError("prefix_len must be >= 1")
    toks = F.col(tokens_col)
    eligible = toks.isNotNull() & (F.size(toks) >= prefix_len)
    pfx = F.md5(F.concat_ws(
        ",", F.transform(F.slice(toks, 1, prefix_len), lambda t: t.cast("string"))
    ))
    per_prefix = (
        df.select(
            F.col(group_col).alias("grp"),
            F.when(eligible, pfx).alias("__pfx"),
            # NULL token arrays contribute 0, matching a SQL sum that
            # skips NULLs (Spark's size(NULL) is -1, which would not)
            F.when(toks.isNotNull(), F.size(toks).cast("long"))
            .otherwise(F.lit(0)).alias("__nt"),
        )
        .groupBy("grp", "__pfx")
        .agg(F.count("*").alias("__gs"), F.sum("__nt").alias("__ts"))
    )
    hit = F.when(
        F.col("__pfx").isNotNull(), (F.col("__gs") - 1) * F.lit(prefix_len)
    ).otherwise(F.lit(0))
    n_seq = F.when(F.col("__pfx").isNotNull(), F.col("__gs")).otherwise(F.lit(0))
    n_grp = F.when(F.col("__pfx").isNotNull(), F.lit(1)).otherwise(F.lit(0))
    out = (
        per_prefix.groupBy("grp")
        .agg(
            F.sum(n_seq).cast("bigint").alias("n_seq"),
            F.sum(n_grp).cast("bigint").alias("n_prefix_groups"),
            F.sum(hit).cast("bigint").alias("cached_tokens"),
            F.sum("__ts").cast("bigint").alias("total_tokens"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_seq", "n_prefix_groups", "cached_tokens", "total_tokens",
            (F.round(
                F.col("cached_tokens").cast("double")
                / F.col("total_tokens").cast("double"), 6
            ) + F.lit(0.0)).alias("hit_frac"),
        )
    )
    return out


def pack_attention_stats(
    df: DataFrame,
    capacity: int = 128,
    order_cols: tuple[str, ...] = ("source", "doc_id"),
    ntok_col: str = "n_tok",
    n_partitions: int | None = None,
) -> DataFrame:
    """Cross-document attention-contamination audit of packed training
    windows: for each ``pack_offsets`` window, how many causal attention
    pairs cross a document boundary?  Naive packing concatenates
    unrelated documents, and without a document-boundary attention mask
    every token attends to the foreign prefix — the contamination that
    motivates block-diagonal masks / sequence-id resets (Krell et al.
    2021 "Efficient sequence packing"; T5 / LLaMA-3 packed pretraining).
    This is the sizing artifact for that decision: the measured fraction
    of wasted (cross-document) attention at a given capacity.

    Per window of T tokens cut into per-doc runs t_1..t_m (so
    ``sum t_d = T``):

        total_pairs  = T * (T + 1) / 2          (causal incl. self)
        within_pairs = sum_d t_d * (t_d + 1) / 2
        cross_pairs  = total_pairs - within_pairs
        contamination_frac = cross_pairs / total_pairs

    Scale shape: one groupBy(chunk_id) over ``pack_offsets`` output —
    the span table is corpus-sized, the aggregate is map-side
    combinable, and nothing else shuffles; integer pair counts are exact
    (no float accumulation), so the only rounded value is the final
    per-window ratio.  The packing pass itself keeps the
    range-partitioned offset decomposition (never a global window); the
    numbering relation's pinned cache is propagated for
    ``dictionary.release_pin``."""
    spans = pack_offsets(
        df, capacity=capacity, order_cols=order_cols,
        ntok_col=ntok_col, n_partitions=n_partitions,
    )
    t = F.col("n_in_chunk")
    out = (
        spans.groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(t).cast("long").alias("n_tok"),
            F.sum(t * (t + 1)).cast("long").alias("__2w"),
        )
        .select(
            "chunk_id",
            "n_docs",
            "n_tok",
            F.expr("(n_tok * (n_tok + 1) - __2w) div 2").alias("cross_pairs"),
            F.expr("n_tok * (n_tok + 1) div 2").alias("total_pairs"),
            F.round(
                (F.col("n_tok") * (F.col("n_tok") + 1) - F.col("__2w"))
                .cast("double")
                / (F.col("n_tok") * (F.col("n_tok") + 1)),
                6,
            ).alias("contamination_frac"),
        )
    )
    out._pinned_cache = getattr(spans, "_pinned_cache", None)
    return out
