"""Distributed generalized suffix array over a tokenized corpus —
prefix doubling with a shrinking refinement set — and the exact
maximal-duplicate-substring query it unlocks.

This is the machinery behind exact-substring deduplication (Lee et al.
2022, "Deduplicating Training Data Makes Language Models Better", whose
dedup tool builds a corpus suffix array): the engine's fixed-n
fingerprint spans (``tokens.dup_ngram_spans``) answer "where do
duplicated n-grams sit" for ONE n; the suffix array answers the exact
question — the longest duplicated token substring of ANY length, and
suffix order itself.

Why prefix doubling (Manber & Myers 1990) and not "sort the suffixes":
materializing suffixes costs O(T * avg_len) bytes; doubling keeps ONE
rank per position (O(T) rows) and refines it over log rounds.  Three
scale devices on top of the textbook recurrence:

  * **Key-local ranks**: a suffix's rank is the pair ``(g, s)`` — ``g``
    its first k0 tokens packed into one int64, ``s`` the number of
    strictly smaller suffixes sharing ``g`` (ties share a rank) — so
    ``(g, s)`` in lexicographic order is suffix order, and no step
    numbers the corpus globally.  Initially every ``s`` is 0 and a
    suffix is tied when its key occurs twice: one window over the key
    (one hash exchange, no driver action).  Every round updates ``s``
    with a WINDOW PARTITIONED BY THE TIE GROUP ``(g, s)`` (never
    partition-less), because a tied group's members can only move
    within the group's own rank span ``[s, s + group size)``.
  * **Shrinking refinement set**: positions whose rank is already
    unique are final and leave the working set; each round touches only
    still-tied positions.  For natural corpora the tied mass collapses
    to the true duplicate mass after the first round (k0-token packed
    keys), so total work is O(T + dup_mass * log(max_len)) rather than
    O(T log(max_len)).  Using already-refined neighbor ranks as the
    secondary key (over-refinement) is sound — it only splits ties
    earlier — and accelerates convergence.
  * **Pairs inside key groups**: two suffixes sharing >= k0 tokens share
    their key, and a key group is a contiguous run of suffix order, so
    every adjacent pair that can share k0 tokens is adjacent inside one
    initially tied key group — a ``lag`` over the group ordered by
    ``(s, doc, off)``.  Only those pairs, the duplicate mass, are
    compared; a pair straddling two groups shares fewer than k0 tokens
    (see ``_audit`` for why that stays exact).

Suffixes are document-local (a generalized suffix array: they end at
their document's end — the Lee et al. corpus shape, no separator
tokens needed).  Round state is ``localCheckpoint``-ed (the pagerank
lineage-cut discipline), and the loop's driver-side inputs — the longest
suffix, "is anything still tied?" and the least and greatest document
id — are ``Observation``s on those checkpoint jobs, not actions of their
own; so is the max LCP of the pairs.  Only maxima, minima and ``> 0``
tests read them, because a retried task may count its rows twice.  No
build step crosses to Python.  Distributed doubling at cluster scale is
textbook (Flick & Aluru 2015); the refinement-set form is the same
recurrence restricted to unresolved groups.

Both exact statistics — ``duplicate_coverage`` and
``longest_duplicate_span`` — read one shared build, ``_adjacent_lcp``:
the ranks plus the LCP of every adjacent pair inside a tied key group.
The build checkpoints its pairs (no token arrays), so a statistic reads
them without recomputing the compare, and the longest span filters them
at the observed max LCP; ``exact_substring_audit`` derives both
statistics from ONE build (the ``dedup-exact`` CLI path), while the two
standalone functions each run the build alone.  The compare step moves
both documents' token arrays with every compared pair, so that exchange
is O(duplicate mass x doc_len) bytes.  ``suffix_order`` (the explicit
suffix array) is the one caller that numbers every suffix, with
``dictionary.global_cumsum``.

Token values MUST be non-negative (vocabulary ids are): the "suffix
ended" sentinel is -1 / packed 0, which must sort strictly below every
real rank so shorter suffixes order first.  Violations raise at
execution time rather than mis-sorting.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from esa_pfa_spark.operators.dictionary import global_cumsum, release_pin


def _checkpoint_observed(df: DataFrame, **aggs) -> tuple[DataFrame, dict]:
    """``df.localCheckpoint()`` and the ``aggs`` observed on that same
    job: no side action.  A retried task may count its rows twice, so
    callers read only maxima, minima and ``> 0`` tests off them."""
    seen = Observation()
    out = df.observe(seen, *[a.alias(k) for k, a in aggs.items()]).localCheckpoint()
    return out, seen.get


def _key_width(max_token: int) -> int:
    """k0, the most leading tokens one int64 key packs: the largest k
    with ``(max_token + 2)^k <= 2^63 - 1``, in exact integers (2 for
    ids below 2^31, 4 for a 50k vocabulary)."""
    base = int(max_token) + 2
    k = 1
    while base ** (k + 1) <= 2**63 - 1:
        k += 1
    return k


def _suffix_ranks(
    df: DataFrame, tokens_col: str, id_col: str, max_token: int, fanout: int, k0: int
) -> tuple[DataFrame, DataFrame, dict]:
    """The shared rank build: every suffix's final key-local rank
    ``(__g, __s)`` (module docstring).  Returns ``(untied, tied, seen)``
    — both frames (__d, off, __g, __s) over checkpointed round state,
    ``untied`` the suffixes whose k0-token key is unique (``__s`` = 0),
    ``tied`` the rest — and the observations of the initial ranking:
    ``max_len`` (None on a corpus with no suffix), ``d_lo`` / ``d_hi``
    (least and greatest document id with a suffix)."""
    base = int(max_token) + 2  # +1 for the value shift, +1 so 0 = absent

    toks = F.col(tokens_col)
    guarded = F.transform(
        toks,
        lambda t: F.when((t >= 0) & (t <= max_token), t.cast("long") + 1).otherwise(
            F.raise_error(
                F.lit(
                    "suffix_order: token outside [0, max_token] breaks "
                    "sentinel ordering; remap ids or raise max_token"
                )
            )
        ),
    )
    # packed key per position: sum_{i<k0} shifted[p+i] * base^(k0-1-i);
    # try_element_at (1-based) returns NULL past the end under ANSI mode,
    # and the coalesce(0) encodes "suffix ended" below every real token
    packed = F.expr(
        f"transform(sequence(1, size(__t1)), p -> "
        f"aggregate(sequence(0, {k0} - 1), CAST(0 AS BIGINT), (acc, i) -> "
        f"acc * CAST({base} AS BIGINT)"
        f" + coalesce(try_element_at(__t1, p + i), CAST(0 AS BIGINT))))"
    )
    # zero-token docs emit no suffix; dropping them first also keeps
    # sequence(1, 0) — which descends to [1, 0] — away from the 1-based
    # try_element_at (index 0 raises)
    pos = (
        df.filter(F.size(toks) > 0)
        .select(F.col(id_col).alias("__d"), guarded.alias("__t1"))
        .select("__d", F.posexplode(packed).alias("off", "__g"))
    )

    # initial rank: (g, 0), tied when the key occurs twice — one window
    # over the key, so one hash exchange and no numbering
    n_tied = F.sum(F.col("__tied").cast("long"))
    ranks, seen0 = _checkpoint_observed(
        pos.select(
            "__d", "off", "__g", F.lit(0).cast("long").alias("__s"),
            (F.count(F.lit(1)).over(Window.partitionBy("__g")) > 1).alias("__tied"),
        ),
        max_len=F.max("off") + 1, tied=n_tied, d_lo=F.min("__d"), d_hi=F.max("__d"),
    )

    max_len = seen0["max_len"] or 0
    tied = seen0["tied"]
    span = k0
    # settled rows never change rank again: they stay lazy filters of
    # their checkpoints (each row keeps its __tied flag), and only the
    # shrinking active set is checkpointed each round — writes total
    # O(T + sum active_t) instead of O(T * rounds)
    untied = ranks.filter(~F.col("__tied"))
    settled, active = [], ranks.filter("__tied")
    w_doc = Window.partitionBy("__d").orderBy("off")
    nbr = [f"{c}{i}" for i in range(1, fanout) for c in ("__g", "__s")]
    w_grp = Window.partitionBy("__g", "__s").orderBy(*nbr)
    while span < max_len and tied:
        # the neighbor ranks at off + i*span are DOC-LOCAL (suffixes
        # never cross documents) and offsets are dense, so lead(i*span)
        # over the doc partition replaces self-equi-joins — and ALL
        # fanout-1 leads ride ONE exchange on __d, which is why a-ary
        # refinement (span *= fanout per round) costs the same per round
        # as classic doubling while needing log_fanout rounds.  Computed
        # for all rows because a led row may itself be settled; past the
        # end both halves read -1, below every real key
        withr2 = reduce(DataFrame.unionByName, [untied, *settled, active]).select(
            "__d", "off", "__g", "__s", "__tied",
            *[
                F.coalesce(F.lead(c, i * span).over(w_doc), F.lit(-1)).alias(f"{c}{i}")
                for i in range(1, fanout)
                for c in ("__g", "__s")
            ],
        )
        # both windows below share one exchange: HashPartitioning(__g,
        # __s) satisfies the (__g, __s, neighbors) clustering of the
        # count window
        upd, seen = _checkpoint_observed(  # lineage cut per round
            withr2.filter("__tied").select(
                "__d", "off", "__g",
                (F.col("__s") + F.rank().over(w_grp) - 1).alias("__s"),
                (F.count(F.lit(1)).over(
                    Window.partitionBy("__g", "__s", *nbr)
                ) > 1).alias("__tied"),
            ),
            tied=n_tied,
        )
        tied = seen["tied"]
        settled.append(upd.filter(~F.col("__tied")))
        active = upd.filter("__tied")
        span *= fanout

    return (
        untied.drop("__tied"),
        reduce(DataFrame.unionByName, [*settled, active]).drop("__tied"),
        seen0,
    )


def suffix_order(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n_partitions: int | None = None,
    max_token: int = 2**31 - 1,
    fanout: int = 8,
) -> DataFrame:
    """Generalized suffix array of the corpus: one row per (document,
    offset) suffix with ``sa_idx`` — the suffix's 0-based position in
    global lexicographic suffix order (shorter-prefix-first; ties
    between byte-identical suffixes broken by (id_col, off), making the
    order total and engine-portable).

    Initial keys pack the widest k0 leading tokens that fit one int64
    (``(max_token + 2)^k0 <= 2^63 - 1``; absent slots = 0, so shorter
    prefixes sort first).  Each round widens the compared prefix by
    ``fanout``x (a-ary refinement, not plain doubling: the fanout-1
    neighbor-rank lookups are doc-local leads sharing ONE window
    exchange, so a wider round costs the same two exchanges as a binary
    one), giving ceil(log_fanout(max_len / k0)) rounds; only still-tied
    positions re-rank (module docstring).  The key-local ranks are then
    numbered in ``(g, s, id_col, off)`` order with
    ``dictionary.global_cumsum``, checkpointed, and its pin released.
    Returns (id_col, off, sa_idx); ``off`` is 0-based.  The
    exact-substring statistics never build this frame."""
    untied, tied, _ = _suffix_ranks(
        df, tokens_col, id_col, max_token, fanout, _key_width(max_token)
    )
    numbered = global_cumsum(
        untied.unionByName(tied), ["__g", "__s", "__d", "off"], "sa_idx",
        n_partitions=n_partitions,
    )
    out = numbered.select(F.col("__d").alias(id_col), "off", "sa_idx").localCheckpoint()
    release_pin(numbered)
    return out


def _adjacent_lcp(
    src: DataFrame,
    tokens_col: str,
    id_col: str,
    n_partitions: int | None,
    max_token: int,
    fanout: int,
    k0: int | None = None,
):
    """The shared build of every SA statistic: rank the suffixes on
    k0-token keys (default: the widest that fit ``max_token``), pair
    each suffix of a tied key group with its predecessor in suffix order
    inside the group — a ``lag`` over the group ordered by ``(s, doc,
    off)``, so byte-identical suffixes pair in (doc, off) order — and
    compute the exact LCP of every such pair directly on the two suffix
    slices with JVM higher-order functions (zip_with + first mismatch
    position) — no per-row Python; work is O(min suffix len) per pair,
    embarrassingly parallel (an all-levels rank-table greedy descent is
    the asymptotically tighter alternative at extreme document lengths;
    at LM context sizes the direct compare wins on constant factor and
    memory).  Adjacent pairs straddling two key groups share fewer than
    k0 tokens and are not built.

    Caveat: both sides' whole document token arrays ride the compare
    exchange, so its traffic is O(duplicate mass x doc_len) — quadratic
    in document length for long duplicated documents.  ``n_partitions``
    (default: the session's shuffle partitions) sets the compare
    parallelism.

    Returns (pairs, max_lcp, multi).  pairs is checkpointed and carries
    (__da, __oa, __db, __ob, __lcp) — no token arrays — so each
    statistic reads it without writing the compare exchange again.
    max_lcp is the largest ``__lcp``, observed on the pairs' checkpoint
    job (None when there is no pair); multi tells whether the corpus has
    at least two suffixes, read off the ranks' observed maxima."""
    if n_partitions is None:
        n_partitions = int(src.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    if k0 is None:
        k0 = _key_width(max_token)
    _, tied, seen = _suffix_ranks(src, tokens_col, id_col, max_token, fanout, k0)
    max_len = seen["max_len"]
    multi = max_len is not None and (max_len > 1 or seen["d_lo"] != seen["d_hi"])

    w = Window.partitionBy("__g").orderBy("__s", "__d", "off")
    docs = src.select(
        F.col(id_col).alias("__doc"), F.col(tokens_col).alias("__toks")
    )
    pairs = (
        tied.select(
            F.lag("__d").over(w).alias("__da"), F.lag("off").over(w).alias("__oa"),
            F.col("__d").alias("__db"), F.col("off").alias("__ob"),
        )
        .filter(F.col("__oa").isNotNull())  # a group's least suffix
        .join(docs.withColumnRenamed("__doc", "__da")
                  .withColumnRenamed("__toks", "__ta"), "__da")
        .join(docs.withColumnRenamed("__doc", "__db")
                  .withColumnRenamed("__toks", "__tb"), "__db")
        # the zip_with below is compute-dense per row while the frame is
        # small in bytes: pin the parallelism so AQE coalescing cannot
        # serialize the comparison work
        .repartition(n_partitions)
    )
    suf_a = F.slice(F.col("__ta"), F.col("__oa") + 1, F.size("__ta") - F.col("__oa"))
    suf_b = F.slice(F.col("__tb"), F.col("__ob") + 1, F.size("__tb") - F.col("__ob"))
    # zip_with pads the shorter side with NULL; (x = NULL) is NULL ->
    # coalesce(false) marks the first past-the-end slot as a mismatch, so
    # prefix-of-the-other pairs resolve to min length without a branch
    z = F.zip_with(suf_a, suf_b, lambda x, y: F.coalesce(x == y, F.lit(False)))
    first_bad = F.array_position(z, False)
    lcp = F.when(
        first_bad == 0, F.least(F.size(suf_a), F.size(suf_b))
    ).otherwise(first_bad - 1)
    # checkpointed: the statistics read the pairs more than once (a
    # filter at the max and the coverage filter), and the compare
    # exchange carries both documents' token arrays
    pairs, seen = _checkpoint_observed(
        pairs.select("__da", "__oa", "__db", "__ob", lcp.cast("long").alias("__lcp")),
        max_lcp=F.max("__lcp"),
    )
    return pairs, seen["max_lcp"], multi


def _longest_from_pairs(
    pairs: DataFrame, src: DataFrame, max_lcp, multi: bool, tokens_col: str, id_col: str
) -> DataFrame:
    """``longest_duplicate_span`` of the adjacent-LCP ``pairs`` whose
    max ``__lcp`` is ``max_lcp``: the least md5 over the spans at that
    max.  Only the rows at the max are joined back to ``src`` for their
    tokens.  With no pair (``max_lcp`` None) no two suffixes share a
    token: one ``(0, md5(""))`` row when the corpus has two suffixes
    (``multi``), none otherwise."""
    if max_lcp is None:
        return src.sparkSession.range(1 if multi else 0).select(
            F.lit(0).cast("long").alias("dup_len"), F.md5(F.lit("")).alias("span_fp")
        )
    m = F.lit(max_lcp).cast("long")
    top = pairs.filter(F.col("__lcp") == m).select(
        F.col("__da").alias(id_col), F.col("__oa").alias("__o")
    )
    span = F.slice(F.col(tokens_col), F.col("__o") + 1, m)
    fp = F.md5(F.array_join(F.transform(span, lambda x: x.cast("string")), ","))
    # every row carries the same dup_len, so the least fingerprint is a
    # top-1: a per-partition take, with no exchange
    return (
        top.join(src, id_col)
        .select(m.alias("dup_len"), fp.alias("span_fp"))
        .orderBy("span_fp")
        .limit(1)
    )


def _coverage_from_pairs(
    pairs: DataFrame, src: DataFrame, min_len: int, tokens_col: str,
    id_col: str, n_tok_col: str, round_to: int,
) -> DataFrame:
    """``duplicate_coverage`` of the adjacent-LCP ``pairs``: both sides'
    intervals of every pair with lcp >= ``min_len``, unioned per
    document by a sweep line, joined back to every ``src`` document."""
    hits = pairs.filter(F.col("__lcp") >= min_len)
    iv = hits.select(
        F.col("__da").alias("__doc"), F.col("__oa").alias("__s"),
        (F.col("__oa") + F.col("__lcp")).alias("__e"),
    ).unionByName(
        hits.select(
            F.col("__db").alias("__doc"), F.col("__ob").alias("__s"),
            (F.col("__ob") + F.col("__lcp")).alias("__e"),
        )
    )
    w = Window.partitionBy("__doc").orderBy("__s", "__e")
    prev_max = F.max("__e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    covered = F.greatest(
        F.col("__e") - F.greatest(F.col("__s"), F.coalesce(prev_max, F.col("__s"))),
        F.lit(0),
    )
    per_doc = (
        iv.select("__doc", covered.alias("__cov"))
        .groupBy("__doc")
        .agg(F.sum("__cov").alias("__dup"))
    )
    return (
        src.select(
            id_col, F.size(tokens_col).cast("long").alias(n_tok_col)
        )
        .join(per_doc.withColumnRenamed("__doc", id_col), id_col, "left")
        .select(
            id_col,
            n_tok_col,
            F.coalesce("__dup", F.lit(0)).cast("long").alias("dup_tokens"),
            # NULL for a zero-token doc, as SQL's 0.0/0 gives
            F.when(
                F.col(n_tok_col) > 0,
                F.round(
                    F.coalesce("__dup", F.lit(0)).cast("double") / F.col(n_tok_col),
                    round_to,
                ),
            ).alias("dup_frac"),
        )
    )


def _audit(
    df: DataFrame, min_len: int | None, longest: bool, tokens_col: str,
    id_col: str, n_tok_col: str, n_partitions: int | None, max_token: int,
    fanout: int, round_to: int,
) -> tuple[DataFrame | None, DataFrame | None]:
    """(coverage at ``min_len`` or None, longest span or None) from one
    ``_adjacent_lcp`` build, which compares only pairs sharing >= k0
    tokens.  Both stay exact:

      * coverage caps k0 at ``min_len``, so a pair the build leaves out
        cannot reach the threshold;
      * the longest span is read off the build when its max LCP reaches
        k0 (every pair left out is shorter).  Otherwise — no k0-gram
        repeats — the pairs are built again at k0 = 1, where every pair
        sharing a token lies inside a key group."""
    # one materialization of the (id, tokens) projection feeds the rank
    # build, both per-side token lookups and the statistics' joins back
    # — the upstream lineage (scan + tokenizer) runs once
    src = df.select(id_col, tokens_col).localCheckpoint()
    k0 = _key_width(max_token)
    if min_len is not None:
        k0 = max(1, min(k0, min_len))
    pairs, max_lcp, multi = _adjacent_lcp(
        src, tokens_col, id_col, n_partitions, max_token, fanout, k0
    )
    cov = top = None
    if min_len is not None:
        cov = _coverage_from_pairs(
            pairs, src, min_len, tokens_col, id_col, n_tok_col, round_to
        )
    if longest:
        if multi and k0 > 1 and (max_lcp or 0) < k0:
            pairs, max_lcp, _ = _adjacent_lcp(
                src, tokens_col, id_col, n_partitions, max_token, fanout, 1
            )
        top = _longest_from_pairs(pairs, src, max_lcp, multi, tokens_col, id_col)
    return cov, top


def longest_duplicate_span(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n_partitions: int | None = None,
    max_token: int = 2**31 - 1,
    fanout: int = 8,
) -> DataFrame:
    """The longest token substring occurring at two distinct (document,
    offset) positions in the corpus — exact, any length (the statistic
    that motivates Lee et al.'s >= 50-token dedup threshold).  One row:
    ``dup_len`` and ``span_fp`` (md5 of the comma-joined span; when
    several distinct spans tie at the max, the lexicographically least
    fingerprint — well-defined regardless of suffix-order tie
    arrangement between equal suffixes).

    Classic reduction: the pair achieving the global max longest-common-
    prefix is ADJACENT in suffix order, so only adjacent pairs are
    examined (``_adjacent_lcp``; ``_audit`` for the pairs it leaves
    out).  A corpus with no repeated token at all yields dup_len = 0
    with the empty-span fingerprint (md5 of ""); fewer than two
    suffixes -> no adjacent pair -> empty result."""
    return _audit(
        df, None, True, tokens_col, id_col, "n_tok", n_partitions, max_token, fanout, 6
    )[1]


def duplicate_coverage(
    df: DataFrame,
    min_len: int = 16,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n_tok_col: str = "n_tok",
    n_partitions: int | None = None,
    max_token: int = 2**31 - 1,
    fanout: int = 8,
    round_to: int = 6,
) -> DataFrame:
    """Exact per-document duplicate-token coverage at threshold
    ``min_len`` — the Lee et al. 2022 ExactSubstr statistic: for each
    document, how many of its token positions sit inside SOME substring
    of >= ``min_len`` tokens that also occurs elsewhere in the corpus
    (a second (document, offset) position — including elsewhere in the
    same document)?  This is the exact quantity the fixed-n fingerprint
    mask (``tokens.token_loss_mask``) approximates with one n; the
    dedup decision "drop/mask spans of >= 50 duplicated tokens" reads
    directly off it.

    Correctness rests on the LCP-interval property: suffixes sharing a
    >= L prefix form a CONTIGUOUS block in suffix order, and a suffix's
    longest prefix shared with ANY other suffix equals the max of its
    two adjacent LCPs — so emitting BOTH sides' intervals
    ``[off, off + lcp)`` of every adjacent pair with lcp >= L and
    unioning per document covers exactly the duplicated positions.

    Shape: ``_adjacent_lcp`` (ranks + the LCP of adjacent pairs inside
    tied key groups, k0 <= L) -> filter to lcp >= L -> 2 interval rows
    per surviving pair -> classic sweep-line union per document
    (running-max window over a DOC-partitioned frame — never global) ->
    one row per document joined back so dup-free docs report 0.
    Returns (id_col, n_tok, dup_tokens, dup_frac); ``dup_frac`` is NULL
    for a zero-token document."""
    return _audit(
        df, min_len, False, tokens_col, id_col, n_tok_col, n_partitions,
        max_token, fanout, round_to,
    )[0]


def exact_substring_audit(
    df: DataFrame,
    min_len: int = 16,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n_tok_col: str = "n_tok",
    n_partitions: int | None = None,
    max_token: int = 2**31 - 1,
    fanout: int = 8,
    round_to: int = 6,
) -> tuple[DataFrame, DataFrame]:
    """``(duplicate_coverage(...), longest_duplicate_span(...))`` of one
    corpus from ONE rank build: the adjacent-LCP pairs are built and
    checkpointed once (ids, offsets and lcp only — no token arrays), and
    both statistics read them (the longest span builds again only when
    no compared pair shares k0 tokens, ``_audit``).  Same arguments and
    outputs as the two functions it stands in for."""
    return _audit(
        df, min_len, True, tokens_col, id_col, n_tok_col, n_partitions,
        max_token, fanout, round_to,
    )
