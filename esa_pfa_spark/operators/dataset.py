"""Dataset-assembly operators: the last mile of a training-data pipeline.

  * ``hash_split``        — deterministic train/val/test assignment
  * ``mixture_sample``    — per-source sampling rates (mixture weighting)
  * ``deterministic_shuffle`` — seeded global shuffle order for export

All three are pure column math over an md5 keyed hash (bit-identical
Spark/DuckDB/Python — the repo's portability primitive), so membership is
a property of the ROW, not of the run: re-executing on different
partitioning, cluster size, or engine yields the same assignment — the
reproducibility contract a training pipeline needs (no rand(), which is
per-task-seeded and non-portable).

Scale notes (100 TB): split/sample are map-only (no shuffle; predicate
pushes to the scan after partition pruning).  The shuffle ORDER is one
hash-prefix bucket shuffle + per-bucket sort and offset numbering —
never a partition-less window (see deterministic_shuffle docstring).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from esa_pfa_spark.functions.time import seconds

BUCKETS = 10_000


def _hash_bucket(id_col, seed: int, buckets: int = BUCKETS):
    """Deterministic bucket in [0, buckets): md5 of ``seed || ':' || id``,
    first 6 hex chars as int (fits int32).  DuckDB equivalent:
    ``CAST(('0x' || substr(md5(seed || ':' || id), 1, 6)) AS INTEGER) %
    buckets``."""
    key = F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))
    return (F.conv(F.substring(F.md5(key), 1, 6), 16, 10).cast("int") % buckets).cast("int")


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    seed: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Assign each row to a named split with probability ~= its weight,
    deterministically in ``id_col``: bucket < 0.9*B -> train, etc.
    Weights must sum to 1 (+-1e-9).  Map-only."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    b = _hash_bucket(id_col, seed)
    expr, edge = None, 0.0
    names = list(weights)
    for name in names[:-1]:
        edge += weights[name]
        cond = b < int(round(edge * BUCKETS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    )
    return df.withColumn(out_col, expr)


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-group deterministic sampling (mixture weighting): keep a row of
    group g iff bucket(id) < round(rates[g] * B).  Groups absent from
    ``rates`` use ``default_rate``.  Map-only; the rate table is a literal
    CASE chain (tiny), so no join at all.

    Thresholds are computed DRIVER-side as ``int(round(rate * B))`` (as
    ``hash_split`` does for its edges): an executor-side
    ``(rate * B).cast('int')`` truncates the IEEE double product, so a
    rate whose product lands just below an integer (0.29 * 10000 =
    2899.999...) would lose a bucket vs the documented rate*B semantics
    and vs a decimal-arithmetic SQL oracle."""
    b = _hash_bucket(id_col, seed)
    thr = None
    for g, r in rates.items():
        cond = F.col(group_col) == g
        t = int(round(r * BUCKETS))
        thr = F.when(cond, t) if thr is None else thr.when(cond, t)
    default_thr = int(round(default_rate * BUCKETS))
    thr = F.lit(default_thr) if thr is None else thr.otherwise(default_thr)
    return df.filter(b < thr)


def deterministic_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 0,
    n_partitions: int | None = None,
    out_col: str = "shuffle_pos",
) -> DataFrame:
    """Seeded global shuffle order for training export: rank every row by
    ``md5(seed || ':' || id)`` (a pseudo-random but reproducible
    permutation).  Equivalent SQL is ``row_number() OVER (ORDER BY
    md5(...))`` — a partition-less window.

    The scalable plan uses CONTENT-DEFINED buckets, not sampled range
    partitioning: bucket = the hash key's leading 16 bits mapped onto
    ``n_partitions`` contiguous ranges.  Sampled boundaries
    (``repartitionByRange``) are re-drawn per JOB — with a
    non-deterministic upstream (round-robin repartition, sample, limit)
    the counts pass and the numbering pass can disagree on where a
    partition starts and silently corrupt ranks (caught by
    tests/test_dataset.py::test_deterministic_shuffle_partition_invariant).
    Hash-prefix buckets are a pure function of the ROW: both passes agree
    under any input partitioning, and md5 uniformity keeps them balanced.
    Per-bucket counts go to the driver (n_partitions scalars); each
    bucket then sorts its own slice and numbers from its offset — a
    doc-partitioned applyInPandas group, never a global window.  Ties
    (md5 collisions) are broken by the id, so the order is total."""
    spark = df.sparkSession
    if n_partitions is None:
        n_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    prefix = F.conv(F.substring(key, 1, 4), 16, 10).cast("int")
    bucket = F.floor(prefix * n_partitions / 65536).cast("int")
    keyed = df.withColumn("__shufkey", key).withColumn("__b", bucket)

    counts = keyed.groupBy("__b").count().collect()
    sizes = np.zeros(n_partitions, dtype=np.int64)
    for r in counts:
        sizes[r["__b"]] = r["count"]
    offsets = np.concatenate([[0], np.cumsum(sizes)[:-1]])

    cols = list(df.columns)
    out_schema = T.StructType(
        [keyed.schema[c] for c in cols] + [T.StructField(out_col, T.LongType(), False)]
    )

    def number(pdf):
        b = int(pdf["__b"].iloc[0])
        pdf = pdf.sort_values(["__shufkey", id_col], kind="mergesort").reset_index(
            drop=True
        )
        pdf[out_col] = np.arange(
            offsets[b], offsets[b] + len(pdf), dtype=np.int64
        )
        return pdf[cols + [out_col]]

    return keyed.groupBy("__b").applyInPandas(number, schema=out_schema)


def split_leakage(
    pairs: DataFrame,
    split_df: DataFrame,
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Cross-split near-duplicate leaks: candidate pairs whose endpoints
    landed in DIFFERENT splits.  Each row is an eval-contamination leak —
    a test/val document with a near-duplicate in train defeats the
    held-out measurement (the pairwise form of the benchmark
    decontamination gate; the standard remedy is splitting by CLUSTER
    canonical id instead of raw doc id).

    Shape: two equi-joins of the pair list against the map-only split
    assignment — the pair side is tiny relative to the corpus, so both
    joins broadcast it; no corpus shuffle."""
    a = split_df.select(
        F.col(id_col).alias(f"{id_col}_a"), F.col(split_col).alias("split_a")
    )
    b = split_df.select(
        F.col(id_col).alias(f"{id_col}_b"), F.col(split_col).alias("split_b")
    )
    return (
        pairs.join(a, f"{id_col}_a")
        .join(b, f"{id_col}_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select(f"{id_col}_a", f"{id_col}_b", "split_a", "split_b")
    )


def stratified_fixed_k(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    k: int = 100,
    seed: int = 0,
    rank_col: str = "samp_rank",
) -> DataFrame:
    """EXACTLY-k-per-group deterministic sample (balanced eval sets,
    per-source audit panels): rank each group's rows by the seeded md5
    hash of the id (a reproducible pseudo-random order — same portability
    contract as ``hash_split``) and keep ranks 1..k.  Groups smaller than
    k keep everything.

    Unlike rate-based ``mixture_sample`` (binomial counts: ~rate*n per
    group, never exact), the rank gives exact counts at the cost of one
    Exchange on the group key.  Scale bound: a group sorts in one task —
    the per-key window bound shared with ``top_k_per_group``; group
    cardinality here is source/domain-sized (thousands), not row-scaled."""
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(key.asc(), F.col(id_col).asc())
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def negative_samples(
    df: DataFrame,
    id_col: str = "doc_id",
    n_neg: int = 3,
    seed: int = 0,
    n_partitions: int | None = None,
) -> DataFrame:
    """Deterministic corpus-wide negative sampling for contrastive
    training: each row gets ``n_neg`` negatives drawn pseudo-randomly
    (seeded md5) from the WHOLE corpus, never itself.  Emits
    ``(id, neg_rank 1..n_neg, neg_id)``.

    Construction: dense-rank the ids 0..N-1 (``dictionary.dense_ids`` —
    no global window), then negative i = the id at index
    ``(idx + 1 + h(seed, i, id) % (N-1)) % N``.  The +1 and mod-(N-1)
    offset guarantees neg != self; collisions BETWEEN a row's negatives
    are possible (sampling with replacement) and deterministic.  Two
    shuffles: the dense-id build and the index equi-join back to ids —
    both O(corpus), no broadcast of row-scaled data.  Membership is a
    pure function of (seed, id, corpus), so re-runs/backfills regenerate
    identical pairs — the reproducibility contract of ``hash_split``."""
    from esa_pfa_spark.operators.dictionary import dense_ids

    ids = dense_ids(df.select(id_col), id_col, out_col="__idx",
                    n_partitions=n_partitions)
    n_total = ids.count()
    if n_total < 2:
        raise ValueError("negative sampling needs >= 2 distinct ids")
    i_col = F.explode(F.sequence(F.lit(1), F.lit(n_neg))).alias("neg_rank")
    key = F.concat(
        F.lit(f"{seed}:"), F.col("neg_rank").cast("string"),
        F.lit(":"), F.col(id_col).cast("string"),
    )
    off = 1 + F.conv(F.substring(F.md5(key), 1, 6), 16, 10).cast("long") % (n_total - 1)
    exploded = (
        ids.select(id_col, "__idx", i_col)
        .withColumn("__nidx", (F.col("__idx") + off) % n_total)
    )
    tgt = ids.select(
        F.col("__idx").alias("__nidx"), F.col(id_col).alias("neg_id")
    )
    return (
        exploded.join(tgt, "__nidx")
        .select(id_col, F.col("neg_rank").cast("int").alias("neg_rank"), "neg_id")
    )


def mixture_by_token_budget(
    df: DataFrame,
    budgets: dict[str, int],
    group_col: str = "source",
    id_col: str = "doc_id",
    ntok_col: str = "n_tok",
    seed: int = 0,
) -> DataFrame:
    """Token-BUDGET mixture sampling: real LLM data mixes are specified as
    tokens-per-source, not row rates.  Per source, documents are taken in
    the seeded md5 hash order (the repo's reproducible pseudo-random
    permutation) while the running token total stays <= the source's
    budget; the first doc that would cross the budget is cut, as is
    everything after it.  Sources absent from ``budgets`` are dropped.

    Exactness: the selected set is within one document of the budget
    (never over), deterministic in (seed, corpus) — reruns and backfills
    regenerate the identical mix.  Plan: one window cumsum per source
    (hash-ordered) + a map-only filter; one Exchange on the source key,
    per-source rows bound the window task."""
    if not budgets:
        raise ValueError("budgets must be non-empty")
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(key.asc(), F.col(id_col).asc())
    cum = F.sum(ntok_col).over(w)
    budget = None
    for g, b in budgets.items():
        cond = F.col(group_col) == g
        budget = F.when(cond, int(b)) if budget is None else budget.when(cond, int(b))
    return (
        df.withColumn("__cum", cum)
        .withColumn("__budget", budget)
        .filter(F.col("__budget").isNotNull() & (F.col("__cum") <= F.col("__budget")))
        .select(id_col, group_col, F.col(ntok_col), F.col("__cum").cast("long").alias("cum_tok"))
    )


def purged_time_folds(
    df: DataFrame,
    ts: str = "ts",
    k: int = 5,
    embargo=None,
) -> DataFrame:
    """Purged k-fold time-series cross-validation assignment with embargo
    (the leakage-safe CV scheme for serially-correlated labels, de Prado
    2018 ch.7): the corpus time span is cut into ``k`` contiguous folds;
    for each test fold, candidate TRAINING rows whose timestamp falls
    within ``embargo`` of the fold's range are PURGED — features built
    near the test window cannot bleed label information across the
    boundary.  The companion of the engine's PIT as-of core: as-of joins
    keep features leakage-free *within* a row, purged folds keep the
    *evaluation protocol* leakage-free across rows.

    Returns ``df`` exploded k-fold-wise: every input row appears once per
    fold with ``(fold int, role string)`` appended, role in
    {'test','train','purged'}.

    Fold geometry is integer-exact and engine-portable: with ``eus`` =
    epoch microseconds, ``span1 = max_eus - min_eus + 1``, a row belongs
    to fold ``floor((eus - min_eus) * k / span1)`` (equal-width slices,
    every row in [0, k)), and fold f covers
    ``[min_eus + ceil(f*span1/k), min_eus + ceil((f+1)*span1/k) - 1]``.
    No driver collect: the two-scalar bounds row rides a broadcast cross
    join.  Everything else is map-only column math — the k-way explode is
    the output contract (one evaluation copy per fold), not a shuffle.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    e_s = seconds(embargo or 0.0)
    if e_s < 0:
        raise ValueError("embargo must be >= 0")
    e_us = int(round(e_s * 1e6))

    # Integer arithmetic throughout (DIV, not float /): epoch-microsecond
    # products exceed double's 53-bit exactness, and a boundary row
    # misassigned by one ulp would silently swap test<->purged.
    eus = F.unix_micros(F.col(ts).cast("timestamp_ltz"))
    bounds = df.agg(
        F.min(eus).alias("__min_eus"),
        (F.max(eus) - F.min(eus) + F.lit(1)).alias("__span1"),
    )
    x = (
        df.withColumn("__eus", eus)
        .crossJoin(F.broadcast(bounds))
        .withColumn("__num", (F.col("__eus") - F.col("__min_eus")) * k)
        .withColumn("__rf", F.expr("__num DIV __span1").cast("int"))
        .select("*", F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("fold"))
        .withColumn("__lo", F.col("__min_eus")
                    + F.expr(f"(fold * __span1 + {k - 1}) DIV {k}"))
        .withColumn("__hi", F.col("__min_eus")
                    + F.expr(f"((fold + 1) * __span1 + {k - 1}) DIV {k}") - 1)
    )
    role = (
        F.when(F.col("__rf") == F.col("fold"), F.lit("test"))
        .when(
            (F.col("__eus") >= F.col("__lo") - e_us)
            & (F.col("__eus") <= F.col("__hi") + e_us),
            F.lit("purged"),
        )
        .otherwise(F.lit("train"))
    )
    return x.select(*df.columns, "fold", role.alias("role"))


def temperature_mixture_sample(
    df: DataFrame,
    alpha: float = 0.5,
    keep_frac: float = 0.5,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Temperature-flattened mixture resampling (the multilingual/domain
    re-weighting of mBERT/XLM-R/LLaMA: sample sources proportionally to
    ``p_s^alpha`` instead of their natural share ``p_s``, boosting the
    tail): with ``p_s = n_s/N``, target share ``q_s = p_s^alpha /
    sum_t p_t^alpha`` and overall budget ``keep_frac*N`` rows, group s
    keeps ``rate_s = min(1, keep_frac*N*q_s/n_s)`` of its rows via the
    deterministic md5 bucket (membership is a property of the row).

    Unlike ``mixture_sample`` (rates given by the caller, thresholds as
    plan literals) the rates here DERIVE from corpus counts, so they ride
    the plan: one |sources|-row groupBy + two tiny broadcasts — no
    collect, recomputed consistently on any engine.

    Exactness: ``sum_t p_t^alpha`` accumulates 6dp-rounded decimal terms
    (order-independent — a plain double sum would make ``q_s`` depend on
    which engine summed the sources in what order, and a 1-ulp wobble
    through floor(rate*B) flips bucket membership).  Returns the kept
    rows with ``rate`` and ``thr`` attached for auditability."""
    if not 0 < keep_frac <= 1:
        raise ValueError("keep_frac must be in (0, 1]")
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__ns"))
    n_tot = counts.agg(F.sum("__ns").alias("__n"))
    counts = counts.crossJoin(F.broadcast(n_tot))
    z = counts.agg(
        F.sum(
            F.round(
                F.pow(F.col("__ns").cast("double") / F.col("__n"), F.lit(float(alpha))),
                6,
            ).cast("decimal(18,6)")
        ).cast("double").alias("__z")
    )
    rates = (
        counts.crossJoin(F.broadcast(z))
        .withColumn(
            "__q",
            F.round(
                F.pow(F.col("__ns").cast("double") / F.col("__n"), F.lit(float(alpha))), 6
            ) / F.col("__z"),
        )
        .withColumn(
            "rate",
            F.least(
                F.lit(1.0),
                F.lit(float(keep_frac)) * F.col("__n") * F.col("__q") / F.col("__ns"),
            ),
        )
        .withColumn("thr", F.floor(F.col("rate") * BUCKETS).cast("int"))
        .select(group_col, "rate", "thr")
    )
    b = _hash_bucket(id_col, seed)
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(b < F.col("thr"))
        .select(*df.columns, "rate", "thr")
    )


def curriculum_order(
    df: DataFrame,
    score: str,
    n_stages: int = 4,
    id_col: str = "doc_id",
    seed: int = 0,
    ascending: bool = True,
) -> DataFrame:
    """Curriculum ordering for training export (easy-to-hard scheduling,
    Bengio et al. 2009): rows are staged by equal-frequency quantile bins
    of ``score`` (stage 0 = lowest scores when ``ascending``) and shuffled
    WITHIN each stage by the deterministic md5 key — the export reads
    ``ORDER BY stage, sort_key, id``: difficulty ramps across stages,
    order within a stage is an unbiased reproducible shuffle (no
    score-rank artifacts like all-shortest-first inside a stage).

    Returns ``df`` + ``(stage int, sort_key string)``.  Scale shape:
    staging reuses encode.quantile_bins (one percentile aggregate, edge
    array as plan literal, map-only assignment); the key is map-only md5;
    NO global ordering is materialized here — a sink that needs explicit
    positions feeds (stage, sort_key) through deterministic_shuffle's
    bucket-offset numbering instead of a partition-less window."""
    from esa_pfa_spark.operators.encode import quantile_bins

    staged = quantile_bins(df, value=score, n_bins=n_stages, out_col="stage")
    if not ascending:
        staged = staged.withColumn(
            "stage", (F.lit(n_stages - 1) - F.col("stage")).cast("int")
        )
    key = F.md5(F.concat(F.lit(f"cur{seed}:"), F.col(id_col).cast("string")))
    return staged.withColumn("sort_key", key)


def cluster_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    seed: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Leak-free train/val/test assignment: split by the near-dup CLUSTER
    canonical id, not the raw doc id — the remedy ``split_leakage``
    audits for.  Every member of a duplicate cluster lands in the SAME
    split (hash of the canonical), so a test document can never have a
    near-duplicate in train by construction; ``split_leakage`` over the
    same pair list returns zero rows (tested).

    ``pairs`` is any edge list with the same clusters — candidate pairs or
    ``dedup.minhash_band_edges``' star edges.  Shape: the cluster map of
    ``dedup.dedup_survivors`` (components, broadcast-left-joined onto the
    corpus), then the map-only md5 split on the canonical.  Returns
    ``(id_col, canonical_doc_id, split)``."""
    from esa_pfa_spark.operators.dedup import dedup_survivors

    return hash_split(
        dedup_survivors(docs, pairs, id_col=id_col),
        weights, id_col="canonical_doc_id", seed=seed, out_col=out_col,
    ).select(id_col, "canonical_doc_id", out_col)


def epoch_allocation(
    df: DataFrame,
    budget_tokens: int,
    alpha: float = 1.0,
    max_repeats: float = 4.0,
    group_col: str = "source",
    n_tok_col: str = "n_tok",
    round_to: int = 6,
) -> DataFrame:
    """Data-constrained epoch allocation (the repeats-per-source plan of
    Muennighoff et al. 2023, "Scaling Data-Constrained Language Models"):
    given per-source token inventories, a total training token budget and
    a temperature-flattened target mix ``q_s ∝ p_s^alpha``, each source
    contributes ``min(max_repeats, budget*q_s / n_s)`` epochs of its data
    — repeating scarce high-priority sources up to the cap (beyond ~4
    epochs repetition stops helping, the paper's headline finding) and
    letting surplus sources go underfull rather than over-repeating.

    Returns one row per source: ``(group, n_tokens, q_share, repeats,
    tokens_contributed)`` plus the same columns let callers audit budget
    utilization (sum(tokens_contributed) <= budget by construction when
    no source caps; capped sources release budget the caller may
    re-allocate in a second pass).

    Shape: one |sources|-row aggregate; the p^alpha normalizer is a
    6dp-rounded decimal sum (engine-exact, same rule as
    ``temperature_mixture_sample``); everything else is arithmetic over
    the tiny table."""
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    if max_repeats <= 0:
        raise ValueError("max_repeats must be positive")
    counts = df.groupBy(group_col).agg(
        F.sum(F.col(n_tok_col).cast("long")).alias("n_tokens")
    )
    tot = counts.agg(F.sum("n_tokens").alias("__n"))
    counts = counts.crossJoin(F.broadcast(tot))
    z = counts.agg(
        F.sum(
            F.round(
                F.pow(F.col("n_tokens").cast("double") / F.col("__n"),
                      F.lit(float(alpha))),
                6,
            ).cast("decimal(18,6)")
        ).cast("double").alias("__z")
    )
    q = (
        F.round(
            F.pow(F.col("n_tokens").cast("double") / F.col("__n"),
                  F.lit(float(alpha))),
            6,
        )
        / F.col("__z")
    )
    out = counts.crossJoin(F.broadcast(z)).withColumn("__q", q)
    repeats = F.least(
        F.lit(float(max_repeats)),
        F.lit(float(budget_tokens)) * F.col("__q") / F.col("n_tokens"),
    )
    return out.select(
        group_col,
        "n_tokens",
        F.round(F.col("__q"), round_to).alias("q_share"),
        F.round(repeats, round_to).alias("repeats"),
        F.round(repeats * F.col("n_tokens"), 0).cast("long").alias("tokens_contributed"),
    )


def weighted_sample_topk(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 0,
    round_to: int = 9,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement as a deterministic top-k:
    the Efraimidis–Spirakis exponential race (A-ES, IPL 2006).  Each row
    draws u = (h + 0.5) / 2^24 from the md5 hash primitive and races with
    priority ``-ln(u) / w`` — the k SMALLEST priorities are exactly a
    weight-proportional sample without replacement.  Used for
    token-budget-proportional document picks (w = n_chars / n_tokens):
    a doc twice as long is twice as likely to be drawn, yet membership
    is a pure function of (seed, id), reproducible on any engine or
    partitioning.

    Cross-engine determinism: ln() may differ by 1 ulp between the JVM
    and other engines, so the priority is rounded to ``round_to`` dp
    (ties then broken by id) — agreement holds unless a true value sits
    within ~1e-16 of a rounding boundary, which the oracle gate would
    surface immediately.

    Scale shape (100 TB): priority is map-only column math; the global
    top-k is ``ORDER BY ... LIMIT k`` which Catalyst executes as
    TakeOrderedAndProject — per-partition heap top-k then a k-sized
    merge on one reducer, never a global sort.  Rows with NULL, zero or
    negative weight cannot win a race and are filtered out up front
    (documented contract, matching the A-ES requirement w > 0).

    Reference parity: the reference's weighted reservoir selection over
    patch candidates (pfa-core RandomSampling task) — re-expressed as a
    deterministic hash race instead of stateful reservoir mutation.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))),
            1, 6,
        ),
        16, 10,
    ).cast("double")
    u = (h + F.lit(0.5)) / F.lit(float(1 << 24))
    w = F.col(weight_col).cast("double")
    pri = F.round(-F.log(u) / w, round_to)
    return (
        df.filter(w > 0)
        .withColumn("priority", pri)
        .orderBy("priority", id_col)
        .limit(k)
    )


def doremi_weights(
    df: DataFrame,
    domain_col: str = "source",
    loss_col: str = "loss",
    iters: int = 5,
    eta: float = 1.0,
    smoothing: float = 0.1,
) -> DataFrame:
    """DoReMi-style domain-mixture reweighting (Xie et al. 2023,
    "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    Pretraining"): iterated multiplicative-weights (Group-DRO) updates
    that UP-weight domains whose loss exceeds the current mixture's
    expected loss and down-weight easy ones.  This engine's
    deterministic analog uses a fixed per-domain proxy loss (the paper
    retrains a proxy model per round; at a data-engine's station the
    loss column arrives from a scorer such as ``-unigram_logprob``):

        alpha^0_i = 1/k
        mix_t     = sum_i alpha^t_i * loss_i        (expected mixture loss)
        w_i       = alpha^t_i * exp(eta * (loss_i - mix_t))
        alpha^{t+1}_i = (1-s) * w_i / sum_j w_j  +  s / k

    The smoothing term ``s`` is the paper's uniform mixing that keeps
    every domain sampled.  Fixed point: domains at the mixture loss keep
    their weight; the output trajectory (iter 0..iters) exposes the
    convergence the paper plots.

    Scale shape: ONE corpus-sized aggregate (groupBy domain: count +
    decimal-exact loss sum) produces the k-row domain table; every
    iteration after that is algebra over k rows (two 1-row aggregates
    riding broadcast crossJoins), lineage-cut per round with a k-row
    localCheckpoint (the pagerank discipline) — cost independent of
    corpus size, no collect of per-row data, no window.  Determinism
    across engines: the two cross-domain
    sums (mix_t, Z_t) accumulate ROUNDED decimal terms (9/12 dp) so
    partial-agg order cannot wiggle them; alpha is re-rounded to 9 dp
    each iteration, pinning the trajectory bit-for-bit to the DuckDB
    chained-CTE oracle (the logreg_fit / pagerank discipline).

    Returns one row per (iter, domain): ``iter``, ``domain_col``,
    ``n_docs``, ``base_loss`` (the proxy loss, 6 dp), ``alpha`` (9 dp).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    s = float(smoothing)
    if not 0.0 <= s < 1.0:
        raise ValueError("smoothing must be in [0, 1)")

    dom = df.groupBy(domain_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum(F.col(loss_col).cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("__loss"),
    )
    kk = dom.agg(F.count(F.lit(1)).alias("__k"))
    # k-row localCheckpoint per round — the pagerank lineage-cut
    # discipline.  Each round composes crossJoins OF AGGREGATES of the
    # previous round; without the cut the lazy lineage re-derives the
    # corpus-sized dom aggregate ~3^iters times and the plan (not the
    # data) blows up.  The checkpoint materializes k rows.
    cur = (
        dom.crossJoin(F.broadcast(kk))
        .withColumn("alpha", F.round(F.lit(1.0) / F.col("__k"), 9))
        .localCheckpoint()
    )

    def _snap(frame: DataFrame, it: int) -> DataFrame:
        return frame.select(
            F.lit(it).cast("int").alias("iter"),
            F.col(domain_col),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round("__loss", 6).alias("base_loss"),
            F.col("alpha"),
        )

    out = _snap(cur, 0)
    for it in range(1, iters + 1):
        mix = cur.agg(
            F.sum(
                F.round(F.col("alpha") * F.col("__loss"), 9).cast("decimal(20,9)")
            ).cast("double").alias("__mix")
        )
        wgt = cur.crossJoin(F.broadcast(mix)).withColumn(
            "__w",
            F.round(
                F.col("alpha")
                * F.exp(F.lit(float(eta)) * (F.col("__loss") - F.col("__mix"))),
                12,
            ),
        )
        z = wgt.agg(
            F.sum(F.col("__w").cast("decimal(28,12)")).cast("double").alias("__z")
        )
        cur = (
            wgt.crossJoin(F.broadcast(z))
            .withColumn(
                "alpha",
                F.round(
                    F.lit(1.0 - s) * (F.col("__w") / F.col("__z"))
                    + F.lit(s) / F.col("__k"),
                    9,
                ),
            )
            .drop("__w", "__mix", "__z")
            .localCheckpoint()
        )
        out = out.unionByName(_snap(cur, it))
    return out
