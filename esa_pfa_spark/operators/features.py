"""STX summary-statistics feature vectors.

Parity target: the reference's canonical per-patch feature vector
(pfa-core/.../op/FeatureWriter.java:159-176, computed at :363-383):
``mean, stdev, cvar = stdev/mean, min, max, p10, p50, p90,
skewness = (p90 - 2*p50 + p10)/(p90 - p10), count``.

Two physical forms:
  * ``stx_aggregate`` — native groupBy aggregation (JVM, codegen) with exact
    interpolated percentiles (``F.percentile``, not percentile_approx — the
    parity contract is numpy.allclose, SURVEY.md §4 note 4);
  * ``token_stats_arrow`` — per-row statistics over an ``array<int>`` token
    column as ONE scalar Arrow UDF returning a struct, computed by the
    vectorized ``segmented_stats`` kernel (the reference's per-patch path,
    FeatureWriter.processPatch, computed per row here).  ``batch_stats`` is
    the kernel's numpy front end for callers holding Python lists.

Percentile convention everywhere (engine, oracle, SQL oracles): linear
interpolation at ``p*(n-1)`` — numpy ``method='linear'``, Spark
``percentile``, DuckDB ``quantile_cont`` all agree.  stdev is the sample
standard deviation (ddof=1) to match Spark/DuckDB ``stddev`` defaults.
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import ArrowUDFType

STAT_NAMES = ["mean", "stdev", "cvar", "min", "max", "p10", "p50", "p90", "skewness", "count"]

_STATS_STRUCT = T.StructType(
    [
        T.StructField("mean", T.DoubleType()),
        T.StructField("stdev", T.DoubleType()),
        T.StructField("cvar", T.DoubleType()),
        T.StructField("min", T.DoubleType()),
        T.StructField("max", T.DoubleType()),
        T.StructField("p10", T.DoubleType()),
        T.StructField("p50", T.DoubleType()),
        T.StructField("p90", T.DoubleType()),
        T.StructField("skewness", T.DoubleType()),
        T.StructField("count", T.IntegerType()),
    ]
)


def stx_columns(value: str) -> list:
    """The STX vector as native aggregate Column expressions over ``value``."""
    c = F.col(value)
    mean = F.avg(c)
    std = F.stddev(c)  # sample stddev (ddof=1)
    p10 = F.percentile(c, F.lit(0.1))
    p50 = F.percentile(c, F.lit(0.5))
    p90 = F.percentile(c, F.lit(0.9))
    return [
        mean.alias("mean"),
        std.alias("stdev"),
        (std / mean).alias("cvar"),
        F.min(c).cast("double").alias("min"),
        F.max(c).cast("double").alias("max"),
        p10.alias("p10"),
        p50.alias("p50"),
        p90.alias("p90"),
        ((p90 - 2 * p50 + p10) / (p90 - p10)).alias("skewness"),
        F.count(c).cast("int").alias("count"),
    ]


def stx_aggregate(df: DataFrame, keys: list[str], value: str) -> DataFrame:
    """GroupBy STX aggregation — one row per key tuple with the 10-stat
    vector.  Pure JVM: partial aggregation map-side, exact percentiles."""
    return df.groupBy(*keys).agg(*stx_columns(value))


def stats_kernel(arr: np.ndarray) -> tuple:
    """The shared numpy kernel: STX vector of one 1-D array.
    FeatureWriter.java:363-383 formula set, exactly."""
    n = arr.size
    if n == 0:
        return (None,) * 9 + (0,)
    a = arr.astype(np.float64)
    mean = float(a.mean())
    std = float(a.std(ddof=1)) if n > 1 else 0.0
    cvar = std / mean if mean != 0.0 else float("nan")
    p10, p50, p90 = (float(x) for x in np.percentile(a, [10, 50, 90]))
    denom = p90 - p10
    skew = (p90 - 2 * p50 + p10) / denom if denom != 0.0 else float("nan")
    return (mean, std, cvar, float(a.min()), float(a.max()), p10, p50, p90, skew, n)


def segmented_stats(flat: np.ndarray, lengths: np.ndarray) -> dict[str, np.ndarray]:
    """Segmented (ragged-array) STX stats — fully vectorized: one global
    reduceat/lexsort pass, NO per-row Python.  ``flat`` is the concatenation
    of all non-empty segments in order; ``lengths`` has one entry per row
    (0 = empty/null row -> NaN stats, count 0).

    Matches ``stats_kernel`` to allclose (pairwise vs sequential summation
    differ at ~1e-12 relative; the parity contract is rtol 1e-7)."""
    n_rows = len(lengths)
    res = {name: np.full(n_rows, np.nan) for name in STAT_NAMES[:-1]}
    res["count"] = lengths.astype(np.int64)
    nz = lengths > 0
    if not nz.any():
        return res
    nn = lengths[nz]
    off = np.concatenate([[0], np.cumsum(nn)[:-1]])
    is_int = np.issubdtype(flat.dtype, np.integer)
    fflat = flat.astype(np.float64) if is_int else flat
    sums = np.add.reduceat(fflat, off)
    mean = sums / nn
    sumsq = np.add.reduceat(fflat * fflat, off)
    var = np.where(nn > 1, (sumsq - nn * mean * mean) / np.maximum(nn - 1, 1), 0.0)
    std = np.sqrt(np.maximum(var, 0.0))
    mn = np.minimum.reduceat(fflat, off)
    mx = np.maximum.reduceat(fflat, off)
    # per-segment sort, then vectorized linear interp.  For integer (token)
    # input the segment sort is ONE radix-friendly int64 sort of the packed
    # key (row_idx << 32 | token+2^31) — ~3x faster than the two-pass
    # lexsort the generic float path needs.
    rows = np.repeat(np.arange(len(nn)), nn)
    # The packed-key fast path stores (value + 2^31) in the low 32 bits:
    # only valid when every value fits in int32.  token_stats_arrow forwards
    # the NATIVE Arrow dtype, so a list<bigint>/uint32 column with
    # |v| >= 2^31 would silently overflow into the row-index bits and
    # corrupt the sort — gate on a <=4-byte SIGNED dtype (uint32 can hold
    # 2^32-1, which also overflows after the +2^31 shift).
    packable = (
        is_int
        and flat.dtype.itemsize <= 4
        and np.issubdtype(flat.dtype, np.signedinteger)
    )
    if packable and len(nn) < (1 << 31):
        key = (rows.astype(np.int64) << 32) | (
            flat.astype(np.int64) + (1 << 31)
        )
        key.sort()  # ties decode to identical values, stability irrelevant
        seg_sorted = ((key & np.int64(0xFFFFFFFF)) - (1 << 31)).astype(np.float64)
    else:
        seg_sorted = fflat[np.lexsort((fflat, rows))]

    def pct(q: float) -> np.ndarray:
        # interpolation position computed in RELATIVE coordinates: doing
        # ``off + q*(nn-1)`` first would carry the batch offset into the
        # fraction's floating-point rounding, making a row's percentile
        # depend on its position within the Arrow batch (not reproducible
        # across partitionings, and off-by-ulps vs np.percentile)
        rel = q * (nn - 1)
        lo_rel = np.floor(rel).astype(np.int64)
        frac = rel - lo_rel
        lo = off + lo_rel
        hi = np.minimum(lo + 1, off + nn - 1)
        return seg_sorted[lo] * (1 - frac) + seg_sorted[hi] * frac

    p10, p50, p90 = pct(0.1), pct(0.5), pct(0.9)
    with np.errstate(divide="ignore", invalid="ignore"):
        cvar = np.where(mean != 0.0, std / mean, np.nan)
        denom = p90 - p10
        skew = np.where(denom != 0.0, (p90 - 2 * p50 + p10) / denom, np.nan)
    for name, vals in zip(
        STAT_NAMES[:-1], [mean, std, cvar, mn, mx, p10, p50, p90, skew]
    ):
        res[name][nz] = vals
    return res


def batch_stats(arrs: list) -> pd.DataFrame:
    """pandas/object-list front-end to ``segmented_stats``."""
    n = np.array([0 if a is None else len(a) for a in arrs], dtype=np.int64)
    if n.sum() > 0:
        flat = np.concatenate(
            [np.asarray(a, dtype=np.float64) for a, m in zip(arrs, n > 0) if m]
        )
    else:
        flat = np.empty(0)
    return pd.DataFrame(segmented_stats(flat, n), columns=STAT_NAMES)


def _token_stats_batch(tokens: pa.Array) -> pa.Array:
    """One Arrow batch of ``list<int>`` token arrays -> the stats struct.
    The ListArray's flat value buffer and offsets feed ``segmented_stats``
    directly: no object arrays, no per-row Python."""
    lengths = np.asarray(pc.list_value_length(tokens).fill_null(0)).astype(np.int64)
    # flatten() concatenates exactly the valid segments in row order;
    # keep the native (int32) dtype — zero-copy from the Arrow value
    # buffer, and segmented_stats has a faster integer sort path
    stats = segmented_stats(np.asarray(tokens.flatten()), lengths)
    null_row = ~np.asarray(tokens.is_valid())
    fields = [
        pa.array(stats[name], type=pa.float64(), mask=null_row | np.isnan(stats[name]))
        for name in STAT_NAMES[:-1]
    ]
    fields.append(pa.array(stats["count"].astype(np.int32), type=pa.int32(), mask=null_row))
    return pa.StructArray.from_arrays(fields, names=STAT_NAMES)


# the UDF type is passed explicitly: arrow_udf's type-hint inference
# rejects the string annotations of ``from __future__ import annotations``,
# and passing the type instead raises a style UserWarning, silenced here
with warnings.catch_warnings():
    warnings.simplefilter("ignore", UserWarning)
    _token_stats_udf = F.arrow_udf(_token_stats_batch, _STATS_STRUCT, ArrowUDFType.SCALAR)


def token_stats_arrow(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Append the 10 STX stat columns computed over each row's token array,
    after all existing columns.  An empty array gets null stats and count
    0; a null array gets null stats and a null count.

    One scalar Arrow UDF over the token column alone: only the token
    arrays cross to Python (one Arrow batch per
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows); every other
    column stays in the JVM.

    Measured design note: a pure-JVM expression variant (``F.aggregate``
    sums + ``F.array_sort`` + ``element_at`` interpolation — zero Python)
    was prototyped and measured ~15x SLOWER than the earlier whole-row
    ``mapInArrow`` form of this function (34.4s vs 2.25s on a 2.5M-row
    input at local[32], on a 32-core host): Catalyst's higher-order
    array functions evaluate their lambda per element interpreted,
    outside whole-stage codegen, while this path is one Arrow hop +
    vectorized numpy."""
    out = df.withColumn("__stx", _token_stats_udf(F.col(tokens_col)))
    return out.select(
        "*", *[F.col("__stx")[name].alias(name) for name in STAT_NAMES]
    ).drop("__stx")


def normalize_bounds(df: DataFrame, cols: list[str]) -> DataFrame:
    """Global per-column min/max (normalization bounds) — parity with the
    active-learning rescale (ActiveLearning.java:285-339, A8)."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
    return df.agg(*aggs)


def rescale_unit(df: DataFrame, cols: list[str], bounds: dict[str, float]) -> DataFrame:
    """Rescale columns to [0,1] with precomputed bounds (broadcast to tasks
    as literals — no join needed)."""
    out = df
    for c in cols:
        lo, hi = bounds[f"{c}_min"], bounds[f"{c}_max"]
        rng = (hi - lo) or 1.0
        out = out.withColumn(c, (F.col(c) - F.lit(lo)) / F.lit(rng))
    return out


def psi_drift(
    df: DataFrame,
    value_col: str = "value",
    period_col: str = "period",
    base: str = "base",
    current: str = "cur",
    bucket_width: float = 25.0,
    n_buckets: int = 10,
) -> DataFrame:
    """Population Stability Index between two labeled periods of a numeric
    feature: PSI = sum_i (p_i - q_i) * ln(p_i / q_i) over fixed-width value
    buckets (clamped to [0, n_buckets)), add-one smoothed so empty buckets
    stay finite and the result is deterministic (no epsilon clamping).

    The training-serving drift gate: PSI < 0.1 stable, 0.1-0.25 moderate
    shift, > 0.25 retrain.  Plan: one hash aggregation by (bucket, period)
    with map-side combine (shuffle is n_buckets*2 rows), then a single-row
    reduce — nothing scales with input size past the first scan."""
    b = F.least(
        F.greatest(F.floor(F.col(value_col) / bucket_width), F.lit(0)),
        F.lit(n_buckets - 1),
    ).cast("int")
    counts = (
        df.filter(F.col(period_col).isin([base, current]))
        .groupBy(b.alias("bucket"))
        .agg(
            F.sum(F.when(F.col(period_col) == base, 1).otherwise(0)).alias("n_base"),
            F.sum(F.when(F.col(period_col) == current, 1).otherwise(0)).alias("n_cur"),
        )
    )
    tot = counts.agg(
        F.sum("n_base").alias("tb"), F.sum("n_cur").alias("tc")
    )
    j = counts.crossJoin(F.broadcast(tot))
    p = (F.col("n_base") + 1).cast("double") / (F.col("tb") + n_buckets)
    q = (F.col("n_cur") + 1).cast("double") / (F.col("tc") + n_buckets)
    term = (p - q) * F.log(p / q)
    return j.agg(
        F.round(F.sum(term), 6).alias("psi"),
        F.sum("n_base").alias("n_base"),
        F.sum("n_cur").alias("n_cur"),
    )


def ks_drift(
    df: DataFrame,
    value_col: str = "value",
    period_col: str = "period",
    base: str = "base",
    current: str = "cur",
    group_col: str = "event_type",
    round_to: int = 6,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic per group:
    D = max_v |F_base(v) - F_cur(v)| over the empirical CDFs of a numeric
    feature in two labeled periods.  The binning-free companion to
    ``psi_drift`` — PSI's fixed buckets can hide a shift that lands inside
    one bucket; KS sees any CDF separation.

    Exactness across engines: the CDF difference at value v is the
    rational (cb*nc - cc*nb) / (nb*nc) with cb/cc the cumulative counts
    and nb/nc the period totals — so the max runs over EXACT decimal(38,0)
    integer cross-products (safe past 10^12 rows per side) and only the
    one final division is double.  Identical integers, identical single
    operation: the rounded D matches cell-for-cell.

    Plan shape (100 TB): one hash agg by (group, value) — the shuffle is
    bounded by the DISTINCT value count, not the row count — then a
    per-group window (one Exchange on the group) for the cumulatives and
    a final group agg that reuses that partitioning.  For a continuous
    feature whose distinct count approaches the row count, quantize
    ``value_col`` first (e.g. ``F.round(v, 3)``) — the statistic degrades
    gracefully (D error <= quantization mass) and the domain is bounded.
    """
    per = F.col(period_col)
    counts = (
        df.filter(per.isin([base, current]))
        .groupBy(F.col(group_col).alias("g"), F.col(value_col).alias("v"))
        .agg(
            F.sum(F.when(per == base, 1).otherwise(0)).cast("decimal(19,0)").alias("nb"),
            F.sum(F.when(per == current, 1).otherwise(0)).cast("decimal(19,0)").alias("nc"),
        )
    )
    wcum = Window.partitionBy("g").orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy("g")
    c = counts.select(
        "g",
        F.sum("nb").over(wcum).alias("cb"),
        F.sum("nc").over(wcum).alias("cc"),
        F.sum("nb").over(wall).alias("tb"),
        F.sum("nc").over(wall).alias("tc"),
    )
    gap = F.abs(
        F.col("cb").cast("decimal(38,0)") * F.col("tc").cast("decimal(38,0)")
        - F.col("cc").cast("decimal(38,0)") * F.col("tb").cast("decimal(38,0)")
    )
    return (
        c.groupBy("g")
        .agg(
            F.max(F.col("tb")).cast("long").alias("n_base"),
            F.max(F.col("tc")).cast("long").alias("n_cur"),
            F.max(gap).alias("dmax"),
        )
        .filter((F.col("n_base") > 0) & (F.col("n_cur") > 0))
        .select(
            F.col("g").alias(group_col),
            "n_base",
            "n_cur",
            F.round(
                F.col("dmax").cast("double")
                / (F.col("n_base").cast("double") * F.col("n_cur").cast("double")),
                round_to,
            ).alias("ks_d"),
        )
        .orderBy(group_col)
    )


def rfm_scores(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    n_bins: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """RFM entity scoring: per entity, Recency (days since last event,
    measured from the corpus max timestamp), Frequency (event count) and
    Monetary (decimal-exact value sum), each discretized into ``n_bins``
    equal-frequency scores 1..n (5 = best: most recent / most frequent /
    highest value) and composed into the classic 3-digit RFM code.

    Scale shape: the naive score is ``ntile(n) OVER (ORDER BY metric)`` —
    a partition-less global window, one task sorts every entity.  Here
    each score reuses ``encode.quantile_bins``'s edge-broadcast pattern:
    one tiny aggregate computes the n-1 interior percentile edges over the
    |entities|-row metric table, assignment is map-only "count of edges
    <= v" (ties sit in the higher bin, mirrored by the oracle).  Total:
    one groupBy-key Exchange + one 1-row max(ts) broadcast + three
    edge aggregates over the already-reduced table; the events
    themselves are scanned once.

    Exactness: recency comes from exact integer microsecond differences;
    monetary is a decimal(18,6) sum; percentile edges are Spark's exact
    interpolated percentiles == DuckDB quantile_cont (the established
    quantile_bins parity).  R inverts its bin (recent = small recency =
    high score): r = n_bins - bin(recency).
    """
    from esa_pfa_spark.operators.encode import quantile_bins

    x = F.unix_micros(F.col(ts_col).cast("timestamp_ltz"))
    per = df.groupBy(F.col(key_col).alias("key")).agg(
        F.max(x).alias("last_us"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col(value_col).cast("decimal(18,6)")).alias("monetary"),
    )
    ref = per.agg(F.max("last_us").alias("ref_us"))
    m = per.crossJoin(F.broadcast(ref)).select(
        "key",
        F.round(
            (F.col("ref_us") - F.col("last_us")).cast("double") / F.lit(86400e6),
            round_to,
        ).alias("recency_days"),
        F.col("frequency").cast("long").alias("frequency"),
        F.round(F.col("monetary").cast("double"), round_to).alias("monetary"),
    )
    m = quantile_bins(m, value="recency_days", n_bins=n_bins, out_col="_rb")
    m = quantile_bins(m, value="frequency", n_bins=n_bins, out_col="_fb")
    m = quantile_bins(m, value="monetary", n_bins=n_bins, out_col="_mb")
    r = (F.lit(n_bins) - F.col("_rb")).cast("int")
    f_ = (F.col("_fb") + 1).cast("int")
    mo = (F.col("_mb") + 1).cast("int")
    return m.select(
        F.col("key").alias(key_col),
        "recency_days",
        "frequency",
        "monetary",
        r.alias("r_score"),
        f_.alias("f_score"),
        mo.alias("m_score"),
        (r * 100 + f_ * 10 + mo).alias("rfm_code"),
    ).orderBy(key_col)
