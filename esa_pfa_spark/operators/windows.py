"""Windowed operators: backfill/forward-fill, lag/lead feature generation,
rolling statistics, gap-based sessionization, run-length (gaps-and-islands).

All are native ``pyspark.sql.Window`` specs — zero Python in the hot path,
fully whole-stage-codegen'd.  Semantic parity targets in the reference:
  * forward/backward fill — the "latest observation <= t" selection of
    FindPatchPairs.java:57-76 (W4);
  * lag/lead & rolling — the 3x3 mean / Sobel gradient neighborhood kernels
    (AlgalBloomFeatureWriter.java:366-375, W1/W2), 1-D analog;
  * sessionization / run-length — RegionGrower connected components
    (pfa-sar-fex/.../RegionGrower.java:46-144, A7) and the transect
    max-run-length visitor (ConnectivityMetrics.java:132-164, W3), 1-D analog.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from esa_pfa_spark.functions.time import seconds, ts_diff_us


def ffill(df: DataFrame, cols: list[str], key: str, ts: str) -> DataFrame:
    """Forward-fill: latest non-null value at or before each row."""
    w = Window.partitionBy(key).orderBy(ts).rowsBetween(Window.unboundedPreceding, 0)
    return df.select(
        *[c for c in df.columns if c not in cols],
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in cols],
    )


def next_non_null(col: str) -> Column:
    """``lead(col, 1) IGNORE NULLS``: the nearest non-null value of ``col``
    after the current row; call ``.over`` with an ordered window and no
    frame.  One pass over the partition, where ``first(col, ignorenulls)``
    over a ``(1, unbounded following)`` frame is recomputed at every row —
    quadratic on a hot key (one 40,000-row key: 35 s against 0.22 s).
    ``F.lead`` has no ignore-nulls argument, hence the SQL form."""
    return F.expr(f"lead(`{col}`, 1) IGNORE NULLS")


def bfill(df: DataFrame, cols: list[str], key: str, ts: str) -> DataFrame:
    """Backward-fill: earliest non-null value at or after each row."""
    w = Window.partitionBy(key).orderBy(ts)
    return df.select(
        *[c for c in df.columns if c not in cols],
        *[F.coalesce(F.col(c), next_non_null(c).over(w)).alias(c) for c in cols],
    )


def lag_lead(
    df: DataFrame,
    col: str,
    key: str,
    ts: str,
    lags: tuple[int, ...] = (1,),
    leads: tuple[int, ...] = (1,),
) -> DataFrame:
    """Append ``lag_k_<col>`` / ``lead_k_<col>`` feature columns."""
    w = Window.partitionBy(key).orderBy(ts)
    out = df
    for k in lags:
        out = out.withColumn(f"lag_{k}_{col}", F.lag(col, k).over(w))
    for k in leads:
        out = out.withColumn(f"lead_{k}_{col}", F.lead(col, k).over(w))
    return out


def rolling_mean(
    df: DataFrame, col: str, key: str, ts: str, before: int = 1, after: int = 1,
    out_col: str | None = None,
) -> DataFrame:
    """Centered/trailing rolling mean over a row frame — the 1-D analog of the
    reference's 3x3 mean convolution (W1)."""
    w = Window.partitionBy(key).orderBy(ts).rowsBetween(-before, after)
    return df.withColumn(out_col or f"rolling_mean_{col}", F.avg(col).over(w))


def rolling_median(
    df: DataFrame, col: str, key: str, ts: str, before: int = 4, after: int = 0,
    out_col: str | None = None,
) -> DataFrame:
    """Exact rolling median over a row frame — the robust (outlier-proof)
    companion of ``rolling_mean`` for denoising feature streams.  Spark
    rejects ``median`` with a window frame, so it is composed as
    ``array_sort(collect_list(...))`` over the frame + middle pick (mean
    of the two middles for even counts) — all JVM column math; the frame
    bounds the array to ``before+after+1`` elements, so per-row cost is
    O(frame log frame), not O(partition)."""
    w = Window.partitionBy(key).orderBy(ts).rowsBetween(-before, after)
    arr = F.array_sort(F.collect_list(F.col(col)).over(w))
    n = F.size(arr)
    mid_hi = (n / 2 + 1).cast("int")        # 1-based upper middle
    mid_lo = (n / 2).cast("int")            # lower middle (even n)
    odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
    even = (F.element_at(arr, mid_lo) + F.element_at(arr, mid_hi)) / 2
    med = F.when(n % 2 == 1, odd).otherwise(even)
    return df.withColumn(out_col or f"rolling_median_{col}", med)


def gradient(df: DataFrame, col: str, key: str, ts: str, out_col: str | None = None) -> DataFrame:
    """Central difference ``lead - lag`` — 1-D analog of the Sobel kernel (W2)."""
    w = Window.partitionBy(key).orderBy(ts)
    return df.withColumn(out_col or f"gradient_{col}", F.lead(col, 1).over(w) - F.lag(col, 1).over(w))


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    gap,
    session_col: str = "session_id",
    with_stats: bool = True,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since the
    previous row of the same key exceeds ``gap``.

    ``session_id`` is the cumulative count of gap-breaks (0-based within key).
    With ``with_stats``, appends ``session_len`` (rows in the session).
    """
    gap_us = int(seconds(gap) * 1e6)
    w = Window.partitionBy(key).orderBy(ts)
    with_prev = df.withColumn("__prev_ts", F.lag(F.col(ts), 1).over(w))
    delta = ts_diff_us(ts, "__prev_ts")
    is_break = F.when(delta.isNull() | (delta <= gap_us), 0).otherwise(1)
    out = with_prev.withColumn(
        session_col,
        F.sum(is_break).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    ).drop("__prev_ts")
    if with_stats:
        ws = Window.partitionBy(key, session_col)
        out = out.withColumn("session_len", F.count(F.lit(1)).over(ws).cast("int"))
    return out


def session_summary(df: DataFrame, key: str, ts: str, gap, value: str | None = None) -> DataFrame:
    """Aggregate one row per session: bounds, length, optional value stats.
    The 1-D analog of 'largest connected blob' (A7): downstream
    ``agg(max(session_len))`` gives the reference's maxClusterSize."""
    s = sessionize(df, key, ts, gap, with_stats=False)
    aggs = [
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        F.count(F.lit(1)).cast("int").alias("session_len"),
    ]
    if value is not None:
        aggs += [F.avg(value).alias("session_mean"), F.sum(value).alias("session_sum")]
    return s.groupBy(key, "session_id").agg(*aggs)


def run_length(df: DataFrame, key: str, ts: str, flag_col: str) -> DataFrame:
    """Gaps-and-islands: per key, the length of each maximal run of rows with
    equal ``flag_col``, via the row_number-difference trick (W3).
    Returns one row per run: (key, flag, run_start, run_len)."""
    w = Window.partitionBy(key).orderBy(ts)
    wf = Window.partitionBy(key, flag_col).orderBy(ts)
    grouped = df.withColumn(
        "__grp", F.row_number().over(w) - F.row_number().over(wf)
    )
    return grouped.groupBy(key, flag_col, "__grp").agg(
        F.min(ts).alias("run_start"),
        F.count(F.lit(1)).cast("int").alias("run_len"),
    ).drop("__grp")


def scd2_intervals(
    df: DataFrame,
    key: str,
    ts: str,
    dedupe_unchanged: list[str] | None = None,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Observation log -> SCD2 validity intervals: each row becomes
    [valid_from, valid_to) with valid_to = the key's NEXT observation
    (null = still current) — the compacted "latest-known features" table a
    lakehouse feature store maintains, turning the as-of lookup into a
    plain interval predicate ``valid_from <= t AND (t < valid_to OR
    valid_to IS NULL)``, with exactly one matching version per probe.

    ``dedupe_unchanged``: drop rows whose listed payload columns equal the
    key's previous observation BEFORE building intervals (change-data
    compaction — repeated identical readings collapse into one longer
    interval).

    ``tiebreak``: extra order columns after ``ts`` — REQUIRED whenever a
    key can log two observations at one timestamp, or lag/lead over the
    tie is nondeterministic.

    Plan: one hash partition by key + in-partition sort; lead() and the
    change filter share the same window spec (one Exchange)."""
    order = [F.col(ts)] + [F.col(c) for c in (tiebreak or [])]
    w = Window.partitionBy(key).orderBy(*order)
    out = df
    if dedupe_unchanged:
        # the key's first row is always kept via the lag(ts) probe — a
        # payload-column test alone would drop a first row whose payload
        # is NULL (eqNullSafe(NULL, NULL) is true)
        changed = F.lag(ts).over(w).isNull()
        for c in dedupe_unchanged:
            changed = changed | ~(F.lag(c).over(w).eqNullSafe(F.col(c)))
        out = out.withColumn("__chg", changed).filter(F.col("__chg")).drop("__chg")
    return out.withColumn("valid_from", F.col(ts)).withColumn(
        "valid_to", F.lead(ts).over(w)
    )
