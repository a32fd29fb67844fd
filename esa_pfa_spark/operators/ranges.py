"""Point-in-interval lookup join and sequential funnel matching.

``interval_lookup`` is the classic dimension-range join (IP block -> geo,
value band -> tier, time slice -> config epoch): each point row finds the
interval(s) covering it.  Spark has no native range-join optimizer rule
(Databricks' range-join hint is proprietary), and the naive
``point BETWEEN lo AND hi`` theta-join plans a BroadcastNestedLoopJoin —
O(|points| x |intervals|) compares.  The bucketed decomposition here turns
it into an EQUI-join: intervals explode into the fixed-width buckets they
overlap, points map to their bucket, join on bucket, post-filter the exact
bound — per-task work drops to O(rows-per-bucket x intervals-per-bucket),
the same decomposition as pairing.interval_pairs_bucketed (tested
output-identical to the theta join).

``funnel`` is greedy-earliest sequential pattern matching (the standard
funnel-analytics semantics): per key, anchor at the FIRST step-1 event,
then the first step-2 event strictly after it, ... optionally within a
per-step tolerance.  One shuffle: sort_array(collect_list(struct)) per key
+ a JVM higher-order fold — no Python, no per-step self-joins (a k-step
funnel via joins is k shuffles and k scans).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from esa_pfa_spark.functions.time import seconds


def interval_lookup(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str = "v",
    lo_col: str = "lo",
    hi_col: str = "hi",
    bucket_width: float | None = None,
    how: str = "inner",
) -> DataFrame:
    """Join each point row to every interval row with
    ``lo <= point <= hi`` (closed bounds) via fixed-width bucket
    decomposition.  ``bucket_width`` defaults to nothing-smart — pass the
    TYPICAL interval length: explode factor per interval is
    ``len/width + 1`` (cost), rows-per-bucket on the probe side is the
    skew bound (balance the two).  ``how='left'`` keeps uncovered points
    with null interval columns."""
    if how not in ("inner", "left"):
        raise ValueError("interval_lookup supports how in {inner, left}")
    if bucket_width is None:
        raise ValueError("pass bucket_width (~ the typical interval length)")
    w = float(bucket_width)
    if w <= 0:
        raise ValueError("bucket_width must be positive")

    b_lo = F.floor(F.col(lo_col) / w).cast("long")
    b_hi = F.floor(F.col(hi_col) / w).cast("long")
    iv = intervals.withColumn(
        "__bk", F.explode(F.sequence(b_lo, b_hi))
    )
    pt = points.withColumn("__bk", F.floor(F.col(point_col) / w).cast("long"))
    cond = [
        pt["__bk"] == iv["__bk"],
        pt[point_col] >= iv[lo_col],
        pt[point_col] <= iv[hi_col],
    ]
    joined = pt.join(iv, cond, how)
    return joined.drop(iv["__bk"]).drop(pt["__bk"])


def funnel(
    events: DataFrame,
    steps: list[str],
    key: str = "user_id",
    type_col: str = "event_type",
    ts: str = "ts",
    within=None,
) -> DataFrame:
    """Greedy-earliest funnel per key: timestamp of step 1's first event,
    then step 2's first event STRICTLY after it (and within ``within`` of
    it, if set), and so on.  Returns one row per key with ``step_<i>_ts``
    columns (null from the first unreached step on) and
    ``funnel_depth`` = number of steps reached.

    Tie/order semantics (mirrored by the oracle): events sort by
    (ts, type) — two candidate events at the same ts resolve by type
    string order; an event can satisfy only ONE step (strictly-after
    chaining); greedy-earliest anchoring is the standard analytics
    semantics and is what correlated min() subqueries express in SQL.

    Plan: filter to the step types, ONE groupBy(key) building
    sort_array(collect_list(struct(ts, type))), then a JVM fold per step
    over the sorted array (array_min of in-window candidates).  Per-key
    event counts bound the task — the usual per-key skew axis."""
    if not steps:
        raise ValueError("steps must be non-empty")
    tol_us = None if within is None else int(seconds(within) * 1e6)

    ev = events.filter(F.col(type_col).isin(steps)).select(
        key, F.col(ts).alias("__ts"), F.col(type_col).alias("__tp")
    )
    grouped = ev.groupBy(key).agg(
        F.sort_array(F.collect_list(F.struct("__ts", "__tp"))).alias("__evs")
    )

    def step_pred(step_name, prev_col):
        # single-arg lambda factory: a two-parameter lambda would be read
        # by F.filter as its (element, index) form
        def pred(st):
            cond = st["__tp"] == step_name
            if prev_col is not None:
                cond = cond & F.col(prev_col).isNotNull() & (
                    st["__ts"] > F.col(prev_col)
                )
                if tol_us is not None:
                    # NTZ-safe: cast both sides through LTZ (session TZ is
                    # pinned UTC) — the DIFFERENCE is TZ-independent
                    us = lambda c: F.unix_micros(c.cast("timestamp_ltz"))
                    cond = cond & (
                        us(st["__ts"]) - us(F.col(prev_col)) <= F.lit(tol_us)
                    )
            return cond

        return pred

    cols = []
    prev = None
    out = grouped
    for i, step in enumerate(steps, start=1):
        name = f"step_{i}_ts"
        cand = F.filter(F.col("__evs"), step_pred(step, prev))
        first_ts = F.array_min(F.transform(cand, lambda st: st["__ts"]))
        out = out.withColumn(name, first_ts)
        cols.append(name)
        prev = name
    depth = None
    for i, c in enumerate(cols, start=1):
        d = F.when(F.col(c).isNotNull(), i).otherwise(0)
        depth = d if depth is None else F.greatest(depth, d)
    # depth must be the longest PREFIX reached; later steps are null once
    # any earlier step is null (the chain condition), so greatest() is the
    # prefix length.
    return out.select(key, *cols, depth.cast("int").alias("funnel_depth"))


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    key_cols: list[str] | None = None,
    a_lo: str = "lo",
    a_hi: str = "hi",
    b_lo: str = "lo",
    b_hi: str = "hi",
    bucket_width: float | None = None,
) -> DataFrame:
    """Interval x interval overlap join: every (a, b) row pair (sharing
    ``key_cols``, if given) whose CLOSED intervals intersect —
    ``a.lo <= b.hi AND b.lo <= a.hi`` — emitted EXACTLY once.

    ``interval_lookup``'s sibling for two interval sets (shift overlaps,
    validity-window intersections, session-vs-campaign attribution).  The
    naive theta join is a BroadcastNestedLoopJoin (O(|a| x |b|) compares);
    here BOTH sides explode into the fixed-width buckets they span and
    equi-join on (keys..., bucket) — per-task work is rows-per-bucket
    products, the bucketed-candidates decomposition again.

    A pair spanning k shared buckets would join k times; instead of a
    quadratic-input ``distinct``, each pair is OWNED by exactly one
    bucket — the bucket containing the overlap's start ``max(a.lo,
    b.lo)`` (always inside both intervals, hence in both explode sets)
    — and all other bucket collisions are filtered in-place.  Map-only
    dedup: no extra shuffle, no state.

    Column names across ``a`` and ``b`` must be disjoint apart from
    ``key_cols`` (alias before calling; Spark would otherwise emit
    ambiguous duplicates).  ``bucket_width`` ~ the typical interval
    length: explode factor is len/width + 1, skew bound is rows per
    (key, bucket) — same tuning trade as ``interval_lookup``.

    Scale: one shuffle on (keys..., bucket) for each side; skewed hot
    buckets split further by AQE skew-join handling; nothing quadratic
    in either input materializes.
    """
    if bucket_width is None:
        raise ValueError("pass bucket_width (~ the typical interval length)")
    w = float(bucket_width)
    if w <= 0:
        raise ValueError("bucket_width must be positive")
    keys = key_cols or []
    dup = (set(a.columns) & set(b.columns)) - set(keys)
    if dup:
        raise ValueError(
            f"a/b share non-key columns {sorted(dup)}; alias them first"
        )

    ea = a.withColumn("__bk", F.explode(F.sequence(
        F.floor(F.col(a_lo) / w).cast("long"),
        F.floor(F.col(a_hi) / w).cast("long"),
    )))
    eb = b.withColumn("__bk", F.explode(F.sequence(
        F.floor(F.col(b_lo) / w).cast("long"),
        F.floor(F.col(b_hi) / w).cast("long"),
    )))
    cond = [ea["__bk"] == eb["__bk"]]
    for k in keys:
        cond.append(ea[k] == eb[k])
    # overlap + exactly-once ownership: this bucket is the overlap start's
    overlap = (
        (ea[a_lo] <= eb[b_hi])
        & (eb[b_lo] <= ea[a_hi])
        & (ea["__bk"]
           == F.floor(F.greatest(ea[a_lo], eb[b_lo]) / w).cast("long"))
    )
    out = ea.join(eb, cond, "inner").filter(overlap)
    keep = [ea[k] for k in keys]
    keep += [ea[c] for c in a.columns if c not in keys]
    keep += [eb[c] for c in b.columns if c not in keys]
    return out.select(*keep)
