"""Point-in-time (as-of) join: backward/forward, tolerance-bounded, zero
temporal leakage.

Semantic parity target: the reference's tolerance-bounded sorted-merge
pairing (pfa-bitemp-fex/.../FindPatchPairs.java:57-76) generalized to the
probe-table form ("latest observation at or before each query timestamp,
within tolerance").  OSS Spark has no asof-join operator, so the engine
ships two interchangeable physical strategies:

1. ``asof_join`` — pure-JVM union+window plan.  Tag observation rows 0 and
   probe rows 1, union them, and take ``last(payload, ignorenulls=True)``
   over ``(partition by key order by ts, tag) rows unbounded preceding``.
   One shuffle, whole-stage codegen, no Python.  This is the default/scale
   path: at 10^12 rows it is a single hash-partitioned sort per side,
   identical in shape to what a native asof operator would plan.

2. ``asof_join_pandas`` — cogrouped ``applyInPandas`` with a vectorized
   ``np.searchsorted`` merge per entity.  Used for (a) oracle-parity
   verification, (b) hot-key splitting: with ``chunk`` set, each entity's
   timeline is sliced into fixed windows and observations are replicated
   into the following chunk within ``tolerance`` of the boundary, so a
   pathologically hot entity becomes many bounded tasks instead of one
   straggler (the reference never needed this — its grid keys are uniform
   by construction, PatchCS.java:57-61).

Leakage invariant (tested): backward matches satisfy
``matched_ts <= query_ts`` (ties inclusive), forward matches
``matched_ts >= query_ts``; with tolerance t, ``|query_ts - matched_ts| <= t``.
``direction="nearest"`` picks the in-tolerance match minimizing
``|query_ts - matched_ts|`` (ties -> the backward one), computed as both
directional fills over the SAME union — still one Exchange, two
in-partition window passes.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from esa_pfa_spark.functions.time import epoch_s, seconds, ts_diff_us
from esa_pfa_spark.operators.windows import next_non_null
from esa_pfa_spark.skew import route_hot_keys

_TAG = "__asof_tag"
_TS = "__asof_ts"
_MATCH = "matched_ts"


def asof_join(
    probes: DataFrame,
    observations: DataFrame,
    on: str | list[str] = "entity_id",
    probe_ts: str = "query_ts",
    obs_ts: str = "ts",
    payload: Iterable[str] | None = None,
    direction: str = "backward",
    tolerance=None,
) -> DataFrame:
    """Pure-DataFrame as-of join (union + window).  Returns the probe rows
    plus ``matched_ts`` and the requested observation ``payload`` columns
    (null where no in-tolerance match exists — probe rows are never dropped).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction}"
        )
    keys = [on] if isinstance(on, str) else list(on)
    payload = list(payload) if payload is not None else [
        c for c in observations.columns if c not in keys + [obs_ts]
    ]
    probe_cols = [c for c in probes.columns if c not in keys + [probe_ts]]

    # The whole observation row is packed into ONE struct: a payload column
    # may legitimately be null on its matched row (e.g. lead_1 of the last
    # observation), so filling columns independently with ignorenulls would
    # leak older values.  The struct is non-null exactly on obs rows, so
    # last/first(struct, ignorenulls) selects the matched ROW atomically.
    _PAY = "__asof_payload"
    obs_side = observations.select(
        *keys,
        F.col(obs_ts).alias(_TS),
        F.lit(0).alias(_TAG),
        F.struct(F.col(obs_ts).alias(_MATCH), *[F.col(c) for c in payload]).alias(_PAY),
        *[F.lit(None).cast(probes.schema[c].dataType).alias(f"__p_{c}") for c in probe_cols],
    )
    pay_type = obs_side.schema[_PAY].dataType
    probe_side = probes.select(
        *keys,
        F.col(probe_ts).alias(_TS),
        F.lit(1).alias(_TAG),
        F.lit(None).cast(pay_type).alias(_PAY),
        *[F.col(c).alias(f"__p_{c}") for c in probe_cols],
    )
    unioned = obs_side.unionByName(probe_side)

    # obs tag 0 sorts before an equal-ts probe -> inclusive tie match
    w_back = (
        Window.partitionBy(*keys)
        .orderBy(F.col(_TS).asc(), F.col(_TAG).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward: the first payload at or after the row, as a linear lead
    # (a (current row, unbounded following) frame is quadratic on a hot key)
    w_fwd = Window.partitionBy(*keys).orderBy(F.col(_TS).asc(), F.col(_TAG).desc())
    fwd_fill = F.coalesce(F.col(_PAY), next_non_null(_PAY).over(w_fwd))
    tol_s = None if tolerance is None else seconds(tolerance)

    if direction == "nearest":
        # BOTH directional fills over the same union: one Exchange, two
        # in-partition window passes.  Tolerance gates each side BEFORE the
        # pick (a closer-but-out-of-tolerance side must not mask a valid
        # one); |dt| ties resolve to the backward match.
        back = F.last(_PAY, ignorenulls=True).over(w_back)
        both = unioned.select(
            *keys,
            F.col(_TS),
            F.col(_TAG),
            back.alias("__b"),
            fwd_fill.alias("__f"),
            *[F.col(f"__p_{c}") for c in probe_cols],
        ).filter(F.col(_TAG) == 1)
        both = both.withColumn("__bm", F.col("__b")[_MATCH]).withColumn(
            "__fm", F.col("__f")[_MATCH]
        )
        d_b = ts_diff_us(_TS, "__bm")
        d_f = ts_diff_us("__fm", _TS)
        valid_b = F.col("__b").isNotNull()
        valid_f = F.col("__f").isNotNull()
        if tol_s is not None:
            tol_us = F.lit(int(tol_s * 1e6))
            valid_b = valid_b & (d_b <= tol_us)
            valid_f = valid_f & (d_f <= tol_us)
        pick = (
            F.when(valid_b & valid_f,
                   F.when(d_f < d_b, F.col("__f")).otherwise(F.col("__b")))
            .when(valid_b, F.col("__b"))
            .when(valid_f, F.col("__f"))
        )
        filled = both.select(
            *keys,
            F.col(_TS),
            pick.alias(_PAY),
            *[F.col(f"__p_{c}") for c in probe_cols],
        )
        filled = filled.select(
            *keys,
            F.col(_TS),
            F.col(_PAY)[_MATCH].alias(_MATCH),
            *[F.col(_PAY)[c].alias(c) for c in payload],
            *[F.col(f"__p_{c}") for c in probe_cols],
        )
    else:
        if direction == "backward":
            fill = F.last(_PAY, ignorenulls=True).over(w_back)
        else:
            fill = fwd_fill

        filled = unioned.select(
            *keys,
            F.col(_TS),
            F.col(_TAG),
            fill.alias(_PAY),
            *[F.col(f"__p_{c}") for c in probe_cols],
        ).filter(F.col(_TAG) == 1)
        filled = filled.select(
            *keys,
            F.col(_TS),
            F.col(_PAY)[_MATCH].alias(_MATCH),
            *[F.col(_PAY)[c].alias(c) for c in payload],
            *[F.col(f"__p_{c}") for c in probe_cols],
        )

        if tol_s is not None:
            delta_us = F.abs(ts_diff_us(_TS, _MATCH))
            in_tol = F.col(_MATCH).isNotNull() & (delta_us <= F.lit(int(tol_s * 1e6)))
            filled = filled.select(
                *keys,
                F.col(_TS),
                F.when(in_tol, F.col(_MATCH)).alias(_MATCH),
                *[F.when(in_tol, F.col(c)).alias(c) for c in payload],
                *[F.col(f"__p_{c}") for c in probe_cols],
            )
    out = filled.withColumnRenamed(_TS, probe_ts)
    for c in probe_cols:
        out = out.withColumnRenamed(f"__p_{c}", c)
    return out.select(*keys, *probe_cols, probe_ts, _MATCH, *payload)


def asof_join_pandas(
    probes: DataFrame,
    observations: DataFrame,
    on: str = "entity_id",
    probe_ts: str = "query_ts",
    obs_ts: str = "ts",
    payload: Iterable[str] | None = None,
    direction: str = "backward",
    tolerance=None,
    chunk=None,
) -> DataFrame:
    """Cogrouped-``applyInPandas`` as-of join (vectorized searchsorted merge).

    With ``chunk`` (timedelta/seconds) set, groups become ``(key, time-chunk)``
    instead of ``(key)``: probes are assigned to their chunk; observations are
    replicated into every chunk they can serve given ``tolerance`` — the
    hot-entity path.  Requires ``tolerance`` when chunking (otherwise a match
    could come from arbitrarily far back).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction}"
        )
    tol_s = None if tolerance is None else seconds(tolerance)
    chunk_s = None if chunk is None else seconds(chunk)
    if chunk_s is not None and tol_s is None:
        raise ValueError("chunked asof join requires a tolerance bound")

    payload = list(payload) if payload is not None else [
        c for c in observations.columns if c not in [on, obs_ts]
    ]
    probe_cols = [c for c in probes.columns if c != on]  # probe_ts stays in output
    obs_proj = observations.select(on, obs_ts, *payload)

    out_fields = (
        [probes.schema[on], *[probes.schema[c] for c in probe_cols]]
        + [T.StructField(_MATCH, obs_proj.schema[obs_ts].dataType, True)]
        + [T.StructField(c, obs_proj.schema[c].dataType, True) for c in payload]
    )
    out_schema = T.StructType(out_fields)
    sign = 1 if direction == "backward" else -1

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return pd.DataFrame(columns=[f.name for f in out_fields])
        res = left[[on, *probe_cols]].copy()
        if len(right) == 0:
            res[_MATCH] = pd.NaT
            for c in payload:
                res[c] = None
            return res
        right = right.sort_values(obs_ts, kind="mergesort").reset_index(drop=True)
        ots = right[obs_ts].to_numpy(dtype="datetime64[us]").astype("int64")
        qts = left[probe_ts].to_numpy(dtype="datetime64[us]").astype("int64")
        if direction == "backward":
            idx = np.searchsorted(ots, qts, side="right") - 1
            valid = idx >= 0
        elif direction == "forward":
            idx = np.searchsorted(ots, qts, side="left")
            valid = idx < len(ots)
        else:  # nearest: both candidates, closer wins, |dt| tie -> backward
            ib = np.searchsorted(ots, qts, side="right") - 1
            if_ = np.searchsorted(ots, qts, side="left")
            vb = ib >= 0
            vf = if_ < len(ots)
            d_b = qts - ots[np.clip(ib, 0, len(ots) - 1)]
            d_f = ots[np.clip(if_, 0, len(ots) - 1)] - qts
            if tol_s is not None:
                tol_us = tol_s * 1_000_000
                vb &= d_b <= tol_us
                vf &= d_f <= tol_us
            use_f = vf & (~vb | (d_f < d_b))
            idx = np.where(use_f, if_, ib)
            valid = vb | vf
        safe = np.clip(idx, 0, len(ots) - 1)
        if tol_s is not None and direction != "nearest":
            delta = sign * (qts - ots[safe])
            valid &= delta <= tol_s * 1_000_000
        matched = right.iloc[safe].reset_index(drop=True)
        res[_MATCH] = matched[obs_ts].where(valid, pd.NaT)
        for c in payload:
            vals = matched[c]
            res[c] = vals.where(pd.Series(valid, index=vals.index), None)
        return res

    if chunk_s is None:
        cg = probes.groupBy(on).cogroup(obs_proj.groupBy(on))
        return cg.applyInPandas(lambda l, r: merge(l, r), schema=out_schema)

    # hot-key path: (key, chunk) groups with tolerance-width obs replication
    chunk_sec = int(chunk_s)
    pch = probes.withColumn("__chunk", F.floor(epoch_s(F.col(probe_ts)) / chunk_sec))
    base = F.floor(epoch_s(F.col(obs_ts)) / chunk_sec)
    spread = int(np.ceil(tol_s / chunk_s))
    if direction == "backward":
        # an obs at the tail of chunk k can serve probes in chunks k..k+ceil(tol/chunk)
        offsets = list(range(0, spread + 1))
    elif direction == "forward":
        offsets = list(range(-spread, 1))
    else:  # nearest can match either side of the chunk boundary
        offsets = list(range(-spread, spread + 1))
    och = obs_proj.withColumn(
        "__chunk", F.explode(F.array(*[base + F.lit(o) for o in offsets]))
    )
    cg = pch.groupBy(on, "__chunk").cogroup(och.groupBy(on, "__chunk"))

    def merge2(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        return merge(left.drop(columns=["__chunk"]), right.drop(columns=["__chunk"]))

    return cg.applyInPandas(merge2, schema=out_schema)


def asof_join_auto(
    probes: DataFrame,
    observations: DataFrame,
    on: str = "entity_id",
    probe_ts: str = "query_ts",
    obs_ts: str = "ts",
    payload: Iterable[str] | None = None,
    direction: str = "backward",
    tolerance=None,
    hot_rows: int = 5_000_000,
    chunk=None,
    key_counts: DataFrame | None = None,
    census_sample: float | None = None,
    census_safety: float = 2.0,
) -> DataFrame:
    """As-of join with AUTOMATIC hot-key dispatch.

    The JVM union+window plan sorts each key's whole timeline in one task,
    and AQE skew handling never applies to window sorts — so one
    pathological entity (a Zipf head key at 100x scale) is one straggler
    task, invisible to every runtime remedy.  This wrapper is
    ``skew.route_hot_keys`` over two as-of plans:

      * keys with more than ``hot_rows`` observations -> the chunked
        cogrouped path (``asof_join_pandas(chunk=...)``): the hot timeline
        becomes ceil(span/chunk) bounded tasks, exact by tolerance-width
        replication (chunk defaults to the tolerance);
      * every other key, NULL keys included -> the JVM plan unchanged;
      * results are unioned by name — row-identical to ``asof_join`` on
        the whole input (tested in tests/test_asof.py).

    ``tolerance`` is required only when a hot key actually exists (the
    chunked path needs the replication bound).  Single join key (the
    chunked path's contract).

    Default ``hot_rows`` sizing: 5M rows of (ts + payload) is roughly a
    1-2 GB sort in one task — the point where a window-sort task becomes
    the stage straggler and spills; tune per payload width.

    The census is amortizable (``route_hot_keys``): ``key_counts`` — a
    precomputed (key, count) table, e.g. the manifest's per-key row
    counts — skips it, ``census_sample`` counts a sample.  Without either,
    one partial-agg pass over ``observations`` runs per call — fine once,
    wasteful in a loop.

    Reference analog: PatchCS assumes uniform grid keys
    (pfa-bitemp-fex/.../PatchCS.java:57-61); real entity keys are Zipfian,
    so the engine dispatches instead of assuming."""
    kw = dict(
        on=on, probe_ts=probe_ts, obs_ts=obs_ts, payload=payload,
        direction=direction, tolerance=tolerance,
    )

    def chunked(p: DataFrame, o: DataFrame) -> DataFrame:
        if tolerance is None:
            raise ValueError(
                "asof_join_auto found hot keys but the chunked path needs a "
                "tolerance bound; pass tolerance="
            )
        return asof_join_pandas(
            p, o, chunk=chunk if chunk is not None else tolerance, **kw
        )

    return route_hot_keys(
        probes, observations, on, hot_rows,
        cold=lambda p, o: asof_join(p, o, **kw),
        hot=chunked,
        key_counts=key_counts,
        census_sample=census_sample,
        census_safety=census_safety,
    )


def asof_join_multi(
    probes: DataFrame,
    sources: Iterable[tuple[str, DataFrame, dict]],
    on: str | list[str] = "entity_id",
    probe_ts: str = "query_ts",
) -> DataFrame:
    """Point-in-time FEATURE-STORE join: align the probe table against
    several observation tables in one pass — the multi-feature-group
    lookup every PIT feature platform performs (each feature group has
    its own timeline, tolerance, and direction; the probe row must see
    each group's latest value as of its timestamp, never a later one).

    ``sources`` is (name, observations, opts) — opts forwarded to
    ``asof_join`` (obs_ts, payload, direction, tolerance).  Each group's
    ``matched_ts`` is renamed ``<name>_matched_ts`` so groups compose.

    Scale shape: the joins chain left-to-right; every one is the same
    union+window single-Exchange plan hash-partitioned on the SAME key,
    so successive stages reuse the partitioning (no re-shuffle of the
    accumulating probe side beyond the first window's sort) and feature
    groups can be appended without touching earlier ones."""
    out = probes
    for name, obs, opts in sources:
        out = asof_join(out, obs, on=on, probe_ts=probe_ts, **opts)
        out = out.withColumnRenamed(_MATCH, f"{name}_matched_ts")
    return out


def asof_lagk_join(
    probes: DataFrame,
    observations: DataFrame,
    k: int,
    on: str | list[str] = "entity_id",
    probe_ts: str = "query_ts",
    obs_ts: str = "ts",
    value: str = "value",
    tiebreak: str | None = None,
    tolerance=None,
) -> DataFrame:
    """Lag-k as-of join: for each probe row, the values and timestamps of
    the ``k`` most recent observations at-or-before ``probe_ts`` —
    ``lag1_*`` (the as-of match, what ``asof_join`` returns) through
    ``lagk_*``, null where fewer than j observations precede the probe (or
    where lag j falls outside ``tolerance``).  The multi-lag feature
    generator the engine's as-of core implies (reference parity:
    FindPatchPairs.java pairs one patch; lag-k widens the same
    tolerance-bounded backward pairing to a feature VECTOR, SURVEY §2 J1/W?
    lag/lead family) — zero temporal leakage by construction.

    Physical plan — rank algebra, never a pair blowup and never an
    unbounded collect_list:

      1. rank observations per key: ``rn = row_number() over (key, ts,
         tiebreak)`` — one Exchange+sort on the key.
      2. each probe's as-of RANK ``r`` = count of observations at-or-before
         it: the same union-fill the plain as-of uses (obs rows carry 1,
         a running sum is read off at probe rows) — reuses the step-1
         partitioning, no new Exchange.
      3. explode each probe into j = 1..k target ranks ``r - j + 1`` (>= 1)
         and equi-join on (key, rank): exactly ``k`` rows per probe enter
         the join, so the shuffle carries k x |probes| rows regardless of
         history depth — the bounded alternative to a rows-window
         collect_list, whose span between sparse probes is unbounded.
      4. pivot the k hits back to one row via max-when — group keys are
         the join keys, no extra Exchange under AQE.

    ``tolerance`` (timedelta | seconds) nulls out lags older than
    ``probe_ts - tolerance`` WITHOUT dropping the probe row (asof_join's
    never-drop contract)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    keys = [on] if isinstance(on, str) else list(on)
    probe_cols = [c for c in probes.columns if c not in keys + [probe_ts]]
    tol_s = None if tolerance is None else seconds(tolerance)

    order = [F.col(obs_ts).asc()] + (
        [F.col(tiebreak).asc()] if tiebreak else [F.col(value).asc()]
    )
    w_rank = Window.partitionBy(*keys).orderBy(*order)
    obs_ranked = observations.select(
        *keys, F.col(obs_ts), F.col(value),
        F.row_number().over(w_rank).alias("__rn"),
    )

    # probe as-of rank: union fill, obs sort before equal-ts probes (tag)
    obs_side = obs_ranked.select(
        *keys, F.col(obs_ts).alias("__ts"), F.lit(0).alias("__tag"),
        F.lit(1).cast("long").alias("__one"),
        *[F.lit(None).cast(probes.schema[c].dataType).alias(f"__p_{c}")
          for c in probe_cols],
        F.lit(None).cast(probes.schema[probe_ts].dataType).alias("__qts"),
    )
    probe_side = probes.select(
        *keys, F.col(probe_ts).alias("__ts"), F.lit(1).alias("__tag"),
        F.lit(0).cast("long").alias("__one"),
        *[F.col(c).alias(f"__p_{c}") for c in probe_cols],
        F.col(probe_ts).alias("__qts"),
    )
    w_cum = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts").asc(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked_probes = (
        obs_side.unionByName(probe_side)
        .select(
            *keys, "__qts", "__tag",
            F.sum("__one").over(w_cum).alias("__r"),
            *[F.col(f"__p_{c}") for c in probe_cols],
        )
        .filter(F.col("__tag") == 1)
    )

    exploded = ranked_probes.select(
        *keys, "__qts", "__r",
        *[F.col(f"__p_{c}") for c in probe_cols],
        F.explode(F.sequence(F.lit(1), F.lit(k))).alias("__j"),
    ).withColumn("__want", F.col("__r") - F.col("__j") + 1)

    jcond = F.col("__want") == F.col("__orn")
    o2 = obs_ranked.select(
        *[F.col(c).alias(f"__o_{c}") for c in keys],
        F.col(obs_ts).alias("__ots"), F.col(value).alias("__ov"),
        F.col("__rn").alias("__orn"),
    )
    for kcol in keys:
        jcond = jcond & (F.col(kcol) == F.col(f"__o_{kcol}"))
    j = exploded.join(o2, jcond, "left")
    if tol_s is not None:
        from esa_pfa_spark.functions.time import ts_diff_us

        in_tol = ts_diff_us("__qts", "__ots") <= int(tol_s * 1e6)
        j = j.withColumn("__ots", F.when(in_tol, F.col("__ots"))).withColumn(
            "__ov", F.when(in_tol, F.col("__ov"))
        )

    lag_cols = []
    for i in range(1, k + 1):
        lag_cols.append(
            F.max(F.when(F.col("__j") == i, F.col("__ov"))).alias(f"lag{i}_val")
        )
        lag_cols.append(
            F.max(F.when(F.col("__j") == i, F.col("__ots"))).alias(f"lag{i}_ts")
        )
    return (
        j.groupBy(*keys, F.col("__qts").alias(probe_ts),
                  *[F.col(f"__p_{c}").alias(c) for c in probe_cols])
        .agg(*lag_cols)
        .select(*keys, *probe_cols, probe_ts,
                *[c for i in range(1, k + 1)
                  for c in (f"lag{i}_val", f"lag{i}_ts")])
    )


def asof_staleness_profile(
    probes: DataFrame,
    observations: DataFrame,
    on: str | list[str] = "entity_id",
    probe_ts: str = "query_ts",
    obs_ts: str = "ts",
    tolerance=None,
    group_expr=None,
    group_name: str = "grp",
) -> DataFrame:
    """Feature-freshness audit over the as-of core: per ``group_expr``
    bucket (default: hour-of-day of the probe — the diurnal freshness
    view an on-call reads), the match rate and the staleness distribution
    ``query_ts - matched_ts`` (p50 / p95 / max seconds) of the as-of
    matches.  A serving pipeline whose p95 staleness creeps toward the
    tolerance is about to start missing matches — this is the operator
    that says so before the match rate drops.

    Plan: the 1-Exchange as-of fill, then one hash aggregation on the
    (tiny-cardinality) group key; exact interpolated percentiles ride the
    agg (no window, no second sort)."""
    matched = asof_join(
        probes, observations, on=on, probe_ts=probe_ts, obs_ts=obs_ts,
        payload=[], direction="backward", tolerance=tolerance,
    )
    if group_expr is None:
        group_expr = F.hour(F.col(probe_ts))
    stale_s = (
        F.col(probe_ts).cast("timestamp_ltz").cast("double")
        - F.col("matched_ts").cast("timestamp_ltz").cast("double")
    )
    g = matched.select(
        group_expr.alias(group_name),
        F.col("matched_ts").isNotNull().cast("int").alias("__hit"),
        stale_s.alias("__stale"),
    )
    return (
        g.groupBy(group_name)
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.sum("__hit").cast("long").alias("n_matched"),
            F.round(F.sum("__hit") * 1.0 / F.count(F.lit(1)), 6).alias("match_rate"),
            F.round(F.percentile(F.col("__stale"), F.lit(0.5)), 6).alias("stale_p50_s"),
            F.round(F.percentile(F.col("__stale"), F.lit(0.95)), 6).alias("stale_p95_s"),
            F.round(F.max("__stale"), 6).alias("stale_max_s"),
        )
        .orderBy(group_name)
    )


def asof_join_bitemporal(
    probes: DataFrame,
    observations: DataFrame,
    on: str | list[str] = "entity_id",
    probe_ts: str = "query_ts",
    obs_ts: str = "ts",
    knowledge_ts: str = "knowledge_ts",
    payload: Iterable[str] | None = None,
    tolerance=None,
) -> DataFrame:
    """Bitemporal (event-time x knowledge-time) backward as-of join: for
    each probe, the observation with the LATEST event time whose
    ``knowledge_ts`` (publication / restatement time) is <= the probe's
    ``query_ts`` — among multiple versions of the same event the latest
    restatement KNOWN BY THEN wins.  This is the zero-leakage form when
    facts arrive late or get corrected: a plain as-of over
    latest-restatement rows silently trains on corrections that did not
    exist at query time (the classic feature-store leak; the contrast is
    pinned in tests/test_asof.py).

    Semantics per probe (key k, time q):
      match = argmax_{(obs_ts, knowledge_ts)} { o : o.key = k,
              effective_k(o) <= q }          (inclusive at equality)
      where effective_k = greatest(knowledge_ts, obs_ts) — a fact can
      never be known before it happens, so a malformed early
      knowledge_ts cannot leak a future observation.
      tolerance: matches older than q - tolerance null out (probe rows
      are never dropped — asof_join's contract).

    Versions of one event are expected unique on (key, obs_ts,
    knowledge_ts); exact ties beyond that resolve by the payload's
    struct order (deterministic, documented, not meaningful).

    Plan shape (100 TB): IDENTICAL to the flagship union+window as-of —
    one Exchange on the key, one in-partition sort by effective
    knowledge time, and a running ``max(struct(obs_ts, knowledge_ts,
    payload...))`` fill (aggregates skip the null probe structs).  The
    2-D dominance query (obs_ts <= q AND k_ts <= q) collapses to 1-D
    because effective_k >= obs_ts: every observation in the knowledge
    prefix already satisfies the event-time bound.

    Reference parity: the bi-temporal pairing regime of
    pfa-bitemp-fex/.../FindPatchPairs.java:57-76 (earlier product paired
    to the latest available later acquisition), generalized to
    restatement-correct feature lookup.
    """
    keys = [on] if isinstance(on, str) else list(on)
    payload = list(payload) if payload is not None else [
        c for c in observations.columns if c not in keys + [obs_ts, knowledge_ts]
    ]
    probe_cols = [c for c in probes.columns if c not in keys + [probe_ts]]
    _PAY = "__bt_payload"
    _KTS = "matched_knowledge_ts"

    eff_k = F.greatest(F.col(knowledge_ts), F.col(obs_ts))
    obs_side = observations.select(
        *keys,
        eff_k.alias(_TS),
        F.lit(0).alias(_TAG),
        F.struct(
            F.col(obs_ts).alias(_MATCH),
            F.col(knowledge_ts).alias(_KTS),
            *[F.col(c) for c in payload],
        ).alias(_PAY),
        *[
            F.lit(None).cast(probes.schema[c].dataType).alias(f"__p_{c}")
            for c in probe_cols
        ],
    )
    pay_type = obs_side.schema[_PAY].dataType
    probe_side = probes.select(
        *keys,
        F.col(probe_ts).alias(_TS),
        F.lit(1).alias(_TAG),
        F.lit(None).cast(pay_type).alias(_PAY),
        *[F.col(c).alias(f"__p_{c}") for c in probe_cols],
    )
    unioned = obs_side.unionByName(probe_side)
    # obs (tag 0) sorts before an equal-time probe -> a fact published
    # exactly at query_ts is known (inclusive), matching asof_join's tie rule
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(_TS).asc(), F.col(_TAG).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        *keys,
        F.col(_TS),
        F.col(_TAG),
        F.max(_PAY).over(w).alias(_PAY),
        *[F.col(f"__p_{c}") for c in probe_cols],
    ).filter(F.col(_TAG) == 1)
    filled = filled.select(
        *keys,
        F.col(_TS),
        F.col(_PAY)[_MATCH].alias(_MATCH),
        F.col(_PAY)[_KTS].alias(_KTS),
        *[F.col(_PAY)[c].alias(c) for c in payload],
        *[F.col(f"__p_{c}") for c in probe_cols],
    )
    tol_s = None if tolerance is None else seconds(tolerance)
    if tol_s is not None:
        delta_us = ts_diff_us(_TS, _MATCH)
        in_tol = F.col(_MATCH).isNotNull() & (delta_us <= F.lit(int(tol_s * 1e6)))
        filled = filled.select(
            *keys,
            F.col(_TS),
            F.when(in_tol, F.col(_MATCH)).alias(_MATCH),
            F.when(in_tol, F.col(_KTS)).alias(_KTS),
            *[F.when(in_tol, F.col(c)).alias(c) for c in payload],
            *[F.col(f"__p_{c}") for c in probe_cols],
        )
    out = filled.withColumnRenamed(_TS, probe_ts)
    for c in probe_cols:
        out = out.withColumnRenamed(f"__p_{c}", c)
    return out.select(*keys, *probe_cols, probe_ts, _MATCH, _KTS, *payload)
