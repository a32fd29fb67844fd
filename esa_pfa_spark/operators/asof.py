"""Point-in-time (as-of) join: backward/forward/nearest, tolerance-bounded,
zero temporal leakage.

Semantic parity target: the reference's tolerance-bounded sorted-merge
pairing (pfa-bitemp-fex/.../FindPatchPairs.java:57-76) generalized to the
probe-table form ("latest observation at or before each query timestamp,
within tolerance").  OSS Spark has no asof-join operator, so the engine
plans one: a tagged union.  Observation rows (tag 0) carry their payload
as one struct, probe rows (tag 1) carry their own columns as another;
the union is hash-partitioned on the key and each probe reads its match
off a window over ``(key order by ts, tag)``.  One Exchange, whole-stage
codegen, no Python — at 10^12 rows a single hash-partitioned sort per
side, the shape a native asof operator would plan.  ``asof_join``,
``asof_join_bitemporal`` and ``asof_lagk_join`` all read this one union.

Tie rule: among observations tied on (key, ts) the match is the one with
the greatest payload struct ``(matched_ts, payload...)`` in every
direction, so the result never depends on input order.  A payload
holding a map cannot be ordered and is refused before any job runs.

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

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from esa_pfa_spark.functions.time import seconds, ts_diff_us
from esa_pfa_spark.operators.windows import next_non_null

_TAG = "__asof_tag"
_TS = "__asof_ts"
_PAY = "__asof_pay"
_PRB = "__asof_probe"
_MATCH = "matched_ts"


def _has_map(t: T.DataType) -> bool:
    if isinstance(t, T.MapType):
        return True
    if isinstance(t, T.ArrayType):
        return _has_map(t.elementType)
    return isinstance(t, T.StructType) and any(_has_map(f.dataType) for f in t.fields)


def _tagged_union(
    probes: DataFrame,
    observations: DataFrame,
    keys: list[str],
    probe_ts: str,
    obs_sort: Column,
    fields: list[Column],
) -> tuple[DataFrame, list[str], list[str]]:
    """The one as-of input.  Observation rows (tag 0) sit at ``obs_sort``
    and carry ``struct(fields)`` as ``_PAY``; probe rows (tag 1) sit at
    ``probe_ts`` and carry their other columns as ``_PRB``.  The whole
    observation row is ONE struct: a payload column may be null on its
    matched row, so filling columns one by one would leak older values.
    Returns the union, the probe column names and the payload field names."""
    pay = F.struct(*fields).alias(_PAY)
    pay_type = observations.select(pay).schema[_PAY].dataType
    maps = [f.name for f in pay_type.fields if _has_map(f.dataType)]
    if maps:
        raise ValueError(
            f"as-of payload {maps} holds a map: tied observations resolve by "
            "ordering the payload, and Spark cannot order maps; drop them "
            "from the payload or convert them (map_entries)"
        )
    probe_cols = [c for c in probes.columns if c not in keys + [probe_ts]]
    prb = F.struct(*probe_cols).alias(_PRB)
    prb_type = probes.select(prb).schema[_PRB].dataType
    obs_side = observations.select(
        *keys, obs_sort.alias(_TS), F.lit(0).alias(_TAG), pay,
        F.lit(None).cast(prb_type).alias(_PRB),
    )
    probe_side = probes.select(
        *keys, F.col(probe_ts).alias(_TS), F.lit(1).alias(_TAG),
        F.lit(None).cast(pay_type).alias(_PAY), prb,
    )
    return obs_side.unionByName(probe_side), probe_cols, pay_type.fieldNames()


def _running(keys: list[str]) -> Window:
    """Every row at or before the current one; an observation (tag 0)
    sorts before an equal-ts probe, so ties match inclusively."""
    return (
        Window.partitionBy(*keys)
        .orderBy(F.col(_TS).asc(), F.col(_TAG).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


def _fill(
    probes: DataFrame,
    observations: DataFrame,
    keys: list[str],
    probe_ts: str,
    obs_sort: Column,
    fields: list[Column],
    direction: str,
    tolerance,
) -> DataFrame:
    """The one as-of fill: tagged union, one window pass per direction,
    then the probe rows as output columns — keys, probe columns,
    ``probe_ts``, the matched struct's fields (``fields`` start with
    ``_MATCH``), null where there is no match or it lies further than
    ``tolerance`` from the probe (probe rows are never dropped)."""
    unioned, probe_cols, names = _tagged_union(
        probes, observations, keys, probe_ts, obs_sort, fields
    )
    # backward: the greatest struct so far is the latest ts, ties broken by
    # payload (aggregates skip the null probe structs)
    back = F.max(_PAY).over(_running(keys))
    # forward: the next struct after the row, as a linear lead (a (current
    # row, unbounded following) frame is quadratic on a hot key); a probe
    # sorts before its tied observations, the greatest payload first
    fwd = next_non_null(_PAY).over(
        Window.partitionBy(*keys)
        .orderBy(F.col(_TS).asc(), F.col(_TAG).desc(), F.col(_PAY).desc())
    )
    cols = [*keys, _TS, _TAG, _PRB]
    tol_us = None if tolerance is None else F.lit(int(seconds(tolerance) * 1e6))
    if direction == "nearest":
        # both fills over the same union: one Exchange, two window passes.
        # Tolerance gates each side BEFORE the pick (a closer but
        # out-of-tolerance side must not mask a valid one); |dt| ties
        # resolve to the backward match.
        both = unioned.select(*cols, back.alias("__b"), fwd.alias("__f"))
        d_b = ts_diff_us(_TS, f"__b.{_MATCH}")
        d_f = ts_diff_us(f"__f.{_MATCH}", _TS)
        ok_b, ok_f = F.col("__b").isNotNull(), F.col("__f").isNotNull()
        if tol_us is not None:
            ok_b, ok_f = ok_b & (d_b <= tol_us), ok_f & (d_f <= tol_us)
        pick = (
            F.when(ok_b & ok_f & (d_f < d_b), F.col("__f"))
            .when(ok_b, F.col("__b"))
            .when(ok_f, F.col("__f"))
        )
        filled = both.select(*cols, pick.alias(_PAY))
    else:
        fill = back if direction == "backward" else fwd
        filled = unioned.select(*cols, fill.alias(_PAY))
    m = F.col(_PAY)
    if tol_us is not None:
        m = F.when(F.abs(ts_diff_us(_TS, f"{_PAY}.{_MATCH}")) <= tol_us, m)
    return filled.filter(F.col(_TAG) == 1).select(
        *keys,
        *[F.col(_PRB)[c].alias(c) for c in probe_cols],
        F.col(_TS).alias(probe_ts),
        *[m[f].alias(f) for f in names],
    )


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
    """As-of join over the tagged union.  Returns the probe rows plus
    ``matched_ts`` and the requested observation ``payload`` columns
    (null where no in-tolerance match exists — probe rows are never
    dropped).  Ties on (key, ts) resolve to the greatest payload."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction}"
        )
    keys = [on] if isinstance(on, str) else list(on)
    payload = list(payload) if payload is not None else [
        c for c in observations.columns if c not in keys + [obs_ts]
    ]
    return _fill(
        probes, observations, keys, probe_ts, F.col(obs_ts),
        [F.col(obs_ts).alias(_MATCH), *[F.col(c) for c in payload]],
        direction, tolerance,
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
         it: a running count over the plain as-of's tagged union, read
         off at probe rows — reuses the step-1 partitioning, no new
         Exchange.
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

    order = [F.col(obs_ts).asc()] + (
        [F.col(tiebreak).asc()] if tiebreak else [F.col(value).asc()]
    )
    w_rank = Window.partitionBy(*keys).orderBy(*order)
    obs_ranked = observations.select(
        *keys, F.col(obs_ts), F.col(value),
        F.row_number().over(w_rank).alias("__rn"),
    )

    # probe as-of rank: the observations at or before it, counted over the
    # tagged union (count skips the null probe structs)
    unioned, probe_cols, _ = _tagged_union(
        probes, obs_ranked, keys, probe_ts, F.col(obs_ts), [F.col("__rn")]
    )
    exploded = (
        unioned.select(
            *keys, _TS, _TAG, _PRB, F.count(_PAY).over(_running(keys)).alias("__r")
        )
        .filter(F.col(_TAG) == 1)
        .select(
            *keys, _TS, _PRB, "__r",
            F.explode(F.sequence(F.lit(1), F.lit(k))).alias("__j"),
        )
        .withColumn("__want", F.col("__r") - F.col("__j") + 1)
    )

    jcond = F.col("__want") == F.col("__orn")
    o2 = obs_ranked.select(
        *[F.col(c).alias(f"__o_{c}") for c in keys],
        F.col(obs_ts).alias("__ots"), F.col(value).alias("__ov"),
        F.col("__rn").alias("__orn"),
    )
    for kcol in keys:
        jcond = jcond & (F.col(kcol) == F.col(f"__o_{kcol}"))
    j = exploded.join(o2, jcond, "left")
    if tolerance is not None:
        in_tol = ts_diff_us(_TS, "__ots") <= int(seconds(tolerance) * 1e6)
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
        j.groupBy(*keys, _TS, _PRB)
        .agg(*lag_cols)
        .select(*keys, *[F.col(_PRB)[c].alias(c) for c in probe_cols],
                F.col(_TS).alias(probe_ts),
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
    return _fill(
        probes, observations, keys, probe_ts,
        F.greatest(F.col(knowledge_ts), F.col(obs_ts)),
        [F.col(obs_ts).alias(_MATCH), F.col(knowledge_ts).alias("matched_knowledge_ts"),
         *[F.col(c) for c in payload]],
        "backward", tolerance,
    )
