"""Incremental feature-table maintenance — the production loop at
10^12-sequence scale — and the one as-of/session window core that every
feature build runs: the full build is the incremental fill with an empty
state.

A daily/hourly feature build cannot rescan the full observation history:
the as-of fill only needs observations within the probe window's
tolerance lookback, but the windowed features (lag, session id/len) are
functions of the ENTIRE per-entity timeline.  This module factors that
history into a compact per-entity STATE row (last observation's ts +
value, counters: observations so far, session breaks so far, start index
of the open session) so each run consumes

    state(cut) + observations[cut, horizon) + probes[cut+tol, horizon)

and emits features IDENTICAL to a full recompute over all data up to the
same horizon (proven row-for-row in tests/test_incremental.py, and by the
``incremental_asof_features`` registry query, whose DuckDB oracle IS the
full recompute).  ``roll_state`` advances the state run-over-run without
ever touching history again.

Correctness contract (why state-at-``cut`` suffices, with probes
restricted to ``query_ts >= cut + tolerance``):

  * matched observation: backward as-of within ``tolerance`` means
    matched_ts >= query_ts - tol >= cut — always a LOADED row;
  * lag value of the matched row: the previous observation may precede
    ``cut`` only for the FIRST loaded row — exactly what the state's
    (last_ts, last_value) carry-in row provides;
  * session id: breaks before ``cut`` are a per-entity count
    (sessions_before); breaks after are recomputed from the carry-in ts;
  * session len / obs index: offset by obs_before, with the open
    session's start index carried (last_sess_start).

One core.  Each state row enters the timeline as a carry-in row (tag -1,
so it sorts first even on a tied ts) that counts in the same window sums
as an observation, with weights: ``obs_before`` observations,
``sessions_before`` breaks, and ``last_sess_start`` as its session start.
With no state rows the same plan is the full build
(``plans.pipeline.feature_table_fused`` passes ``_empty_state``, which
the optimizer drops from the union), and ``roll_state`` /
``entity_state`` are the same two window passes reduced per entity
instead of read at the probes.

Scale shape: the state table is one row per entity (billions of rows at
most — a normal bucketed table), the delta scan partition-prunes on the
dated lakehouse layout, and the fill is a tagged union exchanged ONCE on
the entity, sorted once, and read by two ``select`` passes: 1 Exchange +
1 Sort + 2 Window.  Forward lookups are linear ``lead ... IGNORE NULLS``.

Reference analog: the resumable session state of
pfa-database/.../classifier/ClassifierModel.java:36-164 (persisted
iteration state consumed by the next run), re-expressed as a relational
state table.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from esa_pfa_spark.functions.time import seconds, ts_diff_us
from esa_pfa_spark.operators.features import token_stats_arrow
from esa_pfa_spark.operators.windows import next_non_null

DEFAULT_TOLERANCE = _dt.timedelta(days=7)
DEFAULT_SESSION_GAP = _dt.timedelta(days=7)

STATE_COLS = [
    "last_ts", "last_value", "obs_before", "sessions_before", "last_sess_start",
]

# the flagship's per-observation payload besides its fill value ``mean``
STAT_PAYLOAD = [
    "tokens", "n_tok", "stdev", "cvar", "min", "max",
    "p10", "p50", "p90", "skewness", "count",
]
FEATURE_PAYLOAD = [
    "tokens",
    "n_tok",
    "mean",
    "stdev",
    "cvar",
    "min",
    "max",
    "p10",
    "p50",
    "p90",
    "skewness",
    "count",
    "lag_1_mean",
    "lead_1_mean",
    "session_id",
    "session_len",
]


def _empty_state(observations: DataFrame, entity: str, ts: str) -> DataFrame:
    """The state before any observation: no rows, typed like a state over
    ``observations``.  The optimizer drops it from the core's union, so a
    fill over it plans exactly as a full build."""
    return observations.select(
        entity,
        F.col(ts).alias("last_ts"),
        F.lit(None).alias("last_value"),
        *[F.lit(None).cast("long").alias(c) for c in STATE_COLS[2:]],
    ).where(F.lit(False))


def _chain(observations, state, entity, ts, value_col, payload) -> DataFrame:
    """The observation (tag 0) and carry-in (tag -1) rows of the core's
    tagged union.  ``__sv`` = struct(ts, v) is never null on these rows,
    so the lag/lead lookups skip probes but not an observation whose
    value is NULL.  The carry-in row's weights: ``__w`` observations,
    ``__sb`` session breaks, ``__start`` the open session's start index;
    missing columns are null (``allowMissingColumns``)."""
    obs = observations.select(
        F.col(entity).alias("__e"),
        F.col(ts).alias("__ts"),
        F.lit(0).alias("__tag"),
        F.struct(F.col(ts).alias("ts"), F.col(value_col).alias("v")).alias("__sv"),
        *payload,
        F.lit(1).alias("__w"),
    )
    vtype = observations.schema[value_col].dataType
    carry = state.select(
        F.col(entity).alias("__e"),
        F.col("last_ts").alias("__ts"),
        F.lit(-1).alias("__tag"),
        F.struct(
            F.col("last_ts").alias("ts"), F.col("last_value").cast(vtype).alias("v")
        ).alias("__sv"),
        F.col("obs_before").alias("__w"),
        F.col("sessions_before").alias("__sb"),
        F.col("last_sess_start").alias("__start"),
    )
    return obs.unionByName(carry, allowMissingColumns=True)


def _windows(u: DataFrame, payload: list[str], gap) -> DataFrame:
    """The window core: one sort on (entity, ts, tag), two ``select``
    passes, one Window operator each.

      * pass 1: the previous and next chain rows' ``__sv``
        (``last ... ignorenulls`` over (unbounded, -1) and
        ``lead ... IGNORE NULLS``), the running weighted observation
        index and the entity's weighted observation count;
      * pass 2: the weighted break cum-sum (session id), the carried
        session start index, the index of the next break, and the as-of
        fill ``last(payload struct, ignorenulls)``.

    Returns every row with ``__sid``, ``__sess_start``, ``__next_brk``,
    ``__n_obs``, ``__oidx``, ``__sv`` and ``__pay`` (the last observation
    at or before the row: matched_ts, ``__v``, ``payload``, ``__lag``,
    ``__lead``).  A probe reads its session at its own row: only probes
    sit between it and its matched observation, and probes add no break
    and no observation, so every cumulative and next-break value there
    equals the observation's.  session_len WITHOUT a second sort: the
    natural window on (entity, session_id) plans a fresh full-width Sort
    (Spark can't know session_id is monotone in ts); instead each session
    is bracketed by observation index over the SAME sort."""
    w = Window.partitionBy("__e").orderBy(F.col("__ts").asc(), F.col("__tag").asc())
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    is_obs = F.col("__tag") == 0

    # pass 1
    u = u.select(
        "*",
        F.last("__sv", ignorenulls=True).over(w_prev).alias("__prev"),
        next_non_null("__sv").over(w).alias("__next"),
        F.sum("__w").over(w_cum).alias("__oidx"),
        F.sum("__w").over(w_all).alias("__n_obs"),
    )

    since_prev = ts_diff_us("__ts", "__prev.ts")
    brk = is_obs & since_prev.isNotNull() & (since_prev > int(seconds(gap) * 1e6))
    brk_idx = F.when(brk, F.col("__oidx"))
    pay = F.struct(
        F.col("__ts").alias("matched_ts"),
        F.col("__sv.v").alias("__v"),
        *payload,
        F.col("__prev.v").alias("__lag"),
        F.col("__next.v").alias("__lead"),
    )
    keep = ["__e", "__ts", "__tag", "__sv", "__oidx", "__n_obs"]
    u = u.select(
        *keep,
        F.coalesce("__sb", brk.cast("long")).alias("__brk"),
        brk_idx.alias("__brk_idx"),
        F.coalesce("__start", brk_idx).alias("__start_idx"),
        F.when(is_obs, pay).alias("__pay"),
    )

    # pass 2; before any break or carry-in, the session starts at index 1
    return u.select(
        *keep,
        F.sum("__brk").over(w_cum).alias("__sid"),
        F.coalesce(F.last("__start_idx", ignorenulls=True).over(w_cum), F.lit(1)).alias(
            "__sess_start"
        ),
        next_non_null("__brk_idx").over(w).alias("__next_brk"),
        F.last("__pay", ignorenulls=True).over(w_cum).alias("__pay"),
    )


def entity_state(
    observations: DataFrame,
    cut,
    gap=DEFAULT_SESSION_GAP,
    entity: str = "entity_id",
    ts: str = "ts",
    value_col: str = "mean",
) -> DataFrame:
    """Bootstrap the per-entity state from history (``ts < cut``) — used
    once at adoption time and in tests; steady-state runs advance the
    state with ``roll_state`` instead.  It is ``roll_state`` from the
    empty state over the history."""
    hist = observations.filter(F.col(ts) < F.lit(cut)).select(
        entity, ts, F.col(value_col).alias("__v")
    )
    return roll_state(_empty_state(hist, entity, ts), hist, gap, entity, ts, "__v")


def roll_state(
    state: DataFrame,
    observations_delta: DataFrame,
    gap=DEFAULT_SESSION_GAP,
    entity: str = "entity_id",
    ts: str = "ts",
    value_col: str = "mean",
) -> DataFrame:
    """Advance ``state`` (valid at some cut) over ``observations_delta``
    (all observations in ``[cut, next_cut)``), producing the state at
    ``next_cut`` — without reading any history.  Entities absent from the
    delta keep their old state row; entities new in the delta start from
    zero.  Plan: the fill's window core over carry-in ∪ delta (no
    probes), reduced per entity over the same exchange."""
    t = _windows(_chain(observations_delta, state, entity, ts, value_col, []), [], gap)
    return t.groupBy("__e").agg(
        F.max("__ts").alias("last_ts"),
        F.max_by("__sv.v", "__ts").alias("last_value"),
        F.max("__oidx").cast("long").alias("obs_before"),
        F.max("__sid").cast("long").alias("sessions_before"),
        F.max("__sess_start").cast("long").alias("last_sess_start"),
    ).withColumnRenamed("__e", entity)


def incremental_fill(
    observations_delta: DataFrame,
    probes: DataFrame,
    state: DataFrame,
    tolerance=DEFAULT_TOLERANCE,
    gap=DEFAULT_SESSION_GAP,
    entity: str = "entity_id",
    obs_ts: str = "ts",
    probe_ts: str = "query_ts",
    value_col: str = "mean",
    payload: list[str] | None = None,
) -> DataFrame:
    """One row per probe with ``matched_ts`` + ``value_col`` +
    ``lag_1_<value>`` / ``lead_1_<value>`` + any extra ``payload`` columns
    of the matched observation + ``session_id`` / ``session_len`` — equal
    to the full-history fill at the same data horizon, reading only
    ``state`` + the delta.  Over ``_empty_state`` it IS the full fill.

    Input contract (asserted by the parity tests, enforced by the caller's
    partition pruning in production):
      * every delta observation has ``obs_ts >= cut``;
      * every state row summarizes exactly the observations ``< cut``;
      * every probe has ``probe_ts >= cut + tolerance`` (older probes
        belong to the previous run).

    Plan: tagged union (carry-in=-1, obs=0, probe=1) -> ONE exchange on
    the entity -> one sort -> two Window passes (``_windows``).  Only
    observations fill the payload, so the carry-in row is never a
    match."""
    payload = payload or []
    probe_side = probes.select(
        F.col(entity).alias("__e"), F.col(probe_ts).alias("__ts"), F.lit(1).alias("__tag")
    )
    u = _chain(observations_delta, state, entity, obs_ts, value_col, payload)
    t = _windows(u.unionByName(probe_side, allowMissingColumns=True), payload, gap)

    in_tol = F.col("__pay").isNotNull() & (
        F.abs(ts_diff_us("__ts", "__pay.matched_ts")) <= int(seconds(tolerance) * 1e6)
    )
    value = {value_col: F.col("__pay.__v")}
    value.update({c: F.col(f"__pay.{c}") for c in payload})
    value[f"lag_1_{value_col}"] = F.col("__pay.__lag")
    value[f"lead_1_{value_col}"] = F.col("__pay.__lead")
    value["session_id"] = F.col("__sid").cast("long")
    sess_end = F.coalesce(F.col("__next_brk") - 1, F.col("__n_obs"))
    value["session_len"] = (sess_end - F.col("__sess_start") + 1).cast("int")
    return t.filter(F.col("__tag") == 1).select(
        F.col("__e").alias(entity),
        F.col("__ts").alias(probe_ts),
        F.when(in_tol, F.col("__pay.matched_ts")).alias("matched_ts"),
        *[F.when(in_tol, v).alias(c) for c, v in value.items()],
    )


def roll_flagship_state(
    state: DataFrame, window: DataFrame, gap=DEFAULT_SESSION_GAP
) -> DataFrame:
    """Advance a flagship token-pipeline state over ``window`` (the token
    observations of ``[cut, next_cut)``).  The counters come from a
    ts-only ``roll_state``, and the carry-in value (the boundary
    observation's ``mean`` token stat) from running the Arrow stats kernel
    over ONLY one row per entity — never the window again.  The boundary
    row is the window's latest; of rows tied at that ts, the one with the
    greatest ``doc_id``, so the state has exactly one row per entity.
    Entities absent from the window keep their old ``last_value``."""
    boundary = window.groupBy("entity_id").agg(
        F.max_by("tokens", F.struct("ts", "doc_id")).alias("tokens")
    )
    means = token_stats_arrow(boundary, "tokens").select(
        "entity_id", F.col("mean").alias("__m"), F.lit(True).alias("__seen")
    )
    ts_only = window.select("entity_id", "ts", F.lit(None).cast("double").alias("mean"))
    return roll_state(state, ts_only, gap).join(means, "entity_id", "left").select(
        "entity_id",
        "last_ts",
        F.when(F.col("__seen"), F.col("__m")).otherwise(F.col("last_value")).alias(
            "last_value"
        ),
        *STATE_COLS[2:],
    )


def flagship_entity_state(observations: DataFrame, cut, gap=DEFAULT_SESSION_GAP) -> DataFrame:
    """Bootstrap state for the flagship token pipeline: the empty state
    rolled over the history ``ts < cut`` (``roll_flagship_state``)."""
    hist = observations.filter(F.col("ts") < F.lit(cut))
    return roll_flagship_state(_empty_state(hist, "entity_id", "ts"), hist, gap)


def feature_table_incremental(
    observations_delta: DataFrame,
    probes: DataFrame,
    state: DataFrame,
    tolerance=DEFAULT_TOLERANCE,
) -> DataFrame:
    """The flagship feature table: token stats on the observations (a
    scalar Arrow UDF over the token column alone; probes never reach
    Python), then ``incremental_fill`` with ``mean`` as the fill value,
    then the ``FEATURE_PAYLOAD`` columns.  Over ``_empty_state`` this is
    ``plans.pipeline.feature_table_fused``; with a state it equals that
    full build for the probes of this run's window
    (tests/test_incremental.py proves row-identity)."""
    out = incremental_fill(
        token_stats_arrow(observations_delta, "tokens"),
        probes,
        state,
        tolerance=tolerance,
        gap=DEFAULT_SESSION_GAP,
        value_col="mean",
        payload=STAT_PAYLOAD,
    )
    return out.select("entity_id", "query_ts", "matched_ts", *FEATURE_PAYLOAD)
