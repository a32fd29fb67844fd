"""Incremental feature-table maintenance — the production loop at
10^12-sequence scale.

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

Scale shape: the state table is one row per entity (billions of rows at
most — a normal bucketed table), the delta scan partition-prunes on the
dated lakehouse layout, and the fill is a one-Exchange union + window
plan like ``plans.pipeline.feature_table_fused``, with three extra
ignorenulls carry-forward fills over the SAME sort — no additional
exchange, no additional sort.  Its forward lookups are linear
``lead ... IGNORE NULLS``, as in the fused plan; unlike it, the fill is
a ``withColumn`` chain, so it plans one Window operator per dependent
column rather than one per dependency level.

Reference analog: the resumable session state of
pfa-database/.../classifier/ClassifierModel.java:36-164 (persisted
iteration state consumed by the next run), re-expressed as a relational
state table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from esa_pfa_spark.functions.time import ts_diff_us
from esa_pfa_spark.operators.windows import next_non_null
from esa_pfa_spark.plans.pipeline import DEFAULT_SESSION_GAP, DEFAULT_TOLERANCE

STATE_COLS = [
    "last_ts", "last_value", "obs_before", "sessions_before", "last_sess_start",
]


def entity_state(
    observations: DataFrame,
    cut,
    gap=DEFAULT_SESSION_GAP,
    entity: str = "entity_id",
    ts: str = "ts",
    value_col: str | None = "mean",
) -> DataFrame:
    """Bootstrap the per-entity state from history (``ts < cut``) — used
    once at adoption time and in tests; steady-state runs advance the
    state with ``roll_state`` instead.  One window pass over the history
    (same (entity, ts) sort the full plan needs anyway), then one
    per-entity reduction.  ``value_col=None`` emits a null ``last_value``
    (for callers that attach it separately, e.g. ``flagship_entity_state``
    computing token stats for just the boundary rows)."""
    gap_us = int(gap.total_seconds() * 1e6)
    hist = observations.filter(F.col(ts) < F.lit(cut))
    w = Window.partitionBy(entity).orderBy(ts)
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vexpr = (
        F.col(value_col) if value_col is not None else F.lit(None).cast("double")
    )
    brk = F.when(
        F.col("__prev_ts").isNotNull()
        & (ts_diff_us(ts, "__prev_ts") > gap_us),
        1,
    ).otherwise(0)
    h = (
        hist.select(entity, ts, vexpr.alias("__v"))
        .withColumn("__prev_ts", F.lag(ts).over(w))
        .withColumn("__brk", brk)
        .withColumn("__oidx", F.count(F.lit(1)).over(w_cum))
        .withColumn("__sid", F.sum("__brk").over(w_cum))
        .withColumn(
            "__sess_start",
            F.max(F.when((F.col("__brk") == 1) | (F.col("__oidx") == 1),
                         F.col("__oidx"))).over(w_cum),
        )
    )
    return h.groupBy(entity).agg(
        F.max(ts).alias("last_ts"),
        F.max_by("__v", F.col(ts)).alias("last_value"),
        F.count(F.lit(1)).cast("long").alias("obs_before"),
        F.max("__sid").cast("long").alias("sessions_before"),
        F.max("__sess_start").cast("long").alias("last_sess_start"),
    )


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
    zero.  Plan: the delta's window pass is seeded by the carried
    (last_ts, counters) via a carry-in row per entity, one outer merge at
    the end."""
    gap_us = int(gap.total_seconds() * 1e6)
    d = observations_delta.select(
        F.col(entity).alias("__e"),
        F.col(ts).alias("__ts"),
        F.col(value_col).alias("__v"),
        F.lit(0).alias("__tag"),
        *[F.lit(None).cast(t).alias(c) for c, t in [
            ("__obs_before", "long"), ("__sessions_before", "long"),
            ("__last_sess_start", "long"),
        ]],
    )
    s = state.select(
        F.col(entity).alias("__e"),
        F.col("last_ts").alias("__ts"),
        F.col("last_value").alias("__v"),
        F.lit(2).alias("__tag"),
        F.col("obs_before").alias("__obs_before"),
        F.col("sessions_before").alias("__sessions_before"),
        F.col("last_sess_start").alias("__last_sess_start"),
    )
    u = d.unionByName(s)
    w = Window.partitionBy("__e").orderBy(F.col("__ts").asc(), F.col("__tag").desc())
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # the carry-in (tag 2) sorts FIRST (its ts precedes every delta ts by
    # the cut contract; __tag desc is a tie-breaker for robustness only)
    u = u.withColumn("__prev_ts", F.lag("__ts").over(w))
    is_obs = F.col("__tag") == 0
    obs_b = F.coalesce(
        F.last(F.when(F.col("__tag") == 2, F.col("__obs_before")), ignorenulls=True).over(w_cum),
        F.lit(0),
    )
    sess_b = F.coalesce(
        F.last(F.when(F.col("__tag") == 2, F.col("__sessions_before")), ignorenulls=True).over(w_cum),
        F.lit(0),
    )
    carried_start = F.last(
        F.when(F.col("__tag") == 2, F.col("__last_sess_start")), ignorenulls=True
    ).over(w_cum)
    brk = F.when(
        is_obs & F.col("__prev_ts").isNotNull()
        & (ts_diff_us("__ts", "__prev_ts") > gap_us),
        1,
    ).otherwise(0)
    h = (
        u.withColumn("__brk", brk)
        .withColumn("__cum_obs", F.sum(is_obs.cast("int")).over(w_cum))
        .withColumn("__gidx", obs_b + F.col("__cum_obs"))
        .withColumn("__sid", sess_b + F.sum("__brk").over(w_cum))
        .withColumn(
            "__sess_start",
            F.coalesce(
                F.max(F.when(is_obs & ((F.col("__brk") == 1) | (F.col("__gidx") == 1)),
                             F.col("__gidx"))).over(w_cum),
                carried_start,
            ),
        )
    )
    return h.groupBy("__e").agg(
        F.max("__ts").alias("last_ts"),
        F.max_by("__v", "__ts").alias("last_value"),
        F.max("__gidx").cast("long").alias("obs_before"),
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
    """The incremental analog of ``plans.pipeline.feature_table_fused``: one row
    per probe with ``matched_ts`` + ``value_col`` + ``lag_1_<value>`` +
    ``session_id`` / ``session_len`` + any extra ``payload`` columns from
    the matched observation — equal to the full-history fill at the same
    data horizon, reading only ``state`` + the delta.

    Input contract (asserted by the parity tests, enforced by the caller's
    partition pruning in production):
      * every delta observation has ``obs_ts >= cut``;
      * every state row summarizes exactly the observations ``< cut``;
      * every probe has ``probe_ts >= cut + tolerance`` (older probes
        belong to the previous run).

    Plan: tagged union (obs=0, probe=1, state carry-in=2) -> ONE exchange
    on the entity -> one in-partition sort, as in the fused plan, with
    three extra ignorenulls fills that ride it (state counters
    forward-filled from the carry-in row).  The carry-in
    can never be an in-tolerance match (its ts < cut <= probe_ts - tol),
    so its partial payload never surfaces."""
    payload = payload or []
    gap_us = int(gap.total_seconds() * 1e6)
    tol_us = int(
        (tolerance.total_seconds() if hasattr(tolerance, "total_seconds")
         else float(tolerance)) * 1e6
    )
    lagname = f"lag_1_{value_col}"
    leadname = f"lead_1_{value_col}"

    obs_side = observations_delta.select(
        F.col(entity).alias("__e"),
        F.col(obs_ts).alias("__ts"),
        F.lit(0).alias("__tag"),
        F.col(value_col).alias("__v"),
        *[F.col(c) for c in payload],
        F.lit(None).cast("long").alias("__obs_before"),
        F.lit(None).cast("long").alias("__sessions_before"),
        F.lit(None).cast("long").alias("__last_sess_start"),
    )
    obs_schema = {f.name: f.dataType for f in observations_delta.schema.fields}
    probe_side = probes.select(
        F.col(entity).alias("__e"),
        F.col(probe_ts).alias("__ts"),
        F.lit(1).alias("__tag"),
        F.lit(None).cast(obs_schema[value_col]).alias("__v"),
        *[F.lit(None).cast(obs_schema[c]).alias(c) for c in payload],
        F.lit(None).cast("long").alias("__obs_before"),
        F.lit(None).cast("long").alias("__sessions_before"),
        F.lit(None).cast("long").alias("__last_sess_start"),
    )
    state_side = state.select(
        F.col(entity).alias("__e"),
        F.col("last_ts").alias("__ts"),
        F.lit(2).alias("__tag"),
        F.col("last_value").alias("__v"),
        *[F.lit(None).cast(obs_schema[c]).alias(c) for c in payload],
        F.col("obs_before").alias("__obs_before"),
        F.col("sessions_before").alias("__sessions_before"),
        F.col("last_sess_start").alias("__last_sess_start"),
    )
    u = obs_side.unionByName(probe_side).unionByName(state_side)

    w = Window.partitionBy("__e").orderBy(F.col("__ts").asc(), F.col("__tag").asc())
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    is_obs = F.col("__tag") == 0
    chain = F.col("__tag") != 1  # obs + carry-in: the timeline the fills walk
    chain_ts = F.when(chain, F.col("__ts"))
    chain_v = F.when(chain, F.col("__v"))

    # state counters forward-filled from the carry-in row (it sorts first
    # per entity by the cut contract); entities with no state default to 0
    obs_b = F.coalesce(
        F.last(F.when(F.col("__tag") == 2, F.col("__obs_before")), ignorenulls=True).over(w_cum),
        F.lit(0),
    )
    sess_b = F.coalesce(
        F.last(F.when(F.col("__tag") == 2, F.col("__sessions_before")), ignorenulls=True).over(w_cum),
        F.lit(0),
    )
    carried_start = F.last(
        F.when(F.col("__tag") == 2, F.col("__last_sess_start")), ignorenulls=True
    ).over(w_cum)

    u = u.withColumn("__prev_ts", F.last(chain_ts, ignorenulls=True).over(w_prev))
    u = u.withColumn(
        lagname, F.when(is_obs, F.last(chain_v, ignorenulls=True).over(w_prev))
    )
    # lead looks FORWARD over loaded observations only: the carry-in sorts
    # first so it can never supply a forward value, and a matched (always
    # loaded) row's next observation is loaded or absent at this horizon —
    # exactly the full plan's lead at the same horizon
    u = u.withColumn("__obs_v", F.when(is_obs, F.col("__v")))
    u = u.withColumn(leadname, F.when(is_obs, next_non_null("__obs_v").over(w)))
    gap_col = ts_diff_us("__ts", "__prev_ts")
    brk = F.when(is_obs & gap_col.isNotNull() & (gap_col > gap_us), 1).otherwise(0)
    u = u.withColumn("__brk", brk)
    u = u.withColumn(
        "session_id",
        F.when(is_obs, (sess_b + F.sum("__brk").over(w_cum)).cast("long")),
    )
    cum_obs = F.sum(is_obs.cast("int")).over(w_cum)
    u = u.withColumn("__gidx", F.when(is_obs, obs_b + cum_obs))
    sess_start = F.coalesce(
        F.last(
            F.when(is_obs & ((F.col("__brk") == 1) | (F.col("__gidx") == 1)),
                   F.col("__gidx")),
            ignorenulls=True,
        ).over(w_cum),
        carried_start,
    )
    u = u.withColumn("__brk_idx", F.when(is_obs & (F.col("__brk") == 1), F.col("__gidx")))
    next_brk = next_non_null("__brk_idx").over(w)
    total_obs = F.max("__gidx").over(w_all)
    u = u.withColumn(
        "session_len",
        F.when(
            is_obs,
            (F.coalesce(next_brk - 1, total_obs) - sess_start + 1).cast("int"),
        ),
    )

    payload_fields = (
        [F.col("__ts").alias("matched_ts"), F.col("__v").alias(value_col)]
        + [F.col(c) for c in payload]
        + [F.col(lagname), F.col(leadname), F.col("session_id"), F.col("session_len")]
    )
    u = u.withColumn("__pay", F.when(chain, F.struct(*payload_fields)))
    filled = u.withColumn("__pay", F.last("__pay", ignorenulls=True).over(w_cum))

    out = filled.filter(F.col("__tag") == 1)
    in_tol = F.col("__pay").isNotNull() & (
        F.abs(F.expr("timestampdiff(MICROSECOND, __pay.matched_ts, __ts)")) <= tol_us
    )
    out_names = [value_col] + payload + [lagname, leadname, "session_id", "session_len"]
    return out.select(
        F.col("__e").alias(entity),
        F.col("__ts").alias(probe_ts),
        F.when(in_tol, F.col("__pay.matched_ts")).alias("matched_ts"),
        *[F.when(in_tol, F.col(f"__pay.{c}")).alias(c) for c in out_names],
    )


def flagship_entity_state(observations: DataFrame, cut, gap=DEFAULT_SESSION_GAP) -> DataFrame:
    """Bootstrap state for the flagship token pipeline: the counters come
    from one ts-only window pass over history, and the carry-in value
    (the boundary observation's ``mean`` token stat) is computed by
    running the Arrow stats kernel over ONLY the last row per entity —
    never the full history.  Assumes (entity_id, ts) is unique (the
    observation tables' contract throughout this repo)."""
    from esa_pfa_spark.operators.features import token_stats_arrow

    st = entity_state(observations, cut, gap=gap, value_col=None)
    last_rows = observations.join(
        st.select("entity_id", F.col("last_ts").alias("ts")), ["entity_id", "ts"]
    )
    means = token_stats_arrow(last_rows.select("entity_id", "ts", "tokens"), "tokens")
    return st.drop("last_value").join(
        means.select("entity_id", F.col("mean").alias("last_value")),
        "entity_id",
        "left",
    ).select("entity_id", *STATE_COLS)


STAT_PAYLOAD = [
    "tokens", "n_tok", "stdev", "cvar", "min", "max",
    "p10", "p50", "p90", "skewness", "count",
]


def feature_table_incremental(
    observations_delta: DataFrame,
    probes: DataFrame,
    state: DataFrame,
    tolerance=DEFAULT_TOLERANCE,
) -> DataFrame:
    """The flagship ``feature_table_fused`` computed incrementally:
    identical output schema and — for probes in this run's window —
    identical rows (tests/test_incremental.py proves row-identity against
    the full recompute at the same horizon)."""
    from esa_pfa_spark.operators.features import token_stats_arrow
    from esa_pfa_spark.plans.pipeline import FEATURE_PAYLOAD

    enriched = token_stats_arrow(observations_delta, "tokens")
    out = incremental_fill(
        enriched,
        probes,
        state,
        tolerance=tolerance,
        gap=DEFAULT_SESSION_GAP,
        value_col="mean",
        payload=STAT_PAYLOAD,
    )
    return out.select("entity_id", "query_ts", "matched_ts", *FEATURE_PAYLOAD)
