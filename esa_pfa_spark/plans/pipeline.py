"""The flagship end-to-end pipeline (SURVEY.md §7 step 2, extended):

  observations (tokens table with entity/ts)
    -> per-row STX token stats                 (features.token_stats_arrow)
    ∪ probes
    -> lag/lead mean over the entity timeline
    -> gap-based sessionization (gap > 7d)
    -> backward tolerance-bounded as-of fill to probe timestamps
  => one row per (entity_id, query_ts) carrying the matched observation's
     token array (byte-equal invariant) + feature vector, zero leakage.

This chain replaces the reference's BiTempPreprocessor -> FindPatchPairs ->
BiTempSpectralFeatureWriter flow (SURVEY.md §3.4) one-for-one, as ONE
plan: ``feature_table_fused``, which ``cli run`` (and ``--resume``)
executes.  Its rows are pinned by the pandas oracle
(tests/test_pipeline.py, including one hot entity of thousands of
observations) and its shape — 1 Exchange + 1 Sort + 2 Window + 1
ArrowEvalPython on the observation side, no frame reaching to the
partition's end other than the whole partition — by tests/test_plans.py.
The composable operators (``windows.lag_lead``, ``windows.sessionize``,
``asof.asof_join``) compute the same features stage by stage, at the cost
of a second exchange: the as-of union invalidates the enriched side's
partitioning.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from esa_pfa_spark.functions.time import ts_diff_us
from esa_pfa_spark.operators.features import STAT_NAMES, token_stats_arrow
from esa_pfa_spark.operators.windows import next_non_null

DEFAULT_TOLERANCE = _dt.timedelta(days=7)
DEFAULT_SESSION_GAP = _dt.timedelta(days=7)

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
# read at the probe row in ``feature_table_fused``, not from the payload
SESSION_COLS = ("session_id", "session_len")


def feature_table_fused(
    observations: DataFrame,
    probes: DataFrame,
    tolerance=DEFAULT_TOLERANCE,
) -> DataFrame:
    """Point-in-time feature lookup at each probe timestamp, in a single
    shuffle (the 100 TB plan).  Computes token stats on the observations,
    unions them with the probes, exchanges ONCE on entity_id and computes
    everything else in two window passes over the one sorted stream:

      * token stats: a scalar Arrow UDF on the observation side, before
        the union — per-row, needs no co-location, and only the token
        column crosses to Python; probe rows carry typed null stats and
        never reach Python;
      * pass 1 (depends on the stats only): the previous observation's
        ts and mean (``last(..., ignorenulls)`` over (unbounded, -1)),
        the next observation's mean (``lead(mean, 1) IGNORE NULLS`` —
        probe rows have a null mean, so both skip them exactly as
        lag/lead over the observation-only stream would), the running
        observation index and the entity's observation count;
      * pass 2 (depends on pass 1): the session-break cum-sum, the
        carried index of the session's first observation, the index of
        the next break (``lead ... IGNORE NULLS``), and the as-of fill
        ``last(payload struct, ignorenulls)``.

    ``session_id`` and ``session_len`` are read at each probe row, not
    carried in the payload: only probes sit between a probe and its
    matched observation, and probes add no break and no observation, so
    every cumulative and next-break value there equals the observation's.
    Both "next" lookups are ``lead`` (linear): a ``first`` over a
    ``(1, unbounded following)`` frame is recomputed per row, quadratic
    on a hot key.

    Physical shape: 1 Exchange + 1 Sort + 2 Window + 1 ArrowEvalPython
    on the observation side.  Returns one row per probe: entity_id,
    query_ts, matched_ts and ``FEATURE_PAYLOAD`` (null when no
    observation is within ``tolerance``).
    """
    obs_side = token_stats_arrow(
        observations.select(
            "entity_id",
            F.col("ts").alias("__ts"),
            F.lit(0).alias("__tag"),
            "tokens",
            "n_tok",
        ),
        "tokens",
    )
    probe_side = probes.select(
        "entity_id",
        F.col("query_ts").alias("__ts"),
        F.lit(1).alias("__tag"),
        *[
            F.lit(None).cast(obs_side.schema[c].dataType).alias(c)
            for c in ["tokens", "n_tok", *STAT_NAMES]
        ],
    )
    u = obs_side.unionByName(probe_side)

    gap_us = int(DEFAULT_SESSION_GAP.total_seconds() * 1e6)
    tol_us = int(
        (tolerance.total_seconds() if hasattr(tolerance, "total_seconds") else float(tolerance))
        * 1e6
    )

    w = Window.partitionBy("entity_id").orderBy(F.col("__ts").asc(), F.col("__tag").asc())
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    is_obs = F.col("__tag") == 0
    n_obs = F.sum(is_obs.cast("int"))

    # pass 1
    u = u.select(
        "*",
        F.last(F.when(is_obs, F.col("__ts")), ignorenulls=True)
        .over(w_prev)
        .alias("__prev_obs_ts"),
        F.when(is_obs, F.last("mean", ignorenulls=True).over(w_prev)).alias("lag_1_mean"),
        F.when(is_obs, next_non_null("mean").over(w)).alias("lead_1_mean"),
        n_obs.over(w_cum).alias("__oidx"),
        n_obs.over(w_all).alias("__n_obs"),
    )

    gap = ts_diff_us("__ts", "__prev_obs_ts")
    brk = is_obs & gap.isNotNull() & (gap > gap_us)
    payload_fields = [F.col("__ts").alias("matched_ts")] + [
        F.col(c) for c in FEATURE_PAYLOAD if c not in SESSION_COLS
    ]
    # session_len WITHOUT a second sort: the natural form is a window
    # partitioned by (entity_id, session_id), but that plans a fresh
    # full-width Sort (Spark can't know session_id is monotone in ts).
    # Instead bracket each session by observation index over the SAME
    # sort: start = index of the session's first observation (carried
    # forward), end = index before the next break (looked up forward),
    # or the entity's observation count for the last session.
    u = u.select(
        "entity_id",
        "__ts",
        "__tag",
        "__n_obs",
        brk.cast("int").alias("__brk"),
        F.when(brk, F.col("__oidx")).alias("__brk_idx"),
        F.when(brk | (is_obs & (F.col("__oidx") == 1)), F.col("__oidx")).alias("__start_idx"),
        F.when(is_obs, F.struct(*payload_fields)).alias("__pay"),
    )

    # pass 2
    u = u.select(
        "entity_id",
        "__ts",
        "__tag",
        "__n_obs",
        F.sum("__brk").over(w_cum).alias("__sid"),
        F.last("__start_idx", ignorenulls=True).over(w_cum).alias("__sess_start"),
        next_non_null("__brk_idx").over(w).alias("__next_brk"),
        F.last("__pay", ignorenulls=True).over(w_cum).alias("__pay"),
    )

    out = u.filter(F.col("__tag") == 1)
    in_tol = F.col("__pay").isNotNull() & (
        F.abs(F.expr("timestampdiff(MICROSECOND, __pay.matched_ts, __ts)")) <= tol_us
    )
    sess_end = F.coalesce(F.col("__next_brk") - 1, F.col("__n_obs"))
    value = {c: F.col(f"__pay.{c}") for c in FEATURE_PAYLOAD if c not in SESSION_COLS}
    value["session_id"] = F.col("__sid").cast("long")
    value["session_len"] = (sess_end - F.col("__sess_start") + 1).cast("int")
    return out.select(
        "entity_id",
        F.col("__ts").alias("query_ts"),
        F.when(in_tol, F.col("__pay.matched_ts")).alias("matched_ts"),
        *[F.when(in_tol, value[c]).alias(c) for c in FEATURE_PAYLOAD],
    )
