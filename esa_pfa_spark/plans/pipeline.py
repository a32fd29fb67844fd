"""The flagship end-to-end pipeline (SURVEY.md §7 step 2, extended):

  observations (tokens table with entity/ts) ∪ probes
    -> per-row STX token stats                 (features.token_stats_arrow)
    -> lag/lead mean over the entity timeline
    -> gap-based sessionization (gap > 7d)
    -> backward tolerance-bounded as-of fill to probe timestamps
  => one row per (entity_id, query_ts) carrying the matched observation's
     token array (byte-equal invariant) + feature vector, zero leakage.

This chain replaces the reference's BiTempPreprocessor -> FindPatchPairs ->
BiTempSpectralFeatureWriter flow (SURVEY.md §3.4) one-for-one, as ONE
plan: ``feature_table_fused``, which ``cli run`` (and ``--resume``)
executes.  Its rows are pinned by the pandas oracle
(tests/test_pipeline.py) and its one-exchange shape by tests/test_plans.py.
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
from esa_pfa_spark.operators.features import token_stats_arrow

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


def feature_table_fused(
    observations: DataFrame,
    probes: DataFrame,
    tolerance=DEFAULT_TOLERANCE,
) -> DataFrame:
    """Point-in-time feature lookup at each probe timestamp, in a single
    shuffle (the 100 TB plan).  Unions probes with RAW observations,
    exchanges ONCE on entity_id, and computes everything over the single
    sorted stream:

      * token stats: Arrow UDF BEFORE the exchange — per-row, needs no
        co-location, and ``mapInArrow`` cannot promise Catalyst that it
        preserves a child partitioning, so stats placed after the
        exchange would force the window sort to re-exchange; probe rows
        carry null tokens and get null stats at no cost;
      * lag/lead over observations only: ``last/first(val, ignorenulls)``
        over (unbounded, -1) / (+1, unbounded) frames — probe rows are
        null so they are skipped exactly like lag/lead over the obs-only
        stream;
      * sessionization: gap from the previous OBSERVATION row
        (ignorenulls fill of obs-ts), break-cumsum over obs rows only;
      * as-of fill: last(payload struct, ignorenulls), kept only within
        ``tolerance`` of the probe.

    Physical shape: 1 Exchange + in-partition window Sorts + 1 ArrowEval.
    Returns one row per probe: entity_id, query_ts, matched_ts and
    ``FEATURE_PAYLOAD`` (null when no observation is within tolerance).
    """
    obs_side = observations.select(
        "entity_id",
        F.col("ts").alias("__ts"),
        F.lit(0).alias("__tag"),
        "tokens",
        "n_tok",
    )
    null_tokens = F.lit(None).cast(observations.schema["tokens"].dataType)
    probe_side = probes.select(
        "entity_id",
        F.col("query_ts").alias("__ts"),
        F.lit(1).alias("__tag"),
        null_tokens.alias("tokens"),
        F.lit(None).cast("int").alias("n_tok"),
    )
    u = token_stats_arrow(obs_side.unionByName(probe_side), "tokens")

    gap_us = int(DEFAULT_SESSION_GAP.total_seconds() * 1e6)
    tol_us = int(
        (tolerance.total_seconds() if hasattr(tolerance, "total_seconds") else float(tolerance))
        * 1e6
    )

    order = [F.col("__ts").asc(), F.col("__tag").asc()]
    w_prev = Window.partitionBy("entity_id").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_next = Window.partitionBy("entity_id").orderBy(*order).rowsBetween(
        1, Window.unboundedFollowing
    )
    w_cum = Window.partitionBy("entity_id").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )

    is_obs = F.col("__tag") == 0
    obs_ts = F.when(is_obs, F.col("__ts"))
    obs_mean = F.when(is_obs, F.col("mean"))
    u = u.withColumn("__prev_obs_ts", F.last(obs_ts, ignorenulls=True).over(w_prev))
    u = u.withColumn(
        "lag_1_mean", F.when(is_obs, F.last(obs_mean, ignorenulls=True).over(w_prev))
    )
    u = u.withColumn(
        "lead_1_mean", F.when(is_obs, F.first(obs_mean, ignorenulls=True).over(w_next))
    )
    gap = ts_diff_us("__ts", "__prev_obs_ts")
    brk = F.when(is_obs & gap.isNotNull() & (gap > gap_us), 1).otherwise(0)
    u = u.withColumn("__brk", brk)
    u = u.withColumn(
        "session_id", F.when(is_obs, F.sum("__brk").over(w_cum).cast("long"))
    )
    # session_len WITHOUT a second sort: the natural form is a window
    # partitioned by (entity_id, session_id), but that plans a fresh full-
    # width Sort (Spark can't know session_id is monotone in ts).  Instead
    # number the observations (cumulative obs index over the SAME
    # (ts, tag) sort) and bracket each session arithmetically:
    #   start = obs index at my session's first obs (carried forward),
    #   end   = index before the NEXT session's first obs (looked up
    #           forward), or the entity's total obs count for the last
    #           session.  All frames reuse the one existing sort.
    w_all = Window.partitionBy("entity_id").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum_obs = F.sum(is_obs.cast("int")).over(w_cum)
    u = u.withColumn("__oidx", F.when(is_obs, cum_obs))
    sess_start = F.last(
        F.when(is_obs & ((F.col("__brk") == 1) | (F.col("__oidx") == 1)), F.col("__oidx")),
        ignorenulls=True,
    ).over(w_cum)
    next_brk = F.first(
        F.when(is_obs & (F.col("__brk") == 1), F.col("__oidx")), ignorenulls=True
    ).over(w_next)
    total_obs = F.max("__oidx").over(w_all)
    u = u.withColumn(
        "session_len",
        F.when(
            is_obs,
            (F.coalesce(next_brk - 1, total_obs) - sess_start + 1).cast("int"),
        ),
    )

    payload_fields = [F.col("__ts").alias("matched_ts")] + [
        F.col(c) for c in FEATURE_PAYLOAD
    ]
    u = u.withColumn("__pay", F.when(is_obs, F.struct(*payload_fields)))
    filled = u.withColumn("__pay", F.last("__pay", ignorenulls=True).over(w_cum))

    out = filled.filter(F.col("__tag") == 1)
    in_tol = F.col("__pay").isNotNull() & (
        F.abs(F.expr("timestampdiff(MICROSECOND, __pay.matched_ts, __ts)")) <= tol_us
    )
    return out.select(
        "entity_id",
        F.col("__ts").alias("query_ts"),
        F.when(in_tol, F.col("__pay.matched_ts")).alias("matched_ts"),
        *[F.when(in_tol, F.col(f"__pay.{c}")).alias(c) for c in FEATURE_PAYLOAD],
    )
