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
executes.  It is the incremental feature build
(``plans.incremental.feature_table_incremental``) over an empty state:
one window core serves the full and the incremental builds, and a full
build is the incremental fill with no carry-in rows.  Its rows are pinned
by the pandas oracle (tests/test_pipeline.py, including one hot entity of
thousands of observations and a zero-token document) and its shape — 1
Exchange + 1 Sort + 2 Window + 1 ArrowEvalPython on the observation side,
no frame reaching to the partition's end other than the whole partition —
by tests/test_plans.py.  The composable operators
(``windows.lag_lead``, ``windows.sessionize``, ``asof.asof_join``)
compute the same features stage by stage, at the cost of a second
exchange: the as-of union invalidates the enriched side's partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from esa_pfa_spark.plans.incremental import (  # noqa: F401  (re-exported)
    DEFAULT_SESSION_GAP,
    DEFAULT_TOLERANCE,
    FEATURE_PAYLOAD,
    _empty_state,
    feature_table_incremental,
)


def feature_table_fused(
    observations: DataFrame,
    probes: DataFrame,
    tolerance=DEFAULT_TOLERANCE,
) -> DataFrame:
    """Point-in-time feature lookup at each probe timestamp, in a single
    shuffle (the 100 TB plan): token stats on the observation side (only
    the token column crosses to Python), then the window core of
    ``plans.incremental`` with no carry-in rows — the tagged union
    exchanged ONCE on entity_id and read by two window passes over the
    one sorted stream — then the ``FEATURE_PAYLOAD`` columns.

    Physical shape: 1 Exchange + 1 Sort + 2 Window + 1 ArrowEvalPython
    on the observation side.  Returns one row per probe: entity_id,
    query_ts, matched_ts and ``FEATURE_PAYLOAD`` (null when no
    observation is within ``tolerance``).
    """
    return feature_table_incremental(
        observations, probes, _empty_state(observations, "entity_id", "ts"), tolerance
    )
