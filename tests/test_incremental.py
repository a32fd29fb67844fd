"""Incremental feature-table maintenance (plans/incremental.py): the
state + delta run must be ROW-IDENTICAL to the full-history recompute at
the same data horizon, and ``roll_state`` must advance the state exactly
as a fresh ``entity_state`` bootstrap would."""

from __future__ import annotations

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

from esa_pfa_spark import synth
from esa_pfa_spark.plans.incremental import (
    entity_state,
    feature_table_incremental,
    flagship_entity_state,
    incremental_fill,
    roll_state,
)
from esa_pfa_spark.plans.pipeline import feature_table_fused
from tests.test_plans import assert_no_following_frame, plan_of

TOL = dt.timedelta(days=7)


def _canon(df):
    """Order-insensitive exact row set: tokens -> tuple, floats -> round(9)."""
    out = []
    for r in df.collect():
        d = r.asDict()
        row = []
        for k in sorted(d):
            v = d[k]
            if isinstance(v, list):
                v = tuple(v)
            elif isinstance(v, float):
                v = round(v, 9)
            row.append((k, v))
        out.append(tuple(row))
    return sorted(out, key=repr)


def T(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def _flagship_obs(spark, rows):
    """Observations from (entity, ts, doc_id, tokens) rows."""
    return spark.createDataFrame(
        [(e, 0, 0, ts, doc, toks, len(toks), "synth") for e, ts, doc, toks in rows],
        "entity_id string, bucket_x int, bucket_y int, ts timestamp, "
        "doc_id string, tokens array<int>, n_tok int, source string",
    )


@pytest.fixture(scope="module")
def handmade(spark):
    """Edge-rich fixture: cut at 2024-02-01.

    * entity a: history + delta, session CONTINUES across the cut
      (last hist obs 1-30, first delta obs 2-02: gap 3d < 7d);
    * entity b: NEW after the cut (no state row);
    * entity c: history only (its probe matches nothing in tolerance);
    * entity d: history + delta with a session BREAK at the first delta
      obs (gap 20d) and another break inside the delta.
    """
    rows = [
        ("a", T("2024-01-01T00:00:00"), "a0", [1, 2, 3]),
        ("a", T("2024-01-20T00:00:00"), "a1", [4, 5]),          # break (19d)
        ("a", T("2024-01-30T00:00:00"), "a2", [6]),
        ("a", T("2024-02-02T00:00:00"), "a3", [7, 8]),          # same session
        ("a", T("2024-02-20T00:00:00"), "a4", [9]),             # break
        ("b", T("2024-02-05T00:00:00"), "b0", [10, 11]),
        ("b", T("2024-02-06T00:00:00"), "b1", [12]),
        ("c", T("2024-01-10T00:00:00"), "c0", [13, 14, 15]),
        ("d", T("2024-01-12T00:00:00"), "d0", [16]),
        ("d", T("2024-02-01T12:00:00"), "d1", [17, 18]),        # break (20d)
        ("d", T("2024-02-15T00:00:00"), "d2", [19]),            # break (13.5d)
    ]
    obs = _flagship_obs(spark, rows)
    probes = spark.createDataFrame(
        [
            ("a", T("2024-02-08T00:00:00")),   # matches a3
            ("a", T("2024-02-21T00:00:00")),   # matches a4 (new session)
            ("b", T("2024-02-10T00:00:00")),   # new entity, matches b1
            ("c", T("2024-02-10T00:00:00")),   # nothing in tolerance -> nulls
            ("d", T("2024-02-08T00:00:00")),   # matches d1 (len-1 session)
            ("d", T("2024-02-16T00:00:00")),   # matches d2
            ("z", T("2024-02-12T00:00:00")),   # unknown entity -> nulls
        ],
        "entity_id string, query_ts timestamp",
    )
    return obs, probes, T("2024-02-01T00:00:00")


def test_handmade_incremental_equals_full(spark, handmade):
    obs, probes, cut = handmade
    state = flagship_entity_state(obs, cut)
    delta = obs.filter(F.col("ts") >= F.lit(cut))
    new_probes = probes.filter(F.col("query_ts") >= F.lit(cut) + F.expr("INTERVAL 7 DAYS"))
    incr = feature_table_incremental(delta, new_probes, state, tolerance=TOL)
    full = feature_table_fused(obs, probes).filter(
        F.col("query_ts") >= F.lit(cut) + F.expr("INTERVAL 7 DAYS")
    )
    assert _canon(incr) == _canon(full)
    # sanity on the fixture itself: every edge actually fired
    got = {(r["entity_id"], r["query_ts"]): r for r in incr.collect()}
    assert got[("c", T("2024-02-10T00:00:00"))]["matched_ts"] is None
    assert got[("z", T("2024-02-12T00:00:00"))]["matched_ts"] is None
    # a's history: break at a1 (19d) AND a2 (10d) -> a2 opens session 2,
    # a3 continues it across the cut (3d gap)
    assert got[("a", T("2024-02-08T00:00:00"))]["session_id"] == 2
    assert got[("a", T("2024-02-08T00:00:00"))]["session_len"] == 2  # a2 + a3
    assert got[("d", T("2024-02-08T00:00:00"))]["session_id"] == 1
    assert got[("d", T("2024-02-08T00:00:00"))]["session_len"] == 1
    assert got[("b", T("2024-02-10T00:00:00"))]["session_id"] == 0
    # lag of b1 is b0 (both in delta); lag of a3 crosses the cut via state
    assert got[("a", T("2024-02-08T00:00:00"))]["lag_1_mean"] == 6.0


def test_synth_incremental_equals_full(spark):
    obs = synth.observations_df(spark, seed=11, n_entities=200, mean_obs=12, mean_tok=8)
    probes = synth.queries_df(spark, seed=11, n_entities=200, mean_obs=12)
    cut = obs.agg(
        F.expr("percentile(unix_micros(ts), 0.5)").cast("long")
    ).collect()[0][0]
    cut = dt.datetime.fromtimestamp(cut / 1e6, dt.timezone.utc).replace(tzinfo=None)
    state = flagship_entity_state(obs, cut)
    delta = obs.filter(F.col("ts") >= F.lit(cut))
    new_probes = probes.filter(
        F.col("query_ts") >= F.lit(cut) + F.expr("INTERVAL 7 DAYS")
    )
    assert new_probes.count() > 50, "fixture must exercise a real probe window"
    incr = feature_table_incremental(delta, new_probes, state, tolerance=TOL)
    full = feature_table_fused(obs, probes).filter(
        F.col("query_ts") >= F.lit(cut) + F.expr("INTERVAL 7 DAYS")
    )
    assert _canon(incr) == _canon(full)


def test_roll_state_matches_fresh_bootstrap(spark):
    """state(cut1) advanced over [cut1, cut2) == entity_state at cut2."""
    obs = synth.observations_df(spark, seed=5, n_entities=120, mean_obs=10, mean_tok=6)
    from esa_pfa_spark.operators.features import token_stats_arrow

    enriched = token_stats_arrow(obs, "tokens").select("entity_id", "ts", "mean")
    ts_bounds = obs.agg(
        F.expr("percentile(unix_micros(ts), 0.35)").cast("long"),
        F.expr("percentile(unix_micros(ts), 0.7)").cast("long"),
    ).collect()[0]
    cut1, cut2 = (
        dt.datetime.fromtimestamp(b / 1e6, dt.timezone.utc).replace(tzinfo=None)
        for b in ts_bounds
    )
    s1 = entity_state(enriched, cut1, value_col="mean")
    window = enriched.filter((F.col("ts") >= F.lit(cut1)) & (F.col("ts") < F.lit(cut2)))
    rolled = roll_state(s1, window, value_col="mean")
    fresh = entity_state(enriched, cut2, value_col="mean")
    assert _canon(rolled) == _canon(fresh)


def test_chained_runs_cover_every_probe_once(spark, handmade):
    """Two consecutive incremental runs (state rolled between) jointly
    reproduce the full feature table over both probe windows."""
    obs, probes, cut = handmade
    cut2 = T("2024-02-14T00:00:00")
    state1 = flagship_entity_state(obs, cut)
    from esa_pfa_spark.operators.features import token_stats_arrow

    enriched = token_stats_arrow(obs, "tokens").select("entity_id", "ts", "mean")
    w1 = (F.col("query_ts") >= F.lit(cut) + F.expr("INTERVAL 7 DAYS")) & (
        F.col("query_ts") < F.lit(cut2) + F.expr("INTERVAL 7 DAYS")
    )
    w2 = F.col("query_ts") >= F.lit(cut2) + F.expr("INTERVAL 7 DAYS")
    run1 = feature_table_incremental(
        obs.filter(F.col("ts") >= F.lit(cut)), probes.filter(w1), state1, tolerance=TOL
    )
    state2 = roll_state(
        state1,
        enriched.filter((F.col("ts") >= F.lit(cut)) & (F.col("ts") < F.lit(cut2))),
        value_col="mean",
    )
    run2 = feature_table_incremental(
        obs.filter(F.col("ts") >= F.lit(cut2)), probes.filter(w2), state2, tolerance=TOL
    )
    full = feature_table_fused(obs, probes).filter(w1 | w2)
    assert _canon(run1.unionByName(run2)) == _canon(full)


def test_incremental_fill_single_exchange(spark, handmade):
    """The incremental fill is the same one-Exchange window core as the
    fused plan: the 3-way tagged union exchanges ONCE on the entity."""
    obs, probes, cut = handmade
    state = spark.createDataFrame(
        [("a", T("2024-01-30T00:00:00"), 6.0, 3, 1, 2)],
        "entity_id string, last_ts timestamp, last_value double, "
        "obs_before long, sessions_before long, last_sess_start long",
    )
    fill = incremental_fill(
        obs.withColumn("mean", F.lit(1.0)).filter(F.col("ts") >= F.lit(cut)),
        probes,
        state,
        tolerance=TOL,
        value_col="mean",
    )
    plan = fill._jdf.queryExecution().executedPlan().toString()
    n_ex = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )
    assert n_ex == 1, plan
    # the flagship's shape: one Window operator per dependency level over
    # the one sort, and no frame reaching forward past the current row
    plan = plan_of(fill, mode="simple")
    assert len(re.findall(r"(?<![A-Za-z])Window \[", plan)) == 2, plan
    assert plan.count("Sort [") == 1, plan
    assert_no_following_frame(plan)
    # the flagship table on the same state: the token stats cross to
    # Python once, on the observation side only
    flagship = feature_table_incremental(
        obs.filter(F.col("ts") >= F.lit(cut)), probes, state, tolerance=TOL
    )
    assert plan_of(flagship, mode="simple").count("ArrowEvalPython") == 1


def test_incremental_equals_full_after_empty_document(spark):
    """The cut falls right after an empty document, so the carry-in
    ``last_value`` is NULL: the first loaded observation's lag is that
    NULL, as in the full build, not an older non-null mean."""
    obs = _flagship_obs(spark, [
        ("a", T("2024-01-01T00:00:00"), "a0", [1, 2, 3]),
        ("a", T("2024-01-02T00:00:00"), "a1", []),
        ("a", T("2024-01-03T12:00:00"), "a2", [7, 8, 9]),
        ("a", T("2024-01-04T00:00:00"), "a3", [4, 5]),
    ])
    probes = spark.createDataFrame(
        [("a", T(s)) for s in ("2024-01-02T01:00:00", "2024-01-03T07:00:00",
                               "2024-01-03T13:00:00", "2024-01-04T01:00:00")],
        "entity_id string, query_ts timestamp",
    )
    cut, tol = T("2024-01-02T06:00:00"), dt.timedelta(days=1)
    state = flagship_entity_state(obs, cut)
    assert state.collect()[0]["last_value"] is None
    window = F.col("query_ts") >= F.lit(cut + tol)
    incr = feature_table_incremental(
        obs.filter(F.col("ts") >= F.lit(cut)), probes.filter(window), state, tolerance=tol
    )
    full = feature_table_fused(obs, probes, tolerance=tol).filter(window)
    assert _canon(incr) == _canon(full)
    got = {r["query_ts"]: r for r in incr.collect()}
    assert got[T("2024-01-03T13:00:00")]["lag_1_mean"] is None
    assert got[T("2024-01-04T01:00:00")]["lag_1_mean"] == 8.0


def test_flagship_entity_state_tied_boundary(spark):
    """Two observations tie at the last ts before the cut: the state has
    ONE row for the entity, counting both observations, with the
    greatest doc_id's mean as the carry-in value."""
    obs = _flagship_obs(spark, [
        ("a", T("2024-01-01T00:00:00"), "a0", [1]),
        ("a", T("2024-01-05T00:00:00"), "a1", [2, 4]),
        ("a", T("2024-01-05T00:00:00"), "a2", [10, 20]),
        ("b", T("2024-01-03T00:00:00"), "b0", [3]),
    ])
    state = flagship_entity_state(obs, T("2024-02-01")).collect()
    assert sorted(r["entity_id"] for r in state) == ["a", "b"]
    rows = {r["entity_id"]: r for r in state}
    assert rows["a"]["obs_before"] == 3
    assert rows["a"]["last_value"] == 15.0
    assert rows["a"]["last_ts"] == T("2024-01-05T00:00:00")


def test_delta_scan_prunes_dated_partitions(spark, handmade, tmp_path):
    """The production delta read: observations stored in the dated y/m/d
    layout, the incremental run's ts-range filter must reach the scan as
    PartitionFilters (directories outside the window are never opened)."""
    from esa_pfa_spark.sources.sinks import write_dated

    obs, _, cut = handmade
    path = str(tmp_path / "dated_obs")
    write_dated(obs, path)
    delta = spark.read.parquet(path).filter(
        (F.col("y") > 2024) | ((F.col("y") == 2024) & (F.col("m") >= 2))
    )
    plan = delta._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the pruned scan reads only the 6 February rows, never the January dirs
    assert delta.count() == 6
    assert all(r["m"] == 2 for r in delta.select("m").distinct().collect())


def test_cli_run_incremental_loop(spark, handmade, tmp_path):
    """The production CLI loop end-to-end: bootstrap run writes features +
    advanced state; the next run consumes that state; the two runs' parquet
    output together equals the full recompute."""
    from esa_pfa_spark import cli

    obs, probes, cut = handmade
    cut2 = T("2024-02-14T00:00:00")
    w1 = (F.col("query_ts") >= F.lit(cut) + F.expr("INTERVAL 7 DAYS")) & (
        F.col("query_ts") < F.lit(cut2) + F.expr("INTERVAL 7 DAYS")
    )
    w2 = F.col("query_ts") >= F.lit(cut2) + F.expr("INTERVAL 7 DAYS")
    p = lambda name: str(tmp_path / name)
    obs.write.parquet(p("hist"))
    obs.filter(F.col("ts") >= F.lit(cut)).write.parquet(p("delta1"))
    obs.filter(F.col("ts") >= F.lit(cut2)).write.parquet(p("delta2"))
    probes.filter(w1).write.parquet(p("probes1"))
    probes.filter(w2).write.parquet(p("probes2"))

    cli.main([
        "run-incremental", "--tokens", p("delta1"), "--probes", p("probes1"),
        "--out", p("feat1"), "--bootstrap-from", p("hist"),
        "--cut", "2024-02-01T00:00:00",
        "--state-out", p("state2"), "--next-cut", "2024-02-14T00:00:00",
    ])
    cli.main([
        "run-incremental", "--tokens", p("delta2"), "--probes", p("probes2"),
        "--out", p("feat2"), "--state", p("state2"),
    ])
    got = spark.read.parquet(p("feat1")).unionByName(spark.read.parquet(p("feat2")))
    full = feature_table_fused(obs, probes).filter(w1 | w2)
    assert _canon(got) == _canon(full)


def test_cli_state_out_equals_rolled_stats(spark, handmade, tmp_path):
    """``--state-out`` takes the carried value from each entity's boundary
    row alone; the state equals ``roll_state`` over the whole window's
    token stats and a fresh bootstrap at the next cut."""
    from esa_pfa_spark import cli
    from esa_pfa_spark.operators.features import token_stats_arrow

    obs, probes, cut = handmade
    cut2 = T("2024-02-14T00:00:00")
    p = lambda name: str(tmp_path / name)
    obs.write.parquet(p("hist"))
    obs.filter(F.col("ts") >= F.lit(cut)).write.parquet(p("delta1"))
    probes.write.parquet(p("probes1"))
    cli.main([
        "run-incremental", "--tokens", p("delta1"), "--probes", p("probes1"),
        "--out", p("feat1"), "--bootstrap-from", p("hist"),
        "--cut", "2024-02-01T00:00:00",
        "--state-out", p("state2"), "--next-cut", "2024-02-14T00:00:00",
    ])
    got = _canon(spark.read.parquet(p("state2")))
    window = obs.filter((F.col("ts") >= F.lit(cut)) & (F.col("ts") < F.lit(cut2)))
    stats = token_stats_arrow(window, "tokens").select("entity_id", "ts", "mean")
    assert got == _canon(roll_state(flagship_entity_state(obs, cut), stats))
    assert got == _canon(flagship_entity_state(obs, cut2))
    assert len(got) == 4  # a, b (new in the window), c (absent from it), d
