"""Property-based tests (hypothesis): the as-of join and the non-reuse
pairing hold their invariants on ARBITRARY timelines, not just the synth
distribution — randomized timestamps with heavy tie/duplicate pressure,
empty sides, and single-event entities.

Strategy notes: timestamps are drawn from a small integer grid (seconds)
so ties and exact-tolerance boundaries occur often; hypothesis shrinks
failures to minimal timelines.  Spark round-trips are expensive, so each
property uses few, large examples (deadline disabled).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from esa_pfa_spark.operators.asof import asof_join

BASE = dt.datetime(2024, 1, 1)

timeline = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),        # entity
        st.integers(min_value=0, max_value=500),      # ts seconds on a coarse grid
        st.integers(min_value=-100, max_value=100),   # payload value
    ),
    min_size=0,
    max_size=40,
)


def _frames(spark, obs_rows, probe_rows):
    obs = pd.DataFrame(
        [
            {"entity_id": f"e{e}", "ts": BASE + dt.timedelta(seconds=s), "val": float(v)}
            for e, s, v in obs_rows
        ],
        columns=["entity_id", "ts", "val"],
    )
    probes = pd.DataFrame(
        [
            {"entity_id": f"e{e}", "query_ts": BASE + dt.timedelta(seconds=s), "pid": i}
            for i, (e, s, _) in enumerate(probe_rows)
        ],
        columns=["entity_id", "query_ts", "pid"],
    )
    schema_o = "entity_id string, ts timestamp, val double"
    schema_p = "entity_id string, query_ts timestamp, pid long"
    return (
        spark.createDataFrame(obs, schema=schema_o) if len(obs) else spark.createDataFrame([], schema_o),
        spark.createDataFrame(probes, schema=schema_p) if len(probes) else spark.createDataFrame([], schema_p),
        obs,
        probes,
    )


def _oracle(obs, probes, tol_s, direction):
    """Brute force per probe: the in-tolerance observations on the
    direction's side, closest first (nearest: |dt| ties to the earlier),
    observations tied on ts to the greatest value."""
    rows = []
    for _, pr in probes.iterrows():
        g = obs[obs.entity_id == pr.entity_id]
        lag = (pr.query_ts - pd.to_datetime(g.ts)).dt.total_seconds()  # > 0: before
        keep = lag.abs() <= tol_s
        if direction == "backward":
            keep &= lag >= 0
        elif direction == "forward":
            keep &= lag <= 0
        g = g[keep].assign(dist=lag[keep].abs()).sort_values(
            ["dist", "ts", "val"], ascending=[True, True, False], kind="mergesort"
        )
        match_ts, match_val = (g.ts.iloc[0], g.val.iloc[0]) if len(g) else (pd.NaT, None)
        rows.append((pr.pid, match_ts, match_val))
    return rows


def _check_against_oracle(spark, obs_rows, probe_rows, tol, direction):
    sobs, sprobes, obs, probes = _frames(spark, obs_rows, probe_rows)
    out = asof_join(
        sprobes, sobs, on="entity_id", probe_ts="query_ts", obs_ts="ts",
        payload=["val"], direction=direction, tolerance=dt.timedelta(seconds=tol),
    ).toPandas()
    assert len(out) == len(probes)  # probes never dropped
    got = {r.pid: (r.matched_ts, r.val) for r in out.itertuples()}
    for pid, want_ts, want_val in _oracle(obs, probes, tol, direction):
        gts, gval = got[pid]
        if pd.isna(want_ts):
            assert pd.isna(gts), f"pid {pid}: expected no match, got {gts}"
        else:
            assert gts == want_ts, f"pid {pid}: {gts} != {want_ts}"
            assert gval == want_val


@given(obs_rows=timeline, probe_rows=timeline, tol=st.integers(min_value=0, max_value=600))
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_asof_backward_matches_bruteforce_oracle(spark, obs_rows, probe_rows, tol):
    _check_against_oracle(spark, obs_rows, probe_rows, tol, "backward")


@given(obs_rows=timeline, probe_rows=timeline, tol=st.integers(min_value=0, max_value=600))
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_asof_forward_matches_bruteforce_oracle(spark, obs_rows, probe_rows, tol):
    _check_against_oracle(spark, obs_rows, probe_rows, tol, "forward")


@given(obs_rows=timeline, probe_rows=timeline, tol=st.integers(min_value=0, max_value=600))
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_asof_nearest_matches_bruteforce_oracle(spark, obs_rows, probe_rows, tol):
    _check_against_oracle(spark, obs_rows, probe_rows, tol, "nearest")


@given(obs_rows=timeline, probe_rows=timeline, tol=st.integers(min_value=0, max_value=600))
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_asof_forward_leakage_invariant(spark, obs_rows, probe_rows, tol):
    """Forward matches are never before the probe and never beyond tolerance."""
    sobs, sprobes, _, _ = _frames(spark, obs_rows, probe_rows)
    out = asof_join(
        sprobes, sobs, on="entity_id", probe_ts="query_ts", obs_ts="ts",
        payload=["val"], direction="forward", tolerance=dt.timedelta(seconds=tol),
    ).toPandas()
    m = out[out.matched_ts.notna()]
    deltas = (m.matched_ts - m.query_ts).dt.total_seconds()
    assert (deltas >= 0).all(), "forward match earlier than probe (leakage)"
    assert (deltas <= tol).all(), "match outside tolerance"


# --- SCD2 intervals vs a sequential pandas oracle --------------------------

scd2_timeline = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),    # key
        st.integers(min_value=0, max_value=60),   # ts seconds (ties likely)
        st.integers(min_value=0, max_value=2),    # level (repeats likely)
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(rows=scd2_timeline)
def test_scd2_intervals_match_sequential_oracle(spark, rows):
    """scd2_intervals (change-compaction + lead) equals a sequential
    per-key sweep for arbitrary logs with ties and repeated levels.
    A unique event_id breaks ts ties identically in both."""
    from esa_pfa_spark.operators.windows import scd2_intervals

    pdf = pd.DataFrame(
        {
            "k": [r[0] for r in rows],
            "ts": [BASE + dt.timedelta(seconds=r[1]) for r in rows],
            "eid": range(len(rows)),
            "level": [r[2] for r in rows],
        }
    )
    def _key(t):  # open intervals (valid_to=None) sort last
        return (t[0], t[1], t[2] is None, t[2] or dt.datetime.min, t[3])

    got = sorted(
        (
            (r.k, r.valid_from, r.valid_to, r.level)
            for r in scd2_intervals(
            spark.createDataFrame(pdf, schema="k long, ts timestamp, eid long, level long"),
                key="k", ts="ts", dedupe_unchanged=["level"], tiebreak=["eid"],
            ).collect()
        ),
        key=_key,
    )
    want = []
    for k, g in pdf.sort_values(["k", "ts", "eid"]).groupby("k"):
        kept = []
        prev = object()
        for _, row in g.iterrows():
            if row["level"] != prev:
                kept.append(row)
            prev = row["level"]
        for i, row in enumerate(kept):
            nxt = kept[i + 1]["ts"].to_pydatetime() if i + 1 < len(kept) else None
            want.append((k, row["ts"].to_pydatetime(), nxt, row["level"]))
    assert got == sorted(want, key=_key)
