"""pit_window_agg: windowed PIT aggregation features.

Boundary semantics pinned by hand-built goldens (half-open window:
inclusive end, exclusive start; deterministic last under ts collisions),
equivalence vs a brute-force interval-join oracle on seeded random data,
and the plan shape (ONE exchange total: the fused fill hash-partitions
by the key and the closing hash agg reuses that distribution —
independent of window density and, for the multi-window form, of the
horizon count).
"""

from __future__ import annotations

import datetime as dt
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from esa_pfa_spark.operators.pit import pit_window_agg
from tests.test_plans import n_exchanges, plan_of

T0 = dt.datetime(2024, 1, 10, 12, 0, 0)


def _mk(spark, probes, obs):
    p = spark.createDataFrame(
        pd.DataFrame(probes, columns=["pid", "k", "query_ts"])
    )
    o = spark.createDataFrame(
        pd.DataFrame(obs, columns=["k", "ts", "value", "oid"])
    )
    return p, o


def _run(spark, probes, obs, window=dt.timedelta(hours=1)):
    p, o = _mk(spark, probes, obs)
    out = pit_window_agg(
        p, o, on="k", probe_ts="query_ts", obs_ts="ts",
        value="value", tiebreak="oid", window=window,
    )
    return {r["pid"]: r for r in out.collect()}


def test_half_open_boundaries(spark):
    # window (query_ts-1h, query_ts]: obs exactly at the end included,
    # exactly at the start excluded
    rows = _run(
        spark,
        probes=[(1, "a", T0)],
        obs=[
            ("a", T0, 10.0, 1),                          # at end -> in
            ("a", T0 - dt.timedelta(hours=1), 5.0, 2),   # at start -> OUT
            ("a", T0 - dt.timedelta(minutes=30), 2.0, 3),
            ("a", T0 + dt.timedelta(seconds=1), 99.0, 4),  # future -> out
        ],
    )
    r = rows[1]
    assert r["n_win"] == 2
    assert r["sum_win"] == pytest.approx(12.0)
    assert r["mean_win"] == pytest.approx(6.0)
    assert r["last_val"] == pytest.approx(10.0)


def test_empty_window_yields_nulls(spark):
    rows = _run(
        spark,
        probes=[(1, "a", T0), (2, "b", T0)],
        obs=[("a", T0 - dt.timedelta(days=2), 7.0, 1)],
    )
    for pid in (1, 2):
        r = rows[pid]
        assert r["n_win"] == 0
        assert r["sum_win"] is None and r["mean_win"] is None
        assert r["last_val"] is None and r["last_ts"] is None


def test_last_deterministic_under_ts_collision(spark):
    # two obs at the identical timestamp: last = the max tiebreak
    rows = _run(
        spark,
        probes=[(1, "a", T0)],
        obs=[("a", T0, 1.0, 10), ("a", T0, 2.0, 7), ("a", T0, 3.0, 12)],
    )
    assert rows[1]["last_val"] == pytest.approx(3.0)  # oid 12 wins
    assert rows[1]["n_win"] == 3


def test_stale_last_not_leaked(spark):
    # an obs BEFORE the window must not surface as last_val even though
    # the backward fill carries it to the end row
    rows = _run(
        spark,
        probes=[(1, "a", T0)],
        obs=[("a", T0 - dt.timedelta(hours=2), 42.0, 1)],
    )
    assert rows[1]["n_win"] == 0 and rows[1]["last_val"] is None


def test_matches_bruteforce_interval_join(spark):
    rng = np.random.default_rng(7)
    n_obs, n_probe = 2000, 400
    keys = rng.integers(0, 20, n_obs)
    obs = [
        (f"k{k}", T0 + dt.timedelta(seconds=int(s)), float(v), int(i))
        for i, (k, s, v) in enumerate(
            zip(keys, rng.integers(0, 86400, n_obs), rng.normal(50, 10, n_obs))
        )
    ]
    probes = [
        (int(i), f"k{int(k)}", T0 + dt.timedelta(seconds=int(s)))
        for i, (k, s) in enumerate(
            zip(rng.integers(0, 22, n_probe), rng.integers(0, 90000, n_probe))
        )
    ]
    w = dt.timedelta(hours=3)
    got = _run(spark, probes, obs, window=w)

    by_key: dict[str, list] = {}
    for k, ts, v, oid in obs:
        by_key.setdefault(k, []).append((ts, oid, v))
    for pid, k, qts in probes:
        hits = [
            (ts, oid, v)
            for ts, oid, v in by_key.get(k, [])
            if qts - w < ts <= qts
        ]
        r = got[pid]
        assert r["n_win"] == len(hits)
        if hits:
            # the operator accumulates decimal(18,6): each value quantized
            # at 1e-6, so the sum may drift up to 0.5e-6 * n from raw doubles
            q = 1e-6 * (len(hits) + 1)
            assert r["sum_win"] == pytest.approx(sum(h[2] for h in hits), abs=q)
            assert r["mean_win"] == pytest.approx(
                sum(h[2] for h in hits) / len(hits), abs=q
            )
            last = max(hits)  # (ts, oid) lexicographic = ts then tiebreak
            assert r["last_val"] == pytest.approx(last[2])
            assert r["last_ts"] == last[0]
        else:
            assert r["sum_win"] is None and r["last_val"] is None


def test_plan_single_exchange_and_no_join(spark):
    """The 100 TB shape: ONE Exchange total — the fused cumulative fill
    hash-partitions by the key, and the per-probe hash agg's group keys
    include that key, so its ClusteredDistribution is already satisfied
    (no re-shuffle).  No join node — cost is independent of
    observations-per-window (the interval-join alternative is O(pairs))."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    probes = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.col("ts").alias("query_ts")
    )
    obs = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", F.col("event_id").alias("oid")
    )
    out = pit_window_agg(
        probes, obs, on="user_id", probe_ts="query_ts", obs_ts="ts",
        value="value", tiebreak="oid", window=dt.timedelta(days=7),
    )
    plan = plan_of(out)
    assert n_exchanges(plan) == 1, plan
    assert "Join" not in plan, "difference-of-cumulatives must not plan a join"


def test_multi_window_matches_single_per_horizon(spark):
    """Every horizon of the multi-window plan must equal the single-window
    operator run separately — and the fused plan must still be ONE
    exchange with no join."""
    import datetime as dt

    from esa_pfa_spark.operators.pit import pit_multi_window_agg

    rng = __import__("numpy").random.default_rng(9)
    obs_rows = [
        (f"k{int(k)}", T0 + dt.timedelta(minutes=int(m)), float(v), int(i))
        for i, (k, m, v) in enumerate(
            zip(rng.integers(0, 8, 600), rng.integers(0, 5000, 600),
                rng.normal(20, 5, 600))
        )
    ]
    probe_rows = [
        (int(i), f"k{int(k)}", T0 + dt.timedelta(minutes=int(m)))
        for i, (k, m) in enumerate(
            zip(rng.integers(0, 8, 150), rng.integers(0, 5200, 150))
        )
    ]
    p, o = _mk(spark, probe_rows, obs_rows)
    windows = {"1h": dt.timedelta(hours=1), "1d": dt.timedelta(days=1)}
    multi = {
        r["pid"]: r
        for r in pit_multi_window_agg(
            p, o, on="k", probe_ts="query_ts", obs_ts="ts",
            value="value", tiebreak="oid", windows=windows,
        ).collect()
    }
    for nme, w in windows.items():
        single = _run(spark, probe_rows, obs_rows, window=w)
        for pid, r in single.items():
            m = multi[pid]
            assert m[f"n_{nme}"] == r["n_win"], (nme, pid)
            if r["sum_win"] is None:
                assert m[f"sum_{nme}"] is None
            else:
                assert abs(m[f"sum_{nme}"] - r["sum_win"]) < 1e-9

    plan = plan_of(
        pit_multi_window_agg(
            p, o, on="k", probe_ts="query_ts", obs_ts="ts",
            value="value", tiebreak="oid", windows=windows,
        )
    )
    assert n_exchanges(plan) == 1, plan
    assert "Join" not in plan


# ---------------------------------------------------------------------------
# decayed_pit_features
# ---------------------------------------------------------------------------

def _decay_brute(probes, obs, tau_s, horizon_s):
    """Per-probe decayed aggregates, per-term 6dp rounding, direct sum."""
    from decimal import ROUND_HALF_UP, Decimal

    def r6(x):
        # Spark's F.round on double: HALF_UP over the shortest decimal repr
        return Decimal(repr(float(x))).quantize(Decimal("0.000001"), ROUND_HALF_UP)

    out = {}
    for pid, k, qts in probes:
        terms = []
        for ok, ots, v, _oid in obs:
            d = (qts - ots).total_seconds()
            if ok == k and 0 <= d < horizon_s:
                w = float(np.exp(-d / tau_s))
                terms.append((r6(w * v), r6(w)))
        if terms:
            ds = float(sum(t[0] for t in terms))
            dw = float(sum(t[1] for t in terms))
            out[pid] = (len(terms), float(r6(ds)), float(r6(dw)),
                        float(r6(ds / dw)) if dw > 0 else None)
        else:
            out[pid] = (0, None, None, None)
    return out


def test_decayed_pit_boundaries_and_nulls(spark):
    """dt=0 counts with weight 1.0; dt exactly at the horizon is excluded;
    a probe with nothing in the support window comes back with n_win=0 and
    null aggregates; values at bucket boundaries are not dropped."""
    from esa_pfa_spark.operators.pit import decayed_pit_features

    tau = dt.timedelta(hours=1)
    horizon_s = 2 * 3600.0  # cutoff=2
    probes = [
        (1, "a", T0),
        (2, "a", T0 + dt.timedelta(hours=5)),   # nothing within 2h
        (3, "b", T0 + dt.timedelta(seconds=7199)),  # obs at dt=7199s in; 7200 out
    ]
    obs = [
        ("a", T0, 10.0, 1),                               # dt=0 -> weight 1
        ("a", T0 - dt.timedelta(hours=1), 4.0, 2),        # dt=1h -> e^-1
        ("a", T0 - dt.timedelta(hours=2), 99.0, 3),       # dt=2h -> excluded
        ("b", T0, 5.0, 4),                                # dt=7199s for probe 3
        ("b", T0 + dt.timedelta(seconds=-1), 7.0, 5),     # dt=7200s -> excluded
    ]
    p, o = _mk(spark, probes, obs)
    got = {
        r["pid"]: (r["n_win"], r["decay_sum"], r["decay_wt"], r["decay_mean"])
        for r in decayed_pit_features(
            p, o, on="k", probe_ts="query_ts", obs_ts="ts", value="value",
            tau=tau, cutoff=2.0,
        ).collect()
    }
    want = _decay_brute(probes, obs, 3600.0, horizon_s)
    assert got == want
    n, ds, dw, dm = got[1]
    assert n == 2 and abs(ds - (10.0 + round(float(np.exp(-1.0)) * 4.0, 6))) < 2e-6
    assert got[2] == (0, None, None, None)
    assert got[3][0] == 1


def test_decayed_pit_matches_brute_random(spark):
    """Seeded random corpus: the bucketed band-join plan equals the direct
    per-probe sum everywhere (including probes in different horizon
    buckets), and no BroadcastNestedLoopJoin appears in the plan."""
    from esa_pfa_spark.operators.pit import decayed_pit_features

    rng = np.random.default_rng(7)
    keys = ["a", "b", "c"]
    obs = [
        (keys[rng.integers(3)],
         T0 + dt.timedelta(seconds=int(rng.integers(-40 * 3600, 40 * 3600))),
         round(float(rng.normal(50, 20)), 3), i)
        for i in range(300)
    ]
    probes = [
        (i, keys[rng.integers(3)],
         T0 + dt.timedelta(seconds=int(rng.integers(-40 * 3600, 40 * 3600))))
        for i in range(80)
    ]
    tau_s, cutoff = 3 * 3600.0, 4.0
    p, o = _mk(spark, probes, obs)
    out = decayed_pit_features(
        p, o, on="k", probe_ts="query_ts", obs_ts="ts", value="value",
        tau=dt.timedelta(seconds=tau_s), cutoff=cutoff,
    )
    plan = plan_of(out)
    assert "BroadcastNestedLoop" not in plan
    got = {
        r["pid"]: (r["n_win"], r["decay_sum"], r["decay_wt"], r["decay_mean"])
        for r in out.collect()
    }
    want = _decay_brute(probes, obs, tau_s, cutoff * tau_s)
    assert got == want


def test_decayed_multi_matches_singles(spark):
    """Multi-tau output equals per-tau single runs wherever the single run
    has in-horizon pairs; probes with pairs only beyond a faster tau's
    horizon get zero sums (not null) and a null mean; no-pair probes stay
    null.  One join serves every tau."""
    from esa_pfa_spark.operators.pit import (
        decayed_pit_features,
        decayed_pit_features_multi,
    )

    rng = np.random.default_rng(3)
    keys = ["a", "b"]
    obs = [
        (keys[rng.integers(2)],
         T0 + dt.timedelta(seconds=int(rng.integers(-30 * 3600, 30 * 3600))),
         float(rng.integers(1, 50)), i)
        for i in range(150)
    ]
    probes = [
        (i, keys[rng.integers(2)],
         T0 + dt.timedelta(seconds=int(rng.integers(-30 * 3600, 30 * 3600))))
        for i in range(40)
    ]
    p, o = _mk(spark, probes, obs)
    taus = {"fast": dt.timedelta(minutes=30), "slow": dt.timedelta(hours=6)}
    multi = {
        r["pid"]: r.asDict()
        for r in decayed_pit_features_multi(
            p, o, taus=taus, on="k", probe_ts="query_ts", obs_ts="ts",
            value="value", cutoff=3.0,
        ).collect()
    }
    assert len(multi) == len(probes)
    for name, tau in taus.items():
        single = {
            r["pid"]: r.asDict()
            for r in decayed_pit_features(
                p, o, on="k", probe_ts="query_ts", obs_ts="ts",
                value="value", tau=tau, cutoff=3.0,
            ).collect()
        }
        for pid in single:
            s, m = single[pid], multi[pid]
            if s["n_win"] > 0:
                assert m[f"decay_sum_{name}"] == s["decay_sum"], (name, pid)
                assert m[f"decay_wt_{name}"] == s["decay_wt"]
                assert m[f"decay_mean_{name}"] == s["decay_mean"]
            elif m["n_win"] > 0:
                # pairs exist within the max horizon but not this tau's
                assert m[f"decay_sum_{name}"] == 0.0
                assert m[f"decay_mean_{name}"] is None
            else:
                assert m[f"decay_sum_{name}"] is None


# ---------------------------------------------------------------------------
# decayed_pit_pandas (hot-key prefix-sum path) + decayed_pit_auto
# ---------------------------------------------------------------------------

def _cmp_decay(got, want, tol=5e-5):
    """Compare two {pid: row-dict} decayed outputs: n_win exact, sum/wt
    within tol (the pandas path accumulates unrounded float64; the band
    join rounds per term at 6dp — they agree within ~5e-7*n_win).  The
    mean is a RATIO, so per-term rounding error amplifies by 1/decay_wt:
    |d(ds/dw)| <= (|d ds| + |mean|*|d dw|) / dw."""
    assert set(got) == set(want)
    for pid in want:
        g, w = got[pid], want[pid]
        assert g["n_win"] == w["n_win"], (pid, g, w)
        for c in ("decay_sum", "decay_wt"):
            if w[c] is None:
                assert g[c] is None, (pid, c, g)
            else:
                assert g[c] is not None and abs(g[c] - w[c]) < tol, (pid, c, g, w)
        if w["decay_mean"] is None:
            assert g["decay_mean"] is None, (pid, g)
        else:
            tol_m = tol * (1.0 + abs(w["decay_mean"])) / max(w["decay_wt"], 1e-9)
            assert g["decay_mean"] is not None
            assert abs(g["decay_mean"] - w["decay_mean"]) < tol_m, (pid, g, w)


def test_decayed_pandas_matches_band_random(spark):
    """Seeded random corpus spanning many horizon blocks: the prefix-sum
    cogrouped path agrees with the exact band join everywhere (n_win
    identical; float sums within the documented tolerance), including
    probes whose support window straddles a block boundary."""
    from esa_pfa_spark.operators.pit import (
        decayed_pit_features,
        decayed_pit_pandas,
    )

    rng = np.random.default_rng(11)
    keys = ["a", "b", "c", "d"]
    # tau=1h, cutoff=3 -> block L = 3h; timestamps over +-40h span ~27 blocks
    obs = [
        (keys[rng.integers(4)],
         T0 + dt.timedelta(seconds=int(rng.integers(-40 * 3600, 40 * 3600))),
         round(float(rng.normal(50, 20)), 3), i)
        for i in range(400)
    ]
    probes = [
        (i, keys[rng.integers(4)],
         T0 + dt.timedelta(seconds=int(rng.integers(-40 * 3600, 40 * 3600))))
        for i in range(120)
    ]
    # pin some probes exactly AT block-boundary instants (multiples of L
    # from the epoch) and exactly at obs timestamps (dt=0 in-window edge)
    probes += [(200, "a", obs[0][1]), (201, "a", obs[1][1])]
    p, o = _mk(spark, probes, obs)
    kw = dict(on="k", probe_ts="query_ts", obs_ts="ts", value="value",
              tau=dt.timedelta(hours=1), cutoff=3.0)
    want = {r["pid"]: r.asDict()
            for r in decayed_pit_features(p, o, **kw).collect()}
    got = {r["pid"]: r.asDict()
           for r in decayed_pit_pandas(p, o, **kw).collect()}
    _cmp_decay(got, want)


def test_decayed_pandas_boundaries_and_nulls(spark):
    """Half-open window edges (dt=0 in, dt=horizon out) hold on the
    prefix-sum path; null-key / null-ts probes come back n_win=0 with null
    aggregates (never dropped); null-key obs match nothing; null-VALUE obs
    count toward n_win and decay_wt but add 0 to decay_sum (band-join
    parity)."""
    from esa_pfa_spark.operators.pit import (
        decayed_pit_features,
        decayed_pit_pandas,
    )

    tau = dt.timedelta(hours=1)
    probes = [
        (1, "a", T0),
        (2, None, T0),                                  # null key
        (3, "a", None),                                 # null ts
        (4, "b", T0),                                   # null-value obs in window
    ]
    obs = [
        ("a", T0, 10.0, 1),                             # dt=0 -> in, w=1
        ("a", T0 - dt.timedelta(hours=2), 99.0, 2),     # dt=horizon -> out
        ("a", T0 - dt.timedelta(hours=1), 4.0, 3),      # dt=1h -> e^-1
        (None, T0, 7.0, 4),                             # null key obs
        ("b", T0 - dt.timedelta(minutes=5), None, 5),   # null value
        ("b", T0 - dt.timedelta(minutes=9), 6.0, 6),
    ]
    p = spark.createDataFrame(
        pd.DataFrame(probes, columns=["pid", "k", "query_ts"])
    )
    o = spark.createDataFrame(
        pd.DataFrame(obs, columns=["k", "ts", "value", "oid"])
    )
    kw = dict(on="k", probe_ts="query_ts", obs_ts="ts", value="value",
              tau=tau, cutoff=2.0)
    got = {r["pid"]: r.asDict()
           for r in decayed_pit_pandas(p, o, **kw).collect()}
    assert len(got) == 4                                # no probe dropped
    assert got[2]["n_win"] == 0 and got[2]["decay_sum"] is None
    assert got[3]["n_win"] == 0 and got[3]["decay_mean"] is None
    assert got[1]["n_win"] == 2                         # oid 1 + 3, not 2/4
    assert abs(got[1]["decay_sum"]
               - (10.0 + float(np.exp(-1.0)) * 4.0)) < 5e-6
    # null-value obs: counted, weighted, contributes 0 to the sum
    assert got[4]["n_win"] == 2
    w5 = float(np.exp(-300 / 3600.0))
    w6 = float(np.exp(-540 / 3600.0))
    assert abs(got[4]["decay_wt"] - (w5 + w6)) < 5e-6
    assert abs(got[4]["decay_sum"] - w6 * 6.0) < 5e-6
    # band-join parity on the same corpus
    want = {r["pid"]: r.asDict()
            for r in decayed_pit_features(p, o, **kw).collect()}
    _cmp_decay(got, want)


def test_decayed_auto_dispatch_and_null_cold_branch(spark):
    """hot_rows below one key's count -> that key rides the prefix-sum
    path, the rest (including NULL keys, which isin() would three-value
    out of both branches) ride the exact band join; the union agrees with
    the plain band join on everything.  Supplying key_counts gives the
    identical result without a census over observations."""
    from esa_pfa_spark.operators.pit import (
        decayed_pit_auto,
        decayed_pit_features,
    )

    rng = np.random.default_rng(5)
    obs = (
        [("hot", T0 + dt.timedelta(seconds=int(rng.integers(0, 7200))),
          float(rng.integers(1, 9)), i) for i in range(300)]
        + [("cold", T0 + dt.timedelta(seconds=int(rng.integers(0, 7200))),
            float(rng.integers(1, 9)), 1000 + i) for i in range(30)]
    )
    probes = (
        [(i, "hot", T0 + dt.timedelta(seconds=int(rng.integers(0, 7200))))
         for i in range(40)]
        + [(100 + i, "cold",
            T0 + dt.timedelta(seconds=int(rng.integers(0, 7200))))
           for i in range(10)]
        + [(999, None, T0)]                             # null key probe
    )
    p = spark.createDataFrame(
        pd.DataFrame(probes, columns=["pid", "k", "query_ts"])
    )
    o = spark.createDataFrame(
        pd.DataFrame(obs, columns=["k", "ts", "value", "oid"])
    )
    kw = dict(on="k", probe_ts="query_ts", obs_ts="ts", value="value",
              tau=dt.timedelta(minutes=30), cutoff=4.0)
    want = {r["pid"]: r.asDict()
            for r in decayed_pit_features(p, o, **kw).collect()}
    want[999] = {"pid": 999, "n_win": 0, "decay_sum": None,
                 "decay_wt": None, "decay_mean": None, "k": None,
                 "query_ts": T0}
    got = {r["pid"]: r.asDict()
           for r in decayed_pit_auto(p, o, hot_rows=100, **kw).collect()}
    assert 999 in got and got[999]["n_win"] == 0        # not dropped
    _cmp_decay(got, want)
    # precomputed stats: same answer, no census
    kc = o.groupBy("k").count()
    got2 = {r["pid"]: r.asDict()
            for r in decayed_pit_auto(
                p, o, hot_rows=100, key_counts=kc, **kw).collect()}
    _cmp_decay(got2, want)
    # no hot key -> byte-identical to the exact band join
    got3 = {r["pid"]: r.asDict()
            for r in decayed_pit_auto(
                p, o, hot_rows=10**9, **kw).collect()}
    assert got3 == want


# ---------------------------------------------------------------------------
# one core per pattern: the single forms are one-entry multi forms
# ---------------------------------------------------------------------------

def test_multi_window_plans_no_last_carry(spark):
    """The shared fill carries last(struct(ts, value)) for pit_window_agg;
    the multi form never reads it, so column pruning must drop the window
    expression and its payload: no ``last(`` in the optimized plan, and
    still 1 Exchange, 1 Window, 1 Aggregate."""
    from esa_pfa_spark.operators.pit import pit_multi_window_agg

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    probes = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.col("ts").alias("query_ts")
    )
    obs = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", F.col("event_id").alias("oid")
    )
    out = pit_multi_window_agg(
        probes, obs, on="user_id", probe_ts="query_ts", obs_ts="ts",
        value="value", tiebreak="oid",
        windows={"1d": dt.timedelta(days=1), "7d": dt.timedelta(days=7)},
    )
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    assert "last(" not in opt and "__pit_pay" not in opt, opt
    assert len(re.findall(r"\bWindow\b", opt)) == 1, opt
    assert len(re.findall(r"\bAggregate\b", opt)) == 1, opt
    assert n_exchanges(plan_of(out)) == 1


def test_single_window_is_multi_with_one_window(spark):
    """pit_window_agg(window=w) equals pit_multi_window_agg({"win": w}) on
    every shared column, bit for bit (the seeded corpus of
    test_matches_bruteforce_interval_join)."""
    from esa_pfa_spark.operators.pit import pit_multi_window_agg

    rng = np.random.default_rng(7)
    n_obs, n_probe = 2000, 400
    keys = rng.integers(0, 20, n_obs)
    obs = [
        (f"k{k}", T0 + dt.timedelta(seconds=int(s)), float(v), int(i))
        for i, (k, s, v) in enumerate(
            zip(keys, rng.integers(0, 86400, n_obs), rng.normal(50, 10, n_obs))
        )
    ]
    probes = [
        (int(i), f"k{int(k)}", T0 + dt.timedelta(seconds=int(s)))
        for i, (k, s) in enumerate(
            zip(rng.integers(0, 22, n_probe), rng.integers(0, 90000, n_probe))
        )
    ]
    w = dt.timedelta(hours=3)
    p, o = _mk(spark, probes, obs)
    kw = dict(on="k", probe_ts="query_ts", obs_ts="ts", value="value", tiebreak="oid")
    multi = pit_multi_window_agg(p, o, windows={"win": w}, **kw)
    single = pit_window_agg(p, o, window=w, **kw)
    assert single.columns == multi.columns + ["last_val", "last_ts"]
    key = lambda r: r["pid"]
    got = sorted(single.select(*multi.columns).collect(), key=key)
    want = sorted(multi.collect(), key=key)
    assert len(got) == n_probe and got == want


def test_decayed_multi_rejects_zero_horizon(spark):
    """A tau whose cutoff*tau rounds to 0 µs would give every probe
    n_win = 0 silently; the shared band join refuses it up front."""
    from esa_pfa_spark.operators.pit import decayed_pit_features_multi

    p, o = _mk(spark, [(1, "a", T0)], [("a", T0, 1.0, 1)])
    kw = dict(on="k", probe_ts="query_ts", obs_ts="ts", value="value", cutoff=1.0)
    with pytest.raises(ValueError, match="cutoff\\*tau"):
        decayed_pit_features_multi(p, o, taus={"tiny": 1e-7}, **kw)
    with pytest.raises(ValueError, match="cutoff\\*tau"):
        decayed_pit_features_multi(
            p, o, taus={"1h": dt.timedelta(hours=1), "tiny": 1e-7}, **kw
        )


def test_decayed_auto_key_counts_skips_census(spark):
    """With key_counts supplied, NO job may touch observations at plan
    time (the decay twin of test_asof_auto_key_counts_skips_census): a
    Python-UDF filter on observations raises if executed; building the
    dispatched plan must not fire it, and the same call without
    key_counts does, via the census collect."""
    from esa_pfa_spark.operators.pit import decayed_pit_auto

    obs = [("hot", T0 + dt.timedelta(minutes=i), float(i), i) for i in range(40)]
    obs += [("cold", T0 + dt.timedelta(minutes=i), 1.0, 100 + i) for i in range(3)]
    p, o = _mk(spark, [(1, "hot", T0 + dt.timedelta(hours=1)), (2, "cold", T0)], obs)

    @F.udf("boolean")
    def _boom(v):
        raise RuntimeError("census scanned observations")

    trapped = o.filter(_boom("value"))
    kc = spark.createDataFrame([("hot", 40), ("cold", 3)], "k string, n_rows long")
    kw = dict(on="k", probe_ts="query_ts", obs_ts="ts", value="value",
              tau=dt.timedelta(minutes=30), cutoff=4.0, hot_rows=10)
    out = decayed_pit_auto(p, trapped, key_counts=kc, **kw)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan  # hot key found via stats
    with pytest.raises(Exception, match="census scanned observations"):
        decayed_pit_auto(p, trapped, **kw)


# ---------------------------------------------------------------------------
# one output row per probe row, whatever the probe columns hold
# ---------------------------------------------------------------------------

def _dup_null_probes(spark):
    """pid 1 twice and pid NULL, one key, both observations in window."""
    p = spark.createDataFrame(
        [(1, "a", T0), (1, "a", T0), (None, "a", T0)],
        "pid long, k string, query_ts timestamp",
    )
    o = spark.createDataFrame(
        [("a", T0 - dt.timedelta(minutes=10), 2.0, 1),
         ("a", T0 - dt.timedelta(minutes=20), 3.0, 2)],
        "k string, ts timestamp, value double, oid long",
    )
    return p, o


def test_window_agg_keeps_identical_and_null_probe_rows(spark):
    """Identical probe rows are numbered apart, so 3 probes give 3 rows,
    each reading the 2 in-window observations (one probe row each, like
    the as-of operators)."""
    from esa_pfa_spark.operators.pit import pit_multi_window_agg

    p, o = _dup_null_probes(spark)
    kw = dict(on="k", probe_ts="query_ts", obs_ts="ts", value="value", tiebreak="oid")
    single = pit_window_agg(p, o, window=dt.timedelta(hours=1), **kw).collect()
    multi = pit_multi_window_agg(
        p, o, windows={"1h": dt.timedelta(hours=1), "15m": dt.timedelta(minutes=15)}, **kw
    ).collect()
    assert sorted((r["pid"] or 0) for r in single) == [0, 1, 1]
    assert all(r["n_win"] == 2 and r["sum_win"] == 5.0 and r["last_val"] == 2.0 for r in single)
    assert len(multi) == 3
    assert all(r["n_1h"] == 2 and r["n_15m"] == 1 and r["sum_15m"] == 2.0 for r in multi)


def test_decayed_counts_each_identical_and_null_probe_once(spark):
    """Two identical probes each read their own 2 pairs (not the 4 a
    by-value join back would sum), and a probe with a NULL probe column
    reads the same 2 (not 0)."""
    from esa_pfa_spark.operators.pit import decayed_pit_features, decayed_pit_features_multi

    p, o = _dup_null_probes(spark)
    kw = dict(on="k", probe_ts="query_ts", obs_ts="ts", value="value")
    one = decayed_pit_features(p.limit(1), o, tau=dt.timedelta(hours=1), **kw).first()
    rows = decayed_pit_features(p, o, tau=dt.timedelta(hours=1), **kw).collect()
    assert sorted((r["pid"] or 0) for r in rows) == [0, 1, 1]
    for r in rows:
        assert (r["n_win"], r["decay_sum"], r["decay_wt"]) == (
            2, one["decay_sum"], one["decay_wt"]
        )
    # the faster tau's horizon (30 * 10 s = 5 min) holds neither pair
    multi = decayed_pit_features_multi(
        p, o, taus={"1h": dt.timedelta(hours=1), "10s": dt.timedelta(seconds=10)}, **kw
    ).collect()
    assert len(multi) == 3
    for r in multi:
        assert r["n_win"] == 2 and r["decay_sum_1h"] == one["decay_sum"]
        assert r["decay_sum_10s"] == 0.0 and r["decay_mean_10s"] is None


def test_null_key_probe_matches_no_null_key_observation(spark):
    """A NULL key joins nothing (the oracles' equi-join): a NULL-key
    probe reads n = 0 even when NULL-key observations are in window."""
    from esa_pfa_spark.operators.pit import decayed_pit_features

    p = spark.createDataFrame([(1, None, T0), (2, "a", T0)], "pid long, k string, query_ts timestamp")
    o = spark.createDataFrame(
        [(None, T0 - dt.timedelta(minutes=10), 2.0, 1), ("a", T0 - dt.timedelta(minutes=20), 3.0, 2)],
        "k string, ts timestamp, value double, oid long",
    )
    kw = dict(on="k", probe_ts="query_ts", obs_ts="ts", value="value")
    win = {r["pid"]: r for r in pit_window_agg(
        p, o, tiebreak="oid", window=dt.timedelta(hours=1), **kw).collect()}
    dec = {r["pid"]: r for r in decayed_pit_features(
        p, o, tau=dt.timedelta(hours=1), **kw).collect()}
    assert win[1]["n_win"] == 0 and win[1]["last_val"] is None
    assert dec[1]["n_win"] == 0 and dec[1]["decay_sum"] is None
    assert win[2]["n_win"] == 1 and dec[2]["n_win"] == 1
