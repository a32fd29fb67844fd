"""As-of join: hand-computed goldens (reference test style —
FindPatchPairsTest.java:28-38: tiny inputs, exact expected values),
leakage invariants, agreement with independent pandas oracles, and the
tie rule (tied observations resolve by payload, never by input order)."""

import datetime as dt

import pandas as pd
import pytest

from esa_pfa_spark.operators.asof import asof_join

T0 = dt.datetime(2024, 1, 1)


def _obs(spark):
    pdf = pd.DataFrame(
        {
            "entity_id": ["a"] * 4 + ["b"] * 2,
            "ts": [
                T0,
                T0 + dt.timedelta(days=1),
                T0 + dt.timedelta(days=3),
                T0 + dt.timedelta(days=20),
                T0,
                T0 + dt.timedelta(hours=1),
            ],
            "value": [1.0, 2.0, 3.0, 4.0, 10.0, 20.0],
        }
    )
    return spark.createDataFrame(pdf)


def _probes(spark):
    pdf = pd.DataFrame(
        {
            "entity_id": ["a", "a", "a", "a", "b", "c"],
            "query_ts": [
                T0 + dt.timedelta(days=2),       # between obs -> day1 obs
                T0 + dt.timedelta(days=3),       # exact tie -> inclusive match
                T0 + dt.timedelta(days=15),      # 12d after day3 -> out of 7d tol
                T0 - dt.timedelta(days=1),       # before first obs -> null
                T0 + dt.timedelta(minutes=30),   # between b obs
                T0 + dt.timedelta(days=1),       # entity with no obs -> null
            ],
        }
    )
    return spark.createDataFrame(pdf)


EXPECTED_BACKWARD_7D = {
    ("a", T0 + dt.timedelta(days=2)): 2.0,
    ("a", T0 + dt.timedelta(days=3)): 3.0,  # tie is inclusive
    ("a", T0 + dt.timedelta(days=15)): None,  # beyond tolerance
    ("a", T0 - dt.timedelta(days=1)): None,
    ("b", T0 + dt.timedelta(minutes=30)): 10.0,
    ("c", T0 + dt.timedelta(days=1)): None,
}

EXPECTED_FORWARD_7D = {
    ("a", T0 + dt.timedelta(days=2)): 3.0,
    ("a", T0 + dt.timedelta(days=3)): 3.0,  # tie is inclusive
    ("a", T0 + dt.timedelta(days=15)): 4.0,  # day20 is 5d ahead, in tol
    ("a", T0 - dt.timedelta(days=1)): 1.0,
    ("b", T0 + dt.timedelta(minutes=30)): 20.0,
    ("c", T0 + dt.timedelta(days=1)): None,
}


def _collect(df):
    return {
        (r["entity_id"], r["query_ts"]): r["value"]
        for r in df.select("entity_id", "query_ts", "value").collect()
    }


@pytest.mark.parametrize("direction,expected", [
    ("backward", EXPECTED_BACKWARD_7D),
    ("forward", EXPECTED_FORWARD_7D),
])
def test_asof_window_golden(spark, direction, expected):
    out = asof_join(
        _probes(spark), _obs(spark), payload=["value"],
        direction=direction, tolerance=dt.timedelta(days=7),
    )
    assert _collect(out) == expected


def test_no_tolerance_means_unbounded(spark):
    out = asof_join(_probes(spark), _obs(spark), payload=["value"], direction="backward")
    got = _collect(out)
    assert got[("a", T0 + dt.timedelta(days=15))] == 3.0  # 12d back, no bound


def test_zero_leakage_invariant(spark):
    """Every backward match satisfies matched_ts <= query_ts (and tolerance)."""
    from esa_pfa_spark import synth

    obs = synth.observations_df(spark, seed=11, n_entities=8, mean_obs=20, mean_tok=8)
    probes = synth.queries_df(spark, seed=11, n_entities=8, mean_obs=20)
    out = asof_join(
        probes, obs, payload=["doc_id"], direction="backward",
        tolerance=dt.timedelta(days=7),
    ).toPandas()
    matched = out.dropna(subset=["matched_ts"])
    assert len(matched) > 0
    assert (matched["matched_ts"] <= matched["query_ts"]).all()
    assert (
        (matched["query_ts"] - matched["matched_ts"]).dt.total_seconds() <= 7 * 86400
    ).all()


def test_sql_and_pandas_paths_agree(spark):
    """The backward fill equals the pandas oracle's explicit per-probe
    scan (``oracle.pandas_oracle.oracle_asof_backward``) on synth data."""
    from esa_pfa_spark import synth
    from esa_pfa_spark.oracle.pandas_oracle import oracle_asof_backward

    obs = synth.observations_df(spark, seed=5, n_entities=10, mean_obs=15, mean_tok=8)
    probes = synth.queries_df(spark, seed=5, n_entities=10, mean_obs=15)
    tol, payload = dt.timedelta(days=7), ["doc_id", "n_tok"]
    a = (
        asof_join(probes, obs, payload=payload, direction="backward", tolerance=tol)
        .orderBy("entity_id", "query_ts").toPandas()
    )
    b = oracle_asof_backward(
        probes.toPandas(), obs.select("entity_id", "ts", *payload).toPandas(), tol, payload
    ).sort_values(["entity_id", "query_ts"], kind="mergesort").reset_index(drop=True)
    assert a["matched_ts"].notna().sum() > 0
    pd.testing.assert_frame_equal(a[b.columns], b, check_dtype=False)


EXPECTED_NEAREST_7D = {
    ("a", T0 + dt.timedelta(days=2)): 2.0,    # 1d back vs 1d fwd tie -> backward
    ("a", T0 + dt.timedelta(days=3)): 3.0,    # exact match, d=0
    ("a", T0 + dt.timedelta(days=15)): 4.0,   # back 12d out of tol; fwd 5d in
    ("a", T0 - dt.timedelta(days=1)): 1.0,    # only forward exists
    ("b", T0 + dt.timedelta(minutes=30)): 10.0,  # 30min tie -> backward
    ("c", T0 + dt.timedelta(days=1)): None,
}


def test_asof_nearest_golden(spark):
    out = asof_join(
        _probes(spark), _obs(spark), payload=["value"],
        direction="nearest", tolerance=dt.timedelta(days=7),
    )
    assert _collect(out) == EXPECTED_NEAREST_7D


def test_asof_nearest_single_exchange(spark):
    import io, contextlib, re

    out = asof_join(
        _probes(spark), _obs(spark), payload=["value"],
        direction="nearest", tolerance=dt.timedelta(days=7),
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="formatted")
    plan = buf.getvalue()
    n = len(re.findall(
        r"(?<![A-Za-z])Exchange (?:\(\d+\)|hashpartitioning|rangepartitioning)", plan
    ))
    # both directional window fills must reuse ONE shuffle of the union
    assert n == 1, f"expected 1 exchange, got {n}:\n{plan}"


def test_sql_and_pandas_paths_agree_nearest(spark):
    """Nearest on synth data equals a pandas scan of every in-tolerance
    observation (closest first, |dt| ties to the earlier)."""
    from esa_pfa_spark import synth

    obs = synth.observations_df(spark, seed=5, n_entities=10, mean_obs=15, mean_tok=8)
    probes = synth.queries_df(spark, seed=5, n_entities=10, mean_obs=15)
    tol = dt.timedelta(days=7)
    got = {
        (r["entity_id"], r["query_ts"]): (r["matched_ts"], r["doc_id"])
        for r in asof_join(probes, obs, payload=["doc_id"], direction="nearest",
                           tolerance=tol).collect()
    }
    o = obs.select("entity_id", "ts", "doc_id").toPandas()
    for ent, qts in probes.select("entity_id", "query_ts").toPandas().itertuples(index=False):
        g = o[(o.entity_id == ent) & ((o.ts - qts).abs() <= tol)]
        want = (None, None)
        if len(g):
            g = g.assign(d=(g.ts - qts).abs()).sort_values(
                ["d", "ts", "doc_id"], ascending=[True, True, False], kind="mergesort")
            want = (g.ts.iloc[0].to_pydatetime(), g.doc_id.iloc[0])
        assert got[(ent, qts)] == want, (ent, qts)


def _tied(spark, reverse: bool):
    """Docs 1 and 2 share (entity, ts); doc 3 is a day later.  One input
    partition per side, so the rows reach the window in input order."""
    rows = [("a", T0, 1), ("a", T0, 2), ("a", T0 + dt.timedelta(days=1), 3)]
    probes = [
        (0, "a", T0),                              # exactly at the tie
        (1, "a", T0 + dt.timedelta(hours=1)),      # backward / nearest -> tie
        (2, "a", T0 - dt.timedelta(hours=1)),      # forward / nearest -> tie
    ]
    if reverse:
        rows, probes = rows[::-1], probes[::-1]
    obs = spark.createDataFrame(rows, "entity_id string, ts timestamp, doc_id long")
    prb = spark.createDataFrame(probes, "pid long, entity_id string, query_ts timestamp")
    return prb.coalesce(1), obs.coalesce(1)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("direction,expected", [
    ("backward", [2, 2, None]),
    ("forward", [2, 3, 2]),
    ("nearest", [2, 2, 2]),
])
def test_tied_observations_ignore_input_order(spark, direction, expected):
    """Among observations tied on (key, ts) the match is the greatest
    payload struct, whatever the input order: doc 2, never doc 1."""
    outs = []
    for reverse in (False, True):
        prb, obs = _tied(spark, reverse)
        outs.append(_rows(asof_join(prb, obs, payload=["doc_id"], direction=direction)))
    assert outs[0] == outs[1]
    assert [r[-1] for r in outs[0]] == expected


def test_tied_observations_bitemporal_and_lagk(spark):
    """The bitemporal join resolves the same tie the same way in both
    input orders, and lag-k's lag1 is asof_join's backward match."""
    from pyspark.sql import functions as F

    from esa_pfa_spark.operators.asof import asof_join_bitemporal, asof_lagk_join

    outs = []
    for reverse in (False, True):
        prb, obs = _tied(spark, reverse)
        bt = asof_join_bitemporal(
            prb, obs.withColumn("knowledge_ts", F.col("ts")), payload=["doc_id"]
        )
        outs.append(_rows(bt))
        back = {r["pid"]: r["doc_id"] for r in asof_join(prb, obs, payload=["doc_id"]).collect()}
        lag = asof_lagk_join(prb, obs, k=1, value="doc_id").collect()
        assert {r["pid"]: r["lag1_val"] for r in lag} == back
    assert outs[0] == outs[1]
    assert [r[-1] for r in outs[0]] == [2, 2, None]


def test_map_payload_refused_at_plan_time(spark):
    """A map cannot be ordered, so it cannot take part in the tie rule:
    the join refuses it while the plan is built, before any job."""
    obs = spark.createDataFrame(
        [("a", T0, {"k": 1})], "entity_id string, ts timestamp, m map<string,int>"
    )
    with pytest.raises(ValueError, match="map"):
        asof_join(_probes(spark), obs, payload=["m"])


# ---------------------------------------------------------------------------
# asof_lagk_join
# ---------------------------------------------------------------------------

def test_asof_lagk_matches_brute(spark):
    """Seeded random timeline, k=3: every (probe, lag j) equals the j-th
    most recent at-or-before observation computed by brute force; probes
    are never dropped; ties at probe_ts match inclusively; tolerance nulls
    old lags without dropping rows."""
    import numpy as np
    import pandas as pd

    from esa_pfa_spark.operators.asof import asof_lagk_join

    rng = np.random.default_rng(11)
    t0 = dt.datetime(2024, 1, 1)
    obs_rows = [
        (["a", "b"][rng.integers(2)],
         t0 + dt.timedelta(minutes=int(rng.integers(0, 500))),
         float(rng.integers(1, 100)), i)
        for i in range(60)
    ]
    probe_rows = [
        (i, ["a", "b"][rng.integers(2)],
         t0 + dt.timedelta(minutes=int(rng.integers(0, 500))))
        for i in range(25)
    ]
    # force an exact-tie case
    probe_rows.append((98, "a", obs_rows[0][1]))
    obs = spark.createDataFrame(pd.DataFrame(obs_rows, columns=["k", "ts", "value", "oid"]))
    probes = spark.createDataFrame(pd.DataFrame(probe_rows, columns=["pid", "k", "query_ts"]))

    for tol in (None, dt.timedelta(minutes=60)):
        out = asof_lagk_join(
            probes, obs, k=3, on="k", probe_ts="query_ts", obs_ts="ts",
            value="value", tiebreak="oid", tolerance=tol,
        )
        got = {r["pid"]: r.asDict() for r in out.collect()}
        assert set(got) == {p[0] for p in probe_rows}  # never drops probes
        for pid, key, qts in probe_rows:
            hist = sorted(
                [o for o in obs_rows if o[0] == key and o[1] <= qts],
                key=lambda o: (o[1], o[3]),
            )
            for j in (1, 2, 3):
                want = hist[-j] if len(hist) >= j else None
                if want is not None and tol is not None and (
                    (qts - want[1]).total_seconds() > tol.total_seconds()
                ):
                    want = None
                g_v = got[pid][f"lag{j}_val"]
                g_t = got[pid][f"lag{j}_ts"]
                if want is None:
                    assert g_v is None and g_t is None, (pid, j, tol)
                else:
                    assert g_v == want[2] and g_t == want[1], (pid, j, tol)


def test_asof_staleness_profile(spark):
    """Hand timeline: match rate and percentile staleness per group check
    out against direct computation; unmatched probes count in n_probes
    and match_rate but not in the staleness percentiles."""
    import numpy as np
    import pandas as pd

    from esa_pfa_spark.operators.asof import asof_staleness_profile
    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 5, 1, 0, 0, 0)
    probes = [(i, "a", t0 + dt.timedelta(hours=i)) for i in range(4)]
    obs = [
        ("a", t0 - dt.timedelta(minutes=30)),   # stale 30m for probe 0
        ("a", t0 + dt.timedelta(minutes=50)),   # probe 1: 10m, probe 2: 70m
    ]
    p = spark.createDataFrame(pd.DataFrame(probes, columns=["pid", "k", "query_ts"]))
    o = spark.createDataFrame(pd.DataFrame(obs, columns=["k", "ts"]))
    out = asof_staleness_profile(
        p, o, on="k", probe_ts="query_ts", obs_ts="ts",
        tolerance=dt.timedelta(hours=1),
        group_expr=F.lit(0), group_name="g",
    ).collect()
    assert len(out) == 1
    r = out[0]
    # probe 3 (obs 130m old, tolerance 60m) misses; probe 2 (70m) misses too
    assert r["n_probes"] == 4 and r["n_matched"] == 2
    assert abs(r["match_rate"] - 0.5) < 1e-9
    stales = [1800.0, 600.0]
    assert abs(r["stale_p50_s"] - float(np.percentile(stales, 50))) < 1e-6
    assert r["stale_max_s"] == 1800.0


# ---------- bitemporal (event-time x knowledge-time) ----------

def _bt_obs(spark):
    """One entity, two events; the first event is RESTATED later.
    (obs_ts, knowledge_ts, value):
      e1 v1: day0, known day0+2h, 10.0
      e1 v2: day0, known day5,    99.0   (restatement)
      e2:    day3, known day4,    20.0   (published with 1d lag)
    """
    pdf = pd.DataFrame(
        {
            "entity_id": ["a", "a", "a"],
            "ts": [T0, T0, T0 + dt.timedelta(days=3)],
            "knowledge_ts": [
                T0 + dt.timedelta(hours=2),
                T0 + dt.timedelta(days=5),
                T0 + dt.timedelta(days=4),
            ],
            "value": [10.0, 99.0, 20.0],
        }
    )
    return spark.createDataFrame(pdf)


def test_bitemporal_restatement_correctness(spark):
    from esa_pfa_spark.operators.asof import asof_join_bitemporal

    probes = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity_id": ["a"] * 5,
                "query_ts": [
                    T0 + dt.timedelta(days=1),      # only v1 known -> 10
                    T0 + dt.timedelta(days=3, hours=12),  # e2 happened, NOT yet known -> 10
                    T0 + dt.timedelta(days=4, hours=12),  # e2 known -> 20
                    T0 + dt.timedelta(days=6),      # restatement known, but e2 is NEWER -> 20
                    T0 + dt.timedelta(hours=1),     # before anything known -> null
                ],
            }
        )
    )
    out = asof_join_bitemporal(probes, _bt_obs(spark)).orderBy("query_ts").collect()
    assert [r["value"] for r in out] == [None, 10.0, 10.0, 20.0, 20.0]
    # the day-6 probe matches e2 with e2's knowledge stamp, not the restatement's
    assert out[4]["matched_ts"] == T0 + dt.timedelta(days=3)
    assert out[4]["matched_knowledge_ts"] == T0 + dt.timedelta(days=4)


def test_bitemporal_blocks_leak_plain_asof_commits(spark):
    """The leakage pin: a plain as-of over latest-restatement rows serves
    the day-5 correction to a day-1 probe; the bitemporal join does not."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    from esa_pfa_spark.operators.asof import asof_join, asof_join_bitemporal

    obs = _bt_obs(spark)
    latest = (
        obs.withColumn(
            "__rk",
            F.row_number().over(
                W.partitionBy("entity_id", "ts").orderBy(F.col("knowledge_ts").desc())
            ),
        )
        .filter("__rk = 1")
        .drop("__rk", "knowledge_ts")
    )
    probe = spark.createDataFrame(
        pd.DataFrame({"entity_id": ["a"], "query_ts": [T0 + dt.timedelta(days=1)]})
    )
    naive = asof_join(probe, latest).collect()[0]
    correct = asof_join_bitemporal(probe, obs).collect()[0]
    assert naive["value"] == 99.0      # trained on a correction from the future
    assert correct["value"] == 10.0    # what was actually known on day 1


def test_bitemporal_tolerance_and_degenerate_knowledge(spark):
    from esa_pfa_spark.operators.asof import asof_join_bitemporal

    obs = _bt_obs(spark)
    probes = spark.createDataFrame(
        pd.DataFrame(
            {"entity_id": ["a"], "query_ts": [T0 + dt.timedelta(days=40)]}
        )
    )
    out = asof_join_bitemporal(probes, obs, tolerance=dt.timedelta(days=7)).collect()[0]
    assert out["value"] is None and out["matched_ts"] is None
    # a malformed knowledge_ts BEFORE the event must not leak the future:
    bad = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity_id": ["a"],
                "ts": [T0 + dt.timedelta(days=10)],
                "knowledge_ts": [T0],  # "known" before it happened
                "value": [7.0],
            }
        )
    )
    p = spark.createDataFrame(
        pd.DataFrame({"entity_id": ["a"], "query_ts": [T0 + dt.timedelta(days=1)]})
    )
    r = asof_join_bitemporal(p, bad).collect()[0]
    assert r["value"] is None  # effective_k = greatest(k, ts) blocks it


def test_bitemporal_reduces_to_plain_asof_without_lag(spark):
    """knowledge_ts == obs_ts everywhere -> identical matches to the plain
    backward as-of on random timelines."""
    import numpy as np

    from esa_pfa_spark.operators.asof import asof_join, asof_join_bitemporal

    rng = np.random.default_rng(17)
    obs_rows, probe_rows = [], []
    for k in range(8):
        for t in sorted(rng.choice(5000, size=30, replace=False).tolist()):
            obs_rows.append((f"k{k}", T0 + dt.timedelta(minutes=int(t)), float(t)))
        for t in rng.choice(5000, size=15, replace=False).tolist():
            probe_rows.append((f"k{k}", T0 + dt.timedelta(minutes=int(t))))
    obs = spark.createDataFrame(pd.DataFrame(obs_rows, columns=["entity_id", "ts", "value"]))
    probes = spark.createDataFrame(pd.DataFrame(probe_rows, columns=["entity_id", "query_ts"]))
    bt = asof_join_bitemporal(
        probes, obs.withColumn("knowledge_ts", obs["ts"]), tolerance=dt.timedelta(days=1)
    ).drop("matched_knowledge_ts")
    plain = asof_join(probes, obs, tolerance=dt.timedelta(days=1))
    assert bt.exceptAll(plain).count() == 0 and plain.exceptAll(bt).count() == 0
