"""Flagship pipeline vs the single-process pandas oracle: token-array
equality + numpy.allclose per feature at each entity×query_ts — the
BASELINE.json correctness gate."""

import datetime as dt

import numpy as np
import pandas as pd

from esa_pfa_spark import synth
from esa_pfa_spark.oracle.pandas_oracle import oracle_feature_table
from esa_pfa_spark.plans.pipeline import FEATURE_PAYLOAD, feature_table_fused
from esa_pfa_spark.schema import OBSERVATIONS_SCHEMA, QUERIES_SCHEMA

TOL = dt.timedelta(days=7)
FLOAT_COLS = [
    "mean", "stdev", "cvar", "min", "max", "p10", "p50", "p90", "skewness",
    "lag_1_mean", "lead_1_mean",
]
INT_COLS = ["n_tok", "count", "session_id", "session_len"]


def _synth_pdfs(seed, n_entities, mean_obs, mean_tok, hot_factor=1):
    obs_pdf = synth.gen_observations_pdf(
        seed=seed, n_entities=n_entities, mean_obs=mean_obs, mean_tok=mean_tok,
        hot_factor=hot_factor,
    )
    probes_pdf = synth.gen_queries_pdf(seed=seed, n_entities=n_entities, mean_obs=mean_obs)
    return obs_pdf, probes_pdf


def _assert_oracle_parity(spark, tol, obs_pdf, probes_pdf):
    """feature_table_fused == the pandas oracle, row for row; returns the
    matched-row mask so callers can check how much actually matched."""
    got = feature_table_fused(
        spark.createDataFrame(obs_pdf, schema=OBSERVATIONS_SCHEMA),
        spark.createDataFrame(probes_pdf, schema=QUERIES_SCHEMA),
        tolerance=tol,
    ).toPandas()
    want = oracle_feature_table(obs_pdf, probes_pdf, tol, FEATURE_PAYLOAD)

    assert len(got) == len(want) == len(probes_pdf)
    got = got.sort_values(["entity_id", "query_ts"], kind="mergesort").reset_index(drop=True)
    want = want.reset_index(drop=True)

    assert (got["entity_id"] == want["entity_id"]).all()
    assert got["query_ts"].equals(want["query_ts"])
    # matched_ts equality (both NaT or both equal)
    assert got["matched_ts"].isna().equals(want["matched_ts"].isna())
    m = ~got["matched_ts"].isna()
    assert (got.loc[m, "matched_ts"].to_numpy() == want.loc[m, "matched_ts"].to_numpy()).all()

    # token-array equality (per-row invariant from input_hint); unmatched
    # probes carry null tokens
    for g, w in zip(got["tokens"], want["tokens"]):
        if w is None or (isinstance(w, float) and pd.isna(w)):
            assert g is None
        else:
            assert np.array_equal(np.asarray(g), np.asarray(w))

    # numpy.allclose on every derived feature
    for c in FLOAT_COLS:
        gv = got[c].to_numpy(dtype=np.float64)
        wv = pd.to_numeric(want[c]).to_numpy(dtype=np.float64)
        assert np.allclose(gv, wv, rtol=1e-7, atol=1e-12, equal_nan=True), c
    for c in INT_COLS:
        gv = got[c].astype("float64").to_numpy()
        wv = pd.to_numeric(want[c]).astype("float64").to_numpy()
        assert np.allclose(gv, wv, equal_nan=True), c
    return m


def test_flagship_parity(spark):
    m = _assert_oracle_parity(
        spark, TOL, *_synth_pdfs(seed=42, n_entities=12, mean_obs=25, mean_tok=24)
    )
    assert m.sum() > len(m) * 0.3  # a meaningful fraction actually matches


def test_flagship_parity_short_tolerance(spark):
    """An 18h tolerance leaves a real fraction of probes unmatched: their
    features and tokens must be null, as in the oracle."""
    m = _assert_oracle_parity(
        spark, dt.timedelta(hours=18),
        *_synth_pdfs(seed=21, n_entities=12, mean_obs=22, mean_tok=10),
    )
    assert m.any() and not m.all()


def test_flagship_parity_hot_entity(spark):
    """One entity with thousands of observations (synth ``hot_factor``):
    its lead, session and as-of values span the whole long partition.
    Extra probes sit along that entity's full timeline — on and just
    after observations, and past its last one — so the last session's
    length (the entity's observation count) is read too."""
    obs_pdf, probes_pdf = _synth_pdfs(
        seed=7, n_entities=6, mean_obs=10, mean_tok=8, hot_factor=200
    )
    hot_ts = obs_pdf.loc[obs_pdf["entity_id"] == "e00000", "ts"].sort_values()
    assert len(hot_ts) > 2000
    picks = hot_ts.iloc[::97]
    extra = pd.concat([
        picks, picks + pd.Timedelta(hours=5), hot_ts.iloc[[-1]] + pd.Timedelta(days=1),
    ])
    probes_pdf = pd.concat(
        [probes_pdf, pd.DataFrame({"entity_id": "e00000", "query_ts": extra.to_numpy()})],
        ignore_index=True,
    )
    m = _assert_oracle_parity(spark, TOL, obs_pdf, probes_pdf)
    assert m.sum() > len(picks)


def test_flagship_no_leakage_at_scale(spark):
    obs = synth.observations_df(spark, seed=9, n_entities=15, mean_obs=20, mean_tok=8)
    probes = synth.queries_df(spark, seed=9, n_entities=15, mean_obs=20)
    out = feature_table_fused(obs, probes, TOL).toPandas()
    m = out.dropna(subset=["matched_ts"])
    assert (m["matched_ts"] <= m["query_ts"]).all()
    assert ((m["query_ts"] - m["matched_ts"]).dt.total_seconds() <= TOL.total_seconds()).all()


def test_flagship_parity_zero_token_observation(spark):
    """An empty document between two others: its mean is NULL, so the
    neighbours' lead/lag mean must be NULL too (the oracle shifts the
    observation stream), not the next non-null mean beyond it."""
    days = pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03"])
    toks = [[1, 2, 3], [], [7, 8, 9]]
    obs_pdf = pd.DataFrame({
        "entity_id": "e0", "bucket_x": 0, "bucket_y": 0, "ts": days,
        "doc_id": ["d0", "d1", "d2"], "tokens": toks, "n_tok": [len(t) for t in toks],
        "source": "synth",
    })
    probes_pdf = pd.DataFrame({"entity_id": "e0", "query_ts": days + pd.Timedelta(hours=1)})
    m = _assert_oracle_parity(spark, TOL, obs_pdf, probes_pdf)
    assert m.all()
