"""Two seeds give the same work (counts) but different content."""

from __future__ import annotations

import numpy as np
import pyarrow.compute as pc

import gen


def _lens(col):
    return np.sort(pc.list_value_length(col).to_numpy())


def test_flagship_seeds_same_counts_different_content():
    a_obs, a_pr = gen.flagship_tables(1, 200, 20, 32)
    b_obs, b_pr = gen.flagship_tables(2, 200, 20, 32)
    assert a_obs.num_rows == b_obs.num_rows
    assert a_pr.num_rows == b_pr.num_rows
    assert np.array_equal(_lens(a_obs["tokens"]), _lens(b_obs["tokens"]))
    assert np.array_equal(
        np.sort(a_obs.group_by("entity_id").aggregate([("ts", "count")])["ts_count"].to_numpy()),
        np.sort(b_obs.group_by("entity_id").aggregate([("ts", "count")])["ts_count"].to_numpy()),
    )
    assert a_obs["tokens"] != b_obs["tokens"]
    assert a_obs["ts"] != b_obs["ts"]
    assert a_pr["query_ts"] != b_pr["query_ts"]
    assert gen.flagship_tables(1, 200, 20, 32)[0].equals(a_obs)


def test_flagship_timelines_strictly_increase():
    obs, _ = gen.flagship_tables(3, 100, 20, 32)
    ent = obs["entity_id"].to_numpy(zero_copy_only=False)
    ts = obs["ts"].cast("int64").to_numpy()
    same = ent[1:] == ent[:-1]
    assert (ts[1:][same] > ts[:-1][same]).all()


def test_dedup_seeds_same_counts_different_content():
    a, ia = gen.dedup_corpus(1, 200, 100, 8, 60, 120, 2)
    b, ib = gen.dedup_corpus(2, 200, 100, 8, 60, 120, 2)
    assert a.num_rows == b.num_rows
    assert ia == ib
    assert np.array_equal(_lens(a["tokens"]), _lens(b["tokens"]))
    assert _lens(a["tokens"]).min() >= 8
    assert a["tokens"] != b["tokens"]


def test_curate_seeds_same_counts_different_content():
    args = (200, 40, [2, 3, 4], (30, 72), 1, 0.05)
    a = gen.curate_corpus(1, *args)
    b = gen.curate_corpus(2, *args)
    words = lambda t: np.sort(pc.list_value_length(pc.split_pattern(t["text"], " ")).to_numpy())  # noqa: E731
    assert a.num_rows == b.num_rows == 200 + 9
    assert np.array_equal(words(a), words(b))
    for t in (a, b):
        src = t.group_by("source").aggregate([("doc_id", "count")]).sort_by("source")
        assert src["doc_id_count"].to_pylist() == [53, 52, 52, 52]
    assert a["text"] != b["text"]
