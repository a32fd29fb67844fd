"""Every workload's output check passes on a correct output and fails, and
is counted as a failed op, on a deliberately corrupted one."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import workloads as W
from run import Runner


def _write(table: pa.Table, path) -> str:
    path.mkdir()
    pq.write_table(table, path / "part-00000.parquet")
    return str(path)


def _counted(wl, inp, ref, out, stdout) -> tuple[int, int]:
    r = Runner(wl, inp, ref, out)
    r._check(None, stdout)
    return r.attempted, r.failed


@pytest.fixture
def flagship(tmp_path):
    from esa_pfa_spark.oracle.pandas_oracle import oracle_feature_table
    from esa_pfa_spark.plans.pipeline import FEATURE_PAYLOAD

    wl = W.Flagship()
    wl.n_entities, wl.sample_entities = 30, 6
    inp = wl.generate(5, tmp_path / "data", 2)
    ref = wl.reference(inp)
    full = oracle_feature_table(
        pq.read_table(inp.paths["obs"]).to_pandas(),
        pq.read_table(inp.paths["probes"]).to_pandas(),
        W.TOLERANCE, FEATURE_PAYLOAD,
    )
    return wl, inp, ref, pa.Table.from_pandas(full, preserve_index=False)


def test_flagship_check(flagship, tmp_path):
    wl, inp, ref, good = flagship
    assert wl.check(_write(good, tmp_path / "good"), "", ref) is None

    dropped = _write(good.slice(1), tmp_path / "dropped")
    assert "probes" in wl.check(dropped, "", ref)
    assert _counted(wl, inp, ref, dropped, "") == (1, 1)

    sampled = np.flatnonzero(np.isin(good["entity_id"].to_numpy(zero_copy_only=False), ref["want"]["entity_id"]))
    row = next(i for i in sampled if good["mean"][int(i)].is_valid)
    mean = good["mean"].to_numpy(zero_copy_only=False).copy()
    mean[row] += 1.0
    bad = good.set_column(good.schema.get_field_index("mean"), "mean", pa.array(mean))
    assert wl.check(_write(bad, tmp_path / "bad"), "", ref) == "mean differs from the oracle"


def test_dedup_exact_check(tmp_path):
    wl = W.DedupExact()
    wl.n_docs, wl.n_clusters = 60, 4
    inp = wl.generate(3, tmp_path / "data", 2)
    ref = wl.reference(inp)
    assert ref["dup"].sum() >= 4 * wl.copies * wl.span_lo
    good = pa.table({
        "doc_id": ref["doc_id"],
        "n_tok": ref["n_tok"],
        "dup_tokens": ref["dup"],
        "dup_frac": W.frac_half_up(ref["dup"], ref["n_tok"]),
    })
    stdout = f"... longest duplicated substring: {ref['longest']} tokens\n"
    out = _write(good, tmp_path / "good")
    assert wl.check(out, stdout, ref) is None
    assert _counted(wl, inp, ref, out, stdout) == (1, 0)

    dup = ref["dup"].copy()
    dup[np.argmax(dup)] -= 1
    bad = _write(good.set_column(2, "dup_tokens", pa.array(dup)), tmp_path / "bad")
    assert wl.check(bad, stdout, ref) == "dup_tokens differs from the reference"
    assert _counted(wl, inp, ref, bad, stdout) == (1, 1)
    assert "longest" in wl.check(out, stdout.replace(str(ref["longest"]), "1"), ref)


def test_curate_check(tmp_path):
    wl = W.Curate()
    wl.n_single, wl.cluster_sizes = 160, [2, 3, 4]
    inp = wl.generate(4, tmp_path / "data", 2)
    ref = wl.reference(inp)
    want = ref["want"]
    assert 0 < want.num_rows < 169
    stdout = "".join(f"{s}: {o}/{i} survived\n" for s, (o, i) in sorted(ref["report"].items()))
    out = _write(want, tmp_path / "good")
    assert wl.check(out, stdout, ref) is None

    bad = _write(want.slice(1), tmp_path / "bad")
    assert "survivors" in wl.check(bad, stdout, ref)
    assert _counted(wl, inp, ref, bad, stdout) == (1, 1)
    assert "survival report" in wl.check(out, stdout.replace(" survived", " kept"), ref)


def test_curate_trace_chain_check(tmp_path):
    """A traced curate run fails when the harness's copy of the v2 chain no
    longer yields the program's survivors."""
    from run import verdict

    wl = W.Curate()
    wl.n_single, wl.cluster_sizes = 160, [2, 3, 4]
    ref = wl.reference(wl.generate(4, tmp_path / "data", 2))
    rows = ref["want"].to_pylist()
    for r in rows:  # the chain's rate is not yet rounded to 6 places
        r["rate"] += 4e-7
    assert wl.chain_check(rows[::-1], ref) is None

    assert "survivors" in wl.chain_check(rows[1:], ref)
    rows[0]["rate"] += 1e-5
    err = wl.chain_check(rows, ref)
    assert err == "the traced chain is not curate_documents_v2: rate differs from the reference"
    assert verdict(0, 0, {"trace_errors": []})
    assert not verdict(0, 0, {"trace_errors": [err]})
