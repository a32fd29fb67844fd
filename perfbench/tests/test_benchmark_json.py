"""``BENCHMARK.json`` lists what the harness runs and prints."""

from __future__ import annotations

import json

import run
from workloads import GATED, WORKLOADS

SPEC = json.loads((run.ROOT / "BENCHMARK.json").read_text())


def test_gated_workloads_are_the_listed_ones():
    assert [w["name"] for w in SPEC["workloads"]] == [w.name for w in GATED]


def test_metric_names_and_units_match():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    listed = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    for w in GATED:
        assert run.per_layer_units(w) == listed
    # a workload run by hand reports its own spans as well
    assert set(run.per_layer_units(WORKLOADS["curate"])) > set(listed)
