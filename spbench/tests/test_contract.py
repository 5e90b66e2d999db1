"""BENCHMARK.json stays in step with the code, and the runner refuses
to run outside a sparkspatial checkout."""

import json
import os
import subprocess
import sys

from spbench import layers
from spbench.workloads import WORKLOADS

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def _bench():
    with open(BENCH) as f:
        return json.load(f)


def test_keys_and_lists_match_the_code():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert b["per_layer"] == layers.benchmark_entries()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_every_catalogue_entry_names_a_known_workload():
    for name, _, wls, moves in layers.CATALOGUE:
        assert wls and set(wls) <= set(WORKLOADS), name
        assert moves


def test_outside_a_checkout_exits_nonzero_without_a_result(tmp_path):
    run = os.path.join(HERE, "run.py")
    p = subprocess.run([sys.executable, run, "--workload", "geo_batch",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True,
                       timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
