"""BENCHMARK.json, the metric catalogue and the run's failure modes."""

import json
import os
import re
import shutil
import subprocess
import sys

from lhbench import catalog, inputs
from lhbench.sql_analytics import KEYS as SQL_KEYS

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_is_well_formed():
    spec = _spec()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer")
             for m in spec[k]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert len(spec["per_layer"]) <= 128


def test_catalogue_names_every_key_and_layer_metric():
    for key in SQL_KEYS:
        assert f"queries.{key}.wall_s" in catalog.PER_LAYER
        assert f"queries.{key}.jobs" in catalog.PER_LAYER
    for layer in catalog.LAYERS:
        assert f"trace.self_s.{layer}" in catalog.PER_LAYER


def test_inputs_are_a_function_of_the_seed():
    a, b, c = inputs.tables(3, 0.001), inputs.tables(3, 0.001), \
        inputs.tables(4, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["embeddings"].num_rows == 50


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sql_analytics",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
