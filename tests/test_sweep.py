"""The sweep harness itself (tools/sweep.py, tools/oracle_check.py's
gate): replicas are fixed corpora, `composed` is the composition it
claims to be, bad arguments fail before a JVM starts, and the EXPECTED
table excuses exactly one exception class. Spark-free."""

from __future__ import annotations

import os
import subprocess
import sys
from types import SimpleNamespace

import pandas as pd
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE
from tools import sweep
from tools.oracle_check import TABLES, check_key, failures, run_gate

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _assert_same_tables(a: str, b: str) -> None:
    """Same schema (nullability included) and values; repr() of the
    Python values tells NaN, -0.0 and 0.0 apart exactly."""
    for t in TABLES:
        x = pq.read_table(os.path.join(a, f"{t}.parquet"))
        y = pq.read_table(os.path.join(b, f"{t}.parquet"))
        assert x.schema.equals(y.schema), t
        assert [f.nullable for f in x.schema] == \
            [f.nullable for f in y.schema], t
        for c in x.column_names:
            assert repr(x.column(c).to_pylist()) == \
                repr(y.column(c).to_pylist()), f"{t}.{c}"


@pytest.mark.parametrize("name", sorted(sweep.REPLICAS))
def test_replica_build_is_deterministic(name, tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    sweep.REPLICAS[name].build(SF_SMOKE, str(a))
    sweep.REPLICAS[name].build(SF_SMOKE, str(b))
    _assert_same_tables(str(a), str(b))


def test_composed_is_null_extremes_dirty_then_both_time_edges(tmp_path):
    src = SF_SMOKE
    for i, build in enumerate((sweep.build_null, sweep.build_extremes,
                               sweep.build_dirty,
                               sweep.build_timeedge_events,
                               sweep.build_timeedge_relational)):
        out = tmp_path / f"stage{i}"
        out.mkdir()
        build(src, str(out))
        src = str(out)
    composed = tmp_path / "composed"
    composed.mkdir()
    sweep.build_composed(SF_SMOKE, str(composed))
    _assert_same_tables(src, str(composed))


@pytest.mark.parametrize("args", [
    ["--replica", "nosuch"],
    ["--replica", "null", "--profile", "nosuch"],
    ["--replica", "null", "no_such_key"],
], ids=["replica", "profile", "key"])
def test_bad_argument_exits_2_before_a_jvm_starts(args):
    # a JVM launch would fail on this JAVA_HOME with a traceback and
    # exit 1, so exit 2 means the arguments were refused first
    env = dict(os.environ, JAVA_HOME="/nonexistent-java-home")
    p = subprocess.run([sys.executable, "tools/sweep.py", *args], cwd=REPO,
                       env=env, capture_output=True, text=True, timeout=120)
    assert p.returncode == 2, p.stderr
    assert "Traceback" not in p.stderr


class ConstraintViolationError(Exception):
    pass


class _Rows:
    """Stands in for a DataFrame in compare(): no temporal columns."""
    schema = SimpleNamespace(fields=[])

    def toPandas(self):  # noqa: N802 — the DataFrame method name
        return pd.DataFrame({"x": [1]})


def _raise(exc):
    def fn(spark, sf_dir):
        raise exc
    return fn


@pytest.fixture
def fake_keys(monkeypatch):
    from lakehouse_automation_spark.queries import REGISTRY

    fns = {
        "raises_expected": _raise(ConstraintViolationError("price_nonneg")),
        "raises_other": _raise(ValueError("boom")),
        "returns": lambda spark, sf_dir: _Rows(),
    }
    for key, fn in fns.items():
        monkeypatch.setitem(REGISTRY, key, SimpleNamespace(fn=fn, oracle=None))
    return list(fns)


def test_only_the_expected_exception_passes(fake_keys):
    exp = "ConstraintViolationError"
    assert check_key(None, "raises_expected", SF_SMOKE, None, exp) \
        .startswith("ENFORCED ConstraintViolationError: price_nonneg")
    assert check_key(None, "raises_other", SF_SMOKE, None, exp) \
        == "ERROR ValueError: boom"
    assert check_key(None, "returns", SF_SMOKE, None, exp) \
        .startswith("NOT_ENFORCED")
    assert check_key(None, "returns", SF_SMOKE, None) == "ROWS_ONLY rows=1"
    record = run_gate(None, SF_SMOKE, fake_keys, oracle=False,
                      expected={k: exp for k in fake_keys})
    assert failures(record) == ["raises_other", "returns"]
    assert record["raises_expected"]["status"] == "ENFORCED"


def test_expected_table_applies_only_on_its_replicas():
    assert sweep.expected_for("null") == {
        "tf_constraints": "ConstraintViolationError"}
    assert sweep.expected_for("composed") == sweep.expected_for("extremes") \
        == sweep.expected_for("null")
    for name in ("clean", "empty", "dirty", "timeedge-events",
                 "timeedge-relational"):
        assert sweep.expected_for(name) == {}


def test_matrix_entries_name_known_replicas_and_profiles():
    for _, sf, replica, profile in sweep.MATRIX:
        assert sf in (sweep.SF_SMOKE, sweep.SF_CORRECT)
        assert replica in sweep.REPLICAS
        assert profile is None or profile in sweep.PROFILES
