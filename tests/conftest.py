from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.sweep import SF_CORRECT, SF_SMOKE  # noqa: E402,F401


@pytest.fixture(scope="session")
def spark():
    from lakehouse_automation_spark.engine import get_spark

    s = get_spark("pytest", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def tables(spark):
    from lakehouse_automation_spark.engine import load_tables

    return load_tables(spark, SF_SMOKE)


@pytest.fixture(scope="session")
def replica_dir(tmp_path_factory):
    """Replica name (tools/sweep.py REPLICAS) -> a dir holding that
    replica of SF_SMOKE, built once per session. The source is pinned,
    not taken from the environment, so premise checks can compare
    against SF_SMOKE."""
    from tools.sweep import REPLICAS

    built: dict[str, str] = {}

    def get(name: str) -> str:
        if name not in built:
            d = str(tmp_path_factory.mktemp(name))
            REPLICAS[name].build(SF_SMOKE, d)
            built[name] = d
        return built[name]

    return get


@pytest.fixture(scope="session")
def replica_verdict(spark, replica_dir):
    """(replica, key) -> the oracle gate's verdict line for that key on
    that replica: the sweep's own per-key gate, scoped to one key."""
    from tools.oracle_check import check_key, connect
    from tools.sweep import REPLICAS, expected_for

    cons: dict = {}

    def verdict(name: str, key: str) -> str:
        d = replica_dir(name)
        if name not in cons:
            cons[name] = connect(d) if REPLICAS[name].oracle else None
        return check_key(spark, key, d, cons[name],
                         expected_for(name).get(key))

    yield verdict
    for con in cons.values():
        if con is not None:
            con.close()
