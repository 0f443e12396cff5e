"""Catalog schema memo: each table's schema is inferred once per
version of its file set, and every later read passes it back to the
reader. Also the listing-signature stamp that ``plan_key`` shares."""

from __future__ import annotations

import os
import sys
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import SF_CORRECT
from lakehouse_automation_spark.engine import catalog
from lakehouse_automation_spark.engine.catalog import (
    SCHEMA_CONFS, TABLE_NAMES, read_parquet, table)
from lakehouse_automation_spark.operators.pathio import listing_signature


def _jobs(spark, fn):
    """(exact Spark job count, result) of ``fn()`` under its own job
    group."""
    sc = spark.sparkContext
    group = f"cat_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count pin", False)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "", False)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _write(path, **cols):
    pq.write_table(pa.table(cols), path)


def _bump_mtime(path):
    st = os.stat(path)
    later = st.st_mtime_ns + 5_000_000_000
    os.utime(path, ns=(later, later))


def test_memo_hit_schema_equals_inferred_schema(spark):
    """A memo-hit read returns exactly what inference returns, for
    every table; events.ts (parquet TIMESTAMP(NANOS)) stays
    timestamp_ntz and reads the same values."""
    for name in TABLE_NAMES:
        path = os.path.join(SF_CORRECT, f"{name}.parquet")
        read_parquet(spark, path)
        n, hit = _jobs(spark, lambda: read_parquet(spark, path))
        assert n == 0, name
        assert hit.schema == spark.read.parquet(path).schema, name
    ev = table(spark, SF_CORRECT, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
    fresh = spark.read.parquet(os.path.join(SF_CORRECT, "events.parquet"))
    assert ev.exceptAll(fresh).isEmpty() and fresh.exceptAll(ev).isEmpty()


def test_second_table_call_runs_no_job(spark):
    table(spark, SF_CORRECT, "orders")
    n, df = _jobs(spark, lambda: table(spark, SF_CORRECT, "orders"))
    assert n == 0
    assert "o_orderkey" in df.columns
    # the pin means something: the same read without a schema infers
    path = os.path.join(SF_CORRECT, "orders.parquet")
    assert _jobs(spark, lambda: spark.read.parquet(path))[0] >= 1


def test_added_column_rewrite_misses_memo(spark, tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    part = str(d / "part-0.parquet")
    _write(part, a=[1, 2, 3])
    assert read_parquet(spark, str(d)).columns == ["a"]
    assert _jobs(spark, lambda: read_parquet(spark, str(d)))[0] == 0
    _write(part, a=[1, 2, 3], b=["x", "y", "z"])
    n, df = _jobs(spark, lambda: read_parquet(spark, str(d)))
    assert n >= 1 and df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y"), (3, "z")]


def test_same_size_rewrite_with_new_mtime_misses_memo(spark, tmp_path):
    """In place, same size, same inode: only the mtime tells."""
    path = str(tmp_path / "t.parquet")
    _write(path, a=[1, 2, 3])
    new = pa.BufferOutputStream()
    pq.write_table(pa.table({"b": [1, 2, 3]}), new)
    new = new.getvalue().to_pybytes()
    before = os.stat(path)
    assert len(new) == before.st_size
    assert read_parquet(spark, path).columns == ["a"]
    with open(path, "r+b") as fh:
        fh.write(new)
    _bump_mtime(path)
    after = os.stat(path)
    assert (after.st_size, after.st_ino) == (before.st_size, before.st_ino)
    n, df = _jobs(spark, lambda: read_parquet(spark, path))
    assert n >= 1 and df.columns == ["b"]


@pytest.mark.parametrize("conf", SCHEMA_CONFS)
def test_flipping_inference_conf_misses_memo(spark, tmp_path, conf):
    path = str(tmp_path / "t.parquet")
    _write(path, a=[1, 2, 3])
    read_parquet(spark, path)
    assert _jobs(spark, lambda: read_parquet(spark, path))[0] == 0
    old = spark.conf.get(conf, None)
    spark.conf.set(conf, "false" if old == "true" else "true")
    try:
        n, df = _jobs(spark, lambda: read_parquet(spark, path))
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)
    assert n >= 1 and df.columns == ["a"]


def test_file_uri_hits_memo(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, a=[1, 2, 3])
    uri = "file://" + path
    read_parquet(spark, uri)
    n, df = _jobs(spark, lambda: read_parquet(spark, uri))
    assert n == 0 and df.columns == ["a"]


def test_object_store_and_glob_paths_skip_memo(spark, tmp_path):
    class Reader:
        def parquet(self, p):
            return ("inferred", p)

        def schema(self, s):
            raise AssertionError("memo consulted for a non-local path")

    class Stub:
        read = Reader()

    for uri in ("s3a://bucket/t.parquet", "hdfs://nn/t.parquet"):
        assert listing_signature([uri]) is None
        assert read_parquet(Stub(), uri) == ("inferred", uri)
        assert uri not in catalog._SCHEMAS

    _write(str(tmp_path / "a.parquet"), a=[1, 2, 3])
    pattern = str(tmp_path / "*.parquet")
    assert listing_signature([pattern]) is None
    # Spark globs a pattern even when it also exists literally, so a
    # stamp of the literal file would miss the other matches
    _write(str(tmp_path / "*.parquet"), a=[4])
    assert listing_signature([pattern]) is None
    for _ in range(2):
        n, df = _jobs(spark, lambda: read_parquet(spark, pattern))
        assert n >= 1 and df.columns == ["a"]
    assert pattern not in catalog._SCHEMAS


def test_memo_holds_one_entry_per_path(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    size = len(catalog._SCHEMAS)
    for i in range(4):
        _write(path, **{f"c{i}": [i]})
        _bump_mtime(path)
        assert read_parquet(spark, path).columns == [f"c{i}"]
    assert len(catalog._SCHEMAS) == size + 1


def test_concurrent_table_calls_return_correct_schemas(spark):
    """More threads than cores, all missing at once, with a short
    switch interval: every call returns the inferred schema and no
    entry is lost."""
    want = {n: spark.read.parquet(os.path.join(SF_CORRECT, f"{n}.parquet"))
            .schema for n in TABLE_NAMES}
    with catalog._SCHEMAS_LOCK:
        catalog._SCHEMAS.clear()
    names = list(TABLE_NAMES) * 3
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(pool.map(
                lambda n: table(spark, SF_CORRECT, n).schema, names,
                timeout=600))
    finally:
        sys.setswitchinterval(interval)
    assert got == [want[n] for n in names]
    assert _jobs(spark, lambda: [table(spark, SF_CORRECT, n)
                                 for n in TABLE_NAMES])[0] == 0


@pytest.mark.parametrize("key,jobs", [
    ("flagship_pricing_summary", 4), ("agg_rollup", 2),
    ("join_inner_equi", 2), ("join_asof", 2),
    ("sessionize_events", 2), ("sql_to_pandas", 4),
])
def test_sql_analytics_keys_run_no_inference_job(spark, key, jobs):
    """Second call in the session, executed as the benchmark executes
    it: only the jobs that move data run (Spark 4.1, AQE on). A
    schema-inference job per table read breaks these pins."""
    from lakehouse_automation_spark.queries import REGISTRY

    fn = REGISTRY[key].fn

    def call():
        fn(spark, SF_CORRECT).write.format("noop").mode("overwrite").save()

    call()
    assert _jobs(spark, call)[0] == jobs


def test_plan_key_changes_when_files_behind_path_change(spark, tmp_path):
    """The plan string names only the path, so before the stamp a
    rewrite behind it kept the key and memo_scalar served the old
    value."""
    from lakehouse_automation_spark.operators.cache import (
        memo_scalar, plan_key, release_persisted)

    path = str(tmp_path / "t.parquet")
    _write(path, a=[1, 2, 3])
    k1 = plan_key(spark.read.parquet(path))
    assert plan_key(spark.read.parquet(path)) == k1
    df = spark.read.schema("a long").parquet(path)
    assert _jobs(spark, lambda: plan_key(df))[0] == 0
    try:
        assert memo_scalar(("n", k1), lambda: df.count()) == 3
        _write(path, a=[1, 2, 3, 4])
        _bump_mtime(path)
        df2 = spark.read.parquet(path)
        k2 = plan_key(df2)
        assert k2[:2] == k1[:2] and k2 != k1
        assert memo_scalar(("n", k2), lambda: df2.count()) == 4
    finally:
        release_persisted()
