"""Pytest pins for the round-8 PARTITION-INVARIANCE fix classes.

`tools/sweep.py --replica clean --profile fewtasks|manysplits` reruns
the whole oracle gate under adversarial execution geometry (AQE off /
partitions > rows / 64 KiB input splits) — ~25 min, tool tier. These tests pin the two fix
classes it caught so a regression fails the suite in seconds:

1. theta_intersection_agg's partial buffer cannot serialize its
   empty state ("infinite set"): any task seeing zero rows kills the
   stage. agg_sketch_setops must therefore never plan the
   intersection AGGREGATE — scalar theta_intersection over
   already-built sketches only — and must run green with AQE off and
   more shuffle partitions than sketch rows.
2. Spark's writer emits zero-row part files (task 0 of a write whose
   split lost every row to a filter); they never group under
   input_file_name, so unless the stats walk accounts them the
   manifest never audits them and verify() is blind to their
   deletion.
"""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F

from tests.conftest import SF_SMOKE


def test_sketch_setops_survives_empty_partial_tasks(spark):
    """The exact geometry that killed the key: AQE off (no runtime
    coalescing of the tiny exchange) and shuffle partitions greater
    than the row counts feeding the sketch aggregations."""
    from lakehouse_automation_spark import queries as Q
    from lakehouse_automation_spark.operators.cache import release_persisted

    saved = {k: spark.conf.get(k) for k in
             ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")}
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        row = Q.REGISTRY["agg_sketch_setops"].fn(spark, SF_SMOKE).collect()[0]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        release_persisted()
    assert row.inter_ok and row.union_ok
    assert row.exact_union >= row.exact_view >= row.exact_inter >= 0


def test_sketch_setops_never_plans_intersection_agg(spark):
    """Structural pin: the scalar set ops are the fix — the aggregate
    form must not reappear in the plan."""
    from lakehouse_automation_spark import queries as Q

    df = Q.REGISTRY["agg_sketch_setops"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "theta_intersection_agg" not in plan.lower()


def _df_avoiding_first_write_task(spark):
    """50 rows hash-routed to a single shuffle partition that is NOT
    partition 0, so the write emits an empty part-00000 alongside the
    data file (Murmur3 shuffle hashing is deterministic — the chosen
    literal is stable across runs, but probe instead of hardcoding)."""
    for x in range(16):
        df = (spark.range(0, 50)
              .withColumn("k", F.lit(x))
              .repartition(4, "k"))
        pid = df.select(F.spark_partition_id().alias("p")).head()["p"]
        if pid != 0:
            return df.drop("k")
    raise AssertionError("no literal hashed off partition 0")


def test_manifest_accounts_every_written_file(spark, tmp_path):
    from lakehouse_automation_spark.tableformat import ROWS_KEY, CowTable

    tbl = CowTable.create(spark, _df_avoiding_first_write_task(spark),
                          str(tmp_path / "t"), stats_cols=["id"])
    man = tbl.manifest()
    (chunk,) = man["chunks"]
    fstats = man["file_stats"][chunk]
    on_disk = sorted(
        os.path.relpath(p, os.path.join(tbl.path, chunk))
        for p in glob.glob(os.path.join(tbl.path, chunk, "*.parquet")))
    assert sorted(fstats) == on_disk, "a written file escaped the manifest"
    empties = [f for f, st in fstats.items() if st[ROWS_KEY] == 0]
    assert empties, "precondition: the write emitted a zero-row part file"
    # zero-row files are pruned exactly — never read back
    pruned = tbl.pruned_files("id", 0, 49)
    assert not any(p.endswith(e) for e in empties for p in pruned)
    assert tbl.read().count() == 50


def test_verify_detects_deleted_empty_part_file(spark, tmp_path):
    from lakehouse_automation_spark.tableformat import ROWS_KEY, CowTable

    tbl = CowTable.create(spark, _df_avoiding_first_write_task(spark),
                          str(tmp_path / "t"), stats_cols=["id"])
    man = tbl.manifest()
    (chunk,) = man["chunks"]
    fstats = man["file_stats"][chunk]
    victim = next(f for f, st in fstats.items() if st[ROWS_KEY] == 0)
    assert tbl.verify(deep=True)["ok"]
    os.unlink(os.path.join(tbl.path, chunk, victim))
    audit = tbl.verify(deep=False)
    assert not audit["ok"]
    assert any(p.endswith(victim) for p in audit["missing"])
