"""CowTable: atomic manifest log, COW rewrites, time travel, vacuum."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from lakehouse_automation_spark.tableformat import CowTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, seg string, val long")


@pytest.fixture
def tbl(spark, tmp_path):
    t = CowTable.create(
        spark,
        _df(spark, [(i, "a" if i % 2 == 0 else "b", i * 10)
                    for i in range(10)]),
        str(tmp_path / "t"),
    )
    return t


def test_create_append_snapshot(spark, tbl):
    assert tbl.version() == 0
    assert tbl.read().count() == 10
    tbl.append(_df(spark, [(100 + i, "c", i) for i in range(5)]))
    assert tbl.version() == 1
    assert tbl.read().count() == 15
    # snapshot isolation: v0 still reads the pre-append contents
    assert tbl.read(version=0).count() == 10


def test_merge_prunes_untouched_chunks(spark, tmp_path):
    t = CowTable.create(
        spark, _df(spark, [(i, "a", i) for i in range(0, 10)]),
        str(tmp_path / "t"))
    t.append(_df(spark, [(i, "b", i) for i in range(10, 20)]))
    t.append(_df(spark, [(i, "c", i) for i in range(20, 30)]))
    before = t.manifest()["chunks"]
    # updates hit only keys 10-12 — all inside the second chunk
    t.merge(_df(spark, [(10, "B", -1), (11, "B", -2), (12, "B", -3),
                        (99, "new", 0)]), "k")
    after = t.manifest()["chunks"]
    carried = set(before) & set(after)
    assert len(carried) == 2, "untouched chunks must carry over by name"
    assert before[1] not in after, "the touched chunk must be rewritten"
    got = {r["k"]: (r["seg"], r["val"])
           for r in t.read().filter(F.col("k").isin(10, 11, 12, 99)).collect()}
    assert got == {10: ("B", -1), 11: ("B", -2), 12: ("B", -3),
                   99: ("new", 0)}
    assert t.read().count() == 31


def test_delete_where_and_time_travel(spark, tbl):
    tbl.delete_where(F.col("seg") == "b")
    assert tbl.version() == 1
    assert tbl.read().count() == 5
    assert tbl.read().filter(F.col("seg") == "b").count() == 0
    assert tbl.read(version=0).count() == 10


def test_vacuum_reclaims_and_ends_time_travel(spark, tbl):
    tbl.append(_df(spark, [(100, "c", 0)]))
    tbl.compact(n_files=1)
    # default grace period protects just-written (possibly in-flight)
    # chunks from reclamation...
    assert tbl.vacuum(retain_versions=1) == (1, 0)
    # ...grace_s=0 reclaims them (single-writer test table)
    live, removed = tbl.vacuum(retain_versions=1, grace_s=0)
    assert (live, removed) == (1, 2)
    assert tbl.read().count() == 11
    with pytest.raises(FileNotFoundError):
        tbl.manifest(0)  # horizon passed: old manifest dropped
    # history() skips vacuumed manifests instead of crashing
    assert [m["version"] for m in tbl.history()] == [2]


def test_commit_skips_claimed_versions(spark, tbl):
    # another writer already published v1: our append must land at v2
    # without clobbering it
    foreign = {"version": 1, "op": "append", "chunks": tbl.manifest()["chunks"],
               "n_chunks": 1}
    with open(os.path.join(tbl._log_dir(), "v000000000001.json"), "w") as fh:
        json.dump(foreign, fh)
    v = tbl.append(_df(spark, [(200, "z", 0)]))
    assert v == 2
    assert json.load(open(os.path.join(
        tbl._log_dir(), "v000000000001.json"))) == foreign


def test_commit_retries_on_link_race(spark, tbl, monkeypatch):
    # simulate losing the create-if-absent race exactly once
    real_link = os.link
    state = {"failed": False}

    def flaky_link(src, dst):
        if not state["failed"]:
            state["failed"] = True
            raise FileExistsError(dst)
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", flaky_link)
    v = tbl.append(_df(spark, [(300, "z", 1)]))
    assert state["failed"] and v >= 1
    assert tbl.read().filter(F.col("k") == 300).count() == 1


def test_compact_sorted_clusters_key_ranges(spark, tmp_path):
    """compact(sort_by=...) must leave each file holding a disjoint,
    internally-sorted key range (the clustering that lets row-group
    min/max stats prune key predicates)."""
    import random

    rng = random.Random(7)
    ks = list(range(200))
    rng.shuffle(ks)
    t = CowTable.create(
        spark, _df(spark, [(k, "s", k) for k in ks]).repartition(8),
        str(tmp_path / "t"))
    t.compact(n_files=4, sort_by=["k"])
    rows = (t.read().withColumn("_f", F.input_file_name())
            .select("k", "_f").collect())
    by_file: dict = {}
    for r in rows:
        by_file.setdefault(r["_f"], []).append(r["k"])
    assert sorted(x for v in by_file.values() for x in v) == list(range(200))
    spans = sorted((min(v), max(v)) for v in by_file.values())
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2, "file key ranges must be disjoint"


def test_manifest_stats_prune_chunks(spark, tmp_path):
    """Chunks carry min/max stats for opted-in columns; a range scan
    must skip chunks whose stats exclude the predicate and keep
    stats-less chunks (pruning never loses rows)."""
    t = CowTable.create(
        spark, _df(spark, [(k, "a", k) for k in range(0, 100)]),
        str(tmp_path / "t"), stats_cols=["k"])
    t.append(_df(spark, [(k, "b", k) for k in range(100, 200)]))
    t.append(_df(spark, [(k, "c", k) for k in range(200, 300)]))
    assert len(t.manifest()["chunks"]) == 3
    assert len(t.pruned_chunks("k", 120, 180)) == 1
    got = sorted(r["k"] for r in t.scan("k", 120, 180).collect())
    assert got == list(range(120, 181))  # between is inclusive
    # reopening by path recovers the stats column set from the manifest
    t2 = CowTable(spark, str(tmp_path / "t"))
    assert t2.stats_cols == ["k"]
    assert len(t2.pruned_chunks("k", 250, 260)) == 1
    # a column with no recorded stats never prunes
    assert len(t2.pruned_chunks("val", 0, 1)) == 3
    assert len(t2.pruned_chunks("seg", "a", "a")) == 3
    # empty intersection -> zero chunks, empty result, schema intact
    assert t2.pruned_chunks("k", 1000, 2000) == []
    assert t2.scan("k", 1000, 2000).count() == 0


def test_concurrent_appends_all_land(spark, tbl):
    """Four writers appending concurrently: optimistic concurrency must
    land all four commits (data-path and manifest-path races resolve
    by retry), with no lost updates and no clobbered manifests."""
    from concurrent.futures import ThreadPoolExecutor

    def append(i):
        return tbl.append(_df(spark, [(1000 + i, "w", i)]))

    with ThreadPoolExecutor(max_workers=4) as ex:
        versions = sorted(ex.map(append, range(4)))
    assert versions == [1, 2, 3, 4]
    assert tbl.version() == 4
    assert tbl.read().filter(F.col("k") >= 1000).count() == 4
    assert tbl.read().count() == 14
    # every manifest is a strict superset of its parent's chunks
    hist = tbl.history()
    for a, b in zip(hist, hist[1:]):
        assert set(a["chunks"]) <= set(b["chunks"])


def test_snapshot_rewrite_aborts_on_lost_race(spark, tbl, monkeypatch):
    """merge/delete/compact must ABORT when the commit race is lost —
    blindly re-claiming the next version would silently drop the
    concurrent commit (lost update)."""
    from lakehouse_automation_spark.tableformat import ConcurrentWriteError

    monkeypatch.setattr(os, "link",
                        lambda s, d: (_ for _ in ()).throw(FileExistsError(d)))
    with pytest.raises(ConcurrentWriteError):
        tbl.compact(n_files=1)


def test_schema_evolution_read(spark, tbl):
    """An append may carry a new column; merge_schema=True surfaces it
    union-by-name with nulls for pre-evolution chunks (Delta's
    schema-evolution read), while the default read stays cheap."""
    evolved = spark.createDataFrame(
        [(500, "e", 1, "extra")], "k long, seg string, val long, note string")
    tbl.append(evolved)
    df = tbl.read(merge_schema=True)
    assert "note" in df.columns
    rows = {r["k"]: r["note"] for r in df.collect()}
    assert rows[500] == "extra"
    assert rows[0] is None  # pre-evolution chunk null-fills
    assert df.count() == 11


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    """SQL DELETE semantics: only cond IS TRUE rows go. A bare
    filter(~cond) rewrite would also drop rows where the predicate is
    NULL — and only in touched chunks, making the loss chunk-layout-
    dependent."""
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", None), (3, "a", 2)],
        "k long, seg string, val long")
    t = CowTable.create(spark, df, str(tmp_path / "t"))
    t.delete_where(F.col("val") > 5)
    got = sorted((r["k"], r["val"]) for r in t.read().collect())
    assert got == [(2, None), (3, 2)], "NULL-val row must survive"


def test_stats_prune_date_boundary(spark, tmp_path):
    """A datetime bound against DATE-granularity stats must keep the
    equal-date boundary chunk ('1997-06-01T00:00:00' vs '1997-06-01'
    compared raw would prune it and lose its midnight rows)."""
    import datetime as dt

    df = spark.createDataFrame(
        [(1, dt.date(1997, 5, 1)), (2, dt.date(1997, 6, 1))],
        "k long, d date")
    t = CowTable.create(spark, df, str(tmp_path / "t"), stats_cols=["d"])
    t.append(spark.createDataFrame([(3, dt.date(1998, 1, 1))],
                                   "k long, d date"))
    kept = t.pruned_chunks("d", dt.datetime(1997, 6, 1),
                           dt.datetime(1997, 12, 1))
    assert len(kept) == 1, "boundary chunk (max == lo's date) must stay"


def test_merge_aborts_when_commit_lands_mid_rewrite(spark, tbl, monkeypatch):
    """A commit landing DURING a merge's rewrite (not just in the
    version()/link window) must abort the merge — its chunk list was
    derived from the now-stale snapshot and publishing it would drop
    the concurrent commit."""
    from lakehouse_automation_spark import tableformat
    from lakehouse_automation_spark.tableformat import ConcurrentWriteError

    real_write = tableformat.CowTable._write_chunk
    fired = {"done": False}

    def write_and_race(self, df, tag):
        name = real_write(self, df, tag)
        if tag == "merge" and not fired["done"]:
            fired["done"] = True  # concurrent append lands mid-merge
            tbl.append(_df(spark, [(777, "race", 0)]))
        return name

    monkeypatch.setattr(tableformat.CowTable, "_write_chunk", write_and_race)
    with pytest.raises(ConcurrentWriteError):
        tbl.merge(_df(spark, [(0, "M", -1)]), "k")
    # the racing append survived; the aborted merge changed nothing
    assert tbl.read().filter(F.col("k") == 777).count() == 1
    assert tbl.read().filter(F.col("seg") == "M").count() == 0


def test_per_file_stats_prune_files(spark, tmp_path):
    """The manifest records per-FILE min/max inside each chunk; a
    range scan must admit individual files, fall back to the whole
    chunk dir when a chunk has no file stats, and never lose rows."""
    from pyspark.sql import functions as F

    # chunk of TWO files with disjoint k-bands. Built via RDD union:
    # Catalyst collapses a coalesce(1)-union-coalesce(1) to one
    # partition, and repartition(2, band) can hash both band ids into
    # the same partition; the RDD-level union always keeps 1+1
    # partitions.
    lo_band = _df(spark, [(k, "a", k) for k in range(0, 100)]).coalesce(1)
    hi_band = _df(spark, [(k, "a", k) for k in range(100, 200)]).coalesce(1)
    two_band = spark.createDataFrame(
        lo_band.rdd.union(hi_band.rdd), lo_band.schema)
    t = CowTable.create(spark, two_band, str(tmp_path / "t"),
                        stats_cols=["k"])
    t.append(_df(spark, [(k, "b", k) for k in range(200, 300)]).coalesce(1))
    man = t.manifest()
    assert sum(len(v) for v in man["file_stats"].values()) == 3
    # file level prunes INSIDE the surviving chunk
    kept = t.pruned_files("k", 10, 20)
    assert len(kept) == 1 and kept[0].endswith(".parquet")
    assert sorted(r["k"] for r in t.scan("k", 10, 20).collect()) \
        == list(range(10, 21))
    # range straddling both bands keeps both files of chunk 1 only
    assert len(t.pruned_files("k", 90, 110)) == 2
    # stats-less column: every file kept (no blind pruning)
    assert len(t.pruned_files("val", 0, 1)) == 3
    # a chunk without file stats degrades to its dir, keeping rows
    import json
    import os
    log = os.path.join(str(tmp_path / "t"), "_log")
    v = sorted(os.listdir(log))[-1]
    doc = json.load(open(os.path.join(log, v)))
    doc["file_stats"] = {}
    with open(os.path.join(log, v), "w") as fh:
        json.dump(doc, fh)
    kept = t.pruned_files("k", 10, 20)
    assert len(kept) == 1 and not kept[0].endswith(".parquet")
    assert t.scan("k", 10, 20).count() == 11


def test_changes_feed_between_snapshots(spark, tmp_path):
    """changes(v_from, v_to) must derive row-level CDC from the
    manifest diff: updates as delete+insert, pure inserts as insert,
    rewritten-but-identical rows cancelling out, and a carried chunk
    never contributing rows."""
    t = CowTable.create(
        spark, _df(spark, [(k, "a", k * 10) for k in range(0, 50)]),
        str(tmp_path / "t"))
    v1 = t.append(_df(spark, [(k, "b", k * 10) for k in range(50, 100)]))
    # merge: bump val for two keys of the second chunk + one new key
    t.merge(_df(spark, [(60, "b", 999), (70, "b", 888), (200, "c", 1)]),
            "k")
    ch = {(r["k"], r["val"], r["_change_type"])
          for r in t.changes(v1).collect()}
    assert ch == {
        (60, 999, "insert"), (70, 888, "insert"), (200, 1, "insert"),
        (60, 600, "delete"), (70, 700, "delete"),
    }
    # self-diff is empty; diff against v0 sees the appended+merged rows
    assert t.changes(t.version()).count() == 0
    assert t.changes(0).filter("_change_type = 'delete'").count() == 0


def test_changes_with_updates_pairs_images(spark, tmp_path):
    """The Delta-CDF row contract: delete+insert sharing the merge key
    pair into update_preimage/update_postimage; one-sided rows keep
    insert/delete; every row carries the publishing commit's version
    and timestamp."""
    t = CowTable.create(
        spark, _df(spark, [(k, "a", k * 10) for k in range(10)]),
        str(tmp_path / "t"))
    v0 = t.version()
    t.merge(_df(spark, [(3, "A", 999), (100, "new", 1)]), "k")
    v_del = t.delete_where(F.col("k") == 5)
    ch = {(r["k"], r["val"], r["_change_type"])
          for r in t.changes_with_updates("k", v0).collect()}
    assert ch == {
        (3, 30, "update_preimage"), (3, 999, "update_postimage"),
        (100, 1, "insert"), (5, 50, "delete"),
    }
    rows = t.changes_with_updates("k", v0).collect()
    assert all(r["_commit_version"] == v_del for r in rows)
    assert all(r["_commit_timestamp"] is not None for r in rows)


def test_changes_with_updates_multiset_keys(spark, tmp_path):
    """Several rows per key on one side: ALL of them classify as
    update images (pairing is by key, not row) — the CDF behavior for
    multi-row-per-key rewrites."""
    t = CowTable.create(
        spark, _df(spark, [(1, "a", 10), (1, "a", 11), (2, "b", 20)]),
        str(tmp_path / "t"))
    # compact rewrites everything; then delete k=1 rows entirely and
    # re-insert a single replacement via merge
    t.merge(_df(spark, [(1, "A", 99)]), "k")
    ch = sorted((r["k"], r["val"], r["_change_type"])
                for r in t.changes_with_updates("k", 0).collect())
    assert ch == [
        (1, 10, "update_preimage"), (1, 11, "update_preimage"),
        (1, 99, "update_postimage"),
    ]


def test_table_path_with_spaces(spark, tmp_path):
    """input_file_name() returns a percent-encoded URI; stats keying
    and merge touch-detection must decode it or every file of a table
    whose path needs encoding (spaces here) mismatches — scan() dies
    on a %20 path and merge() rewrites nothing."""
    t = CowTable.create(
        spark, _df(spark, [(k, "a", k) for k in range(0, 50)]),
        str(tmp_path / "dir with spaces" / "t"), stats_cols=["k"])
    # file stats recorded under decoded, chunk-relative keys
    fstats = t.manifest()["file_stats"]
    assert fstats and all(
        "%" not in f for files in fstats.values() for f in files)
    assert sorted(r["k"] for r in t.scan("k", 10, 20).collect()) \
        == list(range(10, 21))
    # merge touch-detection sees the encoded-path files too
    t.merge(_df(spark, [(10, "B", -1)]), "k")
    got = {r["k"]: r["val"] for r in t.read().collect()}
    assert got[10] == -1 and len(got) == 50


def test_changes_across_schema_evolution(spark, tmp_path):
    """A CDC diff spanning a schema-evolution boundary must surface
    the evolved column (null-filled on the pre-evolution side), not
    crash on column-count mismatch or silently drop it."""
    t = CowTable.create(
        spark, _df(spark, [(k, "a", k) for k in range(0, 10)]),
        str(tmp_path / "t"))
    t.append(_df(spark, [(k, "b", k) for k in range(10, 15)])
             .withColumn("extra", F.lit("new")))
    ch = t.changes(0).collect()
    assert {r["_change_type"] for r in ch} == {"insert"}
    assert sorted(r["k"] for r in ch) == list(range(10, 15))
    assert all(r["extra"] == "new" for r in ch)
    # and the reverse direction: the evolved chunk on the REMOVED side
    # (v0 carries the column, the post-merge rewrite nulls it out)
    t2 = CowTable.create(
        spark, _df(spark, [(1, "a", 1)]).withColumn("extra", F.lit("x")),
        str(tmp_path / "t2"))
    t2.merge(_df(spark, [(1, "a", 2)])
             .withColumn("extra", F.lit(None).cast("string")), "k")
    types = {(r["k"], r["_change_type"], r["extra"])
             for r in t2.changes(0).collect()}
    assert types == {(1, "delete", "x"), (1, "insert", None)}


# ------------------------------------------- constraints / verify / history

def test_constraints_block_and_preserve_tip(spark, tmp_path):
    import pytest

    from lakehouse_automation_spark.tableformat import (
        ConstraintViolationError, CowTable)

    tbl = CowTable.create(
        spark, spark.range(10).withColumn("v", F.col("id") * 2),
        str(tmp_path / "t"), constraints={"v_nonneg": "v >= 0"})
    tbl.append(spark.range(10, 20).withColumn("v", F.col("id")))
    v_before = tbl.version()
    with pytest.raises(ConstraintViolationError) as ei:
        tbl.append(spark.range(3).withColumn("v", F.lit(-1)))
    assert ei.value.violations == 3
    assert tbl.version() == v_before          # commit never happened
    assert tbl.read().count() == 20
    # constraints survive a reopen by path
    reopened = CowTable(spark, str(tmp_path / "t"))
    assert "v_nonneg" in reopened.constraints
    with pytest.raises(ConstraintViolationError):
        reopened.append(spark.range(1).withColumn("v", F.lit(-5)))


def test_constraints_null_passes_check_but_not_notnull(spark, tmp_path):
    import pytest

    from lakehouse_automation_spark.tableformat import (
        ConstraintViolationError, CowTable)

    df = spark.range(5).withColumn(
        "v", F.when(F.col("id") < 3, F.col("id")).otherwise(F.lit(None)))
    # SQL CHECK: NULL passes a plain predicate...
    CowTable.create(spark, df, str(tmp_path / "a"),
                    constraints={"v_pos": "v >= 0"})
    # ...but an explicit NOT NULL constraint rejects it
    with pytest.raises(ConstraintViolationError):
        CowTable.create(spark, df, str(tmp_path / "b"),
                        constraints={"v_nn": "v IS NOT NULL"})


def test_constraints_enforced_on_merge_and_carried_by_clone(spark, tmp_path):
    import pytest

    from lakehouse_automation_spark.tableformat import (
        ConstraintViolationError, CowTable)

    tbl = CowTable.create(
        spark, spark.range(10).withColumn("v", F.col("id")),
        str(tmp_path / "t"), constraints={"v_nonneg": "v >= 0"})
    with pytest.raises(ConstraintViolationError):
        tbl.merge(spark.range(2).withColumn("v", F.lit(-1)), "id")
    cl = tbl.clone(str(tmp_path / "cl"))
    assert cl.constraints == {"v_nonneg": "v >= 0"}
    with pytest.raises(ConstraintViolationError):
        cl.append(spark.range(1).withColumn("v", F.lit(-9)))


def test_verify_clean_and_detects_missing_and_truncated(spark, tmp_path):
    import glob
    import os

    from lakehouse_automation_spark.tableformat import CowTable

    tbl = CowTable.create(
        spark, spark.range(100).withColumn("v", F.col("id")),
        str(tmp_path / "t"))
    tbl.append(spark.range(100, 200).withColumn("v", F.col("id")))
    r = tbl.verify(deep=True)
    assert r["ok"] and not r["missing"] and not r["mismatched"]
    assert r["files_checked"] >= 2
    # missing file detected by the existence pass
    victim = sorted(glob.glob(str(tmp_path / "t" / "d*" / "*.parquet")))[0]
    os.unlink(victim)
    r2 = tbl.verify(deep=False)
    assert not r2["ok"] and len(r2["missing"]) == 1


def test_verify_detects_row_count_mismatch(spark, tmp_path):
    import glob
    import shutil

    from lakehouse_automation_spark.tableformat import CowTable

    # single-file chunks: the two data files then provably hold 50
    # and 10 rows, so the swap below guarantees a count mismatch
    tbl = CowTable.create(
        spark, spark.range(50).withColumn("v", F.col("id")).coalesce(1),
        str(tmp_path / "t"))
    tbl.append(spark.range(50, 60).withColumn("v", F.col("id")).coalesce(1))
    files = sorted(glob.glob(str(tmp_path / "t" / "d*" / "*.parquet")))
    # swap one data file for another (valid parquet, wrong contents) —
    # including the Hadoop .crc sidecar, so the filesystem checksum
    # passes and only the manifest row-count audit can notice
    import os
    a, b = files[0], files[-1]
    shutil.copyfile(b, a)
    crc = lambda p: os.path.join(  # noqa: E731
        os.path.dirname(p), f".{os.path.basename(p)}.crc")
    if os.path.exists(crc(b)):
        shutil.copyfile(crc(b), crc(a))
    r = tbl.verify(deep=True)
    assert not r["ok"] and a in r["mismatched"]


def test_history_ops_and_timestamps(spark, tmp_path):
    from lakehouse_automation_spark.tableformat import CowTable

    tbl = CowTable.create(
        spark, spark.range(10).withColumn("v", F.col("id")),
        str(tmp_path / "t"))
    tbl.append(spark.range(10, 20).withColumn("v", F.col("id")))
    tbl.compact()
    hist = tbl.history()
    assert [m["op"] for m in hist] == ["create", "append", "compact"]
    ts = [m["committed_at"] for m in hist]
    assert all(isinstance(x, float) for x in ts)
    assert ts == sorted(ts)


def test_rewrites_preserve_evolved_columns(spark, tmp_path):
    """compact/merge/delete after additive schema evolution must carry
    the evolved column: a plain multi-chunk read infers from one
    footer and could silently drop it — permanent loss once the
    rewrite replaces the chunks (review finding, round 5)."""
    from lakehouse_automation_spark.tableformat import CowTable

    def build(path):
        tbl = CowTable.create(
            spark, spark.range(10).withColumn("v", F.col("id")), path)
        tbl.append(spark.range(10, 20).withColumn("v", F.col("id"))
                   .withColumn("extra", F.lit("e")))
        return tbl

    c = build(str(tmp_path / "c"))
    c.compact()
    got = c.read(merge_schema=True)
    assert "extra" in got.columns
    assert got.filter(F.col("extra").isNotNull()).count() == 10

    m = build(str(tmp_path / "m"))
    m.merge(spark.range(5).withColumn("v", F.lit(99)), "id")
    gm = m.read(merge_schema=True)
    assert "extra" in gm.columns
    assert gm.filter(F.col("extra").isNotNull()).count() == 10

    d = build(str(tmp_path / "d"))
    d.delete_where(F.col("id") == 15)
    gd = d.read(merge_schema=True)
    assert "extra" in gd.columns
    assert gd.filter(F.col("extra").isNotNull()).count() == 9


def test_delta_export_of_clone_uses_absolute_uris(spark, tmp_path):
    """A shallow clone's source-owned chunks export as absolute
    file:// URIs, never '../'-relative paths that break when the
    clone directory moves."""
    import json
    import os

    from lakehouse_automation_spark.tableformat import CowTable

    src = CowTable.create(
        spark, spark.range(20).withColumn("v", F.col("id")),
        str(tmp_path / "src"))
    cl = src.clone(str(tmp_path / "cl"))
    cl.append(spark.range(20, 30).withColumn("v", F.col("id")))
    log_dir = cl.to_delta_manifest()
    paths = []
    for fn in sorted(os.listdir(log_dir)):
        if not fn.endswith(".json"):
            continue
        for line in open(os.path.join(log_dir, fn)):
            a = json.loads(line)
            if "add" in a:
                paths.append(a["add"]["path"])
    assert paths
    assert not any(p.startswith("..") for p in paths)
    src_paths = [p for p in paths if p.startswith("file://")]
    own_paths = [p for p in paths if not p.startswith("file://")]
    assert src_paths, "source-owned chunks must export as absolute URIs"
    assert own_paths, "clone-owned chunks must stay root-relative"


def test_stats_cols_rejects_reserved_rows_key(spark, tmp_path):
    """ROWS_KEY shares the per-file stats dict with column [min, max]
    entries; a stats column of the same name would overwrite its own
    entry and corrupt the chunk-stats fold / Delta export."""
    import pytest

    from lakehouse_automation_spark.tableformat import CowTable, ROWS_KEY

    with pytest.raises(ValueError, match="reserved"):
        CowTable(spark, str(tmp_path / "t"), stats_cols=[ROWS_KEY])
    with pytest.raises(ValueError, match="reserved"):
        CowTable.create(spark, spark.range(3), str(tmp_path / "t"),
                        stats_cols=["id", ROWS_KEY])


def test_constraints_all_checked_in_one_job(spark, tmp_path):
    """_enforce aggregates every constraint in a single Spark job and
    reports the FIRST violated constraint in definition order with its
    exact violation count."""
    import pytest

    from lakehouse_automation_spark.tableformat import (
        ConstraintViolationError, CowTable)

    tbl = CowTable.create(
        spark, spark.range(5).withColumn("v", F.col("id")),
        str(tmp_path / "t"),
        constraints={"v_nonneg": "v >= 0", "v_small": "v < 100"})
    bad = spark.range(4).withColumn(
        "v", F.when(F.col("id") < 3, F.lit(-1)).otherwise(F.lit(500)))
    with pytest.raises(ConstraintViolationError) as ei:
        tbl.append(bad)
    # both constraints are violated; the first-declared one is reported
    assert ei.value.constraint.startswith("v_nonneg")
    assert ei.value.violations == 3


def test_bloom_index_prunes_and_never_loses_rows(spark, tmp_path):
    """Per-file Bloom skipping on a range-clustered high-cardinality
    column: a present key reads a strict subset of files yet returns
    exactly the plain filter's rows; an absent key prunes everything;
    the index survives reopen-by-path and appends (new chunks get
    their own Blooms, carried chunks keep theirs)."""
    df = (spark.range(4000)
          .select(F.col("id").alias("k"),
                  (F.col("id") % 97).alias("grp"),
                  (F.col("id") * 2).alias("v")))
    tbl = CowTable.create(spark, df, str(tmp_path / "t"),
                          bloom_cols=["k"])
    tbl.compact(n_files=8, sort_by=["grp"])  # k scattered across files
    man = tbl.manifest()
    files_total = sum(len(v) for v in man["file_stats"].values())
    assert files_total >= 8
    kept = tbl.bloom_pruned_files("k", 1234)
    assert 0 < len(kept) < files_total
    got = {tuple(r) for r in tbl.point_scan("k", 1234).collect()}
    want = {tuple(r) for r in tbl.read().filter(F.col("k") == 1234).collect()}
    assert got == want and len(got) == 1
    assert tbl.bloom_pruned_files("k", 10**9) == []  # definite no
    # reopen by path: bloom_cols recovered from the manifest
    reopened = CowTable(spark, str(tmp_path / "t"))
    assert reopened.bloom_cols == ["k"]
    # append: the new chunk is bloom-indexed too
    reopened.append(spark.range(4000, 4100).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("grp"),
        (F.col("id") * 2).alias("v")))
    assert reopened.point_scan("k", 4050).count() == 1
    assert reopened.point_scan("k", 1234).count() == 1  # old chunk kept


def test_bloom_index_carried_by_clone(spark, tmp_path):
    src = CowTable.create(
        spark, spark.range(1000).select(F.col("id").alias("k")),
        str(tmp_path / "src"), bloom_cols=["k"])
    cl = src.clone(str(tmp_path / "cl"))
    assert cl.bloom_cols == ["k"]
    assert cl.point_scan("k", 123).count() == 1
    assert cl.bloom_pruned_files("k", 10**9) == []


def test_bloom_probe_respects_per_file_dtype(spark, tmp_path):
    """xxhash64 hashes by Catalyst type: a table whose bloom column
    evolved int -> bigint records different dtypes per file, and the
    probe must compute positions PER dtype — a cache keyed by (m, k)
    alone pruned live files here (silent row loss, review r6)."""
    big = spark.range(1000).select(F.col("id").cast("long").alias("k"))
    small = (spark.range(1000, 2000)
             .select(F.col("id").cast("int").alias("k")))
    tbl = CowTable.create(spark, big, str(tmp_path / "t"),
                          bloom_cols=["k"])
    tbl.append(small)
    # values living in the bigint chunk AND in the int chunk must both
    # be found through the bloom-pruned path
    assert tbl.point_scan("k", 700).count() == 1
    assert tbl.point_scan("k", 1700).count() == 1
    assert tbl.bloom_pruned_files("k", 10**9) == []


def test_temporal_prune_gated_on_column_dtype(spark, tmp_path):
    """A TIMESTAMP stats column probed with ISO-STRING bounds must
    still get the date-padding comparison: gating on the bound's
    Python type reverted to raw string order, where the day-probe hi
    '1997-06-01' sorts BELOW the chunk min '1997-06-01T00:00:00' and
    the chunk holding that day's rows is silently pruned (review r7).
    The manifest now records the writer's dtype per stats column."""
    import datetime as dt
    df = spark.createDataFrame(
        [(dt.datetime(1997, 6, 1, 0, 0),),
         (dt.datetime(1997, 6, 1, 12, 0),)], "ts timestamp")
    tbl = CowTable.create(spark, df.coalesce(1), str(tmp_path / "t"),
                          stats_cols=["ts"])
    # chunk-level: the string day-probe must keep the chunk
    assert tbl.pruned_chunks("ts", "1997-06-01", "1997-06-01") \
        == tbl.manifest()["chunks"]
    assert len(tbl.pruned_files("ts", "1997-06-01", "1997-06-01")) == 1
    # end-to-end: the midnight row comes back (Spark casts the string
    # bounds to timestamp in the residual BETWEEN)
    assert tbl.scan("ts", "1997-06-01", "1997-06-01").count() == 1
    # and a genuinely disjoint string probe still prunes
    assert tbl.pruned_chunks("ts", "1998-01-01", "1998-12-31") == []


def test_pruned_read_spans_schema_evolved_chunks(spark, tmp_path):
    """When pruning keeps files from BOTH sides of an int -> bigint
    boundary in one read (overlapping key ranges, so every Bloom and
    every [min, max] admits the probe), a plain multi-path read is
    footer-order dependent and mergeSchema throws 42KD9 (review r7).
    The schema-grouped union must return exact rows for both sides."""
    big = spark.range(1000).select(
        F.col("id").cast("long").alias("k"), F.lit("big").alias("src"))
    small = (spark.range(500, 1500)
             .select(F.col("id").cast("int").alias("k"),
                     F.lit("small").alias("src")))
    tbl = CowTable.create(spark, big.coalesce(1), str(tmp_path / "t"),
                          bloom_cols=["k"], stats_cols=["k"])
    tbl.append(small.coalesce(1))
    # k=700 lives in both chunks: both files' Blooms admit it, so the
    # point read MUST mix an int file and a bigint file
    assert len(tbl.bloom_pruned_files("k", 700)) == 2
    got = {(r.k, r.src) for r in tbl.point_scan("k", 700).collect()}
    assert got == {(700, "big"), (700, "small")}
    assert tbl.point_scan("k", 700).schema["k"].dataType.typeName() \
        == "long"
    # range scan across the boundary: same mixed-read shape
    rows = tbl.scan("k", 600, 610).collect()
    assert sorted(r.k for r in rows) == sorted(
        list(range(600, 611)) * 2)
    # the single-schema fast path stays a single multi-path read
    one = CowTable.create(spark, big.coalesce(4), str(tmp_path / "u"),
                          stats_cols=["k"])
    plan = one.scan("k", 0, 999)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "Union" not in plan


def test_pruned_read_uses_manifest_schema_fingerprint(spark, tmp_path, monkeypatch):
    """The writer records each chunk's footer-schema fingerprint in
    the manifest (SCHEMA_KEY), so a FRESH table handle's pruned scan
    must group chunks with zero parquet-footer reads (review r7:
    per-chunk driver I/O on many-chunk tables). Footer reads remain
    only for manifests predating the key — simulated by stripping it."""
    from lakehouse_automation_spark.tableformat import SCHEMA_KEY

    df = spark.range(100).select(F.col("id").alias("k"))
    tbl = CowTable.create(spark, df.coalesce(1), str(tmp_path / "t"),
                          stats_cols=["k"])
    tbl.append(spark.range(100, 200).select(F.col("id").alias("k"))
               .coalesce(1))
    assert all(SCHEMA_KEY in s
               for s in tbl.manifest()["stats"].values())

    fresh = CowTable(spark, str(tmp_path / "t"))
    monkeypatch.setattr(
        CowTable, "_dir_footer_schema",
        staticmethod(lambda d: (_ for _ in ()).throw(
            AssertionError("footer read on a SCHEMA_KEY manifest"))))
    assert fresh.scan("k", 50, 150).count() == 101

    # pre-SCHEMA_KEY manifest: the footer fallback engages
    monkeypatch.undo()
    man_dir = str(tmp_path / "t" / "_log")
    import json as _json
    import os as _os
    vfile = sorted(_os.listdir(man_dir))[-1]
    man = _json.load(open(_os.path.join(man_dir, vfile)))
    for s in man["stats"].values():
        s.pop(SCHEMA_KEY, None)
    _json.dump(man, open(_os.path.join(man_dir, vfile), "w"))
    legacy = CowTable(spark, str(tmp_path / "t"))
    assert legacy.scan("k", 50, 150).count() == 101


def test_vacuum_tolerates_prior_deeper_horizon(spark, tmp_path):
    """vacuum(retain=3) after an earlier vacuum(retain=1) must skip
    the already-dropped manifests instead of crashing (review r6):
    the kept-version range can reach behind the previous horizon."""
    tbl = CowTable.create(spark, spark.range(5), str(tmp_path / "t"))
    for i in range(3):
        tbl.append(spark.range(5 * (i + 1), 5 * (i + 2)))
    tbl.vacuum(retain_versions=1, grace_s=0.0)
    live, removed = tbl.vacuum(retain_versions=3, grace_s=0.0)
    assert live > 0
    assert tbl.read().count() == 20


def test_string_column_stats_prune_raw_order(spark, tmp_path):
    """A STRING column whose values look like dates must prune in raw
    string order: the date-padding heuristic applied to it falsely
    pruned files whose max was '2024-01-15 10:00:00' (space < 'T')
    for a lo bound of '2024-01-15' (review r6, silent row loss)."""
    df = spark.createDataFrame(
        [("2024-01-15",), ("2024-01-15 10:00:00",)], "s string")
    tbl = CowTable.create(spark, df.coalesce(1), str(tmp_path / "t"),
                          stats_cols=["s"])
    got = tbl.scan("s", "2024-01-15", "2024-01-15 10:00:00").count()
    assert got == 2  # raw-string BETWEEN keeps both rows
    # and a real DATE column still gets the temporal padding
    import datetime as dt
    dd = spark.createDataFrame([(dt.date(2024, 1, 15),)], "d date")
    t2 = CowTable.create(spark, dd.coalesce(1), str(tmp_path / "t2"),
                         stats_cols=["d"])
    assert t2.scan("d", dt.datetime(2024, 1, 15),
                   dt.datetime(2024, 1, 16)).count() == 1


def test_changes_noop_update_produces_no_pair(spark, tmp_path):
    """A MERGE that leaves a row bit-identical (NULL + delta = NULL,
    Inf + delta = Inf, or a delta absorbed by float magnitude) must
    produce NO delete+insert pair — the rewritten-but-identical row
    cancels in the manifest diff's exceptAll. This is the CDC contract
    the sf0.01 extremes sweep enforced on the tf_cdc_* oracles
    (round 10): the oracle's IS DISTINCT FROM guard mirrors exactly
    this behavior."""
    import math

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", None), (3, "a", math.inf),
         (4, "a", 1e300)],
        "k long, seg string, bal double")
    t = CowTable.create(spark, df, str(tmp_path / "t"))
    v0 = t.version()
    t.merge(
        df.withColumn("bal", F.col("bal") + 1000.0), "k")
    ch = [(r["k"], r["_change_type"]) for r in t.changes(v0).collect()]
    # only k=1 actually changes (10 -> 1010); NULL stays NULL, Inf
    # stays Inf, 1e300+1000 is absorbed to 1e300
    assert sorted(ch) == [(1, "delete"), (1, "insert")], ch


def test_changes_with_updates_noop_update_produces_no_images(spark, tmp_path):
    import math

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", math.inf)],
        "k long, seg string, bal double")
    t = CowTable.create(spark, df, str(tmp_path / "t"))
    v0 = t.version()
    t.merge(df.withColumn("bal", F.col("bal") + 1000.0), "k")
    ch = [(r["k"], r["_change_type"])
          for r in t.changes_with_updates("k", v0).collect()]
    assert sorted(ch) == [(1, "update_postimage"), (1, "update_preimage")], ch


def test_commit_retries_on_conditional_put_conflict(spark, tbl, monkeypatch):
    """Object-store commit path (VERDICT r10 ask #5): a conditional
    PUT losing the If-None-Match race (the 412 Precondition Failed)
    drives the SAME optimistic-retry loop as the POSIX os.link race —
    the append reconciles against the rival writer's manifest and
    lands at the next version, dropping nothing."""
    from lakehouse_automation_spark.operators.pathio import LocalPathIO

    base_chunks = tbl.manifest()["chunks"]
    state = {"conflicts": 0}

    class ConditionalPutIO(LocalPathIO):
        """If-None-Match mock: the first publish attempt loses to a
        simulated rival append that claims the version first (its
        manifest really lands, exactly as a winning PUT would), so the
        mocked PUT returns False — then behaves like the store."""

        def publish_if_absent(self, dst, data):
            if state["conflicts"] == 0:
                state["conflicts"] = 1
                doc = json.loads(data)
                rival = {"version": doc["version"], "op": "append",
                         "chunks": list(base_chunks),
                         "n_chunks": len(base_chunks)}
                assert super().publish_if_absent(
                    dst, json.dumps(rival).encode())
                # our PUT now hits the rival's object: 412 -> False
                return super().publish_if_absent(dst, data)
            return super().publish_if_absent(dst, data)

    monkeypatch.setattr(CowTable, "_log_io",
                        lambda self: ConditionalPutIO())
    v = tbl.append(_df(spark, [(300, "z", 1)]))
    assert state["conflicts"] == 1
    assert v == 2, "v1 went to the rival; the retry must land at v2"
    assert tbl.read().filter(F.col("k") == 300).count() == 1
    assert tbl.read().count() == 11, "rival's chunk list must be honored"
    # both manifests exist: the rival's v1 and our reconciled v2
    assert json.load(open(os.path.join(
        tbl._log_dir(), "v000000000001.json")))["op"] == "append"
    assert json.load(open(os.path.join(
        tbl._log_dir(), "v000000000002.json")))["op"] == "append"


def test_unparseable_tip_manifest_treated_as_uncommitted(spark, tbl):
    """Reader-side guard (ADVICE r11): a manifest file that exists but
    does not parse is NOT a committed version — litter from a crashed
    pre-protocol writer or external corruption. Readers step back to
    the newest parseable snapshot; a writer hitting the blocker gets a
    loud ConcurrentWriteError instead of an infinite publish-retry
    loop (publish_if_absent would return False for that version
    forever)."""
    from lakehouse_automation_spark.tableformat import ConcurrentWriteError

    v = tbl.version()
    garbage = os.path.join(tbl._log_dir(), f"v{v + 1:012d}.json")
    with open(garbage, "w") as fh:
        fh.write('{"version": ')  # truncated mid-write
    t2 = CowTable(spark, tbl.path)  # fresh handle, no parse cache
    assert t2.version() == v, "unparseable tip must be skipped"
    assert t2.read().count() == 10
    assert [m["version"] for m in t2.history()] == [v]
    with pytest.raises(ConcurrentWriteError, match="unparseable"):
        t2.append(_df(spark, [(500, "z", 1)]))
    os.unlink(garbage)
    assert t2.append(_df(spark, [(501, "z", 1)])) == v + 1
    assert t2.read().count() == 11


def test_cowtable_rejects_remote_scheme_accepts_file_uri(spark, tmp_path):
    """CowTable's manifest reads are os-local (ADVICE r11): a remote
    table URI could publish through HadoopPathIO yet never read its
    own log back — refuse it loudly at construction. file: URIs (incl.
    percent-encoded) resolve like the maintenance PathIO does."""
    with pytest.raises(NotImplementedError, match="local table paths"):
        CowTable(spark, "s3a://bucket/tbl")
    t = CowTable.create(spark, _df(spark, [(1, "a", 1)]),
                        f"file://{tmp_path}/t")
    assert t.path == str(tmp_path / "t")
    assert t.read().count() == 1


def test_publish_if_absent_multiprocess_exactly_one_winner(tmp_path):
    """VERDICT r11 ask #6: N real OS processes racing os.link on the
    same manifest version — exactly one True per version, every
    published file is complete (parseable, names its winner), losers
    observe False. The single-process mock argued this; this test
    demonstrates it."""
    import multiprocessing as mp

    from lakehouse_automation_spark.operators.pathio import LocalPathIO

    ctx = mp.get_context("fork")
    log = tmp_path / "t" / "_log"
    n_workers, n_versions = 6, 5
    results = ctx.Queue()
    barrier = ctx.Barrier(n_workers)

    def worker(wid):
        io = LocalPathIO()
        wins = []
        for v in range(n_versions):
            barrier.wait()  # all workers attempt each version together
            if io.publish_if_absent(
                    str(log / f"v{v}.json"),
                    json.dumps({"version": v, "writer": wid}).encode()):
                wins.append(v)
        results.put((wid, wins))

    procs = [ctx.Process(target=worker, args=(i,))
             for i in range(n_workers)]
    for p in procs:
        p.start()
    got = [results.get(timeout=60) for _ in range(n_workers)]
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0
    winners = {}  # version -> [writer ids that won]
    for wid, wins in got:
        for v in wins:
            winners.setdefault(v, []).append(wid)
    assert sorted(winners) == list(range(n_versions))
    for v, wids in winners.items():
        assert len(wids) == 1, f"version {v} had {len(wids)} winners"
        doc = json.load(open(log / f"v{v}.json"))  # complete + parseable
        assert doc == {"version": v, "writer": wids[0]}
    # no staging litter survives the stampede
    assert [f for f in os.listdir(log) if f.startswith(".tmp")] == []


def test_commit_retry_loop_multiprocess_all_appends_land(tmp_path):
    """VERDICT r11 ask #6, commit-loop tier: N processes each drive 3
    append-style commits through CowTable's publish primitive with the
    real reconcile-and-retry loop (re-read tip, extend its chunk list,
    claim tip+1). Every commit lands at a distinct version and the
    final tip's chunk list contains every worker's chunks — no lost
    update. Driver-side only (the data path is not under test), so no
    SparkSession is needed in the children."""
    import multiprocessing as mp

    from lakehouse_automation_spark.operators.pathio import LocalPathIO

    ctx = mp.get_context("fork")
    path = tmp_path / "t"
    io = LocalPathIO()
    # seed v0 the way create() would (local path -> no spark needed)
    assert io.publish_if_absent(
        str(path / "_log" / f"v{0:012d}.json"),
        json.dumps({"version": 0, "op": "create", "chunks": [],
                    "stats": {}, "file_stats": {}, "stats_cols": [],
                    "bloom_cols": [], "constraints": {}}).encode())
    n_workers, n_commits = 5, 3
    results = ctx.Queue()
    start = ctx.Barrier(n_workers)

    def worker(wid):
        t = CowTable.__new__(CowTable)  # driver-side handle, no spark
        t.spark = None
        t.path = str(path)
        t._chunk_schema_cache = {}
        t._parse_ok = set()
        landed = []
        start.wait()
        for i in range(n_commits):
            while True:
                man = t.manifest()  # tip: version + chunks, ONE read
                if t._try_commit(man["version"] + 1,
                                 man["chunks"] + [f"c-{wid}-{i}"],
                                 "append", stats={}, file_stats={}):
                    landed.append(man["version"] + 1)
                    break
        results.put((wid, landed))

    procs = [ctx.Process(target=worker, args=(i,))
             for i in range(n_workers)]
    for p in procs:
        p.start()
    got = [results.get(timeout=120) for _ in range(n_workers)]
    for p in procs:
        p.join(timeout=120)
        assert p.exitcode == 0
    all_versions = sorted(v for _, landed in got for v in landed)
    assert all_versions == list(range(1, n_workers * n_commits + 1)), \
        "every commit must land at a distinct consecutive version"
    tip = CowTable.__new__(CowTable)
    tip.spark, tip.path = None, str(path)
    tip._chunk_schema_cache, tip._parse_ok = {}, set()
    final = tip.manifest()
    expect = {f"c-{w}-{i}"
              for w in range(n_workers) for i in range(n_commits)}
    assert set(final["chunks"]) == expect, "lost update: chunks missing"


def test_log_roundtrips_through_hadoop_backend(spark, tmp_path):
    """VERDICT r12 ask #7: the manifest log must publish AND read
    through one PathIO backend. Drive a full table lifecycle —
    create, append, compact, time travel, history, vacuum — with the
    log pinned to a REAL HadoopPathIO (the Hadoop FileSystem API on a
    file: URI, the same code path hdfs/s3a resolve to), wrapped in a
    counting proxy so a silently os-routed read shows up as a zero
    counter. The data plane stays os-local by contract
    (CowTable.__init__ refuses remote table URIs; this pins that the
    LOG layer no longer shares that constraint)."""
    from lakehouse_automation_spark.operators.pathio import HadoopPathIO

    class CountingIO:
        def __init__(self, inner):
            self._inner = inner
            self.calls: dict[str, int] = {}

        def __getattr__(self, name):
            attr = getattr(self._inner, name)
            if not callable(attr):
                return attr

            def wrapped(*a, **kw):
                self.calls[name] = self.calls.get(name, 0) + 1
                return attr(*a, **kw)
            return wrapped

    io = CountingIO(HadoopPathIO(spark))
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    tbl = CowTable.create(spark, df, str(tmp_path / "t"),
                          stats_cols=["k"], log_io=io)
    tbl.append(spark.range(100, 150).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")))
    v_before_compact = tbl.version()
    tbl.compact(n_files=2)
    assert tbl.read().count() == 150
    # time travel + history read OLD manifests through the backend
    assert tbl.read(version=v_before_compact).count() == 150
    assert [m["op"] for m in tbl.history()] == [
        "create", "append", "compact"]
    # vacuum lists/ages/reclaims through the backend
    live, removed = tbl.vacuum(retain_versions=1, grace_s=0)
    assert live == 1 and removed == 2
    assert tbl.read().count() == 150
    # the backend really carried the log: publishes AND reads
    assert io.calls.get("publish_if_absent", 0) >= 3, io.calls
    assert io.calls.get("read_bytes", 0) >= 4, io.calls
    assert io.calls.get("listdir", 0) >= 4, io.calls
    assert io.calls.get("getmtime", 0) >= 1, io.calls
    # a fresh handle with NO override (scheme-dispatched LocalPathIO)
    # reads the same log — the two backends interoperate on disk
    reopened = CowTable(spark, str(tmp_path / "t"))
    assert reopened.version() == tbl.version()
    assert reopened.read().count() == 150


def test_log_seam_no_python_os_call_touches_log_dir(
        spark, tmp_path, monkeypatch):
    """VERDICT r14 ask #5: end-to-end proof that with the log pinned
    to a non-local backend (HadoopPathIO on the LocalFileSystem — the
    exact code path hdfs/s3a resolve to), NO Python-side os/open call
    ever touches the log directory. The counting-proxy test above
    proves the backend carried log traffic; this one proves nothing
    ELSE did — tripwires on builtins.open and the os entry points
    (stat covers getmtime/exists/isdir; listdir/scandir cover
    enumeration; link/rename/remove cover the POSIX publish protocol)
    raise on any log-dir path while the full lifecycle runs: create,
    append, time travel, history, changes_with_updates — including
    the CDC commit-timestamp mtime FALLBACK (fb54f9f, the last log
    read that was os-routed), forced here by republishing the tip
    manifest without committed_at through the backend itself."""
    import builtins

    from lakehouse_automation_spark.operators.pathio import HadoopPathIO
    from lakehouse_automation_spark.tableformat import _vname

    io = HadoopPathIO(spark)
    df = spark.range(60).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("v"))
    tbl = CowTable.create(spark, df, str(tmp_path / "t"),
                          stats_cols=["k"], log_io=io)
    log_dir = os.path.realpath(tbl._log_dir())

    def _guard(fn, name):
        def wrapped(p, *a, **kw):
            if isinstance(p, (str, bytes, os.PathLike)):
                s = os.fspath(p)
                if isinstance(s, bytes):
                    s = s.decode(errors="replace")
                # realpath WITHOUT the wrapped stat (avoid recursion):
                # normpath+abspath is enough — the log dir is not
                # reached through symlinks in this layout
                if os.path.normpath(os.path.abspath(s)).startswith(
                        log_dir):
                    raise AssertionError(
                        f"os-routed log access: {name}({s!r})")
            return fn(p, *a, **kw)
        return wrapped

    # everything LocalPathIO (or a bare os.* regression) would use to
    # read or publish the log; the data plane (outside log_dir) passes
    # through untouched
    monkeypatch.setattr(builtins, "open", _guard(builtins.open, "open"))
    for mod, name in ((os, "stat"), (os, "lstat"), (os, "listdir"),
                      (os, "scandir"), (os, "link"), (os, "rename"),
                      (os, "replace"), (os, "remove"), (os, "unlink"),
                      (os, "makedirs"), (os, "mkdir")):
        monkeypatch.setattr(mod, name, _guard(getattr(mod, name), name))

    tbl.append(spark.range(60, 90).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("v")))
    assert tbl.version() == 1
    assert tbl.read().count() == 90
    assert tbl.read(version=0).count() == 60
    assert [m["op"] for m in tbl.history()] == ["create", "append"]

    # force the CDC mtime fallback: republish v1 WITHOUT committed_at,
    # through the backend (unlink + publish_if_absent), so the
    # _commit_timestamp must come from io.getmtime — the one log read
    # fb54f9f moved off os.path.getmtime
    tip_path = io.join(tbl._log_dir(), _vname(1))
    doc = json.loads(io.read_bytes(tip_path).decode())
    assert doc.pop("committed_at", None) is not None
    io.unlink(tip_path)
    assert io.publish_if_absent(tip_path, json.dumps(doc).encode())
    cdc = tbl.changes_with_updates("k", v_from=0, v_to=1)
    rows = cdc.select("_change_type", "_commit_timestamp").collect()
    assert len(rows) == 30
    assert {r["_change_type"] for r in rows} == {"insert"}
    assert all(r["_commit_timestamp"] is not None for r in rows)


# ------------------------------------- footer-derived commit metadata

def _jobs(spark, fn):
    """(exact Spark job count, result) of ``fn()`` under its own job
    group."""
    import uuid

    sc = spark.sparkContext
    group = f"tf_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count pin", False)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "", False)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _outcome(fn):
    """Rows of ``fn()`` as a sorted list, or the error class it
    raised — what "reads exactly as today" compares."""
    try:
        return sorted(map(tuple, fn().collect()))
    except Exception as e:  # noqa: BLE001
        return type(e).__name__


def test_read_schema_equals_inferred_schema(spark, tmp_path):
    """read() passes the manifest-recorded schema instead of inferring
    one, so it must be exactly the schema a plain parquet read of the
    same chunks infers — nullability, nested fields and temporal,
    decimal and NTZ types included."""
    import datetime as dt
    import decimal

    from lakehouse_automation_spark.pipelines.datagen import generate_survey
    from lakehouse_automation_spark.tableformat import (
        SCHEMA_KEY, _fingerprint_schema)

    survey = CowTable.create(spark, generate_survey(spark, 300, seed=4),
                             str(tmp_path / "s"))
    survey.append(generate_survey(spark, 50, seed=5))

    typed = spark.createDataFrame(
        [(1, dt.date(2024, 1, 2), dt.datetime(2024, 1, 2, 3, 4, 5),
          decimal.Decimal("12.25"), (7, "x"), [1, None], {"a": 1})],
        "k int not null, d date, ts timestamp, amt decimal(12,2), "
        "s struct<x: int not null, y: string>, arr array<int>, "
        "m map<string, int>",
    ).withColumn("ntz", F.lit(dt.datetime(2024, 5, 6, 7, 8))
                 .cast("timestamp_ntz"))
    wide = CowTable.create(spark, typed, str(tmp_path / "w"),
                           stats_cols=["d", "ts"])
    wide.merge(typed.withColumn("amt", F.lit(decimal.Decimal("1.50"))
                                .cast("decimal(12,2)")), "k")
    for tbl in (survey, wide):
        inferred = spark.read.parquet(*tbl.chunk_paths()).schema
        assert tbl.read().schema == inferred
        assert tbl.read(merge_schema=True).schema == inferred
        # the manifest entry itself is that schema
        for s in tbl.manifest()["stats"].values():
            assert _fingerprint_schema(s[SCHEMA_KEY]) == inferred
    got = wide.read().collect()
    assert [(r.k, r.amt, r.s.x, r.ntz) for r in got] == [
        (1, decimal.Decimal("1.50"), 7, dt.datetime(2024, 5, 6, 7, 8))]


def test_evolved_tables_read_as_before(spark, tmp_path):
    """Chunks recording DIFFERENT schemas keep the inference and
    mergeSchema path: an additive evolution and an int -> bigint
    append read, rewrite and prune-scan exactly as a plain parquet
    read of the same chunks does."""
    def additive(p):
        t = CowTable.create(
            spark, spark.range(10).select(F.col("id").alias("k"),
                                          F.col("id").alias("v")),
            p, stats_cols=["k"])
        t.append(spark.range(10, 20).select(
            F.col("id").alias("k"), F.col("id").alias("v"),
            F.lit("e").alias("extra")))
        return t

    def widened(p):
        t = CowTable.create(
            spark, spark.range(10).select(F.col("id").cast("int")
                                          .alias("k"),
                                          F.lit("s").alias("v")),
            p, stats_cols=["k"])
        t.append(spark.range(5, 20).select(F.col("id").alias("k"),
                                           F.lit("b").alias("v")))
        return t

    for build in (additive, widened):
        tbl = build(str(tmp_path / build.__name__))
        paths = tbl.chunk_paths()
        merged = spark.read.option("mergeSchema", "true")
        assert _outcome(tbl.read) == _outcome(
            lambda: spark.read.parquet(*paths))
        assert _outcome(lambda: tbl.read(merge_schema=True)) == \
            _outcome(lambda: merged.parquet(*paths))
        # k in [3, 12]: 7 + 3 rows additive, 7 + 8 rows widened
        got = (tbl._read_pruned(tbl.pruned_files("k", 3, 12))
               .filter(F.col("k").between(3, 12)))
        assert got.count() == (15 if build is widened else 10)
        assert got.schema["k"].dataType.typeName() == "long"

    # additive: the rewrite carries the evolved column
    a = additive(str(tmp_path / "a2"))
    a.merge(spark.range(3).select(F.col("id").alias("k"),
                                  F.lit(99).cast("long").alias("v")), "k")
    rows = {r.k: (r.v, r.extra) for r in a.read(merge_schema=True)
            .collect()}
    assert len(rows) == 20 and rows[0] == (99, None) \
        and rows[15] == (15, "e")
    # int -> bigint: mergeSchema cannot reconcile INT and BIGINT, so
    # the rewrite fails as it always has, and the tip does not move
    w = widened(str(tmp_path / "w2"))
    with pytest.raises(Exception) as err:
        w.merge(spark.range(3).select(F.col("id").alias("k"),
                                      F.lit("u").alias("v")), "k")
    assert type(err.value).__name__ == _outcome(
        lambda: spark.read.option("mergeSchema", "true")
        .parquet(*w.chunk_paths()))
    assert w.version() == 1


def test_legacy_pyarrow_schema_fingerprint_still_reads(spark, tmp_path):
    """Manifests written before SCHEMA_KEY held a Spark schema carry
    pyarrow's schema text there: reads and rewrites of those chunks
    must fall back to inference (the text is not a Spark schema)."""
    import pyarrow.parquet as pq

    from lakehouse_automation_spark.tableformat import SCHEMA_KEY, _vname

    tbl = CowTable.create(spark, _df(spark, [(1, "a", 10), (2, "b", 20)]),
                          str(tmp_path / "t"), stats_cols=["k"])
    vfile = os.path.join(tbl._log_dir(), _vname(0))
    man = json.load(open(vfile))
    for c, s in man["stats"].items():
        first = sorted(f for f in os.listdir(os.path.join(tbl.path, c))
                       if f.endswith(".parquet"))[0]
        s[SCHEMA_KEY] = pq.read_schema(
            os.path.join(tbl.path, c, first)).to_string()
    json.dump(man, open(vfile, "w"))
    legacy = CowTable(spark, str(tmp_path / "t"))
    assert sorted(r.k for r in legacy.read().collect()) == [1, 2]
    assert legacy.scan("k", 2, 2).count() == 1
    legacy.merge(_df(spark, [(2, "b", 21), (3, "c", 30)]), "k")
    assert sorted((r.k, r.val) for r in legacy.read().collect()) == [
        (1, 10), (2, 21), (3, 30)]


def test_refresh_ops_run_only_data_moving_jobs(spark, tmp_path):
    """Commit metadata comes from the written footers and snapshot
    reads pass the recorded schema, so each op runs only the jobs
    that move data (Spark 4.1, AQE on): create = the write; merge =
    touched-chunk detection (2) + the rewrite (3); compact = the
    rewrite (2); read().collect() = the scan. A schema-inference,
    mergeSchema or row-count job creeping back breaks these pins."""
    def batch(lo, hi):
        return spark.range(lo, hi).select(F.col("id").alias("k"),
                                          (F.col("id") % 7).alias("v"))

    path = str(tmp_path / "t")
    n, tbl = _jobs(spark, lambda: CowTable.create(spark, batch(0, 100),
                                                  path))
    assert n == 1
    assert _jobs(spark, lambda: tbl.merge(batch(50, 150), "k"))[0] == 5
    assert _jobs(spark, tbl.compact)[0] == 2
    n, rows = _jobs(spark, lambda: tbl.read().collect())
    assert n == 1 and len(rows) == 150
    assert tbl.verify()["ok"]


def test_footer_row_counts_include_empty_part_files(spark, tmp_path):
    """Per-file row counts come from the footers, so the zero-row part
    files Spark's writer emits are recorded with 0 rows, and every
    recorded count matches the data."""
    from lakehouse_automation_spark.tableformat import ROWS_KEY

    # split 0 (ids 0-9) is filtered empty, yet its task still writes a
    # file; splits 1-2 write none
    df = spark.range(0, 40, 1, 4).filter(F.col("id") >= 30)
    tbl = CowTable.create(spark, df, str(tmp_path / "t"))
    (fstats,) = tbl.manifest()["file_stats"].values()
    assert sorted(s[ROWS_KEY] for s in fstats.values()) == [0, 10]
    files = [f for f in os.listdir(tbl.chunk_paths()[0])
             if f.endswith(".parquet")]
    assert len(fstats) == len(files)
    assert tbl.verify()["ok"]
