"""ACID table-format keys (SURVEY §1.2 north star: "Spark SQL +
Delta/Iceberg operations").

The reference's defining operation is a *transactional* lakehouse
refresh — ``sys.heatwave_load`` atomically re-points the external
table at a new file set (reference ``check_lakehouse.py:146-150``) —
and round-1 review called out that plain parquet append/MERGE
emulation has no such commit boundary. ``tableformat.CowTable``
supplies it (atomic manifest log, copy-on-write rewrites, snapshot
reads, time travel, VACUUM); these keys drive every verb end-to-end on
deterministic testdata slices with full DuckDB-restatement oracles.

Every key builds its table in a fresh scratch dir per invocation, so
repeat sweeps/bench runs never collide with a previous commit log.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..engine.catalog import read_parquet
from ..tableformat import CowTable
from .base import register, t
from ..operators.plancapture import capture_plan

# Money survives the cross-engine hash as integer cents (the
# udf_grouped_map convention): exact in both engines, order-free.
# Domain-guarded (base.DOMAIN_MAX_ABS): NaN/±Inf/|v|>1e15 fold to NULL
# in BOTH engines instead of a BIGINT cast-overflow abort.
_CENTS = ("CAST(SUM(CASE WHEN abs({c}) <= 1e15 "
          "THEN CAST(round({c} * 100) AS BIGINT) END) AS BIGINT)")


def _cents(col: str) -> F.Column:
    return F.sum(F.when(F.abs(F.col(col)) <= 1e15,
                        F.round(F.col(col) * 100).cast("long"))
                 ).alias("cents")


def _orders_slice(spark: SparkSession, sf_dir: str, mod: int, rem: int) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % mod == rem)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


def _tmp() -> str:
    return tempfile.mkdtemp(prefix="las_cow_")


@register(
    "tf_acid_append",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           {_CENTS.format(c="o_totalprice")} AS cents
    FROM orders WHERE o_orderkey % 3 IN (0, 1)
    GROUP BY o_orderstatus
    """,
)
def tf_acid_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE + atomic APPEND: v0 is one committed chunk, v1 extends
    the manifest; a reader of either snapshot sees a complete file
    set, never the half-written state a bare parquet append exposes."""
    root = _tmp()
    try:
        tbl = CowTable.create(
            spark, _orders_slice(spark, sf_dir, 3, 0), f"{root}/orders")
        tbl.append(_orders_slice(spark, sf_dir, 3, 1))
        return (
            tbl.read().groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"), _cents("o_totalprice"))
            .localCheckpoint(eager=True)  # scratch is deleted below
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "tf_merge_cow",
    oracle=f"""
    WITH base AS (
      SELECT c_custkey, c_mktsegment, c_acctbal
      FROM customer WHERE c_custkey % 4 IN (0, 1, 2)
    ), upd AS (
      SELECT c_custkey, c_mktsegment, c_acctbal + 1000 AS c_acctbal
      FROM customer WHERE c_custkey % 20 = 1
      UNION ALL
      SELECT c_custkey, c_mktsegment, c_acctbal
      FROM customer WHERE c_custkey % 4 = 3
    ), merged AS (
      SELECT * FROM base
      WHERE c_custkey NOT IN (SELECT c_custkey FROM upd)
      UNION ALL SELECT * FROM upd
    )
    SELECT c_mktsegment, COUNT(*) AS n,
           {_CENTS.format(c="c_acctbal")} AS cents
    FROM merged GROUP BY c_mktsegment
    """,
)
def tf_merge_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-pruned copy-on-write MERGE. The table is three chunks
    (custkey % 4 = 0 / 1 / 2); the update set hits only % 20 == 1 keys
    — all inside the % 4 == 1 chunk — plus brand-new % 4 == 3 inserts.
    The merge rewrites exactly ONE chunk and carries the other two by
    name (pytest asserts the pruning); at 100 TB this is the
    difference between rewriting 1/3 of the table and all of it."""
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal")
    root = _tmp()
    try:
        tbl = CowTable.create(
            spark, cust.filter(F.col("c_custkey") % 4 == 0), f"{root}/cust")
        tbl.append(cust.filter(F.col("c_custkey") % 4 == 1))
        tbl.append(cust.filter(F.col("c_custkey") % 4 == 2))
        updates = (
            cust.filter(F.col("c_custkey") % 20 == 1)
            .withColumn("c_acctbal", F.col("c_acctbal") + 1000)
            .unionByName(cust.filter(F.col("c_custkey") % 4 == 3))
        )
        tbl.merge(updates, "c_custkey")
        return (
            tbl.read().groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"), _cents("c_acctbal"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "tf_cdc_feed",
    oracle="""
    -- the IS DISTINCT FROM guard: a no-op update (NULL+1000 = NULL,
    -- Inf+1000 = Inf, 1e300+1000 absorbed to 1e300) leaves the row
    -- bit-identical, so the manifest diff's exceptAll cancels it —
    -- NO delete+insert pair is the CORRECT CDC verdict (surfaced by
    -- the sf0.01 extremes sweep, where %20==1 balances carry extremes)
    SELECT c_custkey, c_mktsegment, c_acctbal + 1000 AS c_acctbal,
           'insert' AS _change_type
    FROM customer WHERE c_custkey % 20 = 1
      AND c_acctbal + 1000 IS DISTINCT FROM c_acctbal
    UNION ALL
    SELECT c_custkey, c_mktsegment, c_acctbal, 'insert'
    FROM customer WHERE c_custkey % 4 = 3
    UNION ALL
    SELECT c_custkey, c_mktsegment, c_acctbal, 'delete'
    FROM customer WHERE c_custkey % 20 = 1
      AND c_acctbal + 1000 IS DISTINCT FROM c_acctbal
    """,
)
def tf_cdc_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed from the manifest diff (Delta CDF's
    snapshot-diff semantics): after the tf_merge_cow scenario — a
    file-pruned MERGE bumping %20==1 balances and inserting %4==3
    rows — ``changes(v_before, tip)`` reads ONLY the one rewritten
    chunk and the one it replaced (the two carried chunks cancel at
    the manifest level, untouched rewritten rows cancel in the
    exceptAll), yielding exactly: each update as delete(old)+
    insert(new), each brand-new row as insert. The oracle restates
    the full row-level feed."""
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal")
    root = _tmp()
    try:
        tbl = CowTable.create(
            spark, cust.filter(F.col("c_custkey") % 4 == 0), f"{root}/cust")
        tbl.append(cust.filter(F.col("c_custkey") % 4 == 1))
        v_before = tbl.append(cust.filter(F.col("c_custkey") % 4 == 2))
        updates = (
            cust.filter(F.col("c_custkey") % 20 == 1)
            .withColumn("c_acctbal", F.col("c_acctbal") + 1000)
            .unionByName(cust.filter(F.col("c_custkey") % 4 == 3))
        )
        tbl.merge(updates, "c_custkey")
        return capture_plan(
            "tf_cdc_feed:changes",
            tbl.changes(v_before)).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "tf_cdc_updates",
    oracle="""
    -- no-op updates produce NO image pair (see tf_cdc_feed)
    SELECT c_custkey, c_mktsegment, c_acctbal,
           'update_preimage' AS _change_type, 3 AS _commit_version
    FROM customer WHERE c_custkey % 20 = 1
      AND c_acctbal + 1000 IS DISTINCT FROM c_acctbal
    UNION ALL
    SELECT c_custkey, c_mktsegment, c_acctbal + 1000,
           'update_postimage', 3
    FROM customer WHERE c_custkey % 20 = 1
      AND c_acctbal + 1000 IS DISTINCT FROM c_acctbal
    UNION ALL
    SELECT c_custkey, c_mktsegment, c_acctbal, 'insert', 3
    FROM customer WHERE c_custkey % 4 = 3
    """,
)
def tf_cdc_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-CDF row contract over the tf_cdc_feed scenario:
    ``changes_with_updates`` pairs each update's delete+insert into
    update_preimage/update_postimage by merge key and stamps
    _commit_version — the exact columns a consumer porting Delta CDF
    logic joins on (tf_cdc_feed's plain insert/delete diff stays as
    the minimal tier). The %20==1 balance bumps surface as image
    pairs, the brand-new %4==3 rows as inserts; _commit_version is the
    MERGE's snapshot (v3 after create+2 appends). _commit_timestamp is
    stamped too but dropped here — wall-clock publish time can't be
    restated by a deterministic oracle."""
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal")
    root = _tmp()
    try:
        tbl = CowTable.create(
            spark, cust.filter(F.col("c_custkey") % 4 == 0), f"{root}/cust")
        tbl.append(cust.filter(F.col("c_custkey") % 4 == 1))
        v_before = tbl.append(cust.filter(F.col("c_custkey") % 4 == 2))
        updates = (
            cust.filter(F.col("c_custkey") % 20 == 1)
            .withColumn("c_acctbal", F.col("c_acctbal") + 1000)
            .unionByName(cust.filter(F.col("c_custkey") % 4 == 3))
        )
        tbl.merge(updates, "c_custkey")
        return (
            capture_plan(
                "tf_cdc_updates:changes",
                tbl.changes_with_updates("c_custkey", v_before)
                .drop("_commit_timestamp"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "tf_schema_evolve",
    oracle=f"""
    WITH evolved AS (
      SELECT o_orderstatus, o_totalprice, CAST(NULL AS VARCHAR) AS channel
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderstatus, o_totalprice, 'online' AS channel
      FROM orders WHERE o_orderkey % 3 = 1
    )
    SELECT o_orderstatus,
           COUNT(*) AS n,
           COUNT(channel) AS n_evolved,
           {_CENTS.format(c="o_totalprice")} AS cents
    FROM evolved GROUP BY o_orderstatus
    """,
)
def tf_schema_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the ACID table (Delta's mergeSchema read):
    v0 commits the base projection, v1 appends a chunk CARRYING A NEW
    COLUMN (``channel``); ``read(merge_schema=True)`` unions the chunk
    schemas by name so pre-evolution rows surface the new column
    null-filled — no rewrite of the old chunk, no reader breakage.
    COUNT(channel) pins exactly the evolved rows; the cents sum pins
    that no row was lost or duplicated across the schema boundary."""
    base = _orders_slice(spark, sf_dir, 3, 0)
    evolved = (_orders_slice(spark, sf_dir, 3, 1)
               .withColumn("channel", F.lit("online")))
    root = _tmp()
    try:
        tbl = CowTable.create(spark, base, f"{root}/orders")
        tbl.append(evolved)
        return (
            tbl.read(merge_schema=True)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.count("channel").alias("n_evolved"),
                 _cents("o_totalprice"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "tf_time_travel",
    oracle=f"""
    SELECT 0 AS version, COUNT(*) AS n,
           {_CENTS.format(c="o_totalprice")} AS cents
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT 1, COUNT(*), {_CENTS.format(c="o_totalprice")}
    FROM orders WHERE o_orderkey % 3 IN (0, 1)
    UNION ALL
    SELECT 2, COUNT(*), {_CENTS.format(c="o_totalprice")}
    FROM orders WHERE o_orderkey % 3 IN (0, 1) AND o_orderstatus IS DISTINCT FROM 'F'
    """,
)
def tf_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: after CREATE (v0) -> APPEND (v1) -> DELETE (v2),
    read every snapshot by version number. Old manifests are immutable,
    so v0 still returns the pre-append contents — the audit/rollback
    capability the north star names and plain parquet cannot give."""
    root = _tmp()
    try:
        tbl = CowTable.create(
            spark, _orders_slice(spark, sf_dir, 3, 0), f"{root}/orders")
        tbl.append(_orders_slice(spark, sf_dir, 3, 1))
        tbl.delete_where(F.col("o_orderstatus") == "F")
        out = None
        for v in (0, 1, 2):
            snap = (
                tbl.read(version=v)
                .agg(F.count(F.lit(1)).alias("n"), _cents("o_totalprice"))
                .select(F.lit(v).cast("int").alias("version"), "n", "cents")
            )
            out = snap if out is None else out.unionByName(snap)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "tf_delete_vacuum",
    oracle="""
    SELECT 'chunks_live' AS phase, 1 AS n
    UNION ALL SELECT 'chunks_removed', 3
    UNION ALL
    SELECT 'rows_live', COUNT(*) FROM orders
    WHERE o_orderkey % 3 IN (0, 1, 2) AND o_orderstatus IS DISTINCT FROM 'F'
    """,
)
def tf_delete_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE + VACUUM lifecycle (the reference's retention sweep,
    made transactional): three appended chunks, a copy-on-write DELETE
    that rewrites them into one surviving chunk, then VACUUM with
    retain_versions=1 reclaims the three now-unreferenced chunks.
    Literal chunk counts in the oracle pin the file-level behavior
    (the table_compact convention); the row count pins the data."""
    root = _tmp()
    try:
        tbl = CowTable.create(
            spark, _orders_slice(spark, sf_dir, 3, 0), f"{root}/orders")
        tbl.append(_orders_slice(spark, sf_dir, 3, 1))
        tbl.append(_orders_slice(spark, sf_dir, 3, 2))
        tbl.delete_where(F.col("o_orderstatus") == "F")
        # grace_s=0: this table is seconds old and single-writer; the
        # production default (600 s) would skip everything it just wrote
        live, removed = tbl.vacuum(retain_versions=1, grace_s=0)
        n_rows = tbl.read().count()
        return spark.createDataFrame(
            [("chunks_live", live), ("chunks_removed", removed),
             ("rows_live", n_rows)],
            "phase string, n long",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "tf_stream_ingest",
    oracle="""
    SELECT COUNT(*) AS n_rows, COUNT(DISTINCT event_type) AS n_types
    FROM events
    """,
)
def tf_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 (incremental load) landing on the ACID table: readStream over
    the events files -> foreachBatch -> one CowTable commit PER
    MICRO-BATCH. This is the reference's detect->load->publish loop
    (check_lakehouse.py:102-150) with the transactional boundary the
    raw-parquet ingest lacks: a reader concurrent with the stream sees
    whole batches or nothing — never a half-written batch — and a
    replayed batch after checkpoint recovery lands as a NEW commit
    whose chunk supersedes nothing (append idempotence is the ledger's
    job, stream_dedup_state's restatement). availableNow trigger +
    bounded await, per the sweep-safety rules; batch fallback keeps the
    key deterministic if the stream cannot run here."""
    import os

    path = os.path.join(sf_dir, "events.parquet")
    schema = read_parquet(spark, path).schema
    root = _tmp()
    state: dict = {"tbl": None}

    def land(bdf, _bid):
        if state["tbl"] is None:
            state["tbl"] = CowTable.create(spark, bdf, f"{root}/events")
        else:
            state["tbl"].append(bdf)

    done = False
    try:
        q = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet").parquet(sf_dir)
            .writeStream.foreachBatch(land)
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True).start()
        )
        done = q.awaitTermination(timeout=60)
        if not done:
            q.stop()
    except Exception:  # noqa: BLE001 — harness safety
        done = False
    try:
        if not done or state["tbl"] is None:
            # stream never ran OR timed out mid-run: a partially-loaded
            # table would return silently-short counts, which the gate
            # would report as data corruption instead of a stream
            # wedge — rebuild deterministically from the batch path.
            state["tbl"] = CowTable.create(
                spark, read_parquet(spark, path), f"{root}/events_batch")
        return (
            state["tbl"].read()
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.countDistinct("event_type").alias("n_types"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "tf_stats_prune",
    oracle="""
    SELECT 1 AS chunks_scanned, 3 AS chunks_total,
           1 AS files_scanned, 4 AS files_total,
           (SELECT COUNT(*) FROM orders
            WHERE CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1997-06-01'
              AND CAST(o_orderdate AS TIMESTAMP) <= TIMESTAMP '1997-08-31')
           AS n_rows
    """,
)
def tf_stats_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level manifest-stats data skipping: the table is three
    chunks with disjoint o_orderdate year bands (per-chunk min/max in
    the manifest), and the middle chunk holds TWO files split at the
    1997/1998 boundary (per-file min/max in the manifest — the
    Delta/Iceberg file-statistics grain). A 1997-06..1997-08 range
    scan consults ONLY driver-side stats: chunk level admits the
    middle chunk (1 of 3), file level admits its 1997 file (1 of the
    table's 4 data files) — zero listing or footer I/O for everything
    else. At 100 TB this turns a key-range query from open-every-file
    into open-the-covering-files. The literal chunks/files counts pin
    both pruning levels; the row count pins the data."""
    import datetime as dt

    od = F.col("o_orderdate")
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice")
    y97, y99 = dt.datetime(1997, 1, 1), dt.datetime(1999, 1, 1)
    root = _tmp()
    try:
        # deterministic file layout: chunk 1 = <1997 (1 file), chunk 2
        # = 1997 ∪ 1998 as two year-pure files, chunk 3 = >=1999
        # (1 file). Chunk 2 is built via RDD-level union: Catalyst
        # collapses a coalesce(1)-union-coalesce(1) to ONE partition,
        # and repartition(2, year) can hash both years into the same
        # partition — the RDD union always keeps 1+1 partitions.
        y98 = dt.datetime(1998, 1, 1)
        f97 = orders.filter((od >= y97) & (od < y98)).coalesce(1)
        f98 = orders.filter((od >= y98) & (od < y99)).coalesce(1)
        two_files = spark.createDataFrame(
            f97.rdd.union(f98.rdd), f97.schema)
        tbl = CowTable.create(
            spark, orders.filter(od < y97).coalesce(1), f"{root}/orders",
            stats_cols=["o_orderdate"])
        tbl.append(two_files)
        tbl.append(orders.filter(od >= y99).coalesce(1))
        lo, hi = dt.datetime(1997, 6, 1), dt.datetime(1997, 8, 31)
        man = tbl.manifest()
        chunks_scanned = len(tbl.pruned_chunks("o_orderdate", lo, hi))
        files_scanned = len(tbl.pruned_files("o_orderdate", lo, hi))
        files_total = sum(len(v) for v in man["file_stats"].values())
        n = tbl.scan("o_orderdate", lo, hi).count()
        return spark.createDataFrame(
            [(chunks_scanned, len(man["chunks"]), files_scanned,
              files_total, n)],
            "chunks_scanned int, chunks_total int, "
            "files_scanned int, files_total int, n_rows long",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "tf_restore",
    oracle=f"""
    SELECT 0 AS version, COUNT(*) AS n,
           {_CENTS.format(c="o_totalprice")} AS cents
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT 1, COUNT(*), {_CENTS.format(c="o_totalprice")}
    FROM orders WHERE o_orderkey % 3 IN (0, 1)
    UNION ALL
    SELECT 2, COUNT(*), {_CENTS.format(c="o_totalprice")}
    FROM orders WHERE o_orderkey % 3 IN (0, 1) AND o_orderstatus IS DISTINCT FROM 'F'
    UNION ALL
    SELECT 3, COUNT(*), {_CENTS.format(c="o_totalprice")}
    FROM orders WHERE o_orderkey % 3 = 0
    """,
)
def tf_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TO VERSION (Delta RESTORE): after CREATE (v0) ->
    APPEND (v1) -> DELETE (v2), ``restore(0)`` publishes v3 whose
    contents equal v0 — by re-referencing v0's chunks in a NEW commit,
    zero data I/O at any table size. The intermediate snapshots stay
    time-travelable (v1/v2 rows pin that history survived the
    rollback, unlike a destructive reset)."""
    root = _tmp()
    try:
        tbl = CowTable.create(
            spark, _orders_slice(spark, sf_dir, 3, 0), f"{root}/orders")
        tbl.append(_orders_slice(spark, sf_dir, 3, 1))
        tbl.delete_where(F.col("o_orderstatus") == "F")
        tbl.restore(0)
        out = None
        for v in (0, 1, 2, 3):
            snap = (
                tbl.read(version=v)
                .agg(F.count(F.lit(1)).alias("n"), _cents("o_totalprice"))
                .select(F.lit(v).cast("int").alias("version"), "n", "cents")
            )
            out = snap if out is None else out.unionByName(snap)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "tf_clone",
    oracle=f"""
    SELECT 'source' AS side, COUNT(*) AS n,
           {_CENTS.format(c="o_totalprice")} AS cents,
           CAST(2 AS BIGINT) AS chunks_total,
           CAST(2 AS BIGINT) AS chunks_owned
    FROM orders WHERE o_orderkey % 3 IN (0, 1)
    UNION ALL
    SELECT 'clone', COUNT(*), {_CENTS.format(c="o_totalprice")},
           CAST(3 AS BIGINT), CAST(1 AS BIGINT)
    FROM orders WHERE o_orderkey % 3 IN (0, 1, 2)
    """,
)
def tf_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE: the clone's v0 references the source's two
    chunks by absolute path (zero data copied — ``chunks_owned`` pins
    that only ONE chunk, the clone's own later append, physically
    lives under the clone root), then diverges with that append while
    the source is untouched (its n/cents row re-verifies post-clone).
    At 100 TB this is how a dev/staging copy of a production table
    costs a manifest write instead of a 100-TB copy."""
    import os

    root = _tmp()
    try:
        src = CowTable.create(
            spark, _orders_slice(spark, sf_dir, 3, 0), f"{root}/orders")
        src.append(_orders_slice(spark, sf_dir, 3, 1))
        cl = src.clone(f"{root}/clone")
        cl.append(_orders_slice(spark, sf_dir, 3, 2))

        def side(tag: str, tbl: CowTable) -> DataFrame:
            man = tbl.manifest()
            owned = sum(1 for c in man["chunks"]
                        if not os.path.isabs(c))
            return (
                tbl.read()
                .agg(F.count(F.lit(1)).alias("n"), _cents("o_totalprice"))
                .select(F.lit(tag).alias("side"), "n", "cents",
                        F.lit(len(man["chunks"])).cast("long")
                         .alias("chunks_total"),
                        F.lit(owned).cast("long").alias("chunks_owned"))
            )

        return (
            side("source", src).unionByName(side("clone", cl))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "mv_incremental_refresh",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)
    ), upd AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice + 1000 AS o_totalprice
      FROM orders WHERE o_orderkey % 20 = 1
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 4 = 3
    ), merged AS (
      SELECT * FROM base
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      UNION ALL SELECT * FROM upd
    )
    SELECT o_orderstatus, COUNT(*) AS n,
           {_CENTS.format(c="o_totalprice")} AS cents
    FROM merged GROUP BY o_orderstatus
    """,
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance from the CDC feed —
    the HeatWave-autopilot-style refresh: the MV (per-status count +
    cents sum) is materialized once against the pre-merge snapshot,
    then brought current by applying ONLY the change feed's signed
    deltas (+row for insert, -row for delete), never re-aggregating
    the base table. ``changes()`` reads just the symmetric-difference
    chunks of the COW merge, so refresh cost is proportional to the
    CHANGE SET at any table size; the oracle is the full recompute the
    incremental path must equal. Additive aggregates only (count/sum)
    — the groups a production MV would restrict to."""
    import os
    import tempfile

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    root = _tmp()
    try:
        tbl = CowTable.create(
            spark, orders.filter(F.col("o_orderkey") % 4 == 0),
            f"{root}/orders")
        tbl.append(orders.filter(F.col("o_orderkey") % 4 == 1))
        tbl.append(orders.filter(F.col("o_orderkey") % 4 == 2))
        v_mv = tbl.version()

        # materialize the MV against the v_mv snapshot
        mv_path = os.path.join(root, "mv")
        (tbl.read(version=v_mv).groupBy("o_orderstatus")
         .agg(F.count(F.lit(1)).alias("n"), _cents("o_totalprice"))
         .write.parquet(mv_path))

        # the base table moves on: COW merge (updates + inserts)
        updates = (
            orders.filter(F.col("o_orderkey") % 20 == 1)
            .withColumn("o_totalprice", F.col("o_totalprice") + 1000)
            .unionByName(orders.filter(F.col("o_orderkey") % 4 == 3))
        )
        tbl.merge(updates, "o_orderkey")

        # refresh: signed per-group deltas from the change feed only
        sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
        delta = (
            tbl.changes(v_mv).groupBy("o_orderstatus")
            .agg(F.sum(sign).alias("dn"),
                 F.sum(sign * F.when(
                     F.abs(F.col("o_totalprice")) <= 1e15,
                     F.round(F.col("o_totalprice") * 100))
                     .cast("long")).alias("dcents"))
        )
        # null-safe key match: a NULL group key is a legitimate MV
        # group, and a plain equi-join would never match it — the MV
        # row and its delta would land as TWO output rows instead of
        # folding (caught by the round-8 null-injection sweep)
        refreshed = (
            spark.read.parquet(mv_path).alias("m")
            .join(delta.alias("d"),
                  F.col("m.o_orderstatus").eqNullSafe(
                      F.col("d.o_orderstatus")),
                  "full_outer")
            .select(
                F.coalesce("m.o_orderstatus", "d.o_orderstatus")
                 .alias("o_orderstatus"),
                (F.coalesce("n", F.lit(0))
                 + F.coalesce("dn", F.lit(0))).alias("n"),
                (F.coalesce("cents", F.lit(0))
                 + F.coalesce("dcents", F.lit(0))).alias("cents"))
            .filter(F.col("n") > 0)
        )
        return capture_plan(
            "mv_incremental_refresh:refresh",
            refreshed).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "tf_zorder",
    oracle=f"""
    SELECT TRUE AS cust_pruned, TRUE AS date_pruned,
           COUNT(*) AS n,
           {_CENTS.format(c="o_totalprice")} AS cents
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 199
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    """,
)
def tf_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER: compact the table on the bit-interleaved
    (o_custkey, o_orderdate) curve, then prove BOTH dimensions prune —
    a custkey-range query AND a date-range query each skip files via
    manifest min/max stats (``pruned_files``), which single-key range
    clustering cannot give the second column. The booleans are
    oracle-pinned (robust to a testdata refresh; exact file counts are
    layout-dependent — the pytest bounds them); n/cents restate the
    2-dim query's content in SQL. At 100 TB: one clustering write buys
    file-level skipping on every z-ordered dimension at once."""
    import datetime as dt

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    root = _tmp()
    try:
        tbl = CowTable.create(spark, orders, f"{root}/orders",
                              stats_cols=["o_custkey", "o_orderdate"])
        tbl.compact(n_files=16, zorder_by=["o_custkey", "o_orderdate"])
        man = tbl.manifest()
        files_total = sum(len(v) for v in man["file_stats"].values())
        f_cust = len(tbl.pruned_files("o_custkey", 100, 199))
        f_date = len(tbl.pruned_files(
            "o_orderdate",
            dt.datetime(1997, 1, 1),
            dt.datetime(1997, 12, 31, 23, 59, 59, 999999)))
        two_dim = (
            tbl.scan("o_custkey", 100, 199)
            .filter((F.col("o_orderdate") >= F.lit(dt.datetime(1997, 1, 1)))
                    & (F.col("o_orderdate") < F.lit(dt.datetime(1998, 1, 1))))
            .agg(F.count(F.lit(1)).alias("n"), _cents("o_totalprice"))
        )
        return (
            two_dim.select(
                F.lit(bool(f_cust < files_total)).alias("cust_pruned"),
                F.lit(bool(f_date < files_total)).alias("date_pruned"),
                "n", "cents")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "tf_constraints",
    oracle=f"""
    SELECT CAST(1 AS INT) AS tip_version,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 4 = 3
              AND NOT (o_totalprice - 1000000 >= 0)) AS violations_blocked,
           COUNT(*) AS n, {_CENTS.format(c="o_totalprice")} AS cents
    FROM orders WHERE o_orderkey % 4 IN (0, 1)
    """,
)
def tf_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraint enforcement (Delta ADD CONSTRAINT): the table
    is created with ``o_totalprice >= 0`` and a NOT-NULL check; a
    valid append lands (v1), then an append whose rows were shifted
    negative is REFUSED — the commit never happens, the tip stays at
    v1 and rereads bit-identical. The violation count surfaces from
    the raised error; the oracle recomputes it as the rows the
    corrupted batch would have contained. Enforcement is one
    filter+count over the incoming batch only (never a base re-scan),
    so the cost is proportional to the write at any table size."""
    from ..tableformat import ConstraintViolationError

    root = _tmp()
    try:
        tbl = CowTable.create(
            spark, _orders_slice(spark, sf_dir, 4, 0), f"{root}/orders",
            constraints={
                "price_nonneg": "o_totalprice >= 0",
                "status_notnull": "o_orderstatus IS NOT NULL",
            })
        tbl.append(_orders_slice(spark, sf_dir, 4, 1))
        blocked = 0
        try:
            bad = (_orders_slice(spark, sf_dir, 4, 3)
                   .withColumn("o_totalprice",
                               F.col("o_totalprice") - 1_000_000))
            tbl.append(bad)
        except ConstraintViolationError as e:
            blocked = e.violations
        return (
            tbl.read()
            .agg(F.count(F.lit(1)).alias("n"), _cents("o_totalprice"))
            .select(F.lit(tbl.version()).cast("int").alias("tip_version"),
                    F.lit(blocked).cast("long").alias("violations_blocked"),
                    "n", "cents")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "tf_verify",
    oracle=f"""
    SELECT TRUE AS clean_ok, CAST(0 AS BIGINT) AS clean_missing,
           FALSE AS tampered_ok, CAST(1 AS BIGINT) AS tampered_missing,
           COUNT(*) AS n, {_CENTS.format(c="o_totalprice")} AS cents
    FROM orders WHERE o_orderkey % 3 IN (0, 1)
    """,
)
def tf_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity audit (table fsck): per-file row counts are recorded
    in the manifest at write time, so ``verify()`` can prove a
    snapshot is complete — existence from a driver-side listing,
    row counts in ONE Spark job over all audited files. A clean table
    verifies ok; deleting one data file out from under the manifest is
    detected as missing. The surviving content restates in SQL (the
    reader below uses only intact chunks)."""
    import glob
    import os

    root = _tmp()
    try:
        tbl = CowTable.create(
            spark, _orders_slice(spark, sf_dir, 3, 0), f"{root}/orders")
        tbl.append(_orders_slice(spark, sf_dir, 3, 1))
        clean = tbl.verify(deep=True)
        # the content row is computed BEFORE tampering
        content = (
            tbl.read()
            .agg(F.count(F.lit(1)).alias("n"), _cents("o_totalprice"))
            .localCheckpoint(eager=True)
        )
        victim = sorted(glob.glob(f"{root}/orders/d*/*.parquet"))[0]
        os.unlink(victim)
        tampered = tbl.verify(deep=False)  # existence alone catches it
        return content.select(
            F.lit(clean["ok"]).alias("clean_ok"),
            F.lit(len(clean["missing"])).cast("long").alias("clean_missing"),
            F.lit(tampered["ok"]).alias("tampered_ok"),
            F.lit(len(tampered["missing"])).cast("long")
             .alias("tampered_missing"),
            "n", "cents")
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "tf_history",
    oracle="""
    SELECT * FROM (VALUES
      (0, 'create',  CAST(1 AS BIGINT)),
      (1, 'append',  CAST(2 AS BIGINT)),
      (2, 'merge',   CAST(3 AS BIGINT)),
      (3, 'restore', CAST(1 AS BIGINT))
    ) AS t(version, op, n_chunks)
    """,
)
def tf_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY: the commit log as a queryable DataFrame —
    version, operation, chunk count per retained snapshot (manifests
    also carry a wall-clock ``committed_at``, excluded here for
    determinism). Driver cost is O(#versions) manifest reads; no data
    is touched."""
    root = _tmp()
    try:
        tbl = CowTable.create(
            spark, _orders_slice(spark, sf_dir, 4, 0), f"{root}/orders")
        tbl.append(_orders_slice(spark, sf_dir, 4, 1))
        tbl.merge(
            _orders_slice(spark, sf_dir, 4, 2), "o_orderkey")
        tbl.restore(0)
        hist = [(m["version"], m["op"], m["n_chunks"])
                for m in tbl.history()]
        return spark.createDataFrame(
            hist, "version int, op string, n_chunks long")
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "tf_bloom_index",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN abs(l_extendedprice) <= 1e15
                    THEN CAST(round(l_extendedprice * 100) AS BIGINT) END)
                AS BIGINT) AS cents,
           TRUE AS no_false_negatives, TRUE AS fp_slack_ok,
           TRUE AS absent_fp_slack_ok
    FROM lineitem WHERE l_orderkey = 1
    """,
)
def tf_bloom_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file BLOOM FILTER INDEX (Delta's BLOOMFILTER INDEX
    pattern): point lookups on a high-cardinality column that the
    [min, max] stats grain cannot prune. The table is range-clustered
    on l_partkey, so every file's l_orderkey [min, max] spans
    essentially the whole key domain — range stats keep ALL files for
    an orderkey probe. The per-file Blooms (k=5 double-hashed xxhash64
    bits, ~10 bits/row, recorded in the manifest at write time) skip
    files driver-side with zero file I/O: a Bloom no is definite, a
    yes is settled by the residual equality filter, so false
    positives cost a wasted file read and never a wrong row. The
    booleans are FP-TOLERANT so a regenerated corpus cannot flip them
    on a re-rolled filter (review r6): the probe must admit every
    file that truly contains the key (no false negatives — the hard
    guarantee), and both the present- and absent-key probes may keep
    at most 2 files beyond ground truth (~0.1% per-file FP at k=5,
    ~10 bits/row; P(>2 FPs over 8 files) ~ 1e-8). The count +
    integer-cent sum pin the data against the plain point query."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice")
    root = _tmp()
    try:
        # range-cluster at CREATE (one write, one Bloom build — a
        # create-then-compact would index the about-to-be-replaced
        # chunk too, doubling the work for nothing)
        tbl = CowTable.create(
            spark,
            li.repartitionByRange(8, "l_partkey")
              .sortWithinPartitions("l_partkey"),
            f"{root}/li", bloom_cols=["l_orderkey"])
        kept = set(tbl.bloom_pruned_files("l_orderkey", 1))
        absent_kept = len(tbl.bloom_pruned_files("l_orderkey", -1))
        # ground truth: the files that genuinely contain the key
        # (one scan of the scratch table — the audit, not the lookup)
        containing = {
            r["f"] for r in
            tbl.read().filter(F.col("l_orderkey") == 1)
               .select(F.input_file_name().alias("f")).distinct().collect()
        }
        from ..tableformat import _local_path
        kept_local = {_local_path(p) for p in kept}
        containing_local = {_local_path(f) for f in containing}
        agg = (tbl.point_scan("l_orderkey", 1)
               .agg(F.count(F.lit(1)).alias("n"), _cents("l_extendedprice"))
               .collect()[0])
        # SUM over zero rows is NULL (both engines) — preserve it
        # rather than crashing int(None) on an empty source
        cents = None if agg["cents"] is None else int(agg["cents"])
        return spark.createDataFrame(
            [(int(agg["n"]), cents,
              containing_local <= kept_local,
              len(kept) <= len(containing) + 2,
              absent_kept <= 2)],
            "n long, cents long, no_false_negatives boolean, "
            "fp_slack_ok boolean, absent_fp_slack_ok boolean")
    finally:
        shutil.rmtree(root, ignore_errors=True)
