"""SparkSession construction and tuning.

The reference keeps one long-lived MySQL connection per daemon
(``/root/reference/lib/commondb.py:61-68``); our analog is one tuned
SparkSession per process. Scale posture (100 TB / 1000 executors):

- AQE on (runtime shuffle-partition coalescing, skew-join splitting),
- Arrow on (pandas hand-off, reference ``lib/commondb.py:86``),
- UTC session timezone (testdata timestamps are naive; the reference's
  Asia/Seoul stamps are handled explicitly where needed),
- shuffle partitions sized to cores locally; on a real cluster AQE's
  coalescing makes the initial number far less critical.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

_cleanup_registered = False


def scratch_base() -> str:
    """Root for every FIXED-NAME scratch path the engine writes
    (sink round-trips, the bulk-load dest, the managed-table
    warehouse). PID-keyed by default so concurrent gate batteries
    (two oracle_check.py runs, a sweep beside a bench) cannot race
    each other's overwrite-then-reread cycles — the r15 battery hit
    exactly that twice (one process's ``mode("overwrite")`` deletes
    another's ``_temporary`` mid-write). ``$SPARK_GRAFT_SCRATCH``
    overrides for a caller-owned location (no cleanup — the caller
    owns it); the PID default is removed at interpreter exit so
    repeated runs don't accumulate in /tmp. Paths that are already
    per-call-unique (``mkdtemp`` cow/ivf roots) don't route through
    here."""
    override = os.environ.get("SPARK_GRAFT_SCRATCH")
    if override:
        return override
    base = os.path.join(tempfile.gettempdir(),
                        f"lakehouse_spark_scratch.{os.getpid()}")
    global _cleanup_registered
    if not _cleanup_registered:
        _cleanup_registered = True
        import atexit
        import shutil

        atexit.register(shutil.rmtree, base, ignore_errors=True)
    return base


def _extra_confs() -> dict[str, str]:
    """$SPARK_GRAFT_EXTRA_CONFS as ``k=v;k=v`` — the sweep profiles
    (tools/sweep.py --profile) use this to rerun the whole gate under
    adversarial parallelism (prime shuffle-partition counts, tiny input
    splits, AQE off) without per-query plumbing. Applied LAST, so a
    sweep can override any RUNTIME_CONFS entry."""
    out: dict[str, str] = {}
    for pair in os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "").split(";"):
        if "=" in pair:
            k, v = pair.split("=", 1)
            out[k.strip()] = v.strip()
    return out


# Session-settable SQL confs applied to ANY session we are handed
# (the verify driver builds its own SparkSession; these must all be
# runtime-settable, and are).
RUNTIME_CONFS: dict[str, str] = {
    # testdata events.parquet carries TIMESTAMP(NANOS). Older Sparks
    # refuse it unless this legacy conf makes the reader surface a
    # ns-long; pyspark 4.1.2 ACCEPTS but IGNORES the conf and reads
    # NANOS natively as timestamp_ntz (verified live). Kept only for
    # older runtimes — catalog.table() guards on the actual dtype, so
    # both read paths normalize to us-precision timestamp_ntz.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # coalescePartitions.parallelismFirst stays at its DEFAULT (true).
    # The guide's size-based posture (false + advisory 64m-256m, §2.2)
    # was A/B-measured in r17: neutral on every shuffle-light key, but
    # it coalesced the LSH candidate-verify stage — small in BYTES,
    # dense in CPU (64-dim dot per candidate pair) — to ONE partition
    # and vec_knn_join/vec_neardup_lsh ran 2.5x slower single-threaded.
    # On a real cluster, size-based coalescing belongs on SHUFFLE-bound
    # jobs; set it per-job via $SPARK_GRAFT_EXTRA_CONFS, not globally.
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # survey/testdata schemas are explicit; never pay an inference scan
    "spark.sql.csv.parser.columnPruning.enabled": "true",
    # Keep whole-stage-codegen methods under HotSpot's 8 KB JIT cutoff.
    # Wide unrolled expressions (64-dim dot products, operators/vector)
    # fuse into ~30 KB megamethods that HotSpot refuses to JIT — every
    # FRESH query then pays multi-second interpretation (or C2 compile
    # with -XX:-DontCompileHugeMethods, equally slow per new generated
    # class). Above this limit Spark falls back to per-operator codegen:
    # small, JIT-able, still compiled — measured 7 s -> 1.5 s per fresh
    # vector-pipeline query with identical results, and the fall-back
    # only triggers on stages whose fused method couldn't JIT anyway.
    "spark.sql.codegen.hugeMethodLimit": "8000",
}


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (driver-owned
    sessions included)."""
    for k, v in {**RUNTIME_CONFS, **_extra_confs()}.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this build: keep going, callers cope
    return spark


def s3a_confs(bucket: str, endpoint: str, access_key: str,
              secret_key: str, path_style: bool = True) -> dict[str, str]:
    """A16 storage_mount — the reference binds object storage via an
    s3fs-FUSE mount plus an OCI credential file
    (``lakehouse_setup.sh:416``, creds ``:303-321``). Spark-native
    there is NO mount step at all: configure the Hadoop S3A connector
    and every reader/writer takes ``s3a://<bucket>/...`` paths
    directly, each executor doing its own ranged GETs (the FUSE
    single-channel bottleneck disappears).

    Returns builder-style ``spark.hadoop.fs.s3a.*`` entries; pass to
    ``SparkSession.builder.config`` or :func:`apply_s3a` on a live
    session. ``bucket.probe=0`` skips the existence HEAD call (OCI's
    S3-compat endpoint rejects it)."""
    return {
        "spark.hadoop.fs.s3a.endpoint": endpoint,
        "spark.hadoop.fs.s3a.access.key": access_key,
        "spark.hadoop.fs.s3a.secret.key": secret_key,
        "spark.hadoop.fs.s3a.path.style.access": str(bool(path_style)).lower(),
        f"spark.hadoop.fs.s3a.bucket.{bucket}.probe": "0",
    }


def apply_s3a(spark: SparkSession, confs: dict[str, str]) -> list[str]:
    """Apply :func:`s3a_confs` output to a LIVE session's Hadoop conf
    (hadoop confs are not spark.conf-settable after startup). Returns
    the hadoop-level keys that were set."""
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    keys = []
    for k, v in confs.items():
        hk = k.removeprefix("spark.hadoop.")
        hc.set(hk, v)
        keys.append(hk)
    return keys


def delta_available() -> bool:
    """North-star probe (BASELINE.json: "Spark SQL + Delta/Iceberg").
    True only when the delta-spark python bindings AND jars are
    importable. This sandbox ships neither (no pip/apt), so callers
    keep the relational MERGE emulation (operators/upsert.py) and the
    mtime-window retention; with jars present ``sink_upsert`` upgrades
    to ``DeltaTable.merge`` and retention to ``VACUUM``. The absence is
    logged once at session build."""
    import importlib.util

    if importlib.util.find_spec("delta") is None:
        return False
    try:
        from delta.tables import DeltaTable  # noqa: F401
        return True
    except Exception:  # noqa: BLE001 — bindings without jars
        return False


_delta_logged = False

#: Heap ceiling whatever the machine: the old fixed default.
MAX_DRIVER_MB = 48 * 1024
#: Share of physical memory the default heap takes, so that two gate
#: processes (a sweep beside a test run) fit on one host together.
DRIVER_MEM_SHARE = 0.4

_UNITS = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def memory_mb(spec: str) -> int:
    """A ``spark.driver.memory`` value (an integer with an optional
    k/m/g/t suffix, as -Xmx takes it; a bare number is MiB) in MiB."""
    s = spec.strip().lower()
    if s[-1:] in _UNITS:
        return int(int(s[:-1]) * _UNITS[s[-1]])
    return int(s)


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory``: $SPARK_DRIVER_MEM verbatim, else
    DRIVER_MEM_SHARE of ``MemTotal`` capped at MAX_DRIVER_MB (the cap
    also when the machine's memory cannot be read). A heap larger than
    the machine never fails at start-up; it fails later, when the
    collector lets the heap grow past what the host can back."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    try:
        with open(meminfo) as fh:
            total_kb = next(int(line.split()[1]) for line in fh
                            if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{MAX_DRIVER_MB}m"
    return f"{min(MAX_DRIVER_MB, int(total_kb / 1024 * DRIVER_MEM_SHARE))}m"


def get_spark(app_name: str = "lakehouse_automation_spark",
              cpus: int | str | None = None) -> SparkSession:
    """Build (or fetch) the tuned local session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. In local mode
    the driver JVM is the only process, so driver memory is the single
    memory knob: see :func:`driver_memory`. ``maxResultSize`` stays at
    half the heap (at most 8g), so an oversized collect fails as a
    Spark error instead of an out-of-memory driver.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    n = (os.cpu_count() or 8) if cpus == "*" else int(cpus)
    heap = driver_memory()
    heap_mb = memory_mb(heap)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.driver.memory", heap)
        .config("spark.driver.maxResultSize", f"{min(8192, heap_mb // 2)}m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # managed tables (bucketed join copies, ANALYZE stats copies)
        # land under the process-keyed scratch, not a shared cwd
        # spark-warehouse — see scratch_base() for the race this kills
        .config("spark.sql.warehouse.dir",
                os.path.join(scratch_base(), "warehouse"))
        # NB: no -XX:-DontCompileHugeMethods here. The former approach
        # (force C2 onto >8 KB codegen megamethods) traded interpreted
        # execution for multi-second C2 compiles on every fresh query;
        # hugeMethodLimit in RUNTIME_CONFS keeps generated methods
        # JIT-able in the first place, which also covers driver-owned
        # sessions where JVM flags are out of our hands.
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in _extra_confs().items():
        builder = builder.config(k, v)
    global _delta_logged
    if delta_available():
        builder = (
            builder.config("spark.sql.extensions",
                           "io.delta.sql.DeltaSparkSessionExtension")
            .config("spark.sql.catalog.spark_catalog",
                    "org.apache.spark.sql.delta.catalog.DeltaCatalog")
        )
    elif not _delta_logged:
        _delta_logged = True
        import logging
        logging.getLogger(__name__).info(
            "delta-spark not present in this environment; MERGE/VACUUM "
            "run via the relational emulation (operators/upsert.py)")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune_session(spark)
