"""Table catalog over the driver-provided parquet testdata.

The reference's "catalog" is a MySQL schema bulk-loaded from a dump
(``/root/reference/lakehouse_setup.sh:250``) plus one external
lakehouse table refreshed from CSV files
(``/root/reference/check_lakehouse.py:149``). Here every table is a
parquet directory; loading = registering a (normalized) DataFrame.

Normalization handled here, once, for every consumer:

- ``events.ts`` is parquet TIMESTAMP(NANOS). On pyspark 4.1.2 the
  reader surfaces it natively as ``timestamp_ntz`` (us precision,
  ns truncated) and no conversion is needed; on older Sparks the
  ``nanosAsLong`` legacy conf makes it a ns-long, which :func:`table`
  detects by dtype and converts with integer floor division —
  matching DuckDB's ns->us truncation either way.
- ``orders.o_orderdate`` / ``lineitem.l_shipdate`` arrive as
  TIMESTAMP_NTZ already (ms precision) — left as-is.

Each table's schema is catalog metadata, recorded once per version
of its file set, like a metastore entry. A read without a schema makes
Spark run one schema-inference job (it opens the footers on the
executors, even for one file); :func:`read_parquet` records what that
job inferred and passes it back through ``spark.read.schema`` for as
long as the path's listing signature (``operators.pathio``) and the
session confs that steer parquet inference are unchanged. A rewrite
behind the path (a new file, size, mtime or inode), or a flipped conf,
infers again and replaces the entry, so the memo needs no invalidation
and holds one entry per path. The first read of each table in a
process still infers.

At 100 TB these reads are partitioned parquet scans; nothing here
materializes data on the driver. Non-local schemes (``s3a://``,
``hdfs://``) and globs keep inferring on every read: a per-read remote
listing there costs about what the memo saves, and a real deployment
keeps the schema in its metastore instead.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..operators.pathio import listing_signature
from .session import tune_session

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: session confs that parquet schema inference reads; a memo entry is
#: valid only under the values it was inferred with
SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.legacy.parquet.nanosAsLong",
)

# path -> (listing signature, conf values, inferred schema)
_SCHEMAS: dict[str, tuple[tuple, tuple, StructType]] = {}
_SCHEMAS_LOCK = threading.Lock()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per
    version of the files behind ``path`` (see the module docstring).
    Returns the raw file schema, un-normalized, so stream readers can
    take it as is."""
    # stamped BEFORE inferring: files rewritten while the job runs
    # leave an entry under the old stamp, which the next read misses
    sig = listing_signature([path])
    if sig is None:
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k, None) for k in SCHEMA_CONFS)
    with _SCHEMAS_LOCK:
        hit = _SCHEMAS.get(path)
    if hit is not None and hit[:2] == (sig, confs):
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        _SCHEMAS[path] = (sig, confs, df.schema)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalized."""
    tune_session(spark)
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ns-long -> us TIMESTAMP_NTZ (naive, like every other ts here).
        # Integer `div`, NOT `/`: float division of epoch-ns loses the
        # last microseconds digit at ~1.7e18.
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR,
                register: bool = True) -> dict[str, DataFrame]:
    """Load all tables; optionally register each as a temp view."""
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        df = table(spark, sf_dir, name)
        if register:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
