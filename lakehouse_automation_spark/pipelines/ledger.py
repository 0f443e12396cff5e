"""Load-attempt audit ledger (reference A7/A8).

The reference keeps a SQLite table ``check_files(mountloc, is_apply,
checktime)`` with one row per load attempt (check_lakehouse.py:99-100)
written through a 10-retry executor (commondb.py:14-36). Here the
ledger is an append-only parquet table: each append is one new
one-row file, serialized on the driver with pyarrow and published
with the atomic create-if-absent step the CowTable log uses
(``PathIO.publish_if_absent``), so an append runs no Spark job and a
reader never sees a half-written file. It reads as a DataFrame with
the declared schema, so files written by Spark's own parquet writer
(older ledgers) and by this writer read as one table. The Structured
Streaming checkpoint — not the ledger — is what guarantees
exactly-once, so the ledger is pure audit just like the reference's.
"""

from __future__ import annotations

import datetime as dt
import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import TimestampType


class Ledger:
    SCHEMA = "mountloc string, is_apply int, checktime timestamp"

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def record(self, mountloc: str, success: bool,
               when: dt.datetime | None = None) -> None:
        """A7 — one audit row per load attempt (is_apply 1/0 by
        success, check_lakehouse.py:115-119). ``when`` maps to an
        instant the way ``spark.createDataFrame`` maps a datetime: a
        naive value is local time of this process, an aware one its
        own zone; the default is now."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from ..operators.pathio import pathio_for

        micros = TimestampType().toInternal(
            when or dt.datetime.now(dt.timezone.utc))
        row = pa.table({
            "mountloc": pa.array([mountloc], pa.string()),
            "is_apply": pa.array([1 if success else 0], pa.int32()),
            "checktime": pa.array([micros], pa.timestamp("us", tz="UTC")),
        })
        buf = pa.BufferOutputStream()
        pq.write_table(row, buf)
        io = pathio_for(self.spark, self.path)
        # a fresh name never loses the create-if-absent race
        io.publish_if_absent(
            io.join(self.path, f"part-{uuid.uuid4().hex}.parquet"),
            buf.getvalue().to_pybytes())

    def read(self) -> DataFrame:
        return self.spark.read.schema(self.SCHEMA).parquet(self.path)

    def last_checks(self, k: int = 2) -> DataFrame:
        """A8 — most-recent-k lookup (ORDER BY checktime DESC LIMIT 2,
        check_lakehouse.py:99) -> TakeOrderedAndProject."""
        return self.read().orderBy(F.desc("checktime")).limit(k)

    def exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            f.endswith(".parquet") for f in os.listdir(self.path)
        )
