"""Continuous file ingest — the reference's check_lakehouse.py daemon
made native (A5/A6/A7/A17).

Reference loop (check_lakehouse.py:102-123): every 600 s, list the
mount, take the newest file, and if its mtime is within 600 s call
``sys.heatwave_load`` to refresh the external table, recording the
attempt in a SQLite ledger. That mtime-vs-now heuristic can MISS files
that land during a long load (SURVEY §3 EP2); the Structured Streaming
file source tracks seen-files in the checkpoint, making that bug
structurally impossible. Delivery is the file-source's seen-files
tracking (each file read once) plus an IDEMPOTENT sink: every batch
overwrites its own ``b{batch_id}`` subdir, so a batch retried from the
checkpoint after a partial write replaces its output instead of
duplicating rows — effectively-once without a transactional table
format (Delta MERGE slots in here when jars are present).

Scale posture: ``maxFilesPerTrigger`` backpressure; the sink is an
append to a date-partitioned parquet table (Delta MERGE when jars are
present); ledger writes happen in foreachBatch alongside the data so
audit rows line up with committed batches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F, types as T
from pyspark.sql.streaming import StreamingQuery

from ..pipelines.ledger import Ledger

# The survey-table schema, declared in code like datagen.py:29-36.
SURVEY_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("customer_type", T.StringType()),
    T.StructField("travel_type", T.StringType()),
    T.StructField("departure_delay", T.IntegerType()),
    T.StructField("baggage_handling", T.IntegerType()),
    T.StructField("satisfaction", T.StringType()),
])


class IngestPipeline:
    """File-stream -> parquet table + audit ledger.

    ``start()`` returns the StreamingQuery (A17's daemon thread);
    ``run_available()`` processes everything currently landed and
    stops — the deterministic test/batch mode.
    """

    def __init__(self, spark: SparkSession, landing_dir: str, table_dir: str,
                 checkpoint_dir: str, ledger_path: str | None = None,
                 schema: T.StructType = SURVEY_SCHEMA,
                 poll_interval_s: int = 600, max_files_per_trigger: int = 64):
        self.spark = spark
        self.landing_dir = landing_dir
        self.table_dir = table_dir
        self.checkpoint_dir = checkpoint_dir
        self.ledger = Ledger(spark, ledger_path) if ledger_path else None
        self.schema = schema
        self.poll_interval_s = poll_interval_s
        self.max_files_per_trigger = max_files_per_trigger

    def _stream(self):
        return (
            self.spark.readStream.schema(self.schema)
            .option("header", True)
            .option("maxFilesPerTrigger", self.max_files_per_trigger)
            .csv(os.path.join(self.landing_dir, "*"))
            .withColumn("ingest_ts", F.current_timestamp())
        )

    def _write_batch(self, batch_df, batch_id: int) -> None:
        """foreachBatch body (A6+A7): write the micro-batch, then the
        audit row — success flag mirrors check_lakehouse.py:114-119.

        Each batch OVERWRITES its own subdir keyed by batch_id: a batch
        replayed from the checkpoint after a mid-write failure replaces
        its partial output rather than appending a duplicate (the
        failure mode the reference's ledger exists to audit)."""
        try:
            batch_df.write.mode("overwrite").parquet(
                os.path.join(self.table_dir, f"b{batch_id}"))
            ok = True
        except Exception:  # noqa: BLE001
            ok = False
            raise
        finally:
            if self.ledger is not None:
                self.ledger.record(self.landing_dir, ok)

    def start(self, processing_time: str | None = None) -> StreamingQuery:
        """A17 — long-running daemon. ``stop()`` on the returned query
        is the SIGTERM handler's graceful-stop analog
        (check_lakehouse.py:132-136,184-187)."""
        trigger = processing_time or f"{self.poll_interval_s} seconds"
        return (
            self._stream().writeStream
            .foreachBatch(self._write_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(processingTime=trigger)
            .start()
        )

    def run_available(self, timeout_s: float = 120) -> None:
        """Process all currently-landed files once, then stop. Bounded:
        if the query hasn't drained within ``timeout_s`` it is stopped
        and ``TimeoutError`` is raised — the landed set may be only
        partly ingested, so the caller must not treat it as loaded.
        A later call resumes from the checkpoint: a batch cut off
        mid-write is replayed into its own subdir, and files it never
        reached are read then, so every row still loads exactly once."""
        q = (
            self._stream().writeStream
            .foreachBatch(self._write_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout=timeout_s):
            q.stop()
            raise TimeoutError(
                f"ingest of {self.landing_dir} did not drain within "
                f"{timeout_s} s; stopped with the landed set possibly "
                f"partly ingested")

    def table(self):
        return self.spark.read.schema(
            T.StructType(self.schema.fields + [T.StructField("ingest_ts", T.TimestampType())])
        ).option("recursiveFileLookup", "true").parquet(self.table_dir)
