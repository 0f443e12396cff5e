"""``lakehouse_refresh``: the reference's ingest loop, writes beside reads.

Three threads share one ``local[nproc]`` scheduler:

- **generator** (open loop): lands one pre-generated survey batch every
  ``INTERVAL_S`` seconds by atomic rename into the landing dir. The
  batches are made in set-up with ``pipelines.datagen``.
- **refresher**: ``IngestPipeline.run_available()`` (ledger on; every
  file landed so far goes into one micro-batch), then
  ``CowTable.merge(updates, "id")`` of that micro-batch, then
  ``retention_sweep`` of the ingested landing entries; every
  ``MAINTAIN_EVERY`` refreshes it runs ``compact`` and ``vacuum``.
- **reader** (closed loop, one client): a survey aggregate over
  ``CowTable.read()`` of the current snapshot.

The user-visible latency of this loop is freshness: from a batch's due
landing time to the return of the first reader query that sees it.
Batches land faster than one refresh takes, so each refresh takes in
several of them and every phase has a freshness sample per batch.

Survey ids repeat within and across batches, so the table is
last-writer-wins by ``id``: a later micro-batch wins, and inside one
micro-batch (which has no row order) the largest row tuple wins. The
post-run check recomputes that independently from the landed batches.
"""

from __future__ import annotations

import glob
import math
import os
import threading
import time
from collections import defaultdict

import pandas as pd
import pyarrow.parquet as pq

from . import stats

ROWS_PER_BATCH = 2_000
#: landing period of the open-loop generator. A refresh (ingest + merge
#: + sweep) takes 2-4 s on 4 cores, with host load, whatever it takes
#: in, so it keeps up at any rate; this one gives 20 freshness samples
#: per 10 s.
INTERVAL_S = 0.5
#: compact + vacuum after every third refresh: once or twice a phase
MAINTAIN_EVERY = 3
WARMUP_BATCHES = 2
#: a phase still draining this long after its ``--seconds`` is cut
#: short (its unseen batches then simply have no freshness sample)
DRAIN_LIMIT_S = 60.0
COLS = ["id", "customer_type", "travel_type", "departure_delay",
        "baggage_handling", "satisfaction"]
GROUP = ["satisfaction", "travel_type"]
USER_OP = "read"


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return size, files


def _parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def lww(frames: list[pd.DataFrame]) -> pd.DataFrame:
    """Last writer wins by id over micro-batches in commit order; inside
    a micro-batch the largest row tuple wins."""
    if not frames:
        return pd.DataFrame(columns=COLS)
    allr = pd.concat([f.assign(_seq=i) for i, f in enumerate(frames)],
                     ignore_index=True)
    allr = allr.sort_values(["_seq"] + COLS[1:] + ["id"], kind="mergesort")
    out = allr.drop_duplicates("id", keep="last").drop(columns="_seq")
    return out.sort_values("id").reset_index(drop=True)


def aggregate(df: pd.DataFrame) -> list[tuple]:
    """The reader's aggregate, computed in pandas (integer-exact)."""
    g = df.groupby(GROUP).agg(n=("id", "size"),
                              delay=("departure_delay", "sum"),
                              bag=("baggage_handling", "sum")).reset_index()
    return sorted(tuple(int(x) if not isinstance(x, str) else x
                        for x in r) for r in g.itertuples(index=False))


def _same_rows(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Equal as multisets of rows."""
    if len(a) != len(b):
        return False
    a = a[COLS].astype(str).sort_values(COLS).values
    b = b[COLS].astype(str).sort_values(COLS).values
    return bool((a == b).all())


class LakehouseRefresh:
    user_op = USER_OP

    def __init__(self, ctx):
        from lakehouse_automation_spark.pipelines import (
            generate_survey, retention_sweep)
        from lakehouse_automation_spark.streaming.ingest import IngestPipeline
        from lakehouse_automation_spark.tableformat import CowTable

        from .freshness import FreshnessBook

        self.ctx = ctx
        self.generate_survey = generate_survey
        self.retention_sweep = retention_sweep
        self.CowTable = CowTable
        root = os.path.join(ctx.work, "lakehouse")
        self.staging = os.path.join(root, "staging")
        self.landing = os.path.join(root, "landing")
        self.table_dir = os.path.join(root, "ingested")
        self.cow_path = os.path.join(root, "cow")
        self.ledger_path = os.path.join(root, "ledger")
        os.makedirs(self.landing, exist_ok=True)
        self.pipe = IngestPipeline(
            ctx.spark, self.landing, self.table_dir,
            os.path.join(root, "checkpoint"), ledger_path=self.ledger_path)
        self.book = FreshnessBook()
        self.tbl = None
        self.batches: list[str] = []        # staged batch names
        self.frames: list[pd.DataFrame] = []
        self.user_bytes: list[int] = []
        self.landed = 0                     # batches landed so far
        self.ingested = 0                   # batches merged so far
        #: landed batches [start, end) of each micro-batch, in order
        self.mb_spans: list[tuple[int, int]] = []
        self.version_mbs: dict[int, int] = {}   # version -> micro-batches
        self.refreshes = 0
        self.reads: list[tuple[str, int, list]] = []  # (phase, version, rows)
        #: (phase, name) -> call durations or counts
        self.samples: dict[tuple[str, str], list[float]] = defaultdict(list)
        self.written_chunks: set[str] = set()
        self._cond = threading.Condition()
        self._reading: int | None = None
        self._gen_s = 0.0
        self.batch_phase: dict[int, str] = {}
        self.ledger_rows = 0

    # ------------------------------------------------------------ set-up

    def _stage(self, n: int) -> None:
        """Generate ``n`` batches with one seeded ``generate_survey`` call
        and stage each as a headered CSV file."""
        t0 = time.perf_counter()
        with self.ctx.tracer.span("pipelines.datagen.generate_survey"):
            rows = self.generate_survey(
                self.ctx.spark, ROWS_PER_BATCH * n,
                seed=self.ctx.seed).toPandas()[COLS]
        for i in range(n):
            name = f"datagen_b{i:04d}"
            frame = rows.iloc[i * ROWS_PER_BATCH:(i + 1) * ROWS_PER_BATCH] \
                .reset_index(drop=True)
            d = os.path.join(self.staging, name)
            os.makedirs(d)
            path = os.path.join(d, "part-00000.csv")
            frame.to_csv(path, index=False)
            self.frames.append(frame)
            self.user_bytes.append(os.path.getsize(path))
            self.batches.append(name)
        self._gen_s = (time.perf_counter() - t0) / n

    def _land(self, i: int, due: float) -> None:
        name = self.batches[i]
        dst = os.path.join(self.landing, name)
        os.rename(os.path.join(self.staging, name), dst)
        actual = time.time()
        os.utime(dst, (due, due))
        self.book.landed(i, due, actual)
        self.batch_phase[i] = self.ctx.harness.phase
        with self._cond:
            self.landed = i + 1
            self._cond.notify_all()

    def setup(self) -> None:
        """Stage every batch the run will land, then warm every op type:
        create, merge, sweep, compact, vacuum and read."""
        self._stage(WARMUP_BATCHES + self._per_phase(self.ctx.run_seconds)
                    * (2 if self.ctx.traced else 1))
        for i in range(WARMUP_BATCHES):
            self._land(i, time.time())
            self._refresh()
            self._read()
        self._maintain()

    # ------------------------------------------------------- the ops

    def _note(self, name: str, value: float) -> None:
        self.samples[(self.ctx.harness.phase, name)].append(value)

    def _timed_call(self, layer_call: str, fn):
        t0 = time.perf_counter()
        with self.ctx.tracer.span(layer_call):
            out = fn()
        self._note(layer_call, time.perf_counter() - t0)
        return out

    def _mb_dir(self, k: int) -> str:
        return os.path.join(self.table_dir, f"b{k}")

    def _updates(self, first: int, last: int):
        """Micro-batches ``[first, last)`` as one row per id: the latest
        micro-batch, then the largest row tuple."""
        from functools import reduce

        from pyspark.sql import functions as F

        spark = self.ctx.spark
        parts = [spark.read.parquet(self._mb_dir(k))
                 .select(*COLS).withColumn("_seq", F.lit(k))
                 for k in range(first, last)]
        u = reduce(lambda a, b: a.unionByName(b), parts)
        return (u.groupBy("id")
                .agg(F.max(F.struct("_seq", *COLS[1:])).alias("r"))
                .select("id", *[f"r.{c}" for c in COLS[1:]]))

    def _new_microbatches(self) -> list[tuple[int, int]]:
        """Landed batches held by each micro-batch written since the last
        refresh. Files are ingested in landing order and every batch has
        ``ROWS_PER_BATCH`` rows, so a micro-batch's row count says which
        batches it holds; the post-run check compares the contents."""
        spans = []
        start = self.ingested
        k = len(self.mb_spans)
        while os.path.isdir(self._mb_dir(k)):
            rows = sum(pq.ParquetFile(f).metadata.num_rows
                       for f in _parquet_files(self._mb_dir(k)))
            if rows % ROWS_PER_BATCH:
                raise RuntimeError(f"micro-batch b{k} holds {rows} rows, "
                                   f"not whole batches")
            spans.append((start, start + rows // ROWS_PER_BATCH))
            start += rows // ROWS_PER_BATCH
            k += 1
        return spans

    def _refresh(self) -> bool:
        def call():
            self._timed_call("streaming.ingest.run_available",
                             self.pipe.run_available)
            spans = self._new_microbatches()
            if not spans:
                return
            first = len(self.mb_spans)
            updates = self._updates(first, first + len(spans))
            if self.tbl is None:
                self.tbl = self._timed_call(
                    "tableformat.create",
                    lambda: self.CowTable.create(self.ctx.spark, updates,
                                                 self.cow_path))
                version = self.tbl.version()
            else:
                version = self._timed_call(
                    "tableformat.merge", lambda: self.tbl.merge(updates, "id"))
            self.mb_spans += spans
            self.version_mbs[version] = len(self.mb_spans)
            self.book.committed(version, list(range(self.ingested,
                                                    spans[-1][1])))
            self._note("ingest.batches", spans[-1][1] - self.ingested)
            self.ingested = spans[-1][1]
            self._track_written()
            newest_due = self.book.due[self.ingested - 1]
            deleted = self._timed_call(
                "pipelines.retention.retention_sweep",
                lambda: self.retention_sweep(self.landing, 0.0,
                                             now_s=newest_due))
            self._note("retention.deleted", len(deleted))

        op = self.ctx.harness.run("refresh", "ingest_merge", call)
        self.refreshes += 1
        return op.ok

    def _maintain(self) -> bool:
        def call():
            version = self._timed_call("tableformat.compact",
                                       lambda: self.tbl.compact(n_files=1))
            self.version_mbs[version] = len(self.mb_spans)
            self._track_written()
            with self._cond:
                tip = self.tbl.version()
                oldest = tip if self._reading is None else self._reading
            # never reclaim a snapshot the reader may still be scanning
            self._timed_call(
                "tableformat.vacuum",
                lambda: self.tbl.vacuum(retain_versions=max(2, tip - oldest + 1),
                                        grace_s=0.0))

        return self.ctx.harness.run("maintain", "compact_vacuum", call).ok

    def _read(self) -> None:
        from pyspark.sql import functions as F

        reader = self.CowTable(self.ctx.spark, self.cow_path)
        out = {}

        def call():
            with self._cond:
                v = reader.version()
                self._reading = v
            try:
                with self.ctx.tracer.span("tableformat.read"):
                    df = reader.read(version=v)
                with self.ctx.tracer.span("spark.collect"):
                    rows = (df.groupBy(*GROUP)
                            .agg(F.count(F.lit(1)).alias("n"),
                                 F.sum("departure_delay").alias("delay"),
                                 F.sum("baggage_handling").alias("bag"))
                            .collect())
            finally:
                with self._cond:
                    self._reading = None
            out["v"] = v
            out["rows"] = sorted(tuple(r) for r in rows)

        self.ctx.harness.run(USER_OP, "survey_aggregate", call)
        if "v" in out:
            self.book.reader_returned(out["v"], time.time())
            self.reads.append((self.ctx.harness.phase, out["v"], out["rows"]))

    def _track_written(self) -> None:
        for entry in os.listdir(self.cow_path):
            full = os.path.join(self.cow_path, entry)
            if entry.startswith("d") and entry not in self.written_chunks \
                    and os.path.isdir(full):
                self.written_chunks.add(entry)
                self._note("bytes_written", _dir_bytes(full)[0])

    # ------------------------------------------------------ timed phase

    @staticmethod
    def _per_phase(seconds: float) -> int:
        """Batches due inside a phase of ``seconds``."""
        return max(1, math.ceil(seconds / INTERVAL_S))

    def run_phase(self, seconds: float) -> None:
        """Land batches on schedule for ``seconds``; the reader goes on
        until ``seconds`` have passed and every batch landed in the
        phase has been seen by a reader."""
        stop = threading.Event()
        t0 = time.time()
        first = self.landed
        last = min(first + self._per_phase(seconds), len(self.batches))
        deadline = t0 + seconds + DRAIN_LIMIT_S
        errors: list[BaseException] = []

        def guard(fn):
            def body():
                try:
                    fn()
                except BaseException as e:  # noqa: BLE001
                    errors.append(e)
                    stop.set()
                    with self._cond:
                        self._cond.notify_all()
            return body

        def generator():
            for k, i in enumerate(range(first, last)):
                due = t0 + k * INTERVAL_S
                delay = due - time.time()
                if delay > 0 and stop.wait(delay):
                    return
                self._land(i, due)

        def refresher():
            while True:
                with self._cond:
                    while self.landed <= self.ingested and not stop.is_set() \
                            and self.ingested < last:
                        self._cond.wait(0.5)
                    if stop.is_set() or self.ingested >= last:
                        return
                ok = self._refresh()
                if ok and self.refreshes % MAINTAIN_EVERY == 0:
                    ok = self._maintain()
                if not ok or time.time() > deadline:
                    stop.set()   # a failed refresh is counted, not retried

        def reader():
            while not stop.is_set() and time.time() <= deadline:
                self._read()
                if time.time() >= t0 + seconds and self.ingested >= last \
                        and len(self.book.values(range(first, last))) \
                        == last - first:
                    return

        threads = [threading.Thread(target=guard(f), name=f.__name__)
                   for f in (generator, refresher, reader)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        if errors:
            raise errors[0]

    # ------------------------------------------------------------ report

    def ops_per_s(self, ops, phase: str, elapsed: float) -> float:
        return len(ops) / elapsed if elapsed > 0 else 0.0

    def latency_p50(self, ops, phase: str) -> float:
        """Median freshness of the batches landed in ``phase``."""
        return stats.median(self._freshness(phase))

    def _freshness(self, phase: str) -> list[float]:
        return self.book.values(
            [i for i, ph in self.batch_phase.items() if ph == phase])

    def extra_end_to_end(self, ops, phase: str) -> dict[str, float]:
        out = {"reader_latency_p50_s": stats.median([o.wall for o in ops])}
        p90 = stats.tail_percentile(self._freshness(phase), 0.9)
        if p90 is not None:
            out["freshness_p90_s"] = p90
        return out

    def detail(self) -> dict:
        return {"interval_s": INTERVAL_S, "rows_per_batch": ROWS_PER_BATCH,
                "batches_landed": self.landed, "batches_ingested": self.ingested,
                "refreshes": self.refreshes, "microbatches": self.mb_spans,
                "lag_max_s": self.book.lag_max(),
                "freshness_s": self.book.fresh}

    def layer_metrics(self, phase: str) -> dict[str, float]:
        def got(name):
            return self.samples.get((phase, name), [])

        ingested = [i for i, ph in self.batch_phase.items()
                    if ph == phase and i < self.ingested]
        user = sum(self.user_bytes[i] for i in ingested)
        live_b = live_f = 0
        if self.tbl is not None:
            for c in self.tbl.manifest()["chunks"]:
                b, f = _dir_bytes(os.path.join(self.cow_path, c))
                live_b += b
                live_f += f
        all_user = sum(self.user_bytes[:self.ingested])
        lags = [self.book.lag[i] for i in self.batch_phase
                if self.batch_phase[i] == phase and i in self.book.lag]
        return {
            "freshness_p50_s": self.latency_p50(None, phase),
            "streaming.ingest.run_available_s":
                stats.median(got("streaming.ingest.run_available")),
            "streaming.ingest.batches_per_refresh":
                stats.mean(got("ingest.batches")),
            "tableformat.merge_s": stats.median(got("tableformat.merge")),
            "tableformat.compact_s": stats.median(got("tableformat.compact")),
            "tableformat.vacuum_s": stats.median(got("tableformat.vacuum")),
            "tableformat.bytes_written_per_user_byte":
                sum(got("bytes_written")) / user if user else 0.0,
            "tableformat.live_bytes_per_user_byte":
                live_b / all_user if all_user else 0.0,
            "tableformat.live_files": float(live_f),
            "pipelines.datagen.generate_s": self._gen_s,
            "pipelines.retention.sweep_s":
                stats.median(got("pipelines.retention.retention_sweep")),
            "pipelines.retention.deleted": sum(got("retention.deleted")),
            "pipelines.ledger.rows": float(self.ledger_rows),
            "generator.lag_max_s": max(lags, default=0.0),
        }

    def check(self) -> list[tuple[str, bool, str]]:
        """Each micro-batch against the landed batches it is taken to
        hold, the table against last-writer-wins over them,
        ``CowTable.verify()``, one ledger row per refresh, and every
        reader result against its snapshot's expected rows."""
        if self.tbl is None:
            return [("table_created", False, "no refresh committed")]
        out = []
        groups = [pd.concat(self.frames[s:e], ignore_index=True)
                  for s, e in self.mb_spans]
        bad = [k for k, g in enumerate(groups)
               if not _same_rows(pd.concat(
                   [pd.read_parquet(f) for f in
                    _parquet_files(self._mb_dir(k))]), g)]
        out.append(("microbatches_hold_landed_batches", not bad,
                    f"micro-batches={len(groups)} mismatched={bad[:5]}"))
        want = lww(groups)
        got = (self.tbl.read().toPandas()[COLS].sort_values("id")
               .reset_index(drop=True))
        same = (len(got) == len(want) and
                (got.astype(str).values == want.astype(str).values).all())
        out.append(("table_equals_lww", bool(same),
                    f"rows={len(got)} expected={len(want)}"))
        v = self.tbl.verify()
        out.append(("cowtable_verify", bool(v["ok"]),
                    f"files_checked={v['files_checked']} "
                    f"missing={len(v['missing'])} "
                    f"mismatched={len(v['mismatched'])}"))
        led = self.pipe.ledger.read().toPandas()
        self.ledger_rows = len(led)
        applied = int((led["is_apply"] == 1).sum())
        out.append(("ledger_one_row_per_refresh",
                    applied == self.refreshes == len(self.mb_spans)
                    and len(led) == applied,
                    f"is_apply=1 rows={applied} rows={len(led)} "
                    f"refreshes={self.refreshes} "
                    f"micro-batches={len(self.mb_spans)}"))
        expected: dict[int, list] = {}
        bad = []
        for phase, version, rows in self.reads:
            if version not in expected:
                n = self.version_mbs.get(version)
                expected[version] = aggregate(lww(groups[:n])) \
                    if n is not None else None
            got_rows = [tuple(int(x) if not isinstance(x, str) else x
                              for x in r) for r in rows]
            if expected[version] != got_rows:
                bad.append(f"{phase}@v{version}")
        out.append(("reader_results", not bad,
                    f"reads={len(self.reads)} mismatched={bad[:5]}"))
        return out
