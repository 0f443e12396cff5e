"""Ingestion-pipeline tests (reference parity: datagen -> land ->
incremental load -> ledger -> retention; README.md:17-37's two-program
flow, deterministic)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lakehouse_automation_spark.pipelines.datagen import (
    CUSTOMER_TYPES, SATISFACTION, TRAVEL_TYPES,
    generate_survey, minute_stamp, write_survey_csv,
)
from lakehouse_automation_spark.pipelines.ledger import Ledger
from lakehouse_automation_spark.pipelines.retention import retention_sweep
from lakehouse_automation_spark.streaming.ingest import IngestPipeline


def test_generate_survey_domains(spark):
    """Generated values stay inside the closed domains (datagen.py:22-27)."""
    df = generate_survey(spark, rowcount=5000, seed=7)
    stats = df.agg(
        F.min("id"), F.max("id"),
        F.min("departure_delay"), F.max("departure_delay"),
        F.min("baggage_handling"), F.max("baggage_handling"),
    ).collect()[0]
    assert 1 <= stats[0] and stats[1] <= 129879
    assert 0 <= stats[2] and stats[3] <= 1599
    assert 1 <= stats[4] and stats[5] <= 4
    vals = {r[0] for r in df.select("customer_type").distinct().collect()}
    assert vals <= set(CUSTOMER_TYPES)
    assert {r[0] for r in df.select("travel_type").distinct().collect()} <= set(TRAVEL_TYPES)
    assert {r[0] for r in df.select("satisfaction").distinct().collect()} <= set(SATISFACTION)


def test_generate_survey_deterministic(spark):
    a = generate_survey(spark, 1000, seed=9).collect()
    b = generate_survey(spark, 1000, seed=9).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_minute_stamp_format():
    import datetime as dt
    import zoneinfo

    now = dt.datetime(2024, 3, 1, 23, 59, tzinfo=zoneinfo.ZoneInfo("Asia/Seoul"))
    assert minute_stamp(now) == "datagen_202403012359"
    # UTC moment converts into Seoul local time (datagen.py:65 parity)
    utc = dt.datetime(2024, 3, 1, 15, 0, tzinfo=dt.timezone.utc)  # 00:00 KST next day
    assert minute_stamp(utc) == "datagen_202403020000"


def test_csv_roundtrip(spark, tmp_path):
    df = generate_survey(spark, 500, seed=3)
    path = write_survey_csv(df, str(tmp_path), stamp="datagen_202401010000")
    assert os.path.basename(path) == "datagen_202401010000"
    back = spark.read.option("header", True).csv(path)
    assert back.count() == 500
    assert back.columns == df.columns


def test_ledger_roundtrip_and_topk(spark, tmp_path):
    import datetime as dt

    led = Ledger(spark, str(tmp_path / "ledger"))
    for i, ok in enumerate([True, False, True]):
        led.record("/root/lakehouse", ok, when=dt.datetime(2024, 1, 1, 10, i))
    assert led.read().count() == 3
    top2 = led.last_checks(2).collect()
    assert [r["checktime"].minute for r in top2] == [2, 1]
    assert [r["is_apply"] for r in top2] == [1, 0]


def _ledger_rows(led):
    return sorted(map(tuple, led.read().collect()))


def test_ledger_record_runs_no_spark_job(spark, tmp_path):
    """An append is a driver-side pyarrow file published with the
    create-if-absent step: zero Spark jobs, and no staging file left
    in the ledger directory."""
    import uuid

    sc = spark.sparkContext
    group = f"ledger_{uuid.uuid4().hex}"
    led = Ledger(spark, str(tmp_path / "ledger"))
    sc.setJobGroup(group, "ledger append", False)
    try:
        for ok in (True, False, True):
            led.record("/mnt/landing", ok)
    finally:
        sc.setJobGroup("", "", False)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    names = os.listdir(tmp_path / "ledger")
    assert len(names) == 3 and all(n.endswith(".parquet") for n in names)
    assert not [n for n in names if n.startswith(".tmp-")]
    assert [r.is_apply for r in led.read().orderBy("is_apply").collect()] \
        == [0, 1, 1]


def test_ledger_rows_match_spark_written_rows(spark, tmp_path):
    """The pyarrow writer stores the rows the old Spark writer stored
    (``createDataFrame(row, Ledger.SCHEMA).write``) — the same
    checktime instant for a naive and for a tz-aware ``when`` — and a
    directory mixing files from both writers reads as one ledger."""
    import datetime as dt

    whens = [dt.datetime(2024, 3, 1, 10, 30, 15, 250),
             dt.datetime(2024, 3, 1, 19, 30, tzinfo=dt.timezone(
                 dt.timedelta(hours=9)))]
    new = Ledger(spark, str(tmp_path / "new"))
    old = Ledger(spark, str(tmp_path / "old"))
    for i, when in enumerate(whens):
        new.record(f"/mnt/{i}", i == 0, when=when)
        spark.createDataFrame([(f"/mnt/{i}", int(i == 0), when)],
                              Ledger.SCHEMA) \
            .write.mode("append").parquet(old.path)
    assert _ledger_rows(new) == _ledger_rows(old)
    # same instants, not just the same wall-clock rendering
    instants = new.read().select(F.unix_micros("checktime")).collect()
    assert sorted(r[0] for r in instants) == sorted(
        int(w.timestamp() * 1_000_000) for w in whens)

    # one directory, both writers' files
    mixed = Ledger(spark, old.path)
    mixed.record("/mnt/2", True, when=dt.datetime(2024, 3, 2))
    rows = _ledger_rows(mixed)
    assert len(rows) == 3
    assert [r.checktime.day for r in mixed.last_checks(1).collect()] == [2]
    assert not [n for n in os.listdir(old.path) if n.startswith(".tmp-")]


def test_run_available_raises_on_timeout_then_resumes(spark, tmp_path):
    """A run that cannot drain in time must not return as if the landed
    set were loaded: it raises TimeoutError after stopping the query,
    and the next run still loads every row exactly once."""
    import pytest

    landing, table_dir = str(tmp_path / "landing"), str(tmp_path / "table")
    batch = generate_survey(spark, 400, seed=11)
    write_survey_csv(batch, landing, stamp="datagen_t0")
    pipe = IngestPipeline(spark, landing, table_dir, str(tmp_path / "ckpt"))
    with pytest.raises(TimeoutError):
        pipe.run_available(timeout_s=0.001)
    pipe.run_available()
    cols = batch.columns
    got = sorted(map(tuple, pipe.table().select(*cols).collect()))
    assert got == sorted(map(tuple, batch.collect()))


def test_retention_sweep(tmp_path):
    old = tmp_path / "datagen_202301010000"
    new = tmp_path / "datagen_202501010000"
    old.mkdir(), new.mkdir()
    os.utime(old, (1_000_000, 1_000_000))  # ancient mtime
    deleted = retention_sweep(str(tmp_path), max_age_days=1.0)
    assert [os.path.basename(p) for p in deleted] == ["datagen_202301010000"]
    assert new.exists() and not old.exists()


def test_ingest_pipeline_exactly_once(spark, tmp_path):
    """Land files -> ingest -> land more -> ingest again: each row loads
    exactly once (the checkpoint replaces the mtime heuristic whose
    race can skip files, SURVEY §3 EP2)."""
    landing, table_dir = str(tmp_path / "landing"), str(tmp_path / "table")
    ckpt, ledger = str(tmp_path / "ckpt"), str(tmp_path / "ledger")

    batch1 = generate_survey(spark, 300, seed=1)
    write_survey_csv(batch1, landing, stamp="datagen_t0")
    pipe = IngestPipeline(spark, landing, table_dir, ckpt, ledger_path=ledger)
    pipe.run_available()
    assert pipe.table().count() == 300

    write_survey_csv(generate_survey(spark, 200, seed=2), landing, stamp="datagen_t1")
    pipe.run_available()
    assert pipe.table().count() == 500  # no re-load of batch1 (exactly-once)

    led = Ledger(spark, ledger)
    assert led.read().filter(F.col("is_apply") == 1).count() >= 2


def test_ingest_pipeline_survives_process_restart(spark, tmp_path):
    """A NEW IngestPipeline instance on the same checkpoint (process
    restart) resumes without re-loading or skipping: rows stay
    exactly-once across the restart boundary."""
    landing, table_dir = str(tmp_path / "landing"), str(tmp_path / "table")
    ckpt, ledger = str(tmp_path / "ckpt"), str(tmp_path / "ledger")

    write_survey_csv(generate_survey(spark, 250, seed=5), landing,
                     stamp="datagen_t0")
    IngestPipeline(spark, landing, table_dir, ckpt,
                   ledger_path=ledger).run_available()

    # "restart": a brand-new pipeline object, same checkpoint
    pipe2 = IngestPipeline(spark, landing, table_dir, ckpt,
                           ledger_path=ledger)
    pipe2.run_available()  # nothing new landed: must be a no-op
    assert pipe2.table().count() == 250

    write_survey_csv(generate_survey(spark, 100, seed=6), landing,
                     stamp="datagen_t1")
    pipe2.run_available()
    assert pipe2.table().count() == 350


# ---------------------------------------------- histogram / stratified / paths

def test_hist_bins_partition_the_table(spark):
    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = sorted(REGISTRY["agg_hist_bins"].fn(spark, sf).collect(),
                  key=lambda r: r.bucket)
    li = REGISTRY["agg_hist_bins"].fn.__globals__["t"](spark, sf, "lineitem")
    total = li.count()
    assert sum(r.n for r in rows) == total          # every row binned once
    assert 1 <= len(rows) <= 20
    assert all(0 <= r.bucket <= 19 for r in rows)
    for a, b in zip(rows, rows[1:]):                # contiguous edges
        if b.bucket == a.bucket + 1:
            assert abs(a.hi_edge - b.lo_edge) < 1e-9
    import pyspark.sql.functions as F
    mn, mx = li.agg(F.min("l_extendedprice"), F.max("l_extendedprice")).first()
    assert abs(rows[0].lo_edge - mn) < 1e-9
    assert abs(rows[-1].hi_edge - mx) < 1e-9 or rows[-1].bucket < 19


def test_hist_bins_single_valued_corpus(spark, tmp_path):
    """A single-valued column makes the bucket expression 0/0 = NaN,
    and under ANSI mode CAST(NaN AS INT) throws (review r7): the
    mx = mn branch must short-circuit to bucket 0, identically in the
    Spark query and the DuckDB oracle."""
    import duckdb

    from lakehouse_automation_spark.queries import REGISTRY

    df = spark.range(37).selectExpr("CAST(42.5 AS DOUBLE) AS l_extendedprice")
    df.write.parquet(str(tmp_path / "lineitem.parquet"))
    rows = REGISTRY["agg_hist_bins"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert rows[0].bucket == 0 and rows[0].n == 37
    assert rows[0].lo_edge == 42.5 and rows[0].hi_edge == 42.5
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM "
        f"parquet_scan('{tmp_path}/lineitem.parquet/*.parquet')")
    got = con.execute(REGISTRY["agg_hist_bins"].oracle).fetchall()
    assert [(r[0], float(r[1]), float(r[2]), r[3]) for r in got] \
        == [(0, 42.5, 42.5, 37)]


def test_stratified_topk_is_exact_k_and_stable(spark):
    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    out1 = REGISTRY["sample_stratified_topk"].fn(spark, sf).collect()
    out2 = REGISTRY["sample_stratified_topk"].fn(spark, sf).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))  # reproducible
    per = {}
    for r in out1:
        per.setdefault(r.source, set()).add(r.doc_id)
    docs = REGISTRY["sample_stratified_topk"].fn.__globals__["t"](
        spark, sf, "documents")
    import pyspark.sql.functions as F
    sizes = {r.source: r.n for r in
             docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(per) == {s for s, n in sizes.items() if n > 0}
    for s, ids in per.items():
        assert len(ids) == min(3, sizes[s]), s


def test_event_paths_match_python_replay(spark):
    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    ev = (REGISTRY["event_path_analysis"].fn.__globals__["t"](
        spark, sf, "events")
        .select("user_id", "event_id", "event_type", "ts").collect())
    seq = {}
    for r in sorted(ev, key=lambda r: (r.ts, r.event_id)):
        seq.setdefault(r.user_id, []).append(r.event_type)
    counts = {}
    for types in seq.values():
        for i in range(len(types) - 2):
            p = ">".join(types[i:i + 3])
            counts[p] = counts.get(p, 0) + 1
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    got = [(r.path, r.n) for r in sorted(
        REGISTRY["event_path_analysis"].fn(spark, sf).collect(),
        key=lambda r: r.rk)]
    assert got == want


def test_bitmap_distinct_matches_exact(spark):
    """The bitmap tier must be EXACT (that is its point vs HLL): every
    per-type count and the or-merged total equal plain countDistinct."""
    import pyspark.sql.functions as F
    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    got = {r.event_type: r.n_users
           for r in REGISTRY["agg_bitmap_distinct"].fn(spark, sf).collect()}
    ev = REGISTRY["agg_bitmap_distinct"].fn.__globals__["t"](
        spark, sf, "events")
    want = {r.event_type: r.n for r in
            ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n")).collect()}
    want["__all__"] = ev.agg(
        F.countDistinct("user_id")).first()[0]
    assert got == want


def test_scan_text_roundtrip_counts(spark):
    import pyspark.sql.functions as F
    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    r = REGISTRY["scan_text"].fn(spark, sf).first()
    docs = REGISTRY["scan_text"].fn.__globals__["t"](spark, sf, "documents")
    assert r.n_lines == docs.count()
    assert r.total_chars == docs.agg(
        F.sum(F.length(F.regexp_replace("text", r"[\r\n]+", " ")))).first()[0]


def test_weighted_sample_favors_heavy_docs_and_is_stable(spark):
    """Priority sampling: exactly k rows, reproducible, and the
    sample's mean weight exceeds the corpus mean (heavier docs are
    likelier in) while priorities are the documented w/u form."""
    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    out1 = REGISTRY["sample_weighted"].fn(spark, sf).collect()
    out2 = REGISTRY["sample_weighted"].fn(spark, sf).collect()
    assert [tuple(r) for r in out1] == [tuple(r) for r in out2]
    assert len(out1) == 100
    pris = [r.priority for r in out1]
    assert pris == sorted(pris, reverse=True)
    import pyspark.sql.functions as F
    corpus_mean = (spark.read.parquet(f"{sf}/documents.parquet")
                   .agg(F.avg("n_chars")).first()[0])
    sample_mean = sum(r.n_chars for r in out1) / len(out1)
    assert sample_mean > corpus_mean


def test_gini_replays_in_python(spark):
    """Per-nation supplier-revenue gini: exact integer replay of the
    sorted-rank identity from raw lineitems (4-decimal units), plus
    the [0, 1) bound and the n=1 => 0 degenerate case."""
    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["agg_gini"].fn(spark, sf).collect()
    assert rows
    li = (spark.read.parquet(f"{sf}/lineitem.parquet")
          .select("l_suppkey", "l_extendedprice", "l_discount").collect())
    sup = {r.s_suppkey: r.s_nationkey for r in
           spark.read.parquet(f"{sf}/supplier.parquet").collect()}
    nat = {r.n_nationkey: r.n_name for r in
           spark.read.parquet(f"{sf}/nation.parquet").collect()}
    rev = {}
    for r in li:
        # price/discount have <= 2 decimals so the product has an
        # exact 4-decimal value; nearest-int recovers it from double
        r4 = round(r.l_extendedprice * (1 - r.l_discount) * 10000)
        rev[r.l_suppkey] = rev.get(r.l_suppkey, 0) + r4
    by_nat = {}
    for sk, r4 in rev.items():
        by_nat.setdefault(sup[sk], []).append((r4, sk))
    want = {}
    for nk, xs in by_nat.items():
        xs.sort()
        n, s = len(xs), sum(r for r, _ in xs)
        w = sum((i + 1) * r for i, (r, _) in enumerate(xs))
        want[nat[nk]] = (n, round((2 * w - (n + 1) * s) / (n * s), 6),
                         s / 10000)
    got = {r.n_name: (r.n_suppliers, r.gini, r.total_revenue)
           for r in rows}
    assert set(got) == set(want)
    for name, (n, gini, tot) in want.items():
        gn, gg, gt = got[name]
        assert (gn, gg) == (n, gini), name
        assert abs(gt - tot) < 1e-6
        assert 0.0 <= gg < 1.0
        if n == 1:
            assert gg == 0.0


def test_entropy_bounds_and_replay(spark):
    """Daily event-type entropy: 0 <= H <= ln(n_types), exact counts,
    and a float replay within the 6-dp rounding tolerance."""
    import math

    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["agg_entropy"].fn(spark, sf).collect()
    assert rows
    ev = (spark.read.parquet(f"{sf}/events.parquet")
          .select(F.expr("unix_micros(CAST(ts AS TIMESTAMP))"
                         " div 86400000000").alias("day"), "event_type")
          .collect())
    cnt = {}
    for r in ev:
        cnt.setdefault(r.day, {}).setdefault(r.event_type, 0)
        cnt[r.day][r.event_type] += 1
    assert {r.day for r in rows} == set(cnt)
    for r in rows:
        per = cnt[r.day]
        tot = sum(per.values())
        assert (r.n_events, r.n_types) == (tot, len(per))
        h = -sum((n / tot) * math.log(n / tot) for n in per.values())
        assert abs(r.entropy - h) < 2e-6
        assert -1e-9 <= r.entropy <= math.log(len(per)) + 1e-9


def test_rake_replays_in_python(spark):
    """Word-level RAKE: freq/degree/score replay exactly from the raw
    text (python gaps-and-islands), including the top-50 cut."""
    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["text_rake_keywords"].fn(spark, sf).collect()
    assert rows
    docs = spark.read.parquet(f"{sf}/documents.parquet") \
        .select("text").collect()
    freq, degree = {}, {}
    for d in docs:
        phrase = []
        for tok in d.text.split(" ") + ["the"]:  # sentinel flush
            if tok == "" or tok in ("the", "a"):
                for w in phrase:
                    freq[w] = freq.get(w, 0) + 1
                    degree[w] = degree.get(w, 0) + len(phrase)
                phrase = []
            else:
                phrase.append(tok)
    scored = sorted(((degree[w] / freq[w], w) for w in freq),
                    key=lambda t: (-t[0], t[1]))[:50]
    got = [(r.score, r.word) for r in rows]
    assert got == scored
    for r in rows:
        assert r.degree >= r.freq and r.score >= 1.0


def test_intervals_overlap_replays_in_python(spark):
    """Sweep-line peak concurrency: exact replay of per-priority open
    counts, first-peak-day tie-break, and order totals."""
    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["win_intervals_overlap"].fn(spark, sf).collect()
    assert rows
    orders = (spark.read.parquet(f"{sf}/orders.parquet")
              .select("o_orderkey", "o_orderpriority",
                      F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))"
                             " div 86400000000").alias("d0")).collect())
    ship = (spark.read.parquet(f"{sf}/lineitem.parquet")
            .select("l_orderkey",
                    F.expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))"
                           " div 86400000000").alias("sd")).collect())
    d1 = {}
    for r in ship:
        d1[r.l_orderkey] = max(d1.get(r.l_orderkey, r.sd), r.sd)
    want = {}
    for o in orders:
        if o.o_orderkey not in d1:      # inner join drops lineless
            continue
        deltas, n = want.setdefault(o.o_orderpriority, ({}, [0]))
        deltas[o.d0] = deltas.get(o.d0, 0) + 1
        e = d1[o.o_orderkey] + 1
        deltas[e] = deltas.get(e, 0) - 1
        n[0] += 1
    expect = {}
    for pri, (deltas, n) in want.items():
        open_now, best, best_day = 0, None, None
        for day in sorted(deltas):
            open_now += deltas[day]
            if best is None or open_now > best:
                best, best_day = open_now, day
        expect[pri] = (best, best_day, n[0])
    got = {r.priority: (r.peak_open, r.peak_day, r.n_orders)
           for r in rows}
    assert got == expect


def test_jaccard_neighbors_replays_in_python(spark):
    """Edge-wise neighborhood Jaccard: adjacency sets rebuilt from the
    thinned co-supplier graph; counts exact, ratio the one shared
    IEEE divide; bounds (0, 1]."""
    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.01"   # the thinned graph is empty at sf0.001
    rows = REGISTRY["graph_jaccard_neighbors"].fn(spark, sf).collect()
    assert rows
    li = (spark.read.parquet(f"{sf}/lineitem.parquet")
          .filter(F.col("l_orderkey") % 10 == 0)
          .select("l_orderkey", "l_suppkey").collect())
    nat = {r.s_suppkey: r.s_nationkey for r in
           spark.read.parquet(f"{sf}/supplier.parquet").collect()}
    per_order = {}
    for r in li:
        per_order.setdefault((r.l_orderkey, nat[r.l_suppkey]),
                             set()).add(r.l_suppkey)
    adj = {}
    edges = set()
    for sups in per_order.values():
        ss = sorted(sups)
        for i, a in enumerate(ss):
            for b in ss[i + 1:]:
                edges.add((a, b))
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
    got = {(r.node_a, r.node_b):
           (r.n_common, r.deg_a, r.deg_b, r.jaccard) for r in rows}
    assert set(got) == edges
    for (a, b), (nc, da, db, j) in got.items():
        common = len(adj[a] & adj[b])
        assert (nc, da, db) == (common, len(adj[a]), len(adj[b]))
        assert j == float(common) / float(da + db - common)
        assert 0.0 <= j <= 1.0
        assert da + db - common >= 2


def test_linreg_trend_replays_in_python(spark):
    """Per-nation OLS: integer power sums replay exactly (python ints
    are unbounded, mirroring the 128-bit engine sums) and the final
    IEEE divisions are bit-equal."""
    from decimal import Decimal

    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["ts_linreg_trend"].fn(spark, sf).collect()
    assert rows
    li = (spark.read.parquet(f"{sf}/lineitem.parquet")
          .select("l_suppkey", "l_extendedprice",
                  F.expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))"
                         " div 86400000000").alias("day")).collect())
    nat = {r.s_suppkey: r.s_nationkey for r in
           spark.read.parquet(f"{sf}/supplier.parquet").collect()}
    daily = {}
    for r in li:
        k = (nat[r.l_suppkey], r.day)
        daily[k] = daily.get(k, 0) + int(
            Decimal(str(r.l_extendedprice)) * 100)
    day0 = min(d for _, d in daily)
    sums = {}
    for (nk, d), cents in daily.items():
        x = d - day0
        s = sums.setdefault(nk, [0, 0, 0, 0, 0])
        s[0] += 1
        s[1] += x
        s[2] += cents
        s[3] += x * cents
        s[4] += x * x
    got = {r.nation: r for r in rows}
    assert set(got) == set(sums)
    for nk, (n, sx, sy, sxy, sxx) in sums.items():
        r = got[nk]
        slope = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
        assert r.n_days == n
        assert r.slope_cents_per_day == slope
        assert r.intercept_cents == \
            (float(sy) - slope * float(sx)) / float(n)
        assert abs(r.total_revenue - sy / 100) < 1e-6


def test_collocations_replay_in_python(spark):
    """Bigram lift: exact count replay, the support floor, the shared
    IEEE ratio, and the deterministic top-100 ordering."""
    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["text_collocations"].fn(spark, sf).collect()
    assert rows
    docs = (spark.read.parquet(f"{sf}/documents.parquet")
            .select("text").collect())
    uni, big, total = {}, {}, 0
    for r in docs:
        toks = r.text.split(" ")
        total += len(toks)
        for tk in toks:
            uni[tk] = uni.get(tk, 0) + 1
        for a, b in zip(toks, toks[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    scored = []
    for (x, y), c_xy in big.items():
        if c_xy < 5:
            continue
        lift = (float(c_xy) * float(total)) / \
            (float(uni[x]) * float(uni[y]))
        scored.append((x, y, c_xy, uni[x], uni[y], lift))
    scored.sort(key=lambda s: (-s[5], s[0], s[1]))
    expect = scored[:100]
    got = [(r.x, r.y, r.c_xy, r.c_x, r.c_y, r.lift) for r in rows]
    assert got == expect


def test_mad_outliers_replays_in_python(spark):
    """Median/MAD/3-MAD fence: exact doubled/quadrupled-integer
    replay from raw lineitems, including odd and even group sizes."""
    from decimal import Decimal

    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["agg_mad_outliers"].fn(spark, sf).collect()
    assert rows
    li = (spark.read.parquet(f"{sf}/lineitem.parquet")
          .select("l_suppkey", "l_extendedprice", "l_discount")
          .collect())
    sup = {r.s_suppkey: r.s_nationkey for r in
           spark.read.parquet(f"{sf}/supplier.parquet").collect()}
    nat = {r.n_nationkey: r.n_name for r in
           spark.read.parquet(f"{sf}/nation.parquet").collect()}
    rev = {}
    for r in li:
        r4 = round(r.l_extendedprice * (1 - r.l_discount) * 10000)
        rev[r.l_suppkey] = rev.get(r.l_suppkey, 0) + r4
    by_nat = {}
    for sk, r4 in rev.items():
        by_nat.setdefault(sup[sk], []).append(r4)

    def med2(xs):
        xs = sorted(xs)
        n = len(xs)
        return xs[(n + 1) // 2 - 1] + xs[(n + 2) // 2 - 1]

    got = {r.n_name: r for r in rows}
    assert len(got) == len(by_nat)
    for nk, xs in by_nat.items():
        m2 = med2(xs)
        dev2 = [abs(2 * x - m2) for x in xs]
        m4 = med2(dev2)
        n_out = sum(1 for d in dev2 if 2 * d > 3 * m4)
        r = got[nat[nk]]
        assert r.n_suppliers == len(xs)
        assert r.median_revenue == m2 / 20000
        assert r.mad_revenue == m4 / 40000
        assert r.n_outliers == n_out


def test_skew_kurt_replays_in_python(spark):
    """Moment sums replay as unbounded ints; skew/kurt equal the
    shared IEEE expression bit-for-bit; sanity bounds hold."""
    import math

    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["agg_skew_kurt"].fn(spark, sf).collect()
    assert rows
    li = (spark.read.parquet(f"{sf}/lineitem.parquet")
          .select("l_returnflag", "l_quantity").collect())
    sums = {}
    for r in li:
        q = int(r.l_quantity)
        s = sums.setdefault(r.l_returnflag, [0, 0, 0, 0, 0])
        s[0] += 1
        s[1] += q
        s[2] += q * q
        s[3] += q ** 3
        s[4] += q ** 4
    got = {r.l_returnflag: r for r in rows}
    assert set(got) == set(sums)
    for fl, (n, s1, s2, s3, s4) in sums.items():
        r = got[fl]
        nd = float(n)
        mean = float(s1) / nd
        r2, r3, r4 = float(s2) / nd, float(s3) / nd, float(s4) / nd
        m2 = r2 - mean * mean
        m3 = r3 - 3 * mean * r2 + 2 * mean * mean * mean
        m4 = (r4 - 4 * mean * r3 + 6 * mean * mean * r2
              - 3 * mean * mean * mean * mean)
        assert r.n_rows == n
        assert r.mean_qty == mean
        assert r.var_pop == m2
        assert r.skewness_pop == m3 / (m2 * math.sqrt(m2))
        assert r.kurtosis_excess == m4 / (m2 * m2) - 3
        # uniform-ish quantity: near-flat distribution
        assert abs(r.skewness_pop) < 0.5
        assert -2.0 < r.kurtosis_excess < 1.0


def test_weighted_median_replays_in_python(spark):
    """Lower weighted median: integer 2*cum >= total replay, and the
    weighted median differs from the unweighted when volumes skew."""
    from decimal import Decimal

    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["agg_weighted_median"].fn(spark, sf).collect()
    assert rows
    li = (spark.read.parquet(f"{sf}/lineitem.parquet")
          .select("l_returnflag", "l_extendedprice", "l_quantity")
          .collect())
    agg = {}
    for r in li:
        cents = int(Decimal(str(r.l_extendedprice)) * 100)
        key = (r.l_returnflag, cents)
        agg[key] = agg.get(key, 0) + int(r.l_quantity)
    by_flag = {}
    for (fl, cents), w in agg.items():
        by_flag.setdefault(fl, []).append((cents, w))
    got = {r.l_returnflag: r for r in rows}
    assert set(got) == set(by_flag)
    for fl, vw in by_flag.items():
        vw.sort()
        tw = sum(w for _, w in vw)
        cum = 0
        wm = None
        for cents, w in vw:
            cum += w
            if 2 * cum >= tw:
                wm = cents
                break
        r = got[fl]
        assert r.total_weight == tw
        assert r.weighted_median_price == wm / 100


def test_crosscorr_replays_in_python(spark):
    """Nation-pair Pearson: 128-bit-exact sums replay as python ints;
    the final expression is bit-equal; values lie in [-1, 1]."""
    import math
    from decimal import Decimal

    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["ts_crosscorr"].fn(spark, sf).collect()
    assert rows
    li = (spark.read.parquet(f"{sf}/lineitem.parquet")
          .select("l_suppkey", "l_extendedprice",
                  F.expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))"
                         " div 86400000000").alias("day")).collect())
    nat = {r.s_suppkey: r.s_nationkey for r in
           spark.read.parquet(f"{sf}/supplier.parquet").collect()}
    daily = {}
    for r in li:
        k = (nat[r.l_suppkey], r.day)
        daily[k] = daily.get(k, 0) + int(
            Decimal(str(r.l_extendedprice)) * 100)
    series = {}
    for (nk, d), cents in daily.items():
        series.setdefault(nk, {})[d] = cents
    got = {(r.nation_a, r.nation_b): r for r in rows}
    nations = sorted(series)
    want_pairs = set()
    for i, a in enumerate(nations):
        for b in nations[i + 1:]:
            common = set(series[a]) & set(series[b])
            if common:
                want_pairs.add((a, b))
    assert set(got) == want_pairs
    for (a, b), r in got.items():
        common = sorted(set(series[a]) & set(series[b]))
        xs = [series[a][d] for d in common]
        ys = [series[b][d] for d in common]
        n = len(common)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx = sum(x * x for x in xs)
        syy = sum(y * y for y in ys)
        corr = float(n * sxy - sx * sy) / (
            math.sqrt(float(n * sxx - sx * sx))
            * math.sqrt(float(n * syy - sy * sy)))
        assert r.n_days == n
        assert r.corr == corr
        assert -1.0 <= r.corr <= 1.0


def test_shortest_paths_replays_in_python(spark):
    """Multi-source BFS: exact hop distances vs a python BFS over the
    rebuilt graph, the 6-hop cap, and the landmark flag."""
    from collections import deque

    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.01"   # thinned graph empty at sf0.001
    rows = REGISTRY["graph_shortest_paths"].fn(spark, sf).collect()
    assert rows
    li = (spark.read.parquet(f"{sf}/lineitem.parquet")
          .filter(F.col("l_orderkey") % 10 == 0)
          .select("l_orderkey", "l_suppkey").collect())
    nat = {r.s_suppkey: r.s_nationkey for r in
           spark.read.parquet(f"{sf}/supplier.parquet").collect()}
    per_order = {}
    for r in li:
        per_order.setdefault((r.l_orderkey, nat[r.l_suppkey]),
                             set()).add(r.l_suppkey)
    adj = {}
    for sups in per_order.values():
        ss = sorted(sups)
        for i, a in enumerate(ss):
            for b in ss[i + 1:]:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
    dist = {n: 0 for n in adj if n % 10 == 0}
    frontier = deque(dist)
    while frontier:
        u = frontier.popleft()
        if dist[u] >= 6:
            continue
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                frontier.append(v)
    got = {r.node: (r.dist, r.is_landmark) for r in rows}
    assert set(got) == set(adj)
    for n in adj:
        d = dist.get(n, -1)
        if d > 6:
            d = -1
        assert got[n] == (d, 1 if n % 10 == 0 else 0), n


def test_monthly_growth_replays_in_python(spark):
    """Month-over-month: exact cent levels/deltas, shared-IEEE
    growth, NULL first periods."""
    from decimal import Decimal

    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["ts_monthly_growth"].fn(spark, sf).collect()
    assert rows
    li = (spark.read.parquet(f"{sf}/lineitem.parquet")
          .select("l_suppkey", "l_extendedprice",
                  F.year(F.col("l_shipdate").cast("date")).alias("y"),
                  F.month(F.col("l_shipdate").cast("date")).alias("m"))
          .collect())
    nat = {r.s_suppkey: r.s_nationkey for r in
           spark.read.parquet(f"{sf}/supplier.parquet").collect()}
    monthly = {}
    for r in li:
        k = (nat[r.l_suppkey], r.y * 100 + r.m)
        monthly[k] = monthly.get(k, 0) + int(
            Decimal(str(r.l_extendedprice)) * 100)
    series = {}
    for (nk, ym), cents in monthly.items():
        series.setdefault(nk, []).append((ym, cents))
    got = {(r.nation, r.ym): r for r in rows}
    assert len(got) == len(monthly)
    for nk, pts in series.items():
        pts.sort()
        prev = None
        for ym, cents in pts:
            r = got[(nk, ym)]
            assert r.revenue == cents / 100
            if prev is None:
                assert r.delta_cents is None and r.growth is None
            else:
                assert r.delta_cents == cents - prev
                assert r.growth == float(cents - prev) / float(prev)
            prev = cents


def test_vec_dispersion_replays_in_python(spark):
    """Single-pass dispersion identity vs the direct two-pass python
    computation on floored fixed-point units; non-negative."""
    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["vec_dispersion"].fn(spark, sf).collect()
    assert rows
    import math

    emb = (spark.read.parquet(f"{sf}/embeddings.parquet")
           .select("label", "embedding").collect())
    by_label = {}
    for r in emb:
        by_label.setdefault(r.label, []).append(
            [math.floor(float(v) * 1000000) for v in r.embedding])
    got = {r.label: r for r in rows}
    assert set(got) == set(by_label)
    for lb, vecs in by_label.items():
        n = len(vecs)
        q = sum(sum(v * v for v in vec) for vec in vecs)
        sd = [sum(col) for col in zip(*vecs)]
        ssd = sum(s * s for s in sd)
        disp = float(n * q - ssd) / (float(n) * float(n)) / 1e12
        r = got[lb]
        assert r.n_vectors == n
        assert r.dispersion == disp
        assert r.dispersion >= 0.0
        # cross-check the identity against the direct formulation
        cent = [s / n for s in sd]
        direct = sum(
            sum((v - c) ** 2 for v, c in zip(vec, cent))
            for vec in vecs) / n / 1e12
        assert abs(direct - disp) < 1e-6 * max(1.0, disp)


def test_freq_histogram_replays_in_python(spark):
    """Frequency-of-frequencies: mass conservation (sum k*n = orders,
    sum n = customers, shares sum to 1) and exact counts."""
    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["agg_freq_histogram"].fn(spark, sf).collect()
    assert rows
    orders = (spark.read.parquet(f"{sf}/orders.parquet")
              .select("o_custkey").collect())
    per = {}
    for r in orders:
        per[r.o_custkey] = per.get(r.o_custkey, 0) + 1
    hist = {}
    for k in per.values():
        hist[k] = hist.get(k, 0) + 1
    got = {r.orders_per_customer: r for r in rows}
    assert {k: r.n_customers for k, r in got.items()} == hist
    assert sum(k * r.n_customers for k, r in got.items()) == len(orders)
    total = len(per)
    for k, r in got.items():
        assert r.share == float(hist[k]) / float(total)
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-12


def test_sample_estimate_replays_in_python(spark):
    """Deterministic hash sample: exact replay of both sides from raw
    rows (same md5 sample membership), and estimate consistency."""
    import hashlib
    from decimal import Decimal

    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["agg_sample_estimate"].fn(spark, sf).collect()
    assert rows
    li = (spark.read.parquet(f"{sf}/lineitem.parquet")
          .select("l_returnflag", "l_orderkey", "l_linenumber",
                  "l_extendedprice").collect())
    agg = {}
    for r in li:
        cents = int(Decimal(str(r.l_extendedprice)) * 100)
        key = f"se:{r.l_orderkey}:{r.l_linenumber}"
        h = int(hashlib.md5(key.encode()).hexdigest()[:15], 16)
        s = agg.setdefault(r.l_returnflag, [0, 0, 0, 0])
        s[0] += 1
        s[1] += cents
        if h % 100 == 0:
            s[2] += 1
            s[3] += cents
    got = {r.l_returnflag: r for r in rows}
    assert set(got) == set(agg)
    for fl, (n, cents, ns, sc) in agg.items():
        r = got[fl]
        est = sc * 100
        assert r.n_exact == n
        assert r.sum_exact == cents / 100
        assert r.n_sample == ns
        assert r.sum_estimate == est / 100
        rel = abs(float(est - cents)) / float(cents)
        assert r.rel_err == rel
        assert r.within_bound == (rel <= 0.05)


def test_assortativity_replays_in_python(spark):
    """Newman's r: exact degree cross sums over the rebuilt graph and
    the shared-IEEE Pearson value; r in [-1, 1]."""
    import math

    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.01"   # thinned graph empty at sf0.001
    rows = REGISTRY["graph_assortativity"].fn(spark, sf).collect()
    assert len(rows) == 1
    li = (spark.read.parquet(f"{sf}/lineitem.parquet")
          .filter(F.col("l_orderkey") % 10 == 0)
          .select("l_orderkey", "l_suppkey").collect())
    nat = {r.s_suppkey: r.s_nationkey for r in
           spark.read.parquet(f"{sf}/supplier.parquet").collect()}
    per_order = {}
    for r in li:
        per_order.setdefault((r.l_orderkey, nat[r.l_suppkey]),
                             set()).add(r.l_suppkey)
    adj = {}
    for sups in per_order.values():
        ss = sorted(sups)
        for i, a in enumerate(ss):
            for b in ss[i + 1:]:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
    n = sx = sy = sxy = sxx = syy = 0
    for u, nbrs in adj.items():
        du = len(nbrs)
        for v in nbrs:
            dv = len(adj[v])
            n += 1
            sx += du
            sy += dv
            sxy += du * dv
            sxx += du * du
            syy += dv * dv
    r = rows[0]
    assert r.n_nodes == len(adj)
    assert r.n_edges == n // 2
    want = float(n * sxy - sx * sy) / (
        math.sqrt(float(n * sxx - sx * sx))
        * math.sqrt(float(n * syy - sy * sy)))
    assert r.assortativity == want
    assert -1.0 <= r.assortativity <= 1.0


def test_cumulative_distinct_replays_in_python(spark):
    """Running COUNT(DISTINCT) via first-occurrence cumsum: exact
    replay, monotone non-decreasing, ends at the user's true
    distinct-type count."""
    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["win_cumulative_distinct"].fn(spark, sf).collect()
    assert rows
    ev = (spark.read.parquet(f"{sf}/events.parquet")
          .select("user_id", "event_type",
                  F.expr("unix_micros(CAST(ts AS TIMESTAMP))"
                         " div 86400000000").alias("day")).collect())
    seen_days = {}
    first = {}
    types = {}
    for r in ev:
        seen_days.setdefault(r.user_id, set()).add(r.day)
        k = (r.user_id, r.event_type)
        first[k] = min(first.get(k, r.day), r.day)
        types.setdefault(r.user_id, set()).add(r.event_type)
    want = {}
    for (u, _), fd in first.items():
        want.setdefault(u, {}).setdefault(fd, 0)
        want[u][fd] += 1
    got = {}
    for r in rows:
        got.setdefault(r.user_id, []).append(
            (r.day, r.n_new_types, r.n_cum_distinct))
    assert set(got) == set(seen_days)
    for u, recs in got.items():
        recs.sort()
        assert [d for d, _, _ in recs] == sorted(seen_days[u])
        cum = 0
        prev = 0
        for d, nn, nc in recs:
            assert nn == want.get(u, {}).get(d, 0)
            cum += nn
            assert nc == cum
            assert nc >= prev
            prev = nc
        assert cum == len(types[u])


def test_cluster_quality_replays_in_python(spark):
    """Within/between decomposition: the integer-sum expansion equals
    the direct centroid computation; within matches vec_dispersion."""
    import math

    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["vec_cluster_quality"].fn(spark, sf).collect()
    assert rows
    emb = (spark.read.parquet(f"{sf}/embeddings.parquet")
           .select("label", "embedding").collect())
    by_label = {}
    for r in emb:
        by_label.setdefault(r.label, []).append(
            [math.floor(float(v) * 1000000) for v in r.embedding])
    dims = len(next(iter(by_label.values()))[0])
    tot_n = sum(len(v) for v in by_label.values())
    t_d = [sum(vec[d] for vecs in by_label.values() for vec in vecs)
           for d in range(dims)]
    aa = sum(x * x for x in t_d)
    got = {r.label: r for r in rows}
    assert set(got) == set(by_label)
    disp = {r.label: r.dispersion for r in
            REGISTRY["vec_dispersion"].fn(spark, sf).collect()}
    for lb, vecs in by_label.items():
        n = len(vecs)
        q = sum(v * v for vec in vecs for v in vec)
        s_d = [sum(col) for col in zip(*vecs)]
        a = sum(x * x for x in s_d)
        cx = sum(s * tt for s, tt in zip(s_d, t_d))
        r = got[lb]
        assert r.n_vectors == n
        within = float(n * q - a) / (float(n) * float(n)) / 1e12
        assert r.within_ms == within
        assert r.within_ms == disp[lb]   # same statistic, two keys
        d2 = (float(a) / (float(n) * float(n))
              - 2 * float(cx) / (float(n) * float(tot_n))
              + float(aa) / (float(tot_n) * float(tot_n))) / 1e12
        assert r.centroid_dist2 == d2
        # direct centroid cross-check
        c_l = [s / n for s in s_d]
        c_g = [x / tot_n for x in t_d]
        direct = sum((x - y) ** 2 for x, y in zip(c_l, c_g)) / 1e12
        assert abs(direct - d2) < 1e-9 * max(1.0, abs(d2))


def test_vocab_stats_replays_in_python(spark):
    """Vocab/hapax/TTR per source: exact count replay and ratio
    identities."""
    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["text_vocab_stats"].fn(spark, sf).collect()
    assert rows
    docs = (spark.read.parquet(f"{sf}/documents.parquet")
            .select("source", "text").collect())
    cnt = {}
    for r in docs:
        for tk in r.text.split(" "):
            k = (r.source, tk)
            cnt[k] = cnt.get(k, 0) + 1
    per = {}
    for (src, _), c in cnt.items():
        s = per.setdefault(src, [0, 0, 0])
        s[0] += c
        s[1] += 1
        s[2] += 1 if c == 1 else 0
    got = {r.source: r for r in rows}
    assert set(got) == set(per)
    for src, (ntok, vocab, hapax) in per.items():
        r = got[src]
        assert (r.n_tokens, r.vocab_size, r.hapax_count) == \
            (ntok, vocab, hapax)
        assert r.hapax_share == float(hapax) / float(vocab)
        assert r.type_token_ratio == float(vocab) / float(ntok)
        assert 0.0 < r.type_token_ratio <= 1.0


def test_interarrival_replays_in_python(spark):
    """Gap percentiles: histogram-rank replay (lower median / lower
    p90 / max), and ordering median <= p90 <= max."""
    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["event_interarrival_stats"].fn(spark, sf).collect()
    assert rows
    ev = (spark.read.parquet(f"{sf}/events.parquet")
          .select("user_id", "event_type",
                  F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
                  .alias("us")).collect())
    seqs = {}
    for r in ev:
        seqs.setdefault((r.user_id, r.event_type), []).append(r.us)
    gaps = {}
    for (u, ty), ts_list in seqs.items():
        ts_list.sort()
        for a, b in zip(ts_list, ts_list[1:]):
            gaps.setdefault(ty, []).append(b - a)
    got = {r.event_type: r for r in rows}
    assert set(got) == set(gaps)
    for ty, gs in gaps.items():
        gs.sort()
        n = len(gs)
        med = gs[-(-n // 2) - 1]            # lower median: rank ceil(n/2)
        p90 = gs[-(-9 * n // 10) - 1]       # rank ceil(0.9n)
        r = got[ty]
        assert r.n_gaps == n
        assert r.median_gap_us == med
        assert r.p90_gap_us == p90
        assert r.max_gap_us == gs[-1]
        assert med <= p90 <= gs[-1]


def test_active_users_replays_in_python(spark):
    """DAU/WAU cover rewrite: exact replay vs the direct trailing
    7-day distinct, day clipping, and DAU <= WAU."""
    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["event_active_users"].fn(spark, sf).collect()
    assert rows
    ev = (spark.read.parquet(f"{sf}/events.parquet")
          .select("user_id",
                  F.expr("unix_micros(CAST(ts AS TIMESTAMP))"
                         " div 86400000000").alias("day")).collect())
    active = {(r.user_id, r.day) for r in ev}
    d1 = max(d for _, d in active)
    days = sorted({d for _, d in active})
    got = {r.day: r for r in rows}
    # reported days: union of 7-day covers, clipped at corpus end
    want_days = sorted({d + i for _, d in active for i in range(7)
                        if d + i <= d1})
    assert sorted(got) == want_days
    for day in want_days:
        dau = len({u for u, d in active if d == day})
        wau = len({u for u, d in active if day - 6 <= d <= day})
        r = got[day]
        assert (r.dau, r.wau) == (dau, wau), day
        assert r.stickiness == float(dau) / float(wau)
        assert r.dau <= r.wau


def test_benford_replays_in_python(spark):
    """Leading-digit counts from exact cent strings; shares sum to 1;
    benford column matches log10(1+1/d)."""
    import math
    from decimal import Decimal

    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["agg_benford_digits"].fn(spark, sf).collect()
    assert rows
    orders = (spark.read.parquet(f"{sf}/orders.parquet")
              .select("o_totalprice").collect())
    cnt = {}
    for r in orders:
        if r.o_totalprice <= 0:
            continue
        d = int(str(int(Decimal(str(r.o_totalprice)) * 100))[0])
        cnt[d] = cnt.get(d, 0) + 1
    got = {r.digit: r for r in rows}
    assert {d: r.n for d, r in got.items()} == cnt
    total = sum(cnt.values())
    for d, r in got.items():
        assert r.observed_share == float(cnt[d]) / float(total)
        assert r.benford_share == round(
            math.log(1.0 + 1.0 / float(d)) / math.log(10.0), 9)
    assert abs(sum(r.observed_share for r in rows) - 1.0) < 1e-12


def test_ab_test_replays_in_python(spark):
    """Hash assignment, threshold conversion, and the pooled z-score
    replay exactly; the degenerate-variance guard yields NULL."""
    import hashlib
    import math

    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["event_ab_test"].fn(spark, sf).collect()
    assert len(rows) == 1
    ev = (spark.read.parquet(f"{sf}/events.parquet")
          .select("user_id", "event_type").collect())
    users = {r.user_id for r in ev}
    purchases = {}
    for r in ev:
        if r.event_type == "purchase":
            purchases[r.user_id] = purchases.get(r.user_id, 0) + 1
    conv = {u for u, n in purchases.items() if n >= 15}
    cells = {0: [0, 0], 1: [0, 0]}
    for u in users:
        g = int(hashlib.md5(f"ab:{u}".encode()).hexdigest()[:15],
                16) % 2
        cells[g][0] += 1
        if u in conv:
            cells[g][1] += 1
    (n_a, c_a), (n_b, c_b) = cells[0], cells[1]
    r = rows[0]
    assert (r.n_a, r.c_a, r.n_b, r.c_b) == (n_a, c_a, n_b, c_b)
    ra, rb = float(c_a) / float(n_a), float(c_b) / float(n_b)
    assert (r.rate_a, r.rate_b) == (ra, rb)
    assert r.uplift == rb - ra
    pooled = float(c_a + c_b) / float(n_a + n_b)
    den = math.sqrt(pooled * (1 - pooled)
                    * (1 / float(n_a) + 1 / float(n_b)))
    if den == 0.0:
        assert r.z_score is None
    else:
        assert r.z_score == (rb - ra) / den
    # the split must be non-degenerate on the real corpus
    assert n_a > 0 and n_b > 0


def test_exact_deciles_replay_in_python(spark):
    """Histogram-rank deciles equal the direct sorted-rank lower
    quantiles, monotone p10 <= ... <= p90."""
    from decimal import Decimal

    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["agg_exact_deciles"].fn(spark, sf).collect()
    assert rows
    li = (spark.read.parquet(f"{sf}/lineitem.parquet")
          .select("l_returnflag", "l_extendedprice").collect())
    vals = {}
    for r in li:
        vals.setdefault(r.l_returnflag, []).append(
            int(Decimal(str(r.l_extendedprice)) * 100))
    got = {r.l_returnflag: r for r in rows}
    assert set(got) == set(vals)
    for fl, xs in vals.items():
        xs.sort()
        n = len(xs)
        r = got[fl]
        assert r.n_rows == n
        prev = None
        for d in range(1, 10):
            k = -(-d * n // 10)          # ceil(d*n/10)
            want = xs[k - 1] / 100
            gotv = getattr(r, f"p{d}0")
            assert gotv == want, (fl, d)
            if prev is not None:
                assert gotv >= prev
            prev = gotv


def test_basket_lift_replays_in_python(spark):
    """Part-pair counts, support floor, shared-IEEE lift, and the
    deterministic top-100 ordering replay from raw lineitems."""
    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["order_basket_lift"].fn(spark, sf).collect()
    assert rows
    li = (spark.read.parquet(f"{sf}/lineitem.parquet")
          .select("l_orderkey", "l_partkey").collect())
    op = {(r.l_orderkey, r.l_partkey) for r in li}
    orders = {}
    per_part = {}
    for o, p in op:
        orders.setdefault(o, set()).add(p)
        per_part[p] = per_part.get(p, 0) + 1
    n_ord = len(orders)
    pair = {}
    for parts in orders.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1:]:
                pair[(a, b)] = pair.get((a, b), 0) + 1
    scored = []
    for (a, b), n_ab in pair.items():
        if n_ab < 3:
            continue
        lift = (float(n_ab) * float(n_ord)) / \
            (float(per_part[a]) * float(per_part[b]))
        scored.append((a, b, n_ab, per_part[a], per_part[b], lift))
    scored.sort(key=lambda s: (-s[5], s[0], s[1]))
    got = [(r.part_a, r.part_b, r.n_ab, r.n_a, r.n_b, r.lift)
           for r in rows]
    assert got == scored[:100]


def test_asof_nearest_replays_in_python(spark):
    """Nearest = closer of backward/forward with ties to 'before';
    agrees with a direct per-error nearest scan."""
    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["join_asof_nearest"].fn(spark, sf).collect()
    assert rows
    ev = (spark.read.parquet(f"{sf}/events.parquet")
          .select("event_id", "user_id", "event_type",
                  F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
                  .alias("us"), "ts").collect())
    signups = {}
    errors = []
    for r in ev:
        if r.event_type == "signup":
            signups.setdefault(r.user_id, []).append((r.us, r.ts))
        elif r.event_type == "error":
            errors.append(r)
    got = {r.event_id: r for r in rows}
    assert len(got) == len(errors)
    for e in errors:
        cands = signups.get(e.user_id, [])
        r = got[e.event_id]
        if not cands:
            assert r.nearest_signup_ts is None and r.direction is None
            continue
        best = min(cands, key=lambda c: (abs(c[0] - e.us),
                                         0 if c[0] <= e.us else 1))
        assert r.nearest_signup_ts == best[1], e.event_id
        assert r.direction == ("before" if best[0] <= e.us else "after")


def test_mm_exact_dedup_replays_in_python(spark):
    """Binary-payload md5 groups: exact membership, keeper = min id,
    copies conserved."""
    import hashlib

    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["mm_exact_dedup"].fn(spark, sf).collect()
    assert rows
    docs = (spark.read.parquet(f"{sf}/documents.parquet")
            .select("doc_id", "text").collect())
    sig = {r.doc_id: hashlib.md5(r.text.encode("utf-8")).hexdigest()
           for r in docs}
    groups = {}
    for did, h in sig.items():
        groups.setdefault(h, []).append(did)
    got = {r.doc_id: r for r in rows}
    assert set(got) == set(sig)
    for did, r in got.items():
        h = sig[did]
        assert r.payload_md5 == h
        assert r.n_copies == len(groups[h])
        assert r.keeper_id == min(groups[h])
        assert r.is_keeper == (1 if did == min(groups[h]) else 0)
    assert sum(r.is_keeper for r in rows) == len(groups)


def test_topk_share_replays_in_python(spark):
    """Top-10 concentration: exact cent replay, rank tie-break on
    customer key, share identities and bounds."""
    from decimal import Decimal

    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["agg_topk_share"].fn(spark, sf).collect()
    assert rows
    orders = (spark.read.parquet(f"{sf}/orders.parquet")
              .select("o_custkey", "o_totalprice").collect())
    nat = {r.c_custkey: r.c_nationkey for r in
           spark.read.parquet(f"{sf}/customer.parquet").collect()}
    rev = {}
    for r in orders:
        k = (nat[r.o_custkey], r.o_custkey)
        rev[k] = rev.get(k, 0) + int(
            Decimal(str(r.o_totalprice)) * 100)
    by_nat = {}
    for (nk, ck), cents in rev.items():
        by_nat.setdefault(nk, []).append((cents, ck))
    got = {r.nation: r for r in rows}
    assert set(got) == set(by_nat)
    for nk, xs in by_nat.items():
        xs.sort(key=lambda t: (-t[0], t[1]))
        total = sum(c for c, _ in xs)
        top = sum(c for c, _ in xs[:10])
        r = got[nk]
        assert r.n_customers == len(xs)
        assert r.total_revenue == total / 100
        assert r.top10_revenue == top / 100
        assert r.top10_share == float(top) / float(total)
        assert 0.0 < r.top10_share <= 1.0


def test_centroid_drift_replays_in_python(spark):
    """Hash-half centroid distance: the integer expansion equals the
    direct two-centroid computation; non-negative."""
    import hashlib
    import math

    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["vec_centroid_drift"].fn(spark, sf).collect()
    assert rows
    emb = (spark.read.parquet(f"{sf}/embeddings.parquet")
           .select("vec_id", "label", "embedding").collect())
    halves = {}
    for r in emb:
        h = int(hashlib.md5(f"dr:{r.vec_id}".encode()).hexdigest()[:15],
                16) % 2
        halves.setdefault((r.label, h), []).append(
            [math.floor(float(v) * 1000000) for v in r.embedding])
    got = {r.label: r for r in rows}
    labels = {lb for lb, _ in halves}
    # key emits only labels with BOTH halves populated
    both = {lb for lb in labels
            if (lb, 0) in halves and (lb, 1) in halves}
    assert set(got) == both
    for lb in both:
        va, vb = halves[(lb, 0)], halves[(lb, 1)]
        na, nb = len(va), len(vb)
        sa = [sum(c) for c in zip(*va)]
        sb = [sum(c) for c in zip(*vb)]
        aa = sum(x * x for x in sa)
        bb = sum(x * x for x in sb)
        ab = sum(x * y for x, y in zip(sa, sb))
        want = (float(aa) / (float(na) * float(na))
                - 2 * float(ab) / (float(na) * float(nb))
                + float(bb) / (float(nb) * float(nb))) / 1e12
        r = got[lb]
        assert (r.n_a, r.n_b) == (na, nb)
        assert r.drift_dist2 == want
        assert r.drift_dist2 >= 0.0
        ca = [s / na for s in sa]
        cb = [s / nb for s in sb]
        direct = sum((x - y) ** 2 for x, y in zip(ca, cb)) / 1e12
        assert abs(direct - want) < 1e-9 * max(1.0, want)


def test_attribution_linear_replays_and_conserves(spark):
    """Linear attribution: integer credit replay (div + remainder to
    the closest touch), and TOTAL credit == TOTAL purchase revenue
    (conservation is an identity, not an approximation)."""
    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["event_attribution_linear"].fn(spark, sf).collect()
    assert rows
    ev = (spark.read.parquet(f"{sf}/events.parquet")
          .select("user_id", "event_id", "event_type",
                  F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
                  .alias("us"),
                  F.round(F.col("value") * 100).cast("long")
                  .alias("cents")).collect())
    by_user = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r)
    want = {}
    total_purchase_cents = 0
    for u, evs in by_user.items():
        evs.sort(key=lambda r: (r.us, r.event_id))
        journey = []
        for r in evs:
            if r.event_type == "purchase":
                total_purchase_cents += r.cents
                n = len(journey)
                if n == 0:
                    c = want.setdefault("organic", [0, 0])
                    c[0] += 1
                    c[1] += r.cents
                else:
                    base = r.cents // n
                    rem = r.cents % n
                    for i, ty in enumerate(journey):
                        c = want.setdefault(ty, [0, 0])
                        c[0] += 1
                        c[1] += base + (rem if i == n - 1 else 0)
                journey = []
            else:
                journey.append(r.event_type)
    got = {r.touch_type: (r.n_credits, r.credited_revenue)
           for r in rows}
    assert set(got) == set(want)
    for ty, (n, cents) in want.items():
        assert got[ty] == (n, cents / 100), ty
    assert abs(sum(v for _, v in got.values())
               - total_purchase_cents / 100) < 1e-9


def test_skyline_replays_in_python(spark):
    """Pareto frontier: the one-window running-min rewrite equals the
    O(n^2) dominance definition exactly."""
    from decimal import Decimal

    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["win_skyline"].fn(spark, sf).collect()
    assert rows
    parts = (spark.read.parquet(f"{sf}/part.parquet")
             .select("p_partkey", "p_retailprice", "p_size").collect())
    pts = [(int(Decimal(str(r.p_retailprice)) * 100), int(r.p_size),
            r.p_partkey) for r in parts]
    # brute force: p is dominated if some q has size<=, price<=, one
    # strict; among exact duplicates the smallest key survives
    frontier = set()
    for price, size, key in pts:
        dominated = any(
            (q_s <= size and q_p <= price
             and (q_s < size or q_p < price))
            or (q_s == size and q_p == price and q_k < key)
            for q_p, q_s, q_k in pts)
        if not dominated:
            frontier.add(key)
    got = {r.p_partkey: (r.price, r.p_size) for r in rows}
    assert set(got) == frontier
    # frontier is strictly decreasing in price as size increases
    seq = sorted(got.values(), key=lambda t: t[1])
    for (pa, _), (pb, _) in zip(seq, seq[1:]):
        assert pb < pa


def test_vocab_coverage_replays_in_python(spark):
    """Coverage curve: exact cumulative-mass replay at each cut,
    monotone in vocab size, total conserved."""
    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["text_vocab_coverage"].fn(spark, sf).collect()
    assert rows
    docs = (spark.read.parquet(f"{sf}/documents.parquet")
            .select("text").collect())
    cnt = {}
    for r in docs:
        for tk in r.text.split(" "):
            cnt[tk] = cnt.get(tk, 0) + 1
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(cnt.values())
    got = {r.vocab_size: r for r in rows}
    assert set(got) == {100, 1000, 10000, 100000}
    prev = 0.0
    for sz in (100, 1000, 10000, 100000):
        covered = sum(c for _, c in ranked[:sz])
        r = got[sz]
        assert r.covered_tokens == covered
        assert r.total_tokens == total
        assert r.coverage == float(covered) / float(total)
        assert r.coverage >= prev
        prev = r.coverage
    if len(ranked) <= 100000:
        assert got[100000].coverage == 1.0


def test_hhi_replays_in_python(spark):
    """HHI identity: sum(c^2)/(sum c)^2 replay with unbounded ints,
    bounds 1/n <= hhi <= 1, and agreement with the direct
    share-squares sum."""
    from decimal import Decimal

    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["agg_hhi"].fn(spark, sf).collect()
    assert rows
    li = (spark.read.parquet(f"{sf}/lineitem.parquet")
          .select("l_suppkey", "l_extendedprice").collect())
    nat = {r.s_suppkey: r.s_nationkey for r in
           spark.read.parquet(f"{sf}/supplier.parquet").collect()}
    rev = {}
    for r in li:
        k = (nat[r.l_suppkey], r.l_suppkey)
        rev[k] = rev.get(k, 0) + int(
            Decimal(str(r.l_extendedprice)) * 100)
    by_nat = {}
    for (nk, _), cents in rev.items():
        by_nat.setdefault(nk, []).append(cents)
    got = {r.nation: r for r in rows}
    assert set(got) == set(by_nat)
    for nk, xs in by_nat.items():
        s = sum(xs)
        sq = sum(x * x for x in xs)
        r = got[nk]
        assert r.n_suppliers == len(xs)
        assert r.total_revenue == s / 100
        want = float(sq) / (float(s) * float(s))
        assert r.hhi == want
        assert 1.0 / len(xs) - 1e-12 <= r.hhi <= 1.0
        direct = sum((x / s) ** 2 for x in xs)
        assert abs(direct - r.hhi) < 1e-9


def test_unpivot_replays_in_python(spark):
    """Melt: per-(flag, measure) counts and decimal-exact totals
    replay; every measure keeps the full row count."""
    from decimal import Decimal

    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["project_unpivot"].fn(spark, sf).collect()
    assert rows
    li = (spark.read.parquet(f"{sf}/lineitem.parquet")
          .select("l_returnflag", "l_quantity", "l_extendedprice",
                  "l_discount").collect())
    want = {}
    n_flag = {}
    for r in li:
        n_flag[r.l_returnflag] = n_flag.get(r.l_returnflag, 0) + 1
        for m, v in (("quantity", r.l_quantity),
                     ("extendedprice", r.l_extendedprice),
                     ("discount", r.l_discount)):
            cell = want.setdefault((r.l_returnflag, m),
                                   [0, Decimal(0)])
            cell[0] += 1
            cell[1] += Decimal(str(v)).quantize(Decimal("0.01"))
    got = {(r.l_returnflag, r.measure): r for r in rows}
    assert set(got) == set(want)
    for (fl, m), (n, tot) in want.items():
        r = got[(fl, m)]
        assert r.n == n == n_flag[fl]
        assert r.total == float(tot)
        assert r.mean == float(tot) / n


def test_attribution_first_replays_and_agrees_with_linear(spark):
    """First-touch: exact journey replay; total revenue equals the
    linear rule's total (same purchases, different split)."""
    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["event_attribution_first"].fn(spark, sf).collect()
    assert rows
    ev = (spark.read.parquet(f"{sf}/events.parquet")
          .select("user_id", "event_id", "event_type",
                  F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
                  .alias("us"),
                  F.round(F.col("value") * 100).cast("long")
                  .alias("cents")).collect())
    by_user = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r)
    want = {}
    for u, evs in by_user.items():
        evs.sort(key=lambda r: (r.us, r.event_id))
        first = None
        for r in evs:
            if r.event_type == "purchase":
                ty = first if first is not None else "organic"
                c = want.setdefault(ty, [0, 0])
                c[0] += 1
                c[1] += r.cents
                first = None
            elif first is None:
                first = r.event_type
    got = {r.touch_type: (r.n_purchases, r.revenue) for r in rows}
    assert set(got) == set(want)
    for ty, (n, cents) in want.items():
        assert got[ty] == (n, cents / 100), ty
    lin = REGISTRY["event_attribution_linear"].fn(spark, sf).collect()
    assert abs(sum(v for _, v in got.values())
               - sum(r.credited_revenue for r in lin)) < 1e-9


def test_pareto_8020_replays_in_python(spark):
    """80/20 point: smallest k with cum >= 80% replay (integer
    predicate), consistency with the top-10 share key's data, and
    bounds 1 <= k <= n."""
    from decimal import Decimal

    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["agg_pareto_8020"].fn(spark, sf).collect()
    assert rows
    orders = (spark.read.parquet(f"{sf}/orders.parquet")
              .select("o_custkey", "o_totalprice").collect())
    nat = {r.c_custkey: r.c_nationkey for r in
           spark.read.parquet(f"{sf}/customer.parquet").collect()}
    rev = {}
    for r in orders:
        k = (nat[r.o_custkey], r.o_custkey)
        rev[k] = rev.get(k, 0) + int(
            Decimal(str(r.o_totalprice)) * 100)
    by_nat = {}
    for (nk, ck), cents in rev.items():
        by_nat.setdefault(nk, []).append((cents, ck))
    got = {r.nation: r for r in rows}
    assert set(got) == set(by_nat)
    for nk, xs in by_nat.items():
        xs.sort(key=lambda t: (-t[0], t[1]))
        total = sum(c for c, _ in xs)
        cum = 0
        k80 = None
        for i, (c, _) in enumerate(xs, 1):
            cum += c
            if 5 * cum >= 4 * total:
                k80 = i
                break
        r = got[nk]
        assert r.n_customers == len(xs)
        assert r.n_for_80pct == k80
        assert r.share_of_customers == float(k80) / float(len(xs))
        assert 1 <= r.n_for_80pct <= r.n_customers


def test_sink_json_roundtrip_exact(spark):
    """JSON sink: the written aggregate reads back value-exact
    (shortest-roundtrip doubles) with the declared schema."""
    from decimal import Decimal

    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["sink_json"].fn(spark, sf).collect()
    assert rows
    orders = (spark.read.parquet(f"{sf}/orders.parquet")
              .select("o_orderpriority", "o_totalprice").collect())
    want = {}
    for r in orders:
        cell = want.setdefault(r.o_orderpriority, [0, Decimal(0)])
        cell[0] += 1
        cell[1] += Decimal(str(r.o_totalprice)).quantize(
            Decimal("0.01"))
    got = {r.o_orderpriority: (r.n, r.price_sum) for r in rows}
    assert set(got) == set(want)
    for pri, (n, tot) in want.items():
        assert got[pri] == (n, float(tot)), pri


def test_join_cross_is_full_product(spark):
    """Cross join: exactly |R| x |N| rows, membership flags sum to
    |N| (each nation belongs to exactly one region)."""
    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["join_cross"].fn(spark, sf).collect()
    n_r = spark.read.parquet(f"{sf}/region.parquet").count()
    n_n = spark.read.parquet(f"{sf}/nation.parquet").count()
    assert len(rows) == n_r * n_n
    assert sum(r.is_member for r in rows) == n_n
    assert len({(r.r_name, r.n_name) for r in rows}) == len(rows)


def test_label_outliers_replays_in_python(spark):
    """Integer 3x-mean fence: exact replay vs the direct float
    distance computation, and agreement with vec_dispersion's mean."""
    import math

    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["vec_label_outliers"].fn(spark, sf).collect()
    assert rows
    emb = (spark.read.parquet(f"{sf}/embeddings.parquet")
           .select("label", "embedding").collect())
    by_label = {}
    for r in emb:
        by_label.setdefault(r.label, []).append(
            [math.floor(float(v) * 1000000) for v in r.embedding])
    got = {r.label: r for r in rows}
    assert set(got) == set(by_label)
    disp = {r.label: r.dispersion for r in
            REGISTRY["vec_dispersion"].fn(spark, sf).collect()}
    for lb, vecs in by_label.items():
        n = len(vecs)
        sd = [sum(c) for c in zip(*vecs)]
        a = sum(x * x for x in sd)
        q = sum(v * v for vec in vecs for v in vec)
        mean_num = n * q - a
        n_out = 0
        max_x = 0
        for vec in vecs:
            vv = sum(v * v for v in vec)
            vs = sum(v * s for v, s in zip(vec, sd))
            x = n * n * vv - 2 * n * vs + a
            max_x = max(max_x, x)
            if n * x > 3 * n * mean_num:
                n_out += 1
        r = got[lb]
        assert r.n_vectors == n
        assert r.n_outliers == n_out
        assert r.max_dist2 == \
            (float(x := max_x) / float(n) / float(n)) / 1e12
        # fence consistency with the dispersion key's mean
        assert r.max_dist2 >= disp[lb] or n == 1


def test_conversion_lag_replays_in_python(spark):
    """Journey time-to-convert: exact lag replay per first-touch
    type with the histogram-rank median/p90; median <= p90; lags
    non-negative."""
    from lakehouse_automation_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["event_conversion_lag"].fn(spark, sf).collect()
    assert rows
    ev = (spark.read.parquet(f"{sf}/events.parquet")
          .select("user_id", "event_id", "event_type",
                  F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
                  .alias("us")).collect())
    by_user = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r)
    lags = {}
    for u, evs in by_user.items():
        evs.sort(key=lambda r: (r.us, r.event_id))
        first = None
        for r in evs:
            if r.event_type == "purchase":
                if first is not None:
                    lags.setdefault(first[0], []).append(
                        r.us - first[1])
                first = None
            elif first is None:
                first = (r.event_type, r.us)
    got = {r.touch_type: r for r in rows}
    assert set(got) == set(lags)
    for ty, ls in lags.items():
        ls.sort()
        n = len(ls)
        med = ls[-(-n // 2) - 1]
        p90 = ls[-(-9 * n // 10) - 1]
        r = got[ty]
        assert r.n_conversions == n
        assert r.median_lag_us == med
        assert r.p90_lag_us == p90
        assert 0 <= med <= p90
