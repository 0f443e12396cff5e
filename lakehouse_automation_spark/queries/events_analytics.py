"""Batch event-stream analytics + sketch roll-up + Bloom join pruning.

The ``events`` table (id/ts/user/type/value) is this repo's own
synthetic activity feed — it extends the reference's periodic-CSV
ingestion pattern (``datagen.py:62-135`` emits scheduled survey-row
batches for the lakehouse refresh loop) to a timestamped stream; the
streaming keys consume it live, but a warehouse user ALSO runs the
classic batch analytics over the same table: sessionization, funnel
conversion, cohort retention. All three
are single-shuffle window/agg compositions here — the 100-TB shape is
"partition by user_id once, chain every per-user computation on that
partitioning" (Catalyst collapses same-key Window/groupBy chains into
one Exchange).

Two infrastructure patterns round out the family:

- ``agg_sketch_rollup`` — the mergeable-sketch pre-aggregation
  pattern: per-day HLL partials (what a 100-TB pipeline would PERSIST
  alongside each daily partition) union-merged into a monthly distinct
  count without re-touching raw data. Spark 4's datasketches-backed
  ``hll_sketch_agg``/``hll_union_agg`` built-ins keep it JVM-side.
- ``join_bloom_filtered`` — semi-join reduction: a Bloom filter built
  from the small side's keys prunes the probe side BEFORE its shuffle
  (the runtime-filter pattern Spark applies to broadcast joins,
  expressed explicitly so it also covers shuffle joins). False
  positives are removed by the exact join that follows, so results
  are byte-identical to the plain semi join the oracle states.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, \
    functions as F

from ..operators import dedup as dedup_ops
from .base import register, t, dec

# Session gap: 30 min, compared in integer microseconds on both
# engines (Spark unix_micros == DuckDB epoch_us; float seconds would
# round differently).
_GAP_US = 30 * 60 * 1_000_000

# One sessionization ground truth, shared by the plain key and its
# salted / incremental physical variants — the three keys are REQUIRED
# to agree byte-for-byte, so they must share one oracle string (a
# divergent edit to one copy would silently decouple them).
_SESSIONIZE_ORACLE = f"""
    WITH e AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CASE WHEN LAG(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                    OR epoch_us(CAST(ts AS TIMESTAMP))
                       - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER w
                       > {_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, value,
             CAST(SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM e
    )
    SELECT user_id, session_seq,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN abs(value) <= 1e15  -- representable-cents guard
                    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
             AS sum_value
    FROM s GROUP BY user_id, session_seq
    """


@register(
    "sessionize_events",
    oracle=_SESSIONIZE_ORACLE,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based batch sessionization: a >30-min silence starts a new
    session. One shuffle total: the lag, the running session counter,
    and the per-session aggregate all share the user_id partitioning
    (the groupBy keys are a superset of the window partition key, so
    Catalyst reuses the Exchange). No global window — parallelism is
    #users at any scale."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.lag(us).over(w)
    is_new = F.when(
        prev_us.isNull() | ((us - prev_us) > _GAP_US), 1).otherwise(0)
    sess = (
        ev.withColumn("is_new", is_new)
        .withColumn(
            "session_seq",
            F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding,
                                               W.currentRow)).cast("long"))
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.abs(F.col("value")) <= 1e15, dec("value"))).cast("double").alias("sum_value"),
    )


@register(
    "sessionize_salted",
    oracle=_SESSIONIZE_ORACLE,
)
def sessionize_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-skew-safe sessionization: byte-identical output to
    ``sessionize_events`` (the oracle IS the plain key's SQL) from a
    two-level plan whose per-task partition is bounded even when one
    user owns 20% of all events (``gen_scale_data.py --skew`` is the
    measured case — per-user windows are the one shape AQE's skew
    handling cannot split).

    Level 1 partitions windows by (user_id, day): gap detection and
    per-LOCAL-session aggregates run inside day buckets, so a hot
    user costs one task per active day, not one task total. Level 2
    re-applies the same >30-min gap rule per user over the LOCAL
    SESSION rows — ~orders of magnitude fewer than events (bounded by
    events/2, typically #sessions) — merging sessions that straddle a
    midnight boundary; the boundary gap compares genuinely adjacent
    events (last of day d, first of day d+1), so the merge decision
    equals the row-level one, and running-sum numbering keeps
    session_seq identical to the single-level plan. The 100-TB shape:
    the big shuffle is on the salted key, the per-user shuffle moves
    only session aggregates."""
    gap = F.lit(_GAP_US)
    ev = (t(spark, sf_dir, "events")
          .select("user_id", "event_id", "ts", "value")
          .withColumn("_day", F.to_date(F.date_trunc("day", "ts"))))
    us = F.unix_micros(F.col("ts").cast("timestamp"))

    # level 1: local sessions inside (user, day) buckets
    wb = W.partitionBy("user_id", "_day").orderBy("ts", "event_id")
    prev_us = F.lag(us).over(wb)
    local = (
        ev.withColumn("_new", F.when(
            prev_us.isNull() | ((us - prev_us) > gap), 1).otherwise(0))
        .withColumn("_lseq", F.sum("_new").over(
            wb.rowsBetween(W.unboundedPreceding, W.currentRow)))
        .groupBy("user_id", "_day", "_lseq")
        .agg(F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"),
             F.count(F.lit(1)).alias("n_events"),
             F.sum(F.when(F.abs(F.col("value")) <= 1e15, dec("value"))).alias("_dec_value"))
    )

    # level 2: merge boundary-straddling sessions per user — operates
    # on session rows, not event rows
    ws = W.partitionBy("user_id").orderBy("session_start", "session_end")
    start_us = F.unix_micros(F.col("session_start").cast("timestamp"))
    prev_end_us = F.lag(
        F.unix_micros(F.col("session_end").cast("timestamp"))).over(ws)
    merged = (
        local.withColumn("_new2", F.when(
            prev_end_us.isNull() | ((start_us - prev_end_us) > gap),
            1).otherwise(0))
        .withColumn("session_seq", F.sum("_new2").over(
            ws.rowsBetween(W.unboundedPreceding, W.currentRow)).cast("long"))
    )
    return merged.groupBy("user_id", "session_seq").agg(
        F.min("session_start").alias("session_start"),
        F.max("session_end").alias("session_end"),
        F.sum("n_events").alias("n_events"),
        F.sum("_dec_value").cast("double").alias("sum_value"),
    )


@register(
    "sessionize_incremental",
    oracle=_SESSIONIZE_ORACLE,
)
def sessionize_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sessionization: a PERSISTED session table (all
    history before the final day) brought current by the day's event
    batch — the continuous-ingestion form of ``sessionize_events``,
    whose full recompute IS the oracle. The refresh reads the batch
    plus ONE tail session per affected user, never historical events:

    - untouched users' sessions (and affected users' non-tail
      sessions) pass through from the state table by name;
    - the batch sessionizes locally per user; its FIRST local session
      merges into the user's persisted tail iff the first batch event
      falls within the 30-min gap of the tail's end (the boundary
      compares genuinely adjacent events, so the decision equals the
      full recompute's);
    - later local sessions renumber from the tail's session_seq.

    Exactness across the restart boundary: the state table persists
    ``sum_dec DECIMAL(18,2)`` (never the display double), so merged
    sums re-enter the same exact-decimal arithmetic as the one-shot
    plan. At 100 TB the state table is the thing that scales; the
    refresh cost is ∝ batch + |affected users|."""
    import shutil as _shutil

    from .sinks import _scratch

    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value")
    # the batch boundary: the final day of the feed (a production
    # pipeline knows its batch window; here it derives from the data)
    cut = ev.agg(F.date_trunc("day", F.max("ts")).alias("c")) \
            .collect()[0]["c"]

    def sess(df: DataFrame) -> DataFrame:
        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        us = F.unix_micros(F.col("ts").cast("timestamp"))
        prev = F.lag(us).over(w)
        is_new = F.when(prev.isNull() | ((us - prev) > _GAP_US), 1) \
                  .otherwise(0)
        return (df.withColumn("is_new", is_new)
                .withColumn("session_seq", F.sum("is_new").over(
                    w.rowsBetween(W.unboundedPreceding, W.currentRow))
                    .cast("long"))
                .groupBy("user_id", "session_seq")
                .agg(F.min("ts").alias("session_start"),
                     F.max("ts").alias("session_end"),
                     F.count(F.lit(1)).alias("n_events"),
                     F.sum(F.when(F.abs(F.col("value")) <= 1e15, dec("value"))).alias("sum_dec")))

    # persisted state: sessions over everything BEFORE the batch day
    state_path = _scratch(sf_dir, "session_state")
    _shutil.rmtree(state_path, ignore_errors=True)
    sess(ev.filter(F.col("ts") < F.lit(cut))) \
        .write.mode("overwrite").parquet(state_path)
    state = spark.read.parquet(state_path)

    local = sess(ev.filter(F.col("ts") >= F.lit(cut)))
    tail = (state.groupBy("user_id")
            .agg(F.max("session_seq").alias("tail_seq")))
    tails = (state.join(tail, ["user_id"])
             .filter(F.col("session_seq") == F.col("tail_seq"))
             .select("user_id", "tail_seq",
                     F.col("session_start").alias("t_start"),
                     F.col("session_end").alias("t_end"),
                     F.col("n_events").alias("t_n"),
                     F.col("sum_dec").alias("t_sum")))

    lx = local.join(tails, ["user_id"], "left")
    gap_us = (F.unix_micros(F.col("session_start").cast("timestamp"))
              - F.unix_micros(F.col("t_end").cast("timestamp")))
    merge1 = (F.col("t_end").isNotNull() & (F.col("session_seq") == 1)
              & (gap_us <= _GAP_US))
    w_u = W.partitionBy("user_id")
    lx = lx.withColumn("merged", F.max(merge1.cast("int")).over(w_u) == 1)
    updated = lx.select(
        "user_id",
        (F.coalesce("tail_seq", F.lit(0)) + F.col("session_seq")
         - F.col("merged").cast("long")).alias("session_seq"),
        F.when(merge1, F.col("t_start")).otherwise(F.col("session_start"))
         .alias("session_start"),
        "session_end",
        (F.col("n_events") + F.when(merge1, F.col("t_n")).otherwise(F.lit(0)))
         .alias("n_events"),
        # SQL-SUM combine of two nullable sums (a session whose every
        # value is out of the cents domain carries a NULL sum): NULL
        # iff both parts are NULL, else coalesce-add — a plain + would
        # turn (NULL tail + 5.00 batch) into NULL where the oracle's
        # full recompute says 5.00
        F.when(merge1 & (F.col("sum_dec").isNull()
                         & F.col("t_sum").isNull()), F.col("sum_dec"))
         .when(merge1, F.coalesce(F.col("sum_dec"),
                                  F.lit(0).cast("decimal(18,2)"))
               + F.coalesce(F.col("t_sum"),
                            F.lit(0).cast("decimal(18,2)")))
         .otherwise(F.col("sum_dec")).alias("sum_dec"),
    )
    # state rows that survive as-is: everything except tails that merged
    merged_tails = (lx.filter(merge1)
                    .select("user_id", F.col("tail_seq").alias("session_seq")))
    carried = state.join(merged_tails, ["user_id", "session_seq"],
                         "left_anti")
    return (carried.unionByName(updated)
            .select("user_id", "session_seq", "session_start",
                    "session_end", "n_events",
                    F.col("sum_dec").cast("double").alias("sum_value")))


@register(
    "event_funnel",
    oracle="""
    WITH u AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP)
                 END) AS v_ts
      FROM events GROUP BY user_id
    ), c AS (
      SELECT e.user_id, u.v_ts, MIN(CAST(e.ts AS TIMESTAMP)) AS c_ts
      FROM events e JOIN u ON e.user_id = u.user_id
      WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > u.v_ts
      GROUP BY e.user_id, u.v_ts
    ), p AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.c_ts
      GROUP BY e.user_id
    ), n AS (
      SELECT (SELECT COUNT(*) FROM u WHERE v_ts IS NOT NULL) AS n1,
             (SELECT COUNT(*) FROM c) AS n2,
             (SELECT COUNT(*) FROM p) AS n3
    )
    SELECT 'view' AS stage, n1 AS n_users,
           CAST(n1 AS DOUBLE) / NULLIF(n1, 0) AS pct_of_entry FROM n
    UNION ALL
    SELECT 'view>click', n2, CAST(n2 AS DOUBLE) / NULLIF(n1, 0) FROM n
    UNION ALL
    SELECT 'view>click>purchase', n3, CAST(n3 AS DOUBLE) / NULLIF(n1, 0)
    FROM n
    """,
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase: each stage's timestamp
    must follow the previous stage's. Implemented as three chained
    Window mins over ONE user_id partitioning — no self-joins: v_ts is
    a window min, c_ts a window min over click events conditioned on
    v_ts, p_ts likewise over c_ts (each references the previous window
    column, so the specs chain within a single Exchange). The final
    3-row stage table is driver-size by construction; with no viewers
    (n1 = 0) the shares are NULL, not an ANSI divide-by-zero."""
    w = W.partitionBy("user_id")
    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    staged = (
        ev.withColumn(
            "v_ts",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w))
        .withColumn(
            "c_ts",
            F.min(F.when((F.col("event_type") == "click")
                         & (F.col("ts") > F.col("v_ts")),
                         F.col("ts"))).over(w))
        .withColumn(
            "p_ts",
            F.min(F.when((F.col("event_type") == "purchase")
                         & (F.col("ts") > F.col("c_ts")),
                         F.col("ts"))).over(w))
    )
    per_user = staged.groupBy("user_id").agg(
        F.min("v_ts").alias("v_ts"), F.min("c_ts").alias("c_ts"),
        F.min("p_ts").alias("p_ts"))
    counts = per_user.agg(
        F.count("v_ts").alias("n1"), F.count("c_ts").alias("n2"),
        F.count("p_ts").alias("n3"))
    stage = lambda name, n: F.struct(  # noqa: E731
        F.lit(name).alias("stage"), F.col(n).alias("n_users"),
        F.try_divide(F.col(n).cast("double"), F.col("n1"))
        .alias("pct_of_entry"))
    return (
        counts.select(F.explode(F.array(
            stage("view", "n1"), stage("view>click", "n2"),
            stage("view>click>purchase", "n3"))).alias("s"))
        .select("s.*")
    )


@register(
    "retention_cohort",
    oracle="""
    WITH f AS (
      SELECT user_id,
             MIN(CAST(ts AS TIMESTAMP)) AS first_ts
      FROM events GROUP BY user_id
    )
    SELECT strftime(CAST(date_trunc('week', f.first_ts) AS DATE),
                    '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day',
                  CAST(date_trunc('week', f.first_ts) AS DATE),
                  CAST(date_trunc('week', CAST(e.ts AS TIMESTAMP)) AS DATE))
                // 7 AS BIGINT) AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_active
    FROM events e JOIN f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the Monday-start week
    of their first event; n_active counts who came back k weeks later.
    first_ts is a window min on the same user_id partitioning as the
    events (no join against a separate firsts table), then one
    distinct-agg on (cohort_week, week_offset). Output is
    O(#weeks^2) rows — driver-safe at any corpus size."""
    w = W.partitionBy("user_id")
    ev = t(spark, sf_dir, "events").select("user_id", "ts")
    cohort_wk = F.date_trunc("week", F.col("first_ts")).cast("date")
    event_wk = F.date_trunc("week", F.col("ts")).cast("date")
    return (
        ev.withColumn("first_ts", F.min("ts").over(w))
        .select(
            # dates cross the gate as ISO strings: Spark DATE surfaces
            # as datetime.date, DuckDB DATE as datetime64 — same day,
            # different canon
            F.date_format(cohort_wk, "yyyy-MM-dd").alias("cohort_week"),
            F.floor(F.datediff(event_wk, cohort_wk) / 7)
             .cast("long").alias("week_offset"),
            "user_id")
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@register(
    "agg_sketch_rollup",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      FROM events GROUP BY 1, 2
    ), exact AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
      FROM events GROUP BY 1
    )
    SELECT e.event_type, e.exact_users,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM daily d
            -- null-safe: NULL event_type is a legitimate rollup group
            WHERE d.event_type IS NOT DISTINCT FROM e.event_type)
             AS n_partials,
           TRUE AS sketch_ok
    FROM exact e
    """,
)
def agg_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch pre-aggregation: per-(event_type, day) HLL
    partials union-merged into per-type distinct-user counts — the
    pattern where a 100-TB pipeline persists a KB-size sketch with
    each daily partition and answers any-window COUNT DISTINCT from
    sketches alone. Built-in ``hll_sketch_agg``/``hll_union_agg``
    (Apache DataSketches HLL, lgConfigK=12 -> ~1.6% rel. err) stay
    JVM-side. Sketch estimates are not SQL-replayable, so the oracle
    convention for sketch keys applies (see module docstring of
    ``queries``): exact side columns hash-checked, the estimate
    asserted against a 5% bound as an oracle-pinned boolean."""
    ev = t(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("date").alias("day"), "user_id")
    daily = ev.groupBy("event_type", "day").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("approx_users"),
        F.count(F.lit(1)).alias("n_partials"))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"))
    # null-safe: NULL is a legitimate group key, and a plain equi-join
    # would drop that group's rollup row
    return (
        exact.alias("e").join(
            merged.alias("m"),
            F.col("e.event_type").eqNullSafe(F.col("m.event_type")))
        .select(
            "e.event_type", "exact_users", "n_partials",
            (F.abs(F.col("approx_users") - F.col("exact_users"))
             <= 0.05 * F.col("exact_users")).alias("sketch_ok"))
    )


# Bloom geometry: m = 2^16 bits (1024 longs, 8 KB broadcast), k = 5
# hash probes. For ~450 build keys the false-positive rate is
# (1 - e^{-kn/m})^k ~= 2e-7 — the probe side shrinks to ~the true
# match set before its shuffle.
# Deliberately a SEPARATE Bloom scheme from tableformat._attach_blooms
# (k independent xxhash64 seeds here vs Kirsch-Mitzenmacher there):
# this one is chosen to be REPLAYABLE IN THE DUCKDB ORACLE SQL, which
# embeds the same k-seed hashing literally — unifying on the index
# scheme would silently decouple this key from its oracle. Both carry
# their own sign-bit/pmod/word-indexing notes for the same reason.
_BLOOM_BITS = 1 << 16
_BLOOM_WORDS = _BLOOM_BITS // 64
_BLOOM_K = 5


@register(
    "join_bloom_filtered",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CASE WHEN abs(l_extendedprice) <= 1e15
                    THEN CAST(round(l_extendedprice * 100) AS BIGINT) END)
                AS BIGINT) AS cents
    FROM lineitem
    WHERE l_orderkey IN (
      SELECT o_orderkey FROM orders WHERE o_totalprice > 480000)
    GROUP BY l_returnflag
    """,
)
def join_bloom_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction. The build side (high-value
    orders, ~3% of keys) folds into an 8-KB bit array DRIVER-side
    (1024 longs — metadata scale, like the IVF centroids); the probe
    side tests k=5 xxhash64 positions against the broadcast literal
    array BEFORE any shuffle, so only ~matching lineitems ever move.
    The exact semi join afterwards removes Bloom false positives —
    results are byte-identical to the plain semi join the oracle
    states, the Bloom pass only changes WHERE rows die. This is
    Spark's own runtime-filter pattern made explicit so it applies to
    shuffle joins too (the built-in one fires only under broadcast)."""
    hot = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 480000)
        .select("o_orderkey")
    )

    def positions(key: F.Column) -> list[F.Column]:
        return [F.pmod(F.xxhash64(key, F.lit(i)), F.lit(_BLOOM_BITS))
                for i in range(_BLOOM_K)]

    # Build: explode the k positions per key, OR the bits per 64-bit
    # word. (shift amounts go through F.expr: the Catalyst shift
    # expressions take column operands, the PySpark wrappers only a
    # Python int.) The collect is <= _BLOOM_WORDS rows regardless of
    # build cardinality.
    pos = hot.select(
        F.explode(F.array(*positions(F.col("o_orderkey")))).alias("p"))
    words_rows = (
        pos.select(
            (F.col("p") / 64).cast("int").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), "
                   "CAST(p % 64 AS INT))").alias("b"))
        .groupBy("w").agg(F.bit_or("b").alias("word"))
        .collect()
    )
    words = [0] * _BLOOM_WORDS
    for r in words_rows:
        words[r["w"]] = r["word"]

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice")
    probed = li.withColumn("_bloom", F.lit(words))  # 8 KB task literal
    conds = []
    for i, p in enumerate(positions(F.col("l_orderkey"))):
        probed = probed.withColumn(f"_p{i}", p)
        # bit test survives the sign bit: shiftright is arithmetic,
        # but an odd result (bit set) is nonzero mod 2 either way
        conds.append(
            f"(shiftright(element_at(_bloom, CAST(_p{i} / 64 AS INT) + 1),"
            f" CAST(_p{i} % 64 AS INT)) % 2) != 0")
    pruned = (
        probed.filter(F.expr(" AND ".join(conds)))
        .select("l_orderkey", "l_returnflag", "l_extendedprice")
    )

    return (
        pruned.join(hot.withColumnRenamed("o_orderkey", "l_orderkey"),
                    "l_orderkey", "left_semi")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.when(F.abs(F.col("l_extendedprice")) <= 1e15,
                          F.round(F.col("l_extendedprice") * 100)
                          .cast("long")))
              .alias("cents"))
    )


@register(
    "agg_sketch_setops",
    oracle="""
    WITH v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
         p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT (SELECT COUNT(*) FROM v) AS exact_view,
           (SELECT COUNT(*) FROM p) AS exact_purchase,
           (SELECT COUNT(*) FROM v WHERE user_id IN (SELECT user_id FROM p))
             AS exact_inter,
           (SELECT COUNT(*) FROM (SELECT user_id FROM v
                                  UNION SELECT user_id FROM p))
             AS exact_union,
           TRUE AS inter_ok, TRUE AS union_ok
    """,
)
def agg_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET OPERATIONS on distinct counts — what HLL cannot do:
    theta sketches (DataSketches, Spark 4 built-ins) support
    intersection and difference, so "distinct users who did BOTH view
    and purchase" is answerable from two persisted KB-size sketches
    with no re-scan and no exact-distinct shuffle. Both per-segment
    sketches build in ONE conditional-aggregation pass (map-side
    partials, no per-segment shuffle), then combine via the SCALAR
    theta_union/theta_intersection — never theta_intersection_agg,
    whose partial buffer cannot serialize the empty state ("infinite
    set"): any task seeing zero rows kills the stage, which the
    round-8 partition sweep reproduced the moment AQE stopped
    coalescing the 2-row exchange (partitions > rows at any real
    cluster width). An empty SKETCH, by contrast, is a legal empty
    set for both scalar ops, so the vacuous corpora (a missing
    segment, zero events) fall out of the plain 5% bound — theta's
    ~1.6% rel. err at lgK=12 clears it — with no special-casing."""
    ev = t(spark, sf_dir, "events").select("event_type", "user_id")
    ests = (
        ev.agg(
            F.expr("theta_sketch_agg(CASE WHEN event_type = 'view' "
                   "THEN user_id END)").alias("sk_v"),
            F.expr("theta_sketch_agg(CASE WHEN event_type = 'purchase' "
                   "THEN user_id END)").alias("sk_p"))
        .select(
            F.expr("theta_sketch_estimate(theta_union(sk_v, sk_p))")
             .alias("u_est"),
            F.expr("theta_sketch_estimate(theta_intersection(sk_v, sk_p))")
             .alias("i_est"))
    )
    v = ev.filter(F.col("event_type") == "view").select("user_id").distinct()
    p = (ev.filter(F.col("event_type") == "purchase")
         .select("user_id").distinct())
    exacts = (
        v.withColumn("s", F.lit("v"))
        .unionByName(p.withColumn("s", F.lit("p")))
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("k"))
        .agg(F.count(F.lit(1)).alias("exact_union"),
             F.sum(F.when(F.col("k") == 2, 1).otherwise(0))
              .cast("long").alias("exact_inter"))
    )
    counts = (
        v.agg(F.count(F.lit(1)).alias("exact_view"))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("exact_purchase")))
    )
    return (
        counts.crossJoin(exacts).crossJoin(ests)  # all 1-row sides
        .select(
            "exact_view", "exact_purchase", "exact_inter", "exact_union",
            (F.abs(F.col("i_est") - F.col("exact_inter"))
             <= 0.05 * F.greatest(F.col("exact_inter"), F.lit(1)))
            .alias("inter_ok"),
            (F.abs(F.col("u_est") - F.col("exact_union"))
             <= 0.05 * F.greatest(F.col("exact_union"), F.lit(1)))
            .alias("union_ok"))
    )


@register(
    "agg_approx_topk",
    oracle="""
    SELECT event_type, COUNT(*) AS n, TRUE AS est_exact
    FROM events GROUP BY event_type
    ORDER BY n DESC, event_type
    LIMIT 3
    """,
)
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via ``approx_top_k`` (Spark 4 built-in): the
    frequent-items sketch tracks candidate counters in one pass —
    at 100 TB the alternative is a full groupBy shuffle of every key.
    maxItemsTracked=100 >= the column's cardinality here, so the
    sketch counts are provably exact and the oracle pins est_exact;
    on a genuinely high-cardinality column the same plan returns
    epsilon-approximate counts. The sketch is asked for MORE items
    than the final cut and the top-3 is taken by an explicit
    (count desc, event_type) sort on the verified exact counts — the
    sketch's own ordering among tied counts is unspecified, so cutting
    inside the sketch would flake against the oracle on a tie at the
    boundary."""
    ev = t(spark, sf_dir, "events")
    approx = (
        ev.agg(F.expr("approx_top_k(event_type, 10, 100)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("event_type"),
                F.col("e.count").alias("est"))
    )
    exact = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return (
        approx.join(exact, "event_type")
        .select("event_type", "n",
                (F.col("est") == F.col("n")).alias("est_exact"))
        .orderBy(F.desc("n"), "event_type")
        .limit(3)
    )


@register(
    "win_pattern_detect",
    oracle=f"""
    WITH er AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'error'
    ), g AS (
      SELECT user_id,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                       <= {10 * 60 * 1_000_000} THEN 1 ELSE 0 END AS burst
      FROM er WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(SUM(burst) AS BIGINT) AS n_bursts
    FROM g GROUP BY user_id HAVING SUM(burst) > 0
    """,
)
def win_pattern_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern detection (MATCH_RECOGNIZE-lite): per user,
    an 'error' followed by another 'error' within 10 minutes is a
    burst; emit users with their burst counts. The lag-compare-count
    plan is the row-pattern kernel every CEP query compiles down to —
    filter first (the pattern's event classes), ONE user_id shuffle,
    window lag in integer µs, aggregate on the same partitioning. At
    100 TB the filter pushes to the scan and the single Exchange is
    the only data movement."""
    er = (t(spark, sf_dir, "events")
          .filter(F.col("event_type") == "error")
          .select("user_id", "event_id", "ts"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    burst = F.when(us - F.lag(us).over(w) <= 10 * 60 * 1_000_000, 1).otherwise(0)
    return (
        er.withColumn("burst", burst)
        .groupBy("user_id")
        .agg(F.sum("burst").cast("long").alias("n_bursts"))
        .filter(F.col("n_bursts") > 0)
    )


@register(
    "event_attribution",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             CASE WHEN abs(value) <= 1e15
                  THEN CAST(round(value * 100) AS BIGINT) END AS cents
      FROM events
    ), attr AS (
      SELECT event_type, cents,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_type
      FROM e
    )
    SELECT COALESCE(touch_type, 'organic') AS touch_type,
           COUNT(*) AS n_purchases,
           CAST(SUM(cents) AS DOUBLE) / 100.0 AS revenue
    FROM attr WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def event_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the most
    recent PRECEDING non-purchase event of the same user (first-ever
    purchases with no prior touch fall to 'organic'), then revenue
    rolls up per touch type. The marketing-attribution join expressed
    as ONE user_id window — ``last(ignorenulls)`` over an
    unbounded-preceding-to-1-preceding frame — instead of the naive
    per-purchase as-of self-join (which would shuffle the table twice
    and rescan each user's history per purchase). Revenue sums integer
    cents, so the oracle matches exactly. Scale: one user_id Exchange,
    then a 5-row aggregate; frame state is O(1) per user (running
    last-seen value), unaffected by history length."""
    ev = (t(spark, sf_dir, "events")
          .select("user_id", "event_id", "event_type",
                  F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
                  F.when(F.abs(F.col("value")) <= 1e15,
                         F.round(F.col("value") * 100).cast("long")).alias("cents")))
    wprev = (W.partitionBy("user_id").orderBy("us", "event_id")
             .rowsBetween(W.unboundedPreceding, -1))
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True).over(wprev)
    return (ev.withColumn("touch_type", touch)
            .filter(F.col("event_type") == "purchase")
            .groupBy(F.coalesce("touch_type", F.lit("organic"))
                      .alias("touch_type"))
            .agg(F.count(F.lit(1)).alias("n_purchases"),
                 (F.sum("cents").cast("double") / F.lit(100.0))
                 .alias("revenue")))


# ------------------------------------------------- count-min sketch

# Depth x width sized for the demo corpus; at 100 TB widen W (error
# ~ total_mass / W) — the table stays K*W counters regardless of rows.
_CMS_K = 5
_CMS_W = 256


def _cms_bucket(i: Column, v: Column) -> Column:
    return dedup_ops.portable_hash(
        F.concat(F.lit("cms"), i.cast("string"),
                 F.lit(":"), v.cast("string"))) % _CMS_W


def _cms_bucket_sql(i: str, v: str) -> str:
    return (dedup_ops.portable_hash_sql(
        f"'cms' || CAST({i} AS VARCHAR) || ':' || CAST({v} AS VARCHAR)")
        + f" % {_CMS_W}")


@register(
    "agg_count_min_sketch",
    oracle=f"""
    WITH r AS (
      SELECT user_id, i
      FROM events, LATERAL unnest(generate_series(0, {_CMS_K - 1})) AS u(i)
    ), cms AS (
      SELECT i, {_cms_bucket_sql('i', 'user_id')} AS bucket,
             COUNT(*) AS n
      FROM r GROUP BY 1, 2
    ), probes AS (
      SELECT user_id, COUNT(*) AS true_n
      FROM events WHERE user_id % 15 = 0 GROUP BY 1
    ), pk AS (
      SELECT p.user_id, p.true_n, u.i,
             {_cms_bucket_sql('u.i', 'p.user_id')} AS bucket
      FROM probes p,
           LATERAL unnest(generate_series(0, {_CMS_K - 1})) AS u(i)
    )
    SELECT pk.user_id, CAST(pk.true_n AS BIGINT) AS true_n,
           CAST(MIN(cms.n) AS BIGINT) AS est_n
    FROM pk JOIN cms USING (i, bucket)
    GROUP BY 1, 2
    """,
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch — the mergeable FREQUENCY sketch completing
    the quartet (HLL distinct / theta set ops / approx-top-k heavy
    hitters / Bloom membership): K=5 md5-derived hash rows x W=256
    counters estimate any key's event count with one-sided error
    (est >= true; overshoot <= total_mass/W per row, min over K rows).

    Scale shape: the sketch BUILD is one partial+final hash aggregate
    whose reduced state is <= K*W counters per partition — the 5x
    explode never reaches the shuffle at corpus cardinality; the
    finished 1280-cell table broadcasts to the probe join. Everything
    (hashes, counters, min) is integer-exact, so unlike the HLL keys
    this sketch carries a FULL value-hash oracle rather than an
    error-bound boolean — pytest pins the no-underestimate and
    mass-conservation laws besides."""
    ev = t(spark, sf_dir, "events").select("user_id")
    rows = ev.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(_CMS_K - 1))).alias("i"))
    cms = (rows
           .withColumn("bucket", _cms_bucket(F.col("i"), F.col("user_id")))
           .groupBy("i", "bucket")
           .agg(F.count(F.lit(1)).alias("n")))
    probes = (ev.filter(F.col("user_id") % 15 == 0)
              .groupBy("user_id")
              .agg(F.count(F.lit(1)).alias("true_n")))
    pk = (probes
          .select("user_id", "true_n",
                  F.explode(F.sequence(F.lit(0), F.lit(_CMS_K - 1))).alias("i"))
          .withColumn("bucket", _cms_bucket(F.col("i"), F.col("user_id"))))
    return (pk.join(F.broadcast(cms), ["i", "bucket"])
            .groupBy("user_id")
            .agg(F.max("true_n").cast("long").alias("true_n"),
                 F.min("n").cast("long").alias("est_n")))


@register(
    "event_path_analysis",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM (SELECT user_id, event_id, event_type,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us
            FROM events)
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), paths AS (
      SELECT event_type || '>' || t2 || '>' || t3 AS path,
             COUNT(*) AS n
      -- a path needs ALL THREE steps typed: concat_ws would silently
      -- skip a NULL middle step (2-step path), '||' would NULL the
      -- whole path — neither is a 3-step path, so drop them here
      FROM e WHERE event_type IS NOT NULL AND t2 IS NOT NULL
               AND t3 IS NOT NULL
      GROUP BY 1
    )
    SELECT path, CAST(n AS BIGINT) AS n, rk FROM (
      SELECT *, row_number() OVER (ORDER BY n DESC, path) AS rk
      FROM paths)
    WHERE rk <= 5
    """,
)
def event_path_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most common 3-step event-type paths — the exploratory
    complement to event_funnel (funnel checks ONE ordered hypothesis;
    paths discovers which sequences actually dominate). Trigrams via
    two leads on one user_id window — never a 3-way self-join — then
    a path-string aggregate that partial-combines to <= |types|^3
    rows per partition (125 here) before its shuffle; the final
    top-5 ranks a bounded table, tie-broken by path for cross-engine
    determinism."""
    ev = (t(spark, sf_dir, "events")
          .select("user_id", "event_id", "event_type",
                  F.unix_micros(F.col("ts").cast("timestamp")).alias("us")))
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    tri = (ev
           .withColumn("t2", F.lead("event_type", 1).over(w))
           .withColumn("t3", F.lead("event_type", 2).over(w))
           # all three steps must be typed: concat_ws silently skips
           # NULLs, which would alias a 3-gram to a 2-step path
           .filter(F.col("event_type").isNotNull()
                   & F.col("t2").isNotNull() & F.col("t3").isNotNull())
           .select(F.concat_ws(">", "event_type", "t2", "t3").alias("path")))
    paths = tri.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    wr = W.orderBy(F.desc("n"), F.asc("path"))
    return (paths
            .withColumn("rk", F.row_number().over(wr))
            .filter(F.col("rk") <= 5)
            .select("path", F.col("n").cast("long").alias("n"), "rk"))


@register(
    "event_markov_transitions",
    oracle="""
    WITH e AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY us, event_id) AS to_type
      FROM (SELECT user_id, event_id, event_type,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us
            FROM events)
    ), tr AS (
      SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM e WHERE to_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE) /
             SUM(n) OVER (PARTITION BY from_type) AS p
    FROM tr
    """,
)
def event_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types — the
    behavioral model behind next-action prediction and anomaly scoring
    (a session whose transitions are improbable under the matrix is an
    outlier). One lead over the per-user time order produces the
    bigram stream; the transition aggregate partial-combines to
    <= |types|^2 rows per partition before its shuffle; row
    probabilities are one exact integer ratio per row (count over the
    from-type window on the BOUNDED matrix), bit-identical across
    engines — no rounding needed."""
    ev = (t(spark, sf_dir, "events")
          .select("user_id", "event_id", "event_type",
                  F.unix_micros(F.col("ts").cast("timestamp")).alias("us")))
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    tr = (ev
          .withColumn("to_type", F.lead("event_type").over(w))
          .filter(F.col("to_type").isNotNull())
          .groupBy(F.col("event_type").alias("from_type"), "to_type")
          .agg(F.count(F.lit(1)).alias("n")))
    wf = W.partitionBy("from_type")
    return tr.select(
        "from_type", "to_type", F.col("n").cast("long").alias("n"),
        (F.col("n").cast("double") / F.sum("n").over(wf)).alias("p"))


@register(
    "event_cooccurrence",
    oracle="""
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
    ), nu AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM ut
    ), per_type AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t
      FROM ut GROUP BY 1
    ), pr AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT pr.type_a, pr.type_b, pr.n_ab,
           ta.n_t AS n_a, tb.n_t AS n_b,
           (CAST(pr.n_ab AS DOUBLE) * CAST(nu.n_users AS DOUBLE)) /
           (CAST(ta.n_t AS DOUBLE) * CAST(tb.n_t AS DOUBLE)) AS lift
    FROM pr
    JOIN per_type ta ON pr.type_a = ta.event_type
    JOIN per_type tb ON pr.type_b = tb.event_type
    CROSS JOIN nu
    """,
)
def event_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence lift at user granularity —
    market-basket association (lift = P(a,b) / (P(a)·P(b)) over the
    user population), the feature-correlation probe behind
    recommendation and funnel design. lift > 1 means the types attract
    (users doing A do B more than independence predicts), < 1 repels.

    Exactness: every count is an integer; lift is computed with ONE
    identical IEEE expression in both engines — the doubles cast from
    exact BIGINTs, two multiplies and a divide in the same order —
    so it is bit-identical with no rounding step.

    100-TB shape: the distinct (user, type) projection
    partial-combines before its shuffle; the pair self-join shuffles
    on user_id with per-user fan-out bounded by |types|; the
    per-type and 1-row population tables broadcast into the final
    join — nothing corpus-proportional moves."""
    ut = (t(spark, sf_dir, "events")
          .select("user_id", "event_type").distinct())
    from ..operators.cache import tracked_persist
    ut = tracked_persist(ut)
    nu = ut.agg(F.countDistinct("user_id").alias("n_users"))
    per_type = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_t"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pr = (a.join(b, "user_id")
          .filter(F.col("type_a") < F.col("type_b"))
          .groupBy("type_a", "type_b")
          .agg(F.count(F.lit(1)).alias("n_ab")))
    ta = per_type.select(F.col("event_type").alias("type_a"),
                         F.col("n_t").alias("n_a"))
    tb = per_type.select(F.col("event_type").alias("type_b"),
                         F.col("n_t").alias("n_b"))
    return (pr.join(F.broadcast(ta), "type_a")
            .join(F.broadcast(tb), "type_b")
            .crossJoin(F.broadcast(nu))
            .select("type_a", "type_b", "n_ab", "n_a", "n_b",
                    ((F.col("n_ab").cast("double")
                      * F.col("n_users").cast("double"))
                     / (F.col("n_a").cast("double")
                        * F.col("n_b").cast("double"))).alias("lift")))


@register(
    "rfm_segments",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             MAX(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000) AS last_day,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(CASE WHEN abs(o_totalprice) <= 1e15
                       THEN CAST(o_totalprice AS DECIMAL(18,2)) END) * 100
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ), mx AS (
      SELECT MAX(last_day) AS max_day FROM per_cust
    ), scored AS (
      SELECT CASE WHEN mx.max_day - last_day <= 90 THEN 5
                  WHEN mx.max_day - last_day <= 180 THEN 4
                  WHEN mx.max_day - last_day <= 365 THEN 3
                  WHEN mx.max_day - last_day <= 730 THEN 2
                  ELSE 1 END AS r_score,
             CASE WHEN freq >= 20 THEN 5 WHEN freq >= 10 THEN 4
                  WHEN freq >= 5 THEN 3 WHEN freq >= 2 THEN 2
                  ELSE 1 END AS f_score,
             CASE WHEN cents >= 30000000 THEN 5
                  WHEN cents >= 15000000 THEN 4
                  WHEN cents >= 7500000 THEN 3
                  WHEN cents >= 3000000 THEN 2
                  ELSE 1 END AS m_score,
             cents
      FROM per_cust CROSS JOIN mx
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) / 100
             AS total_spend
    FROM scored GROUP BY 1, 2, 3
    """,
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation over
    orders — the lifecycle-marketing and churn-risk grid. Scores use
    FIXED integer thresholds (days-since ladder, order-count ladder,
    spend-cents ladder) rather than ntile quantiles: a global ntile
    needs a single-partition sort of every customer — the classic
    100-TB anti-plan — while fixed ladders are one CASE expression per
    row, deterministic, and partial-combine all the way. Recency
    anchors to the corpus max day (a 1-row broadcast aggregate, not a
    sort); spend goes through the DECIMAL-cents convention so sums are
    exact; output is the bounded ≤125-cell segment grid.

    100-TB shape: per-customer agg partial-combines before one
    o_custkey shuffle; the 1-row max broadcasts; the segment agg
    collapses to ≤125 rows per partition."""
    from ..operators.cache import tracked_persist

    per_cust = (t(spark, sf_dir, "orders")
                .groupBy("o_custkey")
                .agg(F.max(F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))"
                                  " div 86400000000")).alias("last_day"),
                     F.count(F.lit(1)).alias("freq"),
                     (F.sum(F.when(F.abs(F.col("o_totalprice")) <= 1e15,
                                    F.col("o_totalprice")
                                    .cast("decimal(18,2)")))
                      * 100).cast("long").alias("cents")))
    per_cust = tracked_persist(per_cust)  # two consumers: mx + scored
    mx = per_cust.agg(F.max("last_day").alias("max_day"))
    rec = F.col("max_day") - F.col("last_day")
    scored = (per_cust.crossJoin(F.broadcast(mx))
              .select(
                  F.when(rec <= 90, 5).when(rec <= 180, 4)
                  .when(rec <= 365, 3).when(rec <= 730, 2)
                  .otherwise(1).alias("r_score"),
                  F.when(F.col("freq") >= 20, 5)
                  .when(F.col("freq") >= 10, 4)
                  .when(F.col("freq") >= 5, 3)
                  .when(F.col("freq") >= 2, 2)
                  .otherwise(1).alias("f_score"),
                  F.when(F.col("cents") >= 30_000_000, 5)
                  .when(F.col("cents") >= 15_000_000, 4)
                  .when(F.col("cents") >= 7_500_000, 3)
                  .when(F.col("cents") >= 3_000_000, 2)
                  .otherwise(1).alias("m_score"),
                  "cents"))
    return (scored.groupBy("r_score", "f_score", "m_score")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 (F.sum("cents").cast("double") / F.lit(100))
                 .alias("total_spend")))


@register(
    "event_interarrival_stats",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ), gaps AS (
      SELECT event_type,
             us - lag(us) OVER (
               PARTITION BY user_id, event_type ORDER BY us) AS gap
      FROM seq
    ), hist AS (
      SELECT event_type, gap, CAST(COUNT(*) AS BIGINT) AS w
      FROM gaps WHERE gap IS NOT NULL GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, gap, w,
             CAST(SUM(w) OVER (
               PARTITION BY event_type ORDER BY gap
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cw,
             CAST(SUM(w) OVER (PARTITION BY event_type) AS BIGINT)
               AS tw
      FROM hist
    )
    SELECT event_type, CAST(MAX(tw) AS BIGINT) AS n_gaps,
           CAST(MIN(CASE WHEN 2 * cw >= tw THEN gap END) AS BIGINT)
             AS median_gap_us,
           CAST(MIN(CASE WHEN 10 * cw >= 9 * tw THEN gap END)
                AS BIGINT) AS p90_gap_us,
           CAST(MAX(gap) AS BIGINT) AS max_gap_us
    FROM cum GROUP BY event_type
    """,
)
def event_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap percentiles per event type (gaps between a
    user's consecutive events of that type): lower median, lower p90,
    and max, in exact microseconds — the burstiness / cadence panel
    behind rate-limit tuning and engagement scoring. Percentiles are
    the `agg_weighted_median` integer technique over the (type, gap)
    VALUE HISTOGRAM: k-th statistics become pure-integer cumulative
    predicates (2*cum >= total; 10*cum >= 9*total) — no
    interpolation, no per-group value collection.

    100-TB shape: the lag window partitions by (user, type) — raw
    events shuffle once on user-grain keys; gaps then collapse to the
    gap-value histogram which partial-combines before the type-keyed
    cumsum window (histogram-bounded input, |types| groups); no
    single-partition sort of raw gaps ever happens."""
    seq = (t(spark, sf_dir, "events")
           .select("user_id", "event_type",
                   F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
                   .alias("us")))
    wl = W.partitionBy("user_id", "event_type").orderBy("us")
    gaps = (seq.withColumn("gap", F.col("us") - F.lag("us").over(wl))
            .filter(F.col("gap").isNotNull()))
    hist = (gaps.groupBy("event_type", "gap")
            .agg(F.count(F.lit(1)).alias("w")))
    wc = (W.partitionBy("event_type").orderBy("gap")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    cum = (hist.withColumn("cw", F.sum("w").over(wc))
           .withColumn("tw",
                       F.sum("w").over(W.partitionBy("event_type"))))
    return (cum.groupBy("event_type")
            .agg(F.max("tw").alias("n_gaps"),
                 F.min(F.when(2 * F.col("cw") >= F.col("tw"),
                              F.col("gap"))).alias("median_gap_us"),
                 F.min(F.when(10 * F.col("cw") >= 9 * F.col("tw"),
                              F.col("gap"))).alias("p90_gap_us"),
                 F.max("gap").alias("max_gap_us")))


@register(
    "event_active_users",
    oracle="""
    WITH active AS (
      SELECT DISTINCT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      FROM events
    ), span AS (
      SELECT MIN(day) AS d0, MAX(day) AS d1 FROM active
    ), dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM active
      GROUP BY 1
    ), covers AS (
      SELECT DISTINCT a.user_id, a.day + g.i AS day
      FROM active a,
           LATERAL (SELECT unnest(range(0, 7)) AS i) g
    ), wau AS (
      SELECT c.day, CAST(COUNT(*) AS BIGINT) AS wau
      FROM covers c CROSS JOIN span
      WHERE c.day <= span.d1
      GROUP BY 1
    )
    SELECT w.day, COALESCE(d.dau, 0) AS dau, w.wau,
           CAST(COALESCE(d.dau, 0) AS DOUBLE) / CAST(w.wau AS DOUBLE)
             AS stickiness
    FROM wau w LEFT JOIN dau d ON w.day = d.day
    """,
)
def event_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day — the most-used
    engagement metric family. Sliding-window COUNT(DISTINCT) does not
    scale as a window function (per-frame distinct state grows with
    history), so the rewrite: each (user, active-day) pair COVERS the
    7 days it contributes to — explode the compacted active-pair set
    by a 7-element sequence, re-distinct, and a trailing-distinct
    count becomes a plain per-day count. Counts exact; stickiness
    (DAU/WAU) is one shared IEEE divide. Days past the corpus end
    are clipped so every reported day is a real observation window.

    100-TB shape: the active-pair distinct partial-combines raw
    events down to user x day; the x7 explode runs on THAT compacted
    set (bounded by 7 x active pairs, independent of per-day event
    volume); both counts partial-combine; the 1-row span broadcasts."""
    from ..operators.cache import tracked_persist

    active = (t(spark, sf_dir, "events")
              .select("user_id",
                      F.expr("unix_micros(CAST(ts AS TIMESTAMP))"
                             " div 86400000000").alias("day"))
              .distinct())
    active = tracked_persist(active)   # dau + covers + span read it
    span = active.agg(F.max("day").alias("d1"))
    dau = active.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    covers = (active
              .select("user_id",
                      F.explode(F.sequence(F.col("day"),
                                           F.col("day") + 6))
                      .alias("day"))
              .distinct())
    wau = (covers.crossJoin(F.broadcast(span))
           .filter(F.col("day") <= F.col("d1"))
           .groupBy("day").agg(F.count(F.lit(1)).alias("wau")))
    return (wau.join(dau, "day", "left")
            .select("day",
                    F.coalesce("dau", F.lit(0)).cast("long")
                    .alias("dau"),
                    "wau",
                    (F.coalesce("dau", F.lit(0)).cast("double")
                     / F.col("wau").cast("double"))
                    .alias("stickiness")))


@register(
    "event_ab_test",
    oracle="""
    WITH assigned AS (
      SELECT user_id,
             CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)),
                                  1, 15)) AS BIGINT) % 2 AS grp
      FROM (SELECT DISTINCT user_id FROM events)
    ), conv AS (
      SELECT user_id FROM events WHERE event_type = 'purchase'
      GROUP BY user_id HAVING COUNT(*) >= 15
    ), cells AS (
      SELECT a.grp,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_converted
      FROM assigned a LEFT JOIN conv c ON a.user_id = c.user_id
      GROUP BY 1
    ), wide AS (
      SELECT
        MAX(CASE WHEN grp = 0 THEN n_users END) AS n_a,
        MAX(CASE WHEN grp = 0 THEN n_converted END) AS c_a,
        MAX(CASE WHEN grp = 1 THEN n_users END) AS n_b,
        MAX(CASE WHEN grp = 1 THEN n_converted END) AS c_b
      FROM cells
    ), rates AS (
      SELECT n_a, c_a, n_b, c_b,
             CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
             CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
             CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
               AS pooled
      FROM wide
    )
    SELECT n_a, c_a, n_b, c_b, rate_a, rate_b,
           rate_b - rate_a AS uplift,
           (rate_b - rate_a)
             / NULLIF(sqrt(pooled * (1 - pooled)
                           * (1 / CAST(n_a AS DOUBLE)
                              + 1 / CAST(n_b AS DOUBLE))), 0)
             AS z_score
    FROM rates
    """,
)
def event_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B conversion test: users split 50/50 by a
    DETERMINISTIC md5 hash (the assignment every experimentation
    platform needs - stable under re-runs, joins, and backfills;
    never rand()), conversion = a heavy-purchaser threshold (>= 15
    purchase events), output the two cell counts, rates, uplift, and
    the pooled two-proportion z-score. Counts are exact integers;
    every derived value is a fixed chain of IEEE ops (sqrt only -
    correctly rounded everywhere) written identically in both
    engines; a degenerate corpus (conversion rate 0 or 1 -> zero
    pooled variance) yields a NULL z-score via the same NULLIF guard
    in both, never an ANSI divide-by-zero.

    100-TB shape: distinct-user and converter aggregates
    partial-combine; one user-keyed left join; the cell agg collapses
    to 2 rows and the pivot to 1 - nothing driver-side."""
    from ..operators.dedup import portable_hash

    users = (t(spark, sf_dir, "events")
             .select("user_id").distinct())
    assigned = users.select(
        "user_id",
        (portable_hash(F.concat(F.lit("ab:"),
                                F.col("user_id").cast("string")))
         % 2).alias("grp"))
    conv = (t(spark, sf_dir, "events")
            .filter(F.col("event_type") == "purchase")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") >= 15)
            .select("user_id")
            .withColumn("_c", F.lit(1)))
    cells = (assigned.join(conv, "user_id", "left")
             .groupBy("grp")
             .agg(F.count(F.lit(1)).alias("n_users"),
                  F.sum(F.when(F.col("_c").isNotNull(), 1).otherwise(0))
                  .cast("long").alias("n_converted")))
    wide = cells.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n_users")))
        .alias("n_a"),
        F.max(F.when(F.col("grp") == 0, F.col("n_converted")))
        .alias("c_a"),
        F.max(F.when(F.col("grp") == 1, F.col("n_users")))
        .alias("n_b"),
        F.max(F.when(F.col("grp") == 1, F.col("n_converted")))
        .alias("c_b"))
    ra = F.col("c_a").cast("double") / F.col("n_a").cast("double")
    rb = F.col("c_b").cast("double") / F.col("n_b").cast("double")
    pooled = ((F.col("c_a") + F.col("c_b")).cast("double")
              / (F.col("n_a") + F.col("n_b")).cast("double"))
    rates = wide.select(
        "n_a", "c_a", "n_b", "c_b",
        ra.alias("rate_a"), rb.alias("rate_b"),
        pooled.alias("pooled"))
    den = F.sqrt(F.col("pooled") * (1 - F.col("pooled"))
                 * (1 / F.col("n_a").cast("double")
                    + 1 / F.col("n_b").cast("double")))
    return (rates
            .withColumn("_den", den)
            .select(
                "n_a", "c_a", "n_b", "c_b", "rate_a", "rate_b",
                (F.col("rate_b") - F.col("rate_a")).alias("uplift"),
                ((F.col("rate_b") - F.col("rate_a"))
                 / F.expr("nullif(_den, 0.0D)")).alias("z_score")))


@register(
    "event_attribution_linear",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             CASE WHEN abs(value) <= 1e15
                  THEN CAST(round(value * 100) AS BIGINT) END AS cents
      FROM events
    ), j AS (
      SELECT user_id, event_id, event_type, us, cents,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS journey
      FROM e
    ), purchases AS (
      SELECT user_id, journey, cents FROM j
      WHERE event_type = 'purchase'
    ), touches AS (
      SELECT user_id, journey, event_type,
             row_number() OVER (
               PARTITION BY user_id, journey
               ORDER BY us DESC, event_id DESC) AS rev_rk
      FROM j WHERE event_type <> 'purchase'
    ), stats AS (
      SELECT user_id, journey, CAST(COUNT(*) AS BIGINT) AS n_touches
      FROM touches GROUP BY 1, 2
    ), credited AS (
      SELECT t.event_type AS touch_type,
             p.cents // s.n_touches
               + CASE WHEN t.rev_rk = 1
                      THEN p.cents % s.n_touches ELSE 0 END AS credit
      FROM purchases p
      JOIN stats s ON p.user_id = s.user_id AND p.journey = s.journey
      JOIN touches t ON p.user_id = t.user_id AND p.journey = t.journey
    ), organic AS (
      SELECT 'organic' AS touch_type, p.cents AS credit
      FROM purchases p LEFT JOIN stats s
        ON p.user_id = s.user_id AND p.journey = s.journey
      WHERE s.n_touches IS NULL
    )
    SELECT touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(CAST(SUM(credit) AS BIGINT) AS DOUBLE) / 100
             AS credited_revenue
    FROM (SELECT * FROM credited UNION ALL SELECT * FROM organic)
    GROUP BY touch_type
    """,
)
def event_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR (multi-touch) attribution: each purchase's revenue is
    split across ALL the user's touches since their previous purchase
    (the journey window), completing the attribution pair with
    `event_attribution`'s last-touch rule. EXACT by integer division:
    each touch gets cents div n and the remainder cents mod n goes to
    the final (closest) touch — credit conservation is an identity,
    not a float approximation, so the per-type rollup hash-matches
    across engines with no summation-order risk. Journeys with no
    touches credit 'organic'.

    The journey segmentation is ONE user_id window (running purchase
    count over the preceding frame) — never a per-purchase as-of
    self-join; touch counts and the purchase amount attach by
    (user, journey) equi-joins on already-compacted rowsets.

    100-TB shape: one user_id Exchange for the window; the
    (user, journey) joins reuse user-grain partitioning; the final
    agg collapses to |types|+1 rows; frame state is O(1)."""
    ev = (t(spark, sf_dir, "events")
          .select("user_id", "event_id", "event_type",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("us"),
                  F.when(F.abs(F.col("value")) <= 1e15,
                         F.round(F.col("value") * 100).cast("long"))
                  .alias("cents")))
    wprev = (W.partitionBy("user_id").orderBy("us", "event_id")
             .rowsBetween(W.unboundedPreceding, -1))
    j = ev.withColumn(
        "journey",
        F.coalesce(F.sum(F.when(F.col("event_type") == "purchase", 1)
                         .otherwise(0)).over(wprev),
                   F.lit(0)).cast("long"))
    from ..operators.cache import tracked_persist
    j = tracked_persist(j)   # purchases + touches read it
    purchases = (j.filter(F.col("event_type") == "purchase")
                 .select("user_id", "journey", "cents"))
    wrev = (W.partitionBy("user_id", "journey")
            .orderBy(F.desc("us"), F.desc("event_id")))
    touches = (j.filter(F.col("event_type") != "purchase")
               .withColumn("rev_rk", F.row_number().over(wrev))
               .select("user_id", "journey",
                       F.col("event_type").alias("touch_type"),
                       "rev_rk"))
    touches = tracked_persist(touches)   # stats + credit read it
    stats = (touches.groupBy("user_id", "journey")
             .agg(F.count(F.lit(1)).alias("n_touches")))
    credited = (purchases
                .join(stats, ["user_id", "journey"])
                .join(touches, ["user_id", "journey"])
                .select("touch_type",
                        (F.expr("cents div n_touches")
                         + F.when(F.col("rev_rk") == 1,
                                  F.col("cents") % F.col("n_touches"))
                         .otherwise(0)).alias("credit")))
    organic = (purchases
               .join(stats, ["user_id", "journey"], "left")
               .filter(F.col("n_touches").isNull())
               .select(F.lit("organic").alias("touch_type"),
                       F.col("cents").alias("credit")))
    return (credited.unionByName(organic)
            .groupBy("touch_type")
            .agg(F.count(F.lit(1)).alias("n_credits"),
                 (F.sum("credit").cast("long").cast("double")
                  / F.lit(100)).alias("credited_revenue")))


@register(
    "event_attribution_first",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             CASE WHEN abs(value) <= 1e15
                  THEN CAST(round(value * 100) AS BIGINT) END AS cents
      FROM events
    ), j AS (
      SELECT user_id, event_id, event_type, us, cents,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS journey
      FROM e
    ), purchases AS (
      SELECT user_id, journey, cents FROM j
      WHERE event_type = 'purchase'
    ), first_touch AS (
      SELECT user_id, journey, event_type FROM (
        SELECT user_id, journey, event_type,
               row_number() OVER (
                 PARTITION BY user_id, journey
                 ORDER BY us, event_id) AS rk
        FROM j WHERE event_type <> 'purchase')
      WHERE rk = 1
    )
    SELECT COALESCE(f.event_type, 'organic') AS touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(CAST(SUM(p.cents) AS BIGINT) AS DOUBLE) / 100
             AS revenue
    FROM purchases p LEFT JOIN first_touch f
      ON p.user_id = f.user_id AND p.journey = f.journey
    GROUP BY 1
    """,
)
def event_attribution_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-touch attribution: each purchase credits the EARLIEST
    touch of its journey window (the touches since the user's
    previous purchase) — completing the standard attribution trio
    (first / last / linear) with the same journey segmentation as
    `event_attribution_linear`: one user window for journey ids, a
    rank-1 pick per (user, journey), and integer-cent revenue so the
    rollup hash-matches exactly. Journeys with no touches fall to
    'organic'.

    100-TB shape: one user_id Exchange for the window; the first-
    touch pick and the purchase join both run at (user, journey)
    grain on compacted rowsets; the final agg collapses to
    |types|+1 rows."""
    ev = (t(spark, sf_dir, "events")
          .select("user_id", "event_id", "event_type",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("us"),
                  F.when(F.abs(F.col("value")) <= 1e15,
                         F.round(F.col("value") * 100).cast("long"))
                  .alias("cents")))
    wprev = (W.partitionBy("user_id").orderBy("us", "event_id")
             .rowsBetween(W.unboundedPreceding, -1))
    j = ev.withColumn(
        "journey",
        F.coalesce(F.sum(F.when(F.col("event_type") == "purchase", 1)
                         .otherwise(0)).over(wprev),
                   F.lit(0)).cast("long"))
    from ..operators.cache import tracked_persist
    j = tracked_persist(j)   # purchases + first-touch read it
    purchases = (j.filter(F.col("event_type") == "purchase")
                 .select("user_id", "journey", "cents"))
    wfirst = (W.partitionBy("user_id", "journey")
              .orderBy("us", "event_id"))
    first_touch = (j.filter(F.col("event_type") != "purchase")
                   .withColumn("rk", F.row_number().over(wfirst))
                   .filter(F.col("rk") == 1)
                   .select("user_id", "journey",
                           F.col("event_type").alias("touch_type")))
    return (purchases
            .join(first_touch, ["user_id", "journey"], "left")
            .groupBy(F.coalesce("touch_type", F.lit("organic"))
                     .alias("touch_type"))
            .agg(F.count(F.lit(1)).alias("n_purchases"),
                 (F.sum("cents").cast("long").cast("double")
                  / F.lit(100)).alias("revenue")))


@register(
    "event_conversion_lag",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ), j AS (
      SELECT user_id, event_id, event_type, us,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS journey
      FROM e
    ), purchases AS (
      SELECT user_id, journey, us AS p_us FROM j
      WHERE event_type = 'purchase'
    ), first_touch AS (
      SELECT user_id, journey, event_type, us AS f_us FROM (
        SELECT user_id, journey, event_type, us,
               row_number() OVER (
                 PARTITION BY user_id, journey
                 ORDER BY us, event_id) AS rk
        FROM j WHERE event_type <> 'purchase')
      WHERE rk = 1
    ), lags AS (
      SELECT f.event_type AS touch_type, p.p_us - f.f_us AS lag_us
      FROM purchases p
      JOIN first_touch f
        ON p.user_id = f.user_id AND p.journey = f.journey
    ), hist AS (
      SELECT touch_type, lag_us, CAST(COUNT(*) AS BIGINT) AS w
      FROM lags GROUP BY 1, 2
    ), cum AS (
      SELECT touch_type, lag_us, w,
             CAST(SUM(w) OVER (
               PARTITION BY touch_type ORDER BY lag_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cw,
             CAST(SUM(w) OVER (PARTITION BY touch_type) AS BIGINT)
               AS tw
      FROM hist
    )
    SELECT touch_type, CAST(MAX(tw) AS BIGINT) AS n_conversions,
           CAST(MIN(CASE WHEN 2 * cw >= tw THEN lag_us END)
                AS BIGINT) AS median_lag_us,
           CAST(MIN(CASE WHEN 10 * cw >= 9 * tw THEN lag_us END)
                AS BIGINT) AS p90_lag_us
    FROM cum GROUP BY touch_type
    """,
)
def event_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert per first-touch type: the exact lower
    median and p90 of (purchase time − first-touch time) within each
    journey window — the funnel-latency panel ("how long does a
    signup-led journey take to convert vs an ad-click-led one").
    Composes the two proven recipes: journey segmentation from the
    attribution keys (one user window) and integer histogram-rank
    percentiles from `event_interarrival_stats` (2·cum ≥ total /
    10·cum ≥ 9·total — no interpolation, no per-group collection).
    All values exact microsecond integers.

    100-TB shape: one user_id Exchange for the journey window; the
    purchase–first-touch join runs at (user, journey) grain; lags
    collapse to the (type, lag) histogram before the type-keyed
    cumsum window."""
    ev = (t(spark, sf_dir, "events")
          .select("user_id", "event_id", "event_type",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("us")))
    wprev = (W.partitionBy("user_id").orderBy("us", "event_id")
             .rowsBetween(W.unboundedPreceding, -1))
    j = ev.withColumn(
        "journey",
        F.coalesce(F.sum(F.when(F.col("event_type") == "purchase", 1)
                         .otherwise(0)).over(wprev),
                   F.lit(0)).cast("long"))
    from ..operators.cache import tracked_persist
    j = tracked_persist(j)
    purchases = (j.filter(F.col("event_type") == "purchase")
                 .select("user_id", "journey",
                         F.col("us").alias("p_us")))
    wfirst = (W.partitionBy("user_id", "journey")
              .orderBy("us", "event_id"))
    first_touch = (j.filter(F.col("event_type") != "purchase")
                   .withColumn("rk", F.row_number().over(wfirst))
                   .filter(F.col("rk") == 1)
                   .select("user_id", "journey",
                           F.col("event_type").alias("touch_type"),
                           F.col("us").alias("f_us")))
    lags = (purchases.join(first_touch, ["user_id", "journey"])
            .select("touch_type",
                    (F.col("p_us") - F.col("f_us")).alias("lag_us")))
    hist = (lags.groupBy("touch_type", "lag_us")
            .agg(F.count(F.lit(1)).alias("w")))
    wc = (W.partitionBy("touch_type").orderBy("lag_us")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    cum = (hist.withColumn("cw", F.sum("w").over(wc))
           .withColumn("tw",
                       F.sum("w").over(W.partitionBy("touch_type"))))
    return (cum.groupBy("touch_type")
            .agg(F.max("tw").alias("n_conversions"),
                 F.min(F.when(2 * F.col("cw") >= F.col("tw"),
                              F.col("lag_us"))).alias("median_lag_us"),
                 F.min(F.when(10 * F.col("cw") >= 9 * F.col("tw"),
                              F.col("lag_us"))).alias("p90_lag_us")))
