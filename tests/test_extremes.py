"""Extreme-numerics regression gate on a replica with IEEE-754 edge
values injected into double columns. Round 9 gated the RAW-FEED
surface (stream_*/udf_*/udtf_*/ts_/sessionize_/event_ + extras, 43
keys); round 10 promoted the same recipe onto the batch
money/percentile surface, so `tools/sweep.py --replica extremes` now
covers the WHOLE registry, record bench/EXTREMES_r10.json;
tf_constraints counts there only by raising (see
test_tf_constraints_rejects_extremes_at_ingest).

The round-9 probe found one crash class and two engine divergences:

  1. pandas int-casts killed the executor on one corrupt double
     (IntCastingNaNError on Inf cents) -> stream_custom_state,
     stream_tws_state, udf_grouped_map
  2. ANSI-mode JVM casts aborted the whole job on one Inf/1e300
     (decimal/long NUMERIC_VALUE_OUT_OF_RANGE) -> stream_tumbling_agg,
     stream_static_join, the ts_ cents/revenue keys, the sessionize/
     attribution/rfm events keys
  3. DuckDB ln() RAISES on negatives where numpy emits NaN
     -> udf_grouped_agg

All are fixed by ONE domain predicate: ``abs(value) <= 1e15``
(streaming/stateful.py CENTS_MAX_ABS) — FALSE for NaN and ±Inf in
pandas, Spark SQL, and DuckDB alike, so it excludes every edge value
identically in all three engines with no isfinite() spelling to
reconcile; out-of-domain values fold as NULL (skipped by SUM/AVG),
never a crash. sessionize_incremental additionally needed a null-safe
SQL-SUM combine when a persisted tail's sum is NULL. Core relational
keys over curated warehouse tables keep the validated-finite-domain
contract instead (SCALE.md taxonomy, full-registry probe recorded in
bench/EXTREMES_PROBE_full_r09.json): extremes are rejected at ingest
there, exactly as tf_constraints rejects NULL keys.

This file runs the fix-class keys against the DuckDB oracle on the
SAME extremes replica — the sweep's gate, scoped fast.
"""

from __future__ import annotations

import pytest

KEYS = [
    # round-9 raw-feed fix classes
    "stream_custom_state",
    "stream_tws_state",
    "stream_tumbling_agg",
    "stream_static_join",
    "udf_grouped_map",
    "udf_grouped_agg",
    "ts_rolling_anomaly",
    "sessionize_incremental",
    "rfm_segments",
    # round-10 batch-surface fix classes, one representative each:
    "flagship_pricing_summary",   # dec()/dsum ANSI decimal-overflow
    "agg_hash_basic",             # plain money SUM through dec()
    "agg_median",                 # percentile NaN-rank contract
    "agg_exact_deciles",          # NULL-bucket window-order contract
    "fn_math",                    # sign(NaN) engine divergence
    "project_rename_cast",        # per-row BIGINT cast (floor+guard)
    "tf_acid_append",             # cowtable _CENTS shared helper
    "win_skyline",                # domain filter ahead of the window
    "profile_table",              # per-column cents in one wide agg
]


@pytest.mark.parametrize("key", KEYS)
def test_key_matches_oracle_on_extreme_values(replica_verdict, key):
    verdict = replica_verdict("extremes", key)
    assert verdict.startswith("OK"), verdict


def test_domain_bound_literals_match_the_constant():
    """The abs(v) <= 1e15 guard is written as a LITERAL at every cast
    site — Spark expressions and the SQL oracle strings alike (an
    oracle string cannot reference a Python constant without turning
    every plain docstring-oracle into an f-string). This pin turns
    silent drift into a loud failure: if CENTS_MAX_ABS is ever changed,
    every literal site must move with it or this test names the count
    that didn't."""
    import glob
    import os
    import re

    from lakehouse_automation_spark.streaming.stateful import CENTS_MAX_ABS

    assert CENTS_MAX_ABS == 1e15, (
        "CENTS_MAX_ABS changed — update every `1e15` guard literal "
        "(queries/*.py, streaming/stateful.py) and then this pin")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "lakehouse_automation_spark")
    sites = 0
    for f in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        sites += len(re.findall(r"<= 1e15", open(f).read()))
    # the guard family as of round 9; growing it is fine (bump the
    # bound below), SHRINKING it without a matching code change means
    # a guard was lost
    assert sites >= 35, f"only {sites} `<= 1e15` guard sites found"


def test_extremes_replica_carries_the_edge_values(replica_dir):
    """Guard the fixture's premise: the replica must contain ±Inf and
    NaN in events.value (the column all six keys fold) or the tests
    above are vacuously clean-data."""
    import math

    import pyarrow.parquet as pq

    ev = pq.read_table(f"{replica_dir('extremes')}/events.parquet")
    vals = [v for v in ev.column("value").to_pylist() if v is not None]
    assert any(math.isinf(v) for v in vals), "no Inf injected"
    assert any(math.isnan(v) for v in vals), "no NaN injected"


def test_tf_constraints_rejects_extremes_at_ingest(spark, replica_dir):
    """The documented EXPECTED entry of the extremes sweep:
    tf_constraints IS the ingest CHECK gate, and on an extremes-injected
    corpus its correct behavior is to REJECT the batch (-Inf/-1e300
    order totals violate price_nonneg at CREATE), not to return rows.
    This pin is the machine-checked form of that contract — if the key
    ever starts silently accepting non-finite money, the entry is
    void."""
    from lakehouse_automation_spark import queries as Q
    from lakehouse_automation_spark.operators.cache import release_persisted
    from lakehouse_automation_spark.tableformat import (
        ConstraintViolationError,
    )

    try:
        with pytest.raises(ConstraintViolationError, match="price_nonneg"):
            Q.REGISTRY["tf_constraints"].fn(
                spark, replica_dir("extremes")).collect()
    finally:
        release_persisted()
