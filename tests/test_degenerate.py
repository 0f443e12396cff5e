"""Empty-input regression gate: one representative key per failure
class found by the round-8 degenerate sweep (`tools/sweep.py --replica
empty`, record bench/DEGENERATE_r08.json — 8/243 keys crashed on 0-row
tables). The full 243-key sweep stays a tool-tier check; this file pins
the three FIX CLASSES fast so a regression to any of them fails the
suite, not the next sweep:

  1. empty partitioned write read back under the writer's explicit
     schema (no UNABLE_TO_INFER_SCHEMA on a data-file-less dir tree),
     plus the driver-side min(partition_col)-is-None guard
     -> sink_partitioned, vec_ivf_index_refresh
  2. driver-side asserts check the hand-off CONTRACT, not row counts
     -> sql_to_pandas
  3. NULL aggregate over zero rows preserved, not int(None)-crashed
     -> tf_bloom_index
  4. a ratio over an empty denominator is NULL (try_divide), not an
     ANSI DIVIDE_BY_ZERO once the result is collected
     -> event_funnel
"""

from __future__ import annotations

import pytest


@pytest.mark.parametrize("key,want_rows", [
    # class 1: empty partitioned write read-back + None-min guard
    ("sink_partitioned", 0),
    ("vec_ivf_index_refresh", 0),
    # class 2: contract asserts (columns/timing), not len(pdf) > 0
    ("sql_to_pandas", 0),
    # class 3: SUM over zero rows is NULL — carried, not int()-crashed
    ("tf_bloom_index", 1),
    # class 4: a share over a zero denominator is NULL, not an ANSI
    # DIVIDE_BY_ZERO (the 3 stage rows are still returned)
    ("event_funnel", 3),
])
def test_key_runs_on_empty_tables(replica_verdict, key, want_rows):
    assert replica_verdict("empty", key) == f"ROWS_ONLY rows={want_rows}"


def test_empty_replica_preserves_schema(replica_dir):
    """The replica builder's contract: 0 rows, byte-identical logical
    types (ns timestamps included) — otherwise the sweep exercises a
    different schema than production would hand an empty partition."""
    import pyarrow.parquet as pq

    from tests.conftest import SF_SMOKE

    d = replica_dir("empty")
    for t in ("events", "lineitem", "embeddings"):
        src = pq.read_schema(f"{SF_SMOKE}/{t}.parquet")
        dst = pq.read_schema(f"{d}/{t}.parquet")
        assert src.equals(dst), t
        assert pq.read_table(f"{d}/{t}.parquet").num_rows == 0
