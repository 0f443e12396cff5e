"""Null-input regression gate: one representative key per fix class
from the round-8 null-injection sweep (`tools/sweep.py --replica null`,
record bench/NULLSWEEP_r08.json — 27/243 keys diverged or crashed on
~3% null-injected value columns). The full sweep stays a tool-tier
check; this file runs the FIX CLASSES fast so a regression fails the
suite:

  1. NULL group key must survive an aggregate re-attach join
     -> udf_grouped_agg (eqNullSafe)
  2. pandas/Python UDFs propagate NULL instead of crashing
     -> udf_pandas_scalar, mm_decode_features
  3. distribution operators exclude NULL values by contract
     -> agg_exact_deciles
  4. streaming-state fold carries SQL SUM semantics over NULLs
     -> stream_custom_state
  5. tier 2: NULL embeddings are filtered at the with_vnorm funnel
     and mirrored in the shared _VNORM oracle CTE
     -> vec_knn_join
  6. r17 re-plan representatives (the STANDING RULE from the r16
     verdict #9: every re-plan must pass the null sweep on its touched
     keys BEFORE merging — the ts_changepoint seam, where a re-plan
     changed NULL-group semantics and the oracle was edited to absorb
     it, must be caught pre-merge, never settled by an oracle edit —
     and leaves one representative pinned here)
     -> vec_ivf_topk (JVM-expression argmax: NULL norm / poisoned
        centroid ordering), curate_pipeline (fused quality + exact
        window scan)

Each key runs on the null replica and is compared against the DuckDB
oracle reading the SAME replica — the sweep's gate, scoped to these
keys.
"""

from __future__ import annotations

import pytest

KEYS = [
    "udf_grouped_agg",
    "udf_pandas_scalar",
    "mm_decode_features",
    "agg_exact_deciles",
    "stream_custom_state",
    "vec_knn_join",
    "vec_ivf_topk",
    "curate_pipeline",
]


@pytest.mark.parametrize("key", KEYS)
def test_key_matches_oracle_on_null_data(replica_verdict, key):
    verdict = replica_verdict("null", key)
    assert verdict.startswith("OK"), verdict


def test_null_replica_actually_carries_nulls(replica_dir):
    """Guard the fixture's premise: the replica must inject NULLs into
    value columns or every test above is vacuously clean-data."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{replica_dir('null')}/lineitem.parquet")
    assert t.column("l_quantity").null_count > 100
    assert t.column("l_orderkey").null_count == 0  # keys stay non-null
