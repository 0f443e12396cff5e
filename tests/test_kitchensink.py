"""Kitchen-sink regression pin: a fast slice of the composed
adversarial sweep (`tools/sweep.py --replica composed` — ~3% NULLs +
IEEE extremes + dirty text + edge datetimes in ONE corpus, full record
bench/KITCHENSINK_r10.json 242/242 OK). Interaction bugs between the
three contracts (domain guard vs injected NULL, tokenizer vs NUL byte
beside a NaN money cell, window tie-break NULL + value NaN) are
invisible to the single-axis gates; this file keeps one representative
per contract family green in the suite."""

from __future__ import annotations

import pytest

KEYS = [
    "flagship_pricing_summary",   # money-domain guard + NULLs in one agg
    "agg_exact_deciles",          # domain filter + NULL-bucket window contract
    "text_exact_dedup",           # content-norm over dirty text with NULLs
    "text_tokenize_stats",        # tokenizer over NUL/CJK/emoji + null rows
    "udf_grouped_map",            # pandas fold: NULL + Inf in one chunk
    "join_dpp_partition_pruned",  # per-row cents guard + NULL keys
    "win_skyline",                # domain filter ahead of a global window
]


@pytest.mark.parametrize("key", KEYS)
def test_key_matches_oracle_on_composed_adversarial_corpus(replica_verdict,
                                                           key):
    verdict = replica_verdict("composed", key)
    assert verdict.startswith("OK"), verdict


def test_replica_composes_all_three_axes(replica_dir):
    """Guard the fixture's premise: the composed corpus must carry
    NULLs AND non-finite doubles AND dirty text simultaneously."""
    import math

    import pyarrow.parquet as pq

    kitchensink_sf_dir = replica_dir("composed")
    ev = pq.read_table(f"{kitchensink_sf_dir}/events.parquet")
    vals = ev.column("value").to_pylist()
    assert any(v is None for v in vals), "no NULLs survived composition"
    assert any(v is not None and math.isinf(v) for v in vals), "no Inf"
    docs = pq.read_table(f"{kitchensink_sf_dir}/documents.parquet")
    texts = [t for t in docs.column("text").to_pylist() if t]
    assert any("\x00" in t for t in texts), "no NUL-byte dirty class"
