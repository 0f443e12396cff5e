"""Dirty-text regression gate: one representative key per fix class
from the round-8/9 dirty-text sweep (`tools/sweep.py --replica dirty`,
records bench/DIRTYTEXT_r*.json — 2/243 keys diverged on a corpus with
~5% of documents mutated through web-crawl text shapes). The full
sweep stays a tool-tier check; this pytest file runs the FIX CLASSES
fast so a regression fails the suite:

  1. trim must strip 0x20 ONLY, pinned on BOTH engines: Spark trim()
     already does, but DuckDB's default trim() also eats \\t \\n \\r
     \\v \\f, so every oracle must say trim(col, ' ')
     -> text_exact_dedup (content-norm md5), udf_sql_register
        (row-UDF length sharding)
  2. case-fold must cover ASCII A-Z ONLY (translate), because Unicode
     lower() diverges between Java and utf8proc (Turkish dotted İ,
     Greek final-sigma) — latent in r8, caught by probe, pinned here
     -> text_exact_dedup on the casing-zoo class
  3. the composed pipelines reusing the content-norm must inherit the
     fix -> curate_pipeline, text_incremental_dedup
  4. levenshtein must run over the printable-ASCII projection on both
     engines (Spark counts CODE POINTS, DuckDB counts BYTES — the raw
     function diverges on any non-ASCII name; the sweep now mutates
     customer.c_name too) -> fn_levenshtein

Each key runs on the dirty replica and is compared against the DuckDB
oracle reading the SAME replica — the sweep's gate, scoped to these
keys.
"""

from __future__ import annotations

import duckdb
import pytest

KEYS = [
    "text_exact_dedup",
    "udf_sql_register",
    "curate_pipeline",
    "text_incremental_dedup",
    "fn_levenshtein",
]


@pytest.mark.parametrize("key", KEYS)
def test_key_matches_oracle_on_dirty_text(replica_verdict, key):
    verdict = replica_verdict("dirty", key)
    assert verdict.startswith("OK"), verdict


def test_dirty_replica_carries_the_divergent_shapes(replica_dir):
    """Guard the fixture's premise: the replica must contain the two
    shapes that actually diverged (mixed-whitespace padding incl. NBSP
    and thin space for fix class 1, the Unicode casing zoo for fix
    class 2) or the tests above are vacuously clean-data."""
    import pyarrow.parquet as pq

    dirty_sf_dir = replica_dir("dirty")
    texts = pq.read_table(f"{dirty_sf_dir}/documents.parquet") \
              .column("text").to_pylist()
    assert any(t is not None and " " in t and "\t" in t
               for t in texts), "whitespace-zoo class missing"
    assert any(t is not None and "İ" in t and "ΣΟΦΟΣ" in t
               for t in texts), "casing-zoo class missing"
    names = pq.read_table(f"{dirty_sf_dir}/customer.parquet") \
              .column("c_name").to_pylist()
    assert any(n is not None and "\U0001f469" in n
               for n in names), "emoji class missing from c_name"


def test_content_norm_is_engine_identical_on_probe_strings(spark):
    """Direct parity probe of the shared normalization (the md5 input
    itself, not just downstream group counts): Spark content_norm_col
    vs the CONTENT_NORM_SQL DuckDB replica over every dirty class plus
    the casing strings that broke generic lower()/trim()."""
    from pyspark.sql import functions as F

    from lakehouse_automation_spark.operators.dedup import (
        CONTENT_NORM_SQL,
        content_norm_col,
    )
    from tools.sweep import DIRTY

    probes = list(DIRTY) + [
        "İstanbul", "ΣΟΦΟΣ", "STRASSE ß", " \t\n\r  \xa0   ",
        "Ǆungle ǅungle ǆungle", "ＡＢＣ ﬃ",
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(probes)], "i int, s string")
    got = {r.i: r.n for r in
           df.select("i", content_norm_col("s").alias("n")).collect()}
    sql = CONTENT_NORM_SQL.format(col="?")
    con = duckdb.connect()
    for i, s in enumerate(probes):
        want = con.execute(f"SELECT {sql}", [s]).fetchone()[0]
        assert got[i] == want, (
            f"probe {i}: spark={got[i]!r} duckdb={want!r} src={s[:40]!r}")
