#!/usr/bin/env python
"""Adversarial-replica sweeps: the oracle gate (tools/oracle_check.py)
re-run on copies of the test tables with adversarial values injected,
or under a distorted execution geometry.

  python tools/sweep.py --replica NAME [--profile fewtasks|manysplits]
                        [--sf-dir DIR] [--json FILE] [key ...]
  python tools/sweep.py --matrix rNN

The replica is built from --sf-dir (default $SPARK_GRAFT_SF_DIR, else
sf0.001) into a temp dir, and both engines read it, so a mismatch is a
genuine engine divergence or a clean-data assumption in our code, never
oracle bookkeeping. Every injection is deterministic (a PCG64 stream
seeded by the crc32 of table and column, or a fixed row stride), so a
replica is the same corpus on every run and machine.

  clean      the tables as they are; with --profile, the partition sweep
  empty      0-row tables, schema kept. Empty inputs are routine at
             scale (a pruned partition, a quiet ingest window), so
             every key's result must collect; there is no oracle check
  null       ~3% NULLs in value columns. Join keys, ids, timestamps
             and dates stay non-null: Spark and DuckDB order NULLs
             differently by default, and nulling sort keys would test
             that default, not our queries
  dirty      every 20th documents.text and customer.c_name replaced by
             the next web-crawl text shape (empty, whitespace zoo,
             combining marks, CJK, emoji ZWJ, RTL, ~100 KB, regex
             metacharacters, mass repetition, NUL/C0 bytes, Unicode
             casing zoo); names get the shapes cut to 48 code points
  extremes   ~2% of each DOUBLE value column set to ±Inf, NaN, ±1e300,
             1e-300, -0.0 or 2^53+1. Integer extremes stay out of
             scope: int64 overflow is defined differently by design
             (non-ANSI Spark wraps, ANSI and DuckDB raise)
  timeedge-events, timeedge-relational
             ~2% of events.ts, or of lineitem.l_shipdate and
             orders.o_orderdate, set to edge datetimes: epoch zero,
             -1 us (floor vs truncating division), pre-1970, leap days,
             the 32-bit rollover, both pandas ns-range ends, 0001 and
             9999
  composed   null -> extremes -> dirty -> both time-edge surfaces, one
             corpus, for the interaction bugs no single axis shows

Key scope: the whole registry, except the time-edge replicas, which
run the keys that read their columns. EXPECTED lists the keys whose
correct answer on a replica is a raised error. Profiles distort the
execution geometry while the data (and so the oracle's answer) stays
put, so any mismatch is a partition-sensitivity bug:

  fewtasks   AQE off, 5 shuffle partitions (prime, not the core count)
  manysplits 64 KiB input splits, zero open cost, 61 shuffle partitions

--json writes the gate's record {key: {status, detail}}. --matrix rNN
runs the standing matrix: plan lint first, then every entry of MATRIX
in its own process, each writing bench/<record>_rNN.json, over both
testdata tiers (SF_SMOKE, SF_CORRECT). Exit status: 0 all pass, 1 a
key failed, 2 bad arguments (checked before any JVM starts).
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import shutil
import subprocess
import sys
import tempfile
import zlib
from typing import Callable, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.oracle_check import (  # noqa: E402
    TABLES,
    failures,
    run_gate,
    write_record,
)

#: the two testdata tiers the matrix runs (tests/conftest.py uses them)
SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# ---------------------------------------------------------------- rules
#
# A rule maps (table, column, n_rows) to (row positions, values); the
# rewrite puts values[i % len(values)] at the i-th position.

Rule = Callable[[str, str, int], tuple]


def sampled(tag: str, rate: float, values: tuple) -> Rule:
    """~rate of the rows, drawn from a PCG64 stream seeded by
    crc32(tag + "table/column") (crc32, not hash(): hash() is salted
    per process)."""
    def rule(table: str, col: str, n: int) -> tuple:
        seed = zlib.crc32(f"{tag}{table}/{col}".encode())
        rng = np.random.Generator(np.random.PCG64(seed))
        return np.nonzero(rng.random(n) < rate)[0], values
    return rule


def strided(values: tuple, every: int = 20) -> Rule:
    """Every ``every``-th row, from row 0."""
    return lambda table, col, n: (range(0, n, every), values)


def rewrite(src: str, dst: str, rules: dict[tuple[str, str], Rule]) -> int:
    """Copy every table from ``src`` to ``dst``, passing each
    (table, column) in ``rules`` through its rule; returns the number
    of cells changed. Untouched tables are copied byte for byte, and a
    rewritten column keeps its field (type, nullability, metadata).
    Values go through to_pylist, not numpy: numpy would turn every
    existing NULL into a NaN value."""
    cells = 0
    for t in TABLES:
        path = os.path.join(dst, f"{t}.parquet")
        cols = [c for (tt, c) in rules if tt == t]
        if not cols:
            shutil.copyfile(os.path.join(src, f"{t}.parquet"), path)
            continue
        tbl = pq.read_table(os.path.join(src, f"{t}.parquet"))
        for c in cols:
            pos, values = rules[(t, c)](t, c, tbl.num_rows)
            if not len(pos):
                continue
            i = tbl.schema.get_field_index(c)
            field = tbl.schema.field(i)
            vals = tbl.column(i).to_pylist()
            for j, p in enumerate(pos):
                vals[p] = values[j % len(values)]
            tbl = tbl.set_column(i, field, pa.array(vals, type=field.type))
            cells += len(pos)
        pq.write_table(tbl, path)
    return cells


# ------------------------------------------------------------- replicas

#: table -> value columns the null replica nulls (embedding included:
#: with_vnorm filters NULL vectors at the vector family's funnel, so
#: the sweep exercises that contract instead of trusting it)
NULLABLE: dict[str, tuple[str, ...]] = {
    "region": ("r_name",),
    "nation": ("n_name",),
    "customer": ("c_name", "c_acctbal", "c_mktsegment"),
    "supplier": ("s_name", "s_acctbal"),
    "part": ("p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders": ("o_orderstatus", "o_totalprice", "o_orderpriority"),
    "lineitem": ("l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus"),
    "events": ("event_type", "value", "props"),
    "documents": ("text", "lang", "source", "n_chars"),
    "embeddings": ("label", "embedding"),
}

#: table -> DOUBLE value columns the extremes replica edits
FLOAT_COLS: dict[str, tuple[str, ...]] = {
    "customer": ("c_acctbal",),
    "supplier": ("s_acctbal",),
    "part": ("p_retailprice",),
    "orders": ("o_totalprice",),
    "lineitem": ("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
    "events": ("value",),
}

EXTREMES = (
    float("inf"), float("-inf"), float("nan"),
    1e300, -1e300,          # finite but astronomically large
    1e-300,                 # subnormal-adjacent tiny
    -0.0,                   # sign-of-zero canonicalization
    9007199254740993.0,     # 2^53 + 1: above the exact-integer range
)

#: Dirty-text classes; class 10 exists because Java and utf8proc
#: lower() disagree (Turkish dotted İ, Greek final sigma), so any
#: case-fold must run over an explicit ASCII charset.
DIRTY: tuple[str, ...] = (
    "",
    " \t\n\r      ",
    "café naïve façade résumé " * 4,
    "春眠不覚晓处处闻啼鸟"
    "夜来风雨声花落知多少" * 6,
    "\U0001f469‍\U0001f469‍\U0001f467‍\U0001f466 "
    "rocket \U0001f680 fire \U0001f525 flag \U0001f1f0\U0001f1f7 " * 8,
    "مرحبا بالعا"
    "لم שלום עולם " * 8,
    ("the quick brown fox jumps over the lazy dog while the engine "
     "keeps reading rows from a page that never seems to end ") * 900,
    "a+b* (c|d) [e-f] {2,3} \\d \\\\ $end ^start dot. any? " * 20,
    "spam " * 5000,
    "before\x00after \x01\x02\x03 control \x7f chars",
    "İstanbul ıssız ΣΟΦΟΣ ΟΔΟΣ STRASSE ß Ǆungle ǅungle "
    "ＦＵＬＬＷＩＤＴＨ ﬃ CAFÉ Résumé MIXED Case " * 6,
)

# The comparator projects temporal result columns to canonical strings
# before pandas, so 0001..9999 transits the harness; the pandas
# ns-range ends stay in the set as the values a pandas-materializing
# user pipeline would break on.
EDGES = (
    dt.datetime(1970, 1, 1, 0, 0, 0),              # epoch-zero sentinel
    dt.datetime(1969, 12, 31, 23, 59, 59, 999999),  # -1 us: floor-vs-trunc
    dt.datetime(1969, 6, 15, 12, 0, 0),            # deep negative epoch
    dt.datetime(1924, 2, 29, 23, 59, 59),          # century typo + leap day
    dt.datetime(2000, 2, 29, 0, 0, 0),             # century leap day
    dt.datetime(2038, 1, 19, 3, 14, 8),            # 32-bit rollover
    dt.datetime(2262, 4, 10, 0, 0, 0),             # ns-range max (pandas)
    dt.datetime(1677, 9, 22, 0, 0, 1),             # ns-range min (pandas)
    dt.datetime(9999, 12, 31, 23, 59, 59, 999999),  # far-future placeholder
    dt.datetime(1, 1, 1, 0, 0, 0),                 # min representable ts
)

#: time-edge surface -> its (table, column) targets
SURFACES = {
    "events": (("events", "ts"),),
    "relational": (("lineitem", "l_shipdate"), ("orders", "o_orderdate")),
}


def build_clean(src: str, dst: str) -> int:
    return rewrite(src, dst, {})


def build_empty(src: str, dst: str) -> int:
    """0-row tables; only the footer schema is read, so logical types
    (ns timestamps included) are kept exactly."""
    for t in TABLES:
        schema = pq.read_schema(os.path.join(src, f"{t}.parquet"))
        pq.write_table(schema.empty_table(), os.path.join(dst, f"{t}.parquet"))
    return 0


def build_null(src: str, dst: str) -> int:
    rule = sampled("", 0.03, (None,))
    return rewrite(src, dst, {(t, c): rule for t, cs in NULLABLE.items()
                              for c in cs})


def build_extremes(src: str, dst: str) -> int:
    rule = sampled("extremes/", 0.02, EXTREMES)
    return rewrite(src, dst, {(t, c): rule for t, cs in FLOAT_COLS.items()
                              for c in cs})


def build_dirty(src: str, dst: str) -> int:
    return rewrite(src, dst, {
        ("documents", "text"): strided(DIRTY),
        ("customer", "c_name"): strided(tuple(s[:48] for s in DIRTY)),
    })


def _timeedge(surface: str) -> Callable[[str, str], int]:
    rule = sampled("timeedge/", 0.02, EDGES)
    return lambda src, dst: rewrite(
        src, dst, {tc: rule for tc in SURFACES[surface]})


build_timeedge_events = _timeedge("events")
build_timeedge_relational = _timeedge("relational")

COMPOSED_STAGES = (build_null, build_extremes, build_dirty,
                   build_timeedge_events, build_timeedge_relational)


def build_composed(src: str, dst: str) -> int:
    cells = 0
    with tempfile.TemporaryDirectory(prefix="composed-") as tmp:
        last = len(COMPOSED_STAGES) - 1
        for i, stage in enumerate(COMPOSED_STAGES):
            out = dst if i == last else os.path.join(tmp, str(i))
            os.makedirs(out, exist_ok=True)
            cells += stage(src, out)
            src = out
    return cells


# ----------------------------------------------------------- key scopes

def registry_keys() -> list[str]:
    from lakehouse_automation_spark.queries import REGISTRY

    return list(REGISTRY)


#: key prefixes/names of the queries that read events.ts
TS_FAMILIES = ("sessionize_", "event_", "ts_", "stream_", "win_pattern",
               "retention_cohort", "rfm_segments", "join_asof",
               "join_dpp_partition_pruned", "sink_partitioned",
               "sink_dynamic_overwrite", "join_interval_bucketed",
               "agg_sketch_rollup", "agg_sketch_setops")


def timeedge_events_keys() -> list[str]:
    return [k for k in registry_keys() if k.startswith(TS_FAMILIES)]


def timeedge_relational_keys() -> list[str]:
    """Every key whose implementation or oracle names a relational
    surface column, found by source scan so the scope follows the
    registry."""
    import inspect

    from lakehouse_automation_spark.queries import REGISTRY

    cols = tuple(c for _, c in SURFACES["relational"])
    return [k for k, q in REGISTRY.items()
            if any(c in (q.oracle or "") + inspect.getsource(q.fn)
                   for c in cols)]


class Replica(NamedTuple):
    build: Callable[[str, str], int]
    scope: Callable[[], list[str]]
    oracle: bool = True  # False: the key only has to run and return


REPLICAS: dict[str, Replica] = {
    "clean": Replica(build_clean, registry_keys),
    "empty": Replica(build_empty, registry_keys, oracle=False),
    "null": Replica(build_null, registry_keys),
    "dirty": Replica(build_dirty, registry_keys),
    "extremes": Replica(build_extremes, registry_keys),
    "timeedge-events": Replica(build_timeedge_events, timeedge_events_keys),
    "timeedge-relational": Replica(build_timeedge_relational,
                                   timeedge_relational_keys),
    "composed": Replica(build_composed, registry_keys),
}

#: key -> (exception class name, replicas where raising it is the
#: correct answer). tf_constraints is the ingest CHECK gate: NULL order
#: statuses and -Inf/-1e300 order totals must be refused.
EXPECTED: dict[str, tuple[str, tuple[str, ...]]] = {
    "tf_constraints": ("ConstraintViolationError",
                       ("null", "extremes", "composed")),
}


def expected_for(replica: str) -> dict[str, str]:
    return {k: exc for k, (exc, reps) in EXPECTED.items() if replica in reps}


PROFILES: dict[str, dict[str, str]] = {
    "fewtasks": {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "5",
        "spark.default.parallelism": "5",
    },
    "manysplits": {
        "spark.sql.files.maxPartitionBytes": "65536",
        "spark.sql.files.openCostInBytes": "0",
        "spark.sql.shuffle.partitions": "61",
        "spark.default.parallelism": "61",
    },
}

#: the standing matrix: (record, sf dir, replica, profile), in run order
MATRIX: tuple[tuple[str, str, str, str | None], ...] = (
    ("DEGENERATE", SF_SMOKE, "empty", None),
    ("NULLSWEEP", SF_SMOKE, "null", None),
    ("PARTITIONSWEEP_fewtasks", SF_SMOKE, "clean", "fewtasks"),
    ("PARTITIONSWEEP_manysplits", SF_SMOKE, "clean", "manysplits"),
    ("DIRTYTEXT", SF_SMOKE, "dirty", None),
    ("EXTREMES", SF_SMOKE, "extremes", None),
    ("KITCHENSINK", SF_SMOKE, "composed", None),
    ("TIMEEDGE_PROBE", SF_SMOKE, "timeedge-events", None),
    ("TIMEEDGE_relational", SF_SMOKE, "timeedge-relational", None),
    # the `_sf001` suffix names the sf0.01 tier (kept so records diff
    # cleanly round over round)
    ("DEGENERATE_sf001", SF_CORRECT, "empty", None),
    ("NULLSWEEP_sf001", SF_CORRECT, "null", None),
    ("DIRTYTEXT_sf001", SF_CORRECT, "dirty", None),
    ("EXTREMES_sf001", SF_CORRECT, "extremes", None),
    ("KITCHENSINK_sf001", SF_CORRECT, "composed", None),
    ("TIMEEDGE_sf001", SF_CORRECT, "timeedge-events", None),
    ("TIMEEDGE_relational_sf001", SF_CORRECT, "timeedge-relational", None),
)


# ------------------------------------------------------------- drivers

def sweep(replica: str, profile: str | None, sf_dir: str,
          keys: list[str], json_out: str | None) -> int:
    rep = REPLICAS[replica]
    keys = keys or rep.scope()
    if profile:
        # read by get_spark, so it must be set before the session starts
        os.environ["SPARK_GRAFT_EXTRA_CONFS"] = ";".join(
            f"{k}={v}" for k, v in PROFILES[profile].items())
    from lakehouse_automation_spark.engine import get_spark, load_tables

    with tempfile.TemporaryDirectory(prefix=f"sweep-{replica}-") as dst:
        cells = rep.build(sf_dir, dst)
        print(f"{replica} replica of {sf_dir}: {cells} cells changed"
              + (f"; profile {profile}" if profile else ""), flush=True)
        spark = get_spark(f"sweep-{replica}")
        load_tables(spark, dst)
        record = run_gate(spark, dst, keys, oracle=rep.oracle,
                          expected=expected_for(replica))
    if json_out:
        write_record(record, json_out)
    bad = failures(record)
    print(f"sweep {replica}{'/' + profile if profile else ''}: "
          f"{len(record)} keys, {len(bad)} failures"
          + (f": {bad}" if bad else ""))
    return 1 if bad else 0


def matrix(r: str) -> int:
    """Plan lint, then every MATRIX entry, each in a fresh process (a
    sweep's profile and JVM must not leak into the next)."""
    def run(name: str, cmd: list[str], env: dict | None = None) -> int:
        print(f"=== {name}", flush=True)
        return subprocess.call(cmd, cwd=REPO, env=env)

    bench = os.path.join(REPO, "bench")
    results: list[tuple[str, int]] = []
    rec = os.path.join(bench, f"PLANLINT_{r}.json")
    results.append((rec, run(rec, [
        sys.executable, os.path.join(REPO, "tools", "plan_lint.py"),
        "--build", "--json", rec],
        env=dict(os.environ, SPARK_GRAFT_SF_DIR=SF_SMOKE))))
    for name, sf, replica, profile in MATRIX:
        rec = os.path.join(bench, f"{name}_{r}.json")
        cmd = [sys.executable, os.path.abspath(__file__), "--replica",
               replica, "--sf-dir", sf, "--json", rec]
        results.append((rec, run(rec, cmd + (
            ["--profile", profile] if profile else []))))
    print("\nmatrix " + r)
    for rec, rc in results:
        print(f"  {'FAIL' if rc else 'ok  '} {os.path.relpath(rec, REPO)}")
    return 1 if any(rc for _, rc in results) else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Adversarial-replica sweeps of the oracle gate.")
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--replica", choices=REPLICAS)
    mode.add_argument("--matrix", metavar="rNN")
    ap.add_argument("--profile", choices=PROFILES)
    ap.add_argument("--sf-dir")
    ap.add_argument("--json", dest="json_out")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args(argv)
    if args.matrix:
        if args.keys or args.profile or args.sf_dir or args.json_out:
            ap.error("--matrix takes no other arguments")
        return matrix(args.matrix)

    from lakehouse_automation_spark.queries import REGISTRY

    unknown = [k for k in args.keys if k not in REGISTRY]
    if unknown:
        print(f"unknown keys: {unknown}", file=sys.stderr)
        return 2
    sf_dir = args.sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", SF_SMOKE)
    return sweep(args.replica, args.profile, sf_dir, args.keys,
                 args.json_out)


if __name__ == "__main__":
    sys.exit(main())
