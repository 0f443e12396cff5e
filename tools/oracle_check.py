#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

Runs every key in lakehouse_automation_spark.queries.REGISTRY at
sf0.01: the Spark callable and (when present) the DuckDB oracle SQL,
then compares row count, column names, and an order-insensitive value
hash. Use while iterating so the per-round CORRECTNESS file has no
surprises.

  python tools/oracle_check.py [--json FILE] [key ...]  # default: all keys

--json additionally records {key: {status, detail}} to FILE — the
machine-readable local-green trail for keys outside the driver's
50-slot official fold (tools/sweep_plan.py reads round coverage from
the OFFICIAL files only; this record never substitutes for them).

``run_gate`` is the one per-key gate loop: this CLI, the adversarial
replica sweeps (tools/sweep.py) and the replica pytest pins all call
it (or ``check_key`` for one key), so every caller judges a key the
same way.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

# Run as `python tools/oracle_check.py` from anywhere: put the repo
# root (not tools/) on sys.path so the package imports resolve.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Env-overridable so the gate can point at another sf dir.
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize cell values, sort rows."""
    df = df[sorted(df.columns)].copy()

    def canon(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "∅"
        if isinstance(v, float):
            if math.isinf(v):
                # IEEE non-finites are representable values, not
                # errors: both engines pass them through filters/
                # sorts/projections, and int(v) above would raise
                return "inf" if v > 0 else "-inf"
            if v == int(v) and abs(v) < 1e15:
                # int format, not '%.6f': a null-bearing int64 column
                # round-trips pandas as float64, so the SAME value can
                # arrive int-typed on one side and float-typed on the
                # other — collapse the dtype artifact, keep the value
                return str(int(v))
            # 12 significant digits: catches real accumulation drift
            # (>=1e-11 relative) while absorbing last-ulp libm noise
            return f"{v:.12g}"
        if isinstance(v, pd.Timestamp):
            return v.strftime("%Y-%m-%d %H:%M:%S.%f")
        if hasattr(v, "item"):  # numpy scalars
            return canon(v.item())
        return str(v)

    for c in df.columns:
        df[c] = df[c].map(canon)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


#: Canonical temporal spelling, identical in Spark's date_format and
#: DuckDB's strftime for every representable year (verified 0001 and
#: 9999 inclusive): 4-digit zero-padded year, 6-digit microseconds.
#: Matches canon()'s old strftime of an in-range pd.Timestamp exactly,
#: so value hashes are unchanged for data inside the pandas ns range.
_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


def spark_temporal_safe(df):
    """Project DATE/TIMESTAMP columns to canonical strings BEFORE
    toPandas: pandas ns-timestamps span only 1677–2262, so year-9999 /
    0001 sentinels (the far-future/far-past placeholder class) would
    overflow the COMPARATOR itself even when both engines agree
    (VERDICT r10 ask #6). DATE formats with the full midnight time
    part — the same string the old pandas path produced for dates —
    so a Spark DATE still hashes equal to an oracle TIMESTAMP midnight
    and vice versa."""
    from pyspark.sql import functions as F, types as T

    sel, changed = [], False
    for f in df.schema.fields:
        if isinstance(f.dataType,
                      (T.TimestampType, T.TimestampNTZType, T.DateType)):
            # strip a leading '+': a year past 9999 (date arithmetic
            # overflow on a far-future placeholder) is spelled
            # ISO-8601-expanded by Spark ('+10000-…') but plain by
            # DuckDB's strftime — same value, different sign prefix
            sel.append(F.regexp_replace(
                F.date_format(F.col(f.name), _TS_FMT_SPARK),
                r"^\+", "").alias(f.name))
            changed = True
        else:
            sel.append(F.col(f.name))
    return df.select(sel) if changed else df


def duck_temporal_safe(rel):
    """DuckDB side of the same projection (its .df() materializes
    TIMESTAMP as datetime64[ns] too, with the same 1677–2262 bound)."""
    cols, changed = [], False
    for name, typ in zip(rel.columns, rel.types):
        q = '"' + name.replace('"', '""') + '"'
        t = str(typ).upper()
        if t.startswith("TIMESTAMP") or t == "DATE":
            cols.append(f"strftime({q}, '{_TS_FMT_DUCK}') AS {q}")
            changed = True
        else:
            cols.append(q)
    return rel.project(", ".join(cols)) if changed else rel


def compare(key: str, spark_df, oracle: str | None, con) -> str:
    spdf = spark_temporal_safe(spark_df).toPandas()
    if oracle is None:
        return f"ROWS_ONLY rows={len(spdf)}"
    odf = duck_temporal_safe(con.sql(oracle)).df()
    a, b = normalize(spdf), normalize(odf)
    if list(a.columns) != list(b.columns):
        return f"COLS_MISMATCH spark={list(a.columns)} oracle={list(b.columns)}"
    if len(a) != len(b):
        return f"ROWCOUNT_MISMATCH spark={len(a)} oracle={len(b)}"
    neq = (a != b)
    if neq.any().any():
        bad_cols = [c for c in a.columns if neq[c].any()]
        i = neq.any(axis=1).idxmax()
        return (
            f"VALUE_MISMATCH cols={bad_cols} example_row={i} "
            f"spark={a.loc[i, bad_cols].to_dict()} oracle={b.loc[i, bad_cols].to_dict()}"
        )
    return f"OK rows={len(a)}"


#: Verdict statuses that pass the gate: a matching result, a key with
#: no oracle that ran, and a documented enforcement error (see
#: ``check_key``'s ``expected``).
PASS = ("OK", "ROWS_ONLY", "ENFORCED")


def connect(sf_dir: str):
    """A DuckDB connection with one view per table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check_key(spark, key: str, sf_dir: str, con,
              expected: str | None = None) -> str:
    """Run one registry key on ``sf_dir`` and return its verdict line;
    the first word is the status. ``con=None`` judges the key only on
    running and returning (``ROWS_ONLY``). ``expected`` names the
    exception class that is the key's correct answer on this input (a
    constraint that must refuse the batch): raising it is ``ENFORCED``,
    returning rows instead is ``NOT_ENFORCED``, and any other exception
    still fails the key. Persisted state is released either way, so
    nothing accumulates across a sweep."""
    from lakehouse_automation_spark.operators.cache import release_persisted
    from lakehouse_automation_spark.queries import REGISTRY

    q = REGISTRY[key]
    try:
        res = compare(key, q.fn(spark, sf_dir),
                      q.oracle if con is not None else None, con)
        if expected:
            res = f"NOT_ENFORCED expected {expected}, got {res}"
    except Exception as e:  # noqa: BLE001
        # `or [""]`: an empty exception message has no lines and
        # would crash the SWEEP instead of failing the KEY
        first = (str(e).splitlines() or [""])[0]
        name = type(e).__name__
        res = (f"ENFORCED {name}: {first[:300]}" if name == expected
               else f"ERROR {name}: {first[:300]}")
    finally:
        release_persisted()
    return res


def run_gate(spark, sf_dir: str, keys, *, oracle: bool = True,
             expected: dict[str, str] | None = None) -> dict[str, dict]:
    """``check_key`` over ``keys`` in order, printing one line per key
    and a summary; returns the record ``{key: {status, detail}}``."""
    con = connect(sf_dir) if oracle else None
    record: dict[str, dict] = {}
    try:
        for key in keys:
            res = check_key(spark, key, sf_dir, con,
                            (expected or {}).get(key))
            record[key] = {"status": res.split(" ")[0], "detail": res}
            print(f"{key:28s} {res}", flush=True)
    finally:
        if con is not None:
            con.close()
    print(f"\n{len(record)} keys, {len(failures(record))} failures")
    return record


def failures(record: dict[str, dict]) -> list[str]:
    return [k for k, v in record.items() if v["status"] not in PASS]


def write_record(record: dict[str, dict], path: str) -> None:
    import json

    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)


def main() -> int:
    from lakehouse_automation_spark.engine import get_spark, load_tables
    from lakehouse_automation_spark.queries import REGISTRY

    args = sys.argv[1:]
    out_json = None
    if "--json" in args:
        i = args.index("--json")
        out_json = args[i + 1]
        args = args[:i] + args[i + 2:]
    # registration order — the same order the driver's sweep uses, so a
    # key that wedges shows up at the same position it would there
    keys = args or list(REGISTRY)
    unknown = [k for k in keys if k not in REGISTRY]
    if unknown:
        print(f"unknown keys: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark("oracle_check")
    load_tables(spark, SF_DIR)
    record = run_gate(spark, SF_DIR, keys)
    if out_json:
        write_record(record, out_json)
    return 1 if failures(record) else 0


if __name__ == "__main__":
    sys.exit(main())
