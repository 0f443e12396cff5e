"""Seeded star-schema inputs for the benchmark.

Writes the ten tables the query registry reads (``region`` ...
``embeddings``) as one single-row-group parquet file each, with the
schemas and value domains of the sf-series testdata described in
``FIXTURES.md``: uniform keys and measures, exponential event gaps
and values, a 31-word document vocabulary with ~5% ``" dup"``
near-duplicates, and unit-norm 64-dim embeddings. The same ``seed``
and ``sf`` always give byte-identical tables, so a run's inputs are a
function of its seed alone.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("a the key agg row scan slow fast table value part hash merge "
         "batch spark line sort window data order column join small "
         "customer query big filter vector stream group").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMB_DIM = 64

_US = 1_000_000


def _days_us(lo: dt.date, hi: dt.date, n: int, rng) -> np.ndarray:
    """``n`` midnight timestamps (epoch us) uniform over [lo, hi]."""
    epoch = dt.date(1970, 1, 1)
    d = rng.integers((lo - epoch).days, (hi - epoch).days + 1, n)
    return d.astype(np.int64) * 86_400 * _US


def _ts(arr: np.ndarray) -> pa.Array:
    return pa.array(arr, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _texts(rng, n: int) -> list[str]:
    out = [" ".join(rng.choice(VOCAB, int(k)))
           for k in rng.integers(10, 100, n)]
    # ~5% near-duplicates: a copy of another document plus " dup"
    for i in rng.choice(n, max(1, n // 20), replace=False):
        j = int(rng.integers(0, n))
        if j != i:
            out[i] = out[j] + " dup"
    return out


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_line = max(40, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_emb = max(50, int(50_000 * sf))
    n_users = max(5, n_cust // 10)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part),
                                               rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_days_us(dt.date(1995, 1, 1),
                                    dt.date(2001, 8, 1), n_ord, rng)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _ts(_days_us(dt.date(1995, 1, 2),
                                   dt.date(2001, 11, 4), n_line, rng))})
    # ~30 days of events with exponential inter-arrival gaps
    start = int(dt.datetime(2024, 1, 1).timestamp()) * _US
    gap = 30 * 86_400 * _US / n_ev
    ts = start + np.cumsum(rng.exponential(gap, n_ev)).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = _texts(rng, n_doc)
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_emb, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return t


def write(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tbl.num_rows))
        counts[name] = tbl.num_rows
    return counts
