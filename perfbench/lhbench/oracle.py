"""The registry's DuckDB oracle over a benchmark input dir.

``compare`` is the repository's own gate comparison
(``tools/oracle_check.py``), imported from the checkout so the
benchmark and the correctness gate can never disagree on what "equal"
means.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os

_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
_spec = importlib.util.spec_from_file_location(
    "oracle_check", os.path.join(_ROOT, "tools", "oracle_check.py"))
_mod = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_mod)

compare = _mod.compare
TABLES = _mod.TABLES


@contextlib.contextmanager
def connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        yield con
    finally:
        con.close()
