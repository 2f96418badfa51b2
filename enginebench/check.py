"""Output checks against the registry's DuckDB oracles.

The comparison is the one the repository's tests make: both sides go
through ``canon_rows`` from tests/conftest.py (loaded from that file, not
copied), then sorted column names, row count and the sorted canonical rows
must all be equal. A key without an oracle gets a rows-only check: it must
run and return at least one row.
"""

from __future__ import annotations

import functools
import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def tests_canon_rows():
    """``canon_rows`` of tests/conftest.py, loaded from that file."""
    spec = importlib.util.spec_from_file_location(
        "enginebench_test_conftest", os.path.join(ROOT, "tests", "conftest.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon_rows


def check_key(df, oracle_sql: str | None, con) -> str:
    """``match``, ``rows-only: n``, or a ``FAIL ...`` reason."""
    s_cols, s_rows = tests_canon_rows()(df.toPandas())
    if oracle_sql is None:
        return f"rows-only: {len(s_rows)}" if s_rows else "FAIL rows-only: 0 rows"
    o_cols, o_rows = tests_canon_rows()(con.execute(oracle_sql).df())
    if s_cols != o_cols:
        return f"FAIL columns: engine={s_cols} oracle={o_cols}"
    if len(s_rows) != len(o_rows):
        return f"FAIL rows: engine={len(s_rows)} oracle={len(o_rows)}"
    if s_rows != o_rows:
        n = sum(s != o for s, o in zip(s_rows, o_rows))
        return f"FAIL values: {n} of {len(s_rows)} sorted rows differ"
    return "match"
