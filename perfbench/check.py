"""Output checks, run after the timed region: each query with a DuckDB
oracle is compared with it on the same generated inputs (row count,
column names and order-insensitive values, with the normalisation of
``tools/check_oracle.py``); a query without one must return at least one
row."""

from __future__ import annotations

from typing import Optional

from tools.check_oracle import TABLES, frame_to_rows


def duckdb_over(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create or replace view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def oracle_rows(con, oracle: str):
    """The oracle's result on ``con``, as ``(columns, sorted rows)``."""
    return frame_to_rows(con.sql(oracle).df())


def check_query(name: str, pdf, expected=None) -> Optional[str]:
    """None when the result ``pdf`` is correct, else what is wrong.
    ``expected`` is the query's ``oracle_rows``; None for a query without
    an oracle, which must return rows."""
    if expected is None:
        return None if len(pdf) > 0 else f"{name}: no rows"
    s_cols, s_rows = frame_to_rows(pdf)
    o_cols, o_rows = expected
    if s_cols != o_cols:
        return f"{name}: columns {s_cols} != oracle {o_cols}"
    if len(s_rows) != len(o_rows):
        return f"{name}: {len(s_rows)} rows != oracle {len(o_rows)}"
    diff = sum(a != b for a, b in zip(s_rows, o_rows))
    if diff:
        first = next((a, b) for a, b in zip(s_rows, o_rows) if a != b)
        return f"{name}: {diff} rows differ from the oracle, first {first[0]!r} vs {first[1]!r}"
    return None
