"""Result checks against the DuckDB oracle, with the order-insensitive,
canonicalised multiset compare of the repository's oracle tests. The
DuckDB side is never timed."""

from __future__ import annotations

import pandas as pd

from tests.oracle_utils import assert_frames_match

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when both frames hold the same multiset of rows, else the
    first difference."""
    try:
        assert_frames_match(got, want)
    except AssertionError as e:
        return str(e).lstrip(": ")
    return None


def connect(data_dir: str, threads: int):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {max(threads, 1)}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con
