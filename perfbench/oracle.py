"""DuckDB oracle for the output gate.

The expected table state is recomputed from the WAL parquet files alone:
last writer wins per url by lsn, deletes remove the url, and the text is
the extraction spec's DuckDB spelling (``extraction.extract_text_duckdb``),
so the program's Spark path and the oracle share only the spec.
State maps ``url -> (lsn, sha256 hex of text)``.
"""

from __future__ import annotations

import hashlib

import duckdb

from data_pipeline_spark.extraction import extract_text_duckdb

State = dict[str, tuple[int, str]]


def _files_sql(files: list[str]) -> str:
    quoted = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return f"read_parquet([{quoted}])"


def connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    return con


def expected_state(
    con: duckdb.DuckDBPyConnection,
    files: list[str],
    lsn_ranges: list[tuple[int, int]] | None = None,
) -> State:
    """Oracle state over ``files``, optionally restricted to events whose
    lsn falls in one of the half-open ``lsn_ranges``."""
    where = ""
    if lsn_ranges is not None:
        if not lsn_ranges:
            return {}
        where = "WHERE " + " OR ".join(
            f"(lsn >= {lo} AND lsn < {hi})" for lo, hi in lsn_ranges
        )
    q = f"""
        SELECT url, lsn, sha256({extract_text_duckdb('html')}) AS h
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY url ORDER BY lsn DESC) AS rn
            FROM {_files_sql(files)} {where}
        )
        WHERE rn = 1 AND op <> 'delete'
    """
    return {u: (int(lsn), h) for u, lsn, h in con.execute(q).fetchall()}


def table_state(table) -> State:
    """The lake table's current state, read through the program."""
    from pyspark.sql import functions as F

    rows = (
        table.read()
        .select("url", "lsn", F.sha2(F.col("text"), 256).alias("h"))
        .collect()
    )
    return {r["url"]: (int(r["lsn"]), r["h"]) for r in rows}


def text_digest(text: str | None) -> str | None:
    return None if text is None else hashlib.sha256(text.encode()).hexdigest()


def mismatches(actual: State, expected: State) -> list[str]:
    """Urls whose row is missing, extra, or differs in lsn or text."""
    return sorted(
        u
        for u in actual.keys() | expected.keys()
        if actual.get(u) != expected.get(u)
    )
