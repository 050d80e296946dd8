"""Output checks: Spark answers against DuckDB over the same parquet.

The comparison is the test suite's oracle gate
(``tests.oracle_harness``): same column set, same row count, and the
same rows after an order-insensitive sort (floats rounded far below
the queries' own in-query rounding).
"""

from __future__ import annotations

import duckdb

from tests.oracle_harness import _normalize, duck_connection


def star_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duck_connection(data_dir)
    con.execute("SET threads = 2")
    return con


def against_sql(spark_rows, spark_cols, con, sql: str) -> str | None:
    """None when the Spark rows match the SQL's answer, else a one-line
    diagnostic."""
    rel = con.execute(sql)
    duck_cols = [d[0] for d in rel.description]
    duck_rows = rel.fetchall()
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns differ: {sorted(spark_cols)} vs {sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return f"row count differs: {len(spark_rows)} vs {len(duck_rows)}"
    a = _normalize(spark_rows, spark_cols)
    b = _normalize(duck_rows, duck_cols)
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return f"first difference at sorted row {i}: {x!r} vs {y!r}"
    return None
