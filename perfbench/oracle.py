"""DuckDB oracle comparison for the curate_text queries.

Compares a query's Spark output with its ``oracle_sql()`` twin the way
``scripts/check_oracles.py`` does, with its ``canon`` and ``value_hash``:
same column names, same row count, and the same hash of the
order-insensitive, canonicalised values.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

from scripts.check_oracles import canon, value_hash


def summary(df: pd.DataFrame) -> tuple[list[str], int, str]:
    """What the comparison looks at: sorted column names, row count and
    the value hash of the canonicalised frame."""
    c = canon(df)
    return list(c.columns), len(c), value_hash(c)


def oracle_summaries(sf_dir: str, sqls: dict[str, str]) -> dict:
    """Run each oracle query in an in-memory DuckDB with a ``documents``
    view over ``sf_dir``; returns name -> summary."""
    con = duckdb.connect()
    try:
        path = os.path.join(sf_dir, "documents.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        return {name: summary(con.execute(sql).df())
                for name, sql in sqls.items()}
    finally:
        con.close()


def compare(spark_summary, oracle_summary) -> tuple[bool, str]:
    (cs, ns, hs), (co, no, ho) = spark_summary, oracle_summary
    if cs != co:
        return False, f"columns {cs} != {co}"
    if ns != no:
        return False, f"rows {ns} != {no}"
    return hs == ho, f"value hash {hs} != {ho}"
