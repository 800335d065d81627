"""Oracle comparison: Spark result vs DuckDB SQL twin.

Mirrors the driver harness's t2 gate (BASELINE.json): row count,
column name set, and an order-insensitive canonical value comparison.
Strictly stronger than a hash compare — if ``compare_query`` returns
no problems, any reasonable driver-side hash comparison passes.

Shared by ``tools/parity.py`` (CLI sweep) and ``tests/test_parity.py``
(pytest, parametrized per query).
"""

from __future__ import annotations

import math
import os

import duckdb
from pyspark.sql import SparkSession

from kafkatoclickhouse_spark import registry
from kafkatoclickhouse_spark.tables import TABLES


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with every fixture table as a view, under
    the table names oracle SQL reads. A table whose parquet file is
    absent gets no view, so a directory with only some tables
    connects and a query over a missing one fails when it runs."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def canon_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> list[str]:
    """Order-insensitive canonical form: columns sorted by name,
    rows sorted by their joined string representation."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon_cell(r[i]) for i in order) for r in rows)


def compare_query(
    spark: SparkSession,
    con: duckdb.DuckDBPyConnection,
    name: str,
    sf_dir: str,
) -> list[str]:
    """Run query ``name`` on Spark and (when present) its oracle on
    DuckDB; return a list of problems (empty = pass)."""
    fn = registry.QUERIES[name]
    sdf = fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns

    oracle = registry.ORACLES.get(name)
    if oracle is None:
        return []  # rows-only query: reaching here means it ran

    res = con.execute(oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()

    problems: list[str] = []
    if sorted(scols) != sorted(ocols):
        problems.append(f"cols spark={sorted(scols)} duck={sorted(ocols)}")
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
    if not problems:
        sc = canon_rows(scols, srows)
        oc = canon_rows(ocols, orows)
        if sc != oc:
            diffs = [(a, b) for a, b in zip(sc, oc) if a != b][:3]
            problems.append(
                f"values ({sum(a != b for a, b in zip(sc, oc))} diffs) "
                f"e.g. {diffs}"
            )
    return problems
