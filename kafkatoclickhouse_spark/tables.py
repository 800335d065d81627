"""Fixture-table loader: one parquet file per table under an sf dir.

Tables per TESTDATA.md: region nation customer supplier part orders
lineitem events documents embeddings. ``load_tables`` returns a dict
of DataFrames and registers each as a temp view so operators can be
written in either DataFrame or SQL form (same Catalyst plan).

Scans are ``spark.read.schema(pin).parquet`` under the fixture schema
pinned in ``SCHEMAS``, so building a query runs no parquet-footer
inference job. Column pruning and predicate pushdown still reach the
parquet reader, which is the 100 TB behavior we want (verify with
``plans.assert_pushed_filters``). A column a file lacks reads as NULL.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The fixture schemas (TESTDATA.md), pinned so that a scan runs no
# schema-inference job. Time columns are TIMESTAMP: Spark reads µs
# TIMESTAMP_NTZ and µs UTC parquet timestamps (and INT96) straight to a
# session-zone TIMESTAMP with the same micros. tests/test_tables.py
# checks every pin against Spark's inference on each fixture scale.
SCHEMAS: dict[str, tuple[tuple[str, str], ...]] = {
    "region": (("r_regionkey", "int"), ("r_name", "string")),
    "nation": (
        ("n_nationkey", "int"), ("n_name", "string"), ("n_regionkey", "int"),
    ),
    "customer": (
        ("c_custkey", "bigint"), ("c_name", "string"),
        ("c_nationkey", "int"), ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ),
    "supplier": (
        ("s_suppkey", "bigint"), ("s_name", "string"),
        ("s_nationkey", "int"), ("s_acctbal", "double"),
    ),
    "part": (
        ("p_partkey", "bigint"), ("p_name", "string"), ("p_brand", "string"),
        ("p_type", "string"), ("p_size", "int"), ("p_retailprice", "double"),
    ),
    "orders": (
        ("o_orderkey", "bigint"), ("o_custkey", "bigint"),
        ("o_orderstatus", "string"), ("o_totalprice", "double"),
        ("o_orderdate", "timestamp"), ("o_orderpriority", "string"),
    ),
    "lineitem": (
        ("l_orderkey", "bigint"), ("l_partkey", "bigint"),
        ("l_suppkey", "bigint"), ("l_linenumber", "int"),
        ("l_quantity", "double"), ("l_extendedprice", "double"),
        ("l_discount", "double"), ("l_tax", "double"),
        ("l_returnflag", "string"), ("l_linestatus", "string"),
        ("l_shipdate", "timestamp"),
    ),
    "events": (
        ("event_id", "bigint"), ("ts", "timestamp"), ("user_id", "bigint"),
        ("event_type", "string"), ("value", "double"), ("props", "string"),
    ),
    "documents": (
        ("doc_id", "bigint"), ("text", "string"), ("lang", "string"),
        ("source", "string"), ("n_chars", "bigint"),
    ),
    "embeddings": (
        ("vec_id", "bigint"), ("embedding", "array<float>"), ("label", "int"),
    ),
}

TABLES = tuple(SCHEMAS)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def table_fingerprint(sf_dir: str, name: str) -> tuple:
    """(path, mtime_ns, size) of a fixture file — the memo-key
    component trained-artifact caches (k-means centroids, PQ
    codebooks, persisted ANN indexes) use so that regenerating the
    data at the same path invalidates the artifact instead of
    serving stale state (r7 ADVICE)."""
    path = table_path(sf_dir, name)
    try:
        st = os.stat(path)
        return (path, st.st_mtime_ns, st.st_size)
    except OSError:
        return (path, 0, 0)


# time columns that a fixture generation stored as parquet
# TIMESTAMP(NANOS). Spark has no ns timestamp and cannot read one
# through a ``timestamp`` pin; such a column is read as raw ns longs
# (spark.sql.legacy.parquet.nanosAsLong) and converted to µs
# timestamps (floor division, same truncation DuckDB applies).
NANOS_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _nanos_columns(path: str, cols: tuple[str, ...]) -> set[str]:
    """Those of ``cols`` that the parquet footer at ``path`` types
    INT64 TIMESTAMP(NANOS). Read driver-side with pyarrow: no Spark
    job. The physical type is checked too, because pyarrow also
    reports INT96 (Spark's default timestamp encoding) as ns, and an
    INT96 column reads fine through the ``timestamp`` pin."""
    if not cols or not os.path.exists(path):
        return set()
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    files = ds.dataset(path, format="parquet").files
    if not files:
        return set()
    schema = pq.read_metadata(files[0]).schema
    return {
        c.path
        for c in map(schema.column, range(len(schema)))
        if c.path in cols
        and c.physical_type == "INT64"
        and json.loads(c.logical_type.to_json()).get("timeUnit")
        == "nanoseconds"
    }


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table under its pinned schema (0 Spark jobs).

    Every time column comes back as a session-zone TIMESTAMP, which
    the event-time surface (``unix_micros``, ``withWatermark``,
    window()) requires, whichever parquet encoding the writer chose.

    Side effect: when a NANOS_TS_COLUMNS column is stored as
    TIMESTAMP(NANOS) this sets
    ``spark.sql.legacy.parquet.nanosAsLong=true`` on the caller's
    session (runtime-settable; must happen here, not only in the
    session factory, because callers may pass an externally built
    SparkSession that never went through session.get_spark()).
    Other reads leave the session conf untouched, so a host session
    reading its own nanos parquet with timestamp semantics is not
    silently flipped.
    """
    path = table_path(sf_dir, name)
    cols = dict(SCHEMAS[name])
    nanos = _nanos_columns(path, NANOS_TS_COLUMNS.get(name, ()))
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        cols.update((c, "bigint") for c in nanos)
    df = spark.read.schema(
        ", ".join(f"`{c}` {t}" for c, t in cols.items())
    ).parquet(path)
    if nanos:
        df = df.withColumns(
            {c: F.timestamp_micros(F.expr(f"`{c}` div 1000")) for c in nanos}
        )
    return df


def fan_out(df: DataFrame, parallelism: int | None = None) -> DataFrame:
    """Raise parallelism for a compute-heavy map stage whose input
    arrived in fewer splits than the session has cores.

    The local fixtures are single-row-group parquet files — one split,
    one task, 31 idle cores in front of work like per-shingle hashing
    or pairwise cosine. On a real cluster 100 TB arrives as ~10⁶
    splits, the branch is false, and NO shuffle is added — this is an
    input-layout guard, not a tuning knob. (AQE cannot help here: it
    re-plans shuffles, not under-partitioned scans; and an explicit
    ``repartition(n)`` is exempt from AQE coalescing, so the fan-out
    sticks.)
    """
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if _estimated_scan_splits(df) < parallelism:
        return df.repartition(parallelism)
    return df


def _estimated_scan_splits(df: DataFrame) -> int:
    """Estimate the scan's split count from leaf-file metadata.

    Driver-side only: ``df.inputFiles()`` walks the analyzed plan's
    file indexes without launching a job, unlike the former
    ``df.rdd.getNumPartitions()`` probe which forced an RDD-conversion
    physical plan per call (VERDICT r3 flag). Mirrors
    ``FilePartition.maxSplitBytes`` coarsely: each file yields at least
    one split plus one per ``spark.sql.files.maxPartitionBytes`` chunk.
    Non-file sources (rate, memory, in-flight shuffles) report 0 files
    and thus fan out — the conservative choice for a compute-heavy map
    stage.
    """
    try:
        files = df.inputFiles()
    except Exception:
        return 0
    if not files:
        return 0
    max_split = _parse_bytes(
        df.sparkSession.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728b"
        )
    )
    splits = 0
    for uri in files:
        path = uri.removeprefix("file:")
        try:
            size = os.path.getsize(path)
        except OSError:
            size = 0
        splits += max(1, -(-size // max_split))
    return splits


_BYTE_SUFFIXES = {
    "b": 1,
    "k": 1 << 10,
    "kb": 1 << 10,
    "m": 1 << 20,
    "mb": 1 << 20,
    "g": 1 << 30,
    "gb": 1 << 30,
}


def _parse_bytes(value: str) -> int:
    """Parse a Spark byte-size conf string ('134217728b', '128MB')."""
    v = value.strip().lower()
    digits = v.rstrip("kmgb")
    suffix = v[len(digits):] or "b"
    return max(1, int(digits) * _BYTE_SUFFIXES.get(suffix, 1))


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load fixture tables and register temp views named after them."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
