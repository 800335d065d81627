"""Scan layer: ``load_table`` reads each fixture table under the
schema pinned in ``tables.SCHEMAS``, with no Spark job. The fixture
generator has shipped ``events.ts`` as parquet TIMESTAMP(NANOS)
(rounds 1-4) and as µs TIMESTAMP_NTZ (round 5+); every encoding must
load as a session-zone TIMESTAMP so the event-time surface
(``unix_micros``, ``withWatermark``, ``window``) works whichever
writer produced the parquet. The round-5 regression pinned here killed
three queries and every streaming smoke."""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafkatoclickhouse_spark import tables

ROWS = [
    (1, dt.datetime(2024, 1, 1, 0, 0, 0, 123456)),
    (2, dt.datetime(2024, 6, 15, 12, 30, 45, 999999)),
    (3, dt.datetime(2025, 12, 31, 23, 59, 59, 1)),
]
def _expected_micros():
    out = []
    for _, ts in ROWS:
        epoch = dt.datetime(1970, 1, 1)
        out.append(int((ts - epoch) / dt.timedelta(microseconds=1)))
    return out


def _write_events(tmpdir: str, ts_array: pa.Array) -> str:
    """Write a minimal events.parquet with the given ts encoding."""
    sf_dir = os.path.join(tmpdir)
    table = pa.table(
        {
            "event_id": pa.array([i for i, _ in ROWS], pa.int64()),
            "ts": ts_array,
        }
    )
    pq.write_table(table, os.path.join(sf_dir, "events.parquet"))
    return sf_dir


@pytest.mark.parametrize(
    "encoding",
    ["us_ntz", "ns", "us_utc"],
    ids=["timestamp[us] (NTZ)", "timestamp[ns] (nanosAsLong)", "timestamp[us, UTC]"],
)
def test_load_table_normalizes_every_ts_encoding(spark, tmp_path, encoding):
    py_ts = [ts for _, ts in ROWS]
    if encoding == "us_ntz":
        arr = pa.array(py_ts, pa.timestamp("us"))
    elif encoding == "ns":
        arr = pa.array(py_ts, pa.timestamp("ns"))
    else:
        arr = pa.array(py_ts, pa.timestamp("us", tz="UTC"))
    sf_dir = _write_events(str(tmp_path), arr)

    df = tables.load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType), (
        f"{encoding}: ts must normalize to TIMESTAMP, got "
        f"{df.schema['ts'].dataType}"
    )
    got = [
        r["us"]
        for r in df.orderBy("event_id")
        .select(F.unix_micros("ts").alias("us"))
        .collect()
    ]
    assert got == _expected_micros(), encoding
    # the event-time surface must accept the column
    df.withWatermark("ts", "1 minute")


# -- micros(): total over both wall-time types ------------------------------


@pytest.mark.parametrize("dtype", ["timestamp", "timestamp_ntz"])
def test_micros_accepts_both_timestamp_types(spark, dtype):
    """functions.exact.micros is the one door for wall-time → integer
    microseconds; it must be total over TIMESTAMP and TIMESTAMP_NTZ
    (F.unix_micros alone raises DATATYPE_MISMATCH on NTZ — the exact
    r5 regression). Under the pinned UTC session zone both types must
    yield identical integers."""
    from kafkatoclickhouse_spark.functions.exact import micros

    df = spark.createDataFrame(
        [(i, ts) for i, ts in ROWS], ["event_id", "ts"]
    ).withColumn("ts", F.col("ts").cast(dtype))
    got = [
        r["us"]
        for r in df.orderBy("event_id").select(micros("ts").alias("us")).collect()
    ]
    assert got == _expected_micros(), dtype


# -- fixture-drift canary ---------------------------------------------------
#
# VERDICT r5: a silent fixture re-encode cost sixteen downstream test
# failures. ``load_table`` no longer infers a schema, so the canary
# checks the pins against what Spark itself infers from every fixture
# scale present: the next driver-side regeneration fails ONE named test
# instead of reading a drifted column through a stale pin.

SF_ROOT = os.path.dirname(
    os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
)
SF_DIRS = [
    d
    for d in (os.path.join(SF_ROOT, sf) for sf in ("sf0.001", "sf0.01", "sf0.1"))
    if os.path.isdir(d)
]


def _inferred(spark, sf_dir: str, table: str) -> list[tuple[str, str]]:
    """Spark's own inference of a fixture file's schema, with NTZ
    columns mapped to TIMESTAMP (the type the pin reads them as)."""
    schema = spark.read.parquet(tables.table_path(sf_dir, table)).schema
    return [
        (
            f.name,
            "timestamp"
            if isinstance(f.dataType, T.TimestampNTZType)
            else f.dataType.simpleString(),
        )
        for f in schema.fields
    ]


@pytest.mark.skipif(not SF_DIRS, reason="fixtures absent")
@pytest.mark.parametrize("table", sorted(tables.TABLES))
def test_fixture_dtype_canary(spark, table):
    """The pinned schema of every fixture table equals Spark's
    inference at every fixture scale, and ``load_table`` returns it.
    Timestamps land as session-zone TIMESTAMP; embeddings stay
    array<float> (the similarity stack's Arrow kernels assume
    float32); money/measure columns stay double."""
    pin = list(tables.SCHEMAS[table])
    for sf_dir in SF_DIRS:
        assert _inferred(spark, sf_dir, table) == pin, (
            f"fixture drift in {sf_dir}/{table}: the file no longer "
            "matches its pinned schema"
        )
        df = tables.load_table(spark, sf_dir, table)
        assert [
            (f.name, f.dataType.simpleString()) for f in df.schema.fields
        ] == pin


@pytest.mark.skipif(not SF_DIRS, reason="fixtures absent")
def test_load_table_runs_no_spark_job(spark, group_jobs, tmp_path):
    """Building a scan of any fixture table runs no Spark job: the
    pinned schema replaces parquet-footer inference (a one-task job per
    read), and the TIMESTAMP(NANOS) check reads the footer with
    pyarrow on the driver."""
    for table in tables.TABLES:
        assert group_jobs(
            f"load-{table}",
            lambda: tables.load_table(spark, SF_DIRS[0], table),
        ) == [], table
    ns_dir = _write_events(
        str(tmp_path), pa.array([ts for _, ts in ROWS], pa.timestamp("ns"))
    )
    assert group_jobs(
        "load-events-ns", lambda: tables.load_table(spark, ns_dir, "events")
    ) == []
