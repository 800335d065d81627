"""Decimal-exact aggregate builders.

Why: floating-point SUM/AVG depends on accumulation order, which
differs between partitionings and engines; at 32 shuffle partitions a
double sum is already nondeterministic run-to-run. Casting each input
to a fixed-scale decimal, summing exactly, then casting the total
back to double yields a result that is bit-identical regardless of
partition count or engine — which is what lets every aggregate query
here hash-match its DuckDB oracle AND stay stable on a 1000-executor
cluster. The decimal cast stays inside whole-stage codegen (no UDF).

The reference never aggregates (its count window concatenates rows —
``/root/reference/src/main/scala/MyWindowFunction.scala:32-56``), so
this module is engine-new surface.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# scale 4 is exact for the 2-decimal money/quantity fixtures and for
# products of such values rounded to 4 places; precision 24 leaves
# 20 integer digits — enough for sums over ~10^15 rows of 10^5-sized
# values (100 TB scale headroom).
DEC = "decimal(24,4)"


def dsum(col: str | Column, alias: str | None = None) -> Column:
    """Exact SUM of a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(DEC)).cast("double")
    return out.alias(alias) if alias else out


def davg(col: str | Column, alias: str | None = None) -> Column:
    """Order-insensitive AVG: exact decimal sum / count, in double."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(DEC)).cast("double") / F.count(c)
    return out.alias(alias) if alias else out


def sql_dsum(expr: str) -> str:
    """DuckDB twin of :func:`dsum` for oracle SQL strings."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(24,4))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    """DuckDB twin of :func:`davg`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(24,4))) AS DOUBLE) / COUNT({expr})"


# -- exact-decimal money arithmetic -----------------------------------------
#
# Fixture money/rate columns carry exactly 2 decimal digits, so products
# of them land exactly on decimal half-boundaries (x.xx50…) — the one
# place engines legitimately disagree when rounding *binary* doubles
# (measured: 40/6000 lineitem rows). The fix is to enter decimal space
# BEFORE multiplying: double → DECIMAL(12,2) is unambiguous (inputs are
# 2dp), decimal multiplication is exact, and the final sum/round is then
# engine-independent. This is also the numerically *right* answer for a
# money pipeline at any scale.

DEC2 = "decimal(12,2)"


def dec2(col: str | Column) -> Column:
    """Exact 2-decimal view of a money/rate double column."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC2)


def dsum_dec(expr: Column, alias: str | None = None) -> Column:
    """Exact SUM of an already-decimal expression, as double."""
    out = F.sum(expr).cast("double")
    return out.alias(alias) if alias else out


def sql_dec2(expr: str) -> str:
    return f"CAST({expr} AS DECIMAL(12,2))"


def sql_dsum_dec(expr: str) -> str:
    return f"CAST(SUM({expr}) AS DOUBLE)"


# -- exact event-time arithmetic --------------------------------------------
#
# ``F.unix_micros`` is TIMESTAMP-only: handed a TIMESTAMP_NTZ column it
# raises DATATYPE_MISMATCH at analysis time — exactly the r5 regression,
# where a fixture re-encode (parquet timestamp[us] → Spark NTZ) killed
# every operator doing microsecond arithmetic. The scan layer now
# reads time columns as TIMESTAMP (tables.SCHEMAS), but time math should not
# depend on every input having passed through one loader: ``micros``
# is the single door for wall-time → integer-microseconds conversion
# and is total over both timestamp types.


def micros(col: str | Column) -> Column:
    """Exact integer microseconds since epoch for TIMESTAMP *or*
    TIMESTAMP_NTZ input.

    The inner ``cast("timestamp")`` is a no-op for TIMESTAMP columns
    (Catalyst removes the identity cast, so plans are unchanged) and an
    instant-preserving reinterpretation for TIMESTAMP_NTZ under the
    engine's pinned UTC session zone (session.py) — the same rule the
    scan-layer normalization applies. Stays inside whole-stage codegen;
    never a UDF.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


# -- engine-stable 6-dp rounding --------------------------------------------
#
# ROUND(x, 6) is NOT cross-engine stable on doubles: Spark rounds the
# double's shortest decimal rendering (BigDecimal HALF_UP) while DuckDB
# rounds the double itself, and they split on half-ULP boundaries like
# percent_rank = 0.0640625 (first seen at sf0.1). floor(x*1e6 + 0.5)/1e6
# is pure IEEE double arithmetic — bit-identical in any engine — and has
# no tie to break. Single definition; every operator and oracle that
# needs stable fixed-dp output should go through these.


def stable_round6(col: Column) -> Column:
    """floor(x*1e6 + 0.5)/1e6 as Spark Columns."""
    return F.floor(col * F.lit(1000000.0) + F.lit(0.5)) / F.lit(
        1000000.0
    )


def sql_stable_round6(expr: str) -> str:
    """The identical computation as a DuckDB SQL fragment."""
    return f"FLOOR(({expr}) * 1000000 + 0.5) / 1000000"
