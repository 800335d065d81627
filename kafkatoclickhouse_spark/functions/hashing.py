"""Portable shingling + hash families for MinHash / SimHash / LSH.

Design constraint: the dedup operators must be *oracle-checkable* —
the exact same candidate pairs must be computable by an ANSI-SQL
DuckDB query. Engine-native hashes differ (Spark murmur3 vs DuckDB's
internal hash), so the portable family is built on **md5 of the
shingle text prefixed with the hash index** — md5 is identical
everywhere. We take the first 15 hex digits (60 bits) as a positive
int64. At 100 TB you would swap ``portable_hash64`` for
``F.xxhash64`` (same plan shape, ~5× cheaper per shingle) and lose
only oracle-replayability, not correctness.

Shingles are word-level n-grams built from whitespace tokenization —
pure ``split``/``transform``/``concat_ws`` expressions, fully
codegen'd, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text: Column) -> Column:
    """Whitespace tokens of trimmed text (empty string → empty array)."""
    return F.split(F.trim(text), r"\s+")


def sql_word_shingles(n: int) -> str:
    """DuckDB CTE chain (``toks``/``idx``/``sh``, no WITH prefix)
    producing the distinct word n-gram shingles of every document —
    the SQL twin of :func:`word_shingles`, defined ONCE so every
    oracle (dedup at n=3, decontamination at n=5, …) mirrors the
    same trim/split/short-doc rules. A tokenization change made here
    and in ``word_shingles`` updates every oracle together."""
    return """
    toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
             FROM documents),
    idx AS (SELECT doc_id, t,
                   unnest(range(greatest(len(t) - {nm1}, 1))) AS r
            FROM toks),
    sh AS (SELECT DISTINCT doc_id,
                  array_to_string(t[r + 1 : r + {n}], ' ') AS shingle
           FROM idx)
""".format(n=n, nm1=n - 1)


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word-level n-gram shingles as an array<string>.

    shingle i = tokens[i..i+n-1] joined by single spaces, for
    i in [0, len-n]. Documents shorter than n words yield the
    whole-document token string as a single shingle so they still
    participate in dedup.
    """
    toks = tokens(text)
    n_sh = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    idx = F.sequence(F.lit(0), n_sh - 1)
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def portable_hash64(s: Column, seed: int) -> Column:
    """Deterministic 60-bit positive int64 hash, identical in any
    engine with md5: int64(substr(md5(seed || ':' || s), 1, 15), 16).
    """
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), s)), 1, 15), 16, 10
    ).cast("long")


def sql_portable_hash64(expr: str, seed: int) -> str:
    """DuckDB twin of :func:`portable_hash64`."""
    return f"CAST('0x' || substring(md5('{seed}:' || {expr}), 1, 15) AS BIGINT)"


# -- Spark-SQL-string twins --------------------------------------------------
#
# Building the K-seed hash family expression-by-expression costs ~6 py4j
# round trips per seed per call site; at 12 seeds × the two signature
# consumers that is a measurable slice of DRIVER time per query build
# (profiled: 0.9 s of socket round trips in dedup_minhash_estimate).
# These builders emit the SAME expression through one parsed SQL string
# — CONV/SUBSTRING/MD5/CONCAT compile to the identical Catalyst
# operators as the Column form, so hash values are unchanged.


def spark_sql_hash64(expr: str, seed: int) -> str:
    """Spark-dialect SQL string twin of :func:`portable_hash64`."""
    return (
        f"CAST(CONV(SUBSTRING(MD5(CONCAT('{seed}:', {expr})), 1, 15), "
        f"16, 10) AS BIGINT)"
    )
