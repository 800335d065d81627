"""Embedding vector math over ``array<float>`` columns.

All builders are higher-order-function expressions (JVM-side,
whole-stage codegen) — no Python UDF in the hot path. Math is done in
double with strict left-to-right accumulation (``F.aggregate`` folds
sequentially), which matches DuckDB's ``list_cosine_similarity`` over
``DOUBLE[]`` closely enough that scores rounded to 6 decimals are
identical — that is the oracle contract for similarity queries.

Engine-new surface (the reference has no array/vector handling —
SURVEY.md §2.2 'Array/map fns: absent').
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns, accumulated in double."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    """L2 norm in double."""
    return F.sqrt(
        F.aggregate(
            _as_double(a), F.lit(0.0), lambda acc, x: acc + x * x
        )
    )


def cosine_with_norms(
    a: Column, b: Column, norm_a: Column, norm_b: Column
) -> Column:
    """Cosine with precomputed L2 norms (:func:`dot` over the
    product of :func:`norm` values, NULL when either norm is 0). In
    a pairwise join the norms are computed once per VECTOR instead
    of once per PAIR: O(n·d) instead of O(n²·d) norm work. At 100 TB
    this is the difference between scoring dominating the job and
    scoring being a rounding error; measured 3× on the local
    pair-join bench."""
    denom = norm_a * norm_b
    return F.when(denom != 0.0, dot(a, b) / denom)
