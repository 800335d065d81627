"""Streaming bigram-LM perplexity gate ([EXT] — the CCNet-style
quality filter applied ON THE WAY IN; SURVEY §2.2, VERDICT r13 #1).

The batch serve path (`operators/bigramlm.py`) scores a corpus at
rest with explode → model-join → per-doc aggregate plans. An ingest
pipeline wants the same verdict per arriving document with NO state,
watermark, or aggregation — so the streaming form uses the BOUNDED
hashed model (collision-folded counts in BIGRAM_BUCKETS/CTX_BUCKETS
buckets, persisted by ``text_bigram_index_build``): both count
tables enter the plan as map literals (the broadcast a cluster would
ship) and each document's NLL is a row-local higher-order-function
sum over its own transitions — an append-mode pass-through, no
shuffle on the stream side, same integer micro-nat arithmetic as the
batch twin ``text_bigram_hashed_logperp``.

Row-for-row equality with that batch twin is pinned in
``tests/test_streaming.py`` (same persisted artifact, same
integers — the plans differ only in join-vs-literal delivery).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkatoclickhouse_spark.functions import hashing
from kafkatoclickhouse_spark.functions.exact import stable_round6
from kafkatoclickhouse_spark.operators.bigramlm import (
    _SEP,
    BIGRAM_BUCKETS,
    BIGRAM_HASH_SEED,
    CTX_BUCKETS,
    CTX_HASH_SEED,
    text_bigram_index_build,
)


def _count_map(spark: SparkSession, path: str, key: str) -> Column:
    rows = (
        spark.read.parquet(path).select(key, "c").collect()
    )  # ≤ BIGRAM_BUCKETS occupied buckets — broadcast-sized
    return F.map_from_arrays(
        F.lit([int(r[key]) for r in rows]).cast("array<bigint>"),
        F.lit([int(r["c"]) for r in rows]).cast("array<bigint>"),
    )


def streaming_bigram_nll(
    docs_stream: DataFrame,
    spark: SparkSession,
    sf_dir: str,
    keep_below_nats: float | None = None,
) -> DataFrame:
    """Append-mode scoring of a document stream against the
    PERSISTED hashed bigram model (built iff absent — idempotent,
    the same artifact the batch serve reads). Adds ``n_bigrams``
    and ``avg_nll_nats`` (NULL for docs with <2 tokens — no
    transitions to score); with ``keep_below_nats`` set, also a
    ``keep`` flag (unscorable docs keep=true: a too-short doc is a
    length-filter concern, not a perplexity one). Transitions the
    frozen model never saw back off to the add-one unseen mass,
    exactly like the batch LEFT joins."""
    path = text_bigram_index_build(spark, sf_dir)
    map12 = _count_map(
        spark, os.path.join(path, "hashed12.parquet"), "b12"
    )
    map1 = _count_map(spark, os.path.join(path, "hashed1.parquet"), "b1")

    w = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda t: t != "",
    )
    pairs = F.expr(
        "CASE WHEN size(__w) >= 2 THEN"
        " transform(sequence(1, size(__w) - 1),"
        "   i -> concat(element_at(__w, i), chr(1),"
        "               element_at(__w, i + 1)))"
        " ELSE array() END"
    )

    def lnp(bigram: Column) -> Column:
        w1 = F.split(bigram, _SEP).getItem(0)
        c12 = F.coalesce(
            F.element_at(
                map12,
                F.pmod(
                    hashing.portable_hash64(bigram, BIGRAM_HASH_SEED),
                    F.lit(BIGRAM_BUCKETS),
                ),
            ),
            F.lit(0),
        )
        c1 = F.coalesce(
            F.element_at(
                map1,
                F.pmod(
                    hashing.portable_hash64(w1, CTX_HASH_SEED),
                    F.lit(CTX_BUCKETS),
                ),
            ),
            F.lit(0),
        )
        return (
            F.floor(
                F.log(
                    (c12 + F.lit(1)).cast("double")
                    / (c1 + F.lit(BIGRAM_BUCKETS)).cast("double")
                )
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
        ).cast("long")

    nllsum = F.aggregate(
        F.transform(F.col("__pairs"), lnp),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    out = (
        docs_stream.withColumn("__w", w)
        .withColumn("__pairs", pairs)
        .withColumn("n_bigrams", F.size("__pairs").cast("long"))
        .withColumn(
            "avg_nll_nats",
            F.when(
                F.col("n_bigrams") > 0,
                stable_round6(
                    -nllsum.cast("double")
                    / F.lit(1000000.0)
                    / F.col("n_bigrams")
                ),
            ),
        )
        .drop("__w", "__pairs")
    )
    if keep_below_nats is not None:
        out = out.withColumn(
            "keep",
            F.coalesce(
                F.col("avg_nll_nats") <= F.lit(float(keep_below_nats)),
                F.lit(True),
            ),
        )
    return out
