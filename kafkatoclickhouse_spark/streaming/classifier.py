"""Streaming quality-classifier scoring ([EXT] — the trained NB
quality gate applied ON THE WAY IN; SURVEY §2.2).

The batch serve path (`operators/classifier.py`,
``text_classifier_score_trained``) scores a corpus at rest with an
explode → broadcast-weight-join → per-doc aggregate plan. An ingest
pipeline wants the same verdict per arriving document so low-quality
records can be routed (dead-lettered or down-weighted) before they
land in the training store. Because the trained model is tiny
(≤ CLF_BUCKETS weight rows + two scalars) and each document's logit
is a row-local sum, the streaming form needs NO state, watermark, or
aggregation: the weight table enters the plan as ONE map literal
(the broadcast a cluster would ship), and each arriving row is
scored map-side with the same integer micro-nat arithmetic —
an append-mode pass-through, no shuffle on the stream side.

Row-for-row equality with the batch serve path is pinned in
``tests/test_streaming.py`` (same persisted model, same integers —
the two plans differ only in join-vs-literal delivery of the
weights).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkatoclickhouse_spark import artifacts
from kafkatoclickhouse_spark.operators.classifier import (
    _bucket_col,
    text_classifier_index_build,
)


def streaming_classifier_score(
    docs_stream: DataFrame, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Append-mode scoring of a document stream against the PERSISTED
    trained model (built iff absent — idempotent, same artifact the
    batch serve reads). Adds ``logit_micro`` (bias + Σ bucket
    weights, exact BIGINT) and ``keep`` (threshold 0); NULL/empty
    text scores exactly the prior bias, like the batch path."""
    path = text_classifier_index_build(spark, sf_dir)
    meta = artifacts.read_meta(path)
    rows = (
        spark.read.parquet(os.path.join(path, "weights.parquet"))
        .select("bucket", "weight_micro")
        .collect()
    )  # ≤ CLF_BUCKETS rows — the broadcast-sized model
    buckets = [int(r["bucket"]) for r in rows]
    weights = [int(r["weight_micro"]) for r in rows]
    wmap = F.map_from_arrays(
        F.lit(buckets).cast("array<bigint>"),
        F.lit(weights).cast("array<bigint>"),
    )
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda t: t != "",
    )
    persum = F.aggregate(
        F.transform(
            toks,
            lambda t: F.coalesce(
                F.element_at(wmap, _bucket_col(t)),
                F.lit(int(meta["w0_micro"])),
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    logit = (
        F.coalesce(persum, F.lit(0)) + F.lit(int(meta["bias_micro"]))
    ).cast("long")
    return docs_stream.withColumn(
        "logit_micro", logit
    ).withColumn("keep", F.col("logit_micro") >= 0)
