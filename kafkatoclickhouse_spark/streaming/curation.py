"""Composed streaming curation topology (VERDICT r11 #4).

The individual ingest gates have existed since r10/r11 — trained
quality scoring (``streaming/classifier.py``), decontamination
flagging (``streaming/decontam.py``), watermark-bounded dedup
(``streaming/windows.py:streaming_dedup``) — each pinned to its
batch twin, but a user wanting "score + decontam + dedup on the way
in" had to compose them by hand. This module is that composition as
ONE topology, plus the job/CLI wiring:

    documents stream
      → classifier gate   (trained NB logit, keep = logit ≥ 0)
      → decontam gate     (eval-shingle overlap flag)
      → content dedup     (md5 fingerprint, watermark-bounded state)
      → per-source count window (the R5 operator reused on the
                                 curation stream — fixed-size write
                                 batches per source)
      → sink

Every gate stage is an append-mode stateless pass-through (the model
and eval set ride broadcasts), so the only stream state is the dedup
id horizon and the count-window tails — exactly the state a 100 TB
ingest cluster can afford. Row identity of the composed gates
against the batch verdicts (same model artifact, same eval set, same
fingerprint rule) is pinned in tests/test_streaming.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafkatoclickhouse_spark.functions import textfns
from kafkatoclickhouse_spark.streaming import count_window_jvm, sink
from kafkatoclickhouse_spark.streaming import windows as sw
from kafkatoclickhouse_spark.streaming.classifier import (
    streaming_classifier_score,
)
from kafkatoclickhouse_spark.streaming.decontam import (
    streaming_decontaminate_bloom,
)

CURATION_STAGES = ("score", "decontam", "dedup")


def curation_topology(
    docs_stream: DataFrame,
    spark: SparkSession,
    sf_dir: str,
    stages: tuple[str, ...] = CURATION_STAGES,
    eval_shingles: DataFrame | None = None,
    drop_rejected: bool = True,
    ts_col: str | None = None,
    dedup_watermark: str = "10 minutes",
) -> DataFrame:
    """Compose the selected curation stages over a document stream
    (needs at least ``doc_id``/``text``; ``dedup`` additionally needs
    the event-time column ``ts_col`` to bound its state).

    ``drop_rejected=True`` filters failed documents out (the
    curation pipeline); ``False`` keeps them with their verdict
    columns (``keep``/``contaminated``) for routing — e.g. a
    dead-letter split, the R3 pattern applied to curation. Dedup
    always drops (a duplicate carries no verdict, it is simply not
    emitted again within the watermark horizon)."""
    unknown = set(stages) - set(CURATION_STAGES)
    if unknown:
        raise ValueError(f"unknown curation stages: {sorted(unknown)}")
    out = docs_stream
    if "score" in stages:
        out = streaming_classifier_score(out, spark, sf_dir)
        if drop_rejected:
            out = out.filter(F.col("keep"))
    if "decontam" in stages:
        if eval_shingles is None:
            raise ValueError(
                "the decontam stage needs an eval_shingles relation"
            )
        # the Bloom prefilter gives the exact gate's verdicts (no
        # false negatives) with exact probes only on candidate docs
        out = streaming_decontaminate_bloom(out, eval_shingles)
        if drop_rejected:
            out = out.filter(~F.col("contaminated")).drop(
                "bloom_candidate"
            )
    if "dedup" in stages:
        if ts_col is None:
            raise ValueError(
                "the dedup stage needs ts_col to bound its state"
            )
        out = sw.streaming_dedup(
            out.withColumn(
                "fingerprint", textfns.fingerprint(F.col("text"))
            ),
            id_cols=("fingerprint",),
            ts_col=ts_col,
            watermark=dedup_watermark,
        ).drop("fingerprint")
    return out


def start_curation(
    spark: SparkSession,
    sf_dir: str,
    docs_stream: DataFrame,
    write_fn: Callable[[DataFrame], None],
    checkpoint_dir: str,
    stages: tuple[str, ...] = CURATION_STAGES,
    eval_shingles: DataFrame | None = None,
    ts_col: str | None = None,
    window_key: str = "source",
    window_size: int = count_window_jvm.DEFAULT_WINDOW_SIZE,
    max_retries: int = sink.DEFAULT_MAX_RETRIES,
    available_now: bool = False,
) -> StreamingQuery:
    """Curated stream → per-``window_key`` count window → retrying
    sink, one running query. The count window is the reference R5
    operator reused verbatim on the curation stream (fixed-size write
    batches per source, ordered by ``doc_id``), on the same
    foreachBatch JVM path as ``job.start``: the 60 s partial-window
    timeout stays armed even under ``availableNow`` (flushes
    piggyback on data batches, see ``run_count_window_jvm``)."""
    curated = curation_topology(
        docs_stream,
        spark,
        sf_dir,
        stages=stages,
        eval_shingles=eval_shingles,
        ts_col=ts_col,
    )

    return count_window_jvm.run_count_window_jvm(
        curated,
        write_fn=write_fn,
        checkpoint_dir=checkpoint_dir,
        key=window_key,
        n=window_size,
        order_col="doc_id",
        available_now=available_now,
        max_retries=max_retries,
    )
