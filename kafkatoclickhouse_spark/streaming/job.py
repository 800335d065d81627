"""The reference job, whole: config → topology → start.

Re-expresses ``KafakToClickhouse.main`` (`KafakToClickhouse.scala:
18-63`) as one function chain driven by the same .properties surface
(``config.PipelineConfig`` keeps the reference's key names, so a
reference user's config file ports over unchanged):

    Kafka source (R1)  →  parse/validate/enrich/project (R2–R6)
      →  per-key count window (R5)  →  retrying batched sink (R7)
    with checkpointing (R9). The dead-letter split (R3, upgraded from
    the reference's stdout print) is ``pipeline.streaming_ingest``'s
    second output.

Execution semantics vs the reference (SURVEY §4.3, deliberate):
at-least-once into an idempotent sink (micro-batch replay from the
checkpoint on failure) instead of at-most-once-after-retries; partial
count windows flush on timeout instead of leaking forever.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from kafkatoclickhouse_spark.config import PipelineConfig
from kafkatoclickhouse_spark.streaming import (
    count_window_jvm,
    pipeline,
    sink,
    sink_catalog,
    source,
)


def start(
    spark: SparkSession,
    cfg: PipelineConfig,
    write_fn: Callable[[DataFrame], None] | None = None,
    raw: DataFrame | None = None,
    available_now: bool = False,
    catalog: list[tuple[str, str]] | None = None,
) -> StreamingQuery:
    """Wire the topology to the count window and start it.

    The count window (``count_window_jvm.run_count_window_jvm``) owns
    the rest of the wiring: its state snapshots next to the
    checkpoint, the retrying sink (``cfg.max_retries`` attempts) and
    the 60 s partial-window timeout, armed in every mode — flushes
    piggyback on data batches, so ``availableNow`` drains still
    terminate.

    ``raw`` substitutes the Kafka source (tests use the file-backed
    double; the shapes are identical — see ``source.RAW_SCHEMA``).
    ``write_fn`` defaults to the JDBC writer built from the config's
    clickhouse.* keys; any ``(DataFrame) -> None`` substitutes (tests
    pass a parquet writer). ``catalog`` — (name, type) pairs from the
    sink table's catalog (``sink_catalog.fetch_sink_catalog``, the
    reference's open()-time ``system.columns`` read) — shapes the
    output to exactly the sink's columns before writing: extras
    dropped, missing NULLed, values cast, honoring the config's
    string-type list (`MyWindowFunction.scala:71-88`)."""
    if write_fn is None:
        write_fn = sink.jdbc_writer(
            cfg.jdbc_url,
            cfg.jdbc_table,
            user=cfg.jdbc_user or None,
            password=cfg.jdbc_password or None,
        )

    if raw is None:
        raw = source.kafka_raw_stream(
            spark,
            cfg.kafka_bootstrap_servers,
            ",".join(cfg.kafka_topics),
            group_id=cfg.kafka_group_id,
            starting_offsets=cfg.kafka_starting_offsets,
        )
    clean, _dirty = pipeline.streaming_ingest(
        raw,
        group_id=cfg.kafka_group_id,
        check_fields=tuple(cfg.check_fields),
    )

    def sink_write(fired: DataFrame) -> None:
        if catalog is not None:
            fired = sink_catalog.project_to_catalog(
                fired, catalog, string_types=cfg.string_types
            )
        write_fn(fired)

    return count_window_jvm.run_count_window_jvm(
        clean,
        write_fn=sink_write,
        checkpoint_dir=cfg.checkpoint_dir,
        key="essCode",
        n=cfg.window_size,
        available_now=available_now,
        max_retries=cfg.max_retries,
    )
