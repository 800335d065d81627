"""Structured Streaming layer: the reference-parity unbounded form.

The reference (`KafakToClickhouse.scala:48-63`) is one streaming
dataflow: Kafka → deserialize/validate → keyBy → count window →
ClickHouse sink. This package re-expresses that topology as
Structured Streaming over the SAME narrow transformations the batch
engine uses (`operators.ingest`) — one definition, two execution
modes, which is the Spark-native design the reference couldn't have.

Modules:
- ``source``: Kafka reader (R1+R2) and a file-backed test source of
  identical shape.
- ``pipeline``: the streaming ingest chain (R2–R6).
- ``count_window_jvm``: per-key count window (R5) run inside
  ``foreachBatch`` as pure JVM operations over versioned state
  snapshots kept next to the checkpoint, with a timeout flush for
  partial windows (fixing the reference's stuck-partial-window
  semantics, SURVEY §4.3); its fired rows go to the sink through
  ``sink.write_with_retry``.
- ``job`` / ``curation``: the reference topology and the curation
  topology, each handing its sink to the count window.
- ``windows``: event-time tumbling/sliding/session windows +
  watermark + streaming dedup (SURVEY §2.2 [EXT]).
- ``sink``: ``foreachBatch`` JDBC sink with bounded retry (R7) —
  failing the micro-batch after exhaustion instead of dropping it.
"""
