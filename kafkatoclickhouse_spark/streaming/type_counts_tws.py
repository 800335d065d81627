"""Running per-key counters on transformWithState MapState.

Completes the typed-state API coverage alongside the ListState+timer
sessionizer (`sessions_tws.py`) with MapState and state TTL: a
per-user map of event_type → running total, updated per micro-batch
and emitted as versioned snapshots. This is the streaming form of
``groupBy(user_id, event_type).count()`` when the consumer needs the
CURRENT totals continuously (a feature store / monitoring counter),
not a watermark-final aggregate — and the MapState layout is the
point: per (key, map-entry) storage in RocksDB, so a user with 5
event types costs 5 small entries, updated surgically, instead of
one blob rewritten per record (what a pickled ValueState would
do).

Emission: one row per (user, type) TOUCHED in the batch, stamped
with a per-key monotone ``seq`` (ValueState) — downstream dedups to
the max seq per (user, type) for current totals; the stream is then
replay-idempotent to consumers keyed that way.

Reference parity: the closest reference behavior is keyBy + forever
counters a ProcessFunction would hold; cited [EXT] (SURVEY §2.2).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

OUTPUT_SCHEMA = "user_id long, event_type string, n_total long, seq long"


class TypeCountProcessor(StatefulProcessor):
    """See module docstring. ``ttl_ms`` (r8 brief #6) bounds state
    lifetime: entries idle past the TTL expire from the store — the
    state-size backstop an unbounded-key 100 TB stream needs (a
    feature-store counter for a user never seen again must not occupy
    RocksDB forever). Expired entries read back as absent, so a
    returning key restarts its totals from zero."""

    def __init__(self, ttl_ms: int | None = None) -> None:
        self._ttl_ms = ttl_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._counts = handle.getMapState(
            "counts", "event_type string", "n long", ttlDurationMs=self._ttl_ms
        )
        self._seq = handle.getValueState(
            "seq", "seq long", ttlDurationMs=self._ttl_ms
        )

    def handleInputRows(
        self,
        key,
        rows: Iterator[pd.DataFrame],
        timerValues: TimerValues,
    ) -> Iterator[pd.DataFrame]:
        deltas: dict[str, int] = {}
        for pdf in rows:
            for et, n in pdf["event_type"].value_counts().items():
                deltas[str(et)] = deltas.get(str(et), 0) + int(n)
        if not deltas:
            return iter(())
        seq = (self._seq.get() or (0,))[0] + 1
        self._seq.update((seq,))
        (uid,) = key
        out = {"user_id": [], "event_type": [], "n_total": [], "seq": []}
        for et, d in sorted(deltas.items()):
            k = (et,)
            prev = self._counts.getValue(k)
            total = (prev[0] if prev else 0) + d
            self._counts.updateValue(k, (total,))
            out["user_id"].append(int(uid))
            out["event_type"].append(et)
            out["n_total"].append(total)
            out["seq"].append(seq)
        return iter([pd.DataFrame(out)])

    def close(self) -> None:
        pass


def keyed_type_counts_tws(
    events: DataFrame, ttl_ms: int | None = None
) -> DataFrame:
    """(user_id, event_type) running totals as versioned snapshot
    rows; requires the RocksDB state store provider. With ``ttl_ms``
    set, idle state expires (TTL needs the processing-time mode —
    expiry timestamps are wall-clock).

    An ``availableNow`` drain with ``ttl_ms`` needs
    ``spark.sql.streaming.noDataMicroBatches.enabled=false``: in
    processing-time mode every trigger schedules another no-data
    batch to evict expired state, so with no-data batches on the
    drain never terminates."""
    return (
        events.select("user_id", "event_type")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=TypeCountProcessor(ttl_ms),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="append",
            timeMode="none" if ttl_ms is None else "processingTime",
        )
    )
