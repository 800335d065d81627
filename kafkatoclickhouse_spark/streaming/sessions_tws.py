"""Event-time sessionization on Spark 4's transformWithState —
typed keyed state + EVENT-TIME TIMERS, the full arbitrary-state API.

Plain keyed buffers such as the count window need no typed state
(``count_window_jvm`` runs them as JVM operations inside
``foreachBatch``); sessionization is the canonical operator that
needs typed state AND TIMERS: a session is closed not by an arriving
record but by the WATERMARK proving no in-gap event can still arrive. Built-in
``F.session_window`` covers plain time-gap sessions declaratively
(``streaming/windows.py``); this processor is the escape hatch for
session semantics the built-in cannot express (value-reset
boundaries, per-key dynamic gaps, session-local state machines) —
kept deliberately close to the batch twin
(`operators/event_windows.py:sessionize_events`, 30-min gap) so the
two are comparable row-for-row once the watermark has flushed.

Per key the state is the LIST of still-pending sessions
(start/last/count in epoch-ms): arriving events (watermark-bounded,
possibly out of order) merge into any session within the gap, then
transitively merged sessions collapse; nothing is emitted on input.
One event-time timer per batch is (re)registered at the earliest
pending close (min last+gap); when the watermark passes it, the
expired-timer callback emits every session whose close the watermark
has proven final and re-arms for the rest. Exactly the
state-bounded-by-watermark shape Structured Streaming's own session
windows use — state per key is O(pending sessions), never O(events).

Reference parity: none — the reference has no session concept
(SURVEY §2.2 [EXT]); this is the Spark-4 production home for the
"custom stateful operator" row.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    ExpiredTimerInfo,
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

DEFAULT_GAP_MS = 30 * 60 * 1000  # the batch twin's 30-minute gap

OUTPUT_SCHEMA = (
    "user_id long, start_ms long, end_ms long, n_events long"
)


def _merge(pending: list[list[int]], ts: int, gap_ms: int) -> None:
    """Merge one event (epoch ms) into the pending-session list in
    place: extend every session within ``gap_ms``, then collapse
    sessions the new event bridged."""
    hits = [
        s
        for s in pending
        if s[0] - gap_ms <= ts <= s[1] + gap_ms
    ]
    if not hits:
        pending.append([ts, ts, 1])
        return
    keep = hits[0]
    keep[0] = min(keep[0], ts)
    keep[1] = max(keep[1], ts)
    keep[2] += 1
    for other in hits[1:]:  # event bridged two sessions: collapse
        keep[0] = min(keep[0], other[0])
        keep[1] = max(keep[1], other[1])
        keep[2] += other[2]
        pending.remove(other)


class SessionProcessor(StatefulProcessor):
    """See module docstring. State: ListState of (start, last, n)."""

    def __init__(self, gap_ms: int = DEFAULT_GAP_MS) -> None:
        self._gap_ms = gap_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._state = handle.getListState(
            "pending", "start long, last long, n long"
        )

    def _rearm(self) -> None:
        """One timer per key, at the earliest pending close."""
        for t in list(self._handle.listTimers()):
            self._handle.deleteTimer(t)
        pending = [list(t) for t in self._state.get()]
        if pending:
            self._handle.registerTimer(
                min(s[1] for s in pending) + self._gap_ms
            )

    def handleInputRows(
        self,
        key,
        rows: Iterator[pd.DataFrame],
        timerValues: TimerValues,
    ) -> Iterator[pd.DataFrame]:
        pending = [list(t) for t in self._state.get()]
        for pdf in rows:
            for ts in pdf["ts"]:
                _merge(
                    pending,
                    int(pd.Timestamp(ts).value // 1_000_000),
                    self._gap_ms,
                )
        self._state.put([tuple(s) for s in pending])
        self._rearm()
        return iter(())  # emission only on watermark-proven close

    def handleExpiredTimer(
        self,
        key,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo,
    ) -> Iterator[pd.DataFrame]:
        wm = timerValues.getCurrentWatermarkInMs()
        pending = [list(t) for t in self._state.get()]
        done = [s for s in pending if s[1] + self._gap_ms <= wm]
        left = [s for s in pending if s[1] + self._gap_ms > wm]
        if left:
            self._state.put([tuple(s) for s in left])
        else:
            self._state.clear()
        self._rearm()
        if not done:
            return iter(())
        (uid,) = key
        return iter(
            [
                pd.DataFrame(
                    {
                        "user_id": [int(uid)] * len(done),
                        "start_ms": [s[0] for s in done],
                        "end_ms": [s[1] for s in done],
                        "n_events": [s[2] for s in done],
                    }
                )
            ]
        )

    def close(self) -> None:
        pass


def sessionize_stream_tws(
    events: DataFrame,
    gap_ms: int = DEFAULT_GAP_MS,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked event stream (``user_id``, ``ts``) → closed
    sessions, emitted exactly once each when the watermark passes
    ``last_event + gap``. Requires the RocksDB state store provider,
    like every transformWithState operator."""
    return (
        events.select("user_id", "ts")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=SessionProcessor(gap_ms),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="append",
            timeMode="eventTime",
        )
    )
