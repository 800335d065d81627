"""Pure-Python model of the reference per-key count window
(`KafakToClickhouse.scala:57-61` keyBy + countWindow(N), plus
`MyWindowFunction`) with the partial-window timeout flush. The
streaming engine (`streaming/count_window_jvm.py`) is tested against
this model, so it stays small enough to check by reading."""

from __future__ import annotations


def count_window(batches, n, timeout_ms=None, key=0, order=1):
    """Run the window over ``batches`` of ``(clock_ms, rows)``; a row
    is anything indexable by ``key`` and ``order``. Returns ``(fired,
    state)``: fired rows as ``(key, order, window_id, window_pos,
    flush_reason)`` and, per key still held, ``(next_window_id, tail
    order values)``.

    Each key keeps a FIFO buffer in ``order`` order; N buffered rows
    fire as window ``next_window_id`` (positions 0..N-1). A key
    expires in a batch iff it got no rows there, ``timeout_ms`` is set
    and ``clock - last_activity >= timeout_ms``: its tail fires as one
    ``'timeout'`` window at its current counter and its state is
    dropped, so the counter restarts at 0 on its next arrival."""
    held = {}  # key -> (next_window_id, buffered rows, last_activity)
    fired = []
    for clock, rows in batches:
        arrived = {}
        for r in sorted(rows, key=lambda r: r[order]):
            arrived.setdefault(r[key], []).append(r)
        for k, (win, buf, last) in list(held.items()):
            if (
                k not in arrived
                and timeout_ms is not None
                and clock - last >= timeout_ms
            ):
                fired += [
                    (k, r[order], win, i, "timeout") for i, r in enumerate(buf)
                ]
                del held[k]
        for k, new in arrived.items():
            win, buf, _ = held.get(k, (0, [], clock))
            buf = buf + new
            full = len(buf) // n * n
            fired += [
                (k, r[order], win + i // n, i % n, "count")
                for i, r in enumerate(buf[:full])
            ]
            held[k] = (win + full // n, buf[full:], clock)
    return fired, {
        k: (win, [r[order] for r in buf]) for k, (win, buf, _) in held.items()
    }
