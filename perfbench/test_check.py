"""Tests of the stream output check (run: python -m pytest perfbench).

Each test lands a hand-made output for a small generated feed and
asks the checker to accept or reject it."""

from __future__ import annotations

import copy
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check import check_landed  # noqa: E402
from feedgen import TOPIC, FeedGenerator  # noqa: E402

N = 4
GROUP = "g"


def _row(off, r, window_id, pos, reason):
    return {
        "essCode": r.key,
        "cTime": r.ctime,
        "dayOfYear": r.ctime[:10],
        "power": r.power,
        "soc": r.soc,
        "topicName": TOPIC,
        "topicOffset": off,
        "topicPartition": r.partition,
        "topicGroupId": GROUP,
        "window_id": window_id,
        "window_pos": pos,
        "flush_reason": reason,
    }


def _expected(feed, timeout_tails=False):
    """What a correct pipeline lands: each key's clean rows cut into
    windows of N; with ``timeout_tails`` the leftover tail of each
    key is flushed as one timeout window."""
    by_key = {}
    for off in sorted(feed.clean):
        by_key.setdefault(feed.clean[off].key, []).append(off)
    rows = []
    for offs in by_key.values():
        full = len(offs) // N * N
        for i, off in enumerate(offs[:full]):
            rows.append(_row(off, feed.clean[off], i // N, i % N, "count"))
        if timeout_tails:
            for i, off in enumerate(offs[full:]):
                rows.append(
                    _row(off, feed.clean[off], full // N, i, "timeout")
                )
    return rows


@pytest.fixture(scope="module")
def feed():
    g = FeedGenerator(seed=11, n_keys=5, dirty_frac=0.1)
    g.records(200)
    assert g.feed.dirty, "the feed must hold dirty rows"
    return g.feed


def _problems(rows, feed):
    return check_landed(rows, feed, N, GROUP)[0]


def test_accepts_correct_output(feed):
    rows = _expected(feed)
    problems, counts = check_landed(rows, feed, N, GROUP)
    assert problems == []
    assert counts["count_rows"] == len(rows) > 0
    assert counts["timeout_rows"] == 0


def test_accepts_timeout_flushed_tail(feed):
    rows = _expected(feed, timeout_tails=True)
    problems, counts = check_landed(rows, feed, N, GROUP)
    assert problems == []
    assert counts["timeout_rows"] > 0


def test_accepts_window_ids_restarting_after_timeout(feed):
    # a key whose tail timed out starts counting windows at 0 again
    key = feed.clean[min(feed.clean)].key
    offs = sorted(o for o, r in feed.clean.items() if r.key == key)
    assert len(offs) >= 2 * N + 1
    rows = [r for r in _expected(feed) if r["essCode"] != key]
    rows += [_row(o, feed.clean[o], 0, i, "count") for i, o in enumerate(offs[:N])]
    rows += [_row(offs[N], feed.clean[offs[N]], 1, 0, "timeout")]
    rest = offs[N + 1 :]
    full = len(rest) // N * N
    rows += [
        _row(o, feed.clean[o], i // N, i % N, "count")
        for i, o in enumerate(rest[:full])
    ]
    assert _problems(rows, feed) == []


def test_rejects_dropped_row(feed):
    rows = _expected(feed)
    del rows[len(rows) // 2]
    assert _problems(rows, feed)


def test_rejects_duplicate(feed):
    rows = _expected(feed)
    rows.append(copy.deepcopy(rows[3]))
    assert _problems(rows, feed)


def test_rejects_reordered_window(feed):
    rows = _expected(feed)
    a, b = rows[0], rows[1]
    a["window_pos"], b["window_pos"] = b["window_pos"], a["window_pos"]
    assert _problems(rows, feed)


def test_rejects_dirty_row(feed):
    rows = _expected(feed)
    off = min(feed.dirty)
    rows.append(_row(off, feed.clean[min(feed.clean)], 99, 0, "count"))
    assert _problems(rows, feed)


def test_rejects_changed_payload(feed):
    rows = _expected(feed)
    rows[5]["power"] = "-1.00"
    assert _problems(rows, feed)


def test_rejects_too_many_rows_left_over(feed):
    rows = _expected(feed)
    key = rows[0]["essCode"]
    rows = [r for r in rows if r["essCode"] != key]
    assert _problems(rows, feed)


def test_generator_is_seeded():
    def draw(seed):
        g = FeedGenerator(seed=seed, n_keys=50)
        return g.records(300).column("value").to_pylist()

    assert draw(5) == draw(5)
    assert draw(5) != draw(6)


def test_keys_come_in_rounds_of_every_key_once():
    g = FeedGenerator(seed=3, n_keys=50, dirty_frac=0.0)
    g.records(30)
    g.records(120)  # rounds straddle the calls
    keys = [g.feed.clean[off].key for off in range(150)]
    for start in range(0, 150, 50):
        assert sorted(keys[start:start + 50]) == sorted(set(keys))


def test_preload_leaves_every_key_a_partial_window():
    g = FeedGenerator(seed=3, n_keys=50, dirty_frac=0.0)
    g.preload(N)
    counts = {}
    for row in g.feed.clean.values():
        counts[row.key] = counts.get(row.key, 0) + 1
    assert max(counts.values()) < N
    assert len(set(counts.values())) > 1
