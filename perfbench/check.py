"""Check the stream workloads' landed rows against the generator.

The check holds whether or not a partial-window timeout fired:
``window_id`` restarts after a timeout flush and ``sTime`` is wall
clock, so windows are found by walking each key's landed rows in
offset order and ``sTime`` is never compared.

For every key, the landed rows in offset order must be a prefix of
that key's clean rows, with fewer than ``window_size`` rows left
over; every ``count`` window holds exactly ``window_size`` rows at
positions 0..N-1 under one ``window_id``; every ``timeout`` window
holds fewer, at positions 0..len-1.  No dirty row may land, no clean
row may land twice, and the payload and metadata columns must equal
the generated values.
"""

from __future__ import annotations

from collections import defaultdict

import pyarrow.dataset as ds

from feedgen import TOPIC, Feed

LANDED_COLUMNS = (
    "essCode",
    "cTime",
    "dayOfYear",
    "power",
    "soc",
    "topicName",
    "topicOffset",
    "topicPartition",
    "topicGroupId",
    "window_id",
    "window_pos",
    "flush_reason",
)


def read_landed(out_dir: str) -> list[dict]:
    """Every row the parquet sink wrote under ``out_dir``."""
    table = ds.dataset(out_dir, format="parquet").to_table(
        columns=list(LANDED_COLUMNS)
    )
    return table.to_pylist()


def check_landed(
    rows: list[dict], feed: Feed, window_size: int, group_id: str
) -> tuple[list[str], dict[str, int]]:
    """Return (problems, counts); no problems means the output is
    right.  ``counts`` has the landed, count-window and timeout-window
    row totals."""
    problems: list[str] = []
    counts = {"landed": len(rows), "count_rows": 0, "timeout_rows": 0}

    def bad(msg: str) -> None:
        if len(problems) < 20:
            problems.append(msg)

    by_key: dict[str, list[dict]] = defaultdict(list)
    seen: set[int] = set()
    for r in rows:
        off = r["topicOffset"]
        if off in feed.dirty:
            bad(f"dirty row landed: offset {off} ({feed.dirty[off]})")
            continue
        want = feed.clean.get(off)
        if want is None:
            bad(f"landed offset {off} was never generated")
            continue
        if off in seen:
            bad(f"offset {off} landed more than once")
            continue
        seen.add(off)
        got = (
            r["essCode"],
            r["cTime"],
            r["dayOfYear"],
            r["power"],
            r["soc"],
            r["topicName"],
            r["topicPartition"],
            r["topicGroupId"],
        )
        exp = (
            want.key,
            want.ctime,
            want.ctime[:10],
            want.power,
            want.soc,
            TOPIC,
            want.partition,
            group_id,
        )
        if got != exp:
            bad(f"offset {off}: landed {got}, generated {exp}")
            continue
        by_key[want.key].append(r)

    clean_by_key: dict[str, list[int]] = defaultdict(list)
    for off in sorted(feed.clean):
        clean_by_key[feed.clean[off].key].append(off)

    for key, offs in clean_by_key.items():
        landed = sorted(by_key.get(key, ()), key=lambda r: r["topicOffset"])
        got = [r["topicOffset"] for r in landed]
        if got != offs[: len(got)]:
            bad(f"key {key}: landed offsets are not a prefix of its clean rows")
            continue
        if len(offs) - len(got) >= window_size:
            bad(
                f"key {key}: {len(offs) - len(got)} clean rows left over "
                f"(window size {window_size})"
            )
        _check_windows(key, landed, window_size, bad, counts)
    return problems, counts


def _check_windows(key, landed, n, bad, counts) -> None:
    """Split one key's landed rows (offset order) into windows: a
    window starts at position 0 and runs while positions count up
    under one window id and flush reason."""
    i = 0
    while i < len(landed):
        head = landed[i]
        if head["window_pos"] != 0:
            bad(
                f"key {key}: offset {head['topicOffset']} opens a window "
                f"at position {head['window_pos']}"
            )
            return
        j = i + 1
        while (
            j < len(landed)
            and landed[j]["window_pos"] == j - i
            and landed[j]["window_id"] == head["window_id"]
            and landed[j]["flush_reason"] == head["flush_reason"]
        ):
            j += 1
        size = j - i
        reason = head["flush_reason"]
        if reason == "count":
            if size != n:
                bad(f"key {key}: count window {head['window_id']} has {size} rows")
                return
            counts["count_rows"] += size
        elif reason == "timeout":
            if not 0 < size < n:
                bad(f"key {key}: timeout window has {size} rows")
                return
            counts["timeout_rows"] += size
        else:
            bad(f"key {key}: unknown flush reason {reason!r}")
            return
        i = j
