"""Seeded, single-process generator of Kafka-shaped feed files.

Each file holds ``source.RAW_SCHEMA`` rows (value, topic, partition,
offset) with globally increasing offsets.  Files are written in offset
order and stamped with strictly increasing modification times, so the
file source's discovery order, modification-time order and offset
order all agree.

About ``dirty_frac`` of the records are dirty, in four kinds picked
uniformly: the ``essCode`` field missing, the ``cTime`` field missing,
one of the two an empty string, or a JSON value cut short.  The
generator keeps its own record of every clean row (``Feed.clean``),
which is what the output check compares the landed rows with.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOPIC = "perfbench"
PARTITIONS = 4
BASE_EPOCH = 1_700_000_000  # cTime of offset 0, in seconds

RAW_ARROW_SCHEMA = pa.schema(
    [
        ("value", pa.string()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
    ]
)

DIRTY_KINDS = ("no_key", "no_ctime", "empty", "malformed")


@dataclass
class Row:
    """One clean record as the pipeline should land it."""

    key: str
    ctime: str
    power: str
    soc: str
    partition: int


@dataclass
class Feed:
    """The generator's record of everything it wrote."""

    clean: dict[int, Row] = field(default_factory=dict)  # offset -> Row
    dirty: dict[int, str] = field(default_factory=dict)  # offset -> kind
    files: list[str] = field(default_factory=list)
    next_offset: int = 0

    @property
    def n_rows(self) -> int:
        return len(self.clean) + len(self.dirty)


def key_name(rank: int) -> str:
    return f"ess{rank:06d}"


class FeedGenerator:
    """Draws records from one ``numpy`` generator seeded once, so a
    seed fixes every file the generator writes, in order.

    Keys come in rounds: each round of ``n_keys`` records holds every
    key once, in a fresh seeded order, so no key waits longer than two
    rounds for its next record, however slowly the files are consumed.
    ``preload`` instead gives each key a uniformly drawn number of
    records below the window size, so the windows that rounds then
    fill close evenly spread over the rounds."""

    def __init__(
        self,
        seed: int,
        n_keys: int,
        dirty_frac: float = 0.02,
    ) -> None:
        self.rng = np.random.default_rng(seed)
        self.n_keys = n_keys
        self.dirty_frac = dirty_frac
        self.feed = Feed()
        self._mtime = BASE_EPOCH
        self._round = np.empty(0, dtype=np.int64)

    def records(self, n: int) -> pa.Table:
        """The next ``n`` records, keys in rounds, as a RAW_SCHEMA
        table."""
        while len(self._round) < n:
            self._round = np.concatenate(
                [self._round, self.rng.permutation(self.n_keys)]
            )
        keys, self._round = self._round[:n], self._round[n:]
        return self._table(keys)

    def preload(self, window: int) -> pa.Table:
        """Records that leave every key a partial window of a uniformly
        drawn length in 0..window-1, in a seeded order."""
        counts = self.rng.integers(0, window, self.n_keys)
        keys = np.repeat(np.arange(self.n_keys), counts)
        return self._table(self.rng.permutation(keys))

    def _table(self, keys: np.ndarray) -> pa.Table:
        rng = self.rng
        n = len(keys)
        first = self.feed.next_offset
        offsets = np.arange(first, first + n, dtype=np.int64)
        power = rng.integers(0, 100_000, n)
        soc = rng.integers(0, 101, n)
        dirty = rng.random(n) < self.dirty_frac
        kinds = rng.integers(0, len(DIRTY_KINDS), n)
        empty_key = rng.random(n) < 0.5
        values = []
        for i in range(n):
            off = int(offsets[i])
            key = key_name(int(keys[i]))
            ctime = _fmt_time(BASE_EPOCH + off)
            pw = f"{power[i] / 100:.2f}"
            sc = str(int(soc[i]))
            part = off % PARTITIONS
            if not dirty[i]:
                values.append(_json(key, ctime, pw, sc))
                self.feed.clean[off] = Row(key, ctime, pw, sc, part)
                continue
            kind = DIRTY_KINDS[int(kinds[i])]
            self.feed.dirty[off] = kind
            if kind == "no_key":
                values.append(_json(None, ctime, pw, sc))
            elif kind == "no_ctime":
                values.append(_json(key, None, pw, sc))
            elif kind == "empty":
                values.append(
                    _json("", ctime, pw, sc)
                    if empty_key[i]
                    else _json(key, "", pw, sc)
                )
            else:
                full = _json(key, ctime, pw, sc)
                values.append(full[: len(full) // 2])
        self.feed.next_offset = first + n
        return pa.table(
            {
                "value": pa.array(values, pa.string()),
                "topic": pa.array([TOPIC] * n, pa.string()),
                "partition": pa.array(
                    (offsets % PARTITIONS).astype(np.int32), pa.int32()
                ),
                "offset": pa.array(offsets, pa.int64()),
            },
            schema=RAW_ARROW_SCHEMA,
        )

    def write(self, table: pa.Table, directory: str) -> str:
        """Write one feed file, named and time-stamped after the
        previous one (the file source lists by modification time).
        The file is written under a dot-name and renamed into place,
        so a concurrent listing never sees it half written."""
        os.makedirs(directory, exist_ok=True)
        name = f"part-{len(self.feed.files):06d}.parquet"
        tmp = os.path.join(directory, "." + name)
        pq.write_table(table, tmp)
        self._mtime += 1
        os.utime(tmp, (self._mtime, self._mtime))
        path = os.path.join(directory, name)
        os.replace(tmp, path)
        self.feed.files.append(path)
        return path


def _fmt_time(epoch_s: int) -> str:
    import time

    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(epoch_s))


def _json(key: str | None, ctime: str | None, power: str, soc: str) -> str:
    parts = []
    if key is not None:
        parts.append(f'"essCode":"{key}"')
    if ctime is not None:
        parts.append(f'"cTime":"{ctime}"')
    parts.append(f'"power":"{power}"')
    parts.append(f'"soc":"{soc}"')
    return "{" + ",".join(parts) + "}"
