"""Persisted artifacts: where they live, when they are fresh, and how a
build commits.

Every index family (IVF-PQ, SQ8, binary and IVF-append codes, BM25
postings, the classifier's weights, the winnow fingerprints, the
bigram model, the char and byte BPE merge tables and the packed
dataset) is a directory of parquet files plus one commit marker,
``meta.json``.

- **Location.** ``artifact_dir(sf_dir, table, family)`` is
  ``$SPARK_GRAFT_INDEX_DIR`` (default ``<repo>/.ann_index``) /
  ``<fixture>_<tag>_<family>``, where the tag hashes the source
  table's fingerprint, so a regenerated fixture gets a fresh directory.
- **Freshness.** An artifact is fresh iff its marker parses and holds
  every entry of the build's key: the lifecycle ``format`` below, the
  source fingerprint and every constant the artifacts depend on (for
  the packed dataset also the marker of the tokenizer it was encoded
  under). A missing or unreadable marker reads as not built.
- **Commit.** A stale build removes the marker first, then writes its
  artifacts, then writes the marker ``{**key, **stats}`` last through a
  temp file and ``os.replace``. A crash at any point therefore leaves
  either the old committed artifact or a directory that reads as not
  built, never a marker over half-written files.

This is the commit-log pattern of Structured Streaming's offset and
commit logs applied to build-once, serve-many indexes.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections.abc import Callable

from kafkatoclickhouse_spark.tables import table_fingerprint

# Bump when the marker's meaning changes: every older artifact then
# misses the key once and is rebuilt.
FORMAT = 1

_MARKER = "meta.json"


def artifact_dir(sf_dir: str, table: str, family: str) -> str:
    """Directory of ``family``'s artifact built from ``table`` of the
    fixture at ``sf_dir``."""
    return _dir(sf_dir, family, table_fingerprint(sf_dir, table))


def _dir(sf_dir: str, family: str, fingerprint: tuple) -> str:
    root = os.environ.get(
        "SPARK_GRAFT_INDEX_DIR",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            ".ann_index",
        ),
    )
    tag = hashlib.sha256(repr(fingerprint).encode()).hexdigest()[:12]
    base = os.path.basename(sf_dir.rstrip("/")) or "data"
    return os.path.join(root, f"{base}_{tag}_{family}")


def _load(path: str) -> dict | None:
    """The committed marker, or None when it is missing or unreadable."""
    try:
        with open(os.path.join(path, _MARKER)) as fh:
            meta = json.load(fh)
    except (FileNotFoundError, ValueError):
        return None
    return meta if isinstance(meta, dict) else None


def read_meta(path: str) -> dict:
    """The committed marker of the artifact at ``path``; raises if the
    artifact is not built."""
    meta = _load(path)
    if meta is None:
        raise FileNotFoundError(f"no committed artifact at {path}")
    return meta


def read_rows(path: str, name: str) -> list[dict]:
    """Rows of the parquet file (or directory of part files) ``name``
    of the artifact at ``path``, read with pyarrow: no Spark job, for
    the bounded tables (codebooks, merge tables) a serve path ships
    to its tasks."""
    import pyarrow.parquet as papq

    return papq.read_table(os.path.join(path, name)).to_pylist()


def write_meta(path: str, meta: dict) -> None:
    """Replace the marker atomically: readers see the old marker or the
    new one, never a truncated file."""
    tmp = os.path.join(path, f".{_MARKER}.tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(path, _MARKER))


def build(
    sf_dir: str,
    table: str,
    family: str,
    key: dict,
    write: Callable[[str], dict | None],
    path: str | None = None,
    force: bool = False,
) -> str:
    """Build ``family``'s artifact from ``table`` of the fixture at
    ``sf_dir`` into ``path`` (default :func:`artifact_dir`) and return
    the directory. ``key`` holds the build's constants; the lifecycle
    format and the table's fingerprint are added here. Returns at once
    if the committed marker holds the whole key (and not ``force``);
    otherwise removes the marker, runs ``write(path)`` and commits
    ``{**key, **stats}`` with the stats it returns."""
    fingerprint = table_fingerprint(sf_dir, table)
    path = path or _dir(sf_dir, family, fingerprint)
    # compare in JSON form: tuples in the key read back as lists
    key = json.loads(
        json.dumps({"format": FORMAT, "fingerprint": fingerprint, **key})
    )
    meta = _load(path)
    if (
        not force
        and meta is not None
        and all(k in meta and meta[k] == v for k, v in key.items())
    ):
        return path
    try:
        os.remove(os.path.join(path, _MARKER))
    except FileNotFoundError:
        pass
    os.makedirs(path, exist_ok=True)
    stats = write(path) or {}
    write_meta(path, {**key, **stats})
    return path
