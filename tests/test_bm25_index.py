"""BM25 index lifecycle — BUILD once, SERVE many (VERDICT r8 #3).

Mirrors tests/test_pq_index.py: the serve query must produce exactly
the from-raw-text query's results from the persisted postings WITHOUT
tokenizing anything, the rebuild must be an idempotent no-op while
the source fingerprint matches, a stale fingerprint must force a
rebuild, and a crash mid-rebuild must never leave a servable-looking
half-index (meta.json is the commit marker, deleted first).
"""

from __future__ import annotations

import json
import os

from kafkatoclickhouse_spark import artifacts, registry
from kafkatoclickhouse_spark.operators import text as TXT


def _canon(rows):
    return sorted(
        (r["doc_id"], r["bm25"], r["n_terms_hit"], r["rank"]) for r in rows
    )


def test_bm25_build_then_serve_without_tokenizing(
    spark, sf_dir, tmp_path, monkeypatch
):
    expected = _canon(
        registry.QUERIES["text_bm25_topk"](spark, sf_dir).collect()
    )
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    path = artifacts.artifact_dir(sf_dir, "documents", "bm25")
    built = TXT.text_bm25_index_build(spark, sf_dir)
    assert built == path and os.path.isfile(os.path.join(path, "meta.json"))
    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    from kafkatoclickhouse_spark.tables import table_fingerprint

    assert meta["fingerprint"] == list(table_fingerprint(sf_dir, "documents"))
    assert meta["n_docs"] > 0 and meta["avgdl"] > 0

    # postings artifact: (token, doc_id, tf) — no text column.
    postings = spark.read.parquet(os.path.join(path, "postings.parquet"))
    assert set(postings.columns) == {"token", "doc_id", "tf"}

    # idempotent: second build with matching fingerprint is a no-op.
    t0 = os.path.getmtime(os.path.join(path, "meta.json"))
    assert TXT.text_bm25_index_build(spark, sf_dir) == path
    assert os.path.getmtime(os.path.join(path, "meta.json")) == t0

    # SERVE: poison the only tokenizing entry point and the raw-text
    # loader; the serve query must still return the from-raw result.
    def boom(*a, **k):
        raise AssertionError("serve path tokenized raw text")

    monkeypatch.setattr(TXT, "_bm25_tf", boom)
    got = _canon(
        registry.QUERIES["text_bm25_serve_topk"](spark, sf_dir).collect()
    )
    assert got == expected


def test_bm25_stale_fingerprint_forces_rebuild(spark, sf_dir, tmp_path):
    path = str(tmp_path / "bm25_stale")
    TXT.text_bm25_index_build(spark, sf_dir, path=path)
    meta_path = os.path.join(path, "meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta["fingerprint"] = ["/somewhere/else.parquet", 0, 0]
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    TXT.text_bm25_index_build(spark, sf_dir, path=path)
    from kafkatoclickhouse_spark.tables import table_fingerprint

    with open(meta_path) as fh:
        rebuilt = json.load(fh)
    assert rebuilt["fingerprint"] == list(
        table_fingerprint(sf_dir, "documents")
    )


def test_bm25_interrupted_rebuild_not_servable(
    spark, sf_dir, tmp_path, monkeypatch
):
    """meta.json is removed BEFORE artifacts are touched on a forced
    rebuild, so a crash mid-rebuild leaves a dir that reads as 'not
    built' (ADVICE r8 applied to the new lifecycle too)."""
    path = str(tmp_path / "bm25_crash")
    TXT.text_bm25_index_build(spark, sf_dir, path=path)

    def boom(*a, **k):
        raise RuntimeError("simulated crash during tokenize")

    monkeypatch.setattr(TXT, "_bm25_tf", boom)
    try:
        TXT.text_bm25_index_build(spark, sf_dir, path=path, force=True)
    except RuntimeError:
        pass
    assert not os.path.isfile(os.path.join(path, "meta.json"))
