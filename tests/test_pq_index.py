"""ANN index lifecycle — BUILD once, SERVE many (VERDICT r7 #2).

The serve query must produce exactly the re-training query's results
from the persisted artifacts WITHOUT training anything, the rebuild
must be an idempotent no-op while the source fingerprint matches,
and a stale fingerprint must force a rebuild instead of silently
serving an index of different data.
"""

from __future__ import annotations

import json
import os
import pytest

from kafkatoclickhouse_spark import artifacts, registry
from kafkatoclickhouse_spark.operators import kmeans as KM
from kafkatoclickhouse_spark.operators import pq as PQ
from kafkatoclickhouse_spark.tables import table_fingerprint


def _canon(rows):
    return sorted(
        (r["query_id"], r["neighbor_id"], r["adc_dist_sq_micro"], r["rank"])
        for r in rows
    )


def test_pq_index_build_then_serve_without_retraining(
    spark, sf_dir, tmp_path, monkeypatch
):
    expected = _canon(
        registry.QUERIES["sim_ivfpq_topk"](spark, sf_dir).collect()
    )
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    path = artifacts.artifact_dir(sf_dir, "embeddings", "pq")
    built = PQ.embedding_pq_index_build(spark, sf_dir)
    assert built == path and path.startswith(str(tmp_path))
    meta = artifacts.read_meta(path)
    assert meta["fingerprint"] == list(
        table_fingerprint(sf_dir, "embeddings")
    )

    # codes artifact is the compressed corpus: M code columns + cell,
    # NO vector column — the thing a 100 TB retrieval scans.
    codes = spark.read.parquet(os.path.join(path, "codes.parquet"))
    assert set(codes.columns) == {
        "vec_id",
        "cell",
        *{f"code{m}" for m in range(PQ.PQ_M)},
    }
    n_vecs = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).count()
    assert codes.count() == n_vecs

    # idempotent: a second build with a matching fingerprint is a
    # no-op (meta.json untouched).
    t0 = os.path.getmtime(os.path.join(path, "meta.json"))
    assert PQ.embedding_pq_index_build(spark, sf_dir, path=path) == path
    assert os.path.getmtime(os.path.join(path, "meta.json")) == t0

    # SERVE: poison every training entry point, clear the in-process
    # codebook memo, serve from the built artifacts — it must still
    # return the re-training query's exact results.
    def boom(*a, **k):
        raise AssertionError("serve path retrained the index")

    monkeypatch.setattr(KM, "train_on", boom)
    monkeypatch.setattr(KM, "_train", boom)
    PQ._BOOK_CACHE.clear()
    got = _canon(
        registry.QUERIES["sim_ivfpq_serve_topk"](spark, sf_dir).collect()
    )
    assert got == expected


@pytest.mark.slow
def test_pq_index_stale_fingerprint_forces_rebuild(
    spark, sf_dir, tmp_path
):
    path = str(tmp_path / "idx2")
    PQ.embedding_pq_index_build(spark, sf_dir, path=path)
    meta_path = os.path.join(path, "meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta["fingerprint"] = ["/somewhere/else.parquet", 0, 0]
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    t0 = os.path.getmtime(meta_path)
    PQ.embedding_pq_index_build(spark, sf_dir, path=path)
    with open(meta_path) as fh:
        rebuilt = json.load(fh)
    assert rebuilt["fingerprint"] == list(
        table_fingerprint(sf_dir, "embeddings")
    )
    assert os.path.getmtime(meta_path) >= t0


def test_sq8_index_build_serve_lifecycle(
    spark, sf_dir, tmp_path, monkeypatch
):
    """SQ8 lifecycle mirror of the PQ test: build persists codes +
    crash-safe meta, a second build is a no-op, and the serve query
    returns the inline-encoding query's exact rows with the raw
    ENCODE path poisoned (the serve scan reads only the persisted
    int8 codes)."""
    from kafkatoclickhouse_spark.operators import similarity as S

    def canon(rows):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["score_scaled"],
             r["rank"])
            for r in rows
        )

    expected = canon(
        registry.QUERIES["sim_sq8_topk"](spark, sf_dir).collect()
    )
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    path = S.embedding_sq8_index_build(spark, sf_dir)
    assert path == artifacts.artifact_dir(sf_dir, "embeddings", "sq8")
    assert path.startswith(str(tmp_path))
    codes = spark.read.parquet(os.path.join(path, "sq8_codes.parquet"))
    assert set(codes.columns) == {"vec_id", "scale_micro", "codes"}
    n_vecs = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).count()
    assert codes.count() == n_vecs

    # idempotent second build: meta untouched
    t0 = os.path.getmtime(os.path.join(path, "meta.json"))
    assert S.embedding_sq8_index_build(spark, sf_dir) == path
    assert os.path.getmtime(os.path.join(path, "meta.json")) == t0

    # SERVE with the encode path poisoned: must come from artifacts
    def boom(*a, **k):
        raise AssertionError("serve path re-encoded the corpus")

    monkeypatch.setattr(S, "sq8_encode", boom)
    got = canon(
        registry.QUERIES["sim_sq8_serve_topk"](spark, sf_dir).collect()
    )
    assert got == expected

    # stale fingerprint forces a rebuild (encode poison still set →
    # the rebuild attempt must trip it, proving staleness is seen)
    meta_path = os.path.join(path, "meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta["fingerprint"] = ["/somewhere/else.parquet", 0, 0]
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    try:
        S.embedding_sq8_index_build(spark, sf_dir)
        raise RuntimeError("stale index was served without rebuild")
    except AssertionError:
        pass


def test_binary_index_build_serve_lifecycle(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Binary-tier lifecycle mirror of the SQ8 test: build persists
    packed sign-bit words + crash-safe meta, a second build is a
    no-op, and the serve query returns the inline-encoding query's
    exact rows with the ENCODE path poisoned (the serve scan reads
    only the persisted words)."""
    from kafkatoclickhouse_spark.operators import similarity as S

    def canon(rows):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["hamming"], r["rank"])
            for r in rows
        )

    expected = canon(
        registry.QUERIES["sim_binary_topk"](spark, sf_dir).collect()
    )
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    path = S.embedding_binary_index_build(spark, sf_dir)
    assert path == artifacts.artifact_dir(sf_dir, "embeddings", "bin")
    assert path.startswith(str(tmp_path))
    codes = spark.read.parquet(os.path.join(path, "bin_codes.parquet"))
    assert set(codes.columns) == {"vec_id", "b"}
    n_vecs = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).count()
    assert codes.count() == n_vecs

    t0 = os.path.getmtime(os.path.join(path, "meta.json"))
    assert S.embedding_binary_index_build(spark, sf_dir) == path
    assert os.path.getmtime(os.path.join(path, "meta.json")) == t0

    def boom(*a, **k):
        raise AssertionError("serve path re-encoded the corpus")

    monkeypatch.setattr(S, "_binary_codes", boom)
    got = canon(
        registry.QUERIES["sim_binary_serve_topk"](
            spark, sf_dir
        ).collect()
    )
    assert got == expected

    meta_path = os.path.join(path, "meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta["fingerprint"] = ["/somewhere/else.parquet", 0, 0]
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    try:
        S.embedding_binary_index_build(spark, sf_dir)
        raise RuntimeError("stale index was served without rebuild")
    except AssertionError:
        pass


def test_ivf_append_lifecycle(spark, sf_dir, tmp_path, monkeypatch):
    """r11 incremental append: build persists the frozen coarse
    quantizer + base codes, append adds ONLY the new-batch codes
    (idempotent — a second call is a no-op), and the serve query
    returns its oracle-shape rows with the assignment/encode path
    poisoned (retrieval reads only the persisted artifacts)."""
    from kafkatoclickhouse_spark.operators import similarity as S

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    path = S.embedding_ivf_index_build(spark, sf_dir)
    assert path == artifacts.artifact_dir(sf_dir, "embeddings", "ivf_app")
    assert path.startswith(str(tmp_path))
    with open(os.path.join(path, "meta.json")) as fh:
        assert json.load(fh)["appended"] is False
    # base codes hold no batch-slice ids
    base_ids = {
        r["vec_id"]
        for r in spark.read.parquet(
            os.path.join(path, "codes.parquet")
        ).collect()
    }
    assert all(v % S.APPEND_MOD != S.APPEND_RES for v in base_ids)

    path = S.embedding_ivf_index_append(spark, sf_dir)
    app_ids = {
        r["vec_id"]
        for r in spark.read.parquet(
            os.path.join(path, "codes_append.parquet")
        ).collect()
    }
    assert app_ids and all(
        v % S.APPEND_MOD == S.APPEND_RES for v in app_ids
    )
    t0 = os.path.getmtime(os.path.join(path, "codes_append.parquet"))
    assert S.embedding_ivf_index_append(spark, sf_dir) == path  # no-op
    assert os.path.getmtime(
        os.path.join(path, "codes_append.parquet")
    ) == t0

    # SERVE with the assignment path poisoned: artifacts only
    def boom(*a, **k):
        raise AssertionError("serve path re-assigned the corpus")

    monkeypatch.setattr(S, "_ivf_assign_codes", boom)
    rows = registry.QUERIES["sim_ivf_appended_serve_topk"](
        spark, sf_dir
    ).collect()
    assert rows
    got_ids = {r["neighbor_id"] for r in rows}
    # the appended batch is searchable: at least one batch-slice
    # neighbor surfaces in the fixture's top-k results
    assert any(v % S.APPEND_MOD == S.APPEND_RES for v in got_ids)
