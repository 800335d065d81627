"""Persisted-artifact lifecycle (``kafkatoclickhouse_spark.artifacts``).

Every index family commits through one protocol: fresh iff the marker
holds every entry of the build's key, otherwise marker removed first,
artifacts written, marker written last and atomically. The tests here
pin that each of the eleven builds states its full key (a changed
build constant rebuilds instead of serving the old artifact), that an
unreadable marker reads as not built, and that the PQ serve path reads
the index files as they are on disk.
"""

from __future__ import annotations

import functools
import json
import os

import pytest

from kafkatoclickhouse_spark import artifacts
from kafkatoclickhouse_spark.operators import bigramlm, bpetrain, classifier
from kafkatoclickhouse_spark.operators import pq as PQ
from kafkatoclickhouse_spark.operators import similarity as S
from kafkatoclickhouse_spark.operators import text as TXT
from kafkatoclickhouse_spark.operators import winnow


class Poisoned(Exception):
    pass


def _poison(*a, **k):
    raise Poisoned


def _marker(path: str) -> str:
    return os.path.join(path, "meta.json")


# (build, recorded build constant to rewrite, (module, first call of
# the artifact-writing body) to poison)
FAMILIES = {
    "pq": (PQ.embedding_pq_index_build, "m", (PQ, "_codebooks")),
    "sq8": (S.embedding_sq8_index_build, "codes", (S, "sq8_encode")),
    "binary": (
        S.embedding_binary_index_build, "words", (S, "_binary_codes")
    ),
    "ivf": (
        S.embedding_ivf_index_build, "centroids", (S, "_ivf_assign_codes")
    ),
    "bm25": (TXT.text_bm25_index_build, "k1", (TXT, "_bm25_tf")),
    "classifier": (
        classifier.text_classifier_index_build,
        "buckets",
        (classifier, "_clf_weights_df"),
    ),
    "winnow": (
        winnow.text_winnow_index_build, "k", (winnow, "_fingerprints")
    ),
    "bigram": (
        bigramlm.text_bigram_index_build,
        "bigram_buckets",
        (bigramlm, "_doc_bigrams"),
    ),
    "bpe": (
        bpetrain.text_bpe_index_build, "budget", (bpetrain, "train_merges")
    ),
    "bpe_bytes": (
        functools.partial(
            bpetrain.text_bpe_index_build, alphabet=bpetrain.BYTES
        ),
        "budget",
        (bpetrain, "train_merges"),
    ),
    "packds": (
        bpetrain.corpus_pack_index_build,
        "chunk_tokens",
        (bpetrain, "corpus_pack_examples_spans"),
    ),
}


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_changed_build_constant_forces_rebuild(
    spark, sf_dir, tmp_path, monkeypatch, family
):
    """Build once; a second call with the writer poisoned is a no-op
    (marker untouched); after one recorded build constant is rewritten
    in the marker, the next call must rebuild (the poisoned writer
    trips) and the interrupted rebuild must leave no marker."""
    build, const, (mod, writer) = FAMILIES[family]
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    path = build(spark, sf_dir)
    assert path.startswith(str(tmp_path))
    meta = artifacts.read_meta(path)
    assert const in meta

    monkeypatch.setattr(mod, writer, _poison)
    t0 = os.stat(_marker(path)).st_mtime_ns
    assert build(spark, sf_dir) == path
    assert os.stat(_marker(path)).st_mtime_ns == t0

    with open(_marker(path), "w") as fh:
        json.dump({**meta, const: meta[const] + 1}, fh)
    with pytest.raises(Poisoned):
        build(spark, sf_dir)
    assert not os.path.exists(_marker(path))


def test_sq8_code_range_keys_the_artifact(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The SQ8 key holds the encoder's own code range: changing
    ``SQ8_RANGE`` rebuilds the codes under the new range instead of
    serving the ones encoded under the old."""
    from pyspark.sql import functions as F

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))

    def widest(path: str) -> int:
        codes = spark.read.parquet(os.path.join(path, "sq8_codes.parquet"))
        return codes.select(
            F.max(F.array_max(F.transform("codes", F.abs)))
        ).first()[0]

    path = S.embedding_sq8_index_build(spark, sf_dir)
    assert widest(path) == S.SQ8_RANGE
    monkeypatch.setattr(S, "SQ8_RANGE", 63)
    assert S.embedding_sq8_index_build(spark, sf_dir) == path
    assert artifacts.read_meta(path)["codes"] == 63
    assert widest(path) == 63


def test_unreadable_marker_rebuilds_and_append_flip_is_atomic(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A truncated marker (what a crash mid-``open(..., "w")`` leaves)
    reads as not built, so the next build rebuilds instead of raising
    JSONDecodeError; the IVF append flip replaces the marker
    atomically, so a crash inside it keeps the old marker readable."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    path = S.embedding_ivf_index_build(spark, sf_dir)
    with open(_marker(path)) as fh:
        text = fh.read()
    with open(_marker(path), "w") as fh:
        fh.write(text[: len(text) // 2])
    assert S.embedding_ivf_index_build(spark, sf_dir) == path
    assert artifacts.read_meta(path)["appended"] is False

    def crash(*a, **k):
        raise RuntimeError("simulated crash while writing the marker")

    with monkeypatch.context() as m:
        m.setattr(json, "dump", crash)
        with pytest.raises(RuntimeError):
            S.embedding_ivf_index_append(spark, sf_dir)
    assert artifacts.read_meta(path)["appended"] is False

    assert S.embedding_ivf_index_append(spark, sf_dir) == path
    assert artifacts.read_meta(path)["appended"] is True
    assert not [f for f in os.listdir(path) if f.endswith(".tmp")]


def test_pq_index_serves_current_files(spark, tmp_path):
    """A rebuild under a changed key is served fresh by
    ``pq._load_index``, even when the new marker has the old marker's
    size and mtime."""
    path = str(tmp_path / "pq")

    def writer(cq: int):
        def write(p: str) -> None:
            spark.createDataFrame(
                [(0, 0, [cq])], "m int, cid int, cq array<bigint>"
            ).write.mode("overwrite").parquet(
                os.path.join(p, "codebooks.parquet")
            )
            spark.createDataFrame(
                [(0, [cq])], "cid int, cq array<bigint>"
            ).write.mode("overwrite").parquet(
                os.path.join(p, "coarse.parquet")
            )
            spark.createDataFrame(
                [(1, 0)], "vec_id long, cell int"
            ).write.mode("overwrite").parquet(
                os.path.join(p, "codes.parquet")
            )

        return write

    sf = str(tmp_path)
    artifacts.build(sf, "embeddings", "pq", {"iters": 1}, writer(7), path)
    coarse, books, _ = PQ._load_index(spark, path)
    assert coarse == [(0, [7])] and books[0] == [(0, [7])]
    st = os.stat(_marker(path))

    artifacts.build(sf, "embeddings", "pq", {"iters": 2}, writer(8), path)
    os.utime(_marker(path), ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(_marker(path)).st_size == st.st_size
    coarse, books, _ = PQ._load_index(spark, path)
    assert coarse == [(0, [8])] and books[0] == [(0, [8])]


def test_pq_serve_sees_codebook_rewritten_under_same_marker(
    spark, sf_dir, tmp_path, monkeypatch
):
    """After a served call, drop codeword 3 of book 0 from
    ``codebooks.parquet`` (and point one ``code0`` at it) without
    touching ``meta.json``: the next ``sim_ivfpq_serve_topk`` in the
    same process must raise the missing-codeword error, not serve the
    books it read before."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from kafkatoclickhouse_spark import registry

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    serve = registry.QUERIES["sim_ivfpq_serve_topk"]
    assert serve(spark, sf_dir).count() > 0
    path = PQ.embedding_pq_index_build(spark, sf_dir)
    with open(_marker(path)) as fh:
        marker = fh.read()
    t0 = os.stat(_marker(path)).st_mtime_ns

    def rewrite(name: str, table) -> None:
        d = os.path.join(path, name)
        for f in os.listdir(d):
            os.remove(os.path.join(d, f))
        papq.write_table(table, os.path.join(d, "part-0.parquet"))

    books = papq.read_table(os.path.join(path, "codebooks.parquet"))
    keep = [
        not (m == 0 and c == 3)
        for m, c in zip(books["m"].to_pylist(), books["cid"].to_pylist())
    ]
    assert not all(keep), "book 0 has no codeword 3"
    rewrite("codebooks.parquet", books.filter(pa.array(keep)))
    codes = papq.read_table(os.path.join(path, "codes.parquet"))
    code0 = codes["code0"].to_pylist()
    code0[0] = 3
    i = codes.schema.get_field_index("code0")
    rewrite(
        "codes.parquet",
        codes.set_column(
            i, "code0", pa.array(code0, type=codes.schema.field(i).type)
        ),
    )

    with open(_marker(path)) as fh:
        assert fh.read() == marker
    assert os.stat(_marker(path)).st_mtime_ns == t0
    with pytest.raises(Exception, match=r"stored ids \[3\] are not in"):
        serve(spark, sf_dir).collect()


def test_build_protocol(tmp_path, monkeypatch):
    """Spark-free pin of the protocol: the default location is
    ``artifact_dir``; fresh iff every key entry matches (extra stats do
    not matter); a changed source table, ``force`` or a changed
    constant rebuilds; the marker is gone while ``write`` runs; and
    the committed marker is ``{format, fingerprint, **key, **stats}``."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    table = os.path.join(sf, "docs.parquet")
    with open(table, "w") as fh:
        fh.write("v1")
    calls = []

    def write(p):
        assert not os.path.exists(_marker(p))
        calls.append(p)
        return {"rows": len(calls)}

    def build(key, **kw):
        return artifacts.build(sf, "docs", "fam", key, write, **kw)

    key = {"n": 3}
    path = build(key)
    assert path == artifacts.artifact_dir(sf, "docs", "fam")
    assert path.startswith(str(tmp_path / "idx"))
    st = os.stat(table)
    assert artifacts.read_meta(path) == {
        "format": artifacts.FORMAT,
        "fingerprint": [table, st.st_mtime_ns, st.st_size],
        "n": 3,
        "rows": 1,
    }
    build(key)
    assert len(calls) == 1
    build(key, force=True)
    assert len(calls) == 2
    build({"n": 4}, path=path)
    assert len(calls) == 3 and artifacts.read_meta(path)["n"] == 4

    meta = artifacts.read_meta(path)
    del meta["format"]
    artifacts.write_meta(path, meta)
    build({"n": 4}, path=path)
    assert len(calls) == 4

    with open(_marker(path), "w") as fh:
        fh.write("[1, 2]")
    with pytest.raises(FileNotFoundError):
        artifacts.read_meta(path)
    build({"n": 4}, path=path)
    assert len(calls) == 5

    # a regenerated source table is stale at the same path and gets
    # a new default location
    with open(table, "w") as fh:
        fh.write("v2, longer")
    build({"n": 4}, path=path)
    assert len(calls) == 6
    assert build({"n": 4}) != path and len(calls) == 7
