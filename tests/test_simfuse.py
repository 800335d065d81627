"""The fused ``mapInArrow`` sim_* retrieval paths against their DuckDB
oracles, on the real fixture and on an adversarial corpus.

The corpus is built to hit the edge cases the fixture cannot: zero
vectors (NULL-cosine branches), a zero-vector QUERY and a zero-vector
CENTROID, exact duplicate vectors (score ties broken by id), and
vectors equal to centroids. All nine queries run, the two that serve
PERSISTED indexes included; their indexes are built in a temp dir.
``oracle.compare_query`` compares doubles by ``repr``, so ``-0.0`` vs
``0.0`` and NULL vs a value are differences. Column order, Spark types
and non-empty output are pinned here, since the oracle compares column
names as a set.

The persisted indexes must also fail loudly when their stored ids are
corrupt: a cell id the centroid list lacks, or a PQ code naming a
codeword the codebook lacks, raises instead of serving a plausible
neighbour list."""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kafkatoclickhouse_spark import oracle, registry
from kafkatoclickhouse_spark.operators import pq as PQ
from kafkatoclickhouse_spark.operators import similarity as SIM

_K = [("query_id", "bigint"), ("neighbor_id", "bigint")]
_R = [("rank", "int")]
SCHEMAS = {
    "sim_ivf_topk": _K + [("score", "double")] + _R,
    "sim_ivf_sq8_topk": _K + [("score_scaled", "bigint")] + _R,
    "sim_ivf_sq8_refine_topk": _K + [("score", "double")] + _R,
    "sim_ivf_filtered_topk": _K
    + [("label", "int"), ("score", "double")]
    + _R,
    "sim_ivf_appended_serve_topk": _K + [("score_scaled", "bigint")] + _R,
    "sim_ivfpq_topk": _K + [("adc_dist_sq_micro", "bigint")] + _R,
    "sim_ivfpq_refine_topk": _K + [("dist_sq_micro", "bigint")] + _R,
    "sim_ivfpq_serve_topk": _K + [("adc_dist_sq_micro", "bigint")] + _R,
    "sim_pq_refine_topk": _K + [("dist_sq_micro", "bigint")] + _R,
}


@pytest.fixture(scope="module")
def adversarial_dir(tmp_path_factory):
    """A 130-vector embeddings fixture engineered for edge cases:

    - vec_id 0 is the ZERO vector and is also a query (vec_id%100==0
      and %97==0) → every fused NULL-guard (query norm 0) fires;
    - vec_id 7 is a zero CENTROID (first 16 ids are IVF centroids)
      → a whole cell whose centroid similarity is NULL for all rows;
    - vec_ids 30..39 are exact duplicates → score ties broken by
      neighbor_id in every tier, including the SQ8/PQ integer ties;
    - vec_ids 40..55 equal centroids 0..15 → distance-0 assignment
      ties and self-vs-copy disambiguation;
    - the rest is seeded uniform noise in [-1, 1).
    """
    rng = np.random.RandomState(42)
    n, dim = 130, 64
    V = (rng.rand(n, dim).astype(np.float32) * 2.0 - 1.0).astype(
        np.float32
    )
    V[0] = 0.0
    V[7] = 0.0
    V[30:40] = V[29]
    V[40:56] = V[:16]
    labels = (np.arange(n) % 5).astype(np.int32)
    t = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(
                [list(map(float, row)) for row in V],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array(labels),
        }
    )
    d = tmp_path_factory.mktemp("simfuse_adv")
    pq.write_table(t, os.path.join(str(d), "embeddings.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def index_root(tmp_path_factory):
    """Index root for the corpus's persisted indexes (built by the
    first serve query that runs under it)."""
    return str(tmp_path_factory.mktemp("simfuse_index"))


@pytest.fixture(scope="module")
def adversarial_duck(adversarial_dir):
    return oracle.duckdb_connect(adversarial_dir)


def _assert_matches_oracle(spark, duck, name, data_dir, tag):
    """Pin ``name``'s column order and Spark types, require rows, and
    compare them with the DuckDB oracle over ``data_dir``."""
    df = registry.QUERIES[name](spark, data_dir)
    assert [
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    ] == SCHEMAS[name], name
    assert df.count() > 0, f"{name}[{tag}]: no rows"
    problems = oracle.compare_query(spark, duck, name, data_dir)
    assert not problems, f"{name}[{tag}]: {'; '.join(problems)}"


@pytest.mark.parametrize("name", sorted(SCHEMAS))
def test_fused_matches_catalyst_on_fixture(spark, duck, sf_dir, name):
    """The fused path on the real fixture, schema pinned. (The name is
    kept from when the reference was a Catalyst builder of the same
    query; the reference is now its DuckDB oracle.)"""
    _assert_matches_oracle(spark, duck, name, sf_dir, "fixture")


@pytest.mark.parametrize("name", sorted(SCHEMAS))
def test_fused_matches_oracle_adversarial(
    spark, adversarial_dir, adversarial_duck, index_root, monkeypatch, name
):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", index_root)
    _assert_matches_oracle(
        spark, adversarial_duck, name, adversarial_dir, "adversarial"
    )


def test_duckdb_connect_partial_dir(adversarial_dir, adversarial_duck):
    """A directory holding only ``embeddings.parquet`` connects; a
    query over a table it lacks fails when it runs."""
    assert adversarial_duck.execute(
        "SELECT COUNT(*) FROM embeddings"
    ).fetchone() == (130,)
    with pytest.raises(duckdb.CatalogException, match="lineitem"):
        adversarial_duck.execute("SELECT COUNT(*) FROM lineitem")


def _replace(parquet_dir: str, table: pa.Table) -> None:
    """Replace the Spark-written ``parquet_dir`` by one file holding
    ``table``."""
    shutil.rmtree(parquet_dir)
    os.makedirs(parquet_dir)
    pq.write_table(table, os.path.join(parquet_dir, "part-0.parquet"))


def _set_first(parquet_dir: str, col: str, value: int) -> None:
    """Rewrite ``col`` of the first stored row to ``value``."""
    t = pq.read_table(parquet_dir)
    vals = t.column(col).to_pylist()
    vals[0] = value
    i = t.schema.get_field_index(col)
    _replace(
        parquet_dir,
        t.set_column(i, col, pa.array(vals, type=t.schema.field(col).type)),
    )


@pytest.fixture
def index_copy(spark, adversarial_dir, index_root, tmp_path, monkeypatch):
    """A private copy of the corpus's built indexes, served from."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", index_root)
    PQ.embedding_pq_index_build(spark, adversarial_dir)
    SIM.embedding_ivf_index_append(spark, adversarial_dir)
    root = str(tmp_path / "idx")
    shutil.copytree(index_root, root)
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", root)
    return root


def test_appended_serve_rejects_unknown_cell(
    spark, adversarial_dir, index_copy
):
    """An in-range cell id that is not a centroid (9: the base slice's
    centroids are vec_ids 0..8 and 10..16) must raise, not take cell
    10's probe mask."""
    path = SIM.embedding_ivf_index_append(spark, adversarial_dir)
    cids = pq.read_table(os.path.join(path, "centroids.parquet"))["cid"]
    assert 9 not in cids.to_pylist() and max(cids.to_pylist()) > 9
    _set_first(os.path.join(path, "codes.parquet"), "cell", 9)
    with pytest.raises(Exception, match=r"stored ids \[9\] are not in"):
        registry.QUERIES["sim_ivf_appended_serve_topk"](
            spark, adversarial_dir
        ).collect()


def test_pq_serve_rejects_code_of_missing_codeword(
    spark, adversarial_dir, index_copy
):
    """A PQ code naming a codeword the codebook lacks (a gap below the
    book's largest cid) must raise, not score distance 0 and rank
    first."""
    path = PQ.embedding_pq_index_build(spark, adversarial_dir)
    books = pq.read_table(os.path.join(path, "codebooks.parquet"))
    ms, cs = books["m"].to_pylist(), books["cid"].to_pylist()
    book0 = sorted(c for m, c in zip(ms, cs) if m == 0)
    gap = book0[len(book0) // 2]
    keep = [not (m == 0 and c == gap) for m, c in zip(ms, cs)]
    _replace(
        os.path.join(path, "codebooks.parquet"), books.filter(pa.array(keep))
    )
    _set_first(os.path.join(path, "codes.parquet"), "code0", gap)
    with pytest.raises(
        Exception, match=rf"stored ids \[{gap}\] are not in"
    ):
        registry.QUERIES["sim_ivfpq_serve_topk"](
            spark, adversarial_dir
        ).collect()
