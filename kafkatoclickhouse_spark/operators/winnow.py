"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
"Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
2003; the MOSS algorithm). [EXT] LLM-pipeline surface (SURVEY.md
§2.2).

MinHash answers "how similar are these documents overall"; winnowing
answers "do these documents share ANY sufficiently long verbatim
passage" with a POSITIONAL guarantee: from each window of
``WINNOW_W`` consecutive k-gram hashes, keep the minimum — then any
shared token run of length ≥ W + K − 1 is guaranteed to contribute
at least one identical selected fingerprint to both documents, while
the expected density of kept fingerprints is only 2/(W+1) of all
k-grams. That guarantee + sparsity is why it's the standard for
copy/attribution detection, and in an LLM corpus it is the cheap
index for "which documents quote which" — a recall-complete
candidate generator for the substring-span dedup family
(`dedup.dedup_substring_spans` verifies exact spans; winnowing at
the same K prunes the position space it must scan).

Determinism: the selected fingerprint of a window is
min((hash, position)) — lexicographic struct comparison, leftmost
position on hash ties — which Spark's ``F.min(F.struct(...))`` and
DuckDB's ``MIN(struct_pack(...))`` order identically (verified: the
integer hash family is the shared portable md5).

Scale: hashing is a row-local map (posexplode of a transform); the
window min partitions by doc_id and orders by position — one
doc-keyed exchange, frames bounded by document length; the pair
index is an equi-join on fp_hash downstream, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kafkatoclickhouse_spark import artifacts
from kafkatoclickhouse_spark.functions import hashing
from kafkatoclickhouse_spark.registry import query
from kafkatoclickhouse_spark.tables import fan_out, load_table

WINNOW_K = 5   # k-gram width (tokens)
WINNOW_W = 4   # winnowing window (consecutive k-gram hashes)
WINNOW_SEED = 811
# guarantee threshold: shared runs of >= W + K - 1 = 8 tokens always
# share a selected fingerprint.

_SQL_WINNOW = f"""
    toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
             FROM documents),
    kg AS (
      SELECT doc_id, CAST(r AS BIGINT) AS pos,
             {hashing.sql_portable_hash64(
                 f"array_to_string(t[r + 1 : r + {WINNOW_K}], ' ')",
                 WINNOW_SEED,
             )} AS h
      FROM (SELECT doc_id, t,
                   unnest(range(len(t) - {WINNOW_K - 1})) AS r
            FROM toks WHERE len(t) >= {WINNOW_K})
    ),
    win AS (
      SELECT doc_id,
             MIN(struct_pack(h := h, p := pos)) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW
                        AND {WINNOW_W - 1} FOLLOWING) AS m,
             COUNT(*) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW
                        AND {WINNOW_W - 1} FOLLOWING) AS cnt
      FROM kg
    ),
    wfp AS (
      SELECT DISTINCT doc_id, m.h AS fp_hash, m.p AS fp_pos
      FROM win WHERE cnt = {WINNOW_W}
    )
"""


def _fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fp_hash, fp_pos): the winnowed fingerprint set —
    Spark twin of the ``wfp`` CTE."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = hashing.tokens(F.col("text"))
    kg = (
        docs.filter(F.size(toks) >= WINNOW_K)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - WINNOW_K),
                    lambda i: hashing.portable_hash64(
                        F.concat_ws(
                            " ", F.slice(toks, i + 1, WINNOW_K)
                        ),
                        WINNOW_SEED,
                    ),
                )
            ).alias("pos", "h"),
        )
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "h")
    )
    frame = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, WINNOW_W - 1)
    )
    win = kg.select(
        "doc_id",
        F.min(F.struct(F.col("h"), F.col("pos"))).over(frame).alias("m"),
        F.count(F.lit(1)).over(frame).alias("cnt"),
    )
    return (
        win.filter(F.col("cnt") == WINNOW_W)
        .select(
            "doc_id",
            F.col("m.h").alias("fp_hash"),
            F.col("m.pos").alias("fp_pos"),
        )
        .distinct()
    )


@query(
    "text_winnow_fingerprints",
    oracle=f"""
    WITH {_SQL_WINNOW}
    SELECT doc_id, fp_hash, fp_pos FROM wfp
    """,
)
def text_winnow_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The winnowed fingerprint set per document: distinct
    (fp_hash, fp_pos) selected minima. Expected density ≈ 2/(W+1) of
    all k-gram positions; any ≥ W+K−1-token verbatim overlap between
    two documents is guaranteed to appear as a shared fp_hash."""
    return _fingerprints(spark, sf_dir)


def text_winnow_index_build(
    spark: SparkSession,
    sf_dir: str,
    path: str | None = None,
    force: bool = False,
) -> str:
    """BUILD half of the winnow lifecycle: hash + window-select ONCE
    and persist ``wfp.parquet`` (doc_id, fp_hash, fp_pos). At 100 TB
    this is built at ingest — 2/(W+1) of the k-gram positions, a few
    narrow columns — and every copy-detection / substring-dedup pass
    reads it instead of re-hashing the corpus
    (``dedup_substring_spans_winnowed`` is the serve-side consumer).
    The key is the source fingerprint plus k/w/seed (commit protocol:
    ``artifacts``)."""
    import os

    def write(path: str) -> None:
        _fingerprints(spark, sf_dir).write.mode("overwrite").parquet(
            os.path.join(path, "wfp.parquet")
        )
        wfp = spark.read.parquet(os.path.join(path, "wfp.parquet"))
        # duplicate-candidate summary, derived once at build (the BM25
        # dfreq pattern): docs holding a fingerprint selected at >= 2
        # corpus positions. Serve-side consumers (the winnowed span
        # verify) read THIS instead of re-counting the whole index.
        hot = (
            wfp.groupBy("fp_hash")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") >= 2)
            .select("fp_hash")
        )
        wfp.join(hot, "fp_hash").select(
            "doc_id"
        ).distinct().write.mode("overwrite").parquet(
            os.path.join(path, "cand.parquet")
        )

    key = {
        "k": WINNOW_K,
        "w": WINNOW_W,
        "seed": WINNOW_SEED,
    }
    return artifacts.build(
        sf_dir, "documents", "winnow", key, write, path, force
    )


def winnow_candidates_served(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The persisted duplicate-candidate doc_id table (docs with any
    fingerprint selected at >= 2 corpus positions), built iff
    absent/stale — O(candidates) to read, nothing recounted."""
    import os

    path = text_winnow_index_build(spark, sf_dir)
    return spark.read.parquet(os.path.join(path, "cand.parquet"))


@query(
    "text_winnow_shared_pairs",
    oracle=f"""
    WITH {_SQL_WINNOW}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(*) AS n_shared
    FROM (SELECT DISTINCT doc_id, fp_hash FROM wfp) a
    JOIN (SELECT DISTINCT doc_id, fp_hash FROM wfp) b
      ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def text_winnow_shared_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Document pairs sharing winnowed fingerprints, with the shared
    count — the copy/attribution candidate index. Complete for
    overlaps ≥ W+K−1 tokens by the winnowing guarantee; the
    substring-span verifier then scans only these candidates. The
    join is fingerprint-keyed (a fingerprint in m docs costs m rows
    before pairing — boilerplate would be freq-capped here at
    production scale exactly like `dedup.py`'s candidate caps)."""
    fp = _fingerprints(spark, sf_dir).select(
        "doc_id", "fp_hash"
    ).distinct()
    a = fp.select(F.col("doc_id").alias("doc_a"), "fp_hash")
    b = fp.select(F.col("doc_id").alias("doc_b"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
