"""Benchmark decontamination over ``documents`` ([EXT] — LLM-pipeline
surface; the reference has no text processing of any kind, SURVEY §2.2).

Before training, a corpus must be scrubbed of documents that overlap
the evaluation benchmarks, or downstream eval numbers are
meaningless — the GPT-3 appendix-C / PaLM-style n-gram overlap check.
The operator here is that check as a Spark plan:

  1. shingle every document into distinct word n-grams
     (n = ``DECONTAM_N``, longer than dedup's 3-grams — overlap
     evidence should be rarer and higher-precision than near-dup
     evidence);
  2. take the distinct shingle set of the HELD-OUT docs (here a
     deterministic pseudo-benchmark: ``doc_id % EVAL_MOD == 0``,
     ~1% of the corpus — in production this input is the actual
     benchmark suite, a few MB);
  3. mark every training doc by how many of its shingles appear in
     that set.

Scale shape: the eval shingle set is tiny by construction (benchmarks
are MBs, the corpus is TBs), so step 3 is a **broadcast** left join
against row-locally exploded training shingles followed by ONE
doc_id-keyed aggregation — the whole 100 TB pass is embarrassingly
parallel with a single narrow shuffle, never an all-pairs anything.
At production scale you'd broadcast ``xxhash64(shingle)`` longs
instead of shingle strings (~8 bytes vs ~30, same plan — the
documented md5→xxhash64 swap used across the dedup family).

Reference parity note: closest reference behavior is none — cited as
[EXT] per SURVEY §2.2's LLM-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkatoclickhouse_spark.functions import hashing
from kafkatoclickhouse_spark.functions.exact import (
    sql_stable_round6,
    stable_round6,
)
from kafkatoclickhouse_spark.registry import query
from kafkatoclickhouse_spark.tables import fan_out, load_table

DECONTAM_N = 5
EVAL_MOD = 97

# DuckDB CTEs: distinct word-5-gram shingles per doc (shared
# template, hashing.sql_word_shingles), split into the
# pseudo-benchmark (evals) and the training side (train).
_SQL_BASE = hashing.sql_word_shingles(DECONTAM_N) + """,
    evals AS (SELECT DISTINCT shingle FROM sh
              WHERE doc_id % {m} = 0),
    train AS (SELECT doc_id, shingle FROM sh
              WHERE doc_id % {m} <> 0),
    overlap AS (
      SELECT t.doc_id,
             COUNT(*) AS n_shingles,
             COUNT(e.shingle) AS n_overlap
      FROM train t LEFT JOIN evals e ON t.shingle = e.shingle
      GROUP BY t.doc_id
    )
""".format(m=EVAL_MOD)


_r6 = stable_round6  # engine-stable 6-dp rounding (functions.exact)


def _doc_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_shingles, n_overlap) for every training doc."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    sh = docs.select(
        "doc_id",
        F.explode(
            hashing.word_shingles(F.col("text"), DECONTAM_N)
        ).alias("k"),
    )
    evals = (
        sh.where(F.col("doc_id") % EVAL_MOD == 0)
        .select("k")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    train = sh.where(F.col("doc_id") % EVAL_MOD != 0)
    return (
        train.join(F.broadcast(evals), "k", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("_hit").alias("n_overlap"),
        )
    )


@query(
    "text_decontaminate",
    oracle=f"""
    WITH {_SQL_BASE}
    SELECT doc_id, n_shingles, n_overlap,
           CAST(n_overlap > 0 AS BOOLEAN) AS contaminated,
           {sql_stable_round6("n_overlap / CAST(n_shingles AS DOUBLE)")}
             AS overlap_frac
    FROM overlap
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-training-document benchmark contamination: how many of the
    doc's distinct word-5-grams appear anywhere in the held-out set,
    and the contaminated verdict a filter step would consume. Eval
    docs themselves are excluded from the output (they are the
    benchmark, not candidates).

    Plan: eval shingles are broadcast (benchmarks are MBs at any
    corpus scale); training shingles are exploded row-locally; the
    only shuffle is the final doc_id-keyed count — scales linearly in
    corpus size. The 0-overlap docs stay via the left join, so the
    output is a TOTAL verdict over the training corpus."""
    d = _doc_overlap(spark, sf_dir)
    return d.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        (F.col("n_overlap") > 0).alias("contaminated"),
        _r6(F.col("n_overlap") / F.col("n_shingles")).alias("overlap_frac"),
    )


@query(
    "text_decontaminate_by_source",
    oracle=f"""
    WITH {_SQL_BASE}
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN o.n_overlap > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           {sql_stable_round6(
               "SUM(CASE WHEN o.n_overlap > 0 THEN 1 ELSE 0 END)"
               " / CAST(COUNT(*) AS DOUBLE)"
           )} AS contaminated_frac
    FROM overlap o JOIN documents d ON d.doc_id = o.doc_id
    GROUP BY d.source
    """,
)
def text_decontaminate_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Contamination rate per corpus source — the triage view that
    decides which crawls/dumps need source-level exclusion rather
    than per-doc filtering. Joins the per-doc verdict back to the
    (broadcastable) doc→source map and aggregates; adds one tiny
    shuffle on ``source`` over one row per doc."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    d = _doc_overlap(spark, sf_dir).join(docs, "doc_id")
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.when(F.col("n_overlap") > 0, 1).otherwise(0)
        ).alias("n_contaminated"),
        _r6(
            F.sum(F.when(F.col("n_overlap") > 0, 1).otherwise(0))
            / F.count("*")
        ).alias("contaminated_frac"),
    )
