"""In-engine NB classifier training gates (VERDICT r10 #1).

Two pins the parity harness can't provide:

1. SEPARATION — trained keep-rates must separate planted quality
   classes on a corpus the trainer has never seen the shape of
   (high-quality stopword-rich English vs long-word gibberish).
2. POISON — a warm `text_classifier_score_trained` call must read
   ONLY the persisted weight table: corrupting weights.parquet after
   the build must flip every verdict, proving nothing retrains.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from kafkatoclickhouse_spark.operators import classifier


GOOD_TEXT = (
    "the quick brown fox jumps over the lazy dog and then it runs "
    "back to the old barn where all of his friends wait for him "
    "with food and water because they are kind and they share what "
    "they have with each other every single day of the long year "
    "while the sun shines down on the green field near the river"
)
# fails gopher twice over: mean word length > 10 and zero stopwords
BAD_TEXT = " ".join(["zqxjkwvbnmplqrtsdfghyu"] * 60)


@pytest.fixture(scope="module")
def planted_dir(spark, tmp_path_factory):
    """A documents fixture with two planted quality classes, written
    in the standard table layout so load_table/table_fingerprint
    work unchanged. The module's classifier artifacts build under a
    temp index root, not the repo's default one."""
    d = str(tmp_path_factory.mktemp("clf") )
    rows = []
    for i in range(40):
        # vary the good docs slightly so buckets aren't one document
        extra = ["apple", "river", "stone", "cloud"][i % 4]
        rows.append((i, GOOD_TEXT + " " + extra, "en", "good", 0))
    for i in range(40, 80):
        rows.append((i, BAD_TEXT, "xx", "bad", 0))
    df = spark.createDataFrame(
        rows, schema="doc_id long, text string, lang string, "
                     "source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv(
            "SPARK_GRAFT_INDEX_DIR", str(tmp_path_factory.mktemp("clf_index"))
        )
        yield d


def test_trained_keep_rate_separates_planted_classes(spark, planted_dir):
    scored = classifier.text_classifier_score_trained(
        spark, planted_dir
    )
    docs = spark.read.parquet(
        os.path.join(planted_dir, "documents.parquet")
    ).select("doc_id", "source")
    rates = {
        r["source"]: (r["kept"], r["n"])
        for r in scored.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.sum(F.col("keep").cast("long")).alias("kept"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    good_rate = rates["good"][0] / rates["good"][1]
    bad_rate = rates["bad"][0] / rates["bad"][1]
    assert good_rate >= 0.9, rates
    assert bad_rate <= 0.1, rates


def test_trained_weights_signs_follow_classes(spark, planted_dir):
    """Buckets fed exclusively by good-class tokens must carry
    positive LLR weights; gibberish-only buckets negative ones."""
    w = classifier.text_classifier_train(spark, planted_dir)
    only_keep = w.filter((F.col("c_keep") > 0) & (F.col("c_drop") == 0))
    only_drop = w.filter((F.col("c_drop") > 0) & (F.col("c_keep") == 0))
    assert only_keep.count() > 0 and only_drop.count() > 0
    assert only_keep.filter(F.col("weight_micro") <= 0).count() == 0
    assert only_drop.filter(F.col("weight_micro") >= 0).count() == 0


def test_serve_reads_only_persisted_weights(spark, planted_dir):
    """Poison the persisted weight table; a warm serve call must
    reflect the poisoned weights (i.e. it did NOT retrain)."""
    path = classifier.text_classifier_index_build(spark, planted_dir)
    kept_before = (
        classifier.text_classifier_score_trained(spark, planted_dir)
        .filter("keep")
        .count()
    )
    assert kept_before > 0

    poisoned = spark.read.parquet(
        os.path.join(path, "weights.parquet")
    ).select(
        "bucket",
        "c_keep",
        "c_drop",
        F.lit(-10_000_000).cast("long").alias("weight_micro"),
    )
    poisoned.write.mode("overwrite").parquet(
        os.path.join(path, "weights_poison.parquet")
    )
    spark.read.parquet(
        os.path.join(path, "weights_poison.parquet")
    ).write.mode("overwrite").parquet(
        os.path.join(path, "weights.parquet")
    )
    # keep the meta marker valid so the build short-circuits (warm)
    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    kept_after = (
        classifier.text_classifier_score_trained(spark, planted_dir)
        .filter("keep")
        .count()
    )
    assert kept_after == 0, (
        "serve path retrained instead of reading the persisted table"
    )
    # repair: force a rebuild for any later test using this fixture
    os.remove(os.path.join(path, "meta.json"))
    rebuilt = classifier.text_classifier_index_build(
        spark, planted_dir, force=True
    )
    assert rebuilt == path and meta["buckets"] == classifier.CLF_BUCKETS
