"""Session factory: the whole-stage codegen class cache holds the
registry's working set, so a warm re-run of a query compiles nothing."""

from __future__ import annotations

from kafkatoclickhouse_spark import registry

WARM_QUERIES = (
    # one query per perfbench batch_queries family
    "q1_pricing_summary",
    "dedup_ngram_jaccard",
    "text_bm25_topk",
    "corpus_source_overlap",
    "text_bpe_encode_ids",
    "multimodal_decode_png_stats",
    # AQE ran their query stages in a different order from run to run;
    # with the stage id in the class name they recompiled on re-runs
    "agg_bloom_prefilter_join",
    "agg_hll_mergeable",
    "q2_min_cost_supplier",
)


def test_warm_rerun_compiles_nothing(spark, sf_dir):
    """Build each query and run it through the ``noop`` sink, twice.
    Janino's compile counter must not move during the second run:
    every class the first run generated is still cached under the
    same name. The first run compiles more classes than Spark's
    default cache of 100 entries holds, so at that size the second
    run evicts and recompiles many of them."""
    counter = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = counter.METRIC_COMPILATION_TIME().getCount

    def run_all():
        for q in WARM_QUERIES:
            df = registry.QUERIES[q](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()

    first = compiles()
    run_all()
    before = compiles()
    run_all()
    assert compiles() == before, (before - first, compiles() - before)
