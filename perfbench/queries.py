"""The ``batch_queries`` workload: registered query builders, one at
a time, over seeded tables.

One query per family, chosen so that a cold pass, a check pass and
two measured passes fit in one run.  The cold pass
runs each query once through the ``noop`` sink, as the measured
passes do, and counts as set-up: it pays the session's first use of
every code path and the persisted-artifact builds.  The check pass
then compares each result with its DuckDB twin
(``oracle.compare_query``); it is not timed and also warms the JIT.
Measured passes build each query and run it through the ``noop``
sink, each under its own Spark job group.
"""

from __future__ import annotations

import os
import statistics
import time

import tablegen
from layers import JobStats, Stopwatch, tree_cpu_s
from result import Result

FAMILIES = {
    "relational": "q1_pricing_summary",
    "dedup": "dedup_ngram_jaccard",
    "search": "text_bm25_topk",
    "text": "corpus_source_overlap",
    "tokenize": "text_bpe_encode_ids",
    "decode": "multimodal_decode_png_stats",
}
QUERIES = tuple(FAMILIES.values())
# at least two whole measured passes: JIT still speeds up the second
# pass, so runs of one pass and of two would not be comparable
MIN_PASSES = 2


def record(result: Result, q: str, problems: list[str]) -> None:
    """One checked query: a query that disagrees with its twin is a
    failed operation."""
    for p in problems:
        result.problem(f"{q}: {p}")
    result.attempt(1, 1 if problems else 0)


def run(spark, seed: int, seconds: float, trace: bool, work: str,
        result: Result) -> None:
    from kafkatoclickhouse_spark import oracle, registry

    registry.load_all()
    data = os.path.join(work, "tables")
    t = time.perf_counter()
    rows = tablegen.generate(data, seed)
    result.note("gen_s", time.perf_counter() - t)
    result.note("table_rows", rows)
    sc = spark.sparkContext
    stats = JobStats(spark)

    def noop(q: str, group: str) -> tuple[float, float, float]:
        """Build ``q`` and run it through the noop sink; return the
        build time, the whole time and the whole wall time."""
        sc.setJobGroup(group, q)
        sw = Stopwatch()
        df = registry.QUERIES[q](spark, data)
        build_s = sw.time_s()
        df.write.format("noop").mode("overwrite").save()
        result.attempt(1, 0)
        return build_s, sw.time_s(), sw.wall_s()

    sw = Stopwatch()
    for q in QUERIES:
        noop(q, f"cold:{q}")
    result.setup(sw)

    con = oracle.duckdb_connect(data)
    try:
        for q in QUERIES:
            sc.setJobGroup(f"check:{q}", q)
            record(result, q, oracle.compare_query(spark, con, q, data))
    finally:
        con.close()

    times = {q: [] for q in QUERIES}
    builds = {q: [] for q in QUERIES}
    cpus = {q: [] for q in QUERIES}
    walls = {q: [] for q in QUERIES}
    passes = 0
    t_measure = time.perf_counter()
    while passes < MIN_PASSES or time.perf_counter() - t_measure < seconds:
        for q in QUERIES:
            c = tree_cpu_s()
            build_s, s, wall_s = noop(q, f"{passes}:{q}")
            cpus[q].append(tree_cpu_s() - c)
            times[q].append(s)
            walls[q].append(wall_s)
            builds[q].append(build_s)
        passes += 1
    sc.setJobGroup("idle", "idle")
    result.note("passes", passes)
    result.note(
        "pass_s", [sum(times[q][p] for q in QUERIES) for p in range(passes)]
    )
    result.note(
        "pass_wall_s",
        [sum(walls[q][p] for q in QUERIES) for p in range(passes)],
    )

    per_query = {q: statistics.median(times[q]) for q in QUERIES}
    cpu = {q: statistics.median(cpus[q]) for q in QUERIES}
    result.metric("op_s", sum(per_query.values()))
    result.metric("cpu_s_per_op", sum(cpu.values()))
    result.note("family_s", {f: per_query[q] for f, q in FAMILIES.items()})
    if not trace:
        return
    first = {q: stats.totals(stats.group_job_ids(f"0:{q}")) for q in QUERIES}
    executor_cpu = {
        q: statistics.median(
            stats.totals(stats.group_job_ids(f"{p}:{q}")).cpu_s
            for p in range(passes)
        )
        for q in QUERIES
    }
    for q in QUERIES:
        result.layer(f"{q}.s", per_query[q])
        result.layer(f"{q}.build_s", statistics.median(builds[q]))
        result.layer(f"{q}.jobs", first[q].jobs)
        result.layer(f"{q}.cpu_s", cpu[q])
        result.layer(f"{q}.executor_cpu_s", executor_cpu[q])
        result.layer(f"{q}.shuffle_bytes", first[q].shuffle_bytes)
        result.layer(f"{q}.scan_rows", first[q].input_rows)
    result.layer("spark.executor_cpu_s_per_op", sum(executor_cpu.values()))
    result.layer("spark.jobs_per_op", sum(t.jobs for t in first.values()))
    result.layer(
        "spark.shuffle_bytes_per_op",
        sum(t.shuffle_bytes for t in first.values()),
    )
