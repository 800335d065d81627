"""The ``stream_trickle`` workload, run through ``streaming.job.start``.

A closed loop with one small file in flight over a preloaded carried
state many times larger than one batch; fixed per-batch costs (trigger
bookkeeping, snapshot load and commit, the per-batch job, sink commit)
dominate.  Keys come in rounds of every key once, two batches a
round, so no key idles longer than four batches: far below the 60 s
partial-window timeout even when a busy host makes batches slow.  The
preload leaves window lengths spread evenly, so windows close at an
even rate and the state stays stationary.
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow.parquet as pq

from check import check_landed, read_landed
from feedgen import FeedGenerator
from layers import JobStats, Stopwatch, Timed, tree_cpu_s
from result import Result

WINDOW = 20
GROUP = "perfbench"

# at least TRICKLE_MIN_BATCHES measured batches, so the median
# latency has enough samples on a slow box
TRICKLE_KEYS = 2_000
TRICKLE_ROWS, TRICKLE_WARM = 1_000, 5
TRICKLE_MIN_BATCHES = 7


class StreamRun:
    """One query started with ``job.start`` over a feed directory,
    landing through the parquet sink under ``work/name``."""

    def __init__(self, work: str, name: str):
        base = os.path.join(work, name)
        self.feed_dir = os.path.join(base, "feed")
        self.ckpt = os.path.join(base, "checkpoint")
        self.out = os.path.join(base, "landed")
        self.query = None

    def start(self, spark):
        from kafkatoclickhouse_spark.config import PipelineConfig
        from kafkatoclickhouse_spark.streaming import job, sink, source

        # source.file_raw_stream (the Kafka double) plus one option:
        # one feed file per micro-batch
        raw = (
            spark.readStream.schema(source.RAW_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.feed_dir)
        )
        cfg = PipelineConfig(
            kafka_group_id=GROUP, window_size=WINDOW, checkpoint_dir=self.ckpt
        )
        self.query = job.start(
            spark,
            cfg,
            write_fn=sink.parquet_writer(self.out),
            raw=raw,
        )
        return self.query

    def data_progress(self) -> list[dict]:
        return [p for p in self.query.recentProgress if p["numInputRows"] > 0]

    def check(self, feed, result: Result, label: str) -> dict[str, int]:
        problems, counts = check_landed(
            read_landed(self.out), feed, WINDOW, GROUP
        )
        for p in problems:
            result.problem(f"{label}: {p}")
        return counts


class StreamLayers:
    """The stream layer probes; ``mark`` starts the measured phase."""

    def __init__(self, spark) -> None:
        from kafkatoclickhouse_spark.streaming import count_window_jvm, sink

        self.stats = JobStats(spark)
        self.apply = Timed(count_window_jvm, "apply_count_window_batch")
        self.write = Timed(sink, "write_with_retry")
        self.jobs_before: set[int] = set()
        self.calls_before = (0, 0)

    def restore(self) -> None:
        self.apply.restore()
        self.write.restore()

    def mark(self) -> None:
        self.jobs_before = set(self.stats.all_job_ids())
        self.calls_before = (len(self.apply.calls), len(self.write.calls))

    def sink_counts(self) -> tuple[int, int]:
        """(sink writes, sink attempts) in the measured phase."""
        attempts = self.write.results[self.calls_before[1]:]
        return len(attempts), sum(attempts)

    def measured_jobs(self):
        return self.stats.totals(
            sorted(set(self.stats.all_job_ids()) - self.jobs_before)
        )

    def report(self, result: Result, progress: list[dict], state_dir: str):
        def med_ms(*keys):
            return statistics.median(
                sum(p["durationMs"].get(k, 0) for k in keys) / 1000
                for p in progress
            )

        n = len(progress)
        writes, attempts = self.sink_counts()
        totals = self.measured_jobs()
        rows, nbytes = snapshot_size(state_dir)
        result.layer("trigger.offsets_s", med_ms("latestOffset", "getBatch"))
        result.layer("trigger.planning_s", med_ms("queryPlanning"))
        result.layer("trigger.commit_s", med_ms("walCommit", "commitOffsets"))
        result.layer("trigger.add_batch_s", med_ms("addBatch"))
        result.layer(
            "window.apply_s",
            statistics.median(self.apply.calls[self.calls_before[0]:]),
        )
        result.layer(
            "sink.write_s",
            statistics.median(self.write.calls[self.calls_before[1]:]),
        )
        result.layer("sink.attempts", attempts / writes)
        result.layer("state.rows", rows)
        result.layer("state.bytes", nbytes)
        result.layer("spark.executor_cpu_s_per_op", totals.cpu_s / n)
        result.layer("spark.jobs_per_op", totals.jobs / n)
        result.layer("spark.shuffle_bytes_per_op", totals.shuffle_bytes / n)


def snapshot_size(state_dir: str) -> tuple[int, int]:
    """(carried rows, bytes) of the newest committed window-state
    snapshot: its tail and counter rows, and all its files."""
    snaps = [
        int(d[1:])
        for d in os.listdir(state_dir)
        if d.startswith("s") and os.path.exists(os.path.join(state_dir, d, "_OK"))
    ]
    snap = os.path.join(state_dir, f"s{max(snaps)}")
    rows = nbytes = 0
    for dirpath, _dirs, files in os.walk(snap):
        for f in files:
            path = os.path.join(dirpath, f)
            nbytes += os.path.getsize(path)
            if f.endswith(".parquet") and "_part=fired" not in dirpath:
                rows += pq.ParquetFile(path).metadata.num_rows
    return rows, nbytes


def _account(result: Result, progress, layers: StreamLayers) -> None:
    """Operations: micro-batches and sink attempts; a retried sink
    write counts its failed attempts."""
    writes, attempts = layers.sink_counts()
    result.attempt(len(progress) + attempts, attempts - writes)


def trickle(spark, seed: int, seconds: float, trace: bool, work: str,
            result: Result) -> None:
    gen = FeedGenerator(seed, TRICKLE_KEYS)
    run = StreamRun(work, "trickle")
    gen_s = gen_cpu_s = 0.0

    def next_file(make) -> None:
        nonlocal gen_s, gen_cpu_s
        t, c = time.perf_counter(), time.process_time()
        gen.write(make(), run.feed_dir)
        gen_s += time.perf_counter() - t
        gen_cpu_s += time.process_time() - c

    def batch():
        return gen.records(TRICKLE_ROWS)

    layers = StreamLayers(spark)
    try:
        next_file(lambda: gen.preload(WINDOW))
        sw, gen_before = Stopwatch(), gen_s
        q = run.start(spark)
        q.processAllAvailable()
        for _ in range(TRICKLE_WARM):
            next_file(batch)
            q.processAllAvailable()
        result.setup(sw, gen_s - gen_before)

        layers.mark()
        first_batch = max(p["batchId"] for p in run.data_progress()) + 1
        lat, wall = [], []
        t_measure, cpu, gen_cpu = time.perf_counter(), tree_cpu_s(), gen_cpu_s
        while (
            len(lat) < TRICKLE_MIN_BATCHES
            or time.perf_counter() - t_measure < seconds
        ):
            next_file(batch)
            sw = Stopwatch()
            q.processAllAvailable()
            lat.append(sw.time_s())
            wall.append(sw.wall_s())
        # the generator runs in this process: its CPU is not the program's
        cpu = tree_cpu_s() - cpu - (gen_cpu_s - gen_cpu)
        progress = [p for p in run.data_progress() if p["batchId"] >= first_batch]
        q.stop()
        result.note("gen_s", gen_s)
        if len(progress) != len(lat):
            result.problem(f"{len(lat)} files made {len(progress)} micro-batches")
        _account(result, progress, layers)
        result.metric("op_s", statistics.median(lat))
        result.metric("cpu_s_per_op", cpu / len(lat))
        result.note("latencies_s", [round(x, 3) for x in lat])
        result.note("wall_latencies_s", [round(x, 3) for x in wall])
        counts = run.check(gen.feed, result, "trickle")
        result.note("landed_rows", counts["landed"])
        if counts["timeout_rows"]:
            result.problem(
                f"{counts['timeout_rows']} rows were flushed by the timeout"
            )
        if trace:
            layers.report(
                result, progress, os.path.join(run.ckpt, "jvm_window_state")
            )
    finally:
        if run.query is not None and run.query.isActive:
            run.query.stop()
        layers.restore()
