"""Streaming-topology throughput bench: the reference-parity R1→R7
pipeline (source → parse → validate → per-key count window → retry
sink) drained end-to-end with an availableNow trigger.

The reference publishes no throughput numbers (BASELINE.md), so this
records OUR side of the comparison: sustained rows/sec through the
full streaming topology (``job.start``) — source decode, JSON parse,
dirty-split, the stateful count window (``count_window_jvm``, run
inside foreachBatch), sink projection and the retry wrapper — not a
bare source-to-noop pass.

Usage: python tools/stream_bench.py [sf_dir] [window_size]
Prints ONE JSON line:
  {"metric": "stream_ingest_rows_per_sec", "value": N,
   "rows": R, "wall_sec": W, "window_size": K, "sf": ...}

``--breakdown`` additionally drains ABLATED topologies so cost
attributes to stages by differencing: source → sink alone; + JSON
parse/validate. The headline drain above adds the count window and
its retrying sink.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from kafkatoclickhouse_spark import config as cfgmod  # noqa: E402
from kafkatoclickhouse_spark.operators import ingest  # noqa: E402
from kafkatoclickhouse_spark.session import get_spark  # noqa: E402
from kafkatoclickhouse_spark.streaming import job, sink, source  # noqa: E402
from kafkatoclickhouse_spark.tables import load_table  # noqa: E402


def breakdown(spark, feed: str, n_rows: int, work: str, window_size: int):
    """rows/sec for each ablated topology (warm + timed drain each;
    fresh checkpoint per drain). Differences between consecutive
    stages attribute the cost."""
    from kafkatoclickhouse_spark.streaming import pipeline

    def variant(name, transform):
        """warm drain + median of 3 timed drains (single drains were
        ±20% on this box — the median keeps round-over-round
        attribution honest)."""
        import statistics

        walls = []
        for rnd in ("warm", "t0", "t1", "t2"):
            ckpt = os.path.join(work, f"bk_{name}_{rnd}_ckpt")
            out = os.path.join(work, f"bk_{name}_{rnd}_out")
            raw = source.file_raw_stream(spark, feed)
            t0 = time.perf_counter()
            q = (
                transform(raw)
                .writeStream.foreachBatch(
                    sink.foreach_batch_writer(sink.parquet_writer(out))
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(600)
            if rnd != "warm":
                walls.append(time.perf_counter() - t0)
        return round(n_rows / statistics.median(walls), 1)

    def parse_only(raw):
        clean, _ = pipeline.streaming_ingest(raw)
        return clean

    return {
        "source_sink": variant("src", lambda raw: raw),
        "parse_validate": variant("parse", parse_only),
    }


def curate_breakdown(spark, sf_dir: str, work: str, window_size: int):
    """Per-stage throughput of the CURATION topology (VERDICT r12
    #7): the documents feed drained through progressively more of
    the curation chain — none (the bare per-source count window),
    + classifier gate, + decontamination, + the dedup horizon —
    each warm + median-of-3 timed drains, so differencing attributes
    cost per stage. Also reports the dedup state size from the last
    progress event's stateOperators (the state-growth signal a
    production run watches)."""
    import statistics

    from pyspark.sql import functions as F

    from kafkatoclickhouse_spark.functions import hashing
    from kafkatoclickhouse_spark.operators import decontam as bd
    from kafkatoclickhouse_spark.streaming import curation
    from kafkatoclickhouse_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "ingest_ts",
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id")),
    )
    feed = os.path.join(work, "docs_feed")
    docs.write.parquet(os.path.join(feed, "documents.parquet"))
    n_docs = docs.count()
    eval_shingles = (
        docs.where(F.col("doc_id") % bd.EVAL_MOD == 0)
        .select(
            F.explode(
                hashing.word_shingles(F.col("text"), bd.DECONTAM_N)
            ).alias("shingle")
        )
        .distinct()
        .localCheckpoint()
    )
    schema = spark.read.parquet(
        os.path.join(feed, "documents.parquet")
    ).schema

    state_rows = {}

    def variant(name: str, stages: tuple[str, ...]):
        walls = []
        for rnd in ("warm", "t0", "t1", "t2"):
            ckpt = os.path.join(work, f"cur_{name}_{rnd}_ckpt")
            out = os.path.join(work, f"cur_{name}_{rnd}_out")
            stream = spark.readStream.schema(schema).parquet(
                os.path.join(feed, "documents.parquet")
            )
            t0 = time.perf_counter()
            q = curation.start_curation(
                spark,
                sf_dir,
                stream,
                write_fn=sink.parquet_writer(out),
                checkpoint_dir=ckpt,
                stages=stages,
                eval_shingles=(
                    eval_shingles if "decontam" in stages else None
                ),
                ts_col="ingest_ts" if "dedup" in stages else None,
                window_size=window_size,
                available_now=True,
            )
            q.awaitTermination(600)
            if rnd == "t2":
                prog = q.lastProgress
                ops = (prog or {}).get("stateOperators") or []
                state_rows[name] = sum(
                    int(o.get("numRowsTotal", 0)) for o in ops
                )
            if rnd != "warm":
                walls.append(time.perf_counter() - t0)
        return round(n_docs / statistics.median(walls), 1)

    out = {
        "window_only": variant("plain", ()),
        "score": variant("score", ("score",)),
        "score_decontam": variant("sd", ("score", "decontam")),
        "full_curation": variant(
            "full", ("score", "decontam", "dedup")
        ),
    }
    # Bloom precision, measured batch-side on the same feed/eval set
    # (VERDICT r13 #6: "false-positive rate surfaced"): candidates
    # paid an exact probe; the excess over contaminated is the FP
    # overhead the bit mask did not prune.
    from kafkatoclickhouse_spark.streaming.decontam import (
        streaming_decontaminate_bloom,
    )

    flags = streaming_decontaminate_bloom(docs, eval_shingles)
    bl = flags.agg(
        F.sum(F.col("bloom_candidate").cast("long")).alias("cand"),
        F.sum(F.col("contaminated").cast("long")).alias("cont"),
    ).collect()[0]
    return {
        "rows_per_sec": out,
        "n_docs": n_docs,
        "state_rows_last_batch": state_rows,
        "bloom": {
            "candidates": int(bl["cand"]),
            "contaminated": int(bl["cont"]),
            "false_positives": int(bl["cand"]) - int(bl["cont"]),
        },
    }


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    window_size = int(args[1]) if len(args) > 1 else 20
    sf = float(
        os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or 0.1
    )
    spark = get_spark("stream_bench")
    work = tempfile.mkdtemp(prefix="stream_bench_")
    try:
        feed = os.path.join(work, "feed")
        events = load_table(spark, sf_dir, "events")
        ingest.events_as_raw_json(events).write.parquet(feed)
        n_rows = spark.read.parquet(feed).count()

        props = cfgmod.load_properties("configs/example.properties")
        cfg = cfgmod.PipelineConfig.from_properties(props)
        cfg.window_size = window_size
        cfg.checkpoint_dir = os.path.join(work, "ckpt")
        out_dir = os.path.join(work, "landed")

        # warm the JVM/codegen on a tiny prefix drain, then time a
        # fresh full drain from a clean checkpoint.
        for rnd in ("warm", "timed"):
            shutil.rmtree(cfg.checkpoint_dir, ignore_errors=True)
            shutil.rmtree(out_dir, ignore_errors=True)
            raw = source.file_raw_stream(spark, feed)
            t0 = time.perf_counter()
            q = job.start(
                spark,
                cfg,
                write_fn=sink.parquet_writer(out_dir),
                raw=raw,
                available_now=True,
            )
            q.awaitTermination(600)
            wall = time.perf_counter() - t0
        landed = spark.read.parquet(out_dir).count()
        payload = {
            "metric": "stream_ingest_rows_per_sec",
            "value": round(n_rows / wall, 1),
            "unit": "rows/sec",
            "rows": n_rows,
            "landed_rows": landed,
            "wall_sec": round(wall, 3),
            "window_size": window_size,
            "sf": sf,
        }
        if "--breakdown" in sys.argv:
            payload["breakdown_rows_per_sec"] = breakdown(
                spark, feed, n_rows, work, window_size
            )
        if "--curate" in sys.argv:
            payload["curation"] = curate_breakdown(
                spark, sf_dir, work, window_size
            )
        print(json.dumps(payload))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
