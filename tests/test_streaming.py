"""Structured Streaming smoke tests (SURVEY §5: streaming paths are
unit-tested batch-first, then smoke-tested with file/memory sinks).

Strategy: write the reference-shaped raw feed (Kafka-source shape) to
a parquet dir, stream it back with availableNow, and assert the
streaming results equal the batch results of the same transforms —
one definition, two execution modes.
"""

from __future__ import annotations

import os

import cw_model
import pandas as pd
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafkatoclickhouse_spark.operators import ingest
from kafkatoclickhouse_spark.streaming import count_window_jvm as cwj
from kafkatoclickhouse_spark.streaming import pipeline, sink, source
from kafkatoclickhouse_spark.streaming import windows as sw
from kafkatoclickhouse_spark.tables import load_table


def run_stream(stream_df, name, ckpt_dir, output_mode="append"):
    """availableNow → memory sink; returns the collected batch DF."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", str(ckpt_dir))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return stream_df.sparkSession.table(name)


def test_streaming_ingest_equals_batch(spark, sf_dir, raw_feed_dir, tmp_path):
    raw = source.file_raw_stream(spark, raw_feed_dir)
    assert raw.isStreaming
    clean, _dirty = pipeline.streaming_ingest(raw)
    got = run_stream(clean, "ingest_stream", tmp_path / "ckpt")

    batch = ingest.ingest_pipeline(load_table(spark, sf_dir, "events"))
    # typed cast in ingest_pipeline is post-projection; compare on the
    # shared string-typed columns.
    cols = ["essCode", "cTime", "dayOfYear", "topicOffset"]
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, batch.select(cols).collect())
    )


def test_streaming_dedup_within_watermark(spark, raw_feed_dir, tmp_path):
    raw = source.file_raw_stream(spark, raw_feed_dir)
    clean, _ = pipeline.streaming_ingest(raw)
    clean = clean.withColumn("ts", F.to_timestamp("cTime"))
    doubled = clean.union(clean)  # every record twice
    deduped = sw.streaming_dedup(
        doubled, ("essCode", "topicOffset"), ts_col="ts"
    )
    got = run_stream(deduped, "dedup_stream", tmp_path / "ckpt")
    total = got.count()
    assert got.select("essCode", "topicOffset").distinct().count() == total
    assert total > 0


def _clean_rows(spark, feed, cols=("essCode", "topicOffset"), **kw):
    """The feed's clean rows (``cols``), parsed by the same ingest
    chain the streams run, as one static batch."""
    raw = spark.read.schema(source.RAW_SCHEMA).parquet(feed)
    clean, _ = pipeline.streaming_ingest(raw, **kw)
    return [tuple(r) for r in clean.select(*cols).collect()]


def _held_state(spark, state_dir, key="essCode", order="topicOffset"):
    """The count window's carried state in its newest committed
    snapshot, shaped like ``cw_model.count_window``'s: per key, (next
    window id, tail ``order`` values in buffer order)."""
    last = max(
        int(d[1:])
        for d in os.listdir(state_dir)
        if os.path.exists(os.path.join(state_dir, d, "_OK"))
    )
    rows = spark.read.parquet(
        os.path.join(state_dir, f"s{last}", "rows")
    ).collect()
    held = {r[key]: (r["window_id"], []) for r in rows if r["_part"] == "ctr"}
    tail = sorted(
        (r for r in rows if r["_part"] == "tail"),
        key=lambda r: (r[key], r["window_pos"]),
    )
    for r in tail:
        held[r[key]][1].append(r[order])
    return held


WINDOW_COLS = [
    "essCode", "topicOffset", "window_id", "window_pos", "flush_reason"
]


def test_streaming_count_window(spark, raw_feed_dir, tmp_path):
    """Count-fired windows have exactly N rows with positions 0..N-1;
    with the timeout disabled (``timeout_ms=None``) no partial can
    flush, so every emitted window is full and the held-back tails
    are exactly input − emitted (the reference's count-only trigger
    semantics). The emitted rows and the carried state equal the
    model of the reference window on the same feed."""
    n = 20
    raw = source.file_raw_stream(spark, raw_feed_dir)
    clean, _ = pipeline.streaming_ingest(raw)
    out = str(tmp_path / "cw_out")
    ckpt = str(tmp_path / "ckpt")
    q = cwj.run_count_window_jvm(
        clean,
        write_fn=sink.parquet_writer(out),
        checkpoint_dir=ckpt,
        n=n,
        available_now=True,
        timeout_ms=None,
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out).cache()

    sizes = got.groupBy("essCode", "window_id").count().collect()
    assert sizes, "no windows fired"
    for r in sizes:
        assert r["count"] == n, f"window {r} not full-size"
    pos_ok = got.groupBy("essCode", "window_id").agg(
        F.min("window_pos").alias("lo"), F.max("window_pos").alias("hi")
    )
    for r in pos_ok.collect():
        assert (r["lo"], r["hi"]) == (0, n - 1)
    assert got.filter(F.col("flush_reason") != "count").count() == 0
    # held-back partial tails: input − emitted = sum of per-key remainders
    emitted = got.count()
    total = spark.read.parquet(raw_feed_dir).count()
    assert total - emitted == sum(
        (c % n)
        for c in (
            r["count"]
            for r in spark.read.parquet(raw_feed_dir)
            .selectExpr("get_json_object(value, '$.essCode') AS essCode")
            .groupBy("essCode")
            .count()
            .collect()
        )
    )
    want, held = cw_model.count_window(
        [(0, _clean_rows(spark, raw_feed_dir))], n
    )
    assert sorted(map(tuple, got.select(WINDOW_COLS).collect())) == sorted(
        want
    )
    assert _held_state(spark, os.path.join(ckpt, "jvm_window_state")) == held


def test_streaming_tumbling_window_agg(spark, sf_dir, raw_feed_dir, tmp_path):
    """Event-time tumbling window + watermark under Structured
    Streaming (append mode): every finalized window must carry exactly
    the batch-mode result; windows still open at end-of-stream are
    legitimately withheld (watermark = max event time − delay)."""
    raw = source.file_raw_stream(spark, raw_feed_dir)
    clean, _ = pipeline.streaming_ingest(raw)
    clean = clean.withColumn("ts", F.to_timestamp("cTime"))
    win = sw.tumbling_counts(clean, "ts", "1 hour", keys=("essCode",))
    got = run_stream(win, "win_stream", tmp_path / "ckpt")

    batch_src = ingest.ingest_pipeline(
        load_table(spark, sf_dir, "events")
    ).withColumn("ts", F.to_timestamp("cTime"))
    expect = {
        (r["window_start"], r["essCode"]): r["n_events"]
        for r in sw.tumbling_counts(
            batch_src, "ts", "1 hour", keys=("essCode",)
        ).collect()
    }
    rows = got.collect()
    assert rows, "no windows finalized"
    for r in rows:
        key = (r["window_start"], r["essCode"])
        assert expect.get(key) == r["n_events"], key


def test_streaming_interval_join_equals_batch(spark, sf_dir, tmp_path):
    """Watermarked stream-stream interval join (click→purchase
    attribution): the streaming result over a file feed must equal
    the oracle-checked batch twin ``interval_join_events`` on the
    same data. Inner join + availableNow finalizes every pair, so
    equality is exact, not subset."""
    from kafkatoclickhouse_spark import registry
    from kafkatoclickhouse_spark.streaming import joins as sj

    events = load_table(spark, sf_dir, "events")
    feed = str(tmp_path / "events_feed")
    events.write.parquet(feed)
    stream = spark.readStream.schema(events.schema).parquet(feed)
    clicks, purchases = sj.split_clicks_purchases(stream)
    joined = sj.click_purchase_attribution(clicks, purchases)
    assert joined.isStreaming
    got = run_stream(joined, "sj_stream", tmp_path / "sj_ckpt")

    batch = registry.QUERIES["interval_join_events"](spark, sf_dir)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, batch.collect())
    )


# -- retry sink -------------------------------------------------------------


def test_write_with_retry_succeeds_after_transient_failures(spark):
    calls = []

    def flaky(df):
        calls.append(1)
        if len(calls) < 3:
            raise RuntimeError("transient")

    attempts = sink.write_with_retry(
        flaky, df=None, max_retries=3, sleep=lambda s: None
    )
    assert attempts == 3


def test_write_with_retry_reraises_after_exhaustion():
    def always_fail(df):
        raise RuntimeError("down")

    with pytest.raises(RuntimeError, match="down"):
        sink.write_with_retry(
            always_fail, df=None, max_retries=3, sleep=lambda s: None
        )


def test_full_job_from_properties(spark, sf_dir, raw_feed_dir, tmp_path):
    """The reference topology end-to-end from a .properties file:
    config → source → validate → count window → retry sink, with
    checkpointing — on the JVM foreachBatch count window. An
    availableNow drain terminates (JVM-path timeouts piggyback on
    data batches, no timer-driven empty batches); every count-fired
    window batch is full-size and grouped per key."""
    from kafkatoclickhouse_spark import config as cfgmod
    from kafkatoclickhouse_spark.streaming import job

    props = cfgmod.load_properties("configs/example.properties")
    cfg = cfgmod.PipelineConfig.from_properties(props)
    assert cfg.window_size == 20
    assert cfg.check_fields == ["cTime", "essCode"]
    cfg.checkpoint_dir = str(tmp_path / "ckpt")

    out_dir = str(tmp_path / "landed")
    raw = source.file_raw_stream(spark, raw_feed_dir)
    q = job.start(
        spark,
        cfg,
        write_fn=sink.parquet_writer(out_dir),
        raw=raw,
        available_now=True,
    )
    q.awaitTermination(300)
    landed = spark.read.parquet(out_dir)
    sizes = landed.groupBy("essCode", "window_id").count().collect()
    assert sizes
    # full windows only, except tails that a late micro-batch timeout
    # may have flushed (flush_reason records which)
    for r in landed.groupBy("essCode", "window_id", "flush_reason").count().collect():
        if r["flush_reason"] == "count":
            assert r["count"] == cfg.window_size


def test_full_job_engines_land_identical_windows(
    spark, sf_dir, raw_feed_dir, tmp_path
):
    """The whole job (``job.start``: config → source → validate →
    count window → retry sink) lands exactly the (key, window_id,
    window_pos, row) multiset of the model of the reference window —
    the topology-level twin of the count_window_jvm pin. Feed staged
    offset-ordered (``_jvm_feed``), one micro-batch, so no partial
    window can time out."""
    from collections import Counter

    from kafkatoclickhouse_spark import config as cfgmod
    from kafkatoclickhouse_spark.streaming import job

    cfg = cfgmod.PipelineConfig.from_properties(
        cfgmod.load_properties("configs/example.properties")
    )
    feed = _jvm_feed(spark, raw_feed_dir, str(tmp_path / "ord_feed"))
    cfg.checkpoint_dir = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "landed")
    q = job.start(
        spark,
        cfg,
        write_fn=sink.parquet_writer(out_dir),
        raw=source.file_raw_stream(spark, feed),
        available_now=True,
    )
    q.awaitTermination(300)
    landed = Counter(
        tuple(r)
        for r in spark.read.parquet(out_dir)
        .select(*WINDOW_COLS, "cTime")
        .collect()
    )
    rows = _clean_rows(
        spark,
        feed,
        cols=("essCode", "topicOffset", "cTime"),
        check_fields=tuple(cfg.check_fields),
    )
    c_time = {(k, off): t for k, off, t in rows}
    fired, _ = cw_model.count_window([(0, rows)], cfg.window_size)
    want = Counter(w + (c_time[w[:2]],) for w in fired)
    assert landed == want
    assert landed


def test_foreach_batch_parquet_roundtrip(spark, sf_dir, raw_feed_dir, tmp_path):
    """End-to-end R1→R7 shape: stream → ingest → retry-wrapped
    parquet sink via foreachBatch (the JDBC writer swaps in by
    config; the batching/retry machinery is identical)."""
    raw = source.file_raw_stream(spark, raw_feed_dir)
    clean, _ = pipeline.streaming_ingest(raw)
    out_dir = str(tmp_path / "landed")
    q = (
        clean.writeStream.foreachBatch(
            sink.foreach_batch_writer(sink.parquet_writer(out_dir))
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    landed = spark.read.parquet(out_dir)
    batch = ingest.ingest_pipeline(load_table(spark, sf_dir, "events"))
    assert landed.count() == batch.count()


def test_idempotent_writer_skips_replayed_batch(tmp_path):
    """The effectively-once contract: a batch_id already in the
    ledger is not rewritten (replay after sink-success/pre-commit
    crash); a new batch_id is."""
    calls = []
    w = sink.idempotent_foreach_batch_writer(
        lambda df: calls.append(1), str(tmp_path / "ledger")
    )
    w(None, 7)
    w(None, 7)  # replay of committed batch — must be a no-op
    w(None, 8)
    assert len(calls) == 2


def test_idempotent_writer_retries_uncommitted_batch(tmp_path):
    """A batch whose write FAILED leaves no marker — the replay must
    attempt the write again (at-least-once, not at-most-once)."""
    calls = []

    def flaky(df):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("sink down")

    w = sink.idempotent_foreach_batch_writer(
        flaky, str(tmp_path / "ledger"), max_retries=1
    )
    with pytest.raises(RuntimeError):
        w(None, 3)
    w(None, 3)  # replay after failure — must write
    assert len(calls) == 2
    w(None, 3)  # replay after success — must skip
    assert len(calls) == 2


def test_overwrite_by_batch_writer_is_replay_idempotent(
    spark, sf_dir, tmp_path
):
    """Replaying a batch into the batch_id=N partition overwrites
    identical files — total row count unchanged, no duplicates."""
    out = str(tmp_path / "landed")
    df = load_table(spark, sf_dir, "region")
    w = sink.overwrite_by_batch_parquet_writer(out)
    w(df, 0)
    w(df, 1)
    n = spark.read.parquet(out).count()
    w(df, 1)  # replay
    assert spark.read.parquet(out).count() == n == 2 * df.count()


def test_stream_static_broadcast_join(spark, sf_dir, tmp_path):
    """Stream-static join: a streaming feed enriched against a
    bounded dimension (broadcast — the dim never shuffles, no state
    needed; the static side is re-planned per micro-batch). Result
    must equal the same join in batch mode."""
    events = load_table(spark, sf_dir, "events")
    dim = (
        events.select("user_id")
        .distinct()
        .withColumn("tier", (F.col("user_id") % 3).cast("int"))
    )
    feed = str(tmp_path / "ss_feed")
    events.write.parquet(feed)
    stream = spark.readStream.schema(events.schema).parquet(feed)
    joined = stream.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "tier"
    )
    assert joined.isStreaming
    got = run_stream(joined, "ss_join", tmp_path / "ss_ckpt")

    expect = events.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "tier"
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expect.collect())
    )


def test_checkpoint_restart_resumes_exactly_once(spark, sf_dir, tmp_path):
    """Stop/restart parity (reference R9: externalized checkpoints +
    restart policy): a restarted query must resume from the offsets
    in its checkpoint — the second run processes only the files that
    arrived after the first run, and the landed output across both
    runs is the full feed exactly once."""
    from kafkatoclickhouse_spark.streaming import sink as sk

    events = load_table(spark, sf_dir, "events")
    first = events.filter(F.col("event_id") % 2 == 0)
    second = events.filter(F.col("event_id") % 2 == 1)
    feed = str(tmp_path / "feed")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    first.write.parquet(feed)

    def run_once():
        stream = spark.readStream.schema(events.schema).parquet(feed)
        q = (
            stream.writeStream.foreachBatch(
                sk.overwrite_by_batch_parquet_writer(out)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    assert spark.read.parquet(out).count() == first.count()

    second.write.mode("append").parquet(feed)
    run_once()
    landed = spark.read.parquet(out).drop("batch_id")
    assert landed.count() == events.count()
    assert sorted(map(tuple, landed.select(*events.columns).collect())) == (
        sorted(map(tuple, events.collect()))
    )


def test_watermark_drops_late_data_across_restarts(spark, sf_dir, tmp_path):
    """Watermark semantics end-to-end: after a first run advances the
    watermark to (max event time − delay), a second run over the same
    checkpoint that delivers VERY late events (hours behind the
    watermark) must not re-open finalized windows — the late rows are
    dropped, and windows already emitted are never emitted again
    (append mode emits each finalized window exactly once)."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    max_ts = events.agg(F.max("ts")).first()[0]
    cutoff = max_ts - pd.Timedelta(days=2)
    on_time = events.filter(F.col("ts") >= F.lit(cutoff))
    late = events.filter(F.col("ts") < F.lit(cutoff))  # ≥2 days late
    assert on_time.count() and late.count()

    from kafkatoclickhouse_spark.streaming import sink as sk

    feed = str(tmp_path / "wm_feed")
    out = str(tmp_path / "wm_out")
    ckpt = str(tmp_path / "wm_ckpt")
    on_time.write.parquet(feed)

    def run_once():
        stream = spark.readStream.schema(on_time.schema).parquet(feed)
        win = sw.tumbling_counts(
            stream, "ts", "1 hour", keys=("event_type",),
            watermark="10 minutes",
        )
        q = (
            win.writeStream.foreachBatch(
                sk.overwrite_by_batch_parquet_writer(out)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    r1 = spark.read.parquet(out).cache()
    first = r1.collect()
    assert first, "no windows finalized in run 1"
    run1_batches = {r["batch_id"] for r in first}

    late.write.mode("append").parquet(feed)
    run_once()
    second_rows = (
        spark.read.parquet(out)
        .filter(~F.col("batch_id").isin(*run1_batches))
        .collect()
    )
    first_windows = {(r["window_start"], r["event_type"]) for r in first}
    for r in second_rows:
        key = (r["window_start"], r["event_type"])
        assert key not in first_windows, f"window re-emitted: {key}"
        assert r["window_start"] >= cutoff - pd.Timedelta(hours=1), (
            f"late window emitted: {r}"
        )


def test_listener_sees_observed_validation_metrics(
    spark, raw_feed_dir, tmp_path
):
    """A StreamingQueryListener must receive per-batch progress with
    the observe() validation counters attached — throughput and data
    quality from the same events, zero extra jobs."""
    import time

    from kafkatoclickhouse_spark.streaming.metrics import ProgressCollector

    collector = ProgressCollector()
    spark.streams.addListener(collector)
    try:
        raw = source.file_raw_stream(spark, raw_feed_dir)
        parsed = ingest.parse_and_enrich(raw)
        clean = ingest.observed_clean(parsed)
        run_stream(clean, "obs_stream", tmp_path / "obs_ckpt")
        # listener events are delivered async; allow them to drain
        deadline = time.time() + 30
        while time.time() < deadline and not collector.observed(
            "ingest_validation"
        ):
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(collector)
    metrics = collector.observed("ingest_validation")
    assert metrics, "no observed metrics in progress events"
    total = sum(m["n_total"] for m in metrics)
    dirty = sum(m["n_dirty"] or 0 for m in metrics)
    feed_rows = spark.read.parquet(raw_feed_dir).count()
    assert total == feed_rows
    assert dirty == 0  # the fixture feed is all-clean
    assert any(n > 0 for n, _ in collector.rates())


def test_streaming_session_window_equals_batch(spark, sf_dir, tmp_path):
    """Session windows under Structured Streaming (merging-window
    state — the heaviest stateful aggregation): every session the
    stream finalizes must exist identically in the batch result, and
    most sessions must finalize (watermark at end-of-feed only holds
    back the tail)."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id"
    )
    feed = str(tmp_path / "sess_feed")
    events.write.parquet(feed)
    stream = spark.readStream.schema(events.schema).parquet(feed)
    win = sw.session_counts(stream, "ts", "30 minutes", keys=("user_id",))
    got = run_stream(win, "sess_stream", tmp_path / "sess_ckpt").collect()
    assert got, "no sessions finalized"

    batch = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in sw.session_counts(
            events, "ts", "30 minutes", keys=("user_id",)
        ).collect()
    }
    for r in got:
        key = (r["user_id"], r["session_start"], r["session_end"])
        assert batch.get(key) == r["n_events"], key
    assert len(got) > 0.5 * len(batch), (len(got), len(batch))


def test_streaming_sliding_window_equals_batch(spark, sf_dir, tmp_path):
    """Sliding windows (2h size / 1h slide — every event lands in two
    windows) under streaming: finalized windows must match batch
    exactly, same contract as the tumbling and session smokes."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    feed = str(tmp_path / "slide_feed")
    events.write.parquet(feed)
    stream = spark.readStream.schema(events.schema).parquet(feed)
    win = sw.sliding_counts(
        stream, "ts", size="2 hours", slide="1 hour", keys=("event_type",)
    )
    got = run_stream(win, "slide_stream", tmp_path / "slide_ckpt").collect()
    assert got, "no windows finalized"

    batch = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in sw.sliding_counts(
            events, "ts", size="2 hours", slide="1 hour",
            keys=("event_type",),
        ).collect()
    }
    for r in got:
        key = (r["window_start"], r["event_type"])
        assert batch.get(key) == r["n_events"], key


def test_cli_main_runs_job_from_properties(spark, raw_feed_dir, tmp_path):
    """`python -m kafkatoclickhouse_spark <props> --available-now
    --file-source --parquet-sink` — the reference's submission surface
    (`KafakToClickhouse.scala:16-22`) as a runnable module. Uses the
    in-process main() (a subprocess would rebuild the JVM); the
    foreign-session path is covered by test_foreign_session."""
    import kafkatoclickhouse_spark.__main__ as cli

    props = tmp_path / "job.properties"
    props.write_text(
        "kafka.topic=unused\n"
        "window.size=20\n"
        "check.field=cTime,essCode\n"
        f"checkpoint.path={tmp_path / 'ckpt'}\n",
        encoding="utf-8",
    )
    out_dir = str(tmp_path / "landed")
    rc = cli.main(
        [
            str(props),
            "--available-now",
            "--no-catalog",
            "--file-source",
            raw_feed_dir,
            "--parquet-sink",
            out_dir,
        ]
    )
    assert rc == 0
    landed = spark.read.parquet(out_dir)
    assert landed.count() > 0
    assert "essCode" in landed.columns and "window_id" in landed.columns


def test_rate_source_feeds_pipeline(spark, tmp_path):
    """SURVEY §2.2 claims the `rate` source for tests — prove it: a
    rate-micro-batch stream (deterministic rows per batch) rendered
    into the Kafka-feed shape drives the streaming ingest path."""
    raw = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", "50")
        .option("numPartitions", "4")
        .option("startTimestamp", "0")
        .load()
        .select(
            F.to_json(
                F.struct(
                    F.col("value").cast("string").alias("essCode"),
                    F.date_format(
                        "timestamp", "yyyy-MM-dd HH:mm:ss"
                    ).alias("cTime"),
                    F.lit("1.5").alias("power"),
                    F.lit("7").alias("soc"),
                )
            ).alias("value"),
            F.lit("rate").alias("topic"),
            F.lit(0).alias("partition"),
            F.col("value").alias("offset"),
        )
    )
    clean, _dirty = pipeline.streaming_ingest(raw)
    q = (
        clean.writeStream.format("memory")
        .queryName("rate_ingest")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("rate_ingest")
    assert out.count() == 50
    assert {"essCode", "cTime", "power", "soc"} <= set(out.columns)


def test_streaming_left_outer_interval_join(spark, sf_dir, tmp_path):
    """LEFT OUTER stream-stream interval join: matched rows must
    equal the inner join exactly; unmatched clicks appear with NULL
    purchase columns; and every click is accounted for at most once
    per matching purchase. Outer-NULL emission requires watermark
    advancement past click_ts + horizon — the availableNow drain
    processes the whole bounded feed, so the final watermark releases
    all decidable clicks."""
    from kafkatoclickhouse_spark.streaming import joins as sj

    ev_path = tmp_path / "events_feed"
    events = load_table(spark, sf_dir, "events")
    events.write.parquet(str(ev_path))
    stream = spark.readStream.schema(events.schema).parquet(str(ev_path))
    clicks, purchases = sj.split_clicks_purchases(stream)
    joined = sj.click_purchase_attribution_outer(clicks, purchases)
    out = run_stream(joined, "outer_ij", tmp_path / "ckpt")

    bc, bp = sj.split_clicks_purchases(events)
    inner = sj.click_purchase_attribution(bc, bp)
    n_inner = inner.count()
    got_matched = out.filter(F.col("purchase_id").isNotNull())
    assert got_matched.count() == n_inner
    assert got_matched.select(
        "click_id", "user_id", "purchase_id", "purchase_value"
    ).exceptAll(
        inner.select("click_id", "user_id", "purchase_id", "purchase_value")
    ).count() == 0
    # outer rows: clicks with no purchase in the horizon, NULL-padded.
    # (Clicks too near the feed's end may be withheld — watermark
    # cannot yet prove them unmatched — so compare as a subset.)
    unmatched = out.filter(F.col("purchase_id").isNull())
    matched_click_rows = {
        r["click_id"] for r in inner.select("click_id").distinct().collect()
    }
    for r in unmatched.collect():
        assert r["click_id"] not in matched_click_rows
        assert r["purchase_value"] is None
    assert unmatched.count() > 0


def test_streaming_decontaminate_matches_batch(spark, sf_dir, tmp_path):
    """The streaming decontamination flag must agree doc-for-doc with
    the batch operator's verdict (n_overlap > 0) on the training
    docs — the stream is a stateless pass-through, so any
    disagreement means the broadcast set or the shingling drifted
    from the batch path."""
    from kafkatoclickhouse_spark.functions import hashing
    from kafkatoclickhouse_spark.operators import decontam as bd
    from kafkatoclickhouse_spark.streaming.decontam import (
        streaming_decontaminate,
    )

    docs = load_table(spark, sf_dir, "documents")
    feed = tmp_path / "docs_feed"
    docs.write.parquet(str(feed))
    # inject a NULL-text doc: batch explode drops it entirely, so the
    # stream must emit it with a TOTAL contaminated=false flag, never
    # NULL (ADVICE r6).
    null_id = -12345
    docs.limit(1).withColumn("doc_id", F.lit(null_id)).withColumn(
        "text", F.lit(None).cast("string")
    ).write.mode("append").parquet(str(feed))
    stream = spark.readStream.schema(docs.schema).parquet(str(feed))
    assert stream.isStreaming

    evals = (
        docs.where(F.col("doc_id") % bd.EVAL_MOD == 0)
        .select(
            F.explode(
                hashing.word_shingles(F.col("text"), bd.DECONTAM_N)
            ).alias("shingle")
        )
        .distinct()
    )
    flagged = streaming_decontaminate(stream, evals)
    q = (
        flagged.writeStream.format("memory")
        .queryName("decontam_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r["doc_id"]: r["contaminated"]
        for r in spark.table("decontam_stream").collect()
        if r["doc_id"] % bd.EVAL_MOD != 0
    }
    want = {
        r["doc_id"]: r["contaminated"]
        for r in bd.text_decontaminate(spark, sf_dir).collect()
    }
    assert got.pop(null_id) is False  # total flag, not NULL
    assert got == want and len(got) > 0


def test_streaming_cdc_merge_equals_batch(spark, sf_dir, tmp_path):
    """A stream of CDC change records merged per micro-batch through
    cdc_merge_writer must land the same final table as applying the
    full change set once in batch — upserts, inserts, and tombstones
    included. Exercises the write-ahead-and-swap path and the
    delete-idempotence contract under multiple micro-batches."""
    from pyspark.sql import functions as F

    from kafkatoclickhouse_spark.sources.files import apply_cdc_batch
    from kafkatoclickhouse_spark.streaming.sink import cdc_merge_writer
    from kafkatoclickhouse_spark.tables import load_table

    table = str(tmp_path / "cust_table")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    ).withColumn("version", F.lit(1))
    cust.write.parquet(table)

    schema = (
        "c_custkey long, c_name string, c_acctbal double,"
        " version int, is_deleted boolean"
    )
    changes = [
        (1, "UP-A", 10.0, 2, False),
        (2, None, None, 2, True),
        (1, "UP-B", 20.0, 3, False),
        (999999, "NEW", 1.0, 2, False),
        (999999, None, None, 3, True),
    ]
    feed = tmp_path / "cdc_feed"
    feed.mkdir()
    # several files → several micro-batches (maxFilesPerTrigger=1)
    for i, row in enumerate(changes):
        spark.createDataFrame([row], schema).write.parquet(
            str(feed / f"f{i}")
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed) + "/*")
    )
    q = (
        stream.writeStream.foreachBatch(
            cdc_merge_writer(
                table, ("c_custkey",), "version", "is_deleted"
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    batch_dst = str(tmp_path / "batch_applied")
    base2 = str(tmp_path / "base2")
    cust.write.parquet(base2)
    apply_cdc_batch(
        spark,
        base2,
        spark.createDataFrame(changes, schema),
        ("c_custkey",),
        "version",
        "is_deleted",
        batch_dst,
    )
    got = spark.read.parquet(table)
    want = spark.read.parquet(batch_dst)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    from kafkatoclickhouse_spark.sources.files import read_cdc_table

    live = {
        r["c_custkey"]: r
        for r in read_cdc_table(spark, table, "is_deleted").collect()
    }
    assert live[1]["c_name"] == "UP-B"
    assert 2 not in live and 999999 not in live  # tombstoned keys
    # tombstones persisted, not dropped (anti-resurrection contract)
    assert got.filter("c_custkey = 2 AND is_deleted").count() == 1


def test_cdc_merge_writer_crash_recovery_states(spark, tmp_path):
    """Crash-injection for the write-ahead-and-swap: construct every
    interrupted on-disk state the three-rename protocol can leave
    (.next+live; .old+.next without live; .next only; .old only),
    run recovery (an empty micro-batch triggers it) and assert the
    table is exactly the pre-batch or the post-batch state — never
    missing, never a third state — and that read_cdc_table works in
    the interim. Then replay the batch and assert convergence to the
    post-batch state (VERDICT r6 brief #3)."""
    import shutil

    from pyspark.sql import functions as F  # noqa: F401

    from kafkatoclickhouse_spark.sources.files import (
        apply_cdc_batch,
        read_cdc_table,
    )
    from kafkatoclickhouse_spark.streaming.sink import cdc_merge_writer

    schema = "k long, v string, version int, is_deleted boolean"
    t0_rows = [(1, "a", 1, False), (2, "b", 1, False)]
    batch_rows = [(1, "a2", 2, False), (2, None, 2, True),
                  (3, "c", 1, False)]
    batch = spark.createDataFrame(batch_rows, schema)
    empty = spark.createDataFrame([], schema)

    def snap(path):
        return sorted(
            tuple(r) for r in spark.read.parquet(path).collect()
        )

    t0_dir = str(tmp_path / "t0")
    spark.createDataFrame(t0_rows, schema).write.parquet(t0_dir)
    t1_dir = str(tmp_path / "t1")
    apply_cdc_batch(
        spark, t0_dir, batch, ("k",), "version", "is_deleted", t1_dir
    )
    t0, t1 = snap(t0_dir), snap(t1_dir)

    states = {
        "next_and_live": {"": t0_dir, ".next": t1_dir},
        "old_next_no_live": {".old": t0_dir, ".next": t1_dir},
        "next_only": {".next": t1_dir},
        "old_only": {".old": t0_dir},
    }
    for name, layout in states.items():
        table = str(tmp_path / f"tbl_{name}")
        for suffix, src in layout.items():
            shutil.copytree(src, table + suffix)
        writer = cdc_merge_writer(
            table, ("k",), "version", "is_deleted"
        )
        writer(empty, 0)  # empty batch must still finish the swap
        got = snap(table)
        assert got in (t0, t1), f"{name}: third state {got}"
        read_cdc_table(spark, table, "is_deleted").count()  # no error
        writer(batch, 1)  # checkpoint replay of the batch
        assert snap(table) == t1, f"{name}: replay did not converge"


def test_sessionize_stream_tws_matches_batch_gaps(
    spark, sf_dir, tmp_path
):
    """transformWithState sessionization (event-time TIMERS): a
    ts-ordered multi-batch drain must emit exactly the batch
    gaps-and-islands sessions whose close the watermark has proven
    final — each exactly once, none early, none mangled by
    cross-batch merging. The full typed-state API surface (ListState
    + event-time timers + watermark), runnable since the r7 protobuf
    shim."""
    from kafkatoclickhouse_spark.streaming.sessions_tws import (
        DEFAULT_GAP_MS,
        sessionize_stream_tws,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts")
        .orderBy("ts")
        .toPandas()
    )
    # expected sessions: the batch twin's rule (30-min gap) in pandas
    expected = set()
    max_ms = 0
    for uid, grp in ev.groupby("user_id"):
        ms = sorted(int(t.value // 1_000_000) for t in grp["ts"])
        max_ms = max(max_ms, ms[-1])
        start = last = ms[0]
        n = 1
        for t in ms[1:]:
            if t - last > DEFAULT_GAP_MS:
                expected.add((int(uid), start, last, n))
                start, n = t, 0
            last = t
            n += 1
        expected.add((int(uid), start, last, n))

    # feed: 4 ts-ordered chunks → 4 micro-batches, watermark advances
    # monotonically between them (no late drops, real timer flushes)
    feed = tmp_path / "sess_feed"
    feed.mkdir()
    chunk = (len(ev) + 3) // 4
    for i in range(4):
        # ONE part-file per chunk — the default 32 partitions would
        # split each chunk into unordered files and maxFilesPerTrigger
        # would replay them out of ts order, breaking the watermark's
        # monotone advance the test depends on
        spark.createDataFrame(
            ev.iloc[i * chunk : (i + 1) * chunk]
        ).coalesce(1).write.parquet(str(feed / f"c{i}"))

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed) + "/*")
        )
        out = run_stream(
            sessionize_stream_tws(stream, watermark="10 minutes"),
            "sess_tws",
            tmp_path / "sess_ckpt",
        )
        got = {
            (r["user_id"], r["start_ms"], r["end_ms"], r["n_events"])
            for r in out.collect()
        }
    finally:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", prev
        )

    assert got, "no sessions flushed"
    assert got <= expected, f"phantom sessions: {sorted(got - expected)[:3]}"
    # everything the final watermark (max ts − 10 min) proved closed
    # must have been emitted
    wm = max_ms - 10 * 60 * 1000
    due = {s for s in expected if s[2] + DEFAULT_GAP_MS <= wm}
    missing = due - got
    assert not missing, f"due sessions not flushed: {sorted(missing)[:3]}"


@pytest.mark.slow
def test_sessionize_tws_restart_mid_session(spark, sf_dir, tmp_path):
    """Checkpoint-restart THROUGH pending sessions (VERDICT r7 #7):
    run 1 drains only the early half of the feed — sessions whose
    close the watermark has not yet proven stay in ListState with an
    armed event-time timer; the query stops; run 2 resumes from the
    same checkpoint, must RE-REGISTER timers after recovery (the
    classic transformWithState restart bug class), merge the late
    half into the recovered state, and emit the remainder. Across
    both runs: every session the final watermark proved closed lands
    EXACTLY once — a timer lost in recovery shows up as a missing
    session, a replayed one as a duplicate."""
    pytest.importorskip("google.protobuf")
    from kafkatoclickhouse_spark.streaming import sink as sk
    from kafkatoclickhouse_spark.streaming.sessions_tws import (
        DEFAULT_GAP_MS,
        sessionize_stream_tws,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts")
        .orderBy("ts")
        .toPandas()
    )
    expected = set()
    max_ms = 0
    for uid, grp in ev.groupby("user_id"):
        ms = sorted(int(t.value // 1_000_000) for t in grp["ts"])
        max_ms = max(max_ms, ms[-1])
        start = last = ms[0]
        n = 1
        for t in ms[1:]:
            if t - last > DEFAULT_GAP_MS:
                expected.add((int(uid), start, last, n))
                start, n = t, 0
            last = t
            n += 1
        expected.add((int(uid), start, last, n))

    feed = tmp_path / "sessr_feed"
    feed.mkdir()
    out = str(tmp_path / "sessr_out")
    ckpt = str(tmp_path / "sessr_ckpt")
    chunk = (len(ev) + 3) // 4

    def land_chunk(i):
        spark.createDataFrame(
            ev.iloc[i * chunk : (i + 1) * chunk]
        ).coalesce(1).write.parquet(str(feed / f"c{i}"))

    def run_once():
        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed) + "/*")
        )
        q = (
            sessionize_stream_tws(stream, watermark="10 minutes")
            .writeStream.foreachBatch(
                sk.overwrite_by_batch_parquet_writer(out)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        land_chunk(0)
        land_chunk(1)
        run_once()  # stops with mid-feed watermark + pending state
        try:
            run1 = {
                tuple(r)
                for r in spark.read.parquet(out)
                .select("user_id", "start_ms", "end_ms", "n_events")
                .collect()
            }
        except Exception:  # noqa: BLE001 — nothing flushed yet is legal
            run1 = set()
        land_chunk(2)
        land_chunk(3)
        run_once()  # recovery: state + timers from the checkpoint
    finally:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", prev
        )

    rows = (
        spark.read.parquet(out)
        .select("user_id", "start_ms", "end_ms", "n_events")
        .collect()
    )
    got = {tuple(r) for r in rows}
    assert len(rows) == len(got), "duplicate session emission across restart"
    assert got - run1, "run 2 emitted nothing — recovery flushed no state"
    assert got <= expected, f"phantom sessions: {sorted(got - expected)[:3]}"
    wm = max_ms - 10 * 60 * 1000
    due = {s for s in expected if s[2] + DEFAULT_GAP_MS <= wm}
    missing = due - got
    assert not missing, (
        f"sessions lost across restart: {sorted(missing)[:3]}"
    )


def test_type_counts_tws_running_totals(spark, sf_dir, tmp_path):
    """MapState running counters (the third typed-state shape, after
    ValueState and ListState+timers): over a multi-batch drain the
    max-seq snapshot per (user, type) must equal the batch
    groupBy count, totals must be monotone in seq, and every
    batch's rows share one per-key seq."""
    from kafkatoclickhouse_spark.streaming.type_counts_tws import (
        keyed_type_counts_tws,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type"
    )
    feed = tmp_path / "tc_feed"
    feed.mkdir()
    pdf = ev.toPandas()
    chunk = (len(pdf) + 2) // 3
    for i in range(3):
        spark.createDataFrame(
            pdf.iloc[i * chunk : (i + 1) * chunk]
        ).coalesce(1).write.parquet(str(feed / f"c{i}"))

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema("user_id long, event_type string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed) + "/*")
        )
        out = run_stream(
            keyed_type_counts_tws(stream), "tc_tws", tmp_path / "tc_ckpt"
        ).collect()
    finally:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", prev
        )

    assert out
    latest: dict[tuple, tuple] = {}
    series: dict[tuple, list] = {}
    for r in out:
        k = (r["user_id"], r["event_type"])
        series.setdefault(k, []).append((r["seq"], r["n_total"]))
        if k not in latest or r["seq"] > latest[k][0]:
            latest[k] = (r["seq"], r["n_total"])
    for k, pts in series.items():
        pts.sort()
        totals = [t for _, t in pts]
        assert totals == sorted(totals), f"non-monotone totals {k}"
    want = {
        (r["user_id"], r["event_type"]): r["count"]
        for r in ev.groupBy("user_id", "event_type").count().collect()
    }
    got = {k: t for k, (_, t) in latest.items()}
    assert got == want


def _jvm_feed(spark, raw_feed_dir, path, slices=1):
    """Stage the raw feed as `slices` sequential files, each internally
    sorted by offset and covering a contiguous offset range — so
    arrival order and explicit offset order (what the count window
    sorts by) agree, and a ``maxFilesPerTrigger=1`` drain reads one
    slice per micro-batch in offset order."""
    raw = spark.read.parquet(raw_feed_dir).orderBy("offset").collect()
    step = (len(raw) + slices - 1) // slices
    for i in range(slices):
        chunk = raw[i * step : (i + 1) * step]
        if chunk:
            spark.createDataFrame(
                chunk, schema=spark.read.parquet(raw_feed_dir).schema
            ).repartition(1).sortWithinPartitions("offset").write.mode(
                "append"
            ).parquet(path)
    return path


def test_count_window_jvm_matches_legacy(spark, raw_feed_dir, tmp_path):
    """Parity pin against the reference (legacy Flink job) window: the
    JVM-only count window (foreachBatch + row_number modular windowing
    + versioned state table, zero Python in the hot path) emits
    EXACTLY the rows of the pure-Python model of
    countWindow(N) + MyWindowFunction (``tests/cw_model.py``, no
    timeout) on the same single-batch feed, through the parquet
    sink."""
    n = 20
    feed = _jvm_feed(spark, raw_feed_dir, str(tmp_path / "jvm_feed"))
    raw = source.file_raw_stream(spark, feed)
    clean, _ = pipeline.streaming_ingest(raw)
    out = str(tmp_path / "jvm_out")
    q = cwj.run_count_window_jvm(
        clean,
        write_fn=sink.parquet_writer(out),
        checkpoint_dir=str(tmp_path / "jvm_ckpt"),
        n=n,
        available_now=True,
        timeout_ms=None,
    )
    q.awaitTermination(300)
    got = sorted(
        map(tuple, spark.read.parquet(out).select(WINDOW_COLS).collect())
    )
    assert got, "no windows fired"

    want, _ = cw_model.count_window([(0, _clean_rows(spark, feed))], n)
    assert got == sorted(want)


def test_count_window_jvm_retries_failed_sink_write(
    spark, raw_feed_dir, tmp_path
):
    """The window owns the sink's bounded retry: a ``write_fn`` that
    raises on its first call is retried, not failing the micro-batch,
    and every window lands exactly once — the model's rows."""
    n = 20
    feed = _jvm_feed(spark, raw_feed_dir, str(tmp_path / "retry_feed"))
    raw = source.file_raw_stream(spark, feed)
    clean, _ = pipeline.streaming_ingest(raw)
    out = str(tmp_path / "retry_out")
    land = sink.parquet_writer(out)
    calls = []

    def flaky(df):
        calls.append(df)
        if len(calls) == 1:
            raise RuntimeError("transient sink failure")
        land(df)

    q = cwj.run_count_window_jvm(
        clean,
        write_fn=flaky,
        checkpoint_dir=str(tmp_path / "retry_ckpt"),
        n=n,
        available_now=True,
        timeout_ms=None,
        max_retries=2,
    )
    assert q.awaitTermination(300)
    assert len(calls) == 2  # one batch: the failed attempt + its retry
    got = sorted(
        map(tuple, spark.read.parquet(out).select(WINDOW_COLS).collect())
    )
    want, _ = cw_model.count_window([(0, _clean_rows(spark, feed))], n)
    assert want and got == sorted(want)


def test_count_window_jvm_multi_batch_carryover(spark, raw_feed_dir, tmp_path):
    """Tails must carry across micro-batches through the versioned
    state table: a 4-batch drain (maxFilesPerTrigger=1) emits exactly
    the windows the closed-form batch rule predicts — per key ordered
    by offset, row i fires in window i//n at position i%n iff its
    key's cumulative count at its batch boundary reached past it."""
    n = 20
    feed = _jvm_feed(spark, raw_feed_dir, str(tmp_path / "mb_feed"), slices=4)
    raw = spark.readStream.schema(source.RAW_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(feed)
    clean, _ = pipeline.streaming_ingest(raw)
    out = str(tmp_path / "mb_out")
    q = cwj.run_count_window_jvm(
        clean,
        write_fn=sink.parquet_writer(out),
        checkpoint_dir=str(tmp_path / "mb_ckpt"),
        n=n,
        available_now=True,
        timeout_ms=None,
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out)

    # closed-form expectation: global per-key offset order, i//n // i%n,
    # windows fire only once filled (tails held) — equivalently every
    # emitted window is full and ids are dense from 0.
    from pyspark.sql import Window as W

    full = pipeline.streaming_ingest(
        spark.createDataFrame(
            spark.read.parquet(feed).collect(), schema=source.RAW_SCHEMA
        )
    )[0]
    idx = F.row_number().over(
        W.partitionBy("essCode").orderBy("topicOffset")
    ) - 1
    expect = (
        full.withColumn("_i", idx)
        .withColumn("_fires", (F.count(F.lit(1)).over(
            W.partitionBy("essCode")
        ) / n).cast("long") * n)
        .filter(F.col("_i") < F.col("_fires"))
        .select(
            "essCode",
            "topicOffset",
            (F.col("_i") / n).cast("long").alias("window_id"),
            (F.col("_i") % n).cast("int").alias("window_pos"),
        )
    )
    cols = ["essCode", "topicOffset", "window_id", "window_pos"]
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, expect.select(cols).collect())
    )
    assert got.filter(F.col("flush_reason") != "count").count() == 0


def _window_batches(
    spark, state, batches, n, tmo, key="essCode", order="topicOffset",
    payload="payload",
):
    """Run ``(clock, rows)`` batches of ``(key, order, payload)`` rows
    through apply_count_window_batch, yielding the fired rows so far
    after each one; by then those rows and the held state have been
    checked against the model's on the same prefix."""
    schema = T.StructType([
        T.StructField(key, T.StringType()),
        T.StructField(order, T.LongType()),
        T.StructField(payload, T.StringType()),
    ])
    out = [key, order] + WINDOW_COLS[2:]
    got = []
    for bid, (clock, rows) in enumerate(batches):
        fired = cwj.apply_count_window_batch(
            spark.createDataFrame(rows, schema),
            bid,
            state,
            key=key,
            n=n,
            order_col=order,
            timeout_ms=tmo,
            batch_time_ms=clock,
        )
        got += [tuple(r[c] for c in out) for r in fired.collect()]
        expect, held = cw_model.count_window(
            batches[: bid + 1], n, timeout_ms=tmo
        )
        assert sorted(got) == sorted(expect), f"batch {bid}"
        assert _held_state(spark, state, key, order) == held, f"batch {bid}"
        yield got


def _rows(key, offsets):
    return [(key, i, f"{key.lower()}{i}") for i in offsets]


def test_count_window_jvm_timeout_flush_matches_legacy(spark, tmp_path):
    """The ``timeout_ms`` contract matches the model of the reference
    window with its partial-window timeout (``tests/cw_model.py``):
    idle keys past the deadline flush their tail as one 'timeout'
    partial window and reset their counter; active or fresh keys do
    not. Batch sequences with an explicit deterministic clock are
    driven through apply_count_window_batch and through the model;
    fired rows and the carried state must be identical after every
    batch."""
    n, tmo = 5, 60_000
    batches = [
        (1_000, _rows("E", range(3)) + _rows("F", range(2))),
        # E idle but NOT yet expired (29s < 60s); F active again
        (30_000, _rows("F", [10])),
        # E expired (last activity 1s), F expired too (30s + 60s ≤
        # 120s); G arrives fresh
        (120_000, _rows("G", range(2))),
        # E returns AFTER its flush: counter restarted at window 0;
        # G idle but fresh (10s) — stays buffered
        (130_000, _rows("E", range(100, 107))),
    ]
    *_, got = _window_batches(
        spark, str(tmp_path / "tmo_state"), batches, n, tmo
    )
    # the sequence exercised both flush kinds
    assert {r[-1] for r in got} == {"timeout", "count"}

    # The boundary: the engine compares clocks as zero-padded strings
    # (count_window_jvm), so pin the exact deadline, a negative
    # deadline and clocks of different digit widths.
    boundary = [
        (500, _rows("A", range(2)) + _rows("B", [0])),
        # deadline 59_999 − 60_000 < 0: idle A and B are kept
        (59_999, _rows("C", [0])),
        # A fills window 0 (empty tail); B idle 99_499 expires
        (99_999, _rows("A", range(2, 5)) + _rows("D", range(2))),
        # 5 → 6 digit clocks; C idle 40_001 is kept
        (100_000, _rows("E", range(3))),
        # A and D idle exactly 60_000 expire, C expires; E (6-digit
        # last activity against a 5-digit deadline) idle 59_999 is kept
        (159_999, _rows("F", [0])),
        # E idle exactly 60_000 expires; F idle 1 ms is kept
        (160_000, []),
    ]
    *_, got = _window_batches(
        spark, str(tmp_path / "edge_state"), boundary, n, tmo
    )
    _, held = cw_model.count_window(boundary, n, timeout_ms=tmo)
    assert set(held) == {"F"}
    timed_out = {r[0] for r in got if r[-1] == "timeout"}
    assert timed_out == {"B", "C", "D", "E"}
    _, held = cw_model.count_window(boundary[:5], n, timeout_ms=tmo)
    assert set(held) == {"E", "F"}


def test_count_window_jvm_steady_batches_compile_nothing(spark, tmp_path):
    """A steady micro-batch compiles no new code. With the timeout
    armed, every batch has a new clock; if the clock reached the plan
    as a value Spark inlines into the generated Java (a long literal),
    each batch would compile new classes. After two warm-up batches
    (the first has no state to union), Janino's compile counter must
    not move over four more batches, their fired rows collected and
    checked against the model."""
    n, tmo = 5, 60_000
    counter = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = counter.METRIC_COMPILATION_TIME().getCount
    # a new clock every batch; every key gets a row, K0 or K1 three more
    batches = [
        (
            10_000 + 7_919 * b,
            _rows(f"K{b % 2}", range(30 * b, 30 * b + 3))
            + [(f"K{i}", 30 * b + 10 + i, "p") for i in range(7)],
        )
        for b in range(6)
    ]
    counts = [
        compiles()
        for _ in _window_batches(spark, str(tmp_path / "state"), batches, n, tmo)
    ]
    assert counts[2:] == [counts[1]] * 4, counts


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_count_window_jvm_quotes_column_names(spark, tmp_path):
    """The window is one generated SQL statement, so every column name
    it interpolates must be quoted. With key, order and payload
    columns whose names hold a space, a dot and a backtick, the window
    still matches the model, counts and timeouts alike, and the temp
    views the statement reads are gone from the caller's catalog
    afterwards."""
    key, order, payload = "ess code.`k`", "topic.off`set", "pay load.`x"
    batches = [
        (1_000, _rows("E", range(7)) + _rows("F", range(2))),
        (2_000, _rows("F", range(10, 14))),
        # E idle 99 s expires with its 2-row tail; F keeps its tail
        (100_000, _rows("F", [20])),
    ]
    views = _temp_views(spark)
    *_, got = _window_batches(
        spark, str(tmp_path / "state"), batches, 5, 60_000,
        key=key, order=order, payload=payload,
    )
    assert {r[-1] for r in got} == {"timeout", "count"}
    assert _temp_views(spark) == views


def test_count_window_jvm_state_shapes(spark, tmp_path):
    """Each union shape of the window statement against the model: a
    batch with no state after batch 0 (every key expired, so the
    snapshot holds neither a tail nor a ctr partition), and a batch
    whose state has counter rows but no tail (every tail closed
    evenly)."""
    n, tmo = 3, 60_000
    state = str(tmp_path / "state")
    batches = [
        # both keys close their windows evenly: ctr rows, no tail
        (1_000, _rows("A", range(3)) + _rows("B", range(6))),
        # ctr-only state ∪ batch; A buffers a tail of 2, nothing fires
        (2_000, _rows("A", range(3, 5))),
        # A and B idle past the deadline: A's tail fires as a timeout
        # window, B has nothing to fire, and no state is left
        (100_000, []),
        # batch-only again, now at batch 3: A restarts at window 0
        (101_000, _rows("A", range(10, 14)) + _rows("C", range(2))),
    ]
    parts = []
    for bid, _ in enumerate(_window_batches(spark, state, batches, n, tmo)):
        rows = os.path.join(state, f"s{bid}", "rows")
        parts.append(sorted(
            d[len("_part="):] for d in os.listdir(rows) if "=" in d
        ))
    assert parts == [
        ["ctr", "fired"],
        ["ctr", "tail"],
        ["fired"],
        ["ctr", "fired", "tail"],
    ]


def test_count_window_jvm_leaves_caller_conf_unchanged(
    spark, raw_feed_dir, tmp_path
):
    """``job.start`` tunes the window's write on the query's own clone
    of the session, once: every micro-batch of the stream sees the
    setting, and the caller's session conf is unchanged afterwards."""
    from kafkatoclickhouse_spark import config as cfgmod
    from kafkatoclickhouse_spark.streaming import job

    writers = "spark.sql.maxConcurrentOutputFileWriters"
    before = spark.conf.get(writers)
    cfg = cfgmod.PipelineConfig.from_properties(
        cfgmod.load_properties("configs/example.properties")
    )
    cfg.checkpoint_dir = str(tmp_path / "ckpt")
    feed = _jvm_feed(spark, raw_feed_dir, str(tmp_path / "feed"), slices=2)
    raw = (
        spark.readStream.schema(source.RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    seen = []
    assert job.start(
        spark,
        cfg,
        write_fn=lambda df: seen.append(df.sparkSession.conf.get(writers)),
        raw=raw,
        available_now=True,
    ).awaitTermination(300)
    assert seen == ["4", "4"]
    assert spark.conf.get(writers) == before != "4"


def test_count_window_jvm_rejects_missing_predecessor_snapshot(
    spark, tmp_path
):
    """The checkpoint/state divergence guard: batch b must find a
    committed snapshot s{b-1}. A missing one, or one without its _OK
    commit marker, raises instead of silently restarting every key's
    windows at 0 — and writes no snapshot for b."""
    df = spark.createDataFrame(
        [("E", 1, "e1")], "essCode string, topicOffset long, payload string"
    )
    state = str(tmp_path / "state")
    with pytest.raises(ValueError, match="checkpoint/state divergence"):
        cwj.apply_count_window_batch(df, 3, state, n=5)
    assert not os.path.exists(os.path.join(state, "s3"))

    cwj.apply_count_window_batch(df, 0, state, n=5)
    os.remove(os.path.join(state, "s0", "_OK"))  # crashed mid-rewrite
    with pytest.raises(ValueError, match="checkpoint/state divergence"):
        cwj.apply_count_window_batch(df, 1, state, n=5)
    assert not os.path.exists(os.path.join(state, "s1"))


def test_count_window_jvm_crash_before_offset_commit(
    spark, raw_feed_dir, tmp_path, monkeypatch
):
    """Crash/restart of the whole job between the state write and the
    offset commit: batch k's snapshot s{k} is committed and its fired
    rows have reached the sink, then the sink write raises, so Spark
    never commits batch k's offsets. A restart on the same checkpoint
    replays k from s{k-1}; with an idempotent sink
    (``overwrite_by_batch_parquet_writer``) the landed rows equal the
    model's output exactly once, and the carried tails and counters in
    the final snapshot equal the model's state. The model is fed the
    batches and clocks the window actually ran with, so a 60 s timeout
    flush on a slow run is modelled, not a flake."""
    from pyspark.errors import StreamingQueryException

    from kafkatoclickhouse_spark import config as cfgmod
    from kafkatoclickhouse_spark.streaming import job

    k = 2
    cfg = cfgmod.PipelineConfig.from_properties(
        cfgmod.load_properties("configs/example.properties")
    )
    cfg.checkpoint_dir = str(tmp_path / "ckpt")
    cfg.max_retries = 1  # one failed write fails the micro-batch
    state = os.path.join(cfg.checkpoint_dir, "jvm_window_state")
    feed = _jvm_feed(spark, raw_feed_dir, str(tmp_path / "feed"), slices=4)
    out = str(tmp_path / "landed")
    land = sink.overwrite_by_batch_parquet_writer(out)

    ran = []  # (batch_id, clock, input rows) per window call
    real_apply = cwj.apply_count_window_batch

    def recording_apply(batch_df, batch_id, state_dir, **kw):
        rows = [tuple(r) for r in batch_df.select(*WINDOW_COLS[:2]).collect()]
        ran.append((batch_id, kw["batch_time_ms"], rows))
        return real_apply(batch_df, batch_id, state_dir, **kw)

    monkeypatch.setattr(cwj, "apply_count_window_batch", recording_apply)

    def run(write_fn):
        raw = (
            spark.readStream.schema(source.RAW_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        return job.start(
            spark, cfg, write_fn=write_fn, raw=raw, available_now=True
        )

    def crash_after_landing(df):
        batch_id = ran[-1][0]
        land(df, batch_id)
        if batch_id == k:
            raise RuntimeError("injected crash before offset commit")

    with pytest.raises(StreamingQueryException, match="injected crash"):
        run(crash_after_landing).awaitTermination(300)
    assert [b for b, _, _ in ran] == list(range(k + 1))
    assert os.path.exists(os.path.join(state, f"s{k}", "_OK"))
    assert os.path.exists(os.path.join(cfg.checkpoint_dir, "offsets", str(k)))
    assert not os.path.exists(
        os.path.join(cfg.checkpoint_dir, "commits", str(k))
    )
    assert os.path.isdir(os.path.join(out, f"batch_id={k}"))

    run(lambda df: land(df, ran[-1][0])).awaitTermination(300)
    assert [b for b, _, _ in ran] == list(range(k + 1)) + list(range(k, 4))
    replays = [rows for b, _, rows in ran if b == k]
    assert sorted(replays[0]) == sorted(replays[1])  # same offsets replayed

    batches = {b: (clock, rows) for b, clock, rows in ran}  # last run wins
    assert sorted(r for _, rows in batches.values() for r in rows) == sorted(
        _clean_rows(spark, feed, check_fields=tuple(cfg.check_fields))
    )
    want, held = cw_model.count_window(
        [batches[b] for b in sorted(batches)],
        cfg.window_size,
        timeout_ms=60_000,
    )
    landed = spark.read.parquet(out).select(WINDOW_COLS).collect()
    assert sorted(map(tuple, landed)) == sorted(want)
    assert _held_state(spark, state) == held
    assert any(tail for _, tail in held.values())


@pytest.mark.slow
def test_type_counts_tws_ttl_expires_idle_state(spark, sf_dir, tmp_path):
    """VERDICT r8 #6 — tws state TTL, the state-size backstop a
    100 TB stream needs: counters configured with a TTL must expire
    between runs, so a key returning AFTER the TTL restarts its
    totals from zero instead of resuming (and absent TTL the same
    replay accumulates — covered by the running-totals test above).
    Two availableNow runs share one checkpoint; the wall-clock sleep
    between them exceeds the TTL."""
    import time

    from kafkatoclickhouse_spark.streaming.type_counts_tws import (
        keyed_type_counts_tws,
    )

    ttl_ms = 1500
    rows_a = [(1, "click"), (1, "click"), (2, "view")]
    rows_b = [(1, "click"), (2, "view"), (2, "view")]
    feed = tmp_path / "ttl_feed"
    feed.mkdir()
    schema = "user_id long, event_type string"
    spark.createDataFrame(rows_a, schema).coalesce(1).write.parquet(
        str(feed / "a")
    )

    # RocksDB for tws; no-data batches off, or each processing-time
    # trigger schedules another empty batch and the drain never ends
    confs = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)

    out_dir = str(tmp_path / "ttl_out")

    def drain(name):
        # file sink, not memory: the memory sink cannot resume from an
        # existing checkpoint, and run 2 must share run 1's state.
        stream = spark.readStream.schema(schema).parquet(str(feed) + "/*")
        q = (
            keyed_type_counts_tws(stream, ttl_ms=ttl_ms)
            .writeStream.foreachBatch(
                sink.foreach_batch_writer(sink.parquet_writer(out_dir))
            )
            .option("checkpointLocation", str(tmp_path / "ttl_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), f"{name}: drain did not terminate"
        return spark.read.parquet(out_dir).collect()

    try:
        out_a = drain("ttl_run_a")
        assert {
            (r["user_id"], r["event_type"]): r["n_total"] for r in out_a
        } == {(1, "click"): 2, (2, "view"): 1}

        time.sleep(ttl_ms / 1000 + 1.5)  # let every entry expire
        spark.createDataFrame(rows_b, schema).coalesce(1).write.parquet(
            str(feed / "b")
        )
        out_b = drain("ttl_run_b")
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    # the parquet sink accumulates both runs; run B's emissions are
    # the new rows. Expired state ⇒ batch-B-only counts AND a seq
    # restarted at 1 (the seq ValueState expired too) — resumed state
    # would instead show n_total 3 / seq 2.
    new_rows = {
        (r["user_id"], r["event_type"], r["n_total"], r["seq"])
        for r in out_b
    } - {
        (r["user_id"], r["event_type"], r["n_total"], r["seq"])
        for r in out_a
    }
    assert new_rows == {(1, "click", 1, 1), (2, "view", 2, 1)}, new_rows


def test_streaming_classifier_matches_batch_serve(spark, sf_dir, tmp_path):
    """r11: the streaming trained-classifier score must agree
    doc-for-doc (exact integer logit AND keep flag) with the batch
    serve path on the same persisted model — the two plans differ
    only in join-vs-map-literal delivery of the weight table. A
    NULL-text doc must score exactly the prior bias, never NULL."""
    from kafkatoclickhouse_spark import registry
    from kafkatoclickhouse_spark.streaming.classifier import (
        streaming_classifier_score,
    )

    batch = {
        r["doc_id"]: (r["logit_micro"], r["keep"])
        for r in registry.QUERIES["text_classifier_score_trained"](
            spark, sf_dir
        ).collect()
    }

    docs = load_table(spark, sf_dir, "documents")
    feed = tmp_path / "clf_feed"
    docs.write.parquet(str(feed))
    null_id = -777
    docs.limit(1).withColumn("doc_id", F.lit(null_id)).withColumn(
        "text", F.lit(None).cast("string")
    ).write.mode("append").parquet(str(feed))
    stream = spark.readStream.schema(docs.schema).parquet(str(feed))
    assert stream.isStreaming

    scored = streaming_classifier_score(stream, spark, sf_dir)
    q = (
        scored.writeStream.format("memory")
        .queryName("clf_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "clf_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r["doc_id"]: (r["logit_micro"], r["keep"])
        for r in spark.table("clf_stream").collect()
    }
    from kafkatoclickhouse_spark import artifacts

    bias = artifacts.read_meta(
        artifacts.artifact_dir(sf_dir, "documents", "clf")
    )["bias_micro"]
    assert got.pop(null_id) == (bias, bias >= 0)
    assert got == batch


@pytest.mark.slow
def test_streaming_curation_topology_matches_batch(spark, sf_dir, tmp_path):
    """r12 (VERDICT r11 #4): the COMPOSED curation topology — score →
    decontam → dedup in one stream — must agree with the batch
    composition of the same three verdicts: a document is emitted iff
    it passes the trained-classifier gate AND is uncontaminated AND
    is the sole survivor of its content fingerprint, with exactly one
    emission per surviving fingerprint."""
    from kafkatoclickhouse_spark import registry
    from kafkatoclickhouse_spark.functions import hashing, textfns
    from kafkatoclickhouse_spark.operators import decontam as bd
    from kafkatoclickhouse_spark.streaming.curation import (
        curation_topology,
    )

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "ingest_ts",
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id")),
    )
    feed = tmp_path / "curate_feed"
    docs.write.parquet(str(feed))
    stream = spark.readStream.schema(docs.schema).parquet(str(feed))
    assert stream.isStreaming

    evals = (
        docs.where(F.col("doc_id") % bd.EVAL_MOD == 0)
        .select(
            F.explode(
                hashing.word_shingles(F.col("text"), bd.DECONTAM_N)
            ).alias("shingle")
        )
        .distinct()
    )
    curated = curation_topology(
        stream,
        spark,
        sf_dir,
        eval_shingles=evals,
        ts_col="ingest_ts",
    )
    got = run_stream(curated, "curation_stream", tmp_path / "cur_ckpt")
    got_rows = got.collect()

    # batch composition of the same three verdicts
    keep = {
        r["doc_id"]
        for r in registry.QUERIES["text_classifier_score_trained"](
            spark, sf_dir
        ).collect()
        if r["keep"]
    }
    clean = {
        r["doc_id"]
        for r in bd.text_decontaminate(spark, sf_dir).collect()
        if not r["contaminated"]
    }
    survivors = (
        docs.filter(
            F.col("doc_id").isin(list(keep & clean))
        )
        .select(
            "doc_id", textfns.fingerprint(F.col("text")).alias("fp")
        )
        .collect()
    )
    want_fps = {r["fp"] for r in survivors}
    survivor_ids = {r["doc_id"] for r in survivors}

    got_ids = [r["doc_id"] for r in got_rows]
    assert len(got_ids) == len(set(got_ids))  # one emission per doc
    assert set(got_ids) <= survivor_ids  # only gate-passing docs
    got_fps = {
        r["fp"]
        for r in docs.filter(F.col("doc_id").isin(got_ids))
        .select(textfns.fingerprint(F.col("text")).alias("fp"))
        .collect()
    }
    # exactly one emission per surviving fingerprint
    assert got_fps == want_fps
    assert len(got_ids) == len(want_fps)
    assert len(got_ids) > 0


@pytest.mark.slow
def test_curation_cli_smoke(spark, sf_dir, tmp_path):
    """python -m … --curate end-to-end on the file double: curated
    docs flow through the per-source count window into the parquet
    sink; no window exceeds the configured size."""
    from kafkatoclickhouse_spark.__main__ import main

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "ingest_ts",
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id")),
    )
    feed = tmp_path / "cli_feed"
    docs.write.parquet(str(feed / "documents.parquet"))
    props = tmp_path / "curate.properties"
    props.write_text(
        "window.size=5\n"
        f"checkpoint.path={tmp_path / 'cli_ckpt'}\n"
    )
    out_dir = tmp_path / "cli_out"
    rc = main(
        [
            str(props),
            "--curate",
            str(feed),
            "--curate-fixture",
            sf_dir,
            "--curate-ts-col",
            "ingest_ts",
            "--parquet-sink",
            str(out_dir),
            "--available-now",
            "--no-catalog",
        ]
    )
    assert rc == 0
    out = spark.read.parquet(str(out_dir))
    rows = out.collect()
    assert rows, "curation CLI produced no output"
    assert {"window_id", "window_pos", "flush_reason"} <= set(out.columns)
    from collections import Counter

    per_window = Counter(
        (r["source"], r["window_id"]) for r in rows
    )
    assert max(per_window.values()) <= 5


def _curation_feed(spark, sf_dir, path):
    """The documents fixture as a one-file doc_id-ordered feed (one
    micro-batch under availableNow) plus the eval shingles of the
    decontam stage."""
    from kafkatoclickhouse_spark.functions import hashing
    from kafkatoclickhouse_spark.operators import decontam as bd

    docs = (
        load_table(spark, sf_dir, "documents")
        .withColumn(
            "ingest_ts",
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id")),
        )
        .orderBy("doc_id")
        .coalesce(1)
    )
    docs.write.parquet(str(path))
    evals = (
        docs.where(F.col("doc_id") % bd.EVAL_MOD == 0)
        .select(
            F.explode(
                hashing.word_shingles(F.col("text"), bd.DECONTAM_N)
            ).alias("shingle")
        )
        .distinct()
    )
    return docs.schema, evals


def _drain_curation(spark, sf_dir, stream, ckpt, **kw):
    """start_curation into an in-memory list of fired rows."""
    from kafkatoclickhouse_spark.streaming.curation import start_curation

    rows_sink = []
    q = start_curation(
        spark,
        sf_dir,
        stream,
        write_fn=lambda df: rows_sink.extend(df.collect()),
        checkpoint_dir=str(ckpt),
        available_now=True,
        **kw,
    )
    q.awaitTermination(300)
    return rows_sink


@pytest.mark.slow
def test_curation_window_matches_model(spark, sf_dir, tmp_path):
    """The curation topology's per-source count window emits exactly
    the model's windows (``tests/cw_model.py``, key ``source``, order
    ``doc_id``) over the curated stream drained without a window.
    Runs the STATELESS gate stages (score + decontam) so the curated
    set is the same in both drains; the pin covers window_id AND
    window_pos exactly."""
    from kafkatoclickhouse_spark.streaming.curation import curation_topology

    feed = tmp_path / "eng_feed"
    schema, evals = _curation_feed(spark, sf_dir, feed)
    stages = ("score", "decontam")
    fired = _drain_curation(
        spark,
        sf_dir,
        spark.readStream.schema(schema).parquet(str(feed)),
        tmp_path / "ckpt",
        stages=stages,
        eval_shingles=evals,
        window_size=5,
    )
    curated = run_stream(
        curation_topology(
            spark.readStream.schema(schema).parquet(str(feed)),
            spark,
            sf_dir,
            stages=stages,
            eval_shingles=evals,
        ),
        "curation_nowindow",
        tmp_path / "plain_ckpt",
    ).select("source", "doc_id").collect()
    want, _ = cw_model.count_window([(0, curated)], 5)
    got = sorted(
        (r["source"], r["doc_id"], r["window_id"], r["window_pos"],
         r["flush_reason"])
        for r in fired
    )
    assert got == sorted(want)
    assert got


@pytest.mark.slow
def test_curation_window_membership_with_dedup(spark, sf_dir, tmp_path):
    """With the stateful dedup stage on, the state store's output
    order is not a contract, so the pin is MEMBERSHIP: with
    window_size=1 every curated doc fires exactly once, as a
    one-row count window — the same doc_id multiset as the curated
    stream drained without a window."""
    from collections import Counter

    from kafkatoclickhouse_spark.streaming.curation import curation_topology

    feed = tmp_path / "memb_feed"
    schema, evals = _curation_feed(spark, sf_dir, feed)
    fired = _drain_curation(
        spark,
        sf_dir,
        spark.readStream.schema(schema).parquet(str(feed)),
        tmp_path / "mckpt",
        eval_shingles=evals,
        ts_col="ingest_ts",
        window_size=1,
    )
    curated = run_stream(
        curation_topology(
            spark.readStream.schema(schema).parquet(str(feed)),
            spark,
            sf_dir,
            eval_shingles=evals,
            ts_col="ingest_ts",
        ),
        "curation_dedup_nowindow",
        tmp_path / "plain_mckpt",
    ).collect()
    sizes = Counter((r["source"], r["window_id"]) for r in fired)
    assert sizes and set(sizes.values()) == {1}
    assert {(r["window_pos"], r["flush_reason"]) for r in fired} == {
        (0, "count")
    }
    assert Counter(r["doc_id"] for r in fired) == Counter(
        r["doc_id"] for r in curated
    )
    assert fired


@pytest.mark.slow
def test_streaming_bigram_gate_matches_batch_twin(spark, sf_dir, tmp_path):
    """r14: the streaming bigram-perplexity gate must agree
    doc-for-doc (n_bigrams AND micro-exact avg NLL) with its batch
    twin `text_bigram_hashed_logperp` on the same persisted hashed
    model — the plans differ only in join-vs-map-literal delivery of
    the bucket counts. Docs with <2 tokens score NULL and pass the
    keep gate (length filtering is not perplexity's job)."""
    from kafkatoclickhouse_spark import registry
    from kafkatoclickhouse_spark.streaming.bigram_gate import (
        streaming_bigram_nll,
    )

    batch = {
        r["doc_id"]: (r["n_bigrams"], r["avg_nll_nats"])
        for r in registry.QUERIES["text_bigram_hashed_logperp"](
            spark, sf_dir
        ).collect()
    }
    assert batch

    docs = load_table(spark, sf_dir, "documents")
    feed = tmp_path / "bigram_feed"
    docs.write.parquet(str(feed))
    short_id = -778
    docs.limit(1).withColumn("doc_id", F.lit(short_id)).withColumn(
        "text", F.lit("solitary")
    ).write.mode("append").parquet(str(feed))
    stream = spark.readStream.schema(docs.schema).parquet(str(feed))
    assert stream.isStreaming

    scored = streaming_bigram_nll(
        stream, spark, sf_dir, keep_below_nats=50.0
    )
    q = (
        scored.writeStream.format("memory")
        .queryName("bigram_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "bigram_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_nll_nats"], r["keep"])
        for r in spark.table("bigram_stream").collect()
    }
    n, nll, keep = got.pop(short_id)
    assert (n, nll, keep) == (0, None, True)
    assert {k: v[:2] for k, v in got.items()} == batch
    assert all(v[2] is not None for v in got.values())


@pytest.mark.slow
def test_streaming_bloom_decontaminate_matches_exact(
    spark, sf_dir, tmp_path
):
    """r14 (VERDICT r13 #6): the Bloom-gated decontamination gate
    must agree doc-for-doc with the exact gate — Bloom filters have
    no false negatives and every candidate is exact-verified, so the
    verdict is identical BY CONSTRUCTION; this pin catches a bit-mask
    build or probe bug. Candidates must cover all contaminated docs,
    and a NULL-text doc stays a total contaminated=false."""
    from kafkatoclickhouse_spark.functions import hashing
    from kafkatoclickhouse_spark.operators import decontam as bd
    from kafkatoclickhouse_spark.streaming.decontam import (
        streaming_decontaminate,
        streaming_decontaminate_bloom,
    )

    docs = load_table(spark, sf_dir, "documents")
    feed = tmp_path / "bloom_feed"
    docs.write.parquet(str(feed))
    null_id = -12399
    docs.limit(1).withColumn("doc_id", F.lit(null_id)).withColumn(
        "text", F.lit(None).cast("string")
    ).write.mode("append").parquet(str(feed))

    evals = (
        docs.where(F.col("doc_id") % bd.EVAL_MOD == 0)
        .select(
            F.explode(
                hashing.word_shingles(F.col("text"), bd.DECONTAM_N)
            ).alias("shingle")
        )
        .distinct()
    )

    stream = spark.readStream.schema(docs.schema).parquet(str(feed))
    flagged = streaming_decontaminate_bloom(stream, evals)
    q = (
        flagged.writeStream.format("memory")
        .queryName("bloom_decontam_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "bloom_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r["doc_id"]: (r["contaminated"], r["bloom_candidate"])
        for r in spark.table("bloom_decontam_stream").collect()
    }

    # exact twin, batch-applied (the gate is stateless expressions)
    exact = {
        r["doc_id"]: r["contaminated"]
        for r in streaming_decontaminate(docs, evals).collect()
    }
    assert got.pop(null_id) == (False, False)
    assert {k: v[0] for k, v in got.items()} == exact
    # no false negatives: every contaminated doc was a candidate
    assert all(v[1] for v in got.values() if v[0])
    # and contamination really occurs in this fixture (eval ⊂ docs)
    assert any(v[0] for v in got.values())
