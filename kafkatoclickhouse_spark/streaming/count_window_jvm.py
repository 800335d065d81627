"""R5 per-key count window: the engine's one stateful window operator.

Reference semantics (`KafakToClickhouse.scala:57-61`,
`MyWindowFunction.scala:32-56`): buffer N records per ``essCode``;
when the N-th arrives, fire the window with exactly those N records
(the reference then renders them into one multi-row INSERT). The
reference's partial windows never fire, so quiet keys buffer forever
(SURVEY §4.3); this module adds an OPTIONAL partial-window timeout
flush (``timeout_ms``) that fires such tails with ``flush_reason =
'timeout'``.

Spark has no native count window. A grouped pandas UDF
(``applyInPandasWithState``) is protocol-bound at ~0.9 ms per key per
micro-batch (BASELINE.md r8 attribution), so the window runs inside
``foreachBatch`` with zero Python in the hot path and one
shuffle + one partitioned write per micro-batch:

    foreachBatch(micro-batch):
      state rows (per-key counter row + ≤N−1 tail rows) ∪ batch rows
        → one hash shuffle on the key
        → row_number() / count() / max() over the key partition
          (counter carried as a phantom row — no join at all)
        → modular arithmetic cuts window boundaries
        → ONE partitioned write, split by a `_part` column into
            fired/  the emission (exactly the output contract)
            tail/   carried partial-window rows
            ctr/    one row per key: its next window id
        → file sinks: the fired partition's parquet files are
          PUBLISHED into the landing dir by hardlink under
          deterministic per-batch names — the FileStreamSink
          write-then-commit pattern, zero second data pass;
          other sinks (JDBC): the fired partition scans out through
          ``write_fn``.

Through ``job.start`` (the ``write_fn`` path) that is three Spark jobs
per micro-batch, as read from the status store in a traced
``perfbench`` ``stream_trickle`` run (``spark.jobs_per_op = 3.0``):
AQE's shuffle-map job (scan of carried state + batch, shuffle write),
the partitioned write (its map stage skipped as already run), and the
sink's scan of the fired partition. The publish path skips the third.

State snapshots are versioned BY MICRO-BATCH ID — the standard
foreachBatch idempotence pattern: batch ``b`` always loads snapshot
``s{b-1}`` and (re)writes ``s{b}``, so a replayed batch recomputes
bit-identical output (the ordering below is total); published files
overwrite their own deterministic names, so the topology is
effectively exactly-once into a file sink and at-least-once into
others (job.py docstring).

Ordering: a recomputation needs an EXPLICIT total order to be
replay-safe, so each key's rows are ordered by (counter phantom
first, then carried tail in buffered order, then ``order_col``) —
with the Kafka source that is ``topicOffset``, which is exactly
Kafka's per-partition arrival order, i.e. the same order the
reference's FIFO keyed buffers see.

Schema trick that keeps the published files contract-exact: all
three partitions share one schema (cols, window_id, window_pos,
flush_reason); ``window_pos`` doubles as the tail's buffer position,
``window_id`` doubles as the ctr row's next-window counter, and
``_part`` is the partition column (not in the files) — so the fired
partition's files carry EXACTLY the output schema (batch columns +
window_id/window_pos/flush_reason) and can be linked into the
landing zone untouched.

Scale: per batch the only data-sized work is one shuffle + one
partitioned write of the batch itself; carried state is one counter
row plus ≤N−1 tail rows per key — megabytes at millions of keys. At
100 TB the snapshot dir lives on the object store (same parquet
writes; publish-by-rename is the object-store commit pattern); GC
keeps exactly two versions.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_WINDOW_SIZE = 20  # reference prod default, KafakToClickhouse.scala:57

_OK = "_OK"  # snapshot commit marker, written last


def _snap(state_dir: str, batch_id: int) -> str:
    return os.path.join(state_dir, f"s{batch_id}")


def _committed(path: str) -> bool:
    return os.path.exists(os.path.join(path, _OK))


def _rows_schema(batch_schema: T.StructType) -> T.StructType:
    return T.StructType(
        list(batch_schema.fields)
        + [
            T.StructField("window_id", T.LongType()),
            T.StructField("window_pos", T.IntegerType()),
            T.StructField("flush_reason", T.StringType()),
            T.StructField("_part", T.StringType()),
        ]
    )


def _read_part(
    spark: SparkSession,
    snap: str,
    part: str,
    rows_schema: T.StructType,
) -> DataFrame:
    """One `_part=` partition of a snapshot (empty frame if the
    partition wrote no rows and hence no directory)."""
    part_dir = os.path.join(snap, "rows", f"_part={part}")
    if not os.path.isdir(part_dir):
        # None (not an empty frame): a bare createDataFrame([], schema)
        # is RDD-backed with defaultParallelism partitions, adding
        # cores-many no-op tasks to every downstream union stage —
        # callers skip the union branch instead.
        return None
    return (
        spark.read.schema(rows_schema)
        .option("basePath", os.path.join(snap, "rows"))
        .parquet(part_dir)
    )


def _load_state(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    batch_schema: T.StructType,
) -> tuple[DataFrame, DataFrame]:
    """(pending tail rows — buffer position in ``window_pos``, counter
    rows — next window id in ``window_id``) as of BEFORE ``batch_id``.
    Batch 0 starts empty; any later batch must find the committed
    predecessor snapshot — a missing one means the state dir diverged
    from the checkpoint, which silently restarting windows from zero
    would corrupt, so raise instead."""
    rows_schema = _rows_schema(batch_schema)
    if batch_id == 0:
        return None, None
    prev = _snap(state_dir, batch_id - 1)
    if not _committed(prev):
        raise ValueError(
            f"no committed state snapshot {prev} for batch {batch_id} "
            "(checkpoint/state divergence)"
        )
    return (
        _read_part(spark, prev, "tail", rows_schema),
        _read_part(spark, prev, "ctr", rows_schema),
    )


def apply_count_window_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    key: str = "essCode",
    n: int = DEFAULT_WINDOW_SIZE,
    order_col: str = "topicOffset",
    shuffle_partitions: int | None = None,
    timeout_ms: int | None = None,
    batch_time_ms: int | None = None,
) -> DataFrame:
    """One micro-batch of the JVM count window: commits the successor
    state snapshot (one shuffle + one partitioned write) and
    returns the FIRED rows (batch columns + window_id/window_pos/
    flush_reason — the output contract) as a
    scan over the snapshot's fired partition. A failure anywhere
    replays the batch, which deterministically recomputes the
    identical snapshot and fired rows from ``s{b-1}``.

    ``shuffle_partitions`` sizes the window shuffle to the MICRO-BATCH
    (e.g. 8 for ~100k-row batches), not to the session default that is
    tuned for full-table scans: with AQE's parallelism-first coalescing
    the default fans a megabyte batch into cores×3 tiny files whose
    per-task/per-file overhead swamps the data. Set it ≈
    batch_bytes / 64 MB on a real deployment; None keeps the session
    value.

    ``timeout_ms`` enables the partial-window flush (SURVEY §4.3 — the
    fix for the reference's forever-stuck partial windows): the ctr
    row's otherwise-unused ``flush_reason`` slot stores the key's
    last-activity clock (the "doubles-as" packing the schema trick in
    the module docstring already uses for window_id/window_pos), and a
    key that receives NO rows in this batch while
    ``batch_time_ms − last_activity ≥ timeout_ms`` fires its buffered
    tail as one partial window (``flush_reason='timeout'``, positions
    0..len−1) at its current counter and drops its state, so its
    window counter restarts at 0 on the next arrival.
    ``batch_time_ms`` is the batch's clock in ms ≥ 0 (required when
    ``timeout_ms`` is set); with a deterministic clock (e.g. max
    event-time of the batch) replays stay bit-identical, with wall
    clock a replay may flush at a different boundary — the
    at-least-once caveat of any processing-time timer."""
    if timeout_ms is not None and (batch_time_ms is None or batch_time_ms < 0):
        raise ValueError("timeout_ms requires batch_time_ms >= 0")
    spark = batch_df.sparkSession
    cols = batch_df.columns
    pending, ctr = _load_state(spark, state_dir, batch_id, batch_df.schema)

    # Total per-key order: counter phantom first (_src −1), carried
    # tail next in buffered order (_src 0), then this batch's rows by
    # order_col (_src 1) — replay-deterministic. The phantom carries
    # the key's next-window counter in _ctr_val; data rows carry null.
    # Absent state partitions contribute NO union branch (None), so
    # batch 0 and evenly-divided batches stay single-source plans.
    branches = []
    if ctr is not None:
        branches.append(
            ctr.select(
                *cols,
                F.lit(-1).alias("_src"),
                F.lit(-1).cast("long").alias("_ord"),
                F.col("window_id").alias("_ctr_val"),
                # last-activity clock, packed into the ctr row's
                # flush_reason slot by the previous batch (NULL on
                # snapshots written before timeouts were enabled —
                # such keys never expire until their next arrival)
                F.col("flush_reason").cast("long").alias("_ctr_ts"),
            )
        )
    if pending is not None:
        branches.append(
            pending.select(
                *cols,
                F.lit(0).alias("_src"),
                F.col("window_pos").cast("long").alias("_ord"),
                F.lit(None).cast("long").alias("_ctr_val"),
                F.lit(None).cast("long").alias("_ctr_ts"),
            )
        )
    branches.append(
        batch_df.select(
            *cols,
            F.lit(1).alias("_src"),
            F.col(order_col).cast("long").alias("_ord"),
            F.lit(None).cast("long").alias("_ctr_val"),
            F.lit(None).cast("long").alias("_ctr_ts"),
        )
    )
    unioned = branches[0]
    for b in branches[1:]:
        unioned = unioned.unionByName(b)
    # ALL window functions share one (partition, order) spec — the
    # whole-partition aggregates use an explicit unbounded frame so
    # they ride the same WindowExec (hence the same single sort) as
    # row_number.
    ordered = Window.partitionBy(key).orderBy("_src", "_ord")
    whole = ordered.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # The window annotations are one select (chained withColumn calls
    # re-analyse the whole plan once each). The counter row is MINTED
    # in a second projection — a generator cannot take window
    # expressions — by exploding each key's last row into a data role
    # + a counter role: row duplication without a second pass over the
    # shuffle (the union-two-filters alternative costs a full extra
    # WindowExec + sort).
    ann = unioned.select(
        *cols,
        "_src",
        F.row_number().over(ordered).alias("_rn"),
        F.count(F.lit(1)).over(whole).alias("_cnt"),
        F.sum((F.col("_src") == -1).cast("int")).over(whole).alias("_nph"),
        F.coalesce(F.max("_ctr_val").over(whole), F.lit(0)).alias("_base"),
        F.max((F.col("_src") == 1).cast("int")).over(whole).alias("_new"),
        F.max("_ctr_ts").over(whole).alias("_last_ts"),
    ).withColumn(
        "_role",
        F.explode(
            F.when(
                F.col("_rn") == F.col("_cnt"),
                F.array(F.lit("d"), F.lit("c")),
            ).otherwise(F.array(F.lit("d")))
        ),
    )
    idx = F.col("_rn") - 1 - F.col("_nph")
    n_data = F.col("_cnt") - F.col("_nph")
    fired_rows = (n_data / n).cast("long") * n
    is_fired = idx < fired_rows
    next_window = F.col("_base") + (n_data / n).cast("long")
    is_ctr = F.col("_role") == "c"
    # Timeout expiry: a key is expired iff it saw no batch rows AND
    # its last-activity clock is old enough. Expired keys fire their
    # whole tail as ONE partial window at the base counter (positions
    # = buffered order) and mint NO ctr row — state removed, counter
    # resets on the next arrival.
    #
    # The clock enters the plan only as STRING literals. Spark inlines
    # long literals into the generated Java, and the codegen cache is
    # keyed on the generated source text, so a long clock (or a cast
    # of a string one, which constant folding turns back into a long)
    # would compile new classes on every batch; string literals are
    # passed by reference, so steady batches reuse the same classes.
    # Zero-padded to 20 characters, clocks ≥ 0 compare as strings in
    # numeric order, and a negative deadline's leading '-' sorts below
    # every padded clock.
    if timeout_ms is None:
        expired = F.lit(False)
        ctr_ts = F.lit(None).cast("string")
    else:
        last_ts = F.col("_last_ts").cast("string")
        # last_ts ≤ batch_time_ms − timeout_ms
        expired = (
            (F.col("_new") == 0)
            & F.col("_last_ts").isNotNull()
            & (
                F.lpad(last_ts, 20, "0")
                <= F.lit(f"{batch_time_ms - timeout_ms:020d}")
            )
        )
        # activity clock forward: reset on data, carried while idle
        ctr_ts = F.when(
            F.col("_new") == 1, F.lit(str(batch_time_ms))
        ).otherwise(last_ts)

    rows = ann.filter(
        (is_ctr & ~expired) | (~is_ctr & (F.col("_src") >= 0))
    ).select(
        *cols,
        # window_id doubles as the ctr row's next-window counter
        F.when(is_ctr, next_window)
        .when(expired, F.col("_base"))
        .when(is_fired, F.col("_base") + (idx / n).cast("long"))
        .alias("window_id"),
        # window_pos doubles as the tail's buffer position (0..n−2)
        F.when(is_ctr, F.lit(-1))
        .when(expired, idx)
        .when(is_fired, idx % n)
        .otherwise(idx - fired_rows)
        .cast("int")
        .alias("window_pos"),
        # flush_reason doubles as the ctr row's last-activity clock
        F.when(~is_ctr & expired, F.lit("timeout"))
        .when(~is_ctr & is_fired, F.lit("count"))
        .when(is_ctr, ctr_ts)
        .alias("flush_reason"),
        F.when(is_ctr, F.lit("ctr"))
        .when(expired | is_fired, F.lit("fired"))
        .otherwise(F.lit("tail"))
        .alias("_part"),
    )

    snap = _snap(state_dir, batch_id)
    # Re-running a replayed batch overwrites its own snapshot: drop the
    # commit marker first so a crash mid-rewrite reads as uncommitted,
    # never as a stale-but-marked snapshot.
    try:
        os.remove(os.path.join(snap, _OK))
    except FileNotFoundError:
        pass
    # One shuffle on the key, ONE sort, one partitioned write
    # splitting fired/tail/ctr (AQE runs the shuffle as its own job).
    # Concurrent output writers skip FileFormatWriter's extra sort on
    # the partition column (only 3 values). Conf churn is safe here:
    # foreachBatch handlers run serially within the query.
    tune = {
        "spark.sql.maxConcurrentOutputFileWriters": "4",
    }
    if shuffle_partitions is not None:
        tune["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    prev_conf = {k: spark.conf.get(k, None) for k in tune}
    for k, v in tune.items():
        spark.conf.set(k, v)
    try:
        rows.write.mode("overwrite").partitionBy("_part").parquet(
            os.path.join(snap, "rows")
        )
    finally:
        for k, v in prev_conf.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    with open(os.path.join(snap, _OK), "w"):
        pass
    shutil.rmtree(_snap(state_dir, batch_id - 2), ignore_errors=True)

    rows_schema = _rows_schema(batch_df.schema)
    fired = _read_part(spark, snap, "fired", rows_schema)
    if fired is None:  # batch fired nothing — empty frame, same schema
        fired = spark.createDataFrame([], rows_schema)
    return fired.select(*cols, "window_id", "window_pos", "flush_reason")


def publish_fired_files(
    state_dir: str, batch_id: int, publish_dir: str
) -> int:
    """File-sink fast path: hardlink the fired partition's parquet
    files (written ONCE by :func:`apply_count_window_batch`; their
    schema is exactly the output contract — see module docstring)
    into ``publish_dir`` under deterministic per-batch names. A
    replayed batch first removes its own earlier names, so the
    landing dir converges to exactly-once. Hardlinks survive snapshot
    GC (inode refcount); cross-device falls back to copy. Returns the
    number of files published. On an object store this step is the
    same rename/copy a FileStreamSink commit performs."""
    os.makedirs(publish_dir, exist_ok=True)
    prefix = f"b{batch_id}-"
    for name in os.listdir(publish_dir):
        if name.startswith(prefix):
            os.remove(os.path.join(publish_dir, name))
    fired_dir = os.path.join(_snap(state_dir, batch_id), "rows", "_part=fired")
    if not os.path.isdir(fired_dir):
        return 0
    files = sorted(
        f for f in os.listdir(fired_dir) if f.endswith(".parquet")
    )
    for i, name in enumerate(files):
        src = os.path.join(fired_dir, name)
        dst = os.path.join(publish_dir, f"{prefix}{i:05d}.snappy.parquet")
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)
    return len(files)


def run_count_window_jvm(
    clean: DataFrame,
    write_fn: Callable[[DataFrame], None] | None = None,
    checkpoint_dir: str = "",
    state_dir: str = "",
    key: str = "essCode",
    n: int = DEFAULT_WINDOW_SIZE,
    order_col: str = "topicOffset",
    available_now: bool = False,
    publish_dir: str | None = None,
    shuffle_partitions: int | None = None,
    timeout_ms: int | None = None,
):
    """Wire the JVM count window into a streaming query: the clean
    ingest stream drains through ``foreachBatch`` where each batch is
    windowed (pure JVM ops) and the fired rows go to the sink —
    either ``publish_dir`` (parquet landing zone, zero-copy hardlink
    publish of the already-written fired partition) or ``write_fn``
    (arbitrary sink, e.g. the JDBC writer; one extra scan of the
    fired partition). Exactly one of the two must be given.

    A failure anywhere in the batch replays it: the snapshot for
    batch ``b`` is always recomputed from ``s{b-1}`` (never read
    back), and the total ordering makes the recomputation — fired
    rows included — bit-identical, so a file sink converges to
    exactly-once (deterministic published names) and other sinks see
    at-least-once delivery of identical rows (pair with an
    idempotent sink).

    ``timeout_ms`` enables the partial-window flush; each batch's
    clock is the wall clock when the batch starts. With wall clock a
    replay may flush at a different boundary than the first attempt
    — the at-least-once caveat of any processing-time timer. Timeouts
    are safe under ``availableNow``: flushes piggyback on data
    batches instead of timer-driven empty batches, so finite drains
    still terminate (a quiet key's partial flushes on the NEXT batch
    that arrives after the deadline, or stays in state if the drain
    ends first)."""
    if (write_fn is None) == (publish_dir is None):
        raise ValueError("pass exactly one of write_fn / publish_dir")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_time_ms = None
        if timeout_ms is not None:
            batch_time_ms = int(time.time() * 1000)
        fired = apply_count_window_batch(
            batch_df,
            batch_id,
            state_dir,
            key=key,
            n=n,
            order_col=order_col,
            shuffle_partitions=shuffle_partitions,
            timeout_ms=timeout_ms,
            batch_time_ms=batch_time_ms,
        )
        if publish_dir is not None:
            publish_fired_files(state_dir, batch_id, publish_dir)
        else:
            write_fn(fired)

    writer = (
        clean.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
