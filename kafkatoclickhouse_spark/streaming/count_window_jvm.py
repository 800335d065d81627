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
        → the fired partition scans out through the sink
          (``write_fn``, e.g. the JDBC writer) under bounded retry
          (``sink.write_with_retry``).

Everything from the union to the ``_part`` column is ONE generated
``spark.sql`` statement over temp views of the batch and the two
state partitions (``_window_sql``), so the driver parses and analyses
the plan once per micro-batch, where a chain of DataFrame calls
analyses every intermediate Dataset again; on a small batch that
driver work is a large share of the latency. Column names are
backtick-quoted into the text, and the
batch clock enters it only as string literals, so a steady batch
compiles no new code (see the timeout comment in ``_window_sql``).

That is three Spark jobs per micro-batch, as read from the status
store in a traced ``perfbench`` ``stream_trickle`` run
(``spark.jobs_per_op = 3.0``): AQE's shuffle-map job (scan of carried
state + batch, shuffle write), the partitioned write (its map stage
skipped as already run), and the sink's scan of the fired partition.

State snapshots are versioned BY MICRO-BATCH ID — the standard
foreachBatch idempotence pattern: batch ``b`` always loads snapshot
``s{b-1}`` and (re)writes ``s{b}``, so a replayed batch recomputes
bit-identical output (the ordering below is total). The sink thus
sees at-least-once delivery of identical rows, which an idempotent
sink turns into exactly-once (job.py docstring).

Ordering: a recomputation needs an EXPLICIT total order to be
replay-safe, so each key's rows are ordered by (counter phantom
first, then carried tail in buffered order, then ``order_col``) —
with the Kafka source that is ``topicOffset``, which is exactly
Kafka's per-partition arrival order, i.e. the same order the
reference's FIFO keyed buffers see.

Schema trick that keeps the fired files contract-exact: all three
partitions share one schema (cols, window_id, window_pos,
flush_reason); ``window_pos`` doubles as the tail's buffer position,
``window_id`` doubles as the ctr row's next-window counter, and
``_part`` is the partition column (not in the files) — so the fired
partition's files carry EXACTLY the output schema (batch columns +
window_id/window_pos/flush_reason) and the sink reads them back with
no projection.

Scale: carried state is one counter row plus ≤N−1 tail rows per
key — megabytes at millions of keys — but every batch shuffles and
rewrites all of it, not only the keys the batch touched. At
100 TB the snapshot dir lives on the object store next to the
checkpoint (same parquet writes); GC keeps exactly two versions.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from kafkatoclickhouse_spark.streaming import sink

DEFAULT_WINDOW_SIZE = 20  # reference prod default, KafakToClickhouse.scala:57
DEFAULT_TIMEOUT_MS = 60_000  # partial-window flush after a minute idle

_OK = "_OK"  # snapshot commit marker, written last


def _snap(state_dir: str, batch_id: int) -> str:
    return os.path.join(state_dir, f"s{batch_id}")


def _committed(path: str) -> bool:
    return os.path.exists(os.path.join(path, _OK))


def _out_schema(batch_schema: T.StructType) -> T.StructType:
    """The schema of every snapshot partition's files: the batch
    columns plus window_id/window_pos/flush_reason (``_part`` lives in
    the directory names, not in the files)."""
    return T.StructType(
        list(batch_schema.fields)
        + [
            T.StructField("window_id", T.LongType()),
            T.StructField("window_pos", T.IntegerType()),
            T.StructField("flush_reason", T.StringType()),
        ]
    )


def _read_part(
    spark: SparkSession,
    snap: str,
    part: str,
    schema: T.StructType,
) -> DataFrame | None:
    """One ``_part=`` partition of a snapshot read with ``schema``, or
    None if the partition wrote no rows and hence no directory."""
    part_dir = os.path.join(snap, "rows", f"_part={part}")
    if not os.path.isdir(part_dir):
        # None (not an empty frame): a bare createDataFrame([], schema)
        # is RDD-backed with defaultParallelism partitions, adding
        # cores-many no-op tasks to every downstream union stage —
        # callers skip the union branch instead.
        return None
    return spark.read.schema(schema).parquet(part_dir)


def _load_state(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    batch_schema: T.StructType,
) -> tuple[DataFrame | None, DataFrame | None]:
    """(pending tail rows — buffer position in ``window_pos``, counter
    rows — next window id in ``window_id``) as of BEFORE ``batch_id``.
    Batch 0 starts empty; any later batch must find the committed
    predecessor snapshot — a missing one means the state dir diverged
    from the checkpoint, which silently restarting windows from zero
    would corrupt, so raise instead."""
    if batch_id == 0:
        return None, None
    prev = _snap(state_dir, batch_id - 1)
    if not _committed(prev):
        raise ValueError(
            f"no committed state snapshot {prev} for batch {batch_id} "
            "(checkpoint/state divergence)"
        )
    schema = _out_schema(batch_schema)
    return (
        _read_part(spark, prev, "tail", schema),
        _read_part(spark, prev, "ctr", schema),
    )


def _q(name: str) -> str:
    """``name`` as a backtick-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _window_sql(
    cols: list[str],
    key: str,
    n: int,
    order_col: str,
    batch: str,
    tail: str | None,
    ctr: str | None,
    timeout_ms: int | None,
    batch_time_ms: int | None,
) -> str:
    """The whole window step as one statement over the views ``batch``,
    ``tail`` and ``ctr`` (None: the partition is absent). Its rows are
    the successor snapshot: batch columns + window_id/window_pos/
    flush_reason + ``_part``."""
    data = ", ".join(_q(c) for c in cols)
    # Total per-key order: counter phantom first (_src −1), carried
    # tail next in buffered order (_src 0), then this batch's rows by
    # order_col (_src 1) — replay-deterministic. The phantom carries
    # the key's next-window counter in _ctr_val and its last-activity
    # clock, packed into the ctr row's flush_reason slot by the
    # previous batch, in _ctr_ts (NULL on snapshots written before
    # timeouts were enabled — such keys never expire until their next
    # arrival); data rows carry nulls. An absent state partition
    # contributes NO union branch, so batch 0 scans only the batch.
    branches = []
    if ctr is not None:
        branches.append(
            f"SELECT {data}, -1 AS _src, CAST(-1 AS BIGINT) AS _ord,"
            " window_id AS _ctr_val,"
            f" CAST(flush_reason AS BIGINT) AS _ctr_ts FROM {ctr}"
        )
    if tail is not None:
        branches.append(
            f"SELECT {data}, 0 AS _src, CAST(window_pos AS BIGINT) AS _ord,"
            " CAST(NULL AS BIGINT) AS _ctr_val,"
            f" CAST(NULL AS BIGINT) AS _ctr_ts FROM {tail}"
        )
    branches.append(
        f"SELECT {data}, 1 AS _src, CAST({_q(order_col)} AS BIGINT) AS _ord,"
        " CAST(NULL AS BIGINT) AS _ctr_val,"
        f" CAST(NULL AS BIGINT) AS _ctr_ts FROM {batch}"
    )
    unioned = "\n  UNION ALL\n  ".join(branches)

    n = int(n)
    idx = "(_rn - 1 - _nph)"
    n_data = "(_cnt - _nph)"
    fired_rows = f"(CAST({n_data} / {n} AS BIGINT) * {n})"
    is_fired = f"({idx} < {fired_rows})"
    next_window = f"(_base + CAST({n_data} / {n} AS BIGINT))"
    is_ctr = "(_role = 'c')"
    # Timeout expiry: a key is expired iff it saw no batch rows AND
    # its last-activity clock is old enough. Expired keys fire their
    # whole tail as ONE partial window at the base counter (positions
    # = buffered order) and mint NO ctr row — state removed, counter
    # resets on the next arrival.
    #
    # The clock enters the statement only as STRING literals. Spark
    # inlines long literals into the generated Java, and the codegen
    # cache is keyed on the generated source text, so a long clock (or
    # a cast of a string one, which constant folding turns back into a
    # long) would compile new classes on every batch; string literals
    # are passed by reference, so steady batches reuse the same
    # classes. Zero-padded to 20 characters, clocks ≥ 0 compare as
    # strings in numeric order, and a negative deadline's leading '-'
    # sorts below every padded clock.
    if timeout_ms is None:
        expired = "false"
        ctr_ts = "CAST(NULL AS STRING)"
    else:
        deadline = f"{int(batch_time_ms) - int(timeout_ms):020d}"
        # _last_ts ≤ batch_time_ms − timeout_ms
        expired = (
            "(_new = 0 AND _last_ts IS NOT NULL"
            f" AND lpad(CAST(_last_ts AS STRING), 20, '0') <= '{deadline}')"
        )
        # activity clock forward: reset on data, carried while idle
        ctr_ts = (
            f"CASE WHEN _new = 1 THEN '{int(batch_time_ms)}'"
            " ELSE CAST(_last_ts AS STRING) END"
        )
    partition = f"PARTITION BY {_q(key)} ORDER BY _src, _ord"
    # ALL window functions share one (partition, order) spec — the
    # whole-partition aggregates use an explicit unbounded frame so
    # they ride the same WindowExec (hence the same single sort) as
    # row_number. The counter row is MINTED after the window, in its
    # own CTE — Spark rejects a generator over window expressions in
    # one projection — by exploding each key's last row into a data
    # role + a counter role: row duplication without a second pass
    # over the shuffle (the union-two-filters alternative costs a full
    # extra WindowExec + sort).
    return f"""
WITH unioned AS (
  {unioned}
), annotated AS (
  SELECT {data}, _src,
    row_number() OVER w AS _rn,
    count(1) OVER whole AS _cnt,
    sum(CAST(_src = -1 AS INT)) OVER whole AS _nph,
    coalesce(max(_ctr_val) OVER whole, 0) AS _base,
    max(CAST(_src = 1 AS INT)) OVER whole AS _new,
    max(_ctr_ts) OVER whole AS _last_ts
  FROM unioned
  WINDOW w AS ({partition}),
    whole AS ({partition}
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
), roles AS (
  SELECT * FROM annotated
  LATERAL VIEW explode(
    CASE WHEN _rn = _cnt THEN array('d', 'c') ELSE array('d') END
  ) minted AS _role
)
SELECT {data},
  -- window_id doubles as the ctr row's next-window counter
  CASE WHEN {is_ctr} THEN {next_window}
    WHEN {expired} THEN _base
    WHEN {is_fired} THEN _base + CAST({idx} / {n} AS BIGINT)
  END AS window_id,
  -- window_pos doubles as the tail's buffer position (0..n−2)
  CAST(CASE WHEN {is_ctr} THEN -1
    WHEN {expired} THEN {idx}
    WHEN {is_fired} THEN {idx} % {n}
    ELSE {idx} - {fired_rows}
  END AS INT) AS window_pos,
  -- flush_reason doubles as the ctr row's last-activity clock
  CASE WHEN NOT {is_ctr} AND {expired} THEN 'timeout'
    WHEN NOT {is_ctr} AND {is_fired} THEN 'count'
    WHEN {is_ctr} THEN {ctr_ts}
  END AS flush_reason,
  CASE WHEN {is_ctr} THEN 'ctr'
    WHEN {expired} OR {is_fired} THEN 'fired'
    ELSE 'tail'
  END AS _part
FROM roles
WHERE ({is_ctr} AND NOT {expired}) OR (NOT {is_ctr} AND _src >= 0)
"""


def apply_count_window_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    key: str = "essCode",
    n: int = DEFAULT_WINDOW_SIZE,
    order_col: str = "topicOffset",
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
    pending, ctr = _load_state(spark, state_dir, batch_id, batch_df.schema)

    # The statement reads the batch and the state partitions through
    # temp views under per-call names, which cannot clash with the
    # caller's views; they are dropped as soon as the statement is
    # analysed, which has resolved them into its plan.
    token = uuid.uuid4().hex
    views = []

    def view(tag: str, df: DataFrame | None) -> str | None:
        if df is None:
            return None
        name = f"_cw_{tag}_{token}"
        df.createOrReplaceTempView(name)
        views.append(name)
        return name

    try:
        rows = spark.sql(
            _window_sql(
                batch_df.columns,
                key,
                n,
                order_col,
                batch=view("batch", batch_df),
                tail=view("tail", pending),
                ctr=view("ctr", ctr),
                timeout_ms=timeout_ms,
                batch_time_ms=batch_time_ms,
            )
        )
    finally:
        for name in views:
            spark.catalog.dropTempView(name)

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
    rows.write.mode("overwrite").partitionBy("_part").parquet(
        os.path.join(snap, "rows")
    )
    with open(os.path.join(snap, _OK), "w"):
        pass
    shutil.rmtree(_snap(state_dir, batch_id - 2), ignore_errors=True)

    out_schema = _out_schema(batch_df.schema)
    fired = _read_part(spark, snap, "fired", out_schema)
    if fired is None:  # batch fired nothing — empty frame, same schema
        fired = spark.createDataFrame([], out_schema)
    return fired


def run_count_window_jvm(
    clean: DataFrame,
    write_fn: Callable[[DataFrame], None],
    checkpoint_dir: str,
    key: str = "essCode",
    n: int = DEFAULT_WINDOW_SIZE,
    order_col: str = "topicOffset",
    available_now: bool = False,
    timeout_ms: int | None = DEFAULT_TIMEOUT_MS,
    max_retries: int = sink.DEFAULT_MAX_RETRIES,
):
    """Wire the JVM count window into a streaming query: the clean
    ingest stream drains through ``foreachBatch`` where each batch is
    windowed (pure JVM ops) and the fired rows go to ``write_fn`` (any
    ``(DataFrame) -> None`` sink, e.g. the JDBC writer) through
    ``sink.write_with_retry`` with up to ``max_retries`` attempts.

    The state snapshots live in ``<checkpoint_dir>/jvm_window_state``:
    in the checkpoint's durability domain, so the two move together as
    the missing-snapshot guard in ``_load_state`` assumes.

    A failure anywhere in the batch replays it: the snapshot for
    batch ``b`` is always recomputed from ``s{b-1}`` (never read
    back), and the total ordering makes the recomputation — fired
    rows included — bit-identical, so the sink sees at-least-once
    delivery of identical rows (pair with an idempotent sink for
    exactly-once).

    ``timeout_ms`` (default one minute; None keeps the reference's
    count-only trigger) enables the partial-window flush; each batch's
    clock is the wall clock when the batch starts. With wall clock a
    replay may flush at a different boundary than the first attempt
    — the at-least-once caveat of any processing-time timer. Timeouts
    are safe under ``availableNow``: flushes piggyback on data
    batches instead of timer-driven empty batches, so finite drains
    still terminate (a quiet key's partial flushes on the NEXT batch
    that arrives after the deadline, or stays in state if the drain
    ends first).

    The window's write setting goes, once, onto the query's own clone
    of the session (Structured Streaming runs every micro-batch on
    it), so the caller's session conf is left as it was. Concurrent
    output writers skip FileFormatWriter's sort on the partition
    column (only 3 values) above the key exchange."""
    state_dir = os.path.join(checkpoint_dir, "jvm_window_state")
    tuned = False

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal tuned
        if not tuned:
            batch_df.sparkSession.conf.set(
                "spark.sql.maxConcurrentOutputFileWriters", "4"
            )
            tuned = True
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
            timeout_ms=timeout_ms,
            batch_time_ms=batch_time_ms,
        )
        sink.write_with_retry(write_fn, fired, max_retries=max_retries)

    writer = (
        clean.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
