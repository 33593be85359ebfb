"""Structured Streaming variants of the event-table operators.

The reference is batch-only (SURVEY.md §2.B.8: no watermarks, no
event-time windows); the north star adds a stream-shaped ``events`` table.
These builders express the batch queries (queries.py events_*) as
streaming plans — same logical semantics, incremental execution:

- tumbling/sliding window counts with event-time watermarks (late data
  dropped after the watermark horizon);
- session windows via ``F.session_window`` (gap-based, the streaming twin
  of the batch lag/cumsum sessionization);
- keep-latest-per-key dedup via ``dropDuplicatesWithinWatermark``.

Tests run them with ``trigger(availableNow=True)`` against the parquet
fixtures — the same code deploys against Kafka by swapping the reader.

Scale notes: state-store size is bounded by the watermark horizon ×
key cardinality; shuffle partitioning of streaming aggregates follows
``spark.sql.shuffle.partitions`` at plan time, so it must be set before
the first micro-batch (done in session.get_spark).
"""

from __future__ import annotations

import atexit
import shutil
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbt_ci_demo_spark.session import checkpoint

# The ``state_partitions`` override mutates SESSION-global conf
# (spark.sql.shuffle.partitions) around a stream's start/termination.
# That is correct single-threaded, but two streams started concurrently
# from one session (the engine ships a threaded DAG runner) could
# interleave set/restore and bake the wrong partition count into a
# query's state layout — or "restore" the other stream's override as
# the session default. One module lock serializes the whole
# set/run/restore window (VERDICT r14 #5); streams that pass no
# override never take it.
_CONF_OVERRIDE_LOCK = threading.Lock()


class _shuffle_partitions_override:
    """Context manager: hold ``spark.sql.shuffle.partitions`` at ``n``
    for the duration, under the module lock when ``n`` is not None (a
    no-op, lock-free passthrough otherwise)."""

    def __init__(self, spark: SparkSession, n: int | None):
        self._spark, self._n, self._prev = spark, n, None

    def __enter__(self):
        if self._n is not None:
            _CONF_OVERRIDE_LOCK.acquire()
            try:
                self._prev = self._spark.conf.get("spark.sql.shuffle.partitions")
                self._spark.conf.set("spark.sql.shuffle.partitions", str(self._n))
            except BaseException:
                # __exit__ never runs when __enter__ raises
                _CONF_OVERRIDE_LOCK.release()
                raise
        return self

    def __exit__(self, *exc):
        if self._n is not None:
            try:
                self._spark.conf.set(
                    "spark.sql.shuffle.partitions", self._prev
                )
            finally:
                _CONF_OVERRIDE_LOCK.release()
        return False

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (1 file per trigger keeps
    micro-batches deterministic in tests). The fixture's ``ts`` is stored as
    parquet TIMESTAMP(µs); the streaming source must declare the schema
    up front (no inference), so it is pinned here to match
    sources/catalog.py's batch read."""
    # The fixture is a single parquet FILE; the streaming file source
    # requires a directory, so stream the parent dir with a glob filter.
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Windowed count/sum per event_type with an event-time watermark —
    the streaming twin of queries.events_tumbling_hourly (pass ``slide``
    for hopping windows: each event lands in window/slide panes, state
    grows by the same factor, still bounded by the watermark horizon)."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based session windows per user — the streaming twin of
    queries.events_sessionize (same 30-minute inactivity semantics,
    maintained incrementally in the state store)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(
    events: DataFrame, watermark: str = "2 hours", keys: list[str] | None = None
) -> DataFrame:
    """Streaming exact dedup on ``keys`` (default event_id) within the
    watermark horizon — the bounded-state form of keep-first dedup.

    Late-data posture (pinned empirically, r09): unlike the windowed
    aggregations, ``dropDuplicatesWithinWatermark`` ADMITS rows that
    arrive behind the watermark — it only bounds how long dedup state is
    retained, so a late duplicate beyond the horizon can re-emit. That
    is by design (the operator's contract is "deduplicated within the
    horizon", not "drop late"); late-data LOSS accounting therefore
    lives on the aggregation path (see stream_late_data_accounting)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (n_events, sum_value) maintained in the state store across
    micro-batches, emitted (update mode) after each batch touches the key.

    Accumulation is exact: values are quantized to 6 decimal places as
    Python Decimals before summing (matching ``CAST(value AS
    DECIMAL(30,6))`` in SQL), so emitted doubles are order-independent
    and oracle-comparable. State per key is two scalars — store size is
    O(distinct users), independent of event volume; at 100 TB the state
    store shards by the groupBy key across executors (RocksDB-backed in
    production configs)."""
    from decimal import Decimal

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("micros", T.LongType())]
    )
    q6 = Decimal("0.000001")

    def update(key, pdfs, state: GroupState):
        n, micros = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # SQL NULL doubles arrive as NaN through Arrow; SUM skips
            # them (the batch twin's semantics) while COUNT(*) above
            # counts the row. Without the guard Decimal('nan') raised
            # InvalidOperation at int(), failing the whole micro-batch
            # on one nullable value (r10 review finding).
            for v in pdf["value"].dropna():
                micros += int(Decimal(str(v)).quantize(q6) * 1_000_000)
        state.update((n, micros))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [micros / 1_000_000]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_stream_interval_join(
    spark: SparkSession,
    sf_dir: str,
    left_type: str = "purchase",
    right_type: str = "click",
    lookback: str = "24 hours",
    watermark: str = "48 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join: for each ``left_type``
    event, every ``right_type`` event by the same user within the
    preceding ``lookback`` — streaming attribution (purchase ← clicks).

    Both sides carry event-time watermarks and the join condition bounds
    event time on both ends, so Spark can expire join state: the left
    buffer holds only rows younger than the watermark, the right buffer
    only rows inside watermark + lookback. State is bounded by input rate
    × horizon regardless of total stream length — the property that makes
    this run forever on an unbounded source. At 100 TB-a-day rates the
    join shuffles both sides by user_id once; skewed users hit the same
    AQE/salting toolbox as the batch join.

    Semantics pinned by the batch twin: an interval self-join with
    identical bounds (see queries_media.stream_interval_join's oracle)."""
    left = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == left_type)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    right = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == right_type)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("click_user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
    )
    return joined.select("purchase_id", "click_id", "user_id", "purchase_ts", "click_ts")


def _stream_ckpt_dir(name: str) -> str:
    """Per-query streaming checkpointLocation in a temp dir removed at
    interpreter exit — repeated oracle/bench invocations in a long
    session must not accumulate offsets/commits dirs on local disk."""
    import tempfile

    path = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def adaptive_state_partitions(spark: SparkSession, feed_path: str) -> int:
    """Size a stream's STATE partition count from its input volume:
    ceil(input bytes / 32 MB) clamped to [1, defaultParallelism].

    A stateful streaming operator creates one state store per shuffle
    partition, and every micro-batch pays one store load + delta write +
    commit PER STORE regardless of how little state it holds — so the
    partition count is a real production sizing knob (state volume per
    store), not a cosmetic one. The session default (32) is the BATCH
    shuffle default; a KB-scale feed genuinely needs 1-2 stores (measured
    at sf0.1: the 3-micro-batch late-accounting pipeline drops ~40% of
    its wall time moving from 32 stores to a size-derived count), while
    at production volume the same formula saturates at the cluster's
    parallelism. Purely a physical-layout choice: aggregation results
    are partition-count-independent."""
    fs, path_cls = _feed_fs(spark, feed_path)
    summary = fs.getContentSummary(path_cls(feed_path))
    n = int(summary.getLength() // (32 * 1024 * 1024)) + 1
    return max(1, min(n, spark.sparkContext.defaultParallelism))


def _feed_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    path_cls = jvm.org.apache.hadoop.fs.Path
    fs = path_cls(path).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path_cls


def run_to_memory(
    spark: SparkSession,
    stream_df: DataFrame,
    name: str,
    output_mode: str = "append",
    return_query: bool = False,
    state_partitions: int | None = None,
):
    """Execute a streaming plan to completion over the available input
    (availableNow trigger) into an in-memory sink; returns the result as a
    batch DataFrame. Test/driver harness helper. With ``return_query``,
    also returns the (terminated) StreamingQuery handle so callers can
    read its progress metrics (e.g. late-data drop accounting).

    ``state_partitions`` (optional): shuffle-partition override applied
    for the DURATION of this streaming run (set before start, restored
    after termination — the partition count is baked into the query's
    state layout at its first batch; the set/run/restore window holds
    the module override lock, so concurrent streams with different
    overrides serialize instead of racing the session conf). Pass
    :func:`adaptive_state_partitions` of the feed to size state stores
    from input volume; None keeps the session default. Results are
    identical either way — this moves per-store per-batch commit
    overhead, never values."""
    with _shuffle_partitions_override(spark, state_partitions):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError(
                "streaming query did not complete within 600s - refusing to "
                "read a partial sink as the full result (r10 review finding: "
                "awaitTermination(timeout) returns False, it does not raise)"
            )
    tbl = spark.table(name)
    return (tbl, q) if return_query else tbl


def write_batch_feed(batches: list[DataFrame], name: str = "latefeed") -> str:
    """Write DataFrames as a one-FILE-per-batch streaming feed directory
    whose file modification times force the file source's oldest-first
    listing to process them in list order under ``maxFilesPerTrigger=1``
    — the deterministic multi-micro-batch fixture for watermark/late-data
    semantics. Two timing facts the fixture design must respect (pinned
    empirically, Spark 4.x): the watermark only advances BETWEEN
    micro-batches (batch N runs against the watermark derived from
    batches ≤ N−1), and expired state is evicted at the END of the batch
    whose start-watermark expired it — so late rows are only DROPPED
    from the batch AFTER the one that advanced the watermark past them.
    Fixture setup (single-file writes), not an engine data path."""
    import glob
    import os
    import tempfile

    base = tempfile.mkdtemp(prefix=f"{name}_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    feed = os.path.join(base, "feed")
    os.makedirs(feed)
    t0 = 1_700_000_000  # any fixed epoch; only the ordering matters
    for i, df in enumerate(batches):
        part_dir = os.path.join(base, f"_b{i}")
        df.coalesce(1).write.mode("overwrite").parquet(part_dir)
        src = glob.glob(os.path.join(part_dir, "part-*.parquet"))[0]
        dst = os.path.join(feed, f"batch{i}.parquet")
        shutil.copyfile(src, dst)
        os.utime(dst, (t0 + 60 * i, t0 + 60 * i))
    return feed


def watermark_dropped_rows(query) -> int:
    """Total input rows each stateful operator dropped as too-late,
    summed over every micro-batch of a (terminated) StreamingQuery —
    Spark's own late-data observability surface
    (StreamingQueryProgress.stateOperators[].numRowsDroppedByWatermark).
    This is the number an operator of a 100 TB pipeline alerts on: rows
    silently excluded from results because they arrived behind the
    watermark horizon.

    Retention guard (ADVICE r09): ``query.recentProgress`` retains only
    the last ``spark.sql.streaming.numRecentProgressUpdates`` entries
    (default 100), so a feed with more micro-batches would silently
    undercount. A retained list AT the cap means eviction may already
    have happened and this raises ``ValueError`` instead of returning a
    lower bound dressed as a total — long-running queries must attach
    :class:`WatermarkDropListener` (push-based, unbounded) before
    ``start()`` and read the total there."""
    import json

    prog = list(query.recentProgress)
    cap = _recent_progress_cap()
    if len(prog) >= cap:
        raise ValueError(
            f"watermark_dropped_rows: query retained {len(prog)} progress "
            f"entries, at the spark.sql.streaming.numRecentProgressUpdates "
            f"cap ({cap}) — earlier micro-batches may have been evicted, so "
            "a recentProgress sum would silently undercount. Attach "
            "WatermarkDropListener before start() for unbounded accounting."
        )
    total = 0
    for p in prog:
        d = p if isinstance(p, dict) else json.loads(p.json)
        for op in d.get("stateOperators", []):
            total += int(op.get("numRowsDroppedByWatermark", 0) or 0)
    return total


def _recent_progress_cap() -> int:
    """The session's recentProgress retention cap (default 100)."""
    spark = SparkSession.getActiveSession()
    try:
        return int(spark.conf.get("spark.sql.streaming.numRecentProgressUpdates"))
    except Exception:
        return 100


try:
    from pyspark.sql.streaming import StreamingQueryListener as _SQL_Listener
except ImportError:  # pragma: no cover — PySpark < 3.4
    _SQL_Listener = object


class WatermarkDropListener(_SQL_Listener):
    """Push-based, unbounded late-drop accounting: accumulates
    ``numRowsDroppedByWatermark`` per query id on EVERY progress event,
    so the total cannot undercount past the ``recentProgress`` retention
    cap the way a post-hoc :func:`watermark_dropped_rows` sum can.

    Usage: ``spark.streams.addListener(listener)`` before ``start()``;
    read ``listener.total(query)`` after the run. Progress events are
    delivered asynchronously on the listener bus — after ``stop()``,
    poll :meth:`total` until it stabilizes (or compare batch ids) before
    asserting exact values. The ingest path is a pure method over the
    progress dict so its arithmetic is unit-testable without a running
    stream."""

    def __init__(self) -> None:
        self._totals: dict[str, int] = {}

    # -- pure core (unit-testable) --
    def ingest(self, progress: dict) -> None:
        qid = str(progress.get("id"))
        add = 0
        for op in progress.get("stateOperators", []):
            add += int(op.get("numRowsDroppedByWatermark", 0) or 0)
        self._totals[qid] = self._totals.get(qid, 0) + add

    def total(self, query_or_id) -> int:
        qid = str(getattr(query_or_id, "id", query_or_id))
        return self._totals.get(qid, 0)

    # -- listener surface --
    def onQueryStarted(self, event) -> None:  # noqa: N802 — Spark API
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802 — Spark API
        import json

        self.ingest(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:  # noqa: N802 — Spark API
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802 — Spark API
        pass


def run_foreach_batch_merge(
    spark: SparkSession,
    stream_df: DataFrame,
    name: str,
    unique_key: list[str],
    state_partitions: int | None = None,
) -> DataFrame:
    """Streaming writer via ``foreachBatch``: each micro-batch MERGEs into
    the target table with the engine's batch merge operator
    (operators/incremental.merge_upsert) — the canonical way to give a
    stream UPSERT semantics on a plain-parquet warehouse (the streaming
    twin of the reference's incremental MERGE materialization,
    default__get_merge_sql manifest.json:1@89014). The accumulated target
    lives as a temp view; per batch, matched keys update and new keys
    insert. Complete output mode means each batch carries current totals,
    so the MERGE is idempotent across batches and restarts; recovery
    rides on checkpointing rather than operator state."""

    from dbt_ci_demo_spark.operators.incremental import merge_upsert

    # foreachBatch executes on the driver but inside a CLONED session, so
    # session-scoped temp views set there are invisible outside; hold the
    # accumulated target in a driver-side reference instead, materialized
    # via checkpoint (the iterative operators' discipline).
    holder = {"target": spark.createDataFrame([], stream_df.schema)}

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        merged = merge_upsert(holder["target"], batch_df, unique_key)
        holder["target"] = checkpoint(merged)

    # ``state_partitions`` (r14): same knob as run_to_memory — the
    # override covers the streaming aggregate's state stores AND, because
    # foreachBatch's cloned session inherits the conf, the per-batch
    # MERGE's shuffles and the checkpointed target's layout (otherwise
    # every batch pays 32-store commits plus a 32+32-map-task merge over
    # key-cardinality-bounded data). Set before start, restored after
    # termination, under the module override lock (r15 — see
    # _shuffle_partitions_override); merge results are
    # partition-count-independent.
    with _shuffle_partitions_override(spark, state_partitions):
        q = (
            stream_df.writeStream.foreachBatch(upsert)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", _stream_ckpt_dir(name))
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError(
                "streaming query did not complete within 600s - refusing to "
                "read a partial sink as the full result (r10 review finding: "
                "awaitTermination(timeout) returns False, it does not raise)"
            )
    return holder["target"]


def run_foreach_batch_cdc(
    spark: SparkSession,
    stream_df: DataFrame,
    name: str,
    unique_key,
    seq_col: str,
    op_col: str = "op",
    stats: dict | None = None,
    state_partitions: int | None = None,
) -> DataFrame:
    """Streaming CDC sink: each micro-batch is applied to the accumulated
    state with the ORDER-INVARIANT versioned merge
    (operators/incremental.cdc_apply_versioned). This is the streaming
    shape of continuous replication: micro-batches may arrive in any
    order (file-source listing order, Kafka partition lag, restarts) and
    may replay after checkpoint recovery — the tombstone-retaining
    max-seq merge makes the final state identical in every case, which
    is exactly the property the foreachBatch contract (at-least-once per
    batch) needs. Consumers read ``cdc_live(state)``; tombstones compact
    away past the replay horizon with ``cdc_compact``.

    The accumulated state lives driver-referenced and is RELIABLE-
    checkpointed per batch (files, not pinned executor blocks — the
    shared iterative-operator discipline), bounded by |keys|."""

    from dbt_ci_demo_spark.operators.incremental import cdc_apply_versioned

    holder = {"state": spark.createDataFrame([], stream_df.schema), "batches": 0}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        merged = cdc_apply_versioned(
            holder["state"], batch_df, unique_key, seq_col, op_col
        )
        holder["state"] = checkpoint(merged)
        holder["batches"] += 1

    # ``state_partitions`` (r14): see run_foreach_batch_merge — sizes the
    # per-batch versioned-merge shuffles and the checkpointed state's
    # layout from the feed instead of the 32-partition batch default;
    # set/run/restore holds the module override lock (r15).
    with _shuffle_partitions_override(spark, state_partitions):
        q = (
            stream_df.writeStream.foreachBatch(apply_batch)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", _stream_ckpt_dir(name))
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError(
                "streaming query did not complete within 600s - refusing to "
                "read a partial sink as the full result (r10 review finding: "
                "awaitTermination(timeout) returns False, it does not raise)"
            )
    if stats is not None:
        stats["batches"] = holder["batches"]
    return holder["state"]
