"""True Structured Streaming execution (SURVEY.md X18-X19, O1).

Batch queries in ``windows.py`` define the semantics; this module runs the
same expressions as real streams:

- file source over the events parquet (schema-pinned — streaming reads
  require an explicit schema),
- event-time watermark bounding state,
- streaming dedup on event_id inside the watermark,
- ``Trigger.AvailableNow`` for catch-up runs — the Spark-native version of
  the reference's daily ``schedule`` loop (etl.py:227-235): each
  invocation processes exactly the files not yet seen, tracked by the
  checkpoint, then stops.

Tests assert stream output == the batch twin (`stream_dedup_window`).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

# ts is parquet TIMESTAMP(NANOS). Spark 4.1+ reads it natively as a
# micros-truncated TIMESTAMP_NTZ; Spark ≤4.0 only reads it under the
# nanosAsLong legacy conf, as a Long of ns-since-epoch. Streaming reads
# require an explicit schema, so the pinned type must branch on the
# runtime version exactly like catalog.table's batch path does —
# otherwise batch and streaming would have asymmetric version support.
def _events_stream_schema() -> StructType:
    ts_type = TimestampNTZType() if _spark_reads_nanos_natively() else LongType()
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def _spark_reads_nanos_natively() -> bool:
    """True on Spark 4.1+, where parquet TIMESTAMP(NANOS) arrives as
    TIMESTAMP_NTZ and the nanosAsLong legacy conf is ignored."""
    import pyspark

    parts = pyspark.__version__.split(".")
    try:
        return (int(parts[0]), int(parts[1])) >= (4, 1)
    except (ValueError, IndexError):
        return True  # unparseable dev version — assume current behavior

# Version-appropriate schema, resolved at import against the installed
# PySpark (kept as a module constant for external callers/tests).
EVENTS_SCHEMA = _events_stream_schema()


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events*.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the events table (one file per micro-batch
    by default; at production scale this is a directory new files land in).
    ts is normalized to TIMESTAMP on both version paths, so every
    downstream watermark/window agrees with the batch twin.
    ``max_files_per_trigger`` caps files per micro-batch — the
    fault-injection tests use 1 to force a multi-batch run over a
    split input so a crash can land BETWEEN batches."""
    from ..catalog import ensure_query_confs

    ensure_query_confs(spark)  # nanosAsLong for the ≤4.0 long-ns path
    reader = spark.readStream.schema(EVENTS_SCHEMA).option(
        "pathGlobFilter", glob
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(sf_dir)
    if isinstance(EVENTS_SCHEMA["ts"].dataType, LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def dedup_hourly_counts(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """X19: watermark → exactly-once dedup on event_id → hourly counts.

    The watermark bounds only the window state: hourly windows that end
    before (max event time − watermark) are finalized and dropped. It
    does NOT bound the dedup state: ``dropDuplicates(["event_id"])`` has
    no event-time column among its keys, so Spark can never evict a
    seen id, and that state grows with every distinct event_id for the
    life of the checkpoint. Bounding it means
    ``dropDuplicatesWithinWatermark`` or the event time among the keys —
    both change which late re-sends are dropped.
    """
    return (
        stream.withWatermark("ts", watermark)
        .dropDuplicates(["event_id"])
        .groupBy("event_type", F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "event_type",
            F.col("win.start").alias("window_start"),
            "n_events",
        )
    )


def run_available_now(
    transformed: DataFrame,
    table_name: str,
    checkpoint_dir: str | None = None,
    timeout_sec: int = 120,
    output_mode: str = "complete",
) -> None:
    """Execute a streaming DataFrame to a memory sink with
    Trigger.AvailableNow (process-everything-pending, then stop) —
    the catch-up trigger that replaces the reference's cron loop."""
    checkpoint = checkpoint_dir or tempfile.mkdtemp(prefix="ckpt_")
    q = (
        transformed.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .option("checkpointLocation", os.path.join(checkpoint, table_name))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()


def run_processing_time(
    transformed: DataFrame,
    table_name: str,
    interval: str = "1 second",
    checkpoint_dir: str | None = None,
    min_batches: int = 2,
    timeout_sec: int = 120,
    output_mode: str = "complete",
):
    """O1, resident form: a ``Trigger.ProcessingTime`` loop — the direct
    Spark twin of the reference's ``schedule.every().day.at("09:00")`` +
    poll loop (etl.py:227-235). Where ``run_available_now`` is the
    cron-style catch-up run, this keeps a resident query that re-fires on
    a wall-clock cadence (daily in production, seconds here so tests can
    observe multiple firings); file-source bookkeeping gives each firing
    exactly-once pickup of newly arrived payloads, replacing the
    reference's file-cache idempotency check (etl.py:42-45).

    Runs until ``min_batches`` micro-batches completed (or timeout),
    then stops; returns the number of completed batches.
    """
    import time as _time

    checkpoint = checkpoint_dir or tempfile.mkdtemp(prefix="ckpt_pt_")
    q = (
        transformed.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .option("checkpointLocation", os.path.join(checkpoint, table_name))
        .trigger(processingTime=interval)
        .start()
    )
    deadline = _time.time() + timeout_sec
    try:
        while _time.time() < deadline:
            if q.exception() is not None:
                # Surface the root-cause StreamingQueryException instead
                # of spinning out the timeout and returning a low count.
                raise q.exception()
            done = len(q.recentProgress)
            if done >= min_batches:
                break
            if not q.isActive:
                break
            _time.sleep(0.2)
    finally:
        q.stop()
    return len(q.recentProgress)


def attribution_join_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """X18: watermarked stream-stream interval join — clicks attributed
    to a same-user purchase they precede by ≤ 6 h (the streaming form of
    the batch query ``stream_join_attribution``; tests assert equality).

    Both sides carry watermarks and the join condition bounds event time,
    so Spark can expire click state older than 6 h + watermark and
    purchase state older than the watermark — constant state per user on
    an unbounded stream, which is the property that makes the operator
    deployable. Inner joins emit exactly once per matching pair.
    """
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 6 HOURS")
        ),
    )
    return joined.select(
        "purchase_id",
        "click_id",
        "user_id",
        "purchase_ts",
        "click_ts",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
            "lag_us"
        ),
    )


def attribution_join_stream_outer(
    spark: SparkSession, sf_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """LEFT OUTER form of ``attribution_join_stream``: every purchase
    emits — matched pairs as they join, and a NULL-click row once the
    click-side watermark passes the purchase timestamp (proving no
    in-band click can still arrive). Same constant-state envelope: both
    watermarks plus the 6 h band let the engine expire click state at
    6 h + watermark and purchase state at the watermark; outer state
    additionally holds each unmatched purchase ONLY until the watermark
    reaches it. Batch twin: windows.stream_join_attribution_outer."""
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 6 HOURS")
        ),
        "leftOuter",
    )
    return joined.select(
        "purchase_id",
        "click_id",
        "user_id",
        "purchase_ts",
        "click_ts",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
            "lag_us"
        ),
    )


def attribution_join_stream_full(
    spark: SparkSession, sf_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """FULL OUTER form of ``attribution_join_stream``: matched pairs
    emit on join; a purchase's NULL-click row emits once the click
    watermark passes its timestamp; a click's NULL-purchase row emits
    once the purchase watermark passes click_ts + 6 h (no future
    purchase can still have it in band). State stays bounded on BOTH
    sides by watermark + band, the same envelope as the left join plus
    the symmetric click-side hold. Batch twin:
    windows.stream_join_attribution_full."""
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user_id") == F.col("c_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 6 HOURS")
        ),
        "fullOuter",
    )
    return joined.select(
        "purchase_id",
        "click_id",
        F.coalesce("p_user_id", "c_user_id").alias("user_id"),
        "purchase_ts",
        "click_ts",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias(
            "lag_us"
        ),
    )


def run_stream_upsert(
    spark: SparkSession,
    sf_dir: str,
    warehouse_path: str,
    checkpoint_dir: str,
    keys: list[str] | None = None,
    timeout_sec: int = 120,
) -> None:
    """O1+L2 composed as a stream: file-source events → foreachBatch →
    idempotent upsert-ignore warehouse load.

    This is the reference's scheduled fetch→INSERT IGNORE loop
    (etl.py:139-156, 227-235) in its Spark-native form: the file-source
    checkpoint gives exactly-once per input file, and the anti-join
    inside upsert_ignore makes every micro-batch idempotent on the
    natural key — so re-delivered data changes nothing, even across
    restarts with a fresh checkpoint.
    """
    from ..sinks.idempotent import upsert_ignore

    key_cols = list(keys or ["event_id"])
    stream = read_events_stream(spark, sf_dir)

    def load_batch(batch_df, batch_id: int) -> None:
        upsert_ignore(spark, batch_df, warehouse_path, key_cols)

    q = (
        stream.writeStream.foreachBatch(load_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()


# --------------------------------------------------------------------------
# O2 — run-log sink via StreamingQueryListener
# --------------------------------------------------------------------------


class RunLogListener:
    """O2 parity: the reference appends ``"ETL run at {now}"`` to
    ``etl_log.txt`` after every scheduled run (``etl.py:222-223``,
    ``etl_log.txt:1``). The Spark-native equivalent is a
    ``StreamingQueryListener``: one audit line per query start, per
    completed micro-batch (with row counts — strictly more informative
    than the reference's bare timestamp), and per termination.

    Listener callbacks run on a driver-side event thread, so the log
    write never blocks the stream; at production scale the same hook
    posts to a metrics system instead of a local file.
    """

    def __new__(cls, path: str):
        from pyspark.sql.streaming import listener as L

        class _Impl(L.StreamingQueryListener):
            def __init__(self, p: str) -> None:
                self.path = p

            def _append(self, msg: str) -> None:
                with open(self.path, "a") as fh:
                    fh.write(msg + "\n")

            def onQueryStarted(self, event) -> None:
                self._append(
                    f"ETL run {event.id} started at {event.timestamp}"
                )

            def onQueryProgress(self, event) -> None:
                p = event.progress
                self._append(
                    f"ETL run {p.id} batch {p.batchId}: "
                    f"{p.numInputRows} rows at {p.timestamp}"
                )

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                self._append(f"ETL run {event.id} terminated")

        return _Impl(path)


def run_with_log(
    spark: SparkSession,
    transformed: DataFrame,
    table_name: str,
    log_path: str,
    checkpoint_dir: str | None = None,
    output_mode: str = "complete",
) -> None:
    """O1+O2 composed: AvailableNow catch-up run with the audit log
    attached for its duration (reference: job() = main() + log append)."""
    from datetime import datetime, timezone

    listener = RunLogListener(log_path)
    spark.streams.addListener(listener)
    try:
        run_available_now(
            transformed, table_name, checkpoint_dir, output_mode=output_mode
        )
        # The completion line is written synchronously after the run, like
        # the reference's job() appending after main() returns — the
        # async onQueryTerminated event may still be queued when the
        # listener detaches below, so it can't be the completion record.
        now = datetime.now(timezone.utc).isoformat()
        with open(log_path, "a") as fh:
            fh.write(f"ETL run {table_name} completed at {now}\n")
    finally:
        spark.streams.removeListener(listener)


def run_stream_rollup(
    spark: SparkSession,
    sf_dir: str,
    bronze_dir: str,
    rollup_dir: str,
    checkpoint_dir: str | None = None,
    timeout_sec: int = 120,
) -> None:
    """End-to-end incremental pipeline: file stream → bronze append →
    partition-scoped rollup refresh (the medallion pattern on top of
    ``sinks.maintenance.refresh_daily_rollup``).

    Each micro-batch (foreachBatch):

    1. lands its raw rows under ``bronze/epoch=N`` with OVERWRITE — a
       retried epoch rewrites its own directory, so the bronze layer is
       exactly-once without a transactional table format;
    2. computes the set of event-days the batch touched;
    3. re-aggregates ONLY those day-partitions from the full bronze
       history and dynamically overwrites them in the rollup.

    Late or corrected data for an already-published day simply lands in a
    later epoch and re-triggers that day's refresh — the rollup converges
    to the batch answer after every run, and refresh cost stays
    O(days touched per batch), not O(history). A second AvailableNow run
    with the same checkpoint processes zero new files and leaves both
    layers untouched (idempotent catch-up, like the reference's daily
    scheduled re-run).
    """
    import tempfile as _tf

    from ..sinks.maintenance import refresh_daily_rollup

    stream = read_events_stream(spark, sf_dir)
    checkpoint = checkpoint_dir or _tf.mkdtemp(prefix="ckpt_rollup_")

    def _batch(df: DataFrame, epoch_id: int) -> None:
        sess = df.sparkSession
        df = df.withColumn("day", F.to_date("ts"))
        df.persist()
        try:
            # Bronze is partitioned by DAY inside each epoch directory,
            # so the refresh's day filter prunes bronze at planning time
            # — without this, every micro-batch would rescan the whole
            # accumulated history (O(batches × history) reads).
            # Null-ts rows land in bronze's Hive default partition
            # (raw layer preserves everything) but are excluded from the
            # rollup refresh: day=None has no partition to refresh, and
            # None.isoformat() would kill the streaming query.
            df.write.mode("overwrite").partitionBy("day").parquet(
                os.path.join(bronze_dir, f"epoch={epoch_id}")
            )
            days = [
                r.day.isoformat()
                for r in df.select("day").distinct().collect()
                if r.day is not None
            ]
            if days:
                bronze = sess.read.parquet(bronze_dir).drop("epoch")
                refresh_daily_rollup(sess, bronze, rollup_dir, days)
        finally:
            df.unpersist()

    q = (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", os.path.join(checkpoint, "rollup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()


# --------------------------------------------------------------------------
# Exactly-once stream → snapshot-log sink (foreachBatch + txn-tagged commit)
# --------------------------------------------------------------------------


def snapshot_commit_stream_batch(
    spark: SparkSession, path: str, batch_df, batch_id: int, app_id: str
) -> int:
    """Idempotently commit one micro-batch to the snapshot log: the
    manifest carries a txn token derived from (app_id, batch_id), and
    snapshot_commit returns the existing version without writing when
    the token is already in the log — so a foreachBatch retry (task
    failure, query restart replaying the last un-committed offset
    range, even a deleted checkpoint re-reading from scratch) can never
    double-append. Delta's txnAppId/txnVersion device on the
    hand-rolled log. Returns the (new or pre-existing) version.

    ``app_id`` is the Delta ``txnAppId`` analogue: a stable name for the
    LOGICAL streaming pipeline (not the checkpoint path — the whole
    point is surviving checkpoint loss). Two different queries writing
    the same table must use different app_ids or their batch 0s collide
    and one is silently skipped. Conversely the idempotence contract is:
    identical (app_id, batch_id) MUST carry identical data — true for
    AvailableNow replays over unchanged input, where batch planning is
    deterministic.
    """
    from ..sinks.snapshots import snapshot_commit as _commit

    return _commit(
        spark,
        path,
        batch_df,
        mode="append",
        txn=f"stream-batch:{app_id}:{batch_id}",
    )


def run_stream_snapshot_sink(
    spark: SparkSession,
    sf_dir: str,
    table_path: str,
    checkpoint_dir: str,
    timeout_sec: int = 120,
    *,
    app_id: str,
) -> None:
    """Stream events into the versioned snapshot log EXACTLY-ONCE: the
    file-source checkpoint deduplicates input, and the (app_id, batch_id)
    tag in each manifest deduplicates output commits across foreachBatch
    retries and checkpoint loss. Every micro-batch becomes one
    time-travelable version; readers get snapshot isolation for free.
    ``app_id`` is REQUIRED (no default): it must be unique per logical
    query targeting this table but stable across restarts of the same
    query (see snapshot_commit_stream_batch) — a shared default would
    let two distinct queries silently swallow each other's batch 0.
    """
    stream = read_events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )

    def load_batch(batch_df, batch_id: int) -> None:
        snapshot_commit_stream_batch(
            spark, table_path, batch_df, batch_id, app_id
        )

    q = (
        stream.writeStream.foreachBatch(load_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()


# --------------------------------------------------------------------------
# Streaming CDC → MERGE (foreachBatch upsert-apply with tombstones)
# --------------------------------------------------------------------------

_CDC_BUCKETS = 16


def cdc_apply_batch(
    spark: SparkSession,
    target_path: str,
    batch_df,
    n_buckets: int = _CDC_BUCKETS,
) -> None:
    """Apply one micro-batch of change events to a bucketed state table
    via copy-on-write MERGE — the Debezium/binlog → lakehouse upsert
    loop (Delta's foreachBatch-merge idiom) on plain parquet.

    Order robustness is the whole design: file-source batches carry no
    ts ordering, so last-writer-wins by arrival would corrupt state.
    Instead (a) the batch reduces to its per-key LATEST change by
    (ts, event_id), (b) the reduced batch ARBITRATES against the
    current target row for each touched key by the same total order,
    and (c) deletes are TOMBSTONES (deleted=true rows kept in the
    table), never physical removals — so a late out-of-order upsert
    for a deleted key loses the arbitration instead of resurrecting
    the key. The composite is associative and commutative across
    batches: any batch arrival order converges to the same state
    (tested in tests/test_streaming.py). Tombstone GC is a retention
    policy (vacuum after the max expected lateness), exactly the
    Cassandra/Delta contract.

    Scale shape: one per-batch key shuffle for the reduction; the
    arbitration semi-joins ONLY touched keys against the target; the
    merge rewrites only touched buckets (merge_into is O(touched
    partitions)). State cost per batch is O(batch ∪ touched rows),
    never O(table).
    """
    from ..sinks.maintenance import merge_into  # noqa: PLC0415

    order = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        batch_df.select(
            "user_id",
            "ts",
            "event_id",
            "value",
            (F.col("event_type") == "error").alias("deleted"),
        )
        .withColumn("rn", F.row_number().over(order))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumn(
            "bucket", F.pmod(F.col("user_id"), F.lit(n_buckets)).cast("int")
        )
    )
    if _cdc_target_exists(target_path):
        current = spark.read.parquet(target_path).join(
            latest.select("user_id"), "user_id", "left_semi"
        )
        winner = (
            current.unionByName(latest)
            .withColumn("rn", F.row_number().over(order))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        merge_into(
            spark,
            target_path,
            winner,
            key_cols=["user_id"],
            partition_col="bucket",
        )
    else:
        latest.write.mode("overwrite").partitionBy("bucket").parquet(
            target_path
        )


def _cdc_target_exists(target_path: str) -> bool:
    if not os.path.isdir(target_path):
        return False
    return any(
        f.startswith("bucket=") for f in os.listdir(target_path)
    )


def read_cdc_state(spark: SparkSession, target_path: str):
    """The CURRENT state: tombstoned keys excluded (their rows remain
    in the table for out-of-order arbitration until a retention vacuum
    drops them)."""
    return spark.read.parquet(target_path).filter(~F.col("deleted"))


def run_stream_cdc_merge(
    spark: SparkSession,
    sf_dir: str,
    target_path: str,
    checkpoint_dir: str,
    timeout_sec: int = 180,
) -> None:
    """Stream the events change feed into a bucketed state table by
    per-batch MERGE (cdc_apply_batch): the streaming half of
    cdc_latest_state — same collapse semantics, but applied
    incrementally with O(batch) work instead of recomputing state from
    all history. Replays are safe: re-merging identical winners
    rewrites identical logical content (merge_into idempotence), so a
    foreachBatch retry cannot corrupt state."""
    stream = read_events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "value", "event_type"
    )

    def load(batch_df, batch_id: int) -> None:
        cdc_apply_batch(spark, target_path, batch_df)

    q = (
        stream.writeStream.foreachBatch(load)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()


def cdc_vacuum_tombstones(
    spark: SparkSession, target_path: str, older_than_ts
) -> int:
    """Retention GC for the CDC state table: drop tombstone rows whose
    change timestamp is older than ``older_than_ts``. Returns the
    number of tombstones removed.

    The retention CONTRACT (Cassandra gc_grace / Delta retention): a
    tombstone protects its key against out-of-order resurrection only
    while it exists — after GC, a change event older than the horizon
    that is still in flight WOULD re-insert the key. Set the horizon
    beyond the maximum expected event lateness. Live rows are never
    touched; the rewrite is a per-bucket MERGE-shaped overwrite of
    only the buckets that actually hold expired tombstones.
    """
    from ..sinks.maintenance import merge_into  # noqa: PLC0415

    if not _cdc_target_exists(target_path):
        return 0
    cur = spark.read.parquet(target_path)
    expired = cur.filter(
        F.col("deleted") & (F.col("ts") < F.lit(older_than_ts))
    )
    n = expired.count()
    if n == 0:
        return 0
    merge_into(
        spark,
        target_path,
        expired.withColumn("is_del", F.lit(True)),
        key_cols=["user_id"],
        partition_col="bucket",
        delete_col="is_del",
    )
    return n
