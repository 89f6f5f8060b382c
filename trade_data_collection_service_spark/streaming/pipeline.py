"""Structured Streaming shell (SURVEY.md §2.9 T1-T11, §3.1).

The reference's realtime path is: websocket candle feed → closed
candles only → insert with retries → ClickHouse MV cascade keeps the
rollups fresh.  The Spark-native shape (SURVEY.md §7 step 7):

    readStream (candle events)
      → validate                    (P6, same batch operator)
      → foreachBatch:
           append raw candles, all versions (T3: ReplacingMergeTree
             model — last-write-wins resolved on read, see below)
           recompute every rollup bucket touched by the batch (T4)

The batch-core functions (validate / dedup_latest / rollup_raw /
rollup_reagg) ARE the streaming logic — foreachBatch wraps them, so
streaming and repair compute identical results (mirrors the reference
reusing the same SELECT for MV and backfill, clickhouse_schema.py:189-206
vs data_quality_check.py:375-390).

Exactly-once: the checkpoint replays an in-flight batch after a
crash; both sinks are idempotent — the raw append is deduped on read
(A9) or compaction, and the rollup upsert overwrites whole
(exchange, symbol, candle_start) keys for the affected buckets, so a
replay converges to the same table (SURVEY.md §7 "hard parts").

Why foreachBatch and not a stateful windowed agg: the rollup cascade
must serve reads of EVERY intermediate level (1m..1d), and repairs
must be able to rewrite history far past any watermark.  Keeping the
levels as tables updated per micro-batch — incremental-MV style —
matches the reference's semantics exactly; an in-engine stateful agg
would hold 1d windows open in state for a day and still need the
repair path.  State here is bounded by the batch's touched buckets,
not by window width.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trade_data_collection_service_spark.functions.timeutil import bucket_start, yyyymm
from trade_data_collection_service_spark.operators.dedup import dedup_latest
from trade_data_collection_service_spark.operators.rollup import (
    rollup_raw,
    rollup_reagg,
)
from trade_data_collection_service_spark.operators.validate import validate
from trade_data_collection_service_spark.schema import (
    CANDLE_SCHEMA,
    ROLLUP_MINUTES,
    ROLLUP_SCHEMA,
    cascade_specs,
)


def rollup_paths(base_dir: str) -> dict[int, str]:
    return {s.minutes: os.path.join(base_dir, s.table) for s in cascade_specs()}


def _fs_for(spark: SparkSession, path: str):
    """Hadoop FileSystem for ``path`` — works for file://, hdfs://, s3a://."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def table_exists(spark: SparkSession, path: str) -> bool:
    """Explicit missing-table probe.  Replaces the old bare
    ``except Exception`` around the read: ANY other read failure (perm
    error, corrupt footer, transient FS fault) must FAIL the batch so
    the checkpoint replays it — silently treating it as "first batch"
    would discard all untouched history."""
    fs, hpath = _fs_for(spark, path)
    return fs.exists(hpath)


def _rm(spark: SparkSession, path: str) -> None:
    fs, hpath = _fs_for(spark, path)
    if fs.exists(hpath):
        fs.delete(hpath, True)


def _write_stage(df: DataFrame, ts_col: str, stage: str) -> None:
    """Materialize ``df`` as a complete ``partitionBy(month)`` table at
    ``stage``, sorted within each month by (exchange, symbol,
    ``ts_col``) — the layout every level and raw table is stored in.

    The overwrite is static and a per-write option: the stage is
    rebuilt whole whatever the session's ``partitionOverwriteMode``,
    and the static committer writes the ``_SUCCESS`` marker that
    :func:`_recover_stage` reads as the staged-complete WAL record."""
    (
        df.withColumn("month", yyyymm(ts_col))
        .repartition("month")
        .sortWithinPartitions("exchange", "symbol", ts_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("month")
        .parquet(stage)
    )


def _publish_stage(spark: SparkSession, stage: str, path: str) -> None:
    """Publish a fully-staged table into the live path by directory
    renames: for each staged ``month=X``, delete the live ``month=X``
    and rename the staged directory into its place.  Months absent
    from the stage are not touched, and no data is rewritten.
    Isolated as a function so crash tests can inject a failure at the
    stage/publish boundary.

    Every step is idempotent under a re-run: a month already moved is
    gone from the stage, and a month whose live copy was deleted but
    not yet replaced is still staged.  So re-running the publish after
    a crash anywhere inside it completes the same moves
    (:func:`_recover_stage`).  This relies on an atomic directory
    rename (HDFS, local disk); on an object store the publish would be
    a table-format commit (Delta/Iceberg ``replaceWhere``) instead."""
    fs, hstage = _fs_for(spark, stage)
    _, hpath = _fs_for(spark, path)
    fs.mkdirs(hpath)
    for status in fs.listStatus(hstage):
        name = status.getPath().getName()
        if not (status.isDirectory() and name.startswith("month=")):
            continue
        live = spark._jvm.org.apache.hadoop.fs.Path(hpath, name)
        fs.delete(live, True)
        if not fs.rename(status.getPath(), live):
            raise IOError(f"publish rename failed: {stage}/{name} -> {path}/{name}")


def _recover_stage(spark: SparkSession, stage: str, path: str) -> None:
    """Roll the publish WAL forward on replay after a crash.

    The stage directory is the write-ahead record of the publish: it
    holds the COMPLETE contents of every touched month partition
    (kept untouched buckets + recomputed ones) and is only deleted
    after a successful publish.  On entry, three crash states are
    possible:

    - no stage dir: the previous batch finished (or never staged) —
      nothing to do;
    - stage dir WITHOUT ``_SUCCESS``: crash mid-staging; the live
      table was never touched, so discard the partial stage and let
      the replayed batch restage from scratch;
    - stage dir WITH ``_SUCCESS``: crash between stage completion and
      publish completion.  Some touched months may already be swapped
      in, one may be deleted from the live table and not yet replaced,
      and the kept-untouched-bucket rows of the rest exist ONLY in the
      stage — so finish the publish (its moves are idempotent),
      restoring the invariant that the live table is whole, then
      delete the stage.  The replayed batch then recomputes the same
      months idempotently.

    Without this roll-forward, replay-after-mid-publish-crash could
    lose untouched buckets in touched months: the replay's keep-set is
    read from the (damaged) live table."""
    if not table_exists(spark, stage):
        return
    if table_exists(spark, stage + "/_SUCCESS"):
        _publish_stage(spark, stage, path)
    _rm(spark, stage)


# A level table as stored: the rollup schema plus its month partition
# column ("yyyyMM" strings, as written by _write_stage).
_LEVEL_SCHEMA = T.StructType(
    ROLLUP_SCHEMA.fields + [T.StructField("month", T.StringType())]
)


def read_rollup_level(
    spark: SparkSession, path: str, months: list[str] | None = None
) -> DataFrame:
    """Read a rollup level table, hiding the physical ``month``
    partition column (layout detail, not part of the rollup schema).

    The schema is declared, not inferred, so the read launches no
    footer-reading job.  ``months`` ("yyyyMM" strings) restricts the
    read to those month partitions: a partition filter, so the files
    of every other month are never opened."""
    df = spark.read.schema(_LEVEL_SCHEMA).parquet(path)
    if months is not None:
        df = df.filter(F.col("month").isin(months))
    return df.drop("month")


def _covers(bucket: Column) -> Column:
    """Join condition matching a row's (exchange, symbol, ``bucket``)
    to a touched-bucket row, whose columns carry a ``__t_`` prefix."""
    return (
        (F.col("exchange") == F.col("__t_exchange"))
        & (F.col("symbol") == F.col("__t_symbol"))
        & (bucket == F.col("__t_bucket"))
    )


def upsert_rollup_levels(
    spark: SparkSession,
    raw_path: str | DataFrame,
    batch_1m: DataFrame,
    base_dir: str,
    minutes: list[int] | None = None,
) -> None:
    """Incrementally maintain the rollup cascade for one micro-batch.

    Exactness under replays AND arbitrarily-late duplicates: each
    level's touched buckets are RECOMPUTED from the (deduped) level
    below, never merged additively — an additive merge of a stored
    bucket with a late re-delivery of an already-counted candle would
    double-count volume/trades.  Recomputation makes the whole
    pipeline idempotent: checkpoint replays and duplicate appends
    converge to the same tables (the reference gets this from
    ReplacingMergeTree dedup + watchdog recompute,
    data_quality_check.py:391-485; we get it in-line).

    ``batch_1m`` only names the touched (exchange, symbol, start) keys,
    so it may hold duplicate versions; its rows must already be in
    raw.

    Each level table is stored ``partitionBy(month)`` (the reference's
    toYYYYMM partitioning, clickhouse_schema.py:144).  The batch's
    touched months are collected once; every level read is then a
    ``month IN (...)`` partition filter:
    - level 1m reads the deduped raw rows for the batch's buckets.
      The parquet sink's raw table is an unpartitioned append-only
      table, so this scans it whole: O(raw history);
    - level N reads the touched months of level N-1 and keeps the
      rows covering its touched buckets;
    - each level rewrites only its touched month partitions, from its
      own touched months' stored rows (kept untouched buckets) plus
      the recomputed buckets.  Untouched months are never read or
      written.
    Month pruning is exact only because every level divides a day, so
    no bucket spans a month edge; other levels raise ``ValueError``.

    Publish protocol per level: the touched months' new contents are
    first materialized to a sibling ``.stage`` directory (the only
    write), then each staged month directory replaces its live
    counterpart by rename (:func:`_publish_stage`).  The stage step
    removes the read-from/write-to-same-path hazard, and it is the
    publish's write-ahead record: a crash before the publish leaves
    the live table untouched (the checkpoint replays the batch), and
    a crash during it is rolled forward from the stage on replay
    (:func:`_recover_stage`).  On a transactional table format
    (Delta/Iceberg) the publish becomes a single replaceWhere commit.

    Spark jobs are described ``"<prefix> L<m>"`` per level, where the
    prefix is the caller's job description (the stream sink sets
    ``"candles batch <id>"``); the caller's description is restored on
    return.
    """
    minutes = minutes or ROLLUP_MINUTES
    uneven = [m for m in minutes if 1440 % m]
    if uneven:
        raise ValueError(
            f"rollup levels {uneven} do not divide 1440: their buckets "
            "can span a month edge, which month-pruned reads would miss"
        )
    paths = rollup_paths(base_dir)
    sc = spark.sparkContext
    caller_desc = sc.getLocalProperty("spark.job.description")
    prefix = caller_desc or "rollup upsert"

    # Touched finest-level buckets from this batch.  They only feed
    # semi/anti joins, where duplicates do not matter, so no distinct
    # (and no shuffle) is needed.
    touched = batch_1m.select(
        "exchange",
        "symbol",
        bucket_start("start", minutes[0]).alias("candle_start"),
    )
    try:
        # The batch's months: the same at every level, since no bucket
        # spans a day.  coalesce(1) lets the distinct run map-side.
        sc.setJobDescription(f"{prefix} months")
        months = sorted(
            r["month"]
            for r in touched.select(yyyymm("candle_start").alias("month"))
            .coalesce(1)
            .distinct()
            .collect()
        )
        source = None  # level below, restricted to the touched months
        for i, m in enumerate(minutes):
            sc.setJobDescription(f"{prefix} L{m}")
            path = paths[m]
            stage = path + ".stage"
            # Replay safety: finish (or discard) any interrupted publish
            # from a crashed previous run before reading the live table.
            _recover_stage(spark, stage, path)
            # The level's touched buckets, broadcast to the semi and
            # anti joins.  Their own column names keep the conditions
            # unambiguous when the batch and raw frames share a lineage.
            level_touched = F.broadcast(
                touched.select(
                    F.col("exchange").alias("__t_exchange"),
                    F.col("symbol").alias("__t_symbol"),
                    bucket_start("candle_start", m).alias("__t_bucket"),
                )
            )
            if i == 0:
                raw_df = (
                    raw_path
                    if isinstance(raw_path, DataFrame)
                    else spark.read.schema(CANDLE_SCHEMA).parquet(raw_path)
                )
                # Filtering on key columns commutes with the dedup, so
                # only the touched keys' versions are deduped.  One
                # (exchange, symbol) shuffle serves both aggregations.
                rows = raw_df.join(
                    level_touched, _covers(F.col("start")), "left_semi"
                ).repartition("exchange", "symbol")
                recomputed = rollup_raw(dedup_latest(rows), m)
            else:
                # covering join expressed as semi-join on the coarse bucket
                rows = source.join(
                    level_touched,
                    _covers(bucket_start("candle_start", m)),
                    "left_semi",
                )
                recomputed = rollup_reagg(rows, m)
            out = recomputed
            if table_exists(spark, path):
                # Within the touched months, keep the untouched buckets'
                # stored rows and splice in the recomputed ones.
                keep = read_rollup_level(spark, path, months).join(
                    level_touched, _covers(F.col("candle_start")), "left_anti"
                )
                out = keep.unionByName(recomputed)
            _write_stage(out, "candle_start", stage)
            _publish_stage(spark, stage, path)
            _rm(spark, stage)
            source = read_rollup_level(spark, path, months)
    finally:
        sc.setJobDescription(caller_desc)


def start_candle_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    available_now: bool = True,
    minutes: list[int] | None = None,
    writer=None,
):
    """File-source candle stream → validate → foreachBatch(write raw
    via the pluggable sink + maintain cascade).  ``watermark`` is
    retained as a declared lateness bound for documentation/
    monitoring; correctness does not depend on it (see module
    docstring).

    ``writer`` is a ``sinks.CandleWriter`` — default ParquetCandleWriter
    (append + dedup-on-read); SqlUpsertCandleWriter is the external-
    database (ClickHouse/JDBC-like) shape with the same idempotency
    contract, so crash replays converge on either sink.

    ``available_now`` processes the current backlog then stops —
    the replayable-test mode; production uses a continuous trigger.
    """
    from trade_data_collection_service_spark.streaming.sinks import (
        ParquetCandleWriter,
    )

    if writer is None:
        writer = ParquetCandleWriter(out_dir)

    # No stateful dedup in-stream: dropDuplicatesWithinWatermark keeps
    # the FIRST arrival and discards anything below the watermark, which
    # is the wrong semantic for versioned candles — the reference's
    # ReplacingMergeTree keeps every version and resolves last-write-wins
    # at merge/read time (clickhouse_schema.py:143-145).  We mirror that:
    # append all valid versions, dedup_latest on read, compaction
    # rewrites.  This also makes the pipeline insensitive to arrival
    # order — arbitrarily late revisions converge via the rollup
    # recompute, with no state to size and no watermark cliff.
    stream = (
        spark.readStream.schema(CANDLE_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # T9/T10 flow control analog
        .parquet(source_dir)
        .transform(validate)
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        # Tag this batch's jobs; upsert_rollup_levels adds " L<m>" per
        # level.  The stream's own description is restored after.
        sc = batch.sparkSession.sparkContext
        stream_desc = sc.getLocalProperty("spark.job.description")
        # cached: every re-read of ``batch`` would re-read the source
        # files and re-count the batch's input rows
        b = dedup_latest(batch).cache()
        try:
            sc.setJobDescription(f"candles batch {batch_id} raw")
            writer.write_raw(b)
            sc.setJobDescription(f"candles batch {batch_id}")
            upsert_rollup_levels(
                batch.sparkSession,
                writer.read_raw(batch.sparkSession),
                b,
                out_dir,
                minutes,
            )
        finally:
            sc.setJobDescription(stream_desc)
            b.unpersist()

    stream_writer = stream.writeStream.option(
        "checkpointLocation", checkpoint_dir
    ).foreachBatch(sink)
    if available_now:
        stream_writer = stream_writer.trigger(availableNow=True)
    return stream_writer.start()


def freshness_report(spark: SparkSession, out_dir: str, threshold_minutes: int = 2) -> DataFrame:
    """T5 freshness monitor over the streamed raw table."""
    from trade_data_collection_service_spark.operators.queries import freshness

    raw = spark.read.parquet(os.path.join(out_dir, "candles_raw"))
    return freshness(dedup_latest(raw), threshold_minutes)
