"""Pluggable row-sink interface for the candle stream (SURVEY.md §2.1
S3; VERDICT r1 item 6).

The reference's realtime sink is a ClickHouse insert loop with retry/
reconnect (data_collector.py:194-283, docker-compose.yaml:2-30); its
idempotency comes from ReplacingMergeTree — re-inserting a (exchange,
symbol, start, interval) version is harmless because merges keep the
latest receipt_timestamp.  ``start_candle_stream`` keeps exactly that
contract behind ``CandleWriter``:

- ``write_raw(batch)`` MUST be idempotent under micro-batch replay
  (foreachBatch re-delivers the in-flight batch after a crash) and
  under task retries;
- ``read_raw(spark)`` returns the stored rows (all versions) for
  rollup maintenance and monitoring.

Two implementations:
- ``ParquetCandleWriter`` — append-only parquet, versions resolved on
  read by ``dedup_latest`` (the ReplacingMergeTree model; default).
- ``SqlUpsertCandleWriter`` — the "JDBC-like" external-database shape:
  each partition opens its own connection and upserts rows keyed on
  CANDLE_KEY with last-write-wins on receipt_timestamp, which is what
  a ClickHouse/JDBC sink does at scale (parallel per-partition
  writers, key-idempotent statements).  Backed by sqlite3 (stdlib) so
  the contract is testable in this container; a real deployment swaps
  the connection factory for its database driver.
"""

from __future__ import annotations

import os
import sqlite3
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession

from trade_data_collection_service_spark.schema import CANDLE_SCHEMA

_TS_COLS = ("start", "stop", "timestamp", "receipt_timestamp")
_COLS = (
    "exchange",
    "symbol",
    "interval",
    "start",
    "stop",
    "close_unixtime",
    "trades",
    "open",
    "high",
    "low",
    "close",
    "volume",
    "timestamp",
    "receipt_timestamp",
)


class CandleWriter(Protocol):
    """Idempotent row sink + read-back for the streamed raw table."""

    def write_raw(self, batch: DataFrame) -> None: ...

    def read_raw(self, spark: SparkSession) -> DataFrame: ...


class ParquetCandleWriter:
    """Append-only parquet sink (default): every version is appended;
    last-write-wins is resolved on read / compaction (A9)."""

    def __init__(self, out_dir: str):
        self.raw_path = os.path.join(out_dir, "candles_raw")

    def write_raw(self, batch: DataFrame) -> None:
        batch.write.mode("append").parquet(self.raw_path)

    def read_raw(self, spark: SparkSession) -> DataFrame:
        # declared schema: no footer-reading inference job per call
        return spark.read.schema(CANDLE_SCHEMA).parquet(self.raw_path)


def _upsert_rows(db_path: str, table: str, rows) -> None:
    """Executor-side partition writer: one connection per partition,
    key-upsert with last-write-wins on receipt_timestamp — replaying
    the same rows (crash replay, task retry) converges to the same
    table, the ReplacingMergeTree property."""
    buf = []
    for r in rows:
        d = r.asDict()
        buf.append(
            tuple(
                d[c].isoformat() if c in _TS_COLS else d[c] for c in _COLS
            )
        )
    if not buf:
        return
    con = sqlite3.connect(db_path, timeout=120)
    try:
        con.execute("PRAGMA busy_timeout=120000")
        placeholders = ",".join("?" * len(_COLS))
        cols = ",".join(f'"{c}"' for c in _COLS)
        con.executemany(
            f'INSERT INTO "{table}" ({cols}) VALUES ({placeholders}) '
            f'ON CONFLICT("exchange","symbol","start","interval") DO UPDATE SET '
            + ",".join(
                f'"{c}"=excluded."{c}"'
                for c in _COLS
                if c not in ("exchange", "symbol", "start", "interval")
            )
            + ' WHERE excluded."receipt_timestamp" >= "{0}"."receipt_timestamp"'.format(
                table
            ),
            buf,
        )
        con.commit()
    finally:
        con.close()


class SqlUpsertCandleWriter:
    """JDBC-like external sink: parallel per-partition connections,
    idempotent key upserts.  The retry story matches the reference's
    insert-with-retries loop (data_collector.py:238-266): Spark task
    retries and checkpoint replays re-execute the same upserts, which
    are no-ops for already-stored versions."""

    def __init__(self, db_path: str, table: str = "candles_raw"):
        self.db_path = db_path
        self.table = table
        con = sqlite3.connect(db_path, timeout=120)
        try:
            cols = ", ".join(
                f'"{c}" {"TEXT" if c in _TS_COLS or c in ("exchange", "symbol", "interval") else "REAL" if c in ("open", "high", "low", "close", "volume") else "INTEGER"}'
                for c in _COLS
            )
            con.execute(
                f'CREATE TABLE IF NOT EXISTS "{self.table}" ({cols}, '
                'PRIMARY KEY ("exchange","symbol","start","interval"))'
            )
            con.commit()
        finally:
            con.close()

    def write_raw(self, batch: DataFrame) -> None:
        db_path, table = self.db_path, self.table
        batch.foreachPartition(lambda rows: _upsert_rows(db_path, table, rows))

    def read_raw(self, spark: SparkSession) -> DataFrame:
        con = sqlite3.connect(self.db_path, timeout=120)
        try:
            cur = con.execute(
                "SELECT {} FROM \"{}\"".format(
                    ",".join(f'"{c}"' for c in _COLS), self.table
                )
            )
            rows = cur.fetchall()
        finally:
            con.close()
        import datetime as dt

        def conv(c, v):
            if c in _TS_COLS:
                return dt.datetime.fromisoformat(v)
            return v

        data = [tuple(conv(c, v) for c, v in zip(_COLS, r)) for r in rows]
        return spark.createDataFrame(data, CANDLE_SCHEMA)
