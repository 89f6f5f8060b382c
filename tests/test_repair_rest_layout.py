import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from trade_data_collection_service_spark.candles import (
    candles_from_events,
    candles_with_duplicates,
)
from trade_data_collection_service_spark.operators import dedup_latest, rollup_raw
from trade_data_collection_service_spark.operators.repair import (
    repair_window,
    verify_window,
)
from trade_data_collection_service_spark.sources.rest import (
    deterministic_fetcher,
    fetch_chunks,
)
from trade_data_collection_service_spark.sources.tables import compact, write_candles


def test_repair_window_restores_corrupted_rollup(spark, sf_dir):
    raw = candles_with_duplicates(spark, sf_dir)
    good = rollup_raw(dedup_latest(raw), 15)
    ws, we = "2024-01-05 00:00:00", "2024-01-20 00:00:00"
    in_win = (
        (F.col("exchange") == "EXCH_A")
        & (F.col("symbol") == "SYM0")
        & (F.col("candle_start") >= F.lit(ws).cast("timestamp"))
        & (F.col("candle_start") < F.lit(we).cast("timestamp"))
    )
    # corrupt: drop half the window rows and double volume on the rest
    corrupted = good.filter(~in_win).unionByName(
        good.filter(in_win)
        .filter(F.dayofmonth("candle_start") % 2 == 0)
        .withColumn("volume", F.col("volume") * 2)
    )
    bad_check = verify_window(corrupted, raw, 15, "EXCH_A", "SYM0", ws, we).collect()[0]
    assert not bad_check["ok"]
    repaired = repair_window(corrupted, raw, 15, "EXCH_A", "SYM0", ws, we)
    check = verify_window(repaired, raw, 15, "EXCH_A", "SYM0", ws, we).collect()[0]
    assert check["ok"]
    assert repaired.exceptAll(good).count() == 0
    assert good.exceptAll(repaired).count() == 0


def test_rest_fetch_executes_plan(spark):
    plan = spark.createDataFrame(
        [
            ("BTC-USDT", "2024-01-01 00:00:00", "2024-01-01 01:00:00"),
            ("ETH-USDT", "2024-01-01 00:00:00", "2024-01-01 00:30:00"),
        ],
        ["symbol", "chunk_start", "chunk_end"],
    ).select(
        "symbol",
        F.col("chunk_start").cast("timestamp"),
        F.col("chunk_end").cast("timestamp"),
    )
    out = fetch_chunks(plan, deterministic_fetcher(), max_parallel=2)
    rows = out.collect()
    assert len(rows) == 60 + 30
    by_sym = {}
    for r in rows:
        by_sym.setdefault(r["symbol"], []).append(r)
    assert len(by_sym["BTC-USDT"]) == 60
    # deterministic across re-runs (crc32 pricing, no salted hash)
    again = {(r["symbol"], r["start"]): r["open"] for r in fetch_chunks(
        plan, deterministic_fetcher(), max_parallel=2).collect()}
    for r in rows:
        assert again[(r["symbol"], r["start"])] == r["open"]


def test_layout_partition_pruning_and_compaction(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="layout_test_")
    try:
        candles = candles_with_duplicates(spark, sf_dir)
        write_candles(candles, tmp, mode="overwrite")
        stored = spark.read.parquet(tmp)
        # month partition column exists and a month filter prunes at
        # the source (PartitionFilters in the scan, not a post-filter)
        plan = stored.filter(F.col("month") == "202401")._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "month" in plan
        assert stored.count() == candles.count()
        # compaction collapses duplicate versions in place
        compact(spark, tmp)
        compacted = spark.read.parquet(tmp)
        assert compacted.count() == dedup_latest(candles).count()
        # last-write-wins: volumes match the deduped view
        a = compacted.drop("month")
        b = dedup_latest(candles)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_compact_leaves_session_conf_unchanged(spark, sf_dir):
    """compact() publishes by directory rename; it must not switch the
    session's partitionOverwriteMode to dynamic, which would leak into
    every later overwrite in the session."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key)
    tmp = tempfile.mkdtemp(prefix="compact_conf_")
    try:
        spark.conf.set(key, "STATIC")
        candles = candles_with_duplicates(spark, sf_dir)
        write_candles(candles, tmp, mode="overwrite")
        compact(spark, tmp)
        assert spark.conf.get(key) == "STATIC"
        compacted = spark.read.parquet(tmp).drop("month")
        assert compacted.count() == dedup_latest(candles).count()
    finally:
        spark.conf.set(key, prior)
        shutil.rmtree(tmp, ignore_errors=True)


def test_compact_rolls_a_crashed_publish_forward(spark, sf_dir, monkeypatch):
    """A compact() that crashes after staging leaves a ``_SUCCESS``
    stage; the next compact() on the table publishes it first, so the
    table ends deduped and the stage is gone."""
    import trade_data_collection_service_spark.streaming.pipeline as P

    tmp = tempfile.mkdtemp(prefix="compact_crash_")
    try:
        candles = candles_with_duplicates(spark, sf_dir)
        write_candles(candles, tmp, mode="overwrite")

        def crash_publish(spark_, stage, path):
            raise RuntimeError("injected crash before publish")

        monkeypatch.setattr(P, "_publish_stage", crash_publish)
        with pytest.raises(RuntimeError, match="injected crash"):
            compact(spark, tmp)
        assert os.path.exists(tmp + ".stage/_SUCCESS")
        monkeypatch.undo()

        compact(spark, tmp)
        assert not os.path.exists(tmp + ".stage")
        a = spark.read.parquet(tmp).drop("month")
        b = dedup_latest(candles)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(tmp + ".stage", ignore_errors=True)
