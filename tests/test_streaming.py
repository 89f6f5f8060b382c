"""Streaming shell tests (SURVEY.md §5 item 4): replay the candle set
as micro-batches — with duplicates split across batches — and assert
the visible result equals the batch computation (exactly-once
semantics via idempotent sinks + recompute-based rollup maintenance).
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from trade_data_collection_service_spark.candles import candles_with_duplicates
from trade_data_collection_service_spark.operators import cascade, dedup_latest
from trade_data_collection_service_spark.schema import CANDLE_SCHEMA
from trade_data_collection_service_spark.streaming.pipeline import (
    read_rollup_level,
    rollup_paths,
    start_candle_stream,
)

LEVELS = [1, 5, 15]


@pytest.fixture(scope="module")
def stream_dirs(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="stream_test_")
    src, out, ckpt = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt"

    # Split candles+duplicates into 3 files ~ micro-batches.  The dup
    # versions (receipt_timestamp + 3 s) land in a DIFFERENT batch than
    # their originals (3 s flips the parity bucket), so last-write-wins
    # must resolve across micro-batches, in arbitrary arrival order.
    candles = candles_with_duplicates(spark, sf_dir).select(
        *[f.name for f in CANDLE_SCHEMA.fields]
    )
    for b in range(3):
        part = candles.filter(
            ((F.unix_timestamp("receipt_timestamp") / 3).cast("long") + F.col("trades"))
            % 3
            == b
        )
        part.coalesce(1).write.mode("append").parquet(src)

    q = start_candle_stream(
        spark,
        src,
        out,
        ckpt,
        available_now=True,
        minutes=LEVELS,
    )
    q.awaitTermination(300)
    assert q.exception() is None, str(q.exception())[:3000]
    yield spark, out, candles
    shutil.rmtree(tmp, ignore_errors=True)


def test_batch_jobs_are_tagged_per_level(stream_dirs):
    """Every micro-batch's jobs carry ``candles batch <id> raw`` for the
    raw append and ``candles batch <id> L<m>`` for each level, so a
    run's job list attributes its time without a probe."""
    import json
    import urllib.request

    spark = stream_dirs[0]
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/jobs"
    with urllib.request.urlopen(url) as resp:
        descs = {j.get("description") for j in json.load(resp)}
    for batch_id in range(3):
        assert f"candles batch {batch_id} raw" in descs
        for m in LEVELS:
            assert f"candles batch {batch_id} L{m}" in descs, (batch_id, m)


def test_streamed_raw_matches_batch(stream_dirs):
    spark, out, candles = stream_dirs
    streamed = dedup_latest(spark.read.parquet(f"{out}/candles_raw"))
    expected = dedup_latest(candles)
    assert streamed.count() == expected.count()
    assert streamed.exceptAll(expected).count() == 0
    assert expected.exceptAll(streamed).count() == 0


@pytest.mark.parametrize("level", LEVELS)
def test_streamed_rollups_match_batch(stream_dirs, level):
    spark, out, candles = stream_dirs
    stored = read_rollup_level(spark, rollup_paths(out)[level])
    expected = cascade(dedup_latest(candles), LEVELS)[level]
    assert stored.count() == expected.count()
    assert stored.exceptAll(expected).count() == 0
    assert expected.exceptAll(stored).count() == 0
