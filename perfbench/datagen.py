"""Seeded input generators for the benchmark workloads.

Every value is a pure function of (seed, symbol index, minute, version),
computed with vectorised numpy, so the same seed always yields the same
rows and any subset (a minute file, a backfill chunk) can be generated
on its own.  Nothing here touches Spark.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EXCHANGE = "BINANCE"
_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)

# Arrow schema matching trade_data_collection_service_spark.schema.CANDLE_SCHEMA;
# UTC-adjusted microsecond timestamps read back as Spark TimestampType.
_TS = pa.timestamp("us", tz="UTC")
CANDLE_ARROW_SCHEMA = pa.schema(
    [
        ("exchange", pa.string()),
        ("symbol", pa.string()),
        ("interval", pa.string()),
        ("start", _TS),
        ("stop", _TS),
        ("close_unixtime", pa.int64()),
        ("trades", pa.int64()),
        ("open", pa.float64()),
        ("high", pa.float64()),
        ("low", pa.float64()),
        ("close", pa.float64()),
        ("volume", pa.float64()),
        ("timestamp", _TS),
        ("receipt_timestamp", _TS),
    ]
)


def symbols(n: int) -> list[str]:
    return [f"S{i:03d}-USDT" for i in range(n)]


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser over uint64 arrays."""
    with np.errstate(over="ignore"):
        x = (x + np.uint64(0x9E3779B97F4A7C15)) & _MASK
        x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _MASK
        x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _MASK
        return x ^ (x >> np.uint64(31))


def uniform(seed: int, sym: np.ndarray, minute: np.ndarray, salt: int) -> np.ndarray:
    """Deterministic U[0,1) per (seed, symbol index, minute, salt)."""
    with np.errstate(over="ignore"):
        h = _mix(np.uint64(seed) * np.uint64(0x100000001B3) + np.uint64(salt))
        h = _mix(h ^ np.asarray(sym, dtype=np.uint64))
        h = _mix(h ^ np.asarray(minute, dtype=np.int64).astype(np.uint64))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def candles(
    seed: int,
    sym: np.ndarray,
    minute: np.ndarray,
    version: np.ndarray | int = 0,
    receipt_s: np.ndarray | None = None,
) -> pd.DataFrame:
    """1m candle rows for parallel arrays of (symbol index, epoch minute,
    version).  Version v of a candle carries its own prices; its
    receipt_timestamp defaults to the candle close + 1 + 7v seconds, so a
    higher version is always the newer receipt."""
    sym = np.asarray(sym, dtype=np.int64)
    minute = np.asarray(minute, dtype=np.int64)
    version = np.broadcast_to(np.asarray(version, dtype=np.int64), sym.shape)
    salt = 16 * version
    base = 10.0 + 990.0 * uniform(seed, sym, np.zeros_like(minute), 1)
    mid = base * (1.0 + 0.02 * (uniform(seed, sym, minute, 2 + salt) - 0.5))
    op = np.round(mid * (1.0 + 0.002 * (uniform(seed, sym, minute, 3 + salt) - 0.5)), 4)
    cl = np.round(mid * (1.0 + 0.002 * (uniform(seed, sym, minute, 4 + salt) - 0.5)), 4)
    hi = np.round(np.maximum(op, cl) * (1.0 + 0.001 * uniform(seed, sym, minute, 5 + salt)), 4)
    lo = np.round(np.minimum(op, cl) * (1.0 - 0.001 * uniform(seed, sym, minute, 6 + salt)), 4)
    vol = np.round(0.001 + 100.0 * uniform(seed, sym, minute, 7 + salt), 3)
    trades = 1 + (50 * uniform(seed, sym, minute, 8 + salt)).astype(np.int64)
    start_s = minute * 60
    if receipt_s is None:
        receipt_s = start_s + 61 + 7 * version
    names = np.array(symbols(int(sym.max()) + 1 if len(sym) else 0), dtype=object)
    to_ts = lambda s: pd.to_datetime(np.asarray(s, dtype=np.int64), unit="s")  # noqa: E731
    return pd.DataFrame(
        {
            "exchange": EXCHANGE,
            "symbol": names[sym] if len(sym) else np.array([], dtype=object),
            "interval": "1m",
            "start": to_ts(start_s),
            "stop": to_ts(start_s + 60),
            "close_unixtime": start_s + 60,
            "trades": trades,
            "open": op,
            "high": hi,
            "low": lo,
            "close": cl,
            "volume": vol,
            "timestamp": to_ts(start_s + 59),
            "receipt_timestamp": to_ts(receipt_s),
        }
    )


def grid(n_sym: int, first_minute: int, n_minutes: int) -> tuple[np.ndarray, np.ndarray]:
    """Every (symbol, minute) pair of a dense block, minute-major."""
    minute = np.repeat(np.arange(first_minute, first_minute + n_minutes, dtype=np.int64), n_sym)
    sym = np.tile(np.arange(n_sym, dtype=np.int64), n_minutes)
    return sym, minute


def to_arrow(df: pd.DataFrame) -> pa.Table:
    df = df.copy()
    for c in ("start", "stop", "timestamp", "receipt_timestamp"):
        df[c] = df[c].dt.tz_localize("UTC")
    return pa.Table.from_pandas(df, schema=CANDLE_ARROW_SCHEMA, preserve_index=False)


def write_parquet(df: pd.DataFrame, path: str) -> None:
    pq.write_table(to_arrow(df), path)
