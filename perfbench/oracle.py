"""Correctness oracle: DuckDB recomputes what the engine stores and
serves from the rows the benchmark generated (never from the engine's
output), and ``frames_match`` compares results."""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def frames_match(got: pd.DataFrame, want: pd.DataFrame, atol: float = 2e-6) -> str | None:
    """None when the frames hold the same rows, else a short reason.

    Order-insensitive: both sides are sorted on every non-float column.
    Non-float columns must be equal; float columns may differ by
    ``atol`` (the engine rounds sums to 6 decimals, and a different
    summation order can move that last digit).
    """
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    cols = sorted(got.columns)
    floats = [c for c in cols if pd.api.types.is_float_dtype(want[c]) or pd.api.types.is_float_dtype(got[c])]
    keys = [c for c in cols if c not in floats]

    def norm(df: pd.DataFrame) -> pd.DataFrame:
        df = df[cols].copy()
        for c in keys:
            s = df[c]
            if pd.api.types.is_datetime64_any_dtype(s):
                s = s.dt.tz_localize(None) if s.dt.tz is not None else s
                df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
            else:
                df[c] = s.astype(str)
        return df.sort_values(keys or cols, ignore_index=True)

    a, b = norm(got), norm(want)
    for c in keys:
        bad = a[c] != b[c]
        if bad.any():
            i = int(np.flatnonzero(bad.to_numpy())[0])
            return f"{c} differs at row {i}: {a[c][i]!r} != {b[c][i]!r}"
    for c in floats:
        x, y = a[c].to_numpy(float), b[c].to_numpy(float)
        if not np.allclose(x, y, rtol=1e-9, atol=atol, equal_nan=True):
            i = int(np.flatnonzero(~np.isclose(x, y, rtol=1e-9, atol=atol, equal_nan=True))[0])
            return f"{c} differs at row {i}: {x[i]!r} != {y[i]!r}"
    return None


# The cascade levels both workloads maintain: the base minute, the 1h
# level the reads scan, and the day, each built from the level below.
# (Each level costs ~16 Spark jobs per micro-batch; all eight do not fit
# the benchmark's time budget.)
LEVELS = [1, 60, 1440]
LEVEL_DIRS = {1: "candles_1m", 60: "candles_1h", 1440: "candles_1d"}


def connect(rows: pd.DataFrame) -> duckdb.DuckDBPyConnection:
    """A connection holding the delivered rows as ``delivered`` and their
    last-write-wins view as ``candles`` (max receipt_timestamp per key,
    ties broken on close then volume, as the engine does)."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.register("delivered_df", rows)
    con.execute("CREATE TABLE delivered AS SELECT * FROM delivered_df")
    con.execute(
        """CREATE VIEW candles AS
        SELECT * EXCLUDE (rn) FROM (
          SELECT *, row_number() OVER (
            PARTITION BY exchange, symbol, start, interval
            ORDER BY receipt_timestamp DESC, close DESC, volume DESC) AS rn
          FROM delivered) WHERE rn = 1"""
    )
    return con


def rollup_sql(minutes: int, where: str = "TRUE") -> str:
    """One rollup level straight from the deduped 1m rows."""
    sec = minutes * 60
    return f"""
    SELECT exchange, symbol,
      to_timestamp(floor(epoch(start) / {sec}) * {sec})::TIMESTAMP AS candle_start,
      arg_min(open, start) AS open, min(start) AS open_time,
      max(high) AS high, min(low) AS low,
      arg_max(close, start) AS close, max(start) AS close_time,
      round(sum(volume), 6) AS volume, sum(trades)::BIGINT AS trades
    FROM candles WHERE {where} GROUP BY ALL"""


def stored_level(out_dir: str, minutes: int) -> pd.DataFrame:
    """A stored level read straight from its parquet files (no Spark)."""
    t = pq.read_table(os.path.join(out_dir, LEVEL_DIRS[minutes]), partitioning="hive")
    return _naive(t.drop([c for c in t.column_names if c == "month"]).to_pandas())


def _naive(df: pd.DataFrame) -> pd.DataFrame:
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return df


def check_store(rows: pd.DataFrame, out_dir: str) -> list[str]:
    """The stored raw table (after last-write-wins) and every stored
    level against the recomputation from ``rows``."""
    con = connect(rows)
    problems = []
    raw = _naive(pq.read_table(os.path.join(out_dir, "candles_raw")).to_pandas())
    con.register("stored_raw", raw)
    got = con.execute(
        """SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER (
             PARTITION BY exchange, symbol, start, interval
             ORDER BY receipt_timestamp DESC, close DESC, volume DESC) AS rn
           FROM stored_raw) WHERE rn = 1"""
    ).df()
    why = frames_match(got, con.execute("SELECT * FROM candles").df())
    if why:
        problems.append(f"raw: {why}")
    for m in LEVELS:
        why = frames_match(stored_level(out_dir, m), con.execute(rollup_sql(m)).df())
        if why:
            problems.append(f"level {m}m: {why}")
    return problems
