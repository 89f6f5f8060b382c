"""backfill_serve: history backfill, one watchdog cycle, then reads.

(a) Backfill: ``backfill_plan`` cuts every symbol's history into
    1000-minute chunks, ``fetch_chunks`` runs a seeded numpy fetcher over
    them (with ~1% missing minutes and ~5% duplicate versions), and the
    rows go through ``write_raw`` and one ``upsert_rollup_levels``.
(b) Watchdog: one ``watchdog_cycle`` with ``table_refill`` over the
    gap-free truth; every output is materialised.
(c) Reads: one client issues seeded read queries back to back (closed
    loop): an untimed warm-up round, then one timed round of every query
    kind per 10 measured seconds.
"""

from __future__ import annotations

import os
import time
import traceback
from datetime import datetime, timezone

import numpy as np
import pandas as pd

from perfbench import datagen, oracle
from perfbench.harness import ZERO_COUNTERS, add_counters, mean, median, pct

N_SYM = 16
# Two days of 1m history crossing the May/June month boundary.
FIRST_MINUTE = int(datetime(2024, 5, 31, tzinfo=timezone.utc).timestamp()) // 60
N_MIN = 2880
CHUNK = 1000
DUP_SHARE = 0.05
MARGIN = 30  # no gap within this many minutes of either end


def gap_minutes(seed: int) -> dict[int, np.ndarray]:
    """Per symbol, the minutes the fetcher leaves out (~1%): single
    minutes, runs of 2-4, and pairs of runs one present minute apart."""
    out = {}
    for s in range(N_SYM):
        rng = np.random.default_rng([seed, 31, s])
        miss: set[int] = set()
        slots = rng.choice(np.arange(MARGIN, N_MIN - MARGIN - 12, 12), size=N_MIN // 400, replace=False)
        for k, at in enumerate(slots):
            kind = k % 3
            if kind == 0:
                run = [at]
            elif kind == 1:
                run = list(range(at, at + int(rng.integers(2, 5))))
            else:
                n = int(rng.integers(1, 4))
                run = list(range(at, at + n)) + list(range(at + n + 1, at + 2 * n + 1))
            miss.update(run)
        out[s] = FIRST_MINUTE + np.array(sorted(miss), dtype=np.int64)
    return out


def expected_islands(gaps: dict[int, np.ndarray]) -> pd.DataFrame:
    rows = []
    names = datagen.symbols(N_SYM)
    for s, m in gaps.items():
        cuts = np.flatnonzero(np.diff(m) > 1) + 1
        for run in np.split(m, cuts):
            rows.append((datagen.EXCHANGE, names[s], pd.Timestamp(int(run[0]) * 60, unit="s"),
                         pd.Timestamp(int(run[-1]) * 60, unit="s"), len(run)))
    return pd.DataFrame(rows, columns=["exchange", "symbol", "gap_start", "gap_end", "n_missing"])


class Fetcher:
    """Exchange stand-in for ``fetch_chunks``: rows derived from (seed,
    symbol, minute), with planted gaps and duplicate versions."""

    def __init__(self, seed: int, gaps: dict[int, np.ndarray]):
        self.seed, self.gaps = seed, gaps
        self.index = {name: i for i, name in enumerate(datagen.symbols(N_SYM))}

    def rows(self, s: int, lo: int, hi: int) -> pd.DataFrame:
        minute = np.arange(lo, hi, dtype=np.int64)
        minute = minute[~np.isin(minute, self.gaps[s])]
        sym = np.full(len(minute), s, dtype=np.int64)
        dup = datagen.uniform(self.seed, sym, minute, 99) < DUP_SHARE
        return pd.concat(
            [datagen.candles(self.seed, sym, minute),
             datagen.candles(self.seed, sym[dup], minute[dup], version=1)],
            ignore_index=True,
        )

    def __call__(self, symbol: str, start, end) -> pd.DataFrame:
        return self.rows(self.index[symbol], int(start.timestamp()) // 60, int(end.timestamp()) // 60)


def truth(seed: int) -> pd.DataFrame:
    sym, minute = datagen.grid(N_SYM, FIRST_MINUTE, N_MIN)
    return datagen.candles(seed, sym, minute)


READ_KINDS = ("recent_top200", "readme_window", "latest_per_symbol", "earliest_per_symbol",
              "count_distinct_day", "range_1h", "freshness")


def _read_plan(seed: int, rounds: int) -> list[tuple]:
    """Rounds of every read kind in a fixed order, with seeded symbols
    and day, so each round costs the same work whatever the seed."""
    rng = np.random.default_rng([seed, 41])
    names = datagen.symbols(N_SYM)
    plan = []
    for _ in range(rounds):
        for kind in READ_KINDS:
            a, b = rng.choice(N_SYM, 2, replace=False)
            day = int(rng.integers(0, N_MIN // 1440))
            plan.append((kind, names[a], names[b], FIRST_MINUTE + day * 1440))
    return plan


def _spark_read(spark, out: str, kind: str, s1: str, s2: str, m0: int):
    from pyspark.sql import functions as F

    from trade_data_collection_service_spark.operators import queries as Q
    from trade_data_collection_service_spark.operators.dedup import dedup_latest
    from trade_data_collection_service_spark.streaming.pipeline import read_rollup_level

    lo, hi = pd.Timestamp(m0 * 60, unit="s"), pd.Timestamp((m0 + 1440) * 60, unit="s")
    if kind == "range_1h":
        lvl = read_rollup_level(spark, os.path.join(out, "candles_1h"))
        return lvl.filter((F.col("symbol") == s1) & (F.col("candle_start") >= F.lit(lo))
                          & (F.col("candle_start") < F.lit(hi)))
    c = dedup_latest(spark.read.parquet(os.path.join(out, "candles_raw")))
    ex = datagen.EXCHANGE
    return {
        "recent_top200": lambda: Q.recent_candles(c, ex, s1, "1m", 200),
        "readme_window": lambda: Q.readme_window_query(c, [s1, s2], 6),
        "latest_per_symbol": lambda: Q.latest_per_symbol(c),
        "earliest_per_symbol": lambda: Q.earliest_per_symbol(c, ex, "1m"),
        "count_distinct_day": lambda: Q.count_distinct_in_window(c, ex, s1, lo, hi),
        "freshness": lambda: Q.freshness(c),
    }[kind]()


def _duck_read(con, kind: str, s1: str, s2: str, m0: int) -> pd.DataFrame:
    lo, hi = f"to_timestamp({m0 * 60})::TIMESTAMP", f"to_timestamp({(m0 + 1440) * 60})::TIMESTAMP"
    sql = {
        "recent_top200": f"""SELECT * FROM (SELECT * FROM candles WHERE symbol='{s1}'
            ORDER BY start DESC LIMIT 200) ORDER BY start""",
        "readme_window": f"""SELECT symbol, start, open, high, low, close, volume FROM candles
            WHERE symbol IN ('{s1}','{s2}')
              AND start >= (SELECT max(start) FROM candles) - INTERVAL 6 HOUR""",
        "latest_per_symbol": """SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER
            (PARTITION BY symbol ORDER BY stop DESC, exchange DESC) rn FROM candles) WHERE rn=1""",
        "earliest_per_symbol": "SELECT symbol, min(start) AS earliest_start FROM candles GROUP BY symbol",
        "count_distinct_day": f"""SELECT count(DISTINCT start) AS n_candles FROM candles
            WHERE symbol='{s1}' AND start >= {lo} AND start < {hi}""",
        "range_1h": f"SELECT * FROM ({oracle.rollup_sql(60)}) WHERE symbol='{s1}' "
                    f"AND candle_start >= {lo} AND candle_start < {hi}",
        "freshness": """SELECT symbol, max(stop) AS latest_stop,
              (epoch((SELECT max(stop) FROM candles)) - epoch(max(stop)))::BIGINT AS lag_seconds,
              (epoch((SELECT max(stop) FROM candles)) - epoch(max(stop))) > 120 AS is_stale
            FROM candles GROUP BY symbol""",
    }[kind]
    return con.execute(sql).df()


def run(spark, work: str, seed: int, seconds: float, tracer, counters) -> dict:
    from trade_data_collection_service_spark.operators.backfill import backfill_plan
    from trade_data_collection_service_spark.operators.watchdog import table_refill, watchdog_cycle
    from trade_data_collection_service_spark.sources.rest import fetch_chunks
    from trade_data_collection_service_spark.streaming.pipeline import upsert_rollup_levels
    from trade_data_collection_service_spark.streaming.sinks import ParquetCandleWriter

    def measured(name: str, fn):
        """Run ``fn`` inside a span; returns (result, seconds, counters)."""
        with tracer.span(name) as rec:
            t0 = time.time()
            out = fn()
            t1 = time.time()
        c = counters.window(t0, t1) if counters is not None else ZERO_COUNTERS
        if rec is not None:
            rec.update(c)
        return out, t1 - t0, c

    t_setup = time.time()
    with tracer.span("phase.setup"):
        out = os.path.join(work, "out")
        gaps = gap_minutes(seed)
        fetcher = Fetcher(seed, gaps)
        truth_path = os.path.join(work, "truth.parquet")
        datagen.write_parquet(truth(seed), truth_path)
        edge = pd.Timestamp((FIRST_MINUTE + N_MIN) * 60, unit="s")
        # The live edge: each symbol's earliest stored candle, where backfill stops.
        stored = spark.createDataFrame(
            [(s, edge.to_pydatetime()) for s in datagen.symbols(N_SYM)], "symbol string, start timestamp"
        )
        truth_df = spark.read.parquet(truth_path)
        writer = ParquetCandleWriter(out)
    setup_end = time.time()
    layers: dict = {}
    problems: list[str] = []

    # (a) backfill: a batch job started fresh, so its cold start is part
    # of what a user waits for.
    with tracer.span("phase.backfill"):
        t0 = time.time()
        plan, layers["backfill.plan_s"], c_plan = measured("backfill.plan", lambda: _cached(
            backfill_plan(stored, pd.Timestamp(FIRST_MINUTE * 60, unit="s").to_pydatetime(), CHUNK, edge.to_pydatetime())))
        _, layers["backfill.write_raw_s"], c_write = measured(
            "sinks.write_raw", lambda: writer.write_raw(fetch_chunks(plan, fetcher)))
        _, layers["backfill.maintain_s"], c_maint = measured(
            "operators.rollup.upsert", lambda: upsert_rollup_levels(spark, writer.raw_path, writer.read_raw(spark), out, oracle.LEVELS))
        t_backfill = time.time() - t0
    c_bf = add_counters(add_counters(c_plan, c_write), c_maint)
    delivered = pd.concat(
        [fetcher.rows(s, FIRST_MINUTE, FIRST_MINUTE + N_MIN) for s in range(N_SYM)], ignore_index=True
    )
    layers.update({
        "backfill.jobs": c_bf["jobs"], "backfill.task_cpu_s": c_bf["task_cpu_s"],
        "backfill.shuffle_write_bytes": c_bf["shuffle_write_bytes"], "backfill.spill_bytes": c_bf["spill_bytes"],
    })

    # (b) watchdog
    with tracer.span("phase.watchdog"):
        t0 = time.time()
        rep = watchdog_cycle(writer.read_raw(spark), table_refill(truth_df))
        c_wd = ZERO_COUNTERS
        got = {}
        for part, act in (("freshness", "collect"), ("gap_islands", "collect"), ("refill", "count"),
                          ("repaired_raw", "count"), ("repaired_rollup", "count"), ("verify", "collect")):
            df = getattr(rep, part)
            got[part], layers[f"watchdog.{part}_s"], c = measured(
                f"operators.watchdog.{part}", (lambda d=df: d.toPandas()) if act == "collect" else df.count)
            c_wd = add_counters(c_wd, c)
        t_watchdog = time.time() - t0
    want_isl = expected_islands(gaps)
    gap_rows = int(want_isl["n_missing"].sum())
    layers.update({
        "watchdog.jobs": c_wd["jobs"], "watchdog.shuffle_write_bytes": c_wd["shuffle_write_bytes"],
        "watchdog.gaps_found": float(len(got["gap_islands"])), "watchdog.gaps_injected": float(len(want_isl)),
        "watchdog.refill_gap_rows": float(gap_rows), "watchdog.refill_rows_fetched": float(got["refill"]),
        "watchdog.refill_useful_ratio": gap_rows / max(1, got["refill"]),
    })
    why = oracle.frames_match(got["gap_islands"], want_isl)
    if why:
        problems.append(f"watchdog islands: {why}")
    if not got["verify"]["ok"].all():
        problems.append(f"watchdog verify: {int((~got['verify']['ok']).sum())} keys not ok")
    if got["repaired_raw"] != N_SYM * N_MIN:
        problems.append(f"watchdog repaired_raw rows {got['repaired_raw']} != {N_SYM * N_MIN}")

    # (c) reads: one untimed warm-up round (each query shape is planned
    # cold once), then a closed loop of one round per 10 measured
    # seconds.  The round count is fixed by ``seconds``, never by how
    # fast the rounds ran: the first timed round is still slower than
    # later ones, so a time-dependent count would move the median.
    def read(kind, s1, s2, m0):
        try:
            res, dt, c = measured(f"operators.queries.{kind}", lambda: _spark_read(spark, out, kind, s1, s2, m0).toPandas())
        except Exception:  # a failed read is counted, and the client goes on
            traceback.print_exc()
            res, dt, c = None, None, ZERO_COUNTERS
        return (kind, s1, s2, m0, res, dt, c)

    plan_reads = _read_plan(seed, 1 + max(1, int(seconds // 10)))
    n_kinds = len(READ_KINDS)
    with tracer.span("phase.reads_warmup"):
        warm = [read(*q) for q in plan_reads[:n_kinds]]
    with tracer.span("phase.reads"):
        reads = [read(*q) for q in plan_reads[n_kinds:]]

    # Correctness, outside the timed region.
    stored_problems = oracle.check_store(delivered, out)
    failed = int(bool(problems)) + int(bool(stored_problems))  # watchdog, backfill
    problems += stored_problems
    con = oracle.connect(delivered)
    for kind, s1, s2, m0, res, _, _ in warm + reads:
        why = "raised" if res is None else oracle.frames_match(res, _duck_read(con, kind, s1, s2, m0))
        if why:
            failed += 1
            problems.append(f"read {kind}({s1},{s2},{m0}): {why}")

    done = [r for r in reads if r[4] is not None]
    lat = [r[5] * 1000 for r in done]
    for k in READ_KINDS:
        layers[f"read.{k}_p50_ms"] = median([r[5] * 1000 for r in done if r[0] == k])
    rc = [r[6] for r in done]
    layers.update({
        "read.p50_ms": median(lat),
        "read.p90_ms": pct(lat, 0.9),
        "read.jobs_per_query": median([c["jobs"] for c in rc]),
        "read.bytes_scanned_per_query": median([c["bytes_read"] for c in rc]),
        "read.rows_scanned_per_row_returned": sum(c["rows_read"] for c in rc) / max(1, sum(len(r[4]) for r in done)),
    })
    tot = ZERO_COUNTERS
    for c in [c_bf, c_wd] + rc:
        tot = add_counters(tot, c)
    layers["_spark"] = tot
    return {
        "setup": (t_setup, setup_end),
        "e2e": {
            "latency_mean_ms": (mean(lat), "ms", len(lat)),
            "throughput_candles_per_s": (len(delivered) / t_backfill, "candles/s", 1),
            "cycle_s": (t_watchdog, "s", 1),
        },
        "layers": layers,
        "attempted": 2 + len(warm) + len(reads),
        "failed": failed,
        "problems": problems,
    }


def _cached(df):
    df = df.cache()
    df.count()
    return df
