"""live_ingest: open-loop 1-minute candle stream into the rollup cascade.

Set-up streams a day of 1m history and one warm-up minute through
``start_candle_stream``.  Then a generator thread commits one
closed-minute file for every symbol every ``PERIOD_S`` seconds, at
0, PERIOD_S, ... up to the run's measured seconds; each file also
carries ~5% late revisions of minutes up to a day back.
Files are written with pyarrow to a staging name and renamed into the
source directory, so the generator never waits on Spark.
"""

from __future__ import annotations

import os
import threading
import time
from datetime import datetime, timezone

import numpy as np
import pandas as pd

from perfbench import datagen, oracle
from perfbench.harness import ZERO_COUNTERS, add_counters, mean, median

N_SYM = 16
HIST_MIN = 1440  # one day of history, inside one month
FIRST_MINUTE = int(datetime(2024, 5, 3, tzinfo=timezone.utc).timestamp()) // 60
PERIOD_S = 10.0  # paced commit period: a ~6.5 s batch keeps the stream ~65% busy
LATE_SHARE = 0.05
LATE_BACK_MIN = 1440


class TimedWriter:
    """Delegating CandleWriter that records the duration of each call."""

    def __init__(self, inner, tracer):
        self.inner, self.tracer = inner, tracer
        self.calls: list[tuple[str, float, float]] = []

    def _timed(self, name, fn, *args):
        t0 = time.time()
        out = fn(*args)
        t1 = time.time()
        self.calls.append((name, t0, t1))
        self.tracer.add(f"sinks.{name}", t0, t1)
        return out

    def write_raw(self, batch):
        return self._timed("write_raw", self.inner.write_raw, batch)

    def read_raw(self, spark):
        return self._timed("read_raw", self.inner.read_raw, spark)


def _minute_file(seed: int, idx: int, minute: int):
    """All symbols' candle for ``minute`` plus late revisions of up to
    a day back, each with a receipt after the file's own minute."""
    sym = np.arange(N_SYM, dtype=np.int64)
    rows = [datagen.candles(seed, sym, np.full(N_SYM, minute))]
    rng = np.random.default_rng([seed, 21, idx])
    n_late = max(1, round(LATE_SHARE * N_SYM))
    back = min(LATE_BACK_MIN, minute - FIRST_MINUTE)
    picks = np.unique(
        np.stack([rng.integers(0, N_SYM, 4 * n_late), minute - rng.integers(1, back + 1, 4 * n_late)], 1),
        axis=0,
    )
    picks = picks[rng.permutation(len(picks))[:n_late]]
    rows.append(
        datagen.candles(
            seed, picks[:, 0], picks[:, 1], version=idx + 1,
            receipt_s=np.full(len(picks), minute * 60 + 62),
        )
    )
    return pd.concat(rows, ignore_index=True)


class _Stream:
    """The running query plus the batches seen so far."""

    def __init__(self, q, tracer, counters):
        self.q, self.tracer, self.counters = q, tracer, counters
        self.batches: list[dict] = []
        self._seen: set[int] = set()

    def poll(self) -> None:
        for p in self.q.recentProgress:
            bid = p["batchId"]
            if bid in self._seen or not p.get("numInputRows"):
                continue
            self._seen.add(bid)
            start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()
            d = p["durationMs"]
            b = {"id": bid, "start": start, "end": start + d["triggerExecution"] / 1000.0,
                 "rows": p["numInputRows"], "dur": d}
            if self.counters is not None:
                b["counters"] = self.counters.window(b["start"], b["end"])
            self.tracer.add("pipeline.batch", b["start"], b["end"], batch_id=bid, rows=b["rows"],
                            **b.get("counters", {}))
            self.batches.append(b)

    def wait_batches(self, n: int, timeout: float = 150.0) -> None:
        deadline = time.time() + timeout
        while len(self.batches) < n:
            if self.q.exception() is not None:
                raise RuntimeError(f"stream failed: {self.q.exception()}")
            if time.time() > deadline:
                raise TimeoutError(f"{len(self.batches)}/{n} batches after {timeout}s")
            time.sleep(0.05)
            self.poll()


def _commit(df, src: str, stage: str, name: str) -> float:
    datagen.write_parquet(df, stage)
    os.rename(stage, os.path.join(src, name))
    return time.time()


def run(spark, work: str, seed: int, seconds: float, tracer, counters) -> dict:
    from trade_data_collection_service_spark.streaming.pipeline import start_candle_stream
    from trade_data_collection_service_spark.streaming.sinks import ParquetCandleWriter

    src, out, ckpt = (os.path.join(work, d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    stage = os.path.join(work, "staging.parquet")
    writer = TimedWriter(ParquetCandleWriter(out), tracer)
    t_setup = time.time()
    with tracer.span("phase.setup"):
        sym, minute = datagen.grid(N_SYM, FIRST_MINUTE, HIST_MIN)
        delivered = [datagen.candles(seed, sym, minute)]
        _commit(delivered[0], src, stage, "h000000.parquet")
        q = start_candle_stream(spark, src, out, ckpt, available_now=False, minutes=oracle.LEVELS, writer=writer)
        st = _Stream(q, tracer, counters)
        st.wait_batches(1)
        # One warm-up minute: the second batch still competes with the
        # JIT compiling what the first one ran.
        nxt = FIRST_MINUTE + HIST_MIN
        delivered.append(_minute_file(seed, 0, nxt))
        _commit(delivered[-1], src, stage, f"m{nxt}.parquet")
        st.wait_batches(2)
    setup_end = time.time()

    # Paced phase: the generator commits on schedule regardless of Spark.
    n_paced = int(seconds // PERIOD_S) + 1
    files = [(_minute_file(seed, i, nxt + i), nxt + i) for i in range(1, n_paced + 1)]
    commits: list[tuple[float, float]] = []  # (due, committed)

    def generate(t0: float) -> None:
        for k, (df, m) in enumerate(files):
            due = t0 + k * PERIOD_S
            time.sleep(max(0.0, due - time.time()))
            commits.append((due, _commit(df, src, stage, f"m{m}.parquet")))

    with tracer.span("phase.paced"):
        gen = threading.Thread(target=generate, args=(time.time() + 0.2,))
        gen.start()
        try:
            st.wait_batches(2 + n_paced, timeout=n_paced * PERIOD_S + 120)
        finally:
            gen.join()
    q.stop()
    paced = st.batches[2:]
    visible = [b["end"] - due for b, (due, _) in zip(paced, commits)]

    # Correctness, outside the timed region: raw and every level against
    # a DuckDB recomputation from all delivered rows.
    problems = []
    sizes = [len(df) for df, _ in files]
    if [b["rows"] for b in paced] != sizes:
        problems.append(f"batch rows {[b['rows'] for b in paced]} != file rows {sizes}")
    delivered += [df for df, _ in files]
    problems += oracle.check_store(pd.concat(delivered, ignore_index=True), out)

    busy = sum(b["end"] - b["start"] for b in paced)
    return {
        "setup": (t_setup, setup_end),
        "e2e": {
            "latency_mean_ms": (1000 * mean(visible), "ms", len(visible)),
            "throughput_candles_per_s": (sum(sizes) / busy, "candles/s", len(paced)),
            "cycle_s": (median([b["end"] - b["start"] for b in paced]), "s", len(paced)),
        },
        "layers": _layers(paced, writer, commits, counters is not None),
        "attempted": len(st.batches),
        "failed": 1 if problems else 0,
        "problems": problems,
    }


def _layers(batches: list[dict], writer: TimedWriter, commits, traced: bool) -> dict:
    def per_batch(fn):
        return median([fn(b) for b in batches])

    def writer_s(b, name):
        return sum(e - s for n, s, e in writer.calls if n == name and b["start"] <= s <= b["end"])

    out = {
        "pipeline.batch_s": per_batch(lambda b: b["dur"]["triggerExecution"] / 1000),
        "pipeline.addBatch_s": per_batch(lambda b: b["dur"].get("addBatch", 0) / 1000),
        "pipeline.getBatch_s": per_batch(lambda b: b["dur"].get("getBatch", 0) / 1000),
        "pipeline.queryPlanning_s": per_batch(lambda b: b["dur"].get("queryPlanning", 0) / 1000),
        "pipeline.walCommit_s": per_batch(lambda b: b["dur"].get("walCommit", 0) / 1000),
        "pipeline.maintain_s": per_batch(
            lambda b: b["dur"].get("addBatch", 0) / 1000 - writer_s(b, "write_raw") - writer_s(b, "read_raw")
        ),
        "sinks.write_raw_s": per_batch(lambda b: writer_s(b, "write_raw")),
        "sinks.read_raw_s": per_batch(lambda b: writer_s(b, "read_raw")),
        "gen.late_max_s": max(c - d for d, c in commits),
        "pipeline.backlog_files_max": float(max(
            sum(1 for _, c in commits if c <= t) - sum(1 for b in batches if b["end"] <= t)
            for _, t in commits
        )),
    }
    if traced:
        c = [b["counters"] for b in batches]
        out.update({
            "pipeline.jobs_per_batch": median([x["jobs"] for x in c]),
            "pipeline.stages_per_batch": median([x["stages"] for x in c]),
            "pipeline.driver_s_per_batch": median([x["driver_s"] for x in c]),
            "pipeline.task_cpu_s_per_batch": median([x["task_cpu_s"] for x in c]),
            "pipeline.bytes_read_per_batch": median([x["bytes_read"] for x in c]),
            "pipeline.bytes_written_per_batch": median([x["bytes_written"] for x in c]),
            "pipeline.rows_written_per_input_row": median([x["rows_written"] / b["rows"] for x, b in zip(c, batches)]),
        })
        tot = ZERO_COUNTERS
        for x in c:
            tot = add_counters(tot, x)
        out["_spark"] = tot
    return out
