"""Shared machinery: the Spark session, span tracing, Spark status
counters, process memory and summary statistics.

Spans are recorded only in a traced run (``Tracer(enabled=True)``); an
untraced run makes no status-API calls at all, so the end-to-end
figures it reports carry no tracing cost.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


def spark_session(work: str):
    """A local[4] session whose scratch state stays under ``work``."""
    from trade_data_collection_service_spark.session import get_spark

    for d in ("tmp", "local", "warehouse", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    spark = get_spark(
        "perfbench",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={work}/derby"
                f" -Djava.io.tmpdir={work}/tmp"
                " -XX:ReservedCodeCacheSize=512m"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, attrs), written out
    once at exit.  Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._stack = threading.local()

    def _parents(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int | None:
        """Record a finished span; times are epoch seconds."""
        if not self.enabled:
            return None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end, "parent": parent, **attrs}
            )
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        """Time a block; nested blocks on the same thread become children."""
        if not self.enabled:
            yield None
            return
        parents = self._parents()
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "start": time.time(), "end": None,
                   "parent": parents[-1] if parents else None, **attrs}
            self.spans.append(rec)
        parents.append(sid)
        try:
            yield rec
        finally:
            parents.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        """Write all spans as JSON.  A span recorded without a parent (a
        writer call made on Spark's callback thread, a micro-batch read
        from the progress log) gets the innermost span enclosing it."""
        if not self.enabled:
            return
        for s in self.spans:
            if s["parent"] is None:
                outer = [o for o in self.spans if o is not s and o["end"] is not None
                         and o["start"] <= s["start"] and s["end"] <= o["end"]]
                if outer:
                    s["parent"] = min(outer, key=lambda o: o["end"] - o["start"])["id"]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# Spark status counters
# ---------------------------------------------------------------------------


def _ts(s: str | None) -> float | None:
    """Status-API time ("2026-01-01T00:00:00.123GMT") as epoch seconds."""
    if not s:
        return None
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=timezone.utc).timestamp()


class SparkCounters:
    """Attributes Spark's status-API job and stage records to a time
    window: a job belongs to the span during which it was submitted
    (the driver submits every job from inside one span at a time).
    Call ``window`` promptly after the span ends, before the default
    retention of 1000 stages evicts its records."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, what: str) -> list:
        with urllib.request.urlopen(f"{self.base}/{what}", timeout=30) as r:
            return json.load(r)

    def window(self, start: float, end: float) -> dict:
        # The status store is fed by an asynchronous listener: re-read
        # until the window's jobs are unchanged and all have finished.
        prev = None
        for _ in range(50):
            jobs = [
                j for j in self._get("jobs")
                if start <= _ts(j.get("submissionTime")) <= end
            ]
            key = [(j["jobId"], j["status"]) for j in jobs]
            if key == prev and all(j["status"] != "RUNNING" for j in jobs):
                break
            prev = key
            time.sleep(0.25)
        ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in self._get("stages")
            if s["stageId"] in ids and s["status"] != "SKIPPED"
        ]
        intervals = sorted(
            (_ts(j["submissionTime"]), _ts(j.get("completionTime")) or end) for j in jobs
        )
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in intervals:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        tot = lambda k: sum(int(s.get(k, 0)) for s in stages)  # noqa: E731
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": tot("numCompleteTasks"),
            "driver_s": max(0.0, (end - start) - busy),
            "task_cpu_s": tot("executorCpuTime") / 1e9,
            "bytes_read": tot("inputBytes"),
            "rows_read": tot("inputRecords"),
            "bytes_written": tot("outputBytes"),
            "rows_written": tot("outputRecords"),
            "shuffle_write_bytes": tot("shuffleWriteBytes"),
            "spill_bytes": tot("memoryBytesSpilled") + tot("diskBytesSpilled"),
        }


ZERO_COUNTERS = dict.fromkeys(
    ["jobs", "stages", "tasks", "driver_s", "task_cpu_s", "bytes_read", "rows_read",
     "bytes_written", "rows_written", "shuffle_write_bytes", "spill_bytes"], 0
)


def add_counters(a: dict, b: dict) -> dict:
    return {k: a[k] + b[k] for k in a}


# ---------------------------------------------------------------------------
# Memory and statistics
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and all its descendants (the
    driver JVM and its Python workers)."""
    kids, todo, total = _children(), [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def mean(xs) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return float(xs[min(len(xs) - 1, max(0, int(round(q * len(xs) + 0.5)) - 1))])
