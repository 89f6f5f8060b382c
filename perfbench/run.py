"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run also records spans (written to .perfbench_run/spans/) and reports
the per-layer metrics.  Scratch data lives under .perfbench_run/ and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_LAUNCH = time.time()
ROOT = os.getcwd()
PACKAGE = "trade_data_collection_service_spark"
WORKLOADS = ("live_ingest", "backfill_serve")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"run from the repository root: ./{PACKAGE} not found", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Spark scratch, Python temp files and worker imports stay in the checkout.
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_DRIVER_MEM="3g",
    )
    sys.path.insert(0, ROOT)
    from perfbench import harness

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    tracer = harness.Tracer(enabled=bool(args.trace))
    try:
        spark = harness.spark_session(work)
        try:
            counters = harness.SparkCounters(spark) if args.trace else None
            if args.workload == "live_ingest":
                from perfbench import w_live as w
            else:
                from perfbench import w_backfill as w
            res = w.run(spark, work, args.seed, args.seconds, tracer, counters)
            rss = harness.peak_rss_mb()
        finally:
            harness.stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    tracer.write(os.path.join(base, "spans", f"{args.workload}-seed{args.seed}.json"))

    e2e = dict(res["e2e"])
    e2e["setup_s"] = (res["setup"][1] - T_LAUNCH, "s", 1)
    attempted, failed = res["attempted"], res["failed"]
    for p in res["problems"]:
        print(f"CHECK FAILED: {p}")
    for k, (v, unit, n) in e2e.items():
        print(f"{k:28s} {v:14.4f} {unit:10s} n={n}")
    print(f"{'peak_rss_mb':28s} {rss:14.4f} {'MB':10s} n=1")
    print(f"{'error_rate':28s} {failed / attempted:14.4f} {'share':10s} n={attempted}")

    last = os.path.join(base, "last", f"{args.workload}-seed{args.seed}.json")
    if args.trace:
        layers = dict(res["layers"])
        layers.update({f"spark.{k}": v for k, v in layers.pop("_spark").items()})
        layers.update({f"trace.{k}": v for k, (v, _, _) in e2e.items()})
        layers["proc.peak_rss_mb"] = rss
        if os.path.exists(last):
            with open(last) as f:
                untraced = json.load(f)
            for k in e2e.keys() & untraced.keys():
                print(f"tracing overhead {k:28s} {e2e[k][0] - untraced[k]:+14.4f}")
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as f:
            json.dump({k: v for k, (v, _, _) in e2e.items()}, f)
        metrics = {m["name"]: {"value": float(e2e[m["name"]][0]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
