"""Persistent scaling-leg worker for bench.py's N -> 4N measurement.

One worker process = one fully-warmed Spark session at a fixed core
count. The parent (bench.py) starts two workers (local[N] and
local[4N]) and alternates `run` commands between them, so every round
is a locally-paired measurement on this drift-prone shared VM — while
session startup, JVM JIT, Python-worker spawn, and the parquet page
cache are paid ONCE per leg instead of once per round. That removes
the fixed overhead that otherwise inflates the small leg's relative
cost (a real long-running cluster job never pays per-measurement
startup either).

Protocol (stdin/stdout, one JSON line per reply; Spark logs stay on
stderr):
    parent -> worker:  "run\n" | "quit\n"
    worker -> parent:  {"ready": true, ...}  once after warm-up
                       {"sec": <float>, "n": <int>}  per run
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SCALING_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SCALING_PARTITIONS", "64"))


def main() -> None:
    cores = int(sys.argv[1])
    replicas = int(sys.argv[2])

    from bench import _session, time_extraction

    spark = _session(f"bench-scale-{cores}", cores, aqe=False)
    # two-stage warm-up: a small run spawns Python workers + JITs the
    # hot paths, then one FULL-SIZE unrecorded run touches the entire
    # replica fan-out and page cache at the measured shape
    time_extraction(spark, replicas=1, partitions=cores)
    warm_sec, warm_n, _ = time_extraction(spark, replicas=replicas, partitions=SCALING_PARTITIONS)
    print(json.dumps({"ready": True, "cores": cores, "warm_sec": round(warm_sec, 3)}),
          flush=True)

    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "run":
            # drain GC debt from the PREVIOUS run before timing this one
            spark.sparkContext._jvm.System.gc()
            # SAME logical partition count on BOTH legs (like a real
            # cluster job: partitions are sized for the data, executors
            # scale underneath); the kernel runs one task per slot on
            # each leg (pipeline/extract.py), so neither leg pays a
            # serial per-task overhead the other does not
            sec, n, _ = time_extraction(spark, replicas=replicas, partitions=SCALING_PARTITIONS)
            print(json.dumps({"sec": sec, "n": n}), flush=True)
        elif cmd == "quit":
            break
    spark.stop()


if __name__ == "__main__":
    main()
