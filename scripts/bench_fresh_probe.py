#!/usr/bin/env python
"""Fresh-JVM confirmation probe for bench.py's flags.

A regression or superlinearity flag that survives bench.py's in-session
confirm passes can still be an artifact of THAT JVM's accumulated state
(block-manager high water, codegen cache, GC phase) or of a stalled
host window. bench.py invokes this script as a subprocess — new
Python, new JVM, new Spark session — to re-time the flagged queries
from a cold start; the result is printed as ONE JSON line on stdout.

Until r11 this existed only as a manual procedure run by hand after
the bench, its numbers defended in NOTES prose (e.g. the
near_dup_pair_report sf1 46.7 s stall vs the quiet-window 29.1 s
probe); wiring it into bench.py makes BENCH_r{N} carry the
adjudication data itself (VERDICT r11 items 3 and 7).

Usage: bench_fresh_probe.py '<json config>'
  config = {"names": [...], "sf_dirs": [dir, ...],
            "runs": 3, "stat": "median"|"min"}
Output: {sf_dir: {name: seconds}} — `stat` over `runs` cold samples.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    cfg = json.loads(sys.argv[1])
    names = cfg["names"]
    sf_dirs = cfg["sf_dirs"]
    runs = int(cfg.get("runs", 3))
    stat = cfg.get("stat", "median")

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import bench
    from asset_prices_parquet_saver_spark.plans import QUERIES
    from asset_prices_parquet_saver_spark.session import get_spark

    spark = get_spark(
        app_name="bench-fresh-probe",
        extra_conf={
            # same stdout discipline as the parent bench: the parent
            # parses this process's LAST stdout line as JSON
            "spark.driver.extraJavaOptions":
                "-Xlog:all=warning:stderr:uptime,level,tags"
        },
    )
    # same warmup as bench.py: JVM + codegen + parquet footers + the
    # pandas worker pool, so the probe times queries, not cold-start
    QUERIES["flagship_pricing_summary"](spark, sf_dirs[0]).count()

    res: dict[str, dict[str, float]] = {}
    for sf_dir in sf_dirs:
        res[sf_dir] = {}
        for name in names:
            samples = []
            for _ in range(runs):
                bench._reclaim(spark)
                t0 = time.perf_counter()
                QUERIES[name](spark, sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
                samples.append(time.perf_counter() - t0)
            pick = (
                min(samples)
                if stat == "min"
                else sorted(samples)[len(samples) // 2]
            )
            res[sf_dir][name] = round(pick, 3)
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
