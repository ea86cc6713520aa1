#!/usr/bin/env python
"""Per-query profiling harness for the optimization rounds.

For each named headline query (default: every bench HEADLINE entry) this
runs the noop-sink action once cold (same discipline as bench.py)
and records wall seconds plus the number of Spark JOBS and
STAGES the query triggered. Job count exposes hidden eager actions
(localCheckpoint barriers, write-path gate bodies); stage count is a
proxy for exchange count. Output: one JSON object on stdout, optionally
written to --out.

Usage:
    python scripts/profile_queries.py [--out FILE] [--runs N] [name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from asset_prices_parquet_saver_spark.plans import QUERIES  # noqa: E402
from asset_prices_parquet_saver_spark.session import get_spark  # noqa: E402

from bench import HEADLINE, _reclaim  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    names = args.names or list(HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="profile")
    sc = spark.sparkContext
    # same warmup as bench.py: JVM + codegen + python worker pool
    QUERIES["flagship_pricing_summary"](spark, sf_dir).count()
    QUERIES["embedding_near_pairs_lsh"](spark, sf_dir).count()
    out: dict[str, dict] = {}
    for i, name in enumerate(names):
        if i % 8 == 0:
            _reclaim(spark)
        best = None
        for r in range(args.runs):
            group = f"prof-{name}-{r}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            dt = time.perf_counter() - t0
            tracker = sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(group)
            stages = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages += len(info.stageIds)
            rec = {
                "sec": round(dt, 3),
                "jobs": len(jobs),
                "stages": stages,
            }
            if best is None or rec["sec"] < best["sec"]:
                best = rec
        out[name] = best
        print(f"{name}: {best}", file=sys.stderr, flush=True)
    line = json.dumps(out, sort_keys=True)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(line)
    print(line)


if __name__ == "__main__":
    main()
