#!/usr/bin/env python
"""Per-JOB wall-time attribution for one or more headline queries.

profile_queries.py counts jobs/stages; this script names them: it runs
each query's noop-sink action once in a UI-enabled session and prints
every Spark job the query triggered — duration, stage count/names (call
sites) — so a 30-job query can be read as "which phase pays".
Diagnostic tooling only; never touched by bench.

Usage:
    python scripts/job_trace.py [--out FILE] name [name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from asset_prices_parquet_saver_spark.plans import QUERIES  # noqa: E402
from asset_prices_parquet_saver_spark.session import get_spark  # noqa: E402


def _api(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=10) as r:
        return json.load(r)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        app_name="job-trace", extra_conf={"spark.ui.enabled": "true"}
    )
    sc = spark.sparkContext
    ui = sc.uiWebUrl
    app_id = sc.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"
    # same warmup as bench.py
    QUERIES["flagship_pricing_summary"](spark, sf_dir).count()
    QUERIES["embedding_near_pairs_lsh"](spark, sf_dir).count()
    out: dict[str, list] = {}
    for name in args.names:
        group = f"trace-{name}"
        sc.setJobGroup(group, name)
        QUERIES[name](spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        sc.setJobGroup(None, None)
        job_ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
        jobs = []
        all_jobs = {j["jobId"]: j for j in _api(base, "/jobs")}
        for jid in job_ids:
            j = all_jobs.get(jid)
            if j is None:
                continue
            sub = j.get("submissionTime", "")
            comp = j.get("completionTime", "")
            dur = None
            try:
                from datetime import datetime

                fmt = "%Y-%m-%dT%H:%M:%S.%fGMT"
                dur = (
                    datetime.strptime(comp, fmt) - datetime.strptime(sub, fmt)
                ).total_seconds()
            except Exception:
                pass
            jobs.append(
                {
                    "job": jid,
                    "sec": dur,
                    "name": (j.get("name") or "")[:140],
                    "stages": len(j.get("stageIds", [])),
                    "tasks": j.get("numTasks"),
                }
            )
        out[name] = jobs
        total = sum(j["sec"] or 0 for j in jobs)
        print(f"\n=== {name}: {len(jobs)} jobs, {total:.2f}s job-time ===")
        for j in jobs:
            print(
                f"  job {j['job']:>5} {j['sec'] if j['sec'] is not None else -1:7.2f}s"
                f" stages={j['stages']:<3} tasks={j['tasks']:<4} {j['name']}"
            )
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(out, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
