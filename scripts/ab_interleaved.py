#!/usr/bin/env python
"""Interleaved same-process A/B of one query under a module-level
toggle (host weather oscillates between windows, so cross-process
before/after seconds are meaningless — alternate the variants inside
ONE session and compare medians/mins; NOTES.md discipline).

Usage:
    python scripts/ab_interleaved.py <query> <module:attr> [reps] [sf_dir]

Flips ``module:attr`` between True (variant A) and False (variant B)
before each cold sample; the toggle must be consulted at plan-BUILD
time by the code under test. Prints one JSON line with both sample
vectors.
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    query = sys.argv[1]
    mod_name, attr = sys.argv[2].split(":")
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    sf_dir = sys.argv[4] if len(sys.argv) > 4 else "/root/testdata/sf0.1"

    from asset_prices_parquet_saver_spark.plans import QUERIES
    from asset_prices_parquet_saver_spark.session import get_spark

    mod = importlib.import_module(mod_name)
    spark = get_spark(app_name=f"ab-{query}")
    fn = QUERIES[query]
    # warmup (codegen + python worker pool), untimed
    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    a: list[float] = []
    b: list[float] = []
    for rep in range(reps):
        # alternate the within-rep order: a monotone warm/cool drift
        # otherwise biases whichever variant always runs first
        pair = ((True, a), (False, b)) if rep % 2 == 0 else ((False, b), (True, a))
        for flag, out in pair:
            setattr(mod, attr, flag)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            out.append(round(time.perf_counter() - t0, 3))
    setattr(mod, attr, True)  # restore default
    print(json.dumps({
        "query": query, "toggle": sys.argv[2], "sf_dir": sf_dir,
        "A_true": a, "B_false": b,
        "A_med": sorted(a)[len(a) // 2], "B_med": sorted(b)[len(b) // 2],
        "A_min": min(a), "B_min": min(b),
    }))


if __name__ == "__main__":
    main()
