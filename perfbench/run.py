#!/usr/bin/env python3
"""Benchmark of the price engine, measured from outside the package.

Usage, from the repository root:

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 15 --trace 0

Workloads: corpus_dedup, live_upsert (see perfbench/README.md). The run
sets up a Spark session and the inputs three times, warms up with one
pass of the workload, then measures as many whole passes as fill
``--seconds`` at the workload's nominal pass time. The last line of
stdout is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics of
a traced run instead. Everything the run writes goes under
``.perfbench_work/`` in the repository root and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "asset_prices_parquet_saver_spark")
ORACLE_SCRIPT = os.path.join(ROOT, "scripts", "oracle_check.py")

SETUP_REPS = 3
#: heap for the one local-mode JVM; the inputs are a few MB, so this
#: stays far below the 12g ``bench.py`` asks for
DRIVER_MEMORY = "2g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure(work: str) -> None:
    """Process environment the session and its Python workers inherit."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"  # collect() renders timestamps in process tz
    time.tzset()
    os.environ["TMPDIR"] = tmp
    # workers unpickle UDFs by module path, so they need the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    sys.path[:0] = [ROOT, os.path.dirname(ORACLE_SCRIPT)]


def start_session(work: str):
    from asset_prices_parquet_saver_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # JVM logging to stderr: stdout carries only the result line.
            # The heap is committed and touched at launch, so the JVM's
            # resident size does not follow the GC's heap resizing.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xlog:all=warning:stderr "
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


class PythonProfile:
    """Time inside Python UDF workers from Spark's UDF profiler, minus
    the profile of an identity ``mapInPandas`` (worker start and Arrow
    framing), per profiled UDF."""

    def __init__(self, spark):
        self.spark = spark
        self.baseline = 0.0
        with self:
            spark.range(0, 4096, 1, spark.sparkContext.defaultParallelism) \
                .mapInPandas(lambda it: it, "id long").collect()
        self.baseline = self.seconds

    def __enter__(self) -> PythonProfile:
        self.spark.profile.clear(type="perf")
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        return self

    def __exit__(self, *exc) -> None:
        self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        stats = [s for s in self.spark._profiler_collector._perf_profile_results.values() if s]
        self.seconds = max(0.0, sum(s.total_tt for s in stats) - self.baseline * len(stats))


def tail(samples: list[float]) -> tuple[float, int]:
    """(the highest percentile with at least two samples beyond it, its
    percentile). A run holds 6-10 ops, so this is p67-p80."""
    s = sorted(samples)
    k = max(0, len(s) - 3)
    return s[k], round(100 * (k + 1) / len(s))


def run(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from workloads import WORKLOADS

    wl = WORKLOADS[name]()
    setups, starts, spark = [], [], None
    try:
        for rep in range(SETUP_REPS):
            if spark is not None:
                wl.close()
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(work)
            t1 = time.perf_counter()
            ctx = wl.prepare(spark, seed, os.path.join(work, f"setup{rep}"))
            setups.append(time.perf_counter() - t0)
            starts.append(t1 - t0)
        return measure(wl, ctx, setups, starts, name, seed, seconds, trace)
    finally:
        if spark is not None:
            wl.close()
            stop_session(spark)


def measure(wl, ctx, setups, starts, name, seed, seconds, trace) -> dict:
    import numpy as np

    import counters
    from workloads import Pass

    spark = ctx.spark
    wl.check_setup(ctx)
    t0 = time.perf_counter()
    wl.warmup(ctx)
    warmup_s = time.perf_counter() - t0

    profile = PythonProfile(spark) if trace else None
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    rng = np.random.default_rng([seed, 0])
    passes: list[Pass] = []
    # a pass count fixed by --seconds, not by how fast the first pass
    # ran, so every run of a workload measures the same work
    n_passes = max(1, round(seconds / wl.pass_s)) + trace
    with counters.RssSampler(jvm_pid) as rss:
        t_start = time.perf_counter()
        while len(passes) < n_passes:
            # a traced run measures one more pass, an untraced one first:
            # the difference is the tracing overhead
            ctx.traced = trace and bool(passes)
            t_pass = time.perf_counter()
            if ctx.traced:
                with profile:
                    p = wl.run_pass(ctx, rng)
                p.layers["python_s"] = profile.seconds
            else:
                p = wl.run_pass(ctx, rng)
            p.layers["outside_s"] = time.perf_counter() - t_pass - p.seconds
            passes.append(p)
    measured_s = time.perf_counter() - t_start
    retained = counters.block_bytes(spark)
    final_ok = wl.final_check() if hasattr(wl, "final_check") else True
    traced = [p for p in passes if p.traced]
    untraced = [p for p in passes if not p.traced]
    layers = wl.layers(ctx, traced) if trace else {}

    ops = [op for p in passes for op in p.ops]
    lat = [op.seconds for op in ops if op.name != "read"]
    failed = sum(not op.ok for op in ops) + (not final_ok)
    tail_s, tail_pct = tail(lat)
    setup_s = statistics.median(setups) + warmup_s
    # numbers a user sees that cannot be end-to-end metrics: zero on a
    # good run, or defined for live_upsert only (see README.md)
    seen = {"failed_frac": failed / (len(ops) + 1), "retained_block_mb": retained / 2**20}
    if hasattr(wl, "outcome"):
        seen.update(wl.outcome(untraced))
    print(
        f"perfbench: {name} seed={seed} passes={len(passes)} ops={len(lat)} "
        f"measured={measured_s:.2f}s op_tail_s=p{tail_pct} of {len(lat)} ops "
        f"setups={[round(s, 3) for s in setups]} warmup={warmup_s:.2f}s "
        + " ".join(f"{k}={v:.4g}" for k, v in seen.items()),
        file=sys.stderr,
    )
    if trace:
        wall_traced = statistics.median(p.seconds for p in traced)
        metrics = {
            "session.launch_s": starts[0],
            "session.start_s": statistics.median(starts[1:]),
            "session.warmup_s": warmup_s,
            **layers,
            **seen,
            "trace.wall_s": wall_traced,
            "trace.overhead_s": wall_traced - statistics.median(p.seconds for p in untraced),
            "trace.collect_s": statistics.median(p.layers["outside_s"] for p in traced),
        }
        metrics.update(self_times(metrics))
        units = layer_units()
        out = {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        out = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": statistics.median(p.seconds for p in untraced), "unit": "s"},
            "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
            "op_tail_s": {"value": tail_s, "unit": "s"},
            "peak_rss_mb": {"value": rss.peak / 2**20, "unit": "MB"},
        }
    return {"correct": failed == 0, "attempted": len(ops) + 1, "failed": failed, "metrics": out}


def self_times(m: dict) -> dict:
    """Self time per layer: a layer's span time minus its child spans.

    Spans, per pass: op -> plans.build + operators.exec (queries);
    batch -> streaming trigger -> addBatch -> sources merge + OHLC
    append, and read -> sources reads (live). Python UDF time runs on
    worker processes in parallel with the JVM, so it is reported as its
    own layer and not subtracted."""
    add = m.get("streaming.add_batch_s", 0.0)
    return {
        "self.session_s": m["session.start_s"] + m["session.warmup_s"],
        "self.plans_s": m.get("plans.build_s", 0.0),
        "self.operators_s": m.get("operators.exec_s", 0.0),
        "self.functions_s": m.get("functions.python_s", 0.0),
        "self.sources_s": add + m.get("sources.read_s", 0.0),
        "self.streaming_s": m.get("streaming.batch_s", 0.0) - add,
    }


def layer_units() -> dict[str, str]:
    """Every per-layer metric name and unit, in BENCHMARK.json order."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")) or not os.path.isfile(ORACLE_SCRIPT):
        print(f"perfbench: no engine sources next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    configure(work)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:  # the parent too, unless another run still uses it
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
