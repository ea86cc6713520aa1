"""The workloads and the per-op loop that times them.

Each workload runs closed-loop with one client in the driver process. A
*pass* is the workload's unit of work: one seeded permutation of its
queries, or a fixed number of tick batches. A run measures a whole
number of passes, fixed by ``--seconds`` and the workload's ``pass_s``.

Only the calls into the package are timed. Output checks, memo
clearing and counter collection run between ops, outside the timed
region.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import numpy as np

import counters
import gen

#: the package's memo dicts, by module; cleared before every cold op. A
#: name that no longer exists is skipped, so deleting a memo does not
#: break a run.
MEMOS = {
    "dedup": ("_LSH_MEMO", "_WINDOW_MEMO"),
    "similarity": ("_PAIR_MEMO",),
    "text": ("_POSTINGS_MEMO",),
}

#: ROADMAP item 1's target with the most build-time jobs (semantic
#: dedup fires 26 of its 30 while its plan is built) and item 5's four
#: anti-scalers. An odd count puts one query's two samples at the median
#: of a two-pass run. README.md names the corpus queries left out.
DEDUP_QUERIES = [
    "semantic_dedup_embeddings", "lsh_ensemble_containment", "ann_lsh_topk",
    "unigram_logppl", "ccnet_tertile_prune",
]


def clear_memos() -> None:
    """Pop and unpersist every memoized DataFrame of the package."""
    import importlib

    for mod_name, names in MEMOS.items():
        mod = importlib.import_module(f"asset_prices_parquet_saver_spark.operators.{mod_name}")
        for name in names:
            memo = getattr(mod, name, None)
            while memo:
                _, df = memo.popitem()
                df.unpersist()


@dataclass
class Op:
    """One timed operation: a query (build + collect) or a tick batch
    (hand-off to commit)."""

    name: str
    seconds: float
    build_s: float = 0.0
    ok: bool = True
    counts: dict = field(default_factory=dict)


@dataclass
class Pass:
    ops: list[Op] = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    traced: bool = False

    @property
    def seconds(self) -> float:
        return sum(op.seconds for op in self.ops)


class Ctx:
    """Session-wide state shared by a workload's ops."""

    def __init__(self, spark, data_dir: str):
        self.spark = spark
        self.dir = data_dir
        self.jobs = counters.JobCounter(spark)
        self.traced = False
        self.seq = 0

    def group(self, tag: str) -> str:
        self.seq += 1
        return self.jobs.group(f"{tag}#{self.seq}")


# ------------------------------------------------------------ query workloads


def oracle_hashes(data_dir: str, names: list[str]) -> dict[str, tuple]:
    """(sorted columns, row count, value hash) of each query's DuckDB
    oracle over the generated tables."""
    import duckdb
    from asset_prices_parquet_saver_spark.plans import ORACLE
    from oracle_check import value_hash

    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for name in names:
        rel = con.execute(ORACLE[name])
        cols = [d[0] for d in rel.description]
        rows = [dict(zip(cols, r)) for r in rel.fetchall()]
        out[name] = (sorted(cols), len(rows), value_hash(rows, cols))
    con.close()
    return out


class QueryWorkload:
    """Registered queries over the generated tables, each op cold: the
    memo dicts are cleared before it."""

    #: seconds one pass takes on 4 cores; sets the pass count of a run
    pass_s = 7.5

    def __init__(self, queries: list[str]):
        self.queries = queries
        self.expected: dict[str, tuple] = {}

    def prepare(self, spark, seed: int, work: str) -> Ctx:
        # the corpus is fixed, like a test corpus; the seed orders the ops
        data = os.path.join(work, "tables")
        gen.write_corpus(gen.CORPUS_SEED, data)
        return Ctx(spark, data)

    def check_setup(self, ctx: Ctx) -> None:
        self.expected = oracle_hashes(ctx.dir, self.queries)

    def warmup(self, ctx: Ctx) -> None:
        for name in self.queries:
            self.run_op(ctx, name)

    def run_pass(self, ctx: Ctx, rng: np.random.Generator) -> Pass:
        p = Pass(traced=ctx.traced)
        for name in rng.permutation(self.queries):
            p.ops.append(self.run_op(ctx, str(name)))
        if ctx.traced:
            p.layers["pinned_bytes"] = counters.block_bytes(ctx.spark)
        return p

    def run_op(self, ctx: Ctx, name: str) -> Op:
        from asset_prices_parquet_saver_spark.plans import QUERIES
        from oracle_check import value_hash

        clear_memos()
        build_group = ctx.group(f"{name}:build")
        t0 = time.perf_counter()
        try:
            df = QUERIES[name](ctx.spark, ctx.dir)
            t1 = time.perf_counter()
            exec_group = ctx.group(f"{name}:exec")
            rows = df.collect()
            t2 = time.perf_counter()
        except Exception as exc:  # a failed op is counted, the run goes on
            print(f"perfbench: {name} raised {type(exc).__name__}: {exc}", file=sys.stderr)
            return Op(name, time.perf_counter() - t0, ok=False)
        got = (sorted(df.columns), len(rows), value_hash([r.asDict() for r in rows], df.columns))
        if got != self.expected[name]:
            print(f"perfbench: {name} mismatch: spark {got} oracle {self.expected[name]}",
                  file=sys.stderr)
        op = Op(name, t2 - t0, build_s=t1 - t0, ok=got == self.expected[name])
        if ctx.traced:
            build = ctx.jobs.counts(build_group)
            op.counts = {"build_jobs": build["jobs"], **ctx.jobs.counts(exec_group)}
            op.counts.update(counters.plan_counts(df))
        return op

    def close(self) -> None:
        clear_memos()

    def layers(self, ctx: Ctx, passes: list[Pass]) -> dict[str, float]:
        """Per-pass layer totals, as the median over traced passes."""
        keys = ("jobs", "stages", "tasks", "exchanges", "shuffle_bytes", "spill_bytes",
                "scan_bytes", "cpu_s", "gc_s", "build_jobs")
        rows = []
        for p in passes:
            tot = {k: sum(op.counts.get(k, 0) for op in p.ops) for k in keys}
            tot["build_s"] = sum(op.build_s for op in p.ops)
            tot["exec_s"] = sum(op.seconds - op.build_s for op in p.ops)
            tot["pinned_bytes"] = p.layers.get("pinned_bytes", 0)
            tot["python_s"] = p.layers.get("python_s", 0.0)
            rows.append(tot)
        med = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        return {
            "plans.build_s": med["build_s"],
            "plans.build_jobs": med["build_jobs"],
            "operators.exec_s": med["exec_s"],
            "operators.jobs": med["jobs"],
            "operators.stages": med["stages"],
            "operators.tasks": med["tasks"],
            "operators.exchanges": med["exchanges"],
            "operators.shuffle_bytes": med["shuffle_bytes"],
            "operators.spill_bytes": med["spill_bytes"],
            "operators.cpu_s": med["cpu_s"],
            "operators.gc_s": med["gc_s"],
            "functions.python_s": med["python_s"],
            "functions.pinned_block_mb": med["pinned_bytes"] / 2**20,
            "sources.scan_bytes": med["scan_bytes"],
        }


# ---------------------------------------------------------------- live upsert


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for base, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(base, f)
                out[full] = os.path.getsize(full)
    return out


class LiveUpsert:
    """The reference's own job: a seeded history in the day-partitioned
    prices layout, then a writer that hands tick batches to a running
    ``run_live_upsert`` and waits for each epoch to commit, while a
    reader queries latest closes, returns and OHLC bars."""

    batches_per_pass = 3
    read_every = 3
    pass_s = 7.5

    def prepare(self, spark, seed: int, work: str) -> Ctx:
        from asset_prices_parquet_saver_spark.schema import BAR_SCHEMA
        from asset_prices_parquet_saver_spark.sources.prices_daily import write_prices_daily
        from asset_prices_parquet_saver_spark.streaming.live import run_live_upsert

        self.prices = os.path.join(work, "prices")
        self.ohlc = os.path.join(work, "ohlc")
        self.drop = os.path.join(work, "ticks")
        os.makedirs(self.drop)
        self.hist = gen.history(seed)
        write_prices_daily(spark.createDataFrame(self.hist, BAR_SCHEMA), self.prices)
        self.ticks = gen.TickStream(seed)
        self.next_batch = 0
        self.append_s: list[float] = []
        self.input_bytes = 0
        stream = spark.readStream.schema(
            "symbol string, price double, ts timestamp, tick_id long"
        ).parquet(self.drop)
        self.query = run_live_upsert(
            spark, stream, self.prices, trigger_seconds=None,
            checkpoint_dir=os.path.join(work, "ckpt"), on_batch=self._fold,
        )
        self.spark = spark
        return Ctx(spark, work)

    def _fold(self, batch, epoch_id: int) -> None:
        from asset_prices_parquet_saver_spark.operators.incremental_agg import refresh_ohlc

        t0 = time.perf_counter()
        refresh_ohlc(batch, self.ohlc, id_col="tick_id", txn=("ohlc", epoch_id))
        self.append_s.append(time.perf_counter() - t0)

    def check_setup(self, ctx: Ctx) -> None:
        pass

    def warmup(self, ctx: Ctx) -> None:
        # batch latency settles after about three batches
        self.run_pass(ctx, None)

    def replay(self):
        """The pandas reference over every batch handed off so far."""
        return gen.reference_upsert(self.hist, [self.ticks.batch(b) for b in range(self.next_batch)])

    def stored_bytes(self) -> int:
        return sum(_dir_files(self.prices).values()) + sum(_dir_files(self.ohlc).values())

    def hand_off(self) -> float:
        import pyarrow as pa
        import pyarrow.parquet as pq

        b = self.next_batch
        self.next_batch += 1
        frame = self.ticks.batch(b)
        table = pa.table({
            "symbol": frame["symbol"],
            "price": pa.array(frame["price"], from_pandas=True),
            "ts": pa.array(frame["ts"].dt.tz_localize("UTC"), pa.timestamp("us", tz="UTC")),
            "tick_id": frame["tick_id"],
        })
        tmp = os.path.join(self.drop, f".batch-{b:05d}.parquet")
        pq.write_table(table, tmp)
        self.input_bytes += os.path.getsize(tmp)
        t0 = time.perf_counter()
        os.rename(tmp, os.path.join(self.drop, f"batch-{b:05d}.parquet"))
        self.query.processAllAvailable()
        return time.perf_counter() - t0

    def progress(self):
        """Progress of the newest data batch; it is posted just after the
        commit that ``processAllAvailable`` waits for, so poll briefly."""
        deadline = time.monotonic() + 10
        while True:
            data = [p for p in self.query.recentProgress if p.numInputRows > 0]
            if len(data) >= self.next_batch:
                return data[-1]
            if time.monotonic() > deadline:
                raise RuntimeError("no progress posted for the last tick batch")
            time.sleep(0.01)

    def run_pass(self, ctx: Ctx, rng: np.random.Generator) -> Pass:
        p = Pass(traced=ctx.traced)
        lay = {k: 0.0 for k in ("batch_s", "add_batch_s", "late", "append_s", "bytes",
                                 "files", "days", "read_s", "read_ohlc_s")}
        before = _dir_files(self.prices) | _dir_files(self.ohlc)
        size0, in0, first = sum(before.values()), self.input_bytes, self.next_batch
        for i in range(self.batches_per_pass):
            n_append = len(self.append_s)
            p.ops.append(Op("batch", self.hand_off()))
            if ctx.traced:
                pr = self.progress()
                lay["batch_s"] += pr.durationMs.get("triggerExecution", 0) / 1e3
                lay["add_batch_s"] += pr.durationMs.get("addBatch", 0) / 1e3
                lay["late"] += sum(s.numRowsDroppedByWatermark for s in pr.stateOperators)
                lay["append_s"] += sum(self.append_s[n_append:])
                after = _dir_files(self.prices) | _dir_files(self.ohlc)
                new = {f: s for f, s in after.items() if f not in before}
                lay["files"] += len(new)
                lay["bytes"] += sum(new.values())
                before = after
            if (i + 1) % self.read_every == 0:
                total_s, ohlc_s, ok = self.read(check=True)
                p.ops.append(Op("read", total_s, ok=ok))
                lay["read_s"] += total_s
                lay["read_ohlc_s"] += ohlc_s
        if ctx.traced:
            touched = self.replay()[2][first:]
            lay["days"] = sum(len({day for _, day in t}) for t in touched)
        lay["growth"] = (self.stored_bytes() - size0) / max(1, self.input_bytes - in0)
        p.layers = lay
        return p

    def read(self, check: bool) -> tuple[float, float, bool]:
        """Latest close and one-day return per symbol, then the OHLC
        bars; checks the last batch's writes are visible."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from asset_prices_parquet_saver_spark.operators.incremental_agg import read_ohlc
        from asset_prices_parquet_saver_spark.sources.prices_daily import read_prices_daily

        t0 = time.perf_counter()
        w = Window.partitionBy("symbol").orderBy(F.col("day").desc())
        latest = (
            read_prices_daily(self.spark, self.prices)
            .withColumn("prev", F.lead("adj_close").over(w))
            .withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .select("symbol", "day", "adj_close",
                    (F.col("adj_close") / F.col("prev") - 1).alias("ret"))
            .collect()
        )
        t1 = time.perf_counter()
        bars = read_ohlc(self.spark, self.ohlc).collect()
        t2 = time.perf_counter()
        ok = True
        if check:
            _, accepted, touched, _ = self.replay()
            newest = {r.symbol: (r.day, r.adj_close) for r in latest}
            for (sym, day), px in touched[-1].items():
                if newest[sym][0] == day and newest[sym][1] != px:
                    ok = False
            want_bars = len(set(zip(accepted["symbol"], accepted["ts"].dt.date)))
            ok = ok and len(bars) == want_bars
            if not ok:
                print("perfbench: read after write saw stale data", file=sys.stderr)
        return t2 - t0, t2 - t1, ok

    def final_check(self) -> bool:
        """Prices table equals the pandas reference; read_ohlc equals
        batch ohlc_bars over every accepted tick."""
        import pandas as pd

        from asset_prices_parquet_saver_spark.operators.analytics import ohlc_bars
        from asset_prices_parquet_saver_spark.operators.incremental_agg import read_ohlc
        from asset_prices_parquet_saver_spark.sources.prices_daily import read_prices_daily

        final, accepted, _, _ = self.replay()
        cols = ["symbol", "timestamp", *gen.BAR_VALUES]

        def canon(v):
            if isinstance(v, pd.Timestamp):
                return v.to_pydatetime()
            return None if v is None or v != v else v

        want = {tuple(canon(r[c]) for c in cols) for r in final.to_dict("records")}
        got = {tuple(canon(r[c]) for c in cols)
               for r in read_prices_daily(self.spark, self.prices).collect()}
        ok = got == want
        bar_cols = ["symbol", "day", "open", "high", "low", "close", "n_ticks"]
        ticks = self.spark.createDataFrame(accepted[["symbol", "price", "ts", "tick_id"]])
        want_bars = {tuple(r[c] for c in bar_cols) for r in ohlc_bars(
            ticks, key_col="symbol", ts_col="ts", price_col="price", id_col="tick_id").collect()}
        got_bars = {tuple(r[c] for c in bar_cols) for r in read_ohlc(self.spark, self.ohlc).collect()}
        if not ok or got_bars != want_bars:
            print(f"perfbench: live_upsert final state differs: prices {ok}, "
                  f"bars {got_bars == want_bars}", file=sys.stderr)
        return ok and got_bars == want_bars

    def close(self) -> None:
        self.query.stop()

    def outcome(self, passes: list[Pass]) -> dict[str, float]:
        """The three user-visible live numbers, traced or not."""
        batch_s = statistics.median(
            sum(op.seconds for op in p.ops if op.name == "batch") for p in passes)
        return {
            "ticks_per_s": self.ticks.ticks_per_batch * self.batches_per_pass / batch_s,
            "read_after_write_s": statistics.median(
                op.seconds for p in passes for op in p.ops if op.name == "read"),
            "stored_bytes_per_input_byte": statistics.median(p.layers["growth"] for p in passes),
        }

    def layers(self, ctx: Ctx, passes: list[Pass]) -> dict[str, float]:
        def med(key):
            return statistics.median(p.layers[key] for p in passes)

        files = _dir_files(self.prices)
        parts = {os.path.dirname(f) for f in files}
        state = self.query.lastProgress
        return {
            "sources.merge_s": med("add_batch_s") - med("append_s"),
            "sources.days_touched": med("days"),
            "sources.ohlc_append_s": med("append_s"),
            "sources.bytes_written": med("bytes"),
            "sources.files_written": med("files"),
            "sources.files_per_partition": len(files) / max(1, len(parts)),
            "sources.read_s": med("read_s"),
            "sources.read_ohlc_s": med("read_ohlc_s"),
            "streaming.batch_s": med("batch_s"),
            "streaming.add_batch_s": med("add_batch_s"),
            "streaming.late_rows_dropped": med("late"),
            "streaming.state_rows": sum(s.numRowsTotal for s in state.stateOperators) if state else 0,
        }


WORKLOADS = {
    "corpus_dedup": lambda: QueryWorkload(DEDUP_QUERIES),
    "live_upsert": LiveUpsert,
}
