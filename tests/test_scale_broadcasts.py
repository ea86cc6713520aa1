"""At-scale join-strategy contract for the star-join query family.

The sf-scaling dimensions (customer / supplier / part and their
constant-fraction slices) must never be hint-forced into a broadcast:
an explicit ``F.broadcast`` overrides ``autoBroadcastJoinThreshold``,
so at the mandated 100 TB scale the executor would attempt (and die
on) a multi-GB broadcast. ``functions/hints.py`` routes those sites
through ``scaled_dim`` (no hint) and keeps hints only on provably
bounded relations (region / nation / 1-row aggregates / enum domains).

These tests simulate at-scale relation sizes by disabling every
AUTOMATIC broadcast (static and adaptive thresholds = -1). Each query
must then:

1. plan its scaling-dim joins as shuffle joins (SortMergeJoin /
   ShuffledHashJoin) with no cartesian fallback — the 100 TB shape;
2. return results identical to the default-config run (strategy
   changes values never).

Bounded relations keep their explicit hints and are ALLOWED to
broadcast here: shipping 25 nation rows to every executor is correct
at any scale.
"""

from __future__ import annotations

import pytest

from asset_prices_parquet_saver_spark.plans import QUERIES

# Every query that joins an sf-scaling dimension into a fact table —
# the 14 star-join shapes whose hints round 6's audit flagged as
# force-broadcasting customer/supplier/part (plus the two same-class
# sites the audit missed: supplier_count_by_part, promo_revenue_share).
SCALE_QUERIES = [
    "region_revenue",
    "top_building_orders",
    "nation_trade_volume",
    "nation_market_share",
    "product_profit_by_nation",
    "top_supplier_revenue",
    "region_revenue_concentration",
    "nation_trade_pagerank",
    "suppliers_kept_waiting",
    "disjunctive_revenue",
    "supplier_count_by_part",
    "promo_revenue_share",
    "dominant_share_suppliers",
    "min_cost_supplier_per_part",
]

_NO_BROADCAST = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


def _rows(df):
    return sorted(repr(r) for r in df.collect())


@pytest.fixture()
def no_auto_broadcast(spark):
    try:
        for k, v in _NO_BROADCAST.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k in _NO_BROADCAST:  # get_spark sets neither -> unset restores
            spark.conf.unset(k)


@pytest.mark.parametrize("name", SCALE_QUERIES)
def test_scaling_dims_shuffle_join_when_broadcast_impossible(
    spark, sf_dir, name, no_auto_broadcast, pin_seam
):
    # build with the shared-subtree pin seam OFF: a pinned query's
    # final plan reads the fact join from a checkpointed ExistingRDD,
    # hiding the join strategy this lint exists to check — the
    # unpinned form plans the identical join subtree inline (the pin
    # never changes strategy, only how many times the subtree runs)
    pin_seam(False)
    df = QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    if name != "nation_trade_pagerank":
        # the scaling-dim joins fall back to a shuffle strategy...
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, name
    # (pagerank's iterations localCheckpoint each round, so the final
    # plan is a truncated ExistingRDD scan — but the edge build and
    # every iteration just EXECUTED under the no-broadcast confs while
    # the query was constructed, which is the stronger check.)
    # ...never to a cartesian product (every cross join in these
    # queries is a hinted 1-row/bounded aggregate -> BNLJ, not CP)
    assert "CartesianProduct" not in plan, name


@pytest.mark.parametrize("name", SCALE_QUERIES)
def test_results_invariant_to_join_strategy(spark, sf_dir, name):
    baseline = _rows(QUERIES[name](spark, sf_dir))
    try:
        for k, v in _NO_BROADCAST.items():
            spark.conf.set(k, v)
        shuffled = _rows(QUERIES[name](spark, sf_dir))
    finally:
        for k in _NO_BROADCAST:
            spark.conf.unset(k)
    assert shuffled == baseline, name


# ---------------------------------------------------------------------------
# Broadcast-discipline lint (VERDICT r7 #4): F.broadcast is a FORCED
# hint that at 100 TB OOMs the driver if the relation scales with data.
# Engine policy: route star-join dims through functions/hints.py
# (bounded_broadcast / scaled_dim); a DIRECT F.broadcast call is legal
# only for relations bounded by construction — 1-row/few-row
# aggregates, top-k/candidate sets capped by a constant k, schema-
# bounded dims (nation: 25 rows), per-partition offset tables (#cores
# rows), query-vector sets, pinned codebooks/centroid tables. Every
# such site is enumerated below, keyed by (file, exact stripped source
# line) with its occurrence count: adding a NEW direct broadcast (or
# another copy of an existing line) fails this test until the site is
# reviewed as bounded and added here. functions/hints.py itself is the
# sanctioned wrapper and is exempt.
# ---------------------------------------------------------------------------

_BROADCAST_ALLOWLIST: dict[tuple[str, str], int] = {
    # nation (25 rows) / region (5 rows): bounded by construction
    ("asset_prices_parquet_saver_spark/plans/queries.py",
     'F.broadcast(na.select(F.col("n_nationkey").alias("sk"),'): 1,
    ("asset_prices_parquet_saver_spark/plans/queries.py",
     'F.broadcast(na.select(F.col("n_nationkey").alias("ck"),'): 1,
    ("asset_prices_parquet_saver_spark/plans/queries.py",
     'F.broadcast(re.filter(F.col("r_name") == "ASIA")),'): 1,
    # symbol blacklist (operational status table, thousands of rows max)
    ("asset_prices_parquet_saver_spark/cli.py",
     'universe = universe.join(F.broadcast(allowed), "symbol", "left_semi")'): 1,
    ("asset_prices_parquet_saver_spark/operators/symbols.py",
     'return symbols.join(F.broadcast(bad), "symbol", "left_anti")'): 1,
    # per-day market aggregate (≤ #trading-days rows) / top-k key set
    ("asset_prices_parquet_saver_spark/operators/analytics.py",
     'j = rets.join(F.broadcast(market), "day")'): 1,
    ("asset_prices_parquet_saver_spark/operators/analytics.py",
     'sel = rets.join(F.broadcast(top), key_col, "left_semi")'): 1,
    # per-partition offset tables: one row per shuffle partition
    ("asset_prices_parquet_saver_spark/operators/globalorder.py",
     'd.join(F.broadcast(offsets), "__pid")'): 2,
    # grouped offsets: ≤ partitions × distinct groups rows; the
    # helper's contract is LOW-cardinality group keys (the structural-
    # skew escape for hot-key windows), documented on the function
    ("asset_prices_parquet_saver_spark/operators/globalorder.py",
     'd.join(F.broadcast(offsets), ["__pid", *group_cols])'): 1,
    # query-vector sets / pinned codebooks / probe lists / top-k cand
    ("asset_prices_parquet_saver_spark/operators/similarity.py",
     'c.join(F.broadcast(selected.select("id")), "id", "left_anti")'): 1,
    ("asset_prices_parquet_saver_spark/operators/similarity.py",
     'cells.join(F.broadcast(probes), "cell")'): 1,
    ("asset_prices_parquet_saver_spark/operators/similarity.py",
     'codes.join(F.broadcast(qtable), keys)'): 1,
    ("asset_prices_parquet_saver_spark/operators/similarity.py",
     'corpus.join(F.broadcast(probes), "cell")'): 1,
    ("asset_prices_parquet_saver_spark/operators/similarity.py",
     'cross = blocks.crossJoin(F.broadcast(q_all))'): 1,
    ("asset_prices_parquet_saver_spark/operators/similarity.py",
     'pairs = sigs.join(F.broadcast(q), sigs["id"] != q["query_id"]).select('): 1,
    ("asset_prices_parquet_saver_spark/operators/similarity.py",
     'scaled = comp.join(F.broadcast(stats), "i").select('): 1,
    ("asset_prices_parquet_saver_spark/operators/similarity.py",
     'sims.join(F.broadcast(sel_ids), "j")'): 1,
    # 1-row normalization constant (temperature_mix_weights)
    ("asset_prices_parquet_saver_spark/operators/sampling.py",
     'powed.crossJoin(F.broadcast(z))'): 1,
    # 1-row corpus totals / bounded vocab (capped with fail-fast)
    ("asset_prices_parquet_saver_spark/operators/text.py",
     '.crossJoin(F.broadcast(ndocs))'): 1,
    ("asset_prices_parquet_saver_spark/operators/text.py",
     '.crossJoin(F.broadcast(stats))'): 1,
    ("asset_prices_parquet_saver_spark/operators/text.py",
     '.crossJoin(F.broadcast(totals))'): 2,
    ("asset_prices_parquet_saver_spark/operators/text.py",
     '.crossJoin(F.broadcast(vocab))'): 1,
    ("asset_prices_parquet_saver_spark/operators/text.py",
     'tf.join(F.broadcast(dfreq), "term")'): 1,
    # registered queries: 1-row aggregates, query vectors, candidate
    # sets, nation (25 rows) — each verified bounded in VERDICT r7
    ("asset_prices_parquet_saver_spark/plans/queries.py",
     '.crossJoin(F.broadcast(qv))'): 3,
    ("asset_prices_parquet_saver_spark/plans/queries.py",
     '.join(F.broadcast(cand), "doc_id")'): 1,
    ("asset_prices_parquet_saver_spark/plans/queries.py",
     '.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))'): 1,
    ("asset_prices_parquet_saver_spark/plans/queries.py",
     '.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)'): 1,
    ("asset_prices_parquet_saver_spark/plans/queries.py",
     'c.crossJoin(F.broadcast(avg_bal))'): 1,
    ("asset_prices_parquet_saver_spark/plans/queries.py",
     'c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)'): 1,
    ("asset_prices_parquet_saver_spark/plans/queries.py",
     'g = exact.join(F.broadcast(sk), "event_type")'): 1,
    ("asset_prices_parquet_saver_spark/plans/queries.py",
     'joined = ranked.join(F.broadcast(pos), "l_returnflag")'): 1,
    ("asset_prices_parquet_saver_spark/plans/queries.py",
     'nr.join(F.broadcast(tot), "r_name")'): 1,
    ("asset_prices_parquet_saver_spark/plans/queries.py",
     'p.join(F.broadcast(avg_price))'): 1,
    ("asset_prices_parquet_saver_spark/plans/queries.py",
     'per.crossJoin(F.broadcast(tot))'): 1,
    ("asset_prices_parquet_saver_spark/plans/queries.py",
     'pv.join(F.broadcast(tot))'): 1,
    ("asset_prices_parquet_saver_spark/plans/queries.py",
     'rev.crossJoin(F.broadcast(tot))'): 1,
}


def test_direct_broadcast_sites_are_allowlisted():
    """Greps the engine source for direct ``F.broadcast(`` calls and
    fails on any site not in the reviewed-bounded allowlist — the
    structural guard that query #173 can't silently reintroduce a
    forced broadcast of an sf-scaling relation."""
    import collections
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    pkg = root / "asset_prices_parquet_saver_spark"
    found: collections.Counter = collections.Counter()
    for p in sorted(pkg.rglob("*.py")):
        rel = p.relative_to(root).as_posix()
        if rel == "asset_prices_parquet_saver_spark/functions/hints.py":
            continue  # the sanctioned wrapper module
        for line in p.read_text().splitlines():
            if "F.broadcast(" in line:
                found[(rel, line.strip())] += 1
    new_sites = {k: c for k, c in found.items()
                 if c > _BROADCAST_ALLOWLIST.get(k, 0)}
    removed = {k: c for k, c in _BROADCAST_ALLOWLIST.items()
               if found.get(k, 0) < c}
    assert not new_sites, (
        "unreviewed direct F.broadcast site(s) — verify the relation is "
        "bounded-by-construction (or route through functions/hints.py) "
        f"and update the allowlist: {sorted(new_sites)}"
    )
    assert not removed, (
        f"stale allowlist entries (site removed/moved): {sorted(removed)}"
    )
