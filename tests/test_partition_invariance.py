"""Partition-count invariance: the determinism claim behind every
value-hash oracle is that results are a pure function of the DATA, not
of the physical plan. This runs representative registry queries under
different shuffle-partition counts and asserts bit-identical value
hashes — the failure mode it guards (double accumulation order, rank
ties, per-partition kernels leaking partition structure) is exactly
what changes between a 32-core laptop and a 1000-executor cluster."""

from __future__ import annotations

import hashlib

from asset_prices_parquet_saver_spark.plans import QUERIES

#: one representative per risk family: decimal aggregation, windowed
#: decimal moments, weighted hash sampling, single-partition connected
#: components, Arrow-batched numpy kernels, global ordering.
PROBES = [
    "flagship_pricing_summary",
    "tick_anomalies",
    "weighted_doc_sample",
    "fuzzy_dedup_documents",
    "cosine_topk",
    "global_shuffle_order",
    "rfm_segments",
    "minhash_lsh_pairs",      # LSH band-bucket join structure
    "pack_training_shards",   # distributed prefix-sum offsets
    "ohlc_bars",              # struct-min/max combine order
    "daily_event_digest",     # collect_list arrival order (array_sort)
    # round-5 surfaces
    "scd2_user_segments",     # run-collapse windows + key-last struct max
    "nation_trade_pagerank",  # iterative double sums across partitions
    "ann_hamming_topk",       # bit packing + popcount ranking ties
    "events_in_campaign_windows",  # interval explode + bucket join
    "interpolated_price_quantiles",  # global-order boundary interpolation
    "min_cost_supplier_per_part",  # double-equality min ties across partitions
    # round-5-continuation indicator family
    "bollinger_bands",        # exact-decimal window moments
    "beta_vs_market",         # staged-decimal returns + broadcast market join
    # round-6 indicator family
    "return_correlations",    # deterministic top-k + per-day pair expansion
    "stochastic_oscillator",  # window extrema + staged %K feeding %D sums
    "adjusted_closes",        # collect_list arrival order (sort_array) + fold
    # round-10 session-2 surfaces
    "merge_into_orders",      # full-outer clause resolution across splits
    "mv_event_daily_totals",  # decimal partial combine order across segments
    "nation_trade_khop",      # frontier-join iteration + first-arrival dedup
    "brand_graph_components", # synchronous min-label rounds
    "fk_integrity_report",    # distinct-key anti-joins + 1-row crossJoins
]


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if v != v else f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _value_hash(df) -> str:
    cols = sorted(df.columns)
    lines = sorted(
        "|".join(_canon(r[c]) for c in cols) for r in df.collect()
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def test_results_invariant_to_shuffle_partition_count(spark, sf_dir):
    conf = spark.conf
    orig = conf.get("spark.sql.shuffle.partitions")
    try:
        hashes = {}
        for parts in ("3", "17"):
            conf.set("spark.sql.shuffle.partitions", parts)
            for name in PROBES:
                hashes.setdefault(name, []).append(
                    _value_hash(QUERIES[name](spark, sf_dir))
                )
        for name, hs in hashes.items():
            assert hs[0] == hs[1], f"{name} result depends on partitioning: {hs}"
    finally:
        conf.set("spark.sql.shuffle.partitions", orig)


def test_results_invariant_to_input_split_size(spark, sf_dir):
    """Input-split invariance: shrinking maxPartitionBytes changes how
    the scan splits files AND where Arrow batch boundaries fall in
    mapInPandas kernels — per-batch numpy work must not leak batch
    structure into results."""
    conf = spark.conf
    orig = conf.get("spark.sql.files.maxPartitionBytes")
    probes = ["cosine_topk", "weighted_doc_sample", "media_decode_meta"]
    try:
        hashes = {}
        for size in ("131072", "134217728"):  # 128 KiB vs 128 MiB
            conf.set("spark.sql.files.maxPartitionBytes", size)
            for name in probes:
                hashes.setdefault(name, []).append(
                    _value_hash(QUERIES[name](spark, sf_dir))
                )
        for name, hs in hashes.items():
            assert hs[0] == hs[1], f"{name} result depends on input splits: {hs}"
    finally:
        conf.set("spark.sql.files.maxPartitionBytes", orig)
