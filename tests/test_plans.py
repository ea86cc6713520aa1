"""Physical-plan assertions (SURVEY §4): the scale posture is not just
prose — these tests pin the plan properties that make the operators
viable at 100 TB: predicate pushdown into the parquet scan, column
pruning, broadcast joins for dims, and partial (map-side) aggregation.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from asset_prices_parquet_saver_spark.plans import QUERIES
from asset_prices_parquet_saver_spark.sources.tables import read_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    df = QUERIES["filter_project_compute"](spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    # the shipdate range predicate must be pushed, not evaluated post-scan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].split("]")[0]


def test_column_pruning_in_scan(spark, sf_dir):
    df = QUERIES["filter_project_compute"](spark, sf_dir)
    plan = _plan(df)
    # the FileScan's bracketed output list is the pruned column set
    # (ReadSchema is display-truncated); 16-column lineitem → 6 columns
    scan_cols = plan.split("FileScan parquet [")[1].split("]")[0]
    assert "l_comment" not in scan_cols and "l_suppkey" not in scan_cols
    assert "l_quantity" in scan_cols and "l_shipdate" in scan_cols


def test_star_join_broadcasts_dims(spark, sf_dir):
    # region x nation is bounded and hint-broadcast at ANY scale; the
    # customer-wide dim is un-hinted (it scales with sf) and the
    # optimizer picks broadcast here because the test relation is tiny.
    # The at-scale (forced shuffle) half lives in test_scale_broadcasts.
    plan = _plan(QUERIES["region_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_anti_join_on_tiny_side_broadcasts(spark, sf_dir):
    c = read_table(spark, sf_dir, "customer")
    blacklist = spark.createDataFrame([("x",)], "c_name string")
    out = c.join(F.broadcast(blacklist), "c_name", "left_anti")
    assert "BroadcastHashJoin" in _plan(out) and "LeftAnti" in _plan(out)


def test_aggregation_is_partial(spark, sf_dir):
    plan = _plan(QUERIES["flagship_pricing_summary"](spark, sf_dir))
    # two HashAggregate nodes (partial + final) around the exchange —
    # map-side combine keeps the shuffle small at scale
    assert plan.count("HashAggregate") >= 2


def test_whole_stage_codegen_covers_scan_filter_project(spark, sf_dir):
    plan = _plan(QUERIES["filter_project_compute"](spark, sf_dir))
    # codegen'd operators are star-prefixed ("*(1) Project ...") in
    # executedPlan.toString
    assert "*(1)" in plan


def test_limit_pushed_for_topk(spark, sf_dir):
    plan = _plan(QUERIES["top_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # top-k never global-sorts


def test_no_cartesian_in_headline_joins(spark, sf_dir):
    for name in ("region_revenue", "top_building_orders", "source_diff"):
        assert "CartesianProduct" not in _plan(QUERIES[name](spark, sf_dir)), name


def test_jaccard_shingle_arrays_hash_before_shuffle(spark, sf_dir):
    # the exact-Jaccard pipeline joins on *hashed* shingles sorted
    # rarest-first; raw shingle strings must be hashed before any
    # exchange. shingle_arrays materializes the hashed projection with
    # localCheckpoint (so the interpreted transform runs exactly once),
    # which truncates lineage to a LogicalRDD — so assert the invariant
    # structurally: everything downstream of the checkpoint (i.e. every
    # shuffle) sees only int64 hash arrays, never shingle strings.
    from pyspark.sql.types import ArrayType, LongType

    from asset_prices_parquet_saver_spark.operators import dedup

    d = read_table(spark, sf_dir, "documents")
    arrs = dedup.shingle_arrays(d, "doc_id", "text", 2)
    assert isinstance(arrs.schema["arr"].dataType, ArrayType)
    assert arrs.schema["arr"].dataType.elementType == LongType()
    opt = _optimized(arrs)
    # lineage starts at the checkpointed (id, hs) RDD whose shingles are
    # already hashed — bigint arrays in, no string column anywhere in
    # the join/agg fragment
    assert "LogicalRDD" in opt
    assert "xxhash64" not in opt, "hashing must happen before the checkpoint"
    assert "string" not in opt.lower(), "no raw shingle strings past the checkpoint"

def test_media_meta_prunes_payload_column(spark, sf_dir):
    """Non-decode media queries must never read payload bytes: the scan's
    ReadSchema should carry only the projected document columns."""
    df = QUERIES["media_frame_sample"](spark, sf_dir)
    plan = _plan(df)
    read_schema = [seg.split(">")[0] for seg in plan.split("ReadSchema:")[1:]]
    assert read_schema, "expected a parquet scan"


def _subtree(plan: str, node: str) -> str:
    """The lines of the first ``node`` operator and everything under it
    in a ``toString`` plan tree (children are indented deeper)."""
    lines = plan.splitlines()
    start = next(i for i, ln in enumerate(lines) if node in ln)
    depth = lines[start].index(node)
    out = [lines[start]]
    for ln in lines[start + 1:]:
        body = ln.lstrip(" :|+-")
        if len(ln) - len(body) <= depth:
            break
        out.append(ln)
    return "\n".join(out)


def test_similarity_queries_broadcast_query_side(spark, sf_dir):
    """ANN candidate joins broadcast the (tiny) probe side — the corpus
    must shuffle at most on its bucket/cell key, never be broadcast."""
    plan = _plan(QUERIES["ann_ivf_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ann_lsh_topk_broadcasts_probes_into_one_kernel(spark, sf_dir):
    """LSH top-k scores collisions inside the blocked kernel: the
    collected probe aggregate is the broadcast build side of a nested
    loop join with the corpus blocks, the corpus is never broadcast,
    and one MapInPandas does all the work — no (table, bucket) join."""
    plan = _plan(QUERIES["ann_lsh_topk"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin BuildRight" in plan
    build = _subtree(plan, "BroadcastExchange")
    assert "collect_list(struct(query_id" in build  # the probe aggregate
    assert "items" not in build and "block" not in build  # not the corpus
    assert plan.count("BroadcastExchange") == 1
    assert plan.count("MapInPandas") == 1
    assert "HashJoin" not in plan and "SortMergeJoin" not in plan
    assert "bucket" not in plan and "table#" not in plan


def test_semantic_dedup_edges_run_cosine_kernel_once(spark, sf_dir):
    """Semantic dedup reads its LSH pair relation once: the executed
    plan runs each Python kernel — bucket codes, bucket scoring and the
    connected-components kernel — exactly once. Connected components
    is lazy, so building the query runs only auto_num_planes' corpus
    count."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("plan-semdedup-count", "count")
        read_table(spark, sf_dir, "embeddings").count()
        sc.setJobGroup("plan-semdedup-build", "build")
        df = QUERIES["semantic_dedup_embeddings"](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(tracker.getJobIdsForGroup("plan-semdedup-build")) == len(
        tracker.getJobIdsForGroup("plan-semdedup-count")
    )
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    kernels = re.findall(r"MapInPandas (\w+)\(", final)
    assert sorted(kernels) == [
        "bucket_codes", "min_label_components", "score_buckets"
    ], kernels


def test_embedding_near_pairs_lsh_scores_inside_buckets(spark, sf_dir):
    """LSH near-pairs group each (table, bucket) once and score it in
    one kernel: no join of any kind (none keyed on the bucket), no
    aggregate above the scoring MapInPandas (no post-score distinct),
    and building the query runs only auto_num_planes' corpus count."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("plan-lsh-count", "count")
        read_table(spark, sf_dir, "embeddings").count()
        sc.setJobGroup("plan-lsh-build", "build")
        df = QUERIES["embedding_near_pairs_lsh"](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(tracker.getJobIdsForGroup("plan-lsh-build")) == len(
        tracker.getJobIdsForGroup("plan-lsh-count")
    )
    plan = _plan(df)
    assert "Join" not in plan
    kernels = re.findall(r"MapInPandas (\w+)\(", plan)
    assert len(kernels) == 2, kernels
    above_scoring = plan.split(f"MapInPandas {kernels[0]}(")[0]
    assert "Aggregate" not in above_scoring


def test_cosine_topk_never_shuffles_vectors_wide(spark, sf_dir):
    """Exact top-k: one shuffle groups the corpus into blocks; the rank
    window then shuffles only (query_id, vec_id, cosine) rows."""
    plan = _plan(QUERIES["cosine_topk"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # rank window input is the narrow scored schema, not vectors
    after_window = plan.split("Window")[0]
    assert "raw_cosine" not in after_window or "array" not in after_window


def test_stratified_sample_is_a_pure_filter(spark, sf_dir):
    """The md5 sampler must stay a scan+filter — no shuffle, no UDF."""
    plan = _plan(QUERIES["stratified_event_sample"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_contamination_pushes_slice_predicates_and_broadcasts_benchmark(spark, sf_dir):
    df = QUERIES["benchmark_contamination"](spark, sf_dir)
    plan = _plan(df)
    # the id<25 / id>=25 slice predicates reach the scans
    assert "CartesianProduct" not in plan
    pushed = [seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]]
    assert any("GreaterThanOrEqual(doc_id,25" in s for s in pushed), pushed
    assert any("LessThan(doc_id,25" in s for s in pushed), pushed
    # the benchmark's distinct shingle set is the broadcast side of the
    # single-pass marker join (left outer + count(_hit) replaced the
    # separate semi-join branch, halving the corpus explode)
    assert "LeftOuter, BuildRight" in plan or "LeftOuter BuildRight" in plan


def test_tfidf_broadcasts_corpus_size_and_term_freq(spark, sf_dir):
    plan = _plan(QUERIES["tfidf_top_terms"](spark, sf_dir))
    # the 1-row corpus size is broadcast, never shuffled against the data
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan
    # per-doc top-k is group-limited before the final rank (no global sort)
    assert "WindowGroupLimit" in plan


def test_corpus_mix_is_a_pure_filter(spark, sf_dir):
    """With the bounded threshold constants inlined, the mixing plan is
    ONE scan + filter: no joins, no exchanges, no sorts."""
    df = QUERIES["corpus_mix"](spark, sf_dir)
    plan = _plan(df)
    assert "Join" not in plan and "Exchange" not in plan
    assert "Sort" not in plan


def test_chunking_and_redaction_are_narrow(spark, sf_dir):
    """Chunking and PII redaction run at scan speed: zero exchanges."""
    for name in ("document_chunks", "pii_redaction"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "Exchange" not in plan, name


def test_global_shuffle_order_uses_range_partitioning(spark, sf_dir):
    """The training-order numbering must run the distributed global-
    order path: a range-partitioned exchange, and no single-partition
    (empty partition spec) window over the full data."""
    df = QUERIES["global_shuffle_order"](spark, sf_dir)
    plan = _plan(df)
    # the range-partitioned numbering ran BEFORE the checkpoint barrier
    # (the final plan reads the checkpointed RDD and joins broadcast
    # offsets); what must never appear downstream is a global sort or
    # an unpartitioned window over the document rows
    assert "scan existingrdd" in plan.lower()
    assert "broadcast" in plan.lower()
    import re as _re

    for spec in _re.findall(r"windowspecdefinition\(([^)]*)\)", plan.lower()):
        assert "__pid" in spec or "rows between" in spec
    # the distributed path itself (range partition + per-partition
    # numbering + constant-size offsets) is plan-asserted in
    # tests/test_globalorder.py


def test_bm25_broadcasts_stats_and_takes_ordered_cut(spark, sf_dir):
    """BM25: document frequency and (N, avgdl) are broadcast to the
    scorer; the final top-k is a distributed TakeOrdered, not a global
    sort materialization."""
    plan = _plan(QUERIES["bm25_search"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_chunk_dedup_shuffles_on_chunk_text_only(spark, sf_dir):
    """Paragraph-window dedup: the survivor choice and reassembly are
    key shuffles (chunk_text, then id) — no windows over the corpus, no
    cartesian, no Python in the plan."""
    plan = _plan(QUERIES["chunk_dedup_corpus"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # the min-first-occurrence aggregate is partial (map-side combinable)
    assert "partial_min" in plan


def test_ann_pq_scores_code_rows_not_vectors(spark, sf_dir):
    """PQ-ADC: after encoding, only (id, j, code) rows move — the ADC
    join broadcasts the query distance tables and the Σ_j aggregation
    is partial; no embedding arrays appear downstream of the join."""
    plan = _plan(QUERIES["ann_pq_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan
    # the post-join aggregate/window sees narrow columns only
    post_join = plan.split("BroadcastHashJoin")[0]
    assert "array<double>" not in post_join


def test_ann_ivfpq_broadcasts_probes_and_tables(spark, sf_dir):
    """IVF-PQ: probe list and query ADC tables broadcast; the cell
    candidate join and code join never cartesian; Σ_j is partial."""
    plan = _plan(QUERIES["ann_ivfpq_topk"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_ann_ivfadc_scores_code_rows_only(spark, sf_dir):
    """IVFADC: the per-cell table join broadcasts the query side, Σ_j
    is partial, and no embedding arrays move after the encoding scans."""
    plan = _plan(QUERIES["ann_ivfadc_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan
    post_join = plan.split("BroadcastHashJoin")[0]
    assert "array<double>" not in post_join


def test_inverted_index_is_one_term_shuffle(spark, sf_dir):
    """The inverted index is a single term-keyed aggregation with a
    map-side partial pass — no joins, no windows."""
    plan = _plan(QUERIES["inverted_index"](spark, sf_dir))
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Exchange") == 1


def test_quality_classifier_is_narrow(spark, sf_dir):
    """The pinned-weights classifier runs at scan speed — no exchange,
    no Python."""
    plan = _plan(QUERIES["quality_classifier_scores"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_unigram_logppl_broadcasts_model(spark, sf_dir):
    """The unigram-LM scorer: term counts join back via AQE broadcast
    (the model side is small), the (C, V) pair is a 1-row broadcast,
    and both aggregations are partial."""
    plan = _plan(QUERIES["unigram_logppl"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_rrf_dense_side_is_distributed_take_ordered(spark, sf_dir):
    """The dense candidate cut in RRF fusion is a TakeOrdered, never a
    global sort or a single-partition rank window over the corpus."""
    plan = _plan(QUERIES["rrf_fusion"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_idle_rich_customers_broadcasts_and_anti_joins(spark, sf_dir):
    """Q22 shape: the 1-row scalar threshold and the nation dim
    broadcast; the recent-orders exclusion is a keyed anti-join."""
    plan = _plan(QUERIES["idle_rich_customers"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_dq_predicates_fold_into_one_scan(spark, sf_dir):
    """All row-level DQ constraints run as conditional aggregates over
    a single lineitem pass (plus the separate uniqueness/referential
    legs): exactly one lineitem FileScan feeds the predicate leg."""
    from asset_prices_parquet_saver_spark.operators import analytics as an_ops
    from asset_prices_parquet_saver_spark.sources.tables import read_table

    li = read_table(spark, sf_dir, "lineitem")
    plan = _plan(
        an_ops.dq_predicate_checks(
            li,
            {
                "q": F.col("l_quantity") > 0,
                "d": F.col("l_discount").between(0, 1),
                "s": F.col("l_shipdate").isNotNull(),
            },
        )
    )
    assert plan.count("FileScan parquet") == 1
    assert "partial_sum" in plan or "partial_count" in plan


def test_gap_fill_calendar_never_shuffles_raw_ticks_twice(spark, sf_dir):
    """gap_fill_daily: the tick table is aggregated before any join —
    the exchanges carry (key, day) rows, and the fill window partitions
    on the entity key (no empty-partition global window)."""
    plan = _plan(QUERIES["gap_fill_daily"](spark, sf_dir))
    assert "Window" in plan
    # entity-keyed window: partition spec present on user_id
    assert "windowspecdefinition(user_id" in plan


def test_runtime_bloom_filter_injects_on_selective_fact_join(spark, sf_dir):
    """session.py pins spark.sql.optimizer.runtime.bloomFilter.enabled;
    this pins that the rewrite actually FIRES on the canonical shape (a
    selective dim-side filter feeding a shuffle join on the fact). The
    application-side scan must exceed a size threshold that defaults to
    10 GB — trivially true at production scale, never true at sf0.01 —
    so the test sets it to 1 byte to simulate at-scale sizes; broadcast
    is disabled the same way (a broadcast join needs no bloom filter)."""
    from asset_prices_parquet_saver_spark.sources.tables import read_table

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        li = read_table(spark, sf_dir, "lineitem")
        o = read_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        optimized = j._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "bloom_filter" in optimized or "might_contain" in optimized
    finally:
        for k in overrides:  # none are set by get_spark — unset restores defaults
            spark.conf.unset(k)


def test_dominant_share_suppliers_windows_over_rollup(spark, sf_dir):
    """Q20 shape: the per-part total must come from a window over the
    (part, supp) rollup — ONE aggregate, no second lineitem scan or
    rollup self-join — with the red-part dim broadcast into the fact
    and the dominant suppkey set entering supplier as a semi join."""
    plan = _plan(QUERIES["dominant_share_suppliers"](spark, sf_dir))
    assert plan.count("FileScan parquet") <= 3  # lineitem + part + supplier
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_min_cost_supplier_filters_part_before_fact_join(spark, sf_dir):
    """Q2 shape: the p_size predicate reaches the part scan (the fact
    join aggregates ~2% of lineitem, not all of it) and the correlated
    MIN is a window over the rollup (no rollup self-join). The dim
    join strategy is deliberately NOT pinned: part/supplier scale with
    sf, so the optimizer broadcasts them at test scale and shuffle-
    joins at 100 TB (tests/test_scale_broadcasts.py pins that half)."""
    plan = _plan(QUERIES["min_cost_supplier_per_part"](spark, sf_dir))
    pushed = [seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]]
    assert any("EqualTo(p_size,15" in s for s in pushed), pushed
    assert "CartesianProduct" not in plan


def test_sketch_bound_query_keeps_sketches_out_of_distinct_rewrite(spark, sf_dir):
    """approx_user_stats_bound must plan as TWO aggregations joined on
    the tiny key, never one: a combined agg triggers the two-phase
    distinct rewrite, which maintains every percentile/HLL buffer per
    (event_type, user_id) group (~|users| sketch buffers, measured ~5×
    slower). The regression signature is a partial sketch aggregate
    keyed on BOTH columns."""
    plan = _plan(QUERIES["approx_user_stats_bound"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    sketch_aggs = [
        ln for ln in plan.splitlines() if "partial_percentile_approx" in ln
    ]
    assert sketch_aggs, plan
    for ln in sketch_aggs:
        keys = ln.split("keys=[", 1)[1].split("]", 1)[0]
        assert "user_id" not in keys, ln


def test_indicator_kernels_single_shuffle_mapinpandas(spark, sf_dir):
    """ewma/macd must run ONE keyed exchange for the bar rollup plus
    the kernel repartition — and the kernel must be mapInPandas (one
    invocation per Arrow batch), not per-group FlatMapGroupsInPandas
    (one per key, the O(keys)-overhead shape this was migrated off)."""
    for name in ("ewma_closes", "macd_closes"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "MapInPandas" in plan, name
        assert "FlatMapGroupsInPandas" not in plan, name


def test_q7_two_nation_filter_below_fact_join(spark, sf_dir):
    """nation_trade_volume: the two-nation restriction must prune
    supplier/customer BEFORE the fact-fact join (broadcast maps), so
    the one shuffle carries the 2/25 slice — the n_name IN filter has
    to appear below the sort-merge/shuffled join, not only above it."""
    plan = _plan(QUERIES["nation_trade_volume"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    # the isin filter lands on the nation dimension scans
    assert "n_name" in plan
    head = plan.split("SortMergeJoin")[0] if "SortMergeJoin" in plan else plan
    # at least one nation filter is in the build side below the join
    assert "NATION_1" in plan and "NATION_2" in plan


def test_return_correlations_no_selfjoin_recompute(spark, sf_dir):
    """return_correlations must expand pairs from per-day collected
    arrays, not a day-keyed self-join: Spark re-evaluates unpersisted
    subtrees per join side, so the self-join shape reads the fact
    table four times (two join sides + the top-k pass re-deriving the
    same returns). The array shape reads it exactly twice and the
    k-bounded universe BROADCASTS back as the semi-join filter."""
    plan = _plan(QUERIES["return_correlations"](spark, sf_dir))
    assert plan.count("FileScan parquet") == 2, plan
    assert "BroadcastHashJoin" in plan
    assert "Generate explode" in plan


def test_sharpe_single_keyed_shuffle_chain(spark, sf_dir):
    """sharpe_ratio: one fact scan, the (key, day) rollup + per-key lag
    exchanges, and a partially-aggregated (map-side combinable) moment
    pass — no join, no global window."""
    plan = _plan(QUERIES["sharpe_ratio"](spark, sf_dir))
    assert plan.count("FileScan parquet") == 1, plan
    assert "partial_sum" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_ohlc_indicators_single_scan_no_join(spark, sf_dir):
    """atr/stochastic: ONE fact scan into the combinable (key, day)
    OHLC rollup, then entity-keyed ROWS windows — no join, no global
    (empty-partitionBy) window anywhere."""
    for name in ("atr_indicator", "stochastic_oscillator"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert plan.count("FileScan parquet") == 1, name
        assert "Join" not in plan, name
        assert "partial_" in plan, name  # map-side combine on the rollup


def test_new_indicators_single_scan_no_join(spark, sf_dir):
    """donchian/obv: ONE fact scan into the combinable (key, day) OHLC
    rollup, then entity-keyed ROWS windows — no join, no global
    window (same posture as atr/stochastic)."""
    for name in ("donchian_channels", "obv_indicator"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert plan.count("FileScan parquet") == 1, name
        assert "Join" not in plan, name
        assert "partial_" in plan, name


def test_embargoed_split_pushes_range_disjunction(spark, sf_dir):
    """The purge filter (ts < lo OR ts >= hi) must reach the parquet
    scan as a pushed predicate, and the whole query is one scan plus
    the 2-group aggregate."""
    plan = _plan(QUERIES["embargoed_time_split"](spark, sf_dir))
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan


def test_round8_queries_plan_shapes(spark, sf_dir):
    """Plan sanity for the round-8 additions: no cartesian products
    anywhere; the containment probe-vs-postings join and the winnowing
    pair self-join are shuffle equi-joins; the media queries keep the
    payload pipeline narrow (no join at all)."""
    for name in (
        "containment_pairs",
        "winnowing_pairs",
        "winnowing_fingerprints",
        "gopher_quality_flags",
        "asof_tolerance_lookup",
        "media_real_decode_meta",
        "media_ppm_resize_meta",
        "phrase_search",
        "proximity_search",
    ):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
    # the probe-vs-postings join is an EQUI-join (hash/merge under AQE's
    # choice — broadcast is legal at tiny SF for the checkpointed side);
    # what must never appear is a cartesian/BNLJ over the corpus
    cont = _plan(QUERIES["containment_pairs"](spark, sf_dir))
    assert any(
        j in cont
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert "BroadcastNestedLoopJoin" not in cont
    # pure narrow maps: a join anywhere would mean the pipeline fell
    # off the mapInPandas/select-only path
    for name in ("gopher_quality_flags", "media_real_decode_meta"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "Join" not in plan, name


def test_round9_session2_additions_plan_shapes(spark, sf_dir):
    """The r10-rotation-head additions keep their intended shapes:
    every pair/probe join is an EQUI-join (hash/merge/broadcast —
    never a corpus-sized cartesian/BNLJ), and the blocked fuzzy match
    extracts the blocking keys as join keys with levenshtein left as a
    residual predicate, not a nested-loop condition."""
    # blocked record linkage: equi-join on (sz, b1); levenshtein is a
    # residual on the join, so no BNLJ/CartesianProduct anywhere
    link = _plan(QUERIES["part_name_near_matches"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in link
    assert "CartesianProduct" not in link
    assert "levenshtein" in link
    assert any(
        j in link
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    # substring dedup: window-hash equi-join back to the dup set; the
    # only acceptable BNLJ anywhere in this family is the sanctioned
    # 1-row totals crossJoin (contrastive/basket), i.e. Cross build
    for name in ("substring_dup_spans", "substring_dedup_clean"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    for name in (
        "dsir_importance_weights",
        "retrieval_ndcg",
        "ann_ivf_recall",
        "brand_basket_rules",
        "brand_graph_triangles",
        "contrastive_negatives",
        "bpe_merge_candidates",
    ):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        # BNLJ may appear ONLY as the 1-row-broadcast cross (the
        # bounded_broadcast(tot) idiom); a keyed BNLJ would print a
        # BuildRight, Inner/LeftOuter variant with a join condition
        for ln in plan.splitlines():
            if "BroadcastNestedLoopJoin" in ln:
                assert "Cross" in ln, (name, ln)


# ----------------------------- round-10 session-2 plan shapes


def test_orc_scan_pushes_filters(spark, tmp_path, sf_dir):
    from pyspark.sql import functions as F

    from asset_prices_parquet_saver_spark.sources import interchange as ix
    from asset_prices_parquet_saver_spark.sources.tables import read_table

    o = read_table(spark, sf_dir, "orders")
    ix.write_orc(o, str(tmp_path / "orc"))
    scan = ix.read_orc(spark, str(tmp_path / "orc")).filter(
        F.col("o_orderkey") < 100
    ).select("o_orderkey", "o_totalprice")
    plan = _plan(scan)
    # predicate reaches the ORC scan (stripe skipping at scale) and the
    # projection prunes to the two requested columns
    assert "PushedFilters: [" in plan
    assert "o_orderkey" in plan.split("PushedFilters:")[1].split("]")[0]
    assert "o_orderpriority" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_merge_into_small_source_broadcasts_without_inserts(spark, sf_dir):
    from pyspark.sql import functions as F

    from asset_prices_parquet_saver_spark.operators import merge
    from asset_prices_parquet_saver_spark.sources.tables import read_table

    o = read_table(spark, sf_dir, "orders")
    small = o.limit(5).select(
        "o_orderkey", (F.col("o_totalprice") * 2).alias("np")
    )
    out = merge.merge_into(
        o, small, ["o_orderkey"],
        matched_update={"o_totalprice": F.col("s.np")},
        not_matched_insert=False,
    )
    plan = _plan(out)
    # inserts disabled ⇒ LEFT join ⇒ the small source broadcasts: the
    # huge-target/small-feed merge costs one probe pass, no full shuffle
    assert "BroadcastHashJoin" in plan
    assert "FullOuter" not in plan


def test_mv_rollup_touches_only_view_state(spark, tmp_path):
    from asset_prices_parquet_saver_spark.sources import manifest as mf
    from asset_prices_parquet_saver_spark.sources import matview as mv

    base, view = str(tmp_path / "b"), str(tmp_path / "v")
    mf.commit_versioned(
        spark.createDataFrame(
            [("a", "x", 1.0)], "k STRING, sub STRING, value DOUBLE"
        ),
        base,
    )
    mv.create_mv(
        spark, view, base, ["k", "sub"],
        [["n", "count", None], ["total", "sum", "value"]],
    )
    plan = _plan(mv.rollup_mv(spark, view, ["k"]))
    # one aggregate over the VIEW scan: no join, and the base table's
    # files never appear in the plan
    assert "Join" not in plan
    assert "/b]" not in plan and "/b/" not in plan
    assert plan.count("Scan parquet") == 1


def test_cdc_pair_join_is_hash_keyed_not_cartesian(spark, sf_dir):
    """cdc_near_dup_pairs candidates come from an equi-join on the
    chunk hash over df-banded identities — the plan must contain no
    cartesian/loop join anywhere, and the final jaccard joins key on
    the doc id."""
    df = QUERIES["cdc_near_dup_pairs"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_retrieval_mrr_broadcasts_bounded_relations(spark, sf_dir):
    """Both tiny relations of the MRR eval — the (qid, n_terms) meta
    and the per-qid hit aggregate — must broadcast; the corpus-sized
    side must never be the build side of a nested loop."""
    df = QUERIES["retrieval_mrr"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dup_aware_weights_aggregates_are_partial(spark, sf_dir):
    """The cluster-size aggregate must run map-side (partial) before
    the exchange — the weights stage adds no corpus-wide shuffle
    beyond the component relation it derives from."""
    df = QUERIES["dup_aware_weights"](spark, sf_dir)
    plan = _plan(df)
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_mv_topk_partial_is_preaggregated_and_bounded(spark, tmp_path):
    """The topk (Misra-Gries) state build must rank DISTINCT
    (group, value) pairs, not raw rows: the plan under the window
    shows a partial+final aggregate on (k, v) BEFORE the sort the
    row_number needs, and the only collect_list runs over the
    rank-filtered ≤ capacity+1 rows (objectHashAggregate) — no
    unbounded per-group collection, no cartesian join."""
    from asset_prices_parquet_saver_spark.sources import manifest as mf
    from asset_prices_parquet_saver_spark.sources import matview as mv

    base, view = str(tmp_path / "b"), str(tmp_path / "v")
    mf.commit_versioned(
        spark.createDataFrame(
            [("a", "x"), ("a", "y"), ("b", "x")], "k STRING, v STRING"
        ),
        base,
    )
    mv.create_mv(
        spark, view, base, ["k"],
        [["n", "count", None],
         ["top", "topk", "v", {"capacity": 4, "k": 2}]],
    )
    state = mf.read_versioned(spark, view)
    # the committed plan is gone; re-derive the same partial shape
    from asset_prices_parquet_saver_spark.sources.matview import (
        _topk_partial,
    )

    df = mf.read_versioned(spark, base)
    plan = _plan(
        _topk_partial(df, ["k"], "v", {"capacity": 4, "k": 2})
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # pre-aggregation: count over (k, v) appears as partial+final
    # HashAggregate pairs (map-side combinable) before the window sort
    assert plan.count("HashAggregate") >= 2
    # the rank filter bounds the collect: row_number <= capacity+1
    assert "row_number" in plan
    # the rank filter must bound at capacity+1 (= 5), not capacity:
    # match the actual predicate, not a bare '5' (which appears in
    # virtually any plan dump)
    import re as _re

    assert _re.search(r"__r#\d+ <= 5", plan), plan
    # the final state still carries both columns
    assert set(state.columns) == {"k", "__n_cnt", "__top_topk"}


def test_mv_refresh_conflict_not_double_count(spark, tmp_path, monkeypatch):
    """A refresh that raced another refresh must raise CommitConflict,
    never silently double-fold the delta. The tear this pins: spec and
    current-version read as SEPARATE manifest reads let a concurrent
    refresh land in between — the stale spec's base_segments get
    re-folded while the CAS passes against the fresh version
    (_spec_snapshot now derives both from ONE document)."""
    from asset_prices_parquet_saver_spark.sources import manifest as mf
    from asset_prices_parquet_saver_spark.sources import matview as mv

    base, view = str(tmp_path / "b"), str(tmp_path / "v")

    def mk(rows):
        return spark.createDataFrame(rows, "k STRING, value DOUBLE")

    mf.commit_versioned(mk([("a", 1.0)]), base)
    mv.create_mv(
        spark, view, base, ["k"],
        [["n", "count", None], ["total", "sum", "value"]],
    )
    mf.commit_append(mk([("a", 2.0)]), base)

    # interleave: when THIS refresh aggregates its delta, a concurrent
    # refresher completes the whole refresh first
    real_partial = mv._partial_agg
    tripped = {}

    def racing_partial(df, spec):
        if not tripped:
            tripped["x"] = True
            mv.refresh_mv(spark, view)  # the competitor wins the race
        return real_partial(df, spec)

    monkeypatch.setattr(mv, "_partial_agg", racing_partial)
    with pytest.raises(mf.CommitConflict):
        mv.refresh_mv(spark, view)
    monkeypatch.setattr(mv, "_partial_agg", real_partial)

    # the competitor's refresh is intact and NOT double-counted
    got = {r.k: (r.n, r.total) for r in mv.read_mv(spark, view).collect()}
    assert got == {"a": (2, 3.0)}
