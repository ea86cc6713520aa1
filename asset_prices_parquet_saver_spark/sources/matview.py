"""Incrementally-maintained materialized views over manifest tables.

The reference recomputes derived tables from scratch on every run (its
scripts re-read the full parquet each cycle). At 100 TB a derived
aggregate must instead be maintained from the COMMIT LOG: the manifest
layer (sources/manifest.py) already gives every table an append-log
shape — each append commit adds one immutable segment — so a refresh
only has to aggregate the segments added since the last refresh and
merge those partials into the stored view state. That is the classic
incremental-view-maintenance contract for distributive aggregates
(count / sum / min / max, avg as sum+count), and the per-refresh cost
is O(new data), not O(table).

Correctness at scale hinges on two choices made here:

* **Partials are exact.** SUM/AVG partials are stored as
  DECIMAL(38,6), not DOUBLE — float addition is non-associative, so a
  view merged incrementally in a different order than a from-scratch
  aggregation would drift bitwise. Decimal partials make
  refresh-then-read equal recompute-from-scratch exactly (the gated
  ``mv_event_daily_totals`` query hash-asserts this against DuckDB).
* **Rewrites fall back.** MIN/MAX (and any distributive agg) cannot be
  incrementally maintained under row DELETION. A refresh therefore
  verifies the base's current segment list still EXTENDS the list the
  view last saw; any rewrite commit (delete_rows, compact, overwrite)
  triggers a full recompute instead of a wrong delta-merge. Appends —
  the hot path — stay O(batch).

``approx_distinct`` state is a Datasketches HLL sketch column
(hll_sketch_agg partials, hll_union combine, estimate on read) —
the standard answer to COUNT DISTINCT not being distributive; the
estimate is sketch-deterministic, so incremental == from-scratch
still holds exactly (asserted in tests), while accuracy is the
usual HLL ±2%% band.

``hist`` state is a fixed-bin histogram (array of bins+2 long counts
over a PINNED [lo, hi) range, underflow/overflow bins at the ends) —
the mergeable answer to quantiles not being distributive: partials
add element-wise in any order, and read projects step-quantiles (the
upper edge of the first bucket whose cumulative count reaches
ceil(q*N)). Every piece — the bucket formula, the integer cumsum,
the bin-edge arithmetic — is replayed verbatim by the DuckDB oracle,
so incremental == from-scratch is hash-certified bitwise, while
accuracy is the bin width (pick bins for the dashboard's tolerance).

``topk`` state is a Misra-Gries heavy-hitters summary (map of
value-string → count, at most ``capacity`` entries) — the mergeable
answer to per-group top-k not being distributive. Partials are built
from exact slice counts via the canonical offset construction
(Agarwal et al., "Mergeable Summaries": keep the top ``capacity``
counts, subtract the (capacity+1)-th, drop non-positive); combine is
pointwise map addition followed by the same truncation. Any value
whose true frequency exceeds N/(capacity+1) is guaranteed present,
and every surviving count underestimates by at most N/(capacity+1).
Read projects the top ``k`` (value, count) pairs as flat columns,
ties broken by value ascending. With ``capacity`` at least the
per-group distinct count nothing is ever truncated and the state is
EXACT and merge-order-independent (the gated query runs in this
regime so a plain SQL oracle replays it); the lossy regime's error
bound is property-tested.

``bloom`` state is a per-group Bloom filter (m bits packed into
60-bit words — masks stay positive and identical under wrapping and
checked 64-bit arithmetic) fed by Kirsch-Mitzenmacher double hashing
over the two md5-int60 halves (functions/portable_hash.py), so every
engine reproduces the exact bit pattern. Partials OR each row's k
masks per word (map-side combinable); combine and rollup are
element-wise ORs — order-independent, so incremental == from-scratch
holds unconditionally. ``bloom_probe_mv`` answers membership with a
|view|-sized join: no false negatives ever, false positives at the
analytic (1-e^{-kn/m})^k rate — at 100 TB, "have we ingested this id"
without an anti-join against the full base. The gated query replays
the whole construction (hashing, words, probes) in DuckDB.

View state lives in its own manifest table (atomic snapshot commits,
time travel, CAS via ``expect_version``); the view spec rides INSIDE
each state commit's manifest document (``meta["mv_spec"]``), so spec
and state publish in one atomic ``os.replace`` — no window where one
exists without the other.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from asset_prices_parquet_saver_spark.sources import manifest as mf

MV_SPEC = "_MV_SPEC"

#: exact partial type for sum/avg state (order-independent combine)
_DEC = "decimal(38,6)"

_KINDS = ("count", "count_col", "sum", "min", "max", "avg",
          "approx_distinct", "hist", "topk", "bloom")

#: bloom state packs bits into 60-bit words: masks stay below 2^60, so
#: every shift/OR is positive and identical under Spark's wrapping and
#: DuckDB's checked 64-bit arithmetic (no sign-bit edge cases)
_BLOOM_WORD = 60


# Bloom bit positions (writer in _bloom_partial, prober in
# bloom_probe_mv) use Kirsch-Mitzenmacher double hashing over the two
# md5-int60 halves:
#
#     bit_j = (h1 % m + j * h2') % m,  h2' = (h2 % m) forced odd
#
# h1 = first 15 md5 hex chars as int, h2 = chars 16-30 — both
# non-negative 60-bit ints every engine reproduces (functions/
# portable_hash.py); reducing mod m BEFORE the j-multiply keeps all
# intermediates tiny, so wrapping-vs-checked arithmetic can never
# diverge. h2' odd makes the stride cycle the full table for
# power-of-two-free m too. Both sites project h1/h2' once per row —
# keep them textually in sync.


def _spec_path(mv_table: str) -> str:
    return os.path.join(mv_table, MV_SPEC)


def _spec_snapshot(mv_table: str) -> tuple[int | None, dict]:
    """``(view version, spec)`` from ONE manifest-document read. The
    spec is published ATOMICALLY with its state: it rides in the state
    commit's manifest document (``meta["mv_spec"]``), so a reader can
    never observe state whose spec is missing or stale — the sibling
    ``_MV_SPEC`` file this replaced was deleted by the manifest's
    post-publish legacy sweep on every commit after the first, and a
    crash between the state commit and the spec rewrite bricked the
    view. The file path survives only as a read fallback for views
    created before the migration (their next refresh publishes the
    spec into the manifest).

    Returning the version from the SAME document matters: readers that
    fetched the spec and the state as two separate manifest reads
    could pair version-N spec with version-N+1 state when a concurrent
    refresh landed between them. Pin the data read with
    ``read_versioned(version=...)`` (history copies are immutable) and
    refresh commits with ``expect_version=`` the returned version."""
    doc = mf.manifest_doc(mv_table)
    version = None if doc is None else int(doc["version"])
    meta = (doc or {}).get("meta") or {}
    if "mv_spec" in meta:
        return version, meta["mv_spec"]
    try:
        with open(_spec_path(mv_table)) as fh:
            return version, json.load(fh)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"{mv_table} has no MV spec (not a materialized view?)"
        ) from None


def _state_cols(aggs: list[list]) -> list[tuple]:
    """Flatten the agg spec into hidden state columns:
    (state_col, combine_kind, input_col, params). ``params`` is the
    optional 4th spec element (only ``hist`` uses it: pinned lo / hi /
    bins / quantiles — pinned so every partial buckets identically and
    the spec survives JSON round-trips)."""
    cols: list[tuple] = []
    for entry in aggs:
        out, kind, col = entry[0], entry[1], entry[2]
        params = entry[3] if len(entry) > 3 else None
        if kind == "count":
            cols.append((f"__{out}_cnt", "add", None, None))
        elif kind == "count_col":
            cols.append((f"__{out}_cnt", "add", col, None))
        elif kind == "sum":
            cols.append((f"__{out}_sum", "addnull", col, None))
        elif kind == "min":
            cols.append((f"__{out}_min", "least", col, None))
        elif kind == "max":
            cols.append((f"__{out}_max", "greatest", col, None))
        elif kind == "avg":
            cols.append((f"__{out}_sum", "addnull", col, None))
            cols.append((f"__{out}_cnt", "add", col, None))
        elif kind == "approx_distinct":
            cols.append((f"__{out}_hll", "hll", col, None))
        elif kind == "hist":
            cols.append((f"__{out}_hist", "histadd", col, params))
        elif kind == "topk":
            cols.append((f"__{out}_topk", "mgmerge", col, params))
        elif kind == "bloom":
            cols.append((f"__{out}_bloom", "bitor", col, params))
        else:
            raise ValueError(f"unknown agg kind {kind!r}; one of {_KINDS}")
    return cols


def _mg_entries(map_col):
    """Map state → entries sorted by (count DESC, value ASC): encoded
    as struct(-count, value) sorted ascending so one sort_array gives
    the deterministic heavy-hitter order (struct comparison is
    lexicographic)."""
    return F.sort_array(
        F.transform(
            F.map_entries(map_col),
            lambda e: F.struct(
                (-e["value"]).alias("nc"), e["key"].alias("k")
            ),
        )
    )


def _mg_truncate(entries, capacity: int):
    """Misra-Gries offset truncation over (count DESC, value ASC)
    sorted entries: subtract the (capacity+1)-th count from the top
    ``capacity``, drop non-positive, rebuild the map. All higher-order
    functions over a ≤ 2*capacity-element array — constant-size per
    group, never per-row."""
    pivot = F.when(
        F.size(entries) > capacity,
        -F.try_element_at(entries, F.lit(capacity + 1))["nc"],
    ).otherwise(F.lit(0).cast("long"))
    kept = F.filter(
        F.transform(
            F.slice(entries, 1, capacity),
            lambda e: F.struct(
                e["k"].alias("key"),
                (-e["nc"] - pivot).cast("long").alias("value"),
            ),
        ),
        lambda e: e["value"] > 0,
    )
    return F.map_from_entries(kept)


def _mg_state_from_counts(pre: DataFrame, keys: list[str], capacity: int):
    """(keys, __v, __c) counts → per-keys Misra-Gries state ``__tk``:
    rank by (count DESC, value ASC), keep the top capacity+1 (so the
    collect_list is BOUNDED at capacity+1 structs per group), then the
    offset truncation. Shared by the base-slice partial and the rollup
    re-merge — the tie-break, the bound, and the truncation must never
    drift between them (the gated hashes certify both)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(F.desc("__c"), F.asc("__v"))
    ranked = (
        pre.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= capacity + 1)
    )
    return ranked.groupBy(*[F.col(k) for k in keys]).agg(
        _mg_truncate(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        (-F.col("__c")).alias("nc"), F.col("__v").alias("k")
                    )
                )
            ),
            capacity,
        ).alias("__tk")
    )


def _topk_partial(df: DataFrame, keys: list[str], col: str, params: dict):
    """Misra-Gries partial state for one topk agg over a slice of the
    base: exact (group, value) counts (one map-side-combinable
    aggregation), then the shared rank/collect/truncate pipeline.
    NULL values are not counted, matching COUNT(col)."""
    pre = (
        df.filter(F.col(col).isNotNull())
        .groupBy(
            *[F.col(k) for k in keys],
            F.col(col).cast("string").alias("__v"),
        )
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return _mg_state_from_counts(pre, keys, int(params["capacity"]))


def _join_state(main: DataFrame, extra: DataFrame, keys: list[str],
                state_col: str, default=None) -> DataFrame:
    """Null-safe LEFT join of a secondary state relation (one column
    ``__tk``) onto the main state on the group keys — group keys can
    be NULL (groupBy keeps NULL groups), so plain equality would drop
    them. ``extra`` can never hold a group ``main`` lacks (both
    aggregate the same rows); a group absent from ``extra`` (all-NULL
    input values) gets a NULL map when ``default`` is None — every
    topk consumer guards — or ``default`` (the bloom kind's all-zero
    word array, the exact state its old inline form produced for an
    all-NULL group)."""
    m = main.alias("m")
    e = extra.alias("e")
    cond = None
    for k in keys:
        c = F.col(f"m.{k}").eqNullSafe(F.col(f"e.{k}"))
        cond = c if cond is None else (cond & c)
    if cond is None:  # global view: no group columns, 1-row join
        cond = F.lit(True)
    state = F.col("e.__tk")
    if default is not None:
        state = F.coalesce(state, default)
    proj = [F.col(f"m.{c}") for c in main.columns] + [
        state.alias(state_col)
    ]
    return m.join(e, cond, "left_outer").select(*proj)


def _bloom_partial(df: DataFrame, keys: list[str], col: str, params: dict):
    """Bloom seen-set partial state for a slice of the base, shaped
    linear in k (guide §1.2): project the two md5-int60 halves ONCE
    per row, explode each row to its k (word, mask) pairs, and
    aggregate ``bit_or(mask) GROUP BY group, word`` (map-side
    combinable — the shuffle carries ≤ groups × occupied-words rows
    per map partition, never base-table rows), then pack the occupied
    words into the fixed nwords array. Bit-identical to the previous
    inline form — same double-hash arithmetic, same 60-bit packing —
    but the per-row cost is k struct builds instead of a
    nwords × k WHEN chain (128 branches at m=1920, k=4), and the plan
    shrinks from ~105 KB (multi-second janino compile, the residual
    cost of bloom_seen_users at 8.2 s driver-measured) to ordinary
    size. NULL values set no bits, matching the old fold's 0L seed."""
    m, k = int(params["m"]), int(params["hashes"])
    nwords = m // _BLOOM_WORD
    s = F.col(col).cast("string")
    h1 = F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long") % m
    h2m = F.conv(F.substring(F.md5(s), 16, 15), 16, 10).cast("long") % m
    bit = (F.col("__h1") + F.col("__j") * F.col("__h2o")) % m
    per_word = (
        df.filter(F.col(col).isNotNull())
        .select(
            *[F.col(kk) for kk in keys],
            h1.alias("__h1"),
            (h2m + (1 - (h2m % 2))).alias("__h2o"),
        )
        .select(
            *[F.col(kk) for kk in keys],
            "__h1",
            "__h2o",
            F.explode(F.array(*[F.lit(j) for j in range(k)])).alias("__j"),
        )
        .groupBy(
            *[F.col(kk) for kk in keys],
            F.floor(bit / _BLOOM_WORD).cast("int").alias("__w"),
        )
        .agg(
            F.bit_or(
                F.call_function(
                    "shiftleft",
                    F.lit(1).cast("long"),
                    (bit % _BLOOM_WORD).cast("int"),
                )
            ).alias("__m")
        )
    )
    zero = F.lit(0).cast("long")
    return (
        per_word.groupBy(*[F.col(kk) for kk in keys])
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("__w", "__m"))
            ).alias("__wm")
        )
        .select(
            *[F.col(kk) for kk in keys],
            F.array(
                *[
                    F.coalesce(
                        F.element_at(F.col("__wm"), F.lit(w)), zero
                    )
                    for w in range(nwords)
                ]
            ).alias("__tk"),
        )
    )


def _partial_agg(df: DataFrame, spec: dict) -> DataFrame:
    """One map-side-combinable aggregation producing the hidden state
    columns for a slice of the base table (the whole table on create /
    full refresh, only the new segments on incremental refresh)."""
    if spec.get("projection"):
        df = df.selectExpr(*spec["projection"])
    exprs = []
    topks: list[tuple[str, str, dict]] = []
    blooms: list[tuple[str, str, dict]] = []
    seen = set()
    for state, kind, col, params in _state_cols(spec["aggs"]):
        if state in seen:  # avg shares its sum with an explicit sum
            continue
        seen.add(state)
        if kind == "mgmerge":
            # needs its own (group, value) pre-aggregation — joined
            # onto the single-pass state below
            topks.append((state, col, params))
            continue
        if kind == "add" and col is None:
            exprs.append(F.count(F.lit(1)).alias(state))
        elif kind == "add":
            exprs.append(F.count(F.col(col)).alias(state))
        elif kind == "addnull":
            exprs.append(F.sum(F.col(col).cast(_DEC)).alias(state))
        elif kind == "least":
            exprs.append(F.min(F.col(col)).alias(state))
        elif kind == "greatest":
            exprs.append(F.max(F.col(col)).alias(state))
        elif kind == "hll":
            # Datasketches HLL: the canonical MERGEABLE distinct-count
            # partial — a view can absorb appends without ever seeing
            # the history (exact COUNT DISTINCT is not distributive).
            # The sketch accepts int/long/string/binary only, so hash
            # the value's string form (deterministic per engine; NULLs
            # are ignored, matching COUNT(DISTINCT col))
            exprs.append(
                F.hll_sketch_agg(F.col(col).cast("string")).alias(state)
            )
        elif kind == "histadd":
            # fixed-bin histogram: the mergeable quantile state.
            # bins+2 conditional counts (underflow, B in-range bins,
            # overflow) — every bucket expression is the SAME double
            # arithmetic the oracle replays, so incremental ==
            # from-scratch holds bitwise on the counts; NULLs fall
            # through every WHEN and are never counted.
            lo, hi = float(params["lo"]), float(params["hi"])
            bins = int(params["bins"])
            v = F.col(col).cast("double")
            b = (
                F.when(v < lo, 0)
                .when(v >= hi, bins + 1)
                .otherwise(
                    (F.floor((v - lo) * bins / (hi - lo)) + 1).cast("int")
                )
            )
            exprs.append(
                F.array(
                    *[F.count(F.when(b == i, 1)) for i in range(bins + 2)]
                ).alias(state)
            )
        elif kind == "bitor":
            # Bloom seen-set: a separate (group, word) bit_or
            # aggregation joined onto the single-pass state — see
            # _bloom_partial. Earlier shapes, both measured and
            # rejected: the nwords×k WHEN chain (plan ~105 KB,
            # janino-compile floor, bloom_seen_users 8.2 s
            # driver-measured at sf0.1), and array HOFs
            # (transform/aggregate/filter: ~50 s — interpreted HOF
            # evaluation under the aggregate).
            blooms.append((state, col, params))
            continue
    if not exprs:
        # every agg is a topk/bloom: keep a row per group anyway
        # (dropped by _finalize, combined as a plain count)
        exprs.append(F.count(F.lit(1)).alias("__rows"))
    out = df.groupBy(*[F.col(g) for g in spec["group_cols"]]).agg(*exprs)
    for state, col, params in topks:
        out = _join_state(
            out,
            _topk_partial(df, spec["group_cols"], col, params),
            spec["group_cols"],
            state,
        )
    for state, col, params in blooms:
        nwords = int(params["m"]) // _BLOOM_WORD
        out = _join_state(
            out,
            _bloom_partial(df, spec["group_cols"], col, params),
            spec["group_cols"],
            state,
            default=F.array(
                *[F.lit(0).cast("long") for _ in range(nwords)]
            ),
        )
    return out


def _combine(old: DataFrame, delta: DataFrame, spec: dict) -> DataFrame:
    """Merge two partial-state relations: one null-safe full-outer join
    on the group keys, then a combinable expression per state column.
    This is the only shuffle an incremental refresh performs beyond the
    delta aggregation itself, and it is keyed on the view's (small)
    group-key space, not the base table."""
    keys = spec["group_cols"]
    o = old.withColumn("__o", F.lit(True)).alias("o")
    d = delta.withColumn("__d", F.lit(True)).alias("d")
    cond = None
    for k in keys:
        c = F.col(f"o.{k}").eqNullSafe(F.col(f"d.{k}"))
        cond = c if cond is None else (cond & c)
    j = o.join(d, cond, "full_outer")
    both = F.col("o.__o").isNotNull() & F.col("d.__d").isNotNull()
    proj = [
        F.coalesce(F.col(f"o.{k}"), F.col(f"d.{k}")).alias(k) for k in keys
    ]
    seen = set()
    for state, kind, _c, _p in _state_cols(spec["aggs"]):
        if state in seen:
            continue
        seen.add(state)
        ov, dv = F.col(f"o.{state}"), F.col(f"d.{state}")
        if kind == "add":
            merged = F.when(both, ov + dv).otherwise(F.coalesce(ov, dv))
        elif kind == "addnull":
            # SUM keeps NULL for all-NULL groups: combine only treats
            # NULL as zero when the other side has a real partial
            merged = F.when(
                both & ov.isNotNull() & dv.isNotNull(), ov + dv
            ).otherwise(F.coalesce(ov, dv))
        elif kind == "least":
            merged = F.least(ov, dv)  # least/greatest skip NULLs
        elif kind == "hll":
            # hll_sketch_agg over an all-NULL batch yields a NULL
            # partial; union only when BOTH sides hold a real sketch,
            # else keep whichever exists (mirrors the addnull guard —
            # without it the NULL side silently erased the real one)
            merged = F.when(
                both & ov.isNotNull() & dv.isNotNull(), F.hll_union(ov, dv)
            ).otherwise(F.coalesce(ov, dv))
        elif kind == "histadd":
            # element-wise add; a group present on one side only keeps
            # its array (same guard shape as the other kinds)
            merged = F.when(
                both & ov.isNotNull() & dv.isNotNull(),
                F.zip_with(ov, dv, lambda a, b: a + b),
            ).otherwise(F.coalesce(ov, dv))
        elif kind == "bitor":
            # Bloom union = element-wise OR of the word arrays
            merged = F.when(
                both & ov.isNotNull() & dv.isNotNull(),
                F.zip_with(ov, dv, lambda a, b: a.bitwiseOR(b)),
            ).otherwise(F.coalesce(ov, dv))
        elif kind == "mgmerge":
            # Misra-Gries merge: pointwise map addition (map_zip_with
            # unions the key sets; a key missing on one side reads
            # NULL, coalesced to 0), then the same offset truncation
            # the partials used — the mergeable-summaries combine.
            capacity = int(_p["capacity"])
            summed = F.map_zip_with(
                ov,
                dv,
                lambda _k, a, b: F.coalesce(a, F.lit(0).cast("long"))
                + F.coalesce(b, F.lit(0).cast("long")),
            )
            merged = F.when(
                both & ov.isNotNull() & dv.isNotNull(),
                _mg_truncate(_mg_entries(summed), capacity),
            ).otherwise(F.coalesce(ov, dv))
        else:
            merged = F.greatest(ov, dv)
        if kind == "addnull":
            # decimal add widens precision; pin the state type stable
            merged = merged.cast(_DEC)
        proj.append(merged.alias(state))
    if "__rows" in old.columns and "__rows" in delta.columns:
        # topk-only views carry a row-count placeholder state
        ov, dv = F.col("o.__rows"), F.col("d.__rows")
        proj.append(
            F.when(both, ov + dv).otherwise(F.coalesce(ov, dv)).alias("__rows")
        )
    return j.select(*proj)


def _hist_quantile_cols(out: str, params: dict) -> list:
    """Step-quantile projections from a histogram state array: for each
    requested quantile q, the UPPER EDGE of the first bucket whose
    cumulative count reaches ceil(q * N) — integer logic plus one
    double bin-edge formula, both replayed verbatim by the oracle (no
    within-bin interpolation, so there is nothing float-ordering-
    dependent to drift). Underflow clamps to lo, overflow to hi;
    all-NULL groups (N = 0) yield NULL."""
    arr = F.col(f"__{out}_hist")
    lo, hi = float(params["lo"]), float(params["hi"])
    bins = int(params["bins"])
    zero = F.lit(0).cast("long")
    n = F.aggregate(arr, zero, lambda a, x: a + x)
    cols = []
    for name, q in params["quantiles"].items():
        target = F.ceil(F.lit(float(q)) * n)
        # one pass: carry (cumulative, first-index-reaching-target,
        # position); outer refs (target) are legal in HOF lambdas
        idx = F.aggregate(
            arr,
            F.struct(
                zero.alias("cum"),
                F.lit(-1).alias("idx"),
                F.lit(0).alias("pos"),
            ),
            lambda acc, x: F.struct(
                (acc["cum"] + x).alias("cum"),
                F.when(acc["idx"] >= 0, acc["idx"])
                .when(acc["cum"] + x >= target, acc["pos"])
                .otherwise(F.lit(-1))
                .alias("idx"),
                (acc["pos"] + 1).alias("pos"),
            ),
            lambda acc: acc["idx"],
        )
        qcol = (
            F.when(n == 0, F.lit(None).cast("double"))
            .when(idx <= 0, F.lit(lo))
            .when(idx >= bins + 1, F.lit(hi))
            .otherwise(
                F.lit(lo) + (idx * (F.lit(hi) - F.lit(lo))) / F.lit(float(bins))
            )
        )
        cols.append(F.round(qcol, 6).alias(f"{out}_{name}"))
    return cols


def _finalize(state: DataFrame, spec: dict) -> DataFrame:
    """Project the user-facing view columns from the hidden state."""
    proj = [F.col(g) for g in spec["group_cols"]]
    for entry in spec["aggs"]:
        out, kind = entry[0], entry[1]
        if kind in ("count", "count_col"):
            proj.append(F.col(f"__{out}_cnt").alias(out))
        elif kind == "sum":
            proj.append(F.col(f"__{out}_sum").cast("double").alias(out))
        elif kind in ("min", "max"):
            suffix = "min" if kind == "min" else "max"
            proj.append(F.col(f"__{out}_{suffix}").alias(out))
        elif kind == "approx_distinct":
            proj.append(
                F.hll_sketch_estimate(F.col(f"__{out}_hll")).alias(out)
            )
        elif kind == "hist":
            proj.extend(_hist_quantile_cols(out, entry[3]))
        elif kind == "topk":
            # flat (value, count) column pairs in heavy-hitter order —
            # element_at past the entry count (or a NULL map for an
            # all-NULL group) yields NULL/NULL
            ent = _mg_entries(F.col(f"__{out}_topk"))
            for i in range(1, int(entry[3]["k"]) + 1):
                # try_element_at: ANSI element_at raises past the end;
                # fewer than k entries must read as NULL/NULL columns
                e = F.try_element_at(ent, F.lit(i))
                proj.append(e["k"].alias(f"{out}_{i}"))
                proj.append(
                    (-e["nc"]).cast("long").alias(f"{out}_{i}_n")
                )
        elif kind == "bloom":
            # read = set-bit population (the filter's load, the number
            # a capacity planner watches); membership probes go
            # through bloom_probe_mv
            proj.append(
                F.aggregate(
                    F.col(f"__{out}_bloom"),
                    F.lit(0).cast("long"),
                    lambda a, x: a + F.bit_count(x),
                ).alias(f"{out}_bits")
            )
        else:  # avg = exact-decimal sum / non-null count
            proj.append(
                (
                    F.col(f"__{out}_sum").cast("double")
                    / F.col(f"__{out}_cnt")
                ).alias(out)
            )
    return state.select(*proj)


def _base_segments(base_table: str) -> tuple[int, list[str]]:
    m = mf._read_manifest(base_table)
    if m is None:
        raise FileNotFoundError(f"base table {base_table} has no manifest")
    return int(m["version"]), list(m["segments"])


def create_mv(
    spark: SparkSession,
    mv_table: str,
    base_table: str,
    group_cols: list[str],
    aggs: list[list],
    projection: list[str] | None = None,
) -> int:
    """Materialize the view from the base table's CURRENT snapshot and
    record which snapshot (version + exact segment list) it reflects.

    ``aggs`` is a JSON-able list of ``[out_col, kind, in_col]`` with
    ``kind`` in count / count_col / sum / min / max / avg /
    approx_distinct / hist / topk (``in_col`` None for bare count).
    ``hist`` takes a 4th element ``{"lo", "hi", "bins", "quantiles"}``
    — ``quantiles`` maps suffix → q (e.g. ``{"p50": 0.5, "p95":
    0.95}``, read as ``{out}_{suffix}`` columns); lo/hi/bins are
    PINNED in the spec so every partial buckets identically forever.
    ``topk`` takes ``{"capacity", "k"}`` (k ≤ capacity): a Misra-Gries
    heavy-hitters map of at most ``capacity`` entries, read as
    ``{out}_{i}`` / ``{out}_{i}_n`` column pairs for i in 1..k;
    counts are exact while per-group distinct ≤ capacity, otherwise
    underestimates by ≤ N/(capacity+1). ``projection`` is an optional
    list of SQL select-exprs applied before grouping (e.g. derive a
    day column) — kept as strings so the spec survives in
    ``_MV_SPEC``."""
    spec = {
        "base_table": base_table,
        "group_cols": list(group_cols),
        "aggs": [list(a) for a in aggs],
        "projection": list(projection) if projection else None,
    }
    outs = [a[0] for a in spec["aggs"]]
    dups = sorted({o for o in outs if outs.count(o) > 1})
    clash = sorted(set(outs) & set(group_cols))
    if dups or clash:
        raise ValueError(
            f"create_mv: output names must be unique and distinct from "
            f"group columns (duplicates={dups}, clashes={clash})"
        )
    for entry in spec["aggs"]:
        kind = entry[1]
        if kind not in _KINDS:
            raise ValueError(f"unknown agg kind {kind!r}")
        if kind == "hist":
            p = entry[3] if len(entry) > 3 else None
            ok = (
                isinstance(p, dict)
                and float(p.get("lo", 0)) < float(p.get("hi", 0))
                and int(p.get("bins", 0)) >= 1
                and isinstance(p.get("quantiles"), dict)
                and p["quantiles"]
                and all(0 < float(q) <= 1 for q in p["quantiles"].values())
            )
            if not ok:
                raise ValueError(
                    "hist needs params {lo < hi, bins >= 1, quantiles: "
                    f"{{suffix: 0<q<=1}}}}; got {p!r}"
                )
        if kind == "topk":
            p = entry[3] if len(entry) > 3 else None
            ok = (
                isinstance(p, dict)
                and int(p.get("capacity", 0)) >= 1
                and 1 <= int(p.get("k", 0)) <= int(p.get("capacity", 0))
            )
            if not ok:
                raise ValueError(
                    "topk needs params {capacity >= 1, 1 <= k <= "
                    f"capacity}}; got {p!r}"
                )
        if kind == "bloom":
            p = entry[3] if len(entry) > 3 else None
            ok = (
                isinstance(p, dict)
                and int(p.get("m", 0)) >= _BLOOM_WORD
                and int(p.get("m", 0)) % _BLOOM_WORD == 0
                and int(p.get("m", 0)) <= 1 << 20
                and 1 <= int(p.get("hashes", 0)) <= 8
            )
            if not ok:
                raise ValueError(
                    "bloom needs params {m: multiple of 60 in "
                    f"[60, 2^20], hashes: 1..8}}; got {p!r}"
                )
    base_v, base_segs = _base_segments(base_table)
    # version-PINNED base read: an unpinned read re-resolves the
    # manifest at scan time, so a concurrent base append landing after
    # _base_segments() would be folded into the state but missing from
    # spec["base_segments"] — the next incremental refresh would then
    # re-fold it as a "new" segment and silently double-count (the
    # base-side twin of the view-side torn read _spec_snapshot fixes)
    state = _partial_agg(
        mf.read_versioned(spark, base_table, version=base_v), spec
    )
    spec["base_version"], spec["base_segments"] = base_v, base_segs
    return mf.commit_versioned(state, mv_table, meta={"mv_spec": spec})


def refresh_mv(spark: SparkSession, mv_table: str) -> str:
    """Bring the view up to date with its base table. Returns the
    refresh mode actually taken:

    * ``"noop"`` — base unchanged since the last refresh.
    * ``"incremental"`` — base segment list extends the recorded one
      (append commits only): aggregate ONLY the new segments and merge
      the partials into the stored state. O(new data).
    * ``"full"`` — base was rewritten (delete / compact / overwrite):
      distributive state cannot absorb deletions, so recompute.

    The view commit pins ``expect_version`` to the state it read, so a
    concurrent refresher raises :class:`manifest.CommitConflict`
    instead of silently losing one refresh's delta."""
    # version + spec from ONE manifest read: reading them separately
    # let a refresh that landed in between pair a stale spec (whose
    # base_segments were already folded in) with a fresh expect_version
    # — the CAS would pass and the delta would double-count.
    mv_v, spec = _spec_snapshot(mv_table)
    base_v, base_segs = _base_segments(spec["base_table"])
    old_segs = spec["base_segments"]
    if base_v == spec["base_version"] and base_segs == old_segs:
        return "noop"
    if base_segs[: len(old_segs)] == old_segs:
        new_paths = [
            os.path.join(spec["base_table"], s)
            for s in base_segs[len(old_segs):]
        ]
        delta = _partial_agg(spark.read.parquet(*new_paths), spec)
        old = mf.read_versioned(spark, mv_table, version=mv_v)
        state = _combine(old, delta, spec)
        mode = "incremental"
    else:
        # pinned to base_v for the same reason as create_mv: a base
        # append racing this full recompute must not slip rows into
        # state that spec["base_segments"] doesn't record
        state = _partial_agg(
            mf.read_versioned(spark, spec["base_table"], version=base_v),
            spec,
        )
        mode = "full"
    spec["base_version"], spec["base_segments"] = base_v, base_segs
    mf.commit_versioned(
        state, mv_table, expect_version=mv_v, meta={"mv_spec": spec}
    )
    return mode


def read_mv(spark: SparkSession, mv_table: str) -> DataFrame:
    """Read the view as its user-facing columns (state stays hidden).
    Spec and state come from ONE manifest snapshot (the data read is
    pinned to the version the spec shipped with, and history copies
    are immutable), so a concurrent refresh landing mid-read can never
    pair version-N spec with version-N+1 state."""
    mv_v, spec = _spec_snapshot(mv_table)
    return _finalize(
        mf.read_versioned(spark, mv_table, version=mv_v), spec
    )


def run_streaming_mv_refresh(
    spark: SparkSession,
    stream_df: DataFrame,
    base_table: str,
    mv_table: str,
    checkpoint_dir: str | None = None,
):
    """Keep a materialized view current from a stream: each micro-batch
    appends to the base manifest table (txn-idempotent — a replayed
    epoch is skipped by the commit layer) and then runs one incremental
    refresh. The refresh after a replayed/skipped epoch sees an
    unchanged base and no-ops, so the view never double-counts; a crash
    between the base commit and the refresh self-heals on the next
    batch (refresh folds in ALL unseen segments, not just the latest).

    Per-epoch cost: O(batch) for the append + O(batch ∪ group keys)
    for the refresh — the view never rescans the base table.
    """

    def handle(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        mf.commit_append(batch, base_table, txn=("mv-base", epoch_id))
        refresh_mv(spark, mv_table)

    writer = stream_df.writeStream.outputMode("append").foreachBatch(handle)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def rollup_mv(
    spark: SparkSession, mv_table: str, group_cols: list[str]
) -> DataFrame:
    """Answer a COARSER-grained aggregate from the view's state without
    touching the base table — the aggregate-rollup half of classic
    MV query routing. ``group_cols`` must be a subset of the view's
    group columns; every agg kind re-aggregates exactly from its
    partials: counts/sums add, min/max fold, AVG recombines from the
    exact-decimal sum + count pair (NOT an average of averages), and
    ``approx_distinct`` unions the per-group HLL sketches. So a
    (event_type, day) view answers per-event_type questions with a
    |view|-sized scan — at 100 TB the difference between the query and
    the base table is the whole point of maintaining the view.
    """
    mv_v, spec = _spec_snapshot(mv_table)
    missing = [g for g in group_cols if g not in spec["group_cols"]]
    if missing:
        raise ValueError(
            f"rollup_mv: {missing} not in the view's group columns "
            f"{spec['group_cols']}"
        )
    state = mf.read_versioned(spark, mv_table, version=mv_v)
    exprs = []
    topks: list[tuple[str, dict]] = []
    seen = set()
    for st_col, kind, _c, params in _state_cols(spec["aggs"]):
        if st_col in seen:
            continue
        seen.add(st_col)
        c = F.col(st_col)
        if kind == "mgmerge":
            topks.append((st_col, params))
            continue
        if kind == "add":
            exprs.append(F.sum(c).alias(st_col))
        elif kind == "addnull":
            exprs.append(F.sum(c).cast(_DEC).alias(st_col))
        elif kind == "least":
            exprs.append(F.min(c).alias(st_col))
        elif kind == "greatest":
            exprs.append(F.max(c).alias(st_col))
        elif kind == "hll":
            exprs.append(F.hll_union_agg(c).alias(st_col))
        elif kind == "histadd":
            # element-wise sum of the bucket arrays across the rolled
            # groups — histogram partials add exactly like counts
            bins = int(params["bins"])
            exprs.append(
                F.array(
                    *[F.sum(F.element_at(c, i + 1)) for i in range(bins + 2)]
                ).alias(st_col)
            )
        elif kind == "bitor":
            # bloom union across the rolled groups: per-word bit_or
            nwords = int(params["m"]) // _BLOOM_WORD
            exprs.append(
                F.array(
                    *[
                        F.bit_or(F.element_at(c, w + 1))
                        for w in range(nwords)
                    ]
                ).alias(st_col)
            )
    if not exprs:
        exprs.append(F.count(F.lit(1)).alias("__rows"))
    rolled = state.groupBy(*[F.col(g) for g in group_cols]).agg(*exprs)
    for st_col, params in topks:
        # Misra-Gries rollup: explode every fine-grain map into
        # (rolled keys, value, count) rows, sum counts (summing ALL
        # sibling maps before ONE truncation is at least as accurate
        # as pairwise merging), then the SHARED rank/collect/truncate
        # pipeline — rows here are |view-state| × ≤ capacity entries,
        # never base-table sized.
        pre = (
            state.select(
                *[F.col(g) for g in group_cols],
                F.explode(F.map_entries(F.col(st_col))).alias("__e"),
            )
            .groupBy(
                *[F.col(g) for g in group_cols],
                F.col("__e.key").alias("__v"),
            )
            .agg(F.sum("__e.value").alias("__c"))
        )
        tk = _mg_state_from_counts(
            pre, group_cols, int(params["capacity"])
        )
        rolled = _join_state(rolled, tk, group_cols, st_col)
    narrowed = dict(spec, group_cols=list(group_cols))
    return _finalize(rolled, narrowed)


def bloom_probe_mv(
    spark: SparkSession,
    mv_table: str,
    probes: DataFrame,
    agg_out: str,
    probe_col: str,
) -> DataFrame:
    """Membership probe against a ``bloom`` agg's seen-set: for each
    probe row (carrying the view's group columns + ``probe_col``),
    answer whether the filter MIGHT contain the value — the classic
    Bloom contract: no false negatives ever (every value folded into
    the state answers 1), false positives at the m/k/n-governed rate.

    The probe recomputes the value's k bit positions with the same
    md5-double-hash the writer used and checks them against the
    group's word array through one null-safe LEFT join keyed on the
    (view-sized) group columns — at 100 TB the filter answers
    "have we ingested this id before" with a |view|-sized join
    instead of an anti-join against the full base table. A group the
    view has never seen (NULL state) answers 0 for every probe.

    Returns the probe rows plus an INT ``might_contain`` column
    (1/0 — INT, not BOOLEAN, so driver canons hash it identically)."""
    mv_v, spec = _spec_snapshot(mv_table)
    entry = next(
        (e for e in spec["aggs"] if e[0] == agg_out and e[1] == "bloom"),
        None,
    )
    if entry is None:
        raise ValueError(
            f"{mv_table} has no bloom agg named {agg_out!r}"
        )
    params = entry[3]
    m, k = int(params["m"]), int(params["hashes"])
    keys = spec["group_cols"]
    state_col = f"__{agg_out}_bloom"
    state = mf.read_versioned(spark, mv_table, version=mv_v).select(
        *keys, state_col
    )
    # md5 double-hash ONCE per probe row, projected below the join
    # (guide §1.2): the k bit expressions each embedded conv(md5) twice
    # — ~2k md5 evaluations per row for k=4
    sval = F.col(probe_col).cast("string")
    h1 = F.conv(F.substring(F.md5(sval), 1, 15), 16, 10).cast("long") % m
    h2m = F.conv(F.substring(F.md5(sval), 16, 15), 16, 10).cast("long") % m
    p = probes.withColumns(
        {"__bp_h1": h1, "__bp_h2o": h2m + (1 - (h2m % 2))}
    ).alias("p")
    s = state.alias("s")
    cond = None
    for kcol in keys:
        c = F.col(f"p.{kcol}").eqNullSafe(F.col(f"s.{kcol}"))
        cond = c if cond is None else (cond & c)
    j = p.join(s, cond if cond is not None else F.lit(True), "left_outer")
    arr = F.col(f"s.{state_col}")
    bits = [
        (F.col("p.__bp_h1") + F.lit(jj) * F.col("p.__bp_h2o")) % m
        for jj in range(k)
    ]
    hit = F.lit(True)
    for b in bits:
        word = F.floor(b / _BLOOM_WORD).cast("int")
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (b % _BLOOM_WORD).cast("int")
        )
        hit = hit & (
            F.try_element_at(arr, word + 1).bitwiseAND(mask) != 0
        )
    out_cols = [F.col(f"p.{c}") for c in probes.columns]
    return j.select(
        *out_cols,
        F.when(arr.isNull() | F.col(f"p.{probe_col}").isNull(), F.lit(0))
        .otherwise(hit.cast("int"))
        .alias("might_contain"),
    )
