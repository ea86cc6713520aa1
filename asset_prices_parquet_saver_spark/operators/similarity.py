"""Similarity search over embeddings (X3; SURVEY §2.11).

Brute-force cosine top-k is the correctness baseline; LSH top-k is the
scale path, where each query only scores the corpus vectors that share
one of its hyperplane buckets. Both run ONE blocked kernel
(``_blocked_topk``), the partition-local top-k with a pruning bound that
REPOSE (ICDE 2021) merges globally: the corpus is hash-grouped into
blocks, the collected query set is broadcast to every block, and the
exact variant scores all of a block's (query, vector) pairs with one
matmul, while the LSH variant computes the block's bucket codes
(:func:`lsh_codes`) in the same kernel and scores only the pairs whose
codes collide in some table. A block emits only its per-query top-k
(plus a one-rounding-unit slack), so only B·q·k narrow rows reach the
global window rank. The block count comes from the optimized plan's
size estimate in bytes, so building either query runs no Spark job and
depends on no core count.

LSH near-pairs (:func:`cosine_pairs_lsh`) take the same local-then-
global shape with the bucket as the block: :func:`lsh_codes` runs once
per vector, each (table, bucket) is grouped once and scored with one
matmul, and a pair is emitted only from the lowest table its codes
collide in. Every top-k path ends in the one rank tail
:func:`_top_k_per_query`.

Kernels: all pair scoring runs as Arrow-batched numpy (one matmul or
einsum per batch inside ``mapInPandas``) — the interpreted
``zip_with``+``aggregate`` fold doesn't participate in codegen and paid
a ~2·dim closure-call chain per pair (35 s → ~2 s for cosine_topk @
sf0.1). Rounding to 6 decimals for the final value happens JVM-side
with ``F.round`` so outputs stay bit-identical to the SQL oracle;
double noise between summation orders (numpy SIMD vs sequential fold)
lives at 1e-15, three orders below the rounding grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from asset_prices_parquet_saver_spark.functions.vectors import to_double_array


def auto_num_blocks(
    n_rows: int, rows_per_block: int, min_blocks: int = 8
) -> int:
    """Block count for the blocked-matmul kernels, derived from a
    rows-per-block target: what stays CONSTANT as the corpus grows is
    the block size (per-task ``collect_list`` memory and matmul shape),
    not the block count — a fixed count would make every task's memory
    grow linearly with the input until it OOMs. ``min_blocks`` floors
    the parallelism for small inputs (where everything fits anyway)."""
    import math

    return max(min_blocks, math.ceil(max(int(n_rows), 1) / rows_per_block))


#: optimized-plan leaves whose ``sizeInBytes`` says nothing about the
#: vector payload: an RDD reports ``spark.sql.defaultSizeInBytes`` (scaled
#: down by any Project above it), a local relation counts one element per
#: array
_UNSIZED_LEAVES = ("LogicalRDD", "LocalRelation")


def plan_num_blocks(df: DataFrame, vec_col: str, block_bytes: int) -> int:
    """Block count for ``df`` from a byte target per block:
    ``max(8, ceil(size / block_bytes))``, with ``size`` the optimized
    plan's ``sizeInBytes`` — for a file scan the on-disk bytes, which
    for float vectors is about their stored width. No Spark job runs
    and no core count enters, so the blocking (and with it the
    block-local top-k) is the same on every cluster. A plan over an
    RDD or local relation has no usable estimate; one job sums the
    vectors' actual bytes instead (8 per id plus the element width per
    element)."""
    jdf = df._jdf
    plan = jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    kinds = {leaves.apply(i).getClass().getSimpleName() for i in range(leaves.length())}
    if kinds & set(_UNSIZED_LEAVES):
        width = jdf.schema().apply(vec_col).dataType().elementType().defaultSize()
        size = df.select(F.sum(8 + width * F.size(vec_col))).first()[0] or 0
    else:
        size = int(plan.stats().sizeInBytes())
    return auto_num_blocks(size, block_bytes)  # bytes in, bytes per block


def _rowwise_cosine(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Score candidate pairs: every column but the two vectors passes
    through; appends ``raw_cosine``.  One einsum per Arrow batch.

    Zero-norm vectors are dropped (their cosine is undefined — the HOF
    version yielded NULL, which neither passes a threshold filter nor
    outranks a real score)."""
    import numpy as np

    keep = [c for c in df.columns if c not in (a_col, b_col)]
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema if f.name in keep
    )

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.array(list(pdf[a_col]))
            B = np.array(list(pdf[b_col]))
            denom = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            ok = denom > 0
            raw = np.einsum("ij,ij->i", A, B)[ok] / denom[ok]
            out = pdf.loc[ok, keep].copy()
            out["raw_cosine"] = raw
            yield out

    return df.mapInPandas(gen, schema + ", raw_cosine double")


def _top_k_per_query(
    scored: DataFrame, k: int, score: str, ascending: bool, id_name: str = "vec_id"
) -> DataFrame:
    """The rank tail of every top-k path: per ``query_id``, the first
    ``k`` rows of ``scored`` by ``score`` with ascending id as the
    tie-break, so the pick is the same on every engine and
    partitioning. Output: query_id, ``id_name``, ``score``, rank."""
    order = F.col(score).asc() if ascending else F.col(score).desc()
    w = Window.partitionBy("query_id").orderBy(order, F.col(id_name).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_name, score, "rank")
    )


#: corpus bytes per top-k block (as the plan estimates them: ~65536
#: float32 vectors at dim 64); the block's vectors and its q×block
#: score matrix are the kernel's working set
_TOPK_BLOCK_BYTES = 16 << 20


def _blocked_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    round_decimals: int,
    num_blocks: int | None,
    block_bytes: int,
    lsh: tuple[int, int, int | None] | None = None,
) -> DataFrame:
    """The one top-k kernel behind :func:`cosine_topk` and
    :func:`ann_lsh_topk`: partition-local top-k with a pruning bound,
    merged by one global rank (the REPOSE scheme).

    The corpus is hash-grouped into blocks of ~``block_bytes``
    (:func:`plan_num_blocks` unless ``num_blocks`` is given); the probe
    set is collected into one row and broadcast to every block. With
    ``lsh=None`` one matmul per block scores every (query, corpus)
    pair. With ``lsh = (num_planes, num_tables, max_planes)`` the block
    first computes its bucket codes — from the fixed-seed
    :func:`lsh_planes`, the first ``num_planes`` of a ``max_planes``
    tensor when set — and groups its rows by code per table; each query
    then scores only the union of the rows that share its code in ANY
    table (a pair colliding in several tables is one candidate), about
    ``num_tables · block / 2^num_planes`` dot products. Self-matches
    (equal ids) and zero-norm vectors (cosine undefined) are never
    candidates. Each block emits only its per-query top-k, so the
    output is B·q·k narrow rows, not a candidate set; the JVM-side
    ``F.round`` + window rank picks the exact final k.

    A task holds the blocks that the groupBy's shuffle puts in its
    partition (AQE may coalesce small ones), converted to pandas one
    Arrow batch of up to ``spark.sql.execution.arrow.maxRecordsPerBatch``
    blocks at a time; the blocks themselves are scored one by one.

    Ids are assumed unique on each side (a corpus id is one vector)."""
    import numpy as np
    import pandas as pd

    if num_blocks is None:
        num_blocks = plan_num_blocks(emb, vec_col, block_bytes)
    e = emb.select(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_blocks)).alias("block"),
        F.col(id_col).alias("vec_id"),
        to_double_array(vec_col).alias("v"),
    )
    blocks = e.groupBy("block").agg(F.collect_list(F.struct("vec_id", "v")).alias("items"))
    q_all = (
        queries.select(
            F.col(id_col).alias("query_id"), to_double_array(vec_col).alias("qv")
        )
        .agg(F.collect_list(F.struct("query_id", "qv")).alias("probes"))
    )
    cross = blocks.crossJoin(F.broadcast(q_all))
    slack = 10.0 ** -round_decimals

    def vectors(rows, id_name, vec_name):
        """(ids, vectors, norms) of the non-zero-norm rows."""
        if not len(rows):
            return np.empty(0, "int64"), np.empty((0, 0)), np.empty(0)
        ids = np.array([r[id_name] for r in rows], dtype="int64")
        X = np.array([r[vec_name] for r in rows], dtype="float64")
        n = np.linalg.norm(X, axis=1)
        ok = n > 0
        return ids[ok], X[ok], n[ok]

    def all_pairs(Q, qn, A, an):
        """Per query: every block row and its cosine, one matmul."""
        S = (Q @ A.T) / (qn[:, None] * an[None, :])  # (q, n)
        every = np.arange(len(A))
        for qi in range(len(Q)):
            yield every, S[qi]

    def colliding_pairs(Q, qn, qcodes, A, an):
        """Per query: the block rows sharing its code in any table, and
        their cosines — only those pairs are scored."""
        acodes = lsh_codes(A, *lsh)
        tables = []
        for t in range(acodes.shape[1]):
            rows = np.argsort(acodes[:, t], kind="stable")
            sorted_codes = acodes[rows, t]
            lo = np.searchsorted(sorted_codes, qcodes[:, t], "left")
            hi = np.searchsorted(sorted_codes, qcodes[:, t], "right")
            tables.append((rows, lo, hi))
        for qi in range(len(Q)):
            idx = np.unique(
                np.concatenate([rows[lo[qi] : hi[qi]] for rows, lo, hi in tables])
            )
            yield idx, (A[idx] @ Q[qi]) / (an[idx] * qn[qi])

    def score(batches):
        probe = None  # the broadcast row is identical in every block
        for pdf in batches:
            for items, probes in zip(pdf["items"], pdf["probes"]):
                if probe is None:
                    probe = vectors(probes, "query_id", "qv")
                    if lsh is not None and len(probe[0]):
                        qcodes = lsh_codes(probe[1], *lsh)
                qids, Q, qn = probe
                ids, A, an = vectors(items, "vec_id", "v")
                if not len(qids) or not len(ids):
                    continue
                pairs = (
                    all_pairs(Q, qn, A, an)
                    if lsh is None
                    else colliding_pairs(Q, qn, qcodes, A, an)
                )
                out_q, out_i, out_c = [], [], []
                for qid, (idx, raw) in zip(qids, pairs):
                    keep = ids[idx] != qid
                    cand_ids, raw = ids[idx][keep], raw[keep]
                    r = np.round(raw, round_decimals)
                    # block-local top-k under the final window's order
                    # (rounded desc, then id asc) — widened by one unit
                    # in the last rounded place: np.round is half-EVEN
                    # while the final F.round is half-UP, so a dyadic
                    # midpoint at the k boundary could otherwise be cut
                    # here yet rank inside top-k under the JVM rounding.
                    # The slack keeps every candidate within one ulp of
                    # the k-th; the exact JVM order decides the final k.
                    order = np.lexsort((cand_ids, -r))
                    if len(order) > k:
                        kth = r[order[k - 1]]
                        order = order[r[order] >= kth - slack]
                    out_q.append(np.full(len(order), qid))
                    out_i.append(cand_ids[order])
                    out_c.append(raw[order])
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "vec_id": np.concatenate(out_i),
                        "raw_cosine": np.concatenate(out_c),
                    }
                )

    scored = cross.mapInPandas(
        score, "query_id long, vec_id long, raw_cosine double"
    ).select(
        "query_id",
        "vec_id",
        F.round("raw_cosine", round_decimals).alias("cosine"),
    )
    return _top_k_per_query(scored, k, "cosine", ascending=False)


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int = 6,
    num_blocks: int | None = None,
    block_bytes: int = _TOPK_BLOCK_BYTES,
) -> DataFrame:
    """Exact top-k nearest corpus vectors per query vector by cosine.

    Output: query_id, vec_id, cosine (rounded), rank. Rank is computed
    on the *rounded* similarity with id tie-break, so the result set is
    deterministic across engines and partitionings. A query is never
    its own neighbour; zero-norm vectors have no cosine and take no
    part.

    Execution: :func:`_blocked_topk` with no candidate mask — the
    broadcast query set is scored against each ~``block_bytes`` corpus
    block with one numpy matmul, and each task emits only its block's
    per-query top-k (the global top-k is a subset of the union). The
    corpus is never shuffled wide, and the block count comes from the
    optimized plan's size estimate (no Spark job, no core count), so a
    block's matrix stays the same size as the corpus grows.
    """
    return _blocked_topk(
        emb, queries, k, id_col, vec_col, round_decimals, num_blocks, block_bytes
    )


def cosine_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int = 6,
    num_blocks: int | None = None,
    rows_per_block: int = 4096,
) -> DataFrame:
    """Embedding near-duplicate pairs: all (a<b) with cosine ≥ threshold.

    O(n²) in comparisons (the exact baseline — use LSH bucketing at
    scale), but executed as a *blocked matrix product*: vectors are
    grouped into row blocks of ~``rows_per_block`` (``num_blocks``
    overrides the auto sizing), the upper triangle of block pairs fans
    out as tasks, and each task computes one block×block cosine
    submatrix with a single numpy matmul inside ``mapInPandas``
    (Arrow-batched). ~100× less per-pair overhead than evaluating a
    64-term expression tree per row; parallelism = B(B+1)/2 tasks.
    The per-task score matrix is rows_per_block² doubles (~130 MB at
    the default) regardless of corpus size — growth lands in the task
    COUNT, which is the quadratic-cost term made visible, not a
    per-task memory ceiling. Final rounding + thresholding happen
    JVM-side with ``F.round`` so results stay bit-identical to the SQL
    oracle; the numpy stage pre-filters with an epsilon slack only.
    """
    import numpy as np
    import pandas as pd

    if num_blocks is None:
        num_blocks = auto_num_blocks(emb.count(), rows_per_block)
    e = emb.select(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_blocks)).alias("block"),
        F.col(id_col).alias("id"),
        to_double_array(vec_col).alias("v"),
    )
    blocks = e.groupBy("block").agg(
        F.collect_list(F.struct("id", "v")).alias("items")
    )
    cross = (
        blocks.alias("a")
        .join(blocks.alias("b"), F.col("a.block") <= F.col("b.block"))
        .select(
            F.col("a.block").alias("block_a"),
            F.col("b.block").alias("block_b"),
            F.col("a.items").alias("items_a"),
            F.col("b.items").alias("items_b"),
        )
        # the broadcast NLJ emits all B(B+1)/2 block pairs from one
        # task; spread them so each matmul gets its own python worker
        .repartition(num_blocks * (num_blocks + 1) // 2)
    )
    slack = threshold - 10.0 ** (-round_decimals) / 2 - 1e-9

    def score(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for items_a, items_b, same in zip(
                pdf["items_a"], pdf["items_b"], pdf["block_a"] == pdf["block_b"]
            ):
                ids_a = np.array([it["id"] for it in items_a])
                ids_b = np.array([it["id"] for it in items_b])
                A = np.array([it["v"] for it in items_a])
                B = np.array([it["v"] for it in items_b])
                An = A / np.linalg.norm(A, axis=1, keepdims=True)
                Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
                S = An @ Bn.T
                ia, ib = np.nonzero(S >= slack)
                keep = ids_a[ia] < ids_b[ib] if len(ia) else np.array([], bool)
                # cross-block pairs can land as (bigger, smaller): emit
                # the swapped orientation too so every a<b pair appears
                swap = ids_a[ia] > ids_b[ib] if len(ia) else np.array([], bool)
                out_a.append(ids_a[ia[keep]])
                out_b.append(ids_b[ib[keep]])
                out_c.append(S[ia[keep], ib[keep]])
                if not bool(same):
                    out_a.append(ids_b[ib[swap]])
                    out_b.append(ids_a[ia[swap]])
                    out_c.append(S[ia[swap], ib[swap]])
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a) if out_a else np.array([], "int64"),
                    "id_b": np.concatenate(out_b) if out_b else np.array([], "int64"),
                    "raw_cosine": np.concatenate(out_c) if out_c else np.array([], "float64"),
                }
            )

    raw = cross.mapInPandas(score, "id_a long, id_b long, raw_cosine double")
    return raw.select(
        "id_a",
        "id_b",
        F.round("raw_cosine", round_decimals).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


def cosine_pairs_lsh(
    emb: DataFrame,
    threshold: float,
    num_planes: int | None = 8,
    num_tables: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int = 6,
) -> DataFrame:
    """Embedding near-dup pairs, LSH-bucketed (the scale path for
    :func:`cosine_pairs`): candidates are pairs sharing a bucket in any
    of ``num_tables`` hyperplane tables, verified by exact cosine.
    Comparisons drop from n²/2 to Σ_buckets |b|²/2 per table; recall of
    true near-dups grows with num_tables (a pair at cosine θ collides
    in one table with prob (1 - arccos(θ)/π)^num_planes).

    Execution: one Arrow pass computes each vector's codes in every
    table (:func:`lsh_codes`); the codes posexplode to (table, bucket)
    rows, each bucket is grouped once, and one matmul per bucket scores
    its (a<b) pairs as dot/(|a||b|). A pair colliding in several tables
    is emitted only by the lowest of them (every row carries its codes),
    so no vector pair goes through a join and the result needs no
    ``distinct``. Zero-norm vectors have no cosine and take no part.
    The final rounding and threshold run JVM-side with ``F.round``; the
    kernel pre-filters with half a rounding unit of slack.

    ``num_planes=None`` → :func:`auto_num_planes` from one cheap
    count: bucket occupancy (and with it per-table candidate work per
    row) stays CONSTANT as the corpus grows — the fixed-J form is
    quadratic past n ≈ 2^J·occupancy. Planes then come from the shared
    ``AUTO_PLANES_HI`` tensor prefix so the oracle can replay J from
    COUNT(*) over the same inlined constants."""
    import numpy as np
    import pandas as pd

    max_planes = None
    if num_planes is None:
        num_planes = auto_num_planes(emb.count())
        max_planes = AUTO_PLANES_HI
    lsh = (num_planes, num_tables, max_planes)
    floor = threshold - 10.0 ** (-round_decimals) / 2 - 1e-9

    def bucket_codes(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf["v"]), dtype="float64")
            ok = np.linalg.norm(V, axis=1) > 0
            if ok.any():
                out = pdf.loc[ok, ["vec_id", "v"]].copy()
                out["codes"] = list(lsh_codes(V[ok], *lsh))
                yield out

    def score_buckets(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for table, items in zip(pdf["table"], pdf["items"]):
                ids = np.array([r["vec_id"] for r in items], dtype="int64")
                X = np.array([r["v"] for r in items], dtype="float64")
                C = np.array([r["codes"] for r in items], dtype="int64")
                n = np.linalg.norm(X, axis=1)
                # rows in slices, so a crowded bucket's score matrix
                # stays bounded; a slice scores its rows against
                # themselves and every later row
                for lo in range(0, len(ids) - 1, 4096):
                    hi = lo + 4096
                    S = (X[lo:hi] @ X[lo:].T) / (n[lo:hi, None] * n[None, lo:])
                    i, j = np.nonzero(np.triu(S >= floor, 1))
                    a, b = lo + i, lo + j
                    # only the lowest table the pair collides in emits it
                    first = (C[a] == C[b]).argmax(axis=1)
                    keep = (first == table) & (ids[a] != ids[b])
                    out_a.append(np.minimum(ids[a], ids[b])[keep])
                    out_b.append(np.maximum(ids[a], ids[b])[keep])
                    out_c.append(S[i, j][keep])
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "raw_cosine": np.concatenate(out_c),
                    }
                )

    coded = emb.select(
        F.col(id_col).alias("vec_id"), to_double_array(vec_col).alias("v")
    ).mapInPandas(bucket_codes, "vec_id long, v array<double>, codes array<long>")
    buckets = (
        coded.select("vec_id", "v", "codes", F.posexplode("codes").alias("table", "bucket"))
        .groupBy("table", "bucket")
        .agg(F.collect_list(F.struct("vec_id", "v", "codes")).alias("items"))
    )
    return (
        buckets.mapInPandas(score_buckets, "id_a long, id_b long, raw_cosine double")
        .select("id_a", "id_b", F.round("raw_cosine", round_decimals).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float,
    num_planes: int | None = 6,
    num_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space near-duplicate removal (the semantic twin of
    ``dedup.fuzzy_dedup``): LSH-bucketed cosine near-pairs → connected
    components → keep the minimum-id survivor per component. Returns
    the deduplicated ``emb`` (original columns). Deterministic given
    the fixed-seed planes, so the whole composition is reproducible —
    and oracle-checkable via the inlined-plane SQL + recursive-CTE
    closure, like the text-side pipeline."""
    from asset_prices_parquet_saver_spark.operators.dedup import (
        connected_components,
    )

    pairs = cosine_pairs_lsh(emb, threshold, num_planes, num_tables, id_col, vec_col)
    comp = connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return emb.join(losers, id_col, "left_anti")


def _ivf_cells(df: DataFrame, Cn, top: int) -> DataFrame:
    """Assign each (vec_id, v) row its ``top`` nearest coarse-quantizer
    cells by cosine (one numpy matmul per Arrow batch; centroids ride
    the task closure). Stable sort: similarity ties assign to the LOWER
    cell id on every engine (argsort's default introsort makes tie
    order an implementation detail)."""
    import numpy as np
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf["v"]))
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            S = Vn @ Cn.T
            cells = np.argsort(-S, axis=1, kind="stable")[:, :top]
            idx = np.repeat(np.arange(len(pdf)), top)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy()[idx],
                    "v": pdf["v"].to_numpy()[idx],
                    "cell": cells.ravel().astype("int64"),
                }
            )

    return df.mapInPandas(gen, "vec_id long, v array<double>, cell long")


def ann_ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_cells: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index.

    Coarse quantizer: k-means-trained centroids (see
    :func:`_train_centroids` — deterministic, no RNG), or a PINNED
    centroid array passed as ``centroids`` — the production IVF shape
    (FAISS-style): train the quantizer once offline, persist it, and
    reuse it for assignment; pinning also makes the whole pipeline a
    pure function of its inputs, so an external oracle can replay it
    from the same constants. Every corpus vector is assigned to its
    nearest centroid with one numpy matmul per Arrow batch; queries
    probe their ``nprobe`` nearest cells and rerank candidates by
    exact cosine. Per-query work ≈ nprobe·n/num_cells. At 100 TB the
    assignment pass is a single linear scan (centroids broadcast in
    the task closure) and the candidate join shuffles on the cell id —
    the same recall/cost dial as FAISS IVF: raise num_cells to shrink
    cells, nprobe for recall.
    """
    import numpy as np
    import pandas as pd

    e = emb.select(F.col(id_col).alias("vec_id"), to_double_array(vec_col).alias("v"))
    if centroids is not None:
        Cn = np.asarray(centroids, dtype="float64")
    else:
        Cn = _train_centroids(e, num_cells)

    return _ivf_probe_rerank(
        _ivf_cells(e, Cn, 1), queries, Cn, k, nprobe, id_col, vec_col
    )


def _ivf_probe_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    Cn,
    k: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The IVF query body behind :func:`ann_ivf_topk` and
    :func:`ann_ivf_topk_from_index`: each query's ``nprobe`` nearest
    cells (broadcast — the probe set is tiny) join the (cell, vec_id,
    v) corpus rows on the cell id, and the candidates rerank by exact
    cosine."""
    probes = _ivf_cells(
        queries.select(F.col(id_col).alias("vec_id"), to_double_array(vec_col).alias("v")),
        Cn,
        nprobe,
    ).select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "cell")
    cand = (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qv", "vec_id", "v")
    )
    # each corpus row sits in ONE cell and a query's probe cells are
    # distinct, so each (query, candidate) pair arises once — no dedupe
    # (the index path relies on append_ivf_index's one-row-per-vec_id
    # contract for the same guarantee).
    scored = _rowwise_cosine(cand, "qv", "v").select(
        "query_id", "vec_id", F.round("raw_cosine", 6).alias("cosine")
    )
    return _top_k_per_query(scored, k, "cosine", ascending=False)


def _train_centroids(
    e: DataFrame, num_cells: int, sample_cap: int = 4096, iters: int = 8
):
    """Deterministic k-means coarse quantizer on the unit sphere.

    Sample: the ``sample_cap`` corpus vectors with the smallest
    ``xxhash64(vec_id)`` — an order statistic over a uniform hash, i.e.
    a uniform-but-deterministic sample, executed as a distributed
    TakeOrdered (per-partition top-N + merge; no full sort, no RNG).
    Training runs on the driver over the bounded sample (numpy,
    O(sample·cells·iters) — independent of corpus size): farthest-first
    init (the deterministic k-means++ analogue) then Lloyd iterations
    in cosine geometry, renormalizing centroids each step. Empty cells
    keep their previous centroid. The result is broadcast to executors
    in the task closure, like a literal.

    vs the round-1 lowest-id quantizer: trained centroids track the
    data's actual cluster structure, so cells are balanced and recall
    at a fixed nprobe no longer collapses on clustered corpora.
    """
    import numpy as np

    rows = (
        e.orderBy(F.xxhash64(F.col("vec_id")).asc(), F.col("vec_id").asc())
        .limit(sample_cap)
        .collect()
    )
    X = np.array([r.v for r in rows])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    k = min(num_cells, len(Xn))

    # farthest-first traversal init (deterministic; ties → lowest index)
    chosen = [0]
    sims = Xn @ Xn[0]  # max similarity to any chosen centroid, per point
    for _ in range(k - 1):
        nxt = int(np.argmin(sims))
        chosen.append(nxt)
        np.maximum(sims, Xn @ Xn[nxt], out=sims)
    C = Xn[chosen].copy()

    for _ in range(iters):
        a = np.argmax(Xn @ C.T, axis=1)
        for j in range(k):
            members = Xn[a == j]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    C[j] = m / n
    return C


_LSH_SEED = 0x5EED_CAFE

#: plane-count clamp for the adaptive path (also the tensor size the
#: oracle inlines — see plans/queries._lsh_bucket_union_sql_adaptive)
AUTO_PLANES_LO = 4
AUTO_PLANES_HI = 12


def auto_num_planes(
    n: int,
    target_bucket: int = 64,
    lo: int = AUTO_PLANES_LO,
    hi: int = AUTO_PLANES_HI,
) -> int:
    """Plane count that keeps expected bucket OCCUPANCY constant:
    J = ceil(log2(n / target_bucket)), clamped to [lo, hi].

    Why adaptive: with J fixed, per-table candidate work is
    Σ_buckets |b|² ≈ n²/2^J — QUADRATIC once n ≫ 2^J·target (measured:
    the pinned-6-plane pair queries ran sf0.1→sf1 exponents of 1.25
    and the sf1 decade exists precisely to catch this). With J grown
    as log2(n), occupancy ≈ target stays flat and candidate work is
    ≈ n·target — linear. The trade is per-table recall of a true pair
    at angle θ, (1 − θ/π)^J, which shrinks with J — production tuning
    raises num_tables alongside (the standard LSH schedule); the
    engine keeps tables a caller knob.

    The formula is ENGINE-PORTABLE by construction — both ceil/log2
    operate on an integer-derived double, and the only inputs where
    libm rounding could flip ceil are exact powers of two, which every
    IEEE log2 maps exactly — so the SQL oracle replays the identical
    choice from COUNT(*)."""
    import math

    return max(lo, min(hi, int(math.ceil(math.log2(max(n, 1) / float(target_bucket))))))


def lsh_planes(num_planes: int, num_tables: int, dim: int):
    """The fixed-seed hyperplane tensor (num_tables, num_planes, dim)
    every worker derives identically inside :func:`lsh_codes`.

    Exposed so the correctness oracle can inline the SAME constants into
    SQL: the planes are data-independent, so a DuckDB mirror computing
    ``sign(v · plane)`` over inlined float64 literals reproduces the
    bucket ids — and with them the LSH candidate sets — exactly."""
    import numpy as np

    rng = np.random.default_rng(_LSH_SEED)
    return rng.standard_normal((num_tables, num_planes, dim))


def lsh_codes(X, num_planes: int, num_tables: int, max_planes: int | None):
    """Random-hyperplane LSH bucket codes of the rows of ``X``, shape
    (n, num_tables): bit p of table t is sign(x · plane[t, p]) > 0.
    The one place bucket bits are computed — the LSH mask of
    :func:`_blocked_topk` and the buckets of :func:`cosine_pairs_lsh`.

    One matmul against planes from the fixed-seed :func:`lsh_planes`,
    so every worker, batch and cluster size gets the same codes.
    ``max_planes``: when set (the adaptive-J path), the planes are the
    FIRST ``num_planes`` rows of the ``max_planes``-sized tensor, so
    every possible J shares one tensor and the oracle can inline the
    max set once and gate terms on its SQL-computed J."""
    import numpy as np

    dim = X.shape[1]
    planes = lsh_planes(max_planes or num_planes, num_tables, dim)[:, :num_planes, :]
    bits = (X @ planes.reshape(-1, dim).T) > 0
    weights = 1 << np.arange(num_planes, dtype="int64")
    return bits.reshape(len(X), num_tables, num_planes) @ weights


def ann_lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int | None = 8,
    num_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH.

    Candidates = corpus vectors sharing the query's bucket in ANY of the
    ``num_tables`` independent tables, reranked by exact cosine.
    Per-query work ≈ num_tables · n / 2^num_planes dot products, plus
    the corpus's own codes (n · num_tables · num_planes dot products per
    call, shared by all queries); recall grows with num_tables — the
    standard recall/cost dial.

    Execution: :func:`_blocked_topk` with the LSH collision mask — the
    same blocked kernel as :func:`cosine_topk`. Each corpus block
    computes its own and the broadcast queries' bucket codes in the
    kernel, scores only the colliding pairs and keeps their block-local
    top-k; no vector is copied per table, the corpus never shuffles on
    a bucket key, and only (query_id, vec_id, cosine) rows reach the
    global rank.

    ``num_planes=None`` → :func:`auto_num_planes` from one corpus
    count: per-query candidate cost stays CONSTANT as the corpus grows
    (fixed J drifts toward a full scan once n ≫ 2^J) — the production
    setting; the oracle-pinned gate query keeps an explicit J."""
    max_planes = None
    if num_planes is None:
        num_planes = auto_num_planes(emb.count())
        max_planes = AUTO_PLANES_HI
    return _blocked_topk(
        emb, queries, k, id_col, vec_col, 6, None, _TOPK_BLOCK_BYTES,
        lsh=(num_planes, num_tables, max_planes),
    )


# ------------------------------------------------ product quantization

def train_pq_codebooks(
    e: DataFrame,
    num_subq: int,
    num_codes: int,
    sample_cap: int = 4096,
    iters: int = 8,
):
    """Deterministic per-subspace k-means PQ codebooks, shape
    (num_subq, num_codes, dim/num_subq).

    Same training discipline as :func:`_train_centroids` (hash-ordered
    bounded sample → driver numpy, farthest-first init, Lloyd
    iterations) but in plain L2 geometry — PQ quantizes raw subvectors,
    not directions. Train once offline, pin the artifact (the FAISS
    index-file workflow); scripts/gen_pq_codebooks.py regenerates
    operators/pq_codebooks.py after a testdata change."""
    import numpy as np

    rows = (
        e.orderBy(F.xxhash64(F.col("vec_id")).asc(), F.col("vec_id").asc())
        .limit(sample_cap)
        .collect()
    )
    X = np.array([r.v for r in rows])
    dim = X.shape[1]
    if dim % num_subq:
        raise ValueError(f"dim {dim} not divisible by num_subq {num_subq}")
    dsub = dim // num_subq
    books = []
    for j in range(num_subq):
        S = X[:, j * dsub : (j + 1) * dsub]
        k = min(num_codes, len(S))
        # farthest-first init in L2 (ties -> lowest index)
        chosen = [0]
        d = ((S - S[0]) ** 2).sum(axis=1)
        for _ in range(k - 1):
            nxt = int(np.argmax(d))
            chosen.append(nxt)
            np.minimum(d, ((S - S[nxt]) ** 2).sum(axis=1), out=d)
        C = S[chosen].copy()
        for _ in range(iters):
            dist = (
                (S**2).sum(axis=1, keepdims=True)
                - 2 * (S @ C.T)
                + (C**2).sum(axis=1)
            )
            a = np.argmin(dist, axis=1)
            for c in range(k):
                members = S[a == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books.append(C)
    return np.stack(books)


def _pq_distance_rows(
    df: DataFrame,
    id_name: str,
    books,
    top_only: bool,
    extra_long_cols: tuple[str, ...] = (),
):
    """Per-row squared-L2 distances to every PQ code, computed as
    d = x·x − 2·x·c + c·c (the SAME dot-product formulation an SQL
    oracle evaluates with ``list_dot_product``, so values agree to
    float noise far below the 1e-6 rounding grain). One numpy matmul
    per (Arrow batch × subquantizer).

    ``top_only``: emit only the argmin code per (row, subquantizer)
    (corpus encoding — ties take the lower code via argmin's
    first-minimum rule, matching the oracle's ``ORDER BY d, code``);
    else emit the full distance table (query-side ADC lookup rows).
    ``extra_long_cols`` (e.g. the IVF cell id) pass through unchanged.
    """
    import numpy as np
    import pandas as pd

    m, ksub, dsub = books.shape

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf["v"]))
            ids = pdf[id_name].to_numpy()
            extras = {c: pdf[c].to_numpy() for c in extra_long_cols}
            out = []
            for j in range(m):
                S = V[:, j * dsub : (j + 1) * dsub]
                B = books[j]
                d = (
                    np.einsum("ij,ij->i", S, S)[:, None]
                    - 2 * (S @ B.T)
                    + np.einsum("ij,ij->i", B, B)[None, :]
                )
                if top_only:
                    cols = {
                        id_name: ids,
                        **{c: v for c, v in extras.items()},
                        "j": np.full(len(pdf), j, dtype="int64"),
                        "code": d.argmin(axis=1).astype("int64"),
                    }
                else:
                    idx = np.repeat(np.arange(len(pdf)), ksub)
                    cols = {
                        id_name: ids[idx],
                        **{c: v[idx] for c, v in extras.items()},
                        "j": np.full(len(pdf) * ksub, j, dtype="int64"),
                        "code": np.tile(np.arange(ksub, dtype="int64"), len(pdf)),
                        "d": d.ravel(),
                    }
                out.append(pd.DataFrame(cols))
            yield pd.concat(out, ignore_index=True)

    extra_schema = "".join(f", {c} long" for c in extra_long_cols)
    schema = (
        f"{id_name} long{extra_schema}, j long, code long"
        + ("" if top_only else ", d double")
    )
    return df.mapInPandas(gen, schema)


def ann_pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by product quantization with asymmetric
    distance computation (ADC) — the memory-compression layer of
    large-scale ANN (Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011; what FAISS's IndexPQ does).

    The corpus is encoded ONCE into m 1-byte-ish codes per vector
    (here m·8 bytes as longs for relational clarity — 64-dim float64
    → 8 codes is a 64× compression of what the query-time scan
    touches); each query computes its exact distance table to every
    codebook entry, and approximate distance = Σ_j table[j][code_j].
    Output: (query_id, vec_id, adc_dist rounded to 6, rank), ranked
    ascending with id tie-break — deterministic across engines.

    Scale shape: encoding is a narrow linear scan (codebooks ride the
    task closure); the scored relation is code rows ONLY — no
    embedding vectors move after encoding. The query distance tables
    (q·m·ksub rows) broadcast; the Σ_j is a map-side-combinable
    aggregation keyed (query_id, vec_id). At 100 TB PQ is the
    compression dial, composed with IVF cell pruning (IVF-PQ) so the
    scan touches nprobe/num_cells of the codes.
    """
    import numpy as np

    books = np.asarray(codebooks, dtype="float64")
    e = emb.select(F.col(id_col).alias("vec_id"), to_double_array(vec_col).alias("v"))
    q = queries.select(
        F.col(id_col).alias("query_id"), to_double_array(vec_col).alias("v")
    )
    codes = _pq_distance_rows(e, "vec_id", books, top_only=True)
    qtable = _pq_distance_rows(q, "query_id", books, top_only=False)
    return _adc_topk(codes, qtable, ["j", "code"], k)


def _adc_topk(codes: DataFrame, qtable: DataFrame, keys: list[str], k: int) -> DataFrame:
    """The ADC scan shared by the PQ paths: every (vec_id, j, code) row
    looks up its query distances in the broadcast table on ``keys``,
    the Σ_j per (query, candidate) is a map-side-combinable aggregate,
    rounded, and the top-k ranks ascending by that distance."""
    adc = (
        codes.join(F.broadcast(qtable), keys)
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("d"), 6).alias("adc_dist"))
    )
    return _top_k_per_query(adc, k, "adc_dist", ascending=True)


def ann_ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids,
    codebooks,
    k: int = 5,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-pruned PQ-ADC top-k — the two pinned artifacts composed the
    way a production index composes them (FAISS ``IVFx,PQy``): the
    coarse quantizer prunes the scan to ``nprobe`` cells, PQ codes
    stand in for the vectors inside the scanned cells, and ranking is
    by table-lookup ADC distance. (Codes quantize raw vectors, not
    per-cell residuals — the IVFADC residual refinement changes only
    the encode/table steps and is orthogonal to the plan shape.)

    Scale shape: both index structures are narrow code/cell relations —
    vectors never move after the two linear encoding scans. Candidates
    = cell equi-join with the broadcast probe list; ADC = broadcast
    table join + map-side-combinable Σ_j keyed (query_id, vec_id),
    over nprobe/num_cells of the corpus instead of all of it. This is
    the 100 TB ANN configuration; ann_pq_topk is its full-scan
    correctness anchor, ann_ivf_topk its uncompressed twin.
    """
    import numpy as np

    Cn = np.asarray(centroids, dtype="float64")
    books = np.asarray(codebooks, dtype="float64")
    e = emb.select(F.col(id_col).alias("vec_id"), to_double_array(vec_col).alias("v"))
    q = queries.select(
        F.col(id_col).alias("query_id"), to_double_array(vec_col).alias("v")
    )
    cells = _ivf_cells(e, Cn, 1).select("vec_id", "cell")
    probes = _ivf_cells(
        q.select(F.col("query_id").alias("vec_id"), "v"), Cn, nprobe
    ).select(F.col("vec_id").alias("query_id"), "cell")
    # corpus is assigned to exactly ONE cell and probe cells are
    # distinct, so each (query, candidate) pair arises once — no dedupe.
    cand = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    codes = _pq_distance_rows(e, "vec_id", books, top_only=True)
    qtable = _pq_distance_rows(q, "query_id", books, top_only=False)
    return _adc_topk(cand.join(codes, "vec_id"), qtable, ["query_id", "j", "code"], k)


def quantize_embeddings_int8(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension int8 scalar quantization — the storage-compression
    layer every large vector store offers (8× over float64 / 4× over
    float32): code_d = round((x_d − min_d)/(max_d − min_d)·255), plus
    the per-vector reconstruction MSE so the accuracy cost is audited
    in the same pass. Output: (id, codes array<long>, mse).

    Everything is exact relational arithmetic (min/max/round), so an
    SQL oracle reproduces codes AND the error report bit-for-bit —
    unlike the k-means quantizers there is nothing to pin.

    Scale shape: one posexplode → per-dimension min/max (a map-side-
    combinable aggregate producing a DIM-row relation, broadcast
    back) → narrow quantize/dequantize arithmetic → one id-keyed
    combinable regroup. Two shuffles total, both on narrow rows; at
    100 TB the stats pass is the same one-scan profile job any column
    statistics collection runs."""
    e = emb.select(
        F.col(id_col).alias("id"), to_double_array(vec_col).alias("v")
    )
    comp = e.select("id", F.posexplode("v").alias("i", "x"))
    stats = comp.groupBy("i").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    scaled = comp.join(F.broadcast(stats), "i").select(
        "id",
        "i",
        "x",
        "mn",
        "mx",
        F.when(
            F.col("mx") > F.col("mn"),
            F.round((F.col("x") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255),
        )
        .otherwise(F.lit(0.0))
        .cast("long")
        .alias("code"),
    )
    err = (
        F.col("x")
        - (F.col("mn") + F.col("code") / 255.0 * (F.col("mx") - F.col("mn")))
    )
    per_dim = scaled.select("id", "i", "code", (err * err).alias("se"))
    ordered = F.array_sort(F.collect_list(F.struct("i", "code")))
    return per_dim.groupBy("id").agg(
        F.transform(ordered, lambda s: s["code"]).alias("codes"),
        F.round(F.avg("se"), 6).alias("mse"),
    )


def _ivf_residuals(cells: DataFrame, Cn) -> DataFrame:
    """Replace each (id, v, cell) row's vector with its residual
    v − centroid[cell] — the quantity IVFADC encodes. Plain float64
    subtraction per element (one vectorized pass per Arrow batch), so
    an SQL oracle doing ``v[i] − cv[i]`` reproduces it bit-for-bit."""
    import numpy as np
    import pandas as pd

    id_name = cells.columns[0]

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf["v"]))
            R = V - Cn[pdf["cell"].to_numpy()]
            yield pd.DataFrame(
                {
                    id_name: pdf[id_name].to_numpy(),
                    "v": list(R),
                    "cell": pdf["cell"].to_numpy(),
                }
            )

    return cells.mapInPandas(gen, f"{id_name} long, v array<double>, cell long")


def ann_ivfadc_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids,
    res_codebooks,
    k: int = 5,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC — the full Jégou et al. construction FAISS ships as its
    default IVF-PQ index: PQ codes quantize the RESIDUAL x − c_cell
    rather than the raw vector, so the codebooks spend their bits on
    the within-cell distribution — tighter than raw-vector PQ at the
    same code budget WHEN the cells capture real cluster structure
    (true for production embedding corpora; provably not for isotropic
    random vectors, see tests/test_retrieval_pq.py — which is why both
    variants ship). Queries compute one distance table per PROBED
    cell from their residual against that cell; the lookup join keys
    on (cell, j, code), so a candidate is scored with the table of its
    own cell — exactly the IVFADC scan order.

    Same 100 TB shape as :func:`ann_ivfpq_topk`: two linear encoding
    scans, then only narrow code/cell rows move; query tables
    (q·nprobe·m·ksub rows) broadcast; Σ_j map-side combinable.
    ``res_codebooks`` is the pinned artifact trained on residuals
    (operators/pq_res_codebooks.py via scripts/gen_ivfadc_codebooks.py).
    """
    import numpy as np

    Cn = np.asarray(centroids, dtype="float64")
    books = np.asarray(res_codebooks, dtype="float64")
    e = emb.select(F.col(id_col).alias("vec_id"), to_double_array(vec_col).alias("v"))
    q = queries.select(
        F.col(id_col).alias("query_id"), to_double_array(vec_col).alias("v")
    )
    corpus_res = _ivf_residuals(_ivf_cells(e, Cn, 1), Cn)
    codes = _pq_distance_rows(
        corpus_res, "vec_id", books, top_only=True, extra_long_cols=("cell",)
    )
    probe_cells = _ivf_cells(
        q.select(F.col("query_id").alias("vec_id"), "v"), Cn, nprobe
    ).select(F.col("vec_id").alias("query_id"), "v", "cell")
    qtable = _pq_distance_rows(
        _ivf_residuals(probe_cells, Cn),
        "query_id",
        books,
        top_only=False,
        extra_long_cols=("cell",),
    )
    return _adc_topk(codes, qtable, ["cell", "j", "code"], k)


def build_pq_index(
    emb: DataFrame,
    codebooks,
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the PQ code relation as a manifest table — the
    production ANN layout: the index is BUILT once (one linear encoding
    scan over the corpus) and queried many times without touching the
    embedding vectors again. Commits via the snapshot protocol
    (sources/manifest.py), so rebuilds are atomic and readers of the
    previous index version are undisturbed."""
    import numpy as np

    from asset_prices_parquet_saver_spark.sources import manifest

    books = np.asarray(codebooks, dtype="float64")
    e = emb.select(F.col(id_col).alias("vec_id"), to_double_array(vec_col).alias("v"))
    codes = _pq_distance_rows(e, "vec_id", books, top_only=True)
    manifest.commit_versioned(codes, table)


def ann_pq_topk_from_index(
    spark,
    table: str,
    queries: DataFrame,
    codebooks,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k against a PERSISTED code index (see
    :func:`build_pq_index`): only the query-side distance tables are
    computed at query time; the corpus contributes a narrow scan of
    its (vec_id, j, code) rows. Same result set as the from-scratch
    :func:`ann_pq_topk` given the same codebooks (asserted in
    tests/test_retrieval_pq.py)."""
    import numpy as np

    from asset_prices_parquet_saver_spark.sources import manifest

    books = np.asarray(codebooks, dtype="float64")
    codes = _without_tombstones(
        spark, table, manifest.read_versioned(spark, table)
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), to_double_array(vec_col).alias("v")
    )
    qtable = _pq_distance_rows(q, "query_id", books, top_only=False)
    return _adc_topk(codes, qtable, ["j", "code"], k)


def mmr_rerank(
    cand: DataFrame,
    id_col: str = "id",
    rel_col: str = "rel",
    vec_col: str = "v",
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal-Marginal-Relevance diversification of a BOUNDED
    candidate set: greedily pick k items maximizing

        lam * rel(i) - (1 - lam) * max_{s in selected} cos(i, s)

    (Carbonell & Goldstein '98) — the standard post-retrieval
    de-redundancy stage. ``cand`` must already be a k-bounded
    candidate list (e.g. a cosine/BM25 top-20): the greedy loop is
    inherently sequential, so it runs as ``k`` unrolled stages of
    tiny-DataFrame joins — every stage touches at most |cand| narrow
    rows and |cand|^2 pair similarities, never the corpus. At 100 TB
    the corpus-side cost is whatever produced the candidates
    (TakeOrdered / ANN); this operator's cost is O(k * |cand|^2) on
    <= 400-row relations.

    Scores and similarities are rounded to 6 decimals BEFORE each
    argmax (ties broken by ascending id) so the selection is
    engine-reproducible — the SQL oracle replays the same unrolled
    greedy. Returns (id, mmr_rank, relevance, mmr_score)."""
    c = cand.select(
        F.col(id_col).alias("id"),
        F.col(rel_col).alias("rel"),
        F.col(vec_col).alias("v"),
    ).localCheckpoint()  # bounded (<= |cand| rows); cuts the self-join lineage

    pairs = c.select(F.col("id").alias("i"), F.col("v").alias("va")).join(
        c.select(F.col("id").alias("j"), F.col("v").alias("vb")),
        F.col("i") != F.col("j"),
    )
    sims = _rowwise_cosine(pairs, "va", "vb").select(
        "i", "j", F.round("raw_cosine", 6).alias("sim")
    ).localCheckpoint()

    lam_c = F.lit(lam)
    one_m = F.lit(1.0 - lam)

    stage1 = (
        c.select(
            "id",
            "rel",
            F.round(lam_c * F.col("rel"), 6).alias("mmr_score"),
        )
        .orderBy(F.col("mmr_score").desc(), F.col("id").asc())
        .limit(1)
        .withColumn("mmr_rank", F.lit(1).cast("long"))
    )
    selected = stage1
    for t in range(2, k + 1):
        sel_ids = selected.select(F.col("id").alias("j"))
        pen = (
            sims.join(F.broadcast(sel_ids), "j")
            .groupBy("i")
            .agg(F.max("sim").alias("max_sim"))
        )
        pick = (
            c.join(F.broadcast(selected.select("id")), "id", "left_anti")
            # LEFT join + penalty 0: a candidate with no similarity row
            # to the selected set (zero-norm vectors are dropped by
            # _rowwise_cosine) must stay selectable with no redundancy
            # penalty — an inner join silently excluded it forever and
            # could truncate the result below k.
            .join(pen.withColumnRenamed("i", "id"), "id", "left")
            .select(
                "id",
                "rel",
                F.round(
                    lam_c * F.col("rel")
                    - one_m * F.coalesce(F.col("max_sim"), F.lit(0.0)),
                    6,
                ).alias(
                    "mmr_score"
                ),
            )
            .orderBy(F.col("mmr_score").desc(), F.col("id").asc())
            .limit(1)
            .withColumn("mmr_rank", F.lit(t).cast("long"))
        )
        # each stage references `selected` twice (exclusion + penalty);
        # checkpointing the <= k-row relation keeps the plan linear in
        # k instead of doubling per stage
        selected = selected.unionByName(pick).localCheckpoint()
    return selected.select(
        "id", "mmr_rank", F.col("rel").alias("relevance"), "mmr_score"
    )


def append_pq_index(
    emb_batch: DataFrame,
    codebooks,
    table: str,
    epoch: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental vector-index ingestion: encode ONLY the new batch
    with the pinned codebooks and append its (vec_id, j, code) rows as
    one manifest segment — O(batch) however large the index, the same
    append-log shape as the incremental-dedup signature index. Pass
    ``epoch`` from foreachBatch for exactly-once appends under crash
    replay. Readers (:func:`ann_pq_topk_from_index`) see old ∪ new
    segments with no change; compaction
    (manifest.compact_versioned) folds small segments when they
    accumulate. Quantization error for the appended vectors is that of
    the PINNED codebooks — after enough distribution drift, retrain +
    rebuild (build_pq_index) as a new atomic snapshot."""
    import numpy as np

    from asset_prices_parquet_saver_spark.sources import manifest

    books = np.asarray(codebooks, dtype="float64")
    e = emb_batch.select(F.col(id_col).alias("vec_id"), to_double_array(vec_col).alias("v"))
    codes = _pq_distance_rows(e, "vec_id", books, top_only=True)
    txn = ("pq-index", epoch) if epoch is not None else None
    manifest.commit_append(codes, table, txn=txn)


def build_ivf_index(
    emb: DataFrame,
    centroids,
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the IVF posting lists — (cell, vec_id, v) — as a
    manifest table: assignment runs ONCE (one linear matmul scan with
    the pinned coarse quantizer), and queries never re-encode the
    corpus. Rows are range-clustered on the cell id before the commit
    so parquet footer min/max prune non-probed cells at scan time —
    the inverted-file property expressed as a storage layout."""
    import numpy as np

    from asset_prices_parquet_saver_spark.sources import manifest

    Cn = np.asarray(centroids, dtype="float64")
    e = emb.select(F.col(id_col).alias("vec_id"), to_double_array(vec_col).alias("v"))
    rows = _ivf_cells(e, Cn, 1).repartitionByRange(8, "cell").sortWithinPartitions("cell")
    manifest.commit_versioned(rows, table, stats_cols=["cell"])


def append_ivf_index(
    emb_batch: DataFrame,
    centroids,
    table: str,
    epoch: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental IVF ingestion: assign ONLY the batch with the pinned
    quantizer and append one manifest segment (O(batch); epoch-
    idempotent under foreachBatch replay — the same protocol as
    append_pq_index). New segments are small, so their cell clustering
    matters less; compact periodically to restore pruning.

    Contract: the index holds ONE row per ``vec_id``. Appending a
    vec_id the index already holds (a batch appended twice outside an
    epoch, or an id re-used) makes :func:`ann_ivf_topk_from_index`
    return that candidate twice; its rerank does not dedupe. Replays
    must pass ``epoch``; an update is a delete + purge, then append."""
    import numpy as np

    from asset_prices_parquet_saver_spark.sources import manifest

    Cn = np.asarray(centroids, dtype="float64")
    e = emb_batch.select(F.col(id_col).alias("vec_id"), to_double_array(vec_col).alias("v"))
    rows = _ivf_cells(e, Cn, 1).sortWithinPartitions("cell")
    txn = ("ivf-index", epoch) if epoch is not None else None
    manifest.commit_append(rows, table, txn=txn, stats_cols=["cell"])


def ann_ivf_topk_from_index(
    spark,
    table: str,
    queries: DataFrame,
    centroids,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k against the PERSISTED posting lists: only the query
    side touches the quantizer at query time; the corpus contributes a
    cell-pruned scan of its (cell, vec_id, v) rows joined on the cell
    id against the broadcast probe set, then the exact-cosine rerank —
    identical results to the from-scratch :func:`ann_ivf_topk` with
    the same pinned centroids (asserted in tests/test_retrieval_pq.py)."""
    import numpy as np

    from asset_prices_parquet_saver_spark.sources import manifest

    corpus = _without_tombstones(
        spark, table, manifest.read_versioned(spark, table)
    )
    return _ivf_probe_rerank(
        corpus, queries, np.asarray(centroids, dtype="float64"), k, nprobe,
        id_col, vec_col,
    )


def sign_signatures(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """64-bit sign signature per vector as two 32-bit halves (lo/hi
    BIGINTs) — a PROJECTION of the single full-dimension packing
    kernel (:func:`sign_signature_words`): lo/hi are words 0 and 1.
    One kernel to keep correct; this view exists for the two-machine-
    word Hamming fast path and its oracle cross-check. Truncation to
    the first 64 dims is inherent to a 64-bit signature, not a kernel
    limitation — the words variant signs every dimension. Vectors
    shorter than 33 dims get hi = 0 (no second word). As a narrow map
    over the vector column this also drops the old explode+groupBy
    shuffle: signatures now cost zero exchanges."""
    w = sign_signature_words(emb, id_col, vec_col)
    zero = F.lit(0).cast("long")
    # try_element_at, not element_at: under Spark 4's default ANSI mode
    # element_at THROWS on an out-of-bounds index, so a <=32-dim vector
    # (a one-word signature) would abort the job instead of reaching
    # the coalesce that supplies hi = 0.
    return w.select(
        "id",
        F.coalesce(F.try_element_at("words", F.lit(1)), zero).alias("lo"),
        F.coalesce(F.try_element_at("words", F.lit(2)), zero).alias("hi"),
    )


def ann_hamming_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-signature ANN: exact brute force over 64-bit sign
    signatures — Hamming distance = popcount(xor) on two machine words,
    so the "brute force" scans 8 bytes/vector instead of 256+ and stays
    CPU-trivial (the standard first-stage filter ahead of an exact
    rerank; compose with cosine_topk on the shortlist for the rerank).
    Fully deterministic, so the oracle replays it bit-for-bit —
    unlike the trained quantizers there is nothing to pin.

    Scale shape: signatures broadcast-join against the (tiny) query
    side; per-query top-k via window over k-bounded candidates. At a
    billion vectors the signature table is ~8 GB — still a scan, not
    a shuffle."""
    sigs = sign_signatures(emb, id_col, vec_col)
    q = sign_signatures(queries, id_col, vec_col).select(
        F.col("id").alias("query_id"),
        F.col("lo").alias("q_lo"),
        F.col("hi").alias("q_hi"),
    )
    ham = (
        F.bit_count(F.col("q_lo").bitwiseXOR(F.col("lo")))
        + F.bit_count(F.col("q_hi").bitwiseXOR(F.col("hi")))
    ).cast("long")
    return _hamming_topk(sigs, q, ham, k, id_col)


def _hamming_topk(
    sigs: DataFrame, q: DataFrame, ham, k: int, id_col: str
) -> DataFrame:
    """The Hamming scan shared by both signature widths: the tiny query
    signature set broadcasts against the corpus signatures, ``ham``
    scores each pair, and the top-k ranks ascending (rank as long)."""
    pairs = sigs.join(F.broadcast(q), sigs["id"] != q["query_id"]).select(
        "query_id", F.col("id").alias(id_col), ham.alias("hamming")
    )
    top = _top_k_per_query(pairs, k, "hamming", ascending=True, id_name=id_col)
    return top.withColumn("rank", F.col("rank").cast("long"))


def sign_signature_words(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Full-dimension sign signatures: EVERY dimension contributes a
    bit — word j packs dims [32j, 32j+32) as ``array<long>`` of 32-bit
    words (``ceil(dim/32)`` of them), closing :func:`sign_signatures`'s
    documented first-64-dims-only limitation for real embedding widths
    (768/1024/...). Packing stays in exact-double territory (2^i exact
    for i ≤ 52, and each word sums 32 distinct powers < 2^32), entirely
    JVM-side via nested higher-order functions — no explode, no
    shuffle: the signature is a narrow map over the vector column.

    Scale shape: 768 dims → 24 words = 96 bytes/vector, a ~32×
    compression of float32[768]; the signature table is the only thing
    the first-pass Hamming scan reads."""
    v = to_double_array(vec_col)
    n_words = F.ceil(F.size(v) / F.lit(32)).cast("int")
    word_of = lambda j: F.aggregate(  # noqa: E731
        F.sequence(F.lit(0), F.lit(31)),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + F.when(
            (j * 32 + i + 1 <= F.size(v))
            & (F.element_at(v, (j * 32 + i + 1).cast("int")) > 0),
            F.pow(F.lit(2.0), i.cast("double")).cast("long"),
        ).otherwise(F.lit(0)),
    )
    return emb.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.sequence(F.lit(0), n_words - 1), word_of
        ).alias("words"),
    )


def ann_hamming_topk_words(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-signature ANN over FULL-dimension multi-word signatures:
    Hamming distance = Σ_j popcount(xor(word_j, q_word_j)) via
    ``zip_with`` + ``aggregate`` — still pure machine-word arithmetic
    per pair (d/32 xor+popcounts), still 8·ceil(d/64) bytes scanned per
    corpus vector. Same plan shape as :func:`ann_hamming_topk`: the
    tiny query side broadcasts, per-query top-k over a k-bounded
    window; deterministic, so the oracle replays it bit-for-bit."""
    sigs = sign_signature_words(emb, id_col, vec_col)
    q = sign_signature_words(queries, id_col, vec_col).select(
        F.col("id").alias("query_id"), F.col("words").alias("q_words")
    )
    ham = F.aggregate(
        F.zip_with(
            F.col("words"),
            F.col("q_words"),
            lambda a, b: F.bit_count(a.bitwiseXOR(b)),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )
    return _hamming_topk(sigs, q, ham, k, id_col)


def pca_project(
    e: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    components=None,
    mean=None,
) -> DataFrame:
    """Project embeddings onto a pinned PCA basis (the FAISS
    PCAMatrix / OPQ pre-transform workflow: train the basis ONCE
    offline, ship it as an artifact, project everywhere as a pure
    matmul against constants — scripts/gen_pca_components.py is the
    trainer, operators/pca_components.py the artifact).

    Scale shape: embarrassingly parallel — one Arrow-batched numpy
    matmul per batch ((V − μ)·Cᵀ), no shuffle, no state; the basis
    rides the task closure like a literal. Scores round to 6 decimals
    JVM-side; summation-order noise vs a sequential SQL fold lives at
    1e-15, three orders below the rounding grain (the cosine-kernel
    precedent at the top of this module).

    Returns (id, pc1..pck); ``components``/``mean`` default to the
    pinned artifact so Spark kernels and SQL oracles share constants.
    """
    import numpy as np

    from asset_prices_parquet_saver_spark.operators.pca_components import (
        PINNED_PCA_COMPONENTS,
        PINNED_PCA_MEAN,
    )

    C = np.array(
        PINNED_PCA_COMPONENTS if components is None else components,
        dtype=np.float64,
    )
    mu = np.array(PINNED_PCA_MEAN if mean is None else mean, dtype=np.float64)
    k = C.shape[0]
    src = e.select(F.col(id_col), to_double_array(F.col(vec_col)).alias("_v"))
    id_type = src.schema[id_col].dataType.simpleString()
    pc_cols = [f"pc{j + 1}" for j in range(k)]

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf["_v"]), dtype=np.float64)
            S = (V - mu) @ C.T
            out = pdf[[id_col]].copy()
            for j, name in enumerate(pc_cols):
                out[name] = S[:, j]
            yield out

    schema = f"{id_col} {id_type}, " + ", ".join(f"{c} double" for c in pc_cols)
    proj = src.mapInPandas(gen, schema)
    return proj.select(
        F.col(id_col), *[F.round(F.col(c), 6).alias(c) for c in pc_cols]
    )


def ann_recall(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """ANN quality evaluation: recall@k of an approximate top-k result
    against the exact top-k ground truth — the metric every ANN index
    (IVF / PQ / LSH) is tuned by. Both inputs are (query_id, vec_id,
    ...) top-k relations; returns (query_id, n_hits, recall) with
    recall = |approx ∩ exact| / k rounded to 6 decimals, one row per
    ground-truth query INCLUDING zero-hit queries (a silent inner join
    would hide total misses — the failure mode this eval exists to
    catch).

    Scale shape: both sides are already k-bounded per query, so the
    intersection is an equi-join over O(queries · k) rows and the fold
    is one combinable agg — free next to the searches themselves."""
    hits = (
        exact.select("query_id", "vec_id")
        .join(approx.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    qs = exact.select("query_id").distinct()
    return qs.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / float(k), 6).alias("recall"),
    )


# ---------------------------------------------------------------- deletes

def delete_from_index(
    spark,
    ids: DataFrame,
    table: str,
    epoch: int | None = None,
    id_col: str = "vec_id",
) -> int:
    """Right-to-be-forgotten deletes for the persisted vector indexes
    (PQ / IVF): append the ids as a TOMBSTONE segment to a sibling
    manifest table — O(delete batch) however large the index, the
    same append-log + epoch-idempotence protocol as the ingestion
    side. Readers anti-join the tombstone set (skipped entirely while
    no tombstone exists); :func:`purge_tombstones` physically removes
    the rows at compaction time. Returns the tombstone-table version."""
    from asset_prices_parquet_saver_spark.sources import manifest

    rows = ids.select(
        F.col(id_col).cast("long").alias("vec_id")
    ).distinct()
    txn = ("index-tombstones", epoch) if epoch is not None else None
    return manifest.commit_append(rows, _tombstone_table(table), txn=txn)


def _tombstone_table(table: str) -> str:
    return f"{table}__tombstones"


def _without_tombstones(spark, table: str, rows: DataFrame) -> DataFrame:
    """Filter an index scan through the live tombstone set — a no-op
    (no join in the plan at all) while nothing has been deleted."""
    from asset_prices_parquet_saver_spark.sources import manifest

    tomb = _tombstone_table(table)
    if manifest.current_version(tomb) is None:
        return rows
    t = manifest.read_versioned(spark, tomb, schema="vec_id long")
    # no forced broadcast: AQE promotes the anti-join to broadcast
    # while the tombstone set is small, and an unboundedly-deleted
    # index must not OOM the driver
    return rows.join(t, "vec_id", "left_anti")


def purge_tombstones(
    spark, table: str, stats_cols: list[str] | None = None
) -> int:
    """Compaction for deletes: rewrite the index minus the tombstoned
    rows as ONE new atomic snapshot (commit_versioned with
    ``expect_version`` — a concurrent append raises instead of being
    silently folded away) and reset the tombstone table. Returns the
    number of physically removed rows. ``stats_cols`` re-records the
    zone map (pass ``["cell"]`` for IVF layouts)."""
    from asset_prices_parquet_saver_spark.sources import manifest

    ver = manifest.current_version(table)
    rows = manifest.read_versioned(spark, table).localCheckpoint()
    live = _without_tombstones(spark, table, rows).localCheckpoint()
    removed = rows.count() - live.count()
    manifest.commit_versioned(
        live, table, stats_cols=stats_cols, expect_version=ver
    )
    manifest.commit_versioned(
        spark.createDataFrame([], "vec_id long"), _tombstone_table(table)
    )
    return removed
