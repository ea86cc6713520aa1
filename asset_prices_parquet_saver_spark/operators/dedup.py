"""Deduplication operators (X1/X2; SURVEY §2.11) — exact, n-gram
Jaccard, MinHash+LSH, SimHash.

Scale posture (100 TB): every step is a relational program —
tokenize/shingle with higher-order functions (JVM-side), candidate
generation via band-bucket equi-joins (shuffle keyed on band hash, AQE
skew-join handles hot buckets), verification only on candidate pairs.
The O(n²) paths (full pairwise Jaccard) exist as correctness baselines
for small data; MinHash-LSH is the scale path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from asset_prices_parquet_saver_spark.functions.pins import pin as _pin
from asset_prices_parquet_saver_spark.functions.pandas_ops import spread
from asset_prices_parquet_saver_spark.operators.similarity import auto_num_blocks

# ---------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, cols: list[str], tie_break: str) -> DataFrame:
    """X1: keep exactly one row per duplicate group, deterministically
    (the row with the smallest ``tie_break``) — unlike ``dropDuplicates``
    whose survivor is partition-order-dependent.

    When ``tie_break`` itself TIES within a group, a content hash over
    the full row breaks it, so the survivor is still a pure function of
    the data (two rows identical in every column are interchangeable,
    and then the hash tie is harmless by definition)."""
    w = Window.partitionBy(*cols).orderBy(
        F.col(tie_break).asc(),
        F.xxhash64(F.struct(*[F.col(c) for c in df.columns])).asc(),
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ------------------------------------------------------------- shingles

def words(text: Column) -> Column:
    """Whitespace tokens, with empty strings removed (deterministic for
    empty/trailing-space inputs)."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda w: w != "")


def word_shingles(text: Column, n: int) -> Column:
    """n-word shingles as space-joined strings; [] when fewer than n
    words. n=1 → the token list itself."""
    w = words(text)
    if n == 1:
        return w
    count = F.size(w) - (n - 1)
    # sequence(1, 0) would yield a DESCENDING [1, 0], not [] — guard short docs.
    return F.when(
        count > 0,
        F.transform(
            F.sequence(F.lit(1), count), lambda i: F.concat_ws(" ", F.slice(w, i, n))
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingle_table(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Distinct (id, shingle) pairs — the set representation the
    contamination screen consumes. Arrow-batched kernel: tokenize,
    n-gram, and PER-DOCUMENT dedup happen in one Python pass
    (:func:`_shingle_set`, the shared tokenizer of both hash families;
    the interpreted ``word_shingles`` HOF ran one closure call per
    gram) — and because each document is ONE input row, per-document
    dedup IS the global distinct for one-row-per-id frames (the
    documents-table contract every caller satisfies), so the distinct
    SHUFFLE disappears entirely. Spread to full parallelism first:
    a small parquet scan arrives in 1-3 partitions, which would
    serialize the kernel on as many cores."""
    import re as _re

    import pandas as pd

    from asset_prices_parquet_saver_spark.functions.pandas_ops import chunked

    def kernel(batches):
        ws = _re.compile(r"\s+", _re.ASCII)
        for pdf in batches:
            ids: list = []
            shingles: list = []
            for doc_id, txt in zip(pdf["id"], pdf["text"]):
                sh = _shingle_set(txt, n, ws)
                ids.extend([doc_id] * len(sh))
                shingles.extend(sh)
            yield from chunked(pd.DataFrame({"id": ids, "shingle": shingles}))

    return spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    ).mapInPandas(kernel, "id long, shingle string")


# ----------------------------------------------------- exact n-gram Jaccard

def shingle_arrays(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Per-document hashed shingle set: (id, arr, n_sh) where ``arr`` is
    the distinct blake2b-8-hashed shingles sorted rarest-first (global
    (frequency, hash) order) and ``n_sh = size(arr)``.

    Hashing shingles to int64 before any join/shuffle cuts shuffle bytes
    ~10× vs raw strings; a collision would need ~2^32 distinct shingles
    (birthday bound), far beyond any per-corpus shingle vocabulary.
    The rarest-first order is what prefix filtering (Bayardo et al.,
    "Scaling Up All Pairs Similarity Search"; PPJoin) requires: a fixed
    global order shared by every document.
    """
    # Shingle building + hashing is the CPU hog of the whole pipeline,
    # and the higher-order-function form runs interpreted (no codegen,
    # one closure call per lambda application) — so it runs as an
    # Arrow-batched Python kernel instead: tokenize, shingle, and hash
    # each distinct shingle with blake2b-8. Only hash CONSISTENCY
    # matters (the oracle computes Jaccard over string shingles; any
    # collision-free 64-bit hash preserves the values), tokenization
    # must match the oracle's regex exactly: RE2/Java '\s' is
    # ASCII-only, hence re.ASCII. Two notes: (1) a small parquet scan
    # arrives in 1-3 partitions, which would serialize the kernel on as
    # many cores — spread to full parallelism first (rows are tiny);
    # (2) materialize the hashed arrays once (localCheckpoint) so the
    # freq-join's two branches and every downstream consumer don't
    # re-run the kernel.
    sh, _docs = _hashed_shingle_rows(df, id_col, text_col, n)
    freq = sh.groupBy("h").agg(F.count("*").alias("f"))
    return (
        sh.join(freq, "h")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("f", "h"))).alias("fh"))
        .select(
            "id",
            F.transform("fh", lambda x: x["h"]).alias("arr"),
            F.size("fh").alias("n_sh"),
        )
    )


def shingle_arrays_unordered(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, arr, n_sh) with the blake2b-8-hashed DISTINCT shingle set
    in ARBITRARY order — for consumers that never prefix-filter:
    MinHash signature building (a min over the set) and
    ``array_intersect`` verification are order-insensitive, so
    :func:`shingle_arrays`' global rarest-first ordering — a
    corpus-wide frequency shuffle plus a join that exist solely for
    the PPJoin-style prefix filters — is pure overhead there. This
    form is ZERO-shuffle: one narrow kernel pass per partition."""
    _sh, docs = _hashed_shingle_rows(df, id_col, text_col, n)
    return docs.select(
        "id", F.col("hs").alias("arr"), F.size("hs").alias("n_sh")
    )


def _shingle_set(txt, n: int, ws) -> set:
    """Shared tokenize→shingle-set step of BOTH Python shingle kernels
    (the blake2b fast path and the md5-60 portable path) — one place so
    the two hash families can never silently diverge in tokenization.
    NULL text yields the empty set, matching the JVM ``words()`` path
    (a bare ``txt.strip()`` crashed the task — and wedged streaming
    dedup on every replay of a poisoned batch — on one NULL row)."""
    if txt is None:
        return set()
    # no .strip(): Python str.strip removes ALL Unicode whitespace while
    # the JVM words()/DuckDB trim+\s path is ASCII-only — NBSP-bounded
    # text must tokenize identically in all three engines; the
    # empty-token filter handles ASCII boundary whitespace.
    w = [t for t in ws.split(txt) if t]
    if len(w) < n:
        return set()
    return set(w) if n == 1 else {" ".join(w[j : j + n]) for j in range(len(w) - n + 1)}


def _hashed_shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int):
    """Shared first stage of the shingle pipelines: ``(sh, docs)`` where
    ``docs`` is (id, hs: array<long>) — one hashed-shingle-set row per
    document (Arrow-batched kernel; see :func:`shingle_arrays` for why
    this is Python-side) — and ``sh`` its exploded (id, h) form."""
    import hashlib
    import re as _re

    import numpy as np
    import pandas as pd

    from asset_prices_parquet_saver_spark.functions.pandas_ops import chunked

    def hash_shingles(batches):
        ws = _re.compile(r"\s+", _re.ASCII)
        # per-task shingle→hash memo (guide §4.5 heavyweight-init
        # shape): duplicated corpora re-present the same shingles
        # constantly (measured 99.6% repeat rate on the test fixtures;
        # web corpora sit at 50-90%), so hash each distinct shingle
        # once per task instead of once per occurrence. Bounded: a
        # runaway vocabulary clears the memo rather than growing it.
        memo: dict[str, int] = {}

        def h(s: str) -> int:
            v = memo.get(s)
            if v is None:
                v = int.from_bytes(
                    hashlib.blake2b(s.encode(), digest_size=8).digest(),
                    "big",
                    signed=True,
                )
                if len(memo) >= 1_000_000:
                    memo.clear()
                memo[s] = v
            return v

        for pdf in batches:
            ids, arrs = [], []
            for doc_id, txt in zip(pdf[id_col], pdf[text_col]):
                sh = _shingle_set(txt, n, ws)
                hs = np.fromiter(
                    (h(s) for s in sh), dtype="int64", count=len(sh)
                )
                ids.append(doc_id)
                arrs.append(hs)
            yield from chunked(pd.DataFrame({"id": ids, "hs": arrs}), 8192)

    docs = (
        spread(df.select(F.col(id_col), F.col(text_col)))
        .mapInPandas(hash_shingles, "id long, hs array<long>")
        .localCheckpoint()
    )
    return docs.select("id", F.explode("hs").alias("h")), docs




def _verified_jaccard(cand: DataFrame, arrs: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard for candidate (id_a, id_b) pairs via array
    intersection — per-pair O(|a|+|b|), no row explosion."""
    sets_a = arrs.select(
        F.col("id").alias("id_a"), F.col("arr").alias("arr_a"), F.col("n_sh").alias("na")
    )
    sets_b = arrs.select(
        F.col("id").alias("id_b"), F.col("arr").alias("arr_b"), F.col("n_sh").alias("nb")
    )
    inter = F.size(F.array_intersect("arr_a", "arr_b"))
    # SMJ deliberately: both candidate-equi-join and verification-join
    # ShuffledHashJoin hints were MEASURED at sf1 (r8) — the index-side
    # SHJ was net slower (42.7/45.9 s vs 42.3/36.3 s baseline), and the
    # verification-side SHJ failed outright ("Can't acquire … bytes
    # memory to build hash relation"): SHJ's build side cannot spill,
    # which is exactly the failure mode a 1000-executor run cannot risk.
    # The SMJ sort term is the memory-safe price; the residual sf1
    # exponent (~1.13 warm) is that sort at fixed cores.
    return (
        cand.join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .select(
            "id_a",
            "id_b",
            (inter / (F.col("na") + F.col("nb") - inter)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _dense_jaccard(
    arrs: DataFrame,
    threshold: float,
    num_blocks: int | None = None,
    rows_per_block: int = 4096,
    vocab_limit: int = 4096,
) -> DataFrame:
    """Exact all-pairs Jaccard for SMALL shingle vocabularies: densify
    each document's shingle set into a |vocab|-wide 0/1 vector and get
    every pairwise intersection from one float32 matmul per block pair
    (the :func:`cosine_pairs` block plan, integer-exact here because
    0/1 dot products are integers < 2^24 — float32 accumulates them
    exactly in any order).

    Why it exists: prefix filtering thrives on rare shingles. A
    template-generated corpus can have a tiny vocabulary (sf0.1
    documents: 931 distinct shingles across 5 000 docs, 275× reuse) —
    then NO shingle is rare, the prefix join degenerates toward the
    all-pairs explosion it was built to avoid (9.1M candidate rows),
    and a dense linear-algebra sweep is the right physical plan. The
    strategy switch is stats-driven (see :func:`jaccard_pairs`), the
    logical result identical.

    The vocabulary is collected to the driver and shipped in the task
    closure. ``vocab_limit`` is enforced HERE (not only by the caller's
    strategy pick): the collect is capped at vocab_limit + 1 rows, and
    a larger vocabulary raises instead of building (rows × vocab)
    matrices that would OOM — so an explicit ``strategy="dense"`` call
    on a big-vocab corpus fails fast (and guards the auto path if the
    HLL estimate under-counted)."""
    import numpy as np
    import pandas as pd

    vocab = [
        r["h"]
        for r in arrs.select(F.explode("arr").alias("h"))
        .distinct()
        .limit(vocab_limit + 1)
        .collect()
    ]
    if len(vocab) > vocab_limit:
        raise ValueError(
            f"dense Jaccard needs a small shingle vocabulary "
            f"(> {vocab_limit} distinct shingles found); use "
            f'strategy="prefix" for this corpus'
        )
    vmap = {h: i for i, h in enumerate(vocab)}
    v = max(len(vocab), 1)

    if num_blocks is None:
        num_blocks = auto_num_blocks(arrs.count(), rows_per_block)
    e = arrs.select(
        F.pmod(F.xxhash64(F.col("id")), F.lit(num_blocks)).alias("block"),
        "id",
        "arr",
    )
    blocks = e.groupBy("block").agg(F.collect_list(F.struct("id", "arr")).alias("items"))
    cross = (
        blocks.alias("a")
        .join(blocks.alias("b"), F.col("a.block") <= F.col("b.block"))
        .select(
            F.col("a.block").alias("block_a"),
            F.col("b.block").alias("block_b"),
            F.col("a.items").alias("items_a"),
            F.col("b.items").alias("items_b"),
        )
        .repartition(num_blocks * (num_blocks + 1) // 2)
    )

    def densify(items):
        ids = np.array([it["id"] for it in items])
        M = np.zeros((len(items), v), dtype="float32")
        for r, it in enumerate(items):
            if len(it["arr"]):
                M[r, [vmap[h] for h in it["arr"]]] = 1.0
        return ids, M

    def score(batches):
        for pdf in batches:
            out_a, out_b, out_j = [], [], []
            for items_a, items_b, same in zip(
                pdf["items_a"], pdf["items_b"], pdf["block_a"] == pdf["block_b"]
            ):
                ids_a, A = densify(items_a)
                ids_b, B = (ids_a, A) if bool(same) else densify(items_b)
                inter = A @ B.T
                na, nb = A.sum(axis=1), B.sum(axis=1)
                union = na[:, None] + nb[None, :] - inter
                # integral float32 → float64 division == BIGINT/BIGINT
                # double division on the SQL side, bit for bit
                with np.errstate(divide="ignore", invalid="ignore"):
                    jac = inter.astype("float64") / union.astype("float64")
                hit = (union > 0) & (jac >= threshold)
                ia, ib = np.nonzero(hit)
                keep = ids_a[ia] < ids_b[ib] if len(ia) else np.array([], bool)
                swap = ids_a[ia] > ids_b[ib] if len(ia) else np.array([], bool)
                out_a.append(ids_a[ia[keep]])
                out_b.append(ids_b[ib[keep]])
                out_j.append(jac[ia[keep], ib[keep]])
                if not bool(same):
                    out_a.append(ids_b[ib[swap]])
                    out_b.append(ids_a[ia[swap]])
                    out_j.append(jac[ia[swap], ib[swap]])
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a) if out_a else np.array([], "int64"),
                    "id_b": np.concatenate(out_b) if out_b else np.array([], "int64"),
                    "jaccard": np.concatenate(out_j) if out_j else np.array([], "float64"),
                }
            )

    return cross.mapInPandas(score, "id_a long, id_b long, jaccard double")


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
    strategy: str = "auto",
    dense_vocab_limit: int = 4096,
    _pre: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """X2 baseline: ALL pairs with shingle-set Jaccard ≥ threshold —
    exact, via prefix filtering instead of a full shingle self-join.

    A naive self-equi-join on shingle explodes quadratically on frequent
    shingles ("of the" in f docs → f² join rows). Prefix filtering
    (AllPairs/PPJoin) is exact: with documents' shingle sets sorted in a
    global rarest-first order, any pair with Jaccard ≥ t shares at least
    one shingle within each side's first |s| - ⌈t·|s|⌉ + 1 shingles. So
    the candidate join touches only those rare prefixes (tiny fan-out),
    plus a size filter (t·|a| ≤ |b| ≤ |a|/t); candidates are then
    verified exactly with array_intersect. Same output as the naive
    plan, orders of magnitude fewer intermediate rows — and the shuffle
    is keyed on *rare* shingles, so no skew hazard at scale.

    ``strategy``: ``"prefix"`` (the above), ``"dense"`` (small-vocab
    linear-algebra sweep, :func:`_dense_jaccard`), or ``"auto"`` —
    one approx_count_distinct pass over the shingle hashes (map-side
    HLL partials, scale-safe) picks dense only when the vocabulary
    fits ``dense_vocab_limit``; prefix filtering assumes rare shingles
    exist, which a tiny vocabulary structurally rules out.

    The prefix path layers the PPJoin filter stack (see
    :func:`_prefix_candidates`): asymmetric prefixes, length-bucketed
    join keys, a row-level positional pre-filter inside the join, and
    the group-stage positional + k-prefix-count filters. It has no
    PPJoin+ suffix filter: verifying the surviving candidates costs
    less than the two per-candidate sketch joins the suffix bound
    needs (2.6 s vs 3.0 s at sf0.1, 29 s vs 40+ s at sf1, identical
    output).
    """
    from asset_prices_parquet_saver_spark.operators.globalorder import (
        with_global_row_number,
    )

    # _pre: a composing caller (near_dup_report) hands in the
    # (sh, docs) pair of ONE _hashed_shingle_rows call so the Arrow
    # kernel + its checkpoint run once, not once per consumer
    sh, docs = _pre if _pre is not None else _hashed_shingle_rows(
        df, id_col, text_col, n
    )
    if strategy == "auto":
        est = sh.agg(F.approx_count_distinct("h", 0.02).alias("c")).collect()[0]["c"]
        strategy = "dense" if est <= dense_vocab_limit * 0.9 else "prefix"
    if strategy == "dense":
        # the rank-encoding pass below exists only for the PPJoin+
        # prefix filters — the dense sweep is encoding-agnostic
        # (Jaccard is set-cardinality arithmetic), so it reads the raw
        # per-doc hash arrays directly and skips two shuffles + a
        # distributed row_number over the vocabulary.
        arrs = docs.select(
            "id", F.col("hs").alias("arr"), F.size("hs").alias("n_sh")
        )
        return _dense_jaccard(arrs, threshold, vocab_limit=dense_vocab_limit)
    # Rank-encode the shingle space: each distinct shingle hash maps to
    # its ORDINAL in the global rarest-first (frequency, hash) order —
    # a bijection, so Jaccard values are identical to the raw-hash
    # encoding, but arrays become ascending int64 sequences whose
    # element comparisons respect the global order directly (what the
    # prefix slices need). Ranks come from the distributed
    # range-partitioned row_number — no single-partition window over
    # the vocabulary. Materialize once (localCheckpoint, not cache():
    # the in-memory columnar cache pays a heavy batch-conversion cost
    # for nested array columns): the downstream plan references the
    # arrays from four branches (two candidate-join sides, two
    # verification sides).
    freq = sh.groupBy("h").agg(F.count("*").alias("f"))
    ranks = with_global_row_number(
        freq, [F.col("f").asc(), F.col("h").asc()], rn_col="r"
    )
    arrs = (
        sh.join(ranks.select("h", "r"), "h")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list("r")).alias("arr"))
        .select("id", "arr", F.size("arr").alias("n_sh"))
        .localCheckpoint()
    )
    cand = _prefix_candidates(arrs, threshold).localCheckpoint()
    # Candidates materialize before verification composes: measured
    # separately the stages sum to ~1/3 of what the single fused plan
    # costs (the optimizer fuses the candidate join+agg with the
    # verification joins into one over-wide stage); the barrier also
    # gives the verification join exact input stats.
    return _verified_jaccard(cand, arrs, threshold)


def _prefix_candidates(arrs: DataFrame, threshold: float) -> DataFrame:
    """Candidate (id_a, id_b) pairs for the prefix-filtered Jaccard
    join. ``arrs`` must be rank-encoded (ascending int64 arrays in the
    global frequency order — see :func:`jaccard_pairs`). Every filter
    is SOUND: no qualifying pair is ever dropped (randomized
    brute-force equality in tests/test_jaccard_exactness.py)."""
    # round before ceil: fp noise in t·n must not overtighten the
    # prefix (→ missed pairs) or the k bound
    tceil = lambda c: F.ceil(F.round(F.lit(threshold) * c, 9))  # noqa: E731
    # PPJoin's asymmetric prefixes (Xiao et al., "Efficient Similarity
    # Joins for Near Duplicate Detection"): order documents by
    # (n_sh, id); a pair is detected as (s = earlier/smaller, l =
    # later/larger).  l contributes its PROBING prefix of length
    # nl - ⌈t·nl⌉ + 1; s contributes its INDEXING prefix of length
    # ns - ⌈2t/(1+t)·ns⌉ + 1 — shorter, because any qualifying partner
    # of s is at least as large, forcing overlap ≥ ⌈2t/(1+t)·ns⌉.  The
    # globally-first shared shingle e of a qualifying pair sits at
    # position ≤ n - o in each array (all o shared elements follow it
    # in the shared sort order), so e lands inside BOTH prefixes and
    # the equi-join on h finds the pair.  vs symmetric AllPairs
    # prefixes this cuts the index side — and the join's row count —
    # by ~1/3 at t=0.5 with zero recall loss.
    t2 = 2.0 * threshold / (1.0 + threshold)
    probe_len = (F.col("n_sh") - tceil(F.col("n_sh")) + 1).cast("int")
    index_len = (
        F.col("n_sh") - F.ceil(F.round(F.lit(t2) * F.col("n_sh"), 9)) + 1
    ).cast("int")
    # Length-bucketed join key: a qualifying partner s of l satisfies
    # t·nl ≤ ns ≤ nl, so b(s) = ⌊log2 ns⌋ lies in [⌊log2⌈t·nl⌉⌋,
    # ⌊log2 nl⌋]. The probe side emits one row per bucket in that range
    # (≤2 for t ≥ 0.5), the index side its own bucket — size-
    # incompatible pairs never get GENERATED by the join (~35% of the
    # raw fan-out on this corpus), instead of being filtered after.
    b0 = F.floor(F.log2("n_sh"))
    b_low = F.floor(
        F.log2(F.greatest(F.ceil(F.round(F.lit(threshold) * F.col("n_sh"), 9)), F.lit(1)))
    )
    probe = arrs.select(
        "id",
        "n_sh",
        F.posexplode(F.slice("arr", F.lit(1), probe_len)).alias("pos", "h"),
    ).withColumn("bucket", F.explode(F.sequence(b_low, b0)))
    index = arrs.select(
        "id",
        "n_sh",
        b0.alias("bucket"),
        F.posexplode(F.slice("arr", F.lit(1), index_len)).alias("pos", "h"),
    )
    # Positional filter (PPJoin Lemma 2): for a qualifying pair the
    # min observed positions are those of the globally-first shared
    # shingle e (arrays share one sort order), and every other match
    # lies after e in both arrays: |s∩l| ≤ 1 + min(ns-1-pos_s(e),
    # nl-1-pos_l(e)).  Jaccard ≥ t ⇔ |s∩l| ≥ α = ⌈t/(1+t)·(ns+nl)⌉.
    alpha = F.ceil(
        F.round(F.lit(threshold / (1.0 + threshold)) * (F.col("ns") + F.col("nl")), 9)
    )
    inter_ub = F.lit(1) + F.least(
        F.col("ns") - 1 - F.col("min_ps"), F.col("nl") - 1 - F.col("min_pl")
    )
    # k-prefix count filter: the j-th smallest shared shingle of a
    # qualifying pair sits at position ≤ n - o + j - 1, hence inside
    # s's indexing prefix for j ≤ α - ⌈2t/(1+t)·ns⌉ + 1 and inside l's
    # probing prefix for j ≤ α - ⌈t·nl⌉ + 1 — so a qualifying pair
    # shares at least k_min prefix-visible shingles; false candidates
    # sharing fewer are dropped before the expensive verification.
    k_min = (
        alpha
        + 1
        - F.greatest(
            F.ceil(F.round(F.lit(t2) * F.col("ns"), 9)), tceil(F.col("nl"))
        )
    )
    # Row-level positional pre-filter, applied DURING the join: the
    # j-th smallest shared shingle of a qualifying pair has positional
    # bound ≥ α - j + 1, and the k-prefix argument caps the j of
    # countable rows at k_min, so every row a qualifying pair needs for
    # the pm ≥ k_min count satisfies bound ≥ α - k_min + 1. Filtering
    # at that threshold drops junk rows before the groupBy shuffle
    # without ever starving a qualifying pair's count (the plain-α
    # version WOULD: it can drop a qualifying pair's j ≥ 2 rows).
    # k_min clamps to ≥ 1: when the k-prefix bound is vacuous (≤ 0) the
    # only row every pair must keep is e's, whose bound is ≥ α.
    alpha_r = F.ceil(
        F.round(
            F.lit(threshold / (1.0 + threshold))
            * (F.col("s.n_sh") + F.col("l.n_sh")),
            9,
        )
    )
    kmin_r = F.greatest(
        alpha_r
        + 1
        - F.greatest(
            F.ceil(F.round(F.lit(t2) * F.col("s.n_sh"), 9)),
            F.ceil(F.round(F.lit(threshold) * F.col("l.n_sh"), 9)),
        ),
        F.lit(1),
    )
    row_bound = F.lit(1) + F.least(
        F.col("s.n_sh") - 1 - F.col("s.pos"), F.col("l.n_sh") - 1 - F.col("l.pos")
    )
    grouped = (
        probe.alias("l")
        .join(index.alias("s"), ["h", "bucket"])
        .filter(
            (
                (F.col("s.n_sh") < F.col("l.n_sh"))
                | ((F.col("s.n_sh") == F.col("l.n_sh")) & (F.col("s.id") < F.col("l.id")))
            )
            & (F.col("l.n_sh") * F.lit(threshold) <= F.col("s.n_sh"))
            & (row_bound >= alpha_r - kmin_r + 1)
        )
        .groupBy(F.col("s.id").alias("id_s"), F.col("l.id").alias("id_l"))
        .agg(
            F.count("*").alias("pm"),
            F.min(F.col("s.pos")).alias("min_ps"),
            F.min(F.col("l.pos")).alias("min_pl"),
            F.first(F.col("s.n_sh")).alias("ns"),
            F.first(F.col("l.n_sh")).alias("nl"),
        )
        # the array-free filters run FIRST, on the narrow grouped rows
        .filter((inter_ub >= alpha) & (F.col("pm") >= k_min))
    )
    return grouped.select(
        F.least("id_s", "id_l").alias("id_a"),
        F.greatest("id_s", "id_l").alias("id_b"),
    )


# --------------------------------------------------- containment join

def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.7,
) -> DataFrame:
    """X2 asymmetric near-SUPERSET detection: all ordered pairs
    (id_a, id_b) with shingle-set containment |A∩B| / |A| ≥ threshold —
    the relation behind contamination checks ("is this training doc
    mostly contained in a benchmark doc?") and quote/boilerplate
    detection, where Jaccard misses pairs whose sizes differ wildly
    (a 10-shingle snippet inside a 1000-shingle page has Jaccard
    ≈ 0.01 but containment 1.0).

    Exact, via the asymmetric prefix filter: with A's shingles in the
    global rarest-first order (:func:`shingle_arrays`), containment
    ≥ t ⇒ at most |A| − ⌈t·|A|⌉ of A's shingles are missing from B, so
    by pigeonhole at least one of A's first |A| − ⌈t·|A|⌉ + 1 rarest
    shingles appears in B. Only those prefix rows probe the full
    postings relation (the B side carries every shingle — containment
    has no symmetric prefix), plus the size filter |B| ≥ ⌈t·|A|⌉;
    survivors are verified exactly with ``array_intersect``.

    Scale shape: probe fan-out is keyed on A's RAREST shingles, so the
    per-key posting lists the join touches are the corpus's shortest;
    the only wide relation is (id, h, n_sh) — three narrow columns.
    Same round-before-ceil discipline as :func:`_prefix_candidates`
    (fp noise in t·n must never overtighten a sound bound)."""
    arrs = shingle_arrays(df, id_col, text_col, n).localCheckpoint()
    tceil = F.ceil(F.round(F.lit(threshold) * F.col("n_sh"), 9))
    prefix_len = (F.col("n_sh") - tceil + 1).cast("int")
    probe = arrs.select(
        F.col("id").alias("id_a"),
        F.col("n_sh").alias("na"),
        F.explode(F.slice("arr", F.lit(1), prefix_len)).alias("h"),
    )
    postings = arrs.select(
        F.col("id").alias("id_b"),
        F.col("n_sh").alias("nb"),
        F.explode("arr").alias("h"),
    )
    # Measured non-lever (r8, same-session A/B at sf0.1): the PPJoin
    # positional bound on the postings side (pos_B(e) <= nb −
    # ceil(t·na), sound by the shared global order) cut the
    # pre-distinct relation only 9.38M → 8.41M rows and ran slightly
    # SLOWER than this simpler form (posexplode + the extra column cost
    # more than the 10% row cut saved) — A's prefix shingles are
    # globally rare, so they sit near the front of B's rarest-first
    # array anyway and the bound rarely fires. Candidate volume here is
    # inherent to exact asymmetric containment on a common-shingle
    # corpus; the sub-linear decade exponent (0.85 at sf0.1→sf1) is the
    # scale evidence. A true scale path for containment SEARCH (one
    # probe set vs a corpus) is LSH Ensemble (Zhu et al., VLDB 2016) —
    # out of scope for the exact baseline.
    o_min = F.ceil(F.round(F.lit(threshold) * F.col("na"), 9))
    cand = (
        probe.join(postings, "h")
        .filter((F.col("id_a") != F.col("id_b")) & (F.col("nb") >= o_min))
        .select("id_a", "id_b")
        .distinct()
    )
    sets_a = arrs.select(
        F.col("id").alias("id_a"), F.col("arr").alias("arr_a"),
        F.col("n_sh").alias("na"),
    )
    sets_b = arrs.select(
        F.col("id").alias("id_b"), F.col("arr").alias("arr_b"),
    )
    inter = F.size(F.array_intersect("arr_a", "arr_b"))
    return (
        cand.join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter / F.col("na"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


# ------------------------------------- LSH Ensemble containment search

def ensemble_band_config(
    threshold: float,
    q_min: int = 8,
    num_hashes: int = 32,
    max_stratum: int = 20,
) -> list:
    """Per-stratum (stratum, rows_per_band, bands) table for
    :func:`lsh_ensemble_containment` (Zhu, Nargesian, Pu & Miller,
    "LSH Ensemble: Internet-Scale Domain Search", VLDB 2016): corpus
    sets are partitioned into geometric set-size strata [2^p, 2^(p+1));
    within stratum p (upper size bound u = 2^(p+1) − 1) a containment
    threshold t against a probe of ≥ ``q_min`` shingles transforms to
    the worst-case Jaccard J_p = t·q / (q + u − t·q) at q = q_min
    (J is monotone increasing in q, so the smallest admissible probe
    is the worst case), and the banding is the LARGEST rows-per-band r
    (all ``num_hashes`` used, b = num_hashes // r) whose S-curve
    threshold (1/b)^(1/r) stays at or below J_p. Big-set strata get
    aggressive r=1 banding — true containment hides at tiny Jaccard
    there — while small-set strata keep cheap strict banding.
    Deterministic pure arithmetic: the SQL oracle replays the
    identical table from the same inlined constants."""
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if q_min < 1:
        raise ValueError(f"q_min must be >= 1, got {q_min}")
    divisors = [r for r in range(num_hashes, 0, -1) if num_hashes % r == 0]
    cfg = []
    for p in range(max_stratum + 1):
        u = 2 ** (p + 1) - 1
        j = min(1.0, threshold * q_min / (q_min + u - threshold * q_min))
        r = next(
            (
                d
                for d in divisors
                if (1.0 / (num_hashes // d)) ** (1.0 / d) <= j
            ),
            1,  # no divisor reaches J_p -> max-recall fallback
        )
        cfg.append((p, r, num_hashes // r))
    return cfg


def lsh_ensemble_containment(
    corpus: DataFrame,
    probes: DataFrame | Column,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.7,
    num_hashes: int = 32,
    q_min: int = 8,
    max_stratum: int = 20,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Containment SEARCH at bounded cost — the 100 TB
    contamination-check shape (one benchmark/probe set vs a huge
    corpus) that exact :func:`containment_pairs` cannot serve: probes
    never touch corpus documents outside their LSH band buckets, so
    cost is O(probes × strata × bands + colliding postings), never
    O(probes × corpus). Returns (id_q, id_x, containment) with
    containment = |Q∩X| / |Q| ≥ threshold, VERIFIED exactly on the
    candidates (the LSH layer only bounds which pairs get verified, so
    emitted rows are exact; recall < 1 is the documented trade — see
    the superset-on-fixtures test).

    The LSH Ensemble construction (Zhu et al., VLDB 2016): MinHash
    signatures for everyone; the CORPUS is partitioned by shingle-set
    size into geometric strata, each stratum banded per
    :func:`ensemble_band_config` (containment→Jaccard threshold
    transform at the stratum's upper size bound); each PROBE emits
    keys for every stratum that could hold a ≥-threshold superset
    (u ≥ ⌈t·|Q|⌉ — the top stratum is size-unbounded and never
    pruned), with the probe's OWN signature sliced by that stratum's
    banding. Candidates = bucket collisions, verified with
    ``array_intersect`` on the shared shingle arrays.

    Scale shape: the only wide relations are the banded key sets; the
    candidate join is an equi-join on (stratum, band, bucket); the
    config relation is schema-bounded (max_stratum+1 rows,
    ``bounded_broadcast``). ``hash_family="md5"`` swaps in the
    engine-portable md5-60 signatures so the SQL oracle replays the
    candidate set bit-for-bit (the gate-checked variant);
    ``"xxhash64"`` is the vectorized scale default.

    ``probes`` is either a DataFrame of query documents (same id/text
    columns) or a ``Column`` PREDICATE over the signature relation's
    ``id`` column — the probes-are-a-corpus-subset case (benchmark
    slices, contamination screens): the corpus signatures are computed
    ONCE and the probe side is a filter of the same checkpointed
    relation, never a second tokenize/hash pass."""
    from asset_prices_parquet_saver_spark.functions.hints import (
        bounded_broadcast,
    )
    from asset_prices_parquet_saver_spark.operators.incremental_dedup import (
        signature_frame,
    )

    spark = corpus.sparkSession
    cfg = spark.createDataFrame(
        ensemble_band_config(threshold, q_min, num_hashes, max_stratum),
        "p int, r int, b int",
    )
    c_sig = (
        signature_frame(corpus, id_col, text_col, n, num_hashes, hash_family)
        .filter(F.col("n_sh") > 0)
        .localCheckpoint()
    )
    if isinstance(probes, Column):
        p_sig = c_sig.filter(probes)
    else:
        p_sig = (
            signature_frame(
                probes, id_col, text_col, n, num_hashes, hash_family
            )
            .filter(F.col("n_sh") > 0)
            .localCheckpoint()
        )
    stratum = F.least(
        # +0.5 keeps log2 strictly between integers -> fp-safe floor
        F.floor(F.log2(F.col("n_sh") + F.lit(0.5))).cast("int"),
        F.lit(max_stratum),
    )
    bucket = F.xxhash64(
        "p",
        "band",
        F.slice("sig", F.col("band") * F.col("r") + 1, F.col("r")),
    )
    corpus_keys = (
        c_sig.withColumn("p", stratum)
        .join(bounded_broadcast(cfg), "p")
        .select(
            F.col("id").alias("id_x"),
            "p",
            "r",
            "sig",
            F.explode(F.sequence(F.lit(0), F.col("b") - 1)).alias("band"),
        )
        .select("id_x", "p", "band", bucket.alias("bucket"))
    )
    # a probe of size q prunes strata whose upper bound can't hold
    # ceil(t*q) shared shingles (containment >= t is impossible there);
    # the TOP stratum is size-unbounded (all bigger sets cap into it).
    # Probes also emit keys ONLY for strata the corpus actually
    # occupies (a bounded ≤ max_stratum+1-row semi-join on the config):
    # a key in an empty stratum collides with nothing by construction,
    # so the candidate set is identical — but without the prune every
    # probe pays explode+hash+shuffle for every configured stratum
    # (measured at sf0.1: 155k probe keys for 294 probes, 94% of them
    # in strata with zero corpus docs; 15× fewer keys after)
    cfg_present = bounded_broadcast(
        cfg.join(
            c_sig.select(stratum.alias("p")).distinct(), "p", "left_semi"
        )
    )
    tq = F.ceil(F.round(F.lit(threshold) * F.col("n_sh"), 9))
    u = F.pow(F.lit(2.0), F.col("p") + 1) - 1
    # the probe's shingle array RIDES the band keys (the
    # containment_probe_indexed shape): probes are small by
    # construction (the contamination-check asymmetry this operator
    # exists for), so duplicating arr_q across a probe's bands costs
    # little, and verification becomes inline on the collision rows —
    # the old pair-distinct exchange and the q_sets join are gone
    # (2 exchanges fewer; the end distinct collapses multi-band
    # collisions AFTER the threshold filter, on strictly fewer rows,
    # and containment is pair-constant so output rows are identical).
    probe_keys = (
        p_sig.crossJoin(cfg_present)
        .filter((F.col("p") == max_stratum) | (u >= tq))
        .select(
            F.col("id").alias("id_q"),
            F.col("arr").alias("arr_q"),
            F.col("n_sh").alias("n_q"),
            "p",
            "r",
            "sig",
            F.explode(F.sequence(F.lit(0), F.col("b") - 1)).alias("band"),
        )
        .select("id_q", "p", "band", bucket.alias("bucket"), "arr_q", "n_q")
    )
    x_sets = c_sig.select(
        F.col("id").alias("id_x"), F.col("arr").alias("arr_x")
    )
    inter = F.size(F.array_intersect("arr_q", "arr_x"))
    return (
        probe_keys.join(corpus_keys, ["p", "band", "bucket"])
        .filter(F.col("id_q") != F.col("id_x"))
        .join(x_sets, "id_x")
        .select(
            "id_q",
            "id_x",
            F.round(inter / F.col("n_q"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
        .distinct()  # multi-band collisions; value is pair-constant
    )


#: persisted ensemble-index row: one row per (corpus doc, band) with
#: the shingle array denormalized in (the standard LSH-index space/time
#: trade: ×bands array copies buy a single-join probe path) so probes
#: verify inline.
ENSEMBLE_INDEX_SCHEMA = (
    "p int, band int, bucket long, id long, arr array<long>, n_sh int"
)


def build_ensemble_index(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    table: str,
    n: int = 2,
    threshold: float = 0.7,
    num_hashes: int = 32,
    q_min: int = 8,
    max_stratum: int = 20,
    hash_family: str = "xxhash64",
    num_buckets: int = 32,
) -> None:
    """Persist the corpus side of :func:`lsh_ensemble_containment` as a
    managed table PHYSICALLY BUCKETED by the probe-join keys
    (p, band, bucket) — the contamination-check-as-a-service shape:
    build the stratified index over the 100 TB corpus ONCE, then every
    benchmark/probe batch (:func:`containment_probe_indexed`) shuffles
    only itself; index files are read bucket-in-place. Each row
    carries the doc's shingle array so candidate verification happens
    inline on the join output — no second corpus join, no corpus
    re-scan.

    The banding parameters (threshold, q_min, num_hashes, max_stratum,
    n, hash_family) are part of the index's identity: probes MUST pass
    the same values or their band keys address a different layout."""
    from asset_prices_parquet_saver_spark.functions.hints import (
        bounded_broadcast,
    )
    from asset_prices_parquet_saver_spark.operators.incremental_dedup import (
        signature_frame,
    )

    from asset_prices_parquet_saver_spark.sources.warehouse import (
        heal_table_location,
    )

    spark = corpus.sparkSession
    cfg = spark.createDataFrame(
        ensemble_band_config(threshold, q_min, num_hashes, max_stratum),
        "p int, r int, b int",
    )
    c_sig = signature_frame(
        corpus, id_col, text_col, n, num_hashes, hash_family
    ).filter(F.col("n_sh") > 0)
    stratum = F.least(
        F.floor(F.log2(F.col("n_sh") + F.lit(0.5))).cast("int"),
        F.lit(max_stratum),
    )
    bucket = F.xxhash64(
        "p",
        "band",
        F.slice("sig", F.col("band") * F.col("r") + 1, F.col("r")),
    )
    rows = (
        c_sig.withColumn("p", stratum)
        .join(bounded_broadcast(cfg), "p")
        .select(
            "id",
            "arr",
            "n_sh",
            "p",
            "r",
            "sig",
            F.explode(F.sequence(F.lit(0), F.col("b") - 1)).alias("band"),
        )
        .select("p", "band", bucket.alias("bucket"), "id", "arr", "n_sh")
    )
    heal_table_location(spark, table)  # orphaned dir from a killed run
    (
        rows.write.bucketBy(num_buckets, "p", "band", "bucket")
        .sortBy("p", "band", "bucket")
        .mode("overwrite")
        .saveAsTable(table)
    )


def containment_probe_indexed(
    spark,
    probes: DataFrame,
    table: str,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.7,
    num_hashes: int = 32,
    q_min: int = 8,
    max_stratum: int = 20,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Probe a persisted :func:`build_ensemble_index` table with a
    batch of query documents: same semantics and output as
    :func:`lsh_ensemble_containment` (exact-verified
    (id_q, id_x, containment) at ≥ threshold), but the corpus work was
    paid at index-build time — the probe join shuffles ONLY the batch
    side (``shuffle_hash`` hint; the bucketed index streams through in
    place, plan-asserted), and the probe's shingle array rides the
    band keys so verification is inline on the join output. Parameters
    must match the index build (see :func:`build_ensemble_index`)."""
    from asset_prices_parquet_saver_spark.functions.hints import (
        bounded_broadcast,
    )
    from asset_prices_parquet_saver_spark.operators.incremental_dedup import (
        signature_frame,
    )

    cfg = spark.createDataFrame(
        ensemble_band_config(threshold, q_min, num_hashes, max_stratum),
        "p int, r int, b int",
    )
    p_sig = (
        signature_frame(probes, id_col, text_col, n, num_hashes, hash_family)
        .filter(F.col("n_sh") > 0)
        .localCheckpoint()
    )
    bucket = F.xxhash64(
        "p",
        "band",
        F.slice("sig", F.col("band") * F.col("r") + 1, F.col("r")),
    )
    tq = F.ceil(F.round(F.lit(threshold) * F.col("n_sh"), 9))
    u = F.pow(F.lit(2.0), F.col("p") + 1) - 1
    idx = spark.table(table)
    # probes emit keys ONLY for strata the persisted index actually
    # occupies (the same present-strata prune as the one-shot
    # lsh_ensemble_containment): a key in an empty stratum collides
    # with nothing by construction, so the candidate set is identical —
    # but without it every probe pays explode+hash+shuffle for all
    # max_stratum+1 configured strata. The distinct-p scan is one
    # column of the index with a partial aggregate, ≤ max_stratum+1
    # rows out, and rides the bounded config broadcast.
    cfg_present = bounded_broadcast(
        cfg.join(idx.select("p").distinct(), "p", "left_semi")
    )
    probe_keys = (
        p_sig.crossJoin(cfg_present)
        .filter((F.col("p") == max_stratum) | (u >= tq))
        .select(
            F.col("id").alias("id_q"),
            F.col("arr").alias("arr_q"),
            F.col("n_sh").alias("n_q"),
            "p",
            "r",
            "sig",
            F.explode(F.sequence(F.lit(0), F.col("b") - 1)).alias("band"),
        )
        .select("id_q", "p", "band", bucket.alias("bucket"), "arr_q", "n_q")
    )
    inter = F.size(F.array_intersect("arr_q", "arr"))
    return (
        probe_keys.hint("shuffle_hash")
        .join(idx, ["p", "band", "bucket"])
        .filter(F.col("id_q") != F.col("id"))
        .select(
            "id_q",
            F.col("id").alias("id_x"),
            F.round(inter / F.col("n_q"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
        .distinct()  # multi-band collisions collapse; value is pair-constant
    )


# ------------------------------------------------------------ MinHash-LSH

def _signatures_from_arrays(arrs: DataFrame, num_hashes: int) -> DataFrame:
    """sig[i] = min over shingle hashes h of mix64(h ^ seed_i) — the
    standard one-permutation-per-seed MinHash family, computed as one
    vectorized numpy pass per Arrow batch (the higher-order-function
    form evaluates num_hashes·|arr| interpreted closure calls per doc).
    mix64 is splitmix64's finalizer: a bijective 64-bit mixer, so each
    seed induces an independent pseudo-permutation of shingle space.
    Docs with no shingles get an all-NULL signature (matching the
    array_min-of-empty semantics of the HOF form)."""
    import numpy as np
    import pandas as pd

    from asset_prices_parquet_saver_spark.functions.pandas_ops import (
        chunked as _chunked,
    )

    seeds = np.arange(1, num_hashes + 1, dtype="uint64") * np.uint64(
        0x9E3779B97F4A7C15
    )

    def mix64(x):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))

    def gen(batches):
        empty_sig = [None] * num_hashes
        for pdf in batches:
            if not len(pdf):
                continue
            sigs = []
            for arr in pdf["arr"]:
                if not len(arr):
                    sigs.append(empty_sig)
                    continue
                h = np.asarray(arr, dtype="int64").astype("uint64")
                m = mix64(h[:, None] ^ seeds[None, :]).min(axis=0)
                sigs.append(m.astype("int64").tolist())
            out = pdf[["id", "arr", "n_sh"]].copy()
            out["sig"] = sigs
            yield from _chunked(out, 8192)

    return arrs.select("id", "arr", "n_sh").mapInPandas(
        gen, "id long, arr array<long>, n_sh int, sig array<long>"
    )


def _portable_signature_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int, num_hashes: int
) -> DataFrame:
    """(id, arr, n_sh, sig) with the engine-portable md5-60 hash family
    (see ``functions.portable_hash``): arr = h60(shingle) per distinct
    shingle, sig[i] = min over shingles of h60(f"{i}:{shingle}") —
    seeding by domain-separating prefix, no integer mixing, so any
    md5-capable engine (the DuckDB oracle included) reproduces the
    signatures, the band buckets, and hence the exact candidate set
    bit-for-bit. Same Arrow-batched kernel shape as
    :func:`_signatures_from_arrays`; ~num_hashes md5 calls per shingle
    instead of one vectorized mix — the price of portability, paid only
    by the gate-checked variant."""
    import hashlib
    import re as _re

    import pandas as pd

    from asset_prices_parquet_saver_spark.functions.pandas_ops import chunked

    def kernel(batches):
        import numpy as np

        ws = _re.compile(r"\s+", _re.ASCII)

        def h60(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        empty_sig = [None] * num_hashes
        for pdf in batches:
            ids, arrs, sigs = [], [], []
            # near-dup corpora repeat shingles ACROSS documents (that
            # is why dedup works at all), so the (num_hashes+1) md5
            # calls per shingle are cached per distinct shingle within
            # the batch — bounded by batch size, exact same outputs
            cache: dict = {}
            for doc_id, txt in zip(pdf[id_col], pdf[text_col]):
                sh = _shingle_set(txt, n, ws)
                ids.append(doc_id)
                if not sh:
                    arrs.append([])
                    sigs.append(empty_sig)
                    continue
                arr = []
                seed_rows = []
                for s in sh:
                    hit = cache.get(s)
                    if hit is None:
                        hit = (
                            h60(s),
                            np.asarray(
                                [h60(f"{i}:{s}") for i in range(num_hashes)],
                                dtype=np.int64,
                            ),
                        )
                        cache[s] = hit
                    arr.append(hit[0])
                    seed_rows.append(hit[1])
                arrs.append(arr)
                sigs.append(np.minimum.reduce(seed_rows).tolist())
            yield from chunked(
                pd.DataFrame({"id": ids, "arr": arrs, "sig": sigs}), 8192
            )

    return (
        spread(df.select(F.col(id_col), F.col(text_col)))
        .mapInPandas(kernel, "id long, arr array<long>, sig array<long>")
        .withColumn("n_sh", F.size("arr"))
    )


def banded_keys(sig: DataFrame, bands: int = 8, rows_per_band: int = 4) -> DataFrame:
    """(id, band, bucket) rows: one LSH band bucket per (doc, band);
    bucket key = xxhash64(band_id, slice of signature). The join key
    shape shared by the batch self-join and the incremental
    new-vs-index join."""
    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(b, F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)).alias(
                        "bucket"
                    ),
                ),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def lsh_candidate_pairs(sig: DataFrame, bands: int = 8, rows_per_band: int = 4) -> DataFrame:
    """Band the signatures; docs sharing any band bucket are candidates.

    Candidates via a self-equi-join on (band, bucket) — the LSH trick
    that turns O(n²) into O(n·collisions)."""
    banded = banded_keys(sig, bands, rows_per_band)
    return (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """X2 scale path end-to-end: LSH candidates, then exact Jaccard
    verification *only on candidates* (array_intersect — no row
    explosion). The shingle arrays are built once and shared by the
    signature and verification stages. Returns (id_a, id_b, jaccard).

    ``hash_family``: ``"xxhash64"`` (default — vectorized splitmix64
    mixing, fastest) or ``"md5"`` (engine-portable; the signatures and
    hence the candidate set are reproducible in the SQL oracle, so the
    gate query hash-checks the full pipeline instead of row counts).
    The banding/candidate join and the verification are the same code
    either way — only the signature kernel differs."""
    if bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"minhash banding: bands={bands} must divide num_hashes="
            f"{num_hashes} (rows_per_band >= 1, no dropped signature rows)"
        )
    rows_per_band = num_hashes // bands
    if hash_family == "md5":
        arrs = _portable_signature_arrays(
            df, id_col, text_col, n, num_hashes
        ).localCheckpoint()
    else:
        # unordered arrays: MinHash minima and array_intersect verify
        # are order-insensitive, so the rarest-first frequency shuffle
        # is skipped entirely
        arrs = _signatures_from_arrays(
            shingle_arrays_unordered(df, id_col, text_col, n), num_hashes
        ).localCheckpoint()  # eager materialization — see jaccard_pairs
    # zero-shingle docs share one degenerate all-NULL signature; banding
    # them yields O(k²) candidates that the NULL-jaccard filter later
    # discards — exclude them up front (the SQL oracle never emits sig
    # rows for them, so the candidate sets stay bit-identical).
    cand = lsh_candidate_pairs(
        arrs.filter(F.col("n_sh") > 0).select("id", "sig"), bands, rows_per_band
    )
    return _verified_jaccard(cand, arrs.select("id", "arr", "n_sh"), threshold)


# ------------------------------------------- clusters / end-to-end dedup

def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Connected components of the near-duplicate pair graph: every id
    that appears in a pair, labeled with its component's minimum id.
    Output: (id, component), typed like the pair columns. Pairs with a
    NULL endpoint are ignored.

    One lazy kernel; building it runs no Spark job. The pairs go to ONE
    partition and one ``mapInPandas`` reads all of them, maps the ids to
    dense indices (``np.unique``: sorted, so index order is id order)
    and runs vectorised min-label hooking to its fixpoint. Each round
    every edge pulls both endpoints to the smaller of their two labels,
    each old label takes the minimum of its members' new labels, and
    every label then jumps to its label's label. Labels only fall and
    always name a node of the same component, so the fixpoint labels
    each component with its minimum id. A pair needs to appear once, in
    either direction. Pointer jumping keeps the round count near the
    log of the longest chain (a 1000-node path settles in about 10).

    Bound: one Python worker holds every pair edge (two int64 indices
    per edge, plus the id columns) and the node arrays. Near-dup pair
    graphs are small next to the corpus that produced them; one that
    does not fit a worker fails here (SCALE.md)."""
    import numpy as np
    import pandas as pd

    id_type = (
        pairs.select(F.array(id_a, id_b).alias("ids"))
        .schema["ids"].dataType.elementType
    )
    edges = pairs.select(
        F.col(id_a).cast(id_type).alias("a"), F.col(id_b).cast(id_type).alias("b")
    ).filter(F.col("a").isNotNull() & F.col("b").isNotNull())

    def min_label_components(batches):
        ends_a, ends_b = [], []
        for batch in batches:
            ends_a.append(batch["a"].to_numpy())
            ends_b.append(batch["b"].to_numpy())
        if not ends_a:
            return
        nodes, idx = np.unique(
            np.concatenate(ends_a + ends_b), return_inverse=True
        )
        ea, eb = np.split(idx, 2)
        lab = np.arange(nodes.size)
        while True:
            m = np.minimum(lab[ea], lab[eb])
            new = lab.copy()
            np.minimum.at(new, ea, m)
            np.minimum.at(new, eb, m)
            np.minimum.at(new, lab, new.copy())  # hook each old root
            new = new[new]  # pointer jumping
            if np.array_equal(new, lab):
                break
            lab = new
        yield pd.DataFrame({"id": nodes, "component": nodes[lab]})

    schema = StructType(
        [StructField("id", id_type), StructField("component", id_type)]
    )
    return edges.repartition(1).mapInPandas(min_label_components, schema)


def fuzzy_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """End-to-end fuzzy dedup (the LLM-corpus pipeline composition):
    MinHash-LSH candidates → exact-Jaccard verification → connected
    components → keep one deterministic survivor per component (its
    minimum id). Rows in no near-dup pair survive untouched. Returns
    the deduplicated ``df`` (original columns). The components come
    from :func:`connected_components`, one lazy kernel over the
    verified pairs: it adds no job while the plan is built and runs
    inside the caller's action. ``hash_family="md5"`` makes the whole
    composition engine-portable (see :func:`minhash_dedup`) — the oracle
    then reproduces even the connected components, via a recursive-CTE
    transitive closure."""
    comp = connected_components(
        minhash_dedup(
            df, id_col, text_col, n, num_hashes, bands, threshold, hash_family
        )
    )
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    # no broadcast hint: at corpus scale the loser set can be a large
    # fraction of the table — AQE picks broadcast when it actually fits
    return df.join(losers, id_col, "left_anti")


def fuzzy_dedup_keep_best(
    df: DataFrame,
    id_col: str,
    text_col: str,
    score: Column,
    n: int = 2,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """:func:`fuzzy_dedup` with a QUALITY-AWARE survivor policy: each
    near-dup component keeps its best-``score`` member (ties → minimum
    id) instead of blindly the minimum id — the production curation
    rule ("keep the longest / cleanest variant of a duplicated page",
    e.g. ``score = F.size(words(text))`` or a quality-classifier
    margin) that min-id cannot express. ``score`` is any Column over
    ``df``'s columns. Rows in no near-dup pair survive untouched.

    Scale shape: identical to :func:`fuzzy_dedup` up to the component
    relation (LSH bands → exact verify → CC);
    the winner election is ONE combinable max-of-struct aggregate per
    component — (score, −id) lexicographic max, so the argmax is
    deterministic with no window over the corpus — plus the same
    anti-join."""
    comp = connected_components(
        minhash_dedup(
            df, id_col, text_col, n, num_hashes, bands, threshold, hash_family
        )
    )
    scored = df.select(F.col(id_col).alias("id"), score.alias("s"))
    # pinned: labeled feeds both the winner election and the loser
    # probe — unpinned, the score scan ran once per consumer
    # (plan-verified: 3 corpus scans; 2 after the pin). O(paired docs).
    labeled = _pin(comp.join(scored, "id"))  # comp covers only PAIRED docs
    winners = (
        labeled.groupBy("component")
        .agg(F.max(F.struct(F.col("s"), (-F.col("id")).alias("negid"))).alias("w"))
        .select("component", (-F.col("w.negid")).alias("winner_id"))
    )
    losers = (
        labeled.join(winners, "component")
        .filter(F.col("id") != F.col("winner_id"))
        .select(F.col("id").alias(id_col))
    )
    # no broadcast hint — see fuzzy_dedup
    return df.join(losers, id_col, "left_anti")


# --------------------------------------------------------------- SimHash

def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """X2: SimHash fingerprint per document (``bits`` wide).

    token hash → per-bit ±1 votes → sign → fingerprint, entirely with
    built-in functions: explode (token × bit) rows, two aggregations
    (bit votes, then bit_or of set bits). Heavier than a Pandas UDF per
    row but fully JVM-side and shuffle-partitioned; near-dup = pairs
    with small Hamming distance (see :func:`simhash_near_pairs`).

    ``token_hash`` (Column → Column) picks the hash family: default
    ``F.xxhash64`` (fastest, JVM-only). Pass
    :func:`...functions.portable_hash.md5_int60` with ``bits=60`` for a
    fingerprint any md5-capable engine reproduces bit-for-bit — the
    oracle-checked gate variant."""
    if token_hash is None:
        token_hash = F.xxhash64
    # spread the token×bit fan-out across all cores — a small parquet
    # scan otherwise pins the whole explode on 1-3 partitions
    toks = (
        spread(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col).alias("id"), F.explode(words(F.col(text_col))).alias("tok"))
        .withColumn("th", token_hash(F.col("tok")))
    )
    votes = (
        toks.select(
            "id",
            "th",
            F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"),
        )
        .withColumn(
            # SQL form: the Python F.shiftright only accepts an int shift
            "vote",
            F.expr("(shiftright(th, bit) & 1) * 2 - 1"),
        )
        .groupBy("id", "bit")
        .agg(F.sum("vote").alias("v"))
    )
    return (
        votes.withColumn(
            "bitval",
            F.when(F.col("v") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(
                F.lit(0).cast("long")
            ),
        )
        .groupBy("id")
        .agg(F.bit_or("bitval").alias("simhash"))
    )


def simhash_near_pairs(
    fp: DataFrame, max_hamming: int = 3, num_chunks: int | None = None
) -> DataFrame:
    """Chunked blocking (pigeonhole): split the 64-bit fingerprint into
    ``num_chunks`` chunks — any pair within Hamming distance < num_chunks
    shares at least one exact chunk, so blocking on (chunk_idx, chunk
    value) has guaranteed recall for max_hamming ≤ num_chunks - 1. Then
    verify with bit_count(xor). Returns (id_a, id_b, hamming).

    The default derives num_chunks = max_hamming + 1 WITHOUT a cap: a
    silent cap (an earlier min(..., 8)) broke the pigeonhole guarantee
    for max_hamming > 7 — a pair with one differing bit per chunk
    shared no chunk and vanished from the output with no warning.
    Larger max_hamming means narrower chunks and weaker blocking
    selectivity (more candidates to verify), which is the honest cost;
    an explicit num_chunks below max_hamming + 1 is rejected rather
    than silently losing recall."""
    if num_chunks is None:
        num_chunks = max_hamming + 1
    if num_chunks > 64:
        raise ValueError(
            f"simhash_near_pairs: num_chunks={num_chunks} exceeds the 64 "
            "fingerprint bits (max_hamming <= 63)"
        )
    if num_chunks < max_hamming + 1:
        raise ValueError(
            f"simhash_near_pairs: num_chunks={num_chunks} cannot guarantee "
            f"recall for max_hamming={max_hamming} (needs >= max_hamming + 1)"
        )
    chunk_bits = 64 // num_chunks
    mask = (1 << chunk_bits) - 1
    # pinned: the fingerprint relation feeds BOTH self-join sides, and
    # for every caller `fp` is the simhash() pipeline — a token x bit
    # explode plus two corpus-keyed aggregations. Unpinned, that whole
    # pipeline evaluated once per side (plan-verified 2x: the broadcast
    # build side is a different subtree shape from the probe side, so
    # ReuseExchange never fires, and AQE broadcasting one side
    # guarantees the duplication). The pin is O(docs) narrow rows.
    fp = _pin(fp)
    blocked = fp.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftrightunsigned(F.col("simhash"), i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk_val"),
                    )
                    for i in range(num_chunks)
                ]
            )
        ).alias("c"),
    ).select("id", "simhash", "c.chunk_idx", "c.chunk_val")
    return (
        blocked.alias("a")
        .join(blocked.alias("b"), ["chunk_idx", "chunk_val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def dedup_cluster_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Corpus duplication profile: the cluster-size histogram of the
    near-duplicate graph — (cluster_size, n_clusters), singletons
    included. The number a curation run reports before/after scrubbing
    ("N docs in M clusters of size ≥ 2; dedup will drop K rows").

    Same pipeline as :func:`fuzzy_dedup` up to the component labels;
    the histogram is two further map-side-combinable aggregations
    (component → size, size → count) over id-width rows — free at any
    scale next to the pair generation that precedes it."""
    comp = connected_components(
        minhash_dedup(
            df, id_col, text_col, n, num_hashes, bands, threshold, hash_family
        )
    )
    labeled = (
        df.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select(F.coalesce("component", F.col("id")).alias("component"))
    )
    sizes = labeled.groupBy("component").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").cast("long").alias("n_clusters"))
    )


# ----------------------------- exact substring dedup (token spans)

def window_rows(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, pos, h) — one row per ``k``-token window, ``pos`` 1-based,
    ``h`` a 64-bit blake2b of the window text. The first stage of the
    exact-substring-dedup pipeline (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): windows are the
    probe unit, spans are merged downstream.

    The window hash never surfaces in a result (only merged spans do),
    so the fast internal blake2b family is safe here — the oracle's
    exact-gram grouping is equivalent up to a ~2^-64-per-pair collision
    (the same argument as the jaccard shingle pipeline). Arrow-batched
    kernel, pre-hashed in-row: the shuffle carries (long, int, long)
    rows, never gram strings."""
    import hashlib
    import re as _re

    import pandas as pd

    from asset_prices_parquet_saver_spark.functions.pandas_ops import chunked

    def win_rows(batches):
        ws = _re.compile(r"\s+", _re.ASCII)  # Java/RE2 '\s' is ASCII-only
        for pdf in batches:
            ids: list = []
            ps: list = []
            hs: list = []
            for doc_id, txt in zip(pdf["id"], pdf["text"]):
                if txt is None:
                    continue
                w = [t for t in ws.split(txt) if t]
                for i in range(len(w) - k + 1):
                    g = " ".join(w[i : i + k])
                    ids.append(doc_id)
                    ps.append(i + 1)
                    hs.append(
                        int.from_bytes(
                            hashlib.blake2b(g.encode(), digest_size=8).digest(),
                            "big",
                            signed=True,
                        )
                    )
            yield from chunked(pd.DataFrame({"id": ids, "pos": ps, "h": hs}))

    return spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    ).mapInPandas(win_rows, "id long, pos int, h long")


def duplicated_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """Exact substring dedup — maximal per-document token spans covered
    by ``k``-token windows that occur verbatim in ≥ 2 DISTINCT
    documents (the Lee et al. 2022 suffix-array dedup semantics,
    re-expressed as window matching: a duplicated substring of
    m ≥ k tokens is exactly a run of m−k+1 duplicated windows).
    Returns (id, span_start, span_end, span_tokens), token positions
    1-based inclusive.

    Scale shape: one kernel pass emits pre-hashed windows
    (:func:`window_rows`); "duplicated" is a map-side-combinable
    min≠max-id aggregate on the window hash (no count-distinct
    shuffle); winners equi-join back on the hash; span merging is the
    gaps-and-islands prefix-max window per document — every shuffle is
    O(windows), nothing all-pairs, no driver-side state. Reference
    analogue: none (X2 family, SURVEY §2.11)."""
    # barrier: the window relation feeds both the duplicated-hash
    # aggregate and the winners join below, so the kernel runs once
    wins = window_rows(df, id_col, text_col, k).localCheckpoint()
    dup_h = (
        wins.groupBy("h")
        .agg(F.min("id").alias("lo"), F.max("id").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .select("h")
    )
    hits = wins.join(dup_h, "h").select("id", "pos")
    return _merge_spans(hits, k)


def _merge_spans(hits: DataFrame, k: int) -> DataFrame:
    """Shared last stage of the substring-dedup pipelines: merge the
    duplicated-window hit relation (id, pos) into maximal per-document
    token spans — the gaps-and-islands prefix-max window. Overlapping
    AND adjacent windows merge (positions i and i+k are one contiguous
    duplicated run)."""
    from pyspark.sql.window import Window

    hits = hits.select(
        "id", "pos", (F.col("pos") + F.lit(k - 1)).alias("end")
    )
    w = Window.partitionBy("id").orderBy("pos")
    prev_end = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = hits.withColumn(
        "new_island",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "grp", F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        islands.groupBy("id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("end").alias("span_end"),
            (F.max("end") - F.min("pos") + 1).cast("long").alias("span_tokens"),
        )
        .drop("grp")
    )


def excise_duplicated_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """Apply exact substring dedup: rebuild each affected document's
    text with every duplicated span's tokens removed (the curation step
    Lee et al. run after span discovery). Returns one row per CHANGED
    document: (id, clean_text, n_tokens, n_removed) — ``n_tokens`` the
    original token count, ``clean_text`` the surviving tokens re-joined
    with single spaces ('' when the whole document was duplicated).

    The span relation is per-document tiny (collected to an array by
    id), so excision is one equi-join plus an Arrow-batched rebuild
    kernel over the matched documents only — the corpus outside the
    duplicated set is never rewritten."""
    spans = duplicated_spans(df, id_col, text_col, k)
    return excise_spans(df, id_col, text_col, spans)


def excise_spans(
    df: DataFrame, id_col: str, text_col: str, spans: DataFrame
) -> DataFrame:
    """Rebuild the documents matched by a PRECOMPUTED span relation
    (id, span_start, span_end, …) — the shared write-path of
    :func:`excise_duplicated_spans` and the incremental/streaming
    substring-dedup paths, which obtain spans from the persisted
    window index instead of a from-scratch corpus pass."""
    import re as _re

    import pandas as pd

    from asset_prices_parquet_saver_spark.functions.pandas_ops import chunked

    per_doc = spans.groupBy("id").agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("spans")
    )
    matched = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).join(per_doc, "id")

    def rebuild(batches):
        ws = _re.compile(r"\s+", _re.ASCII)
        for pdf in batches:
            ids: list = []
            cleans: list = []
            nt: list = []
            nr: list = []
            for doc_id, txt, sp in zip(pdf["id"], pdf["text"], pdf["spans"]):
                w = [t for t in ws.split(txt) if t] if txt is not None else []
                drop = set()
                for s in sp:
                    drop.update(range(s["span_start"], s["span_end"] + 1))
                kept = [t for j, t in enumerate(w, start=1) if j not in drop]
                ids.append(doc_id)
                cleans.append(" ".join(kept))
                nt.append(len(w))
                nr.append(len(w) - len(kept))
            yield from chunked(
                pd.DataFrame(
                    {"id": ids, "clean_text": cleans, "n_tokens": nt, "n_removed": nr}
                )
            )

    return matched.mapInPandas(
        rebuild, "id long, clean_text string, n_tokens long, n_removed long"
    )


def duplication_report(
    df: DataFrame, id_col: str, text_col: str, group_col: str, k: int = 5
) -> DataFrame:
    """Corpus duplication profile by slice: per group (source,
    language), the share of tokens sitting inside cross-document
    duplicated spans (:func:`duplicated_spans`) — the
    before/after number a substring-dedup run reports per provider
    ("src7 is 34% verbatim-duplicated text"). Returns (group, n_docs,
    n_tokens, dup_tokens, dup_token_rate), rate rounded to 6 decimals.

    Scale shape: the span pipeline's shuffles (O(windows)) dominate;
    on top of it this is one per-doc combinable fold, one equi-join
    back to the (id, group, token-count) relation, and one group
    aggregate."""
    spans = duplicated_spans(df, id_col, text_col, k)
    per_doc = spans.groupBy("id").agg(
        F.sum("span_tokens").alias("dup_tokens")
    )
    docs = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        F.size(words(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    return (
        docs.join(per_doc, "id", "left")
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum(F.coalesce(F.col("dup_tokens"), F.lit(0))).cast("long").alias("dup_tokens"),
            F.round(
                F.sum(F.coalesce(F.col("dup_tokens"), F.lit(0))) / F.sum("n_tokens"), 6
            ).alias("dup_token_rate"),
        )
    )


def near_dup_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pair DIAGNOSTICS — the triage report a curation
    run reads before choosing drop rules: for every pair at Jaccard ≥
    ``threshold``, the shared-shingle count, both asymmetric
    containments (|A∩B|/|A| and /|B| — distinguishes snippet-inside-
    page from genuine twins), and the size ratio. Returns (id_a, id_b,
    jaccard, n_common, containment_a, containment_b, size_ratio), all
    ratios rounded to 6 decimals.

    Scale shape: the pair SET comes from the filtered
    :func:`jaccard_pairs` pipeline (PPJoin prefix filters — never
    all-pairs); diagnostics add one equi-join per side onto the
    hashed-array relation and an in-row ``array_intersect`` —
    O(pairs) on top of pair discovery. The shingle kernel runs ONCE:
    its (sh, docs) output feeds both pair discovery (via ``_pre``)
    and the diagnostics arrays — it used to run twice, once inside
    jaccard_pairs and once for :func:`shingle_arrays_unordered`."""
    pre = _hashed_shingle_rows(df, id_col, text_col, n)
    pairs = jaccard_pairs(
        df, id_col, text_col, n, threshold, _pre=pre
    ).select("id_a", "id_b", "jaccard")
    arrs = pre[1].select(
        "id", F.col("hs").alias("arr"), F.size("hs").alias("n_sh")
    )
    a = arrs.select(
        F.col("id").alias("id_a"),
        F.col("arr").alias("arr_a"),
        F.col("n_sh").alias("n_a"),
    )
    b = arrs.select(
        F.col("id").alias("id_b"),
        F.col("arr").alias("arr_b"),
        F.col("n_sh").alias("n_b"),
    )
    inter = F.size(F.array_intersect("arr_a", "arr_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            # jaccard_pairs emits the unrounded ratio; round here like
            # every other surfaced ratio (the stricter local parity
            # compare distinguishes what the driver's %.6g canon hides)
            F.round("jaccard", 6).alias("jaccard"),
            inter.cast("long").alias("n_common"),
            F.round(inter / F.col("n_a"), 6).alias("containment_a"),
            F.round(inter / F.col("n_b"), 6).alias("containment_b"),
            F.round(
                F.least("n_a", "n_b") / F.greatest("n_a", "n_b"), 6
            ).alias("size_ratio"),
        )
    )


def cdc_chunk_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 3,
    divisor: int = 8,
) -> DataFrame:
    """(id, chunk_start, chunk_end, chunk_tokens, h) — one row per
    CONTENT-DEFINED chunk: a boundary falls AFTER token ``i`` (1-based)
    iff the portable md5-60 hash of the ``w``-token window ending at
    ``i`` is ≡ 0 (mod ``divisor``) (and always after the last token),
    giving chunks of expected length ``divisor`` tokens. Because the
    cut decision depends only on the w tokens before it, an insertion
    or deletion re-cuts at most one chunk and every boundary inside an
    untouched run re-synchronizes — the property fixed-stride windows
    lack and the reason FastCDC-style chunking is the modern dedup
    literature's step past Lee et al. 2022's fixed k-token windows.
    ``h`` is the portable md5-60 of the chunk's space-joined tokens
    (chunk identity), so an external engine can replay every cut and
    every identity bit-for-bit.

    Scale shape: one Arrow-batched kernel pass, chunking each document
    independently (no cross-document state, no shuffle); the emitted
    relation is O(chunks) ≈ O(tokens/divisor) narrow integer rows.
    Reference analogue: none (X2 family, SURVEY §2.11)."""
    import re as _re

    import pandas as pd

    from asset_prices_parquet_saver_spark.functions.pandas_ops import chunked
    from asset_prices_parquet_saver_spark.functions.portable_hash import (
        py_md5_int60,
    )

    def cdc_rows(batches):
        ws = _re.compile(r"\s+", _re.ASCII)
        for pdf in batches:
            ids: list = []
            ss: list = []
            es: list = []
            hs: list = []
            for doc_id, txt in zip(pdf["id"], pdf["text"]):
                if txt is None:
                    continue
                toks = [t for t in ws.split(txt) if t]
                if not toks:
                    continue
                start = 1
                for i in range(1, len(toks) + 1):
                    cut = i == len(toks) or (
                        i >= w
                        and py_md5_int60(" ".join(toks[i - w : i])) % divisor
                        == 0
                    )
                    if cut:
                        ids.append(doc_id)
                        ss.append(start)
                        es.append(i)
                        hs.append(
                            py_md5_int60(" ".join(toks[start - 1 : i]))
                        )
                        start = i + 1
            yield from chunked(
                pd.DataFrame(
                    {"id": ids, "chunk_start": ss, "chunk_end": es, "h": hs}
                )
            )

    return (
        spread(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        )
        .mapInPandas(
            cdc_rows, "id long, chunk_start int, chunk_end int, h long"
        )
        .withColumn(
            "chunk_tokens",
            (F.col("chunk_end") - F.col("chunk_start") + 1).cast("long"),
        )
    )


def cdc_dup_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 3,
    divisor: int = 8,
) -> DataFrame:
    """Cross-document duplicate report over content-defined chunks:
    every chunk identity occurring in ≥ 2 DISTINCT documents, as
    (h, chunk_tokens, n_docs, n_occ) — fully integer, engine-portable
    (the md5-60 identity makes the oracle's exact-text grouping and
    this hash grouping the same partition up to md5 collision).

    Scale shape: the kernel pass above plus ONE map-side-combinable
    aggregate keyed on the chunk hash — O(chunks) shuffle rows of four
    integers, nothing all-pairs, no strings leave the kernel."""
    chunks = cdc_chunk_rows(df, id_col, text_col, w, divisor)
    return (
        chunks.groupBy("h")
        .agg(
            F.max("chunk_tokens").alias("chunk_tokens"),
            F.countDistinct("id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def cdc_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 3,
    divisor: int = 8,
    threshold: float = 0.5,
    max_df: int = 64,
) -> DataFrame:
    """Document-level near-dup pairs by CDC-chunk Jaccard: every pair
    of documents whose DISTINCT content-defined chunk-identity sets
    overlap with Jaccard ≥ ``threshold`` (rounded to 6 decimals before
    the compare — the cosine-query discipline), as
    (id_a, id_b, shared_chunks, jaccard). Chunk identities are robust
    to insertions/deletions (boundaries re-synchronize, see
    :func:`cdc_chunk_rows`), so this catches edited near-copies that
    fixed-stride shingles shift out of alignment — the document-level
    consumer of the chunk relation, and the CDC analogue of
    MinHash-verify near-dup.

    Scale shape: candidate generation is an equi-join on the chunk
    hash over identities PRUNED to 2 ≤ df ≤ ``max_df`` distinct docs
    (a hub chunk shared by thousands of boilerplate pages would
    otherwise quadratically explode the pair relation — the classic
    stop-word prefix-filter discipline, replayed exactly by the
    oracle); per-doc chunk counts are one combinable aggregate joined
    back by id. Everything shuffles on chunk hash or doc id — nothing
    all-pairs. Reference analogue: none (X2 family, SURVEY §2.11)."""
    chunks = (
        cdc_chunk_rows(df, id_col, text_col, w, divisor)
        .select("id", "h")
        .distinct()
        # materialize ONCE: the chunk relation feeds three subtrees
        # (per-doc sizes, the df-band prune, and both join sides) —
        # without the barrier the Arrow chunking kernel re-executes
        # per subtree; the relation is O(chunks) narrow integer rows,
        # cheap to pin (at corpus scale you'd persist it instead)
        .localCheckpoint()
    )
    sizes = chunks.groupBy("id").agg(
        F.count("*").cast("long").alias("n_chunks")
    )
    keep = (
        chunks.groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select("h")
    )
    pruned = chunks.join(keep, "h")
    shared = (
        pruned.alias("a")
        .join(
            pruned.alias("b"),
            (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").cast("long").alias("shared_chunks"))
    )
    jac = F.round(
        F.col("shared_chunks")
        / (F.col("na") + F.col("nb") - F.col("shared_chunks")),
        6,
    )
    return (
        shared.join(
            sizes.select(F.col("id").alias("id_a"), F.col("n_chunks").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("n_chunks").alias("nb")),
            "id_b",
        )
        .select("id_a", "id_b", "shared_chunks", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def duplicate_aware_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Duplicate-aware sampling weights — the "downweight, don't drop"
    curation policy (SemDeDup / D4-style): every document gets weight
    1 / cluster_size where the cluster is its near-duplicate component
    under the same MinHash-LSH → exact-Jaccard-verify → CC pipeline as
    :func:`fuzzy_dedup` (singletons weight 1.0). A corpus trained with
    these weights sees each duplicated PAGE once in expectation while
    keeping every VARIANT reachable — what hard dedup can't express.
    Returns (id, cluster_size, weight), weight rounded to 6 decimals.

    Scale shape: identical to :func:`dedup_cluster_report` up to the
    component labels; then one combinable size aggregate
    over id-width rows and an id-keyed join back. Reference analogue:
    none (X2/X4 family, SURVEY §2.11)."""
    comp = connected_components(
        minhash_dedup(
            df, id_col, text_col, n, num_hashes, bands, threshold, hash_family
        )
    )
    # pinned: labeled feeds both the size aggregate and the weight
    # probe — unpinned, the id scan + left join ran once per consumer
    # (plan-verified 2x). O(docs) narrow rows.
    labeled = _pin(
        df.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select(
            "id", F.coalesce("component", F.col("id")).alias("component")
        )
    )
    sizes = labeled.groupBy("component").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return (
        labeled.join(sizes, "component")
        .select(
            F.col("id").alias(id_col),
            "cluster_size",
            F.round(F.lit(1.0) / F.col("cluster_size"), 6).alias("weight"),
        )
    )
