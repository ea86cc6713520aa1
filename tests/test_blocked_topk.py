"""The blocked top-k kernel shared by ``cosine_topk`` and ``ann_lsh_topk``.

Both operators run one Arrow kernel per corpus block (the REPOSE scheme:
block-local top-k with a one-rounding-unit pruning slack, merged by one
JVM-side rank). These tests check it against a numpy brute force that
applies the JVM's semantics directly: HALF_UP rounding of the shortest
double repr, rank by (rounded cosine desc, id asc), self-matches and
zero-norm vectors excluded, and — for LSH — a candidate is any corpus
vector whose bucket code equals the query's in at least one table.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Row

from asset_prices_parquet_saver_spark.operators import similarity as sim
from asset_prices_parquet_saver_spark.sources.tables import read_table

#: dim-5 corpus built around a dyadic midpoint: |(1, 127, 15, 5, 2)| is
#: exactly 128, so its cosine with e1 is exactly 1/128 = 0.0078125 —
#: HALF_UP (JVM) gives 0.007813, numpy's half-even gives 0.007812.
HAND = {
    0: [1, 0, 0, 0, 0],      # query e1 (self-excluded)
    1: [1, 128, 0, 0, 0],    # 0.00781226 -> 0.007812, id below the midpoints
    2: [3, 1, 0, 0, 0],      # the clear nearest neighbour of e1
    3: [0, 0, 0, 0, 0],      # zero norm: never a candidate, no rows as a query
    4: [-1, 0, 1, 0, 0],
    5: [1, 127, 15, 5, 2],   # exactly 1/128: the midpoint
    6: [2, 254, 30, 10, 4],  # 2x id 5: an exact tie with it
    7: [0, 1, 0, 0, 0],
    8: [0, 3, 1, 1, 0],
}
HAND_QUERIES = (0, 3, 7)


def _frame(spark, vecs: dict):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )


def _half_up(x: float, places: int = 6) -> float:
    # Spark's round(double): BigDecimal of the shortest repr, HALF_UP
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _codes(v, planes) -> list[int]:
    bits = (np.asarray(v, float) @ planes.transpose(0, 2, 1)) > 0  # (T, J)
    return [int(b @ (1 << np.arange(planes.shape[1]))) for b in bits]


def _reference(corpus: dict, queries: dict, k: int, planes=None) -> set:
    """Brute force over every (query, corpus) pair; ``planes`` (T, J,
    dim) restricts candidates to LSH collisions in any table."""
    out = set()
    for qid, q in queries.items():
        qv = np.asarray(q, float)
        qn = np.linalg.norm(qv)
        if qn == 0:
            continue
        scored = []
        for vid, v in corpus.items():
            vv = np.asarray(v, float)
            vn = np.linalg.norm(vv)
            if vid == qid or vn == 0:
                continue
            if planes is not None and not any(
                a == b for a, b in zip(_codes(qv, planes), _codes(vv, planes))
            ):
                continue
            scored.append((-_half_up(float(qv @ vv) / (qn * vn)), vid))
        for rank, (neg, vid) in enumerate(sorted(scored)[:k], start=1):
            out.add((qid, vid, -neg, rank))
    return out


def _rows(df) -> set:
    return {(r.query_id, r.vec_id, r.cosine, r.rank) for r in df.collect()}


def _collisions(qv, vv, planes) -> int:
    return sum(a == b for a, b in zip(_codes(qv, planes), _codes(vv, planes)))


@pytest.mark.parametrize("num_blocks", [1, 23])
@pytest.mark.parametrize("k", [2, 3])
def test_cosine_topk_matches_bruteforce_at_rounding_midpoint(spark, k, num_blocks):
    emb = _frame(spark, HAND)
    q = _frame(spark, {i: HAND[i] for i in HAND_QUERIES})
    got = _rows(sim.cosine_topk(emb, q, k=k, num_blocks=num_blocks))
    want = _reference(HAND, {i: HAND[i] for i in HAND_QUERIES}, k)
    assert got == want
    # the midpoint outranks id 1 under JVM rounding even though numpy's
    # half-even rounding ties them and id 1 sorts first in the block
    assert (0, 5, 0.007813, 2) in got
    if k == 3:
        assert (0, 6, 0.007813, 3) in got  # the exact tie breaks on id
    # zero-norm vectors yield no rows at any block count (the old kernel
    # emitted NaN rows, ranked first, whenever a block held <= k candidates)
    assert not {r for r in got if 3 in (r[0], r[1])}
    assert all(qid != vid for qid, vid, _, _ in got)


def _lsh_topk(spark, corpus, queries, k, lsh, num_blocks):
    """The shared kernel with the LSH mask, at a pinned block count."""
    return _rows(
        sim._blocked_topk(
            _frame(spark, corpus), _frame(spark, queries), k, "vec_id",
            "embedding", 6, num_blocks, sim._TOPK_BLOCK_BYTES, lsh=lsh,
        )
    )


@pytest.mark.parametrize("num_blocks", [1, 23])
def test_lsh_kernel_matches_bruteforce_on_hand_corpus(spark, num_blocks):
    queries = {i: HAND[i] for i in HAND_QUERIES}
    got = _lsh_topk(spark, HAND, queries, 3, (2, 3, None), num_blocks)
    assert got == _reference(HAND, queries, 3, sim.lsh_planes(2, 3, 5))


def _random_corpus():
    """30 seeded dim-8 vectors plus near-duplicates of the first three
    (which collide in every table), and one out-of-corpus query that
    collides with nothing under 8 planes x 4 tables."""
    rng = np.random.default_rng(7)
    corpus = {i: rng.standard_normal(8).tolist() for i in range(30)}
    for i in range(3):
        corpus[100 + i] = (np.asarray(corpus[i]) * 1.001 + 1e-4).tolist()
    corpus[200] = [0.0] * 8
    planes = sim.lsh_planes(8, 4, 8)
    while True:
        lonely = rng.standard_normal(8)
        if not any(_collisions(lonely, v, planes) for v in corpus.values() if any(v)):
            break
    queries = {i: corpus[i] for i in (0, 1, 5, 11, 200)}
    queries[999] = lonely.tolist()
    return corpus, queries


@pytest.mark.parametrize("num_blocks", [1, 23])
@pytest.mark.parametrize("auto", [False, True])
def test_lsh_kernel_matches_bruteforce_over_collisions(spark, auto, num_blocks):
    corpus, queries = _random_corpus()
    if auto:  # what ann_lsh_topk(num_planes=None) hands the kernel
        lsh = (sim.auto_num_planes(len(corpus)), 4, sim.AUTO_PLANES_HI)
        planes = sim.lsh_planes(sim.AUTO_PLANES_HI, 4, 8)[:, : lsh[0]]
    else:
        lsh = (8, 4, None)
        planes = sim.lsh_planes(8, 4, 8)
    got = _lsh_topk(spark, corpus, queries, 4, lsh, num_blocks)
    assert got == _reference(corpus, queries, 4, planes)
    if not auto:
        assert not {r for r in got if r[0] in (200, 999)}  # zero norm, no collision
        # a pair colliding in all four tables is still one row
        assert _collisions(corpus[0], corpus[100], planes) == 4
        assert [r[1] for r in got if r[0] == 0].count(100) == 1


def test_ann_lsh_topk_auto_planes(spark):
    corpus, queries = _random_corpus()
    got = _rows(
        sim.ann_lsh_topk(
            _frame(spark, corpus), _frame(spark, queries), k=4, num_planes=None
        )
    )
    planes = sim.lsh_planes(sim.AUTO_PLANES_HI, 4, 8)[:, : sim.auto_num_planes(len(corpus))]
    assert got == _reference(corpus, queries, 4, planes)


def _jobs_in(sc, group, fn):
    """(fn's result, Spark jobs it ran) under a fresh job group."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_plan_num_blocks_sizes_from_plan_bytes(spark, sf_dir):
    e = read_table(spark, sf_dir, "embeddings")
    size = int(e._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    sc = spark.sparkContext
    got, jobs = _jobs_in(
        sc, "sizing-plan",
        lambda: [
            sim.plan_num_blocks(e, "embedding", sim._TOPK_BLOCK_BYTES),
            sim.plan_num_blocks(e, "embedding", 1024),
            sim.plan_num_blocks(e.unionByName(e), "embedding", 1024),
            sim.plan_num_blocks(e.filter("vec_id < 0"), "embedding", size),
        ],
    )
    assert jobs == []
    assert got[0] == 8  # the parallelism floor
    assert got[1] == math.ceil(size / 1024) > 8
    assert got[2] == math.ceil(2 * size / 1024)
    assert got[3] == 8


def test_plan_num_blocks_measures_rdd_and_local_frames(spark):
    # 40 rows of (id, 2 doubles) = 40 * (8 + 2 * 8) bytes; 10 blocks of 96
    rows = [Row(vec_id=i, embedding=[1.0, float(i)], tag="x") for i in range(40)]
    rdd_backed = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, tag string"
    ).select("vec_id", "embedding")
    local = spark.createDataFrame(pd.DataFrame([r.asDict() for r in rows])).select(
        "vec_id", "embedding"
    )
    sc = spark.sparkContext
    got, jobs = _jobs_in(
        sc, "sizing-rdd", lambda: sim.plan_num_blocks(rdd_backed, "embedding", 96)
    )
    # the projected RDD takes the measuring job, not its scaled default
    # size (which would ask for ~1e12 blocks)
    assert got == 10 and jobs
    assert sim.plan_num_blocks(local, "embedding", 96) == 10


def test_topk_build_fires_no_spark_job(spark, sf_dir):
    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter("vec_id < 8")
    sc = spark.sparkContext
    _, built = _jobs_in(
        sc, "topk-build",
        lambda: (sim.cosine_topk(e, q, k=5), sim.ann_lsh_topk(e, q, k=5, num_planes=8)),
    )
    assert built == []
    _, probed = _jobs_in(sc, "topk-probe", e.count)
    assert probed  # the group does see jobs
