"""Iterative graph algorithms as DataFrame loops.

The reference has no graph surface; this exists for the analytics the
driver's star schema supports (trade-flow influence, dedup-cluster
reachability — the connected-components twin lives in operators/dedup).

Pattern note (SURVEY §4 scale posture): a fixed-iteration loop over
DataFrames is driver-side PLAN COMPOSITION, not driver-side data — each
iteration is one distributed join+aggregate keyed on the destination
node, and ``localCheckpoint`` between iterations truncates the lineage
so iteration N's plan doesn't re-derive N-1 from scratch. For
rank-until-convergence at billion-edge scale you'd add a convergence
check per iteration (an agg on |Δr|) and stop dynamically; the fixed
small iteration count keeps the result a pure deterministic function
of the input, which is what lets a SQL oracle mirror it with unrolled
CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    node_col: str = "node",
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank, simple variant (dangling mass not
    redistributed): r'(v) = (1-d)/N + d * Σ_u r(u) · w(u,v)/out(u).

    Returns (node, rank). Deterministic up to double summation order
    (~1e-16 per iteration — round the final rank before comparing
    across engines). ``nodes`` fixes the vertex set so sinks with no
    in-edges still appear with the teleport mass.
    """
    return _pagerank_impl(
        edges, nodes, src_col, dst_col, weight_col, node_col,
        iterations, damping, tol=None,
    )


def pagerank_until(
    edges: DataFrame,
    nodes: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    node_col: str = "node",
    tol: float = 1e-6,
    max_iterations: int = 50,
    damping: float = 0.85,
) -> DataFrame:
    """Convergence-mode PageRank: iterate until max |Δrank| < tol (one
    extra scalar aggregate per iteration) or ``max_iterations``. The
    at-scale variant SCALE.md describes — data-dependent stopping means
    the result is NOT a static function of the input, so this one has
    tests rather than a SQL oracle; use :func:`pagerank` when an
    engine-portable replay matters."""
    return _pagerank_impl(
        edges, nodes, src_col, dst_col, weight_col, node_col,
        max_iterations, damping, tol=tol,
    )


def _pagerank_impl(
    edges: DataFrame,
    nodes: DataFrame,
    src_col: str,
    dst_col: str,
    weight_col: str,
    node_col: str,
    iterations: int,
    damping: float,
    tol: float | None,
) -> DataFrame:
    n_nodes = nodes.count()  # vertex-set cardinality: one tiny scalar
    if n_nodes == 0:
        raise ValueError("pagerank: empty vertex set (nodes has no rows)")
    # Zero-total out-weight would make _p = w/0 -> NULL (non-ANSI) and
    # silently erase the node's contributions; treat it explicitly as
    # dangling by dropping its out-edges (its mass still redistributes
    # via teleport, the standard dangling-node handling).
    frac = (
        edges.join(
            edges.groupBy(src_col).agg(F.sum(weight_col).alias("_ow")),
            src_col,
        )
        .filter(F.col("_ow") != 0)
        .select(
            src_col, dst_col, (F.col(weight_col) / F.col("_ow")).alias("_p")
        )
    ).localCheckpoint()

    ranks = nodes.select(
        F.col(node_col), F.lit(1.0 / n_nodes).alias("rank")
    )
    teleport = (1.0 - damping) / n_nodes
    for _ in range(iterations):
        contrib = (
            frac.join(ranks, frac[src_col] == ranks[node_col])
            .groupBy(F.col(dst_col).alias(node_col))
            .agg(F.sum(F.col("rank") * F.col("_p")).alias("_in"))
        )
        prev = ranks
        ranks = nodes.select(node_col).join(contrib, node_col, "left").select(
            F.col(node_col),
            (
                F.lit(teleport)
                + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
            ).alias("rank"),
        )
        # fixed-iteration mode references each round's ranks exactly
        # once (the next round's contrib join), so the checkpoint can
        # be LAZY: the plan is still cut per round, but the blocks
        # materialize inside the caller's single action instead of one
        # blocking job per round. Convergence mode (tol set) reads
        # ranks twice per round (contrib join + delta-vs-prev) — keep
        # the eager barrier there so the second reference hits blocks,
        # not a racing recompute.
        ranks = ranks.localCheckpoint(eager=tol is not None)
        if tol is not None:
            delta = (
                ranks.join(
                    prev.select(node_col, F.col("rank").alias("_prev_rank")),
                    node_col,
                )
                .agg(F.max(F.abs(F.col("rank") - F.col("_prev_rank"))))
                .first()[0]
            )
            if delta is not None and delta < tol:
                break
    return ranks


def triangle_counts(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-vertex triangle counting on an undirected graph: the number
    of triangles each vertex participates in (the clustering-structure
    statistic; vertices in no triangle are omitted). Input edges may
    be directed/duplicated — they are canonicalized to distinct
    (lo, hi) pairs first; self-loops dropped.

    Scale shape: the standard two-join enumeration over CANONICALLY
    ORDERED edges (a<b<c), so each triangle is generated exactly once —
    three equi-join/shuffle stages whose volume is Σ deg² in the worst
    case, the textbook bound; for skew-free degree distributions this
    is the right distributed plan (degree-skewed graphs would order
    vertices by degree first — the node-iterator++ refinement — which
    plugs in here as a relabeling of lo/hi). The per-vertex fold is
    one combinable agg over the triangle relation."""
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("lo"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
        # materialize ONCE: the edge relation feeds all three join
        # aliases — without the barrier Spark re-executes the whole
        # upstream edge pipeline per alias (plan-verified 3×)
        .localCheckpoint()
    )
    ab = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    bc = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    ac = e.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("vertex"))
        .groupBy("vertex")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )


def khop_min_hops(
    edges: DataFrame,
    sources: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Multi-source BFS: per start node, the minimum hop count (≤ k)
    to every node it can reach. Returns (start, node, hops), the start
    itself included at hops 0.

    Frontier-style iteration, the textbook distributed BFS: iteration i
    joins the CURRENT frontier (only the nodes first reached at i-1 —
    never the whole visited set) against the edge relation on the
    source endpoint, anti-joins the visited set to keep first arrivals,
    and unions them in. First arrival == minimum hops, so no min-
    aggregate is needed afterwards. Work per iteration is
    O(|frontier ⋈ edges|), and the loop exits early once the frontier
    empties (one scalar isEmpty per iteration — same budget as
    pagerank_until's convergence probe). ``localCheckpoint`` truncates
    the growing lineage exactly as in :func:`pagerank`; the result is a
    deterministic function of the input, so a SQL oracle can mirror it
    with a depth-bounded recursive CTE.
    """
    if k < 0:
        raise ValueError("khop_min_hops: k must be >= 0")
    if k > 0:
        # materialize the edge relation ONCE: without this every
        # iteration re-evaluates the caller's edge pipeline (for the
        # gated trade-graph query, a 5-way fact join) — same
        # discipline as pagerank's `frac` checkpoint
        edges = edges.localCheckpoint()
    visited = sources.select(
        F.col(node_col).alias("start"),
        F.col(node_col).alias("node"),
        F.lit(0).alias("hops"),
    ).distinct().localCheckpoint()
    frontier = visited
    for i in range(1, k + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges[src_col])
            .select(
                F.col("start"),
                F.col(dst_col).alias("node"),
                F.lit(i).alias("hops"),
            )
            .distinct()
            .join(visited.select("start", "node"), ["start", "node"], "left_anti")
        ).localCheckpoint()
        if nxt.isEmpty():
            break
        # NO re-checkpoint of visited: it is a union of ≤ k relations
        # that are each already checkpointed (sources + every
        # frontier), so its plan stays k-bounded for free — the old
        # per-round visited.localCheckpoint() re-wrote the ENTIRE
        # visited set to block storage every iteration (O(Σ|frontier|)
        # per round, one extra job each) for no lineage benefit.
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


def undirected_edges(
    edges: DataFrame, a: str, b: str, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """The distinct (``src``, ``dst``) rows of every edge (``a``, ``b``)
    in both directions, from ONE read of ``edges``: a union of two
    selects evaluates the caller's edge pipeline once per branch
    wherever that pipeline does not end in a reusable exchange."""
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(a).alias(src), F.col(b).alias(dst)),
                    F.struct(F.col(b).alias(src), F.col(a).alias(dst)),
                )
            ).alias("e")
        )
        .select(f"e.{src}", f"e.{dst}")
        .distinct()
    )


def min_label_propagation(
    edges: DataFrame,
    iterations: int,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous min-label propagation over the UNDIRECTED closure of
    ``edges``: every node starts labeled with itself; each round a node
    takes the minimum of its own label and its neighbors' labels.
    Returns (node, label) after exactly ``iterations`` rounds — i.e.
    label(v) = min node id within ``iterations`` hops of v. Run to the
    graph diameter this is connected components (the dedup family's CC,
    operators/dedup.py, computes the exact fixpoint in one kernel
    instead); the FIXED round count here keeps the result a
    static function of the input so a SQL oracle can replay it with
    unrolled CTEs, exactly the :func:`pagerank` trade-off.

    Per round: one src-keyed join + one dst-keyed min aggregate — the
    same shuffle budget as a PageRank step; lineage truncated per round.
    """
    und = undirected_edges(edges, src_col, dst_col, "a", "b").localCheckpoint()
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    # one join + one min-aggregate per round: the node's own label
    # rides as a self-message under the neighbor messages, so
    # min(messages) == least(own, neighbor-min) and the old join-back
    # of nbr_min onto labels (a second exchange per round) disappears
    for _ in range(iterations):
        labels = (
            und.join(labels, und["a"] == labels["node"])
            .select(F.col("b").alias("node"), "label")
            .unionByName(labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        ).localCheckpoint()
    return labels
