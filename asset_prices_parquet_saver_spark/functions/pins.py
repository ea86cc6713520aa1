"""Shared-subtree pinning for multi-consumer plans.

Spark has no common-subexpression materialization across DataFrame
branches: a relation referenced by two consumers (a totals fold + a
probe join, both sides of a self-join, a broadcast build + a stream
side) is EVALUATED once per consumer unless an exchange happens to be
reusable — and AQE picking a broadcast side guarantees it is not. For
an expensive subtree (an Arrow kernel, a fact join, a corpus
tokenize), that duplication is the dominant avoidable cost at scale
(guide §1.2: don't compute things twice).

:func:`pin` is the repo-wide spelling of the fix: a LAZY
``localCheckpoint`` at the branch point — the first consuming job
materializes the blocks in-line and every later consumer reads them.
That holds only while the pinned plan has no shuffle: under AQE,
building the checkpoint's RDD runs the plan's shuffle stages while
the query is BUILT, as separate jobs (``fuzzy_dedup_keep_longest``,
which pins a joined CC output, builds with 8 jobs pinned and 3
unpinned). On a shuffle-free subtree there is no separate barrier job
(the globalorder lesson: an eager barrier measured 8-10% slower at
sf0.1). Broadcast exchanges are built on a separate driver thread,
so in principle two consumers can race to materialize the same RDD;
the block manager's per-partition getOrCompute locking de-dupes the
compute (a fresh-JVM stderr audit of the globalorder site saw zero
"Block already exists" warnings), and results are correct either way
— both consumers share one RDD identity.

Failure modes and limits of a pin:

- Executor loss: pinned blocks live only in the executor that
  computed them. They are not replicated and the checkpoint cuts them
  from their lineage, so losing that executor fails the query that
  reads them instead of recomputing them.
- Lifetime: nothing unpersists a pin. Its blocks go only when the
  ContextCleaner collects the checkpointed RDD after the last
  reference dies on the driver, so a long session holding plans keeps
  their blocks.
- Optimization barrier: the optimizer sees a pin as a scan of
  finished rows. Filters and projections a caller adds on top are not
  pushed into the pinned plan.

``ENABLED`` is a measurement seam for scripts/ab_interleaved.py —
flipping it False rebuilds plans in the duplicated form so the pin's
win is measurable inside one session. Always True in production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: A/B seam (scripts/ab_interleaved.py) — True in production
ENABLED = True


def pin(df: DataFrame) -> DataFrame:
    """Materialize ``df`` once (lazy localCheckpoint) so N consumers
    cost one evaluation. Use at branch points whose subtree is worth
    more than one narrow write+read of its output rows."""
    return df.localCheckpoint(eager=False) if ENABLED else df
