"""The shared-subtree pin (functions/pins.py) is semantics-free.

``pin()`` is a lazy localCheckpoint used at multi-consumer branch
points so an expensive subtree (fact join, Arrow kernel, corpus
tokenize) is evaluated once instead of once per consumer. These tests
pin (pun intended) the contract the optimization relies on:

1. flipping the A/B seam off reproduces IDENTICAL rows for operators
   that pin internally (basket_rules — whose items relation feeds six
   consumers — and pmi_cooccurrence, whose totals now FOLD the pinned
   aggregates instead of re-scanning the corpus);
2. with the seam on, the pinned operator's final plan carries no
   duplicated base-table scan (the subtree moved behind a single
   checkpointed relation).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from asset_prices_parquet_saver_spark.operators.analytics import basket_rules
from asset_prices_parquet_saver_spark.operators.text import pmi_cooccurrence


def _rows(df, *sort_cols):
    return [tuple(r) for r in df.orderBy(*sort_cols).collect()]


def _on_and_off(pin_seam, fn):
    pin_seam(True)
    on = fn()
    pin_seam(False)
    return on, fn()


def test_basket_rules_pin_is_result_identical(spark, pin_seam):
    baskets = spark.createDataFrame(
        [
            (1, "a"), (1, "b"), (1, "c"),
            (2, "a"), (2, "b"),
            (3, "b"), (3, "c"),
            (4, "a"), (4, "a"),  # duplicate item rows collapse
            (5, "c"),
        ],
        ["o", "it"],
    )
    build = lambda: _rows(  # noqa: E731
        basket_rules(baskets, "o", "it", min_support=0.2),
        "antecedent", "consequent",
    )
    on, off = _on_and_off(pin_seam, build)
    assert on == off


def test_pmi_totals_fold_is_result_identical(spark, pin_seam):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps the fox"),
            (2, "the quick red fox"),
            (3, "brown fox quick fox"),
            (4, None),
        ],
        ["doc_id", "text"],
    )
    build = lambda: _rows(  # noqa: E731
        pmi_cooccurrence(docs, "doc_id", "text", window=2, min_count=1, k=50),
        "a", "b",
    )
    on, off = _on_and_off(pin_seam, build)
    assert on == off


def test_basket_rules_plan_has_no_duplicated_scan(spark, sf_dir):
    # the gated query's shape: a fact join feeding basket_rules — the
    # pre-pin plan re-evaluated it 9x (one per consumer); pinned, the
    # final plan reads ONE checkpointed relation and zero parquet scans
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    baskets = li.join(p, li["l_partkey"] == p["p_partkey"]).select(
        "l_orderkey", "p_brand"
    )
    plan = (
        basket_rules(baskets, "l_orderkey", "p_brand", min_support=0.022)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert plan.count("Location: InMemoryFileIndex") == 0, plan
