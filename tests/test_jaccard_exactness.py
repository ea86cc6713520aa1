"""Randomized exactness check for the filtered Jaccard pipeline.

jaccard_pairs prunes candidates with three filters (prefix, positional,
k-prefix count — see operators/dedup.py). Each must be *sound*: no
qualifying pair may ever be dropped. This test compares the full
pipeline against a brute-force pure-Python computation over random
corpora drawn from a tiny vocabulary (maximizing shingle collisions,
the stress case for the filters) across several thresholds.
"""

from __future__ import annotations

import random

from pyspark.sql import Row

from asset_prices_parquet_saver_spark.operators import dedup


def _python_jaccard_pairs(texts, n, threshold):
    def shingles(t):
        w = t.split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    sets = {i: shingles(t) for i, t in enumerate(texts)}
    out = {}
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                j = inter / union
                if j >= threshold:
                    out[(a, b)] = round(j, 9)
    return out


def test_filtered_jaccard_matches_bruteforce(spark):
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]  # tiny vocab → heavy collisions
    texts = []
    for _ in range(40):
        length = rng.randint(2, 14)
        texts.append(" ".join(rng.choice(vocab) for _ in range(length)))
    # plant near-duplicates: copies with small edits
    for i in (0, 5, 9):
        words = texts[i].split()
        words[rng.randrange(len(words))] = rng.choice(vocab)
        texts.append(" ".join(words))
    texts.append(texts[3])  # exact duplicate

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    # every physical strategy must produce the identical logical result
    # (auto would pick dense here — force each explicitly)
    for strategy in ("prefix", "dense"):
        for threshold in (0.3, 0.5, 0.8):
            expected = _python_jaccard_pairs(texts, 2, threshold)
            got = {
                (r.id_a, r.id_b): round(r.jaccard, 9)
                for r in dedup.jaccard_pairs(
                    df, "doc_id", "text", 2, threshold,
                    strategy=strategy,
                ).collect()
            }
            assert got == expected, (
                f"strategy={strategy} t={threshold}: "
                f"missing={set(expected) - set(got)} "
                f"extra={set(got) - set(expected)}"
            )


def test_dense_strategy_rejects_large_vocab(spark):
    import pytest

    # 60 docs of disjoint words -> vocabulary far above the limit
    df = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(f"u{i}_{j}" for j in range(10)))
         for i in range(60)]
    )
    with pytest.raises(ValueError, match="vocabulary"):
        dedup.jaccard_pairs(
            df, "doc_id", "text", 2, 0.5, strategy="dense",
            dense_vocab_limit=100,
        ).collect()


def _python_containment_pairs(texts, n, threshold):
    def shingles(t):
        w = t.split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    sets = {i: shingles(t) for i, t in enumerate(texts)}
    out = {}
    for a in sets:
        for b in sets:
            if a != b and sets[a] and sets[b]:
                c = round(len(sets[a] & sets[b]) / len(sets[a]), 6)
                if c >= threshold:
                    out[(a, b)] = c
    return out


def test_containment_pairs_match_bruteforce(spark):
    """The asymmetric prefix filter is SOUND and exact: every ordered
    pair with containment >= t survives, nothing else does — against a
    randomized small-vocab corpus with planted snippets (small docs
    fully contained in big ones, the case Jaccard misses)."""
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(15)]
    texts = []
    for _ in range(30):
        length = rng.randint(3, 16)
        texts.append(" ".join(rng.choice(vocab) for _ in range(length)))
    # plant snippets: contiguous slices of longer docs (containment 1.0
    # against their source, low Jaccard)
    for i in (1, 4, 8):
        w = texts[i].split()
        if len(w) >= 6:
            texts.append(" ".join(w[1:5]))
    texts.append(texts[2])  # exact duplicate (containment both ways)

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    for threshold in (0.5, 0.7, 0.9):
        expected = _python_containment_pairs(texts, 2, threshold)
        got = {
            (r.id_a, r.id_b): round(r.containment, 6)
            for r in dedup.containment_pairs(
                df, "doc_id", "text", n=2, threshold=threshold
            ).collect()
        }
        assert got == expected, (
            f"t={threshold}: missing={set(expected) - set(got)} "
            f"extra={set(got) - set(expected)}"
        )
