"""Unit tests: dedup family (X1/X2) and text analysis (X4)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from asset_prices_parquet_saver_spark.operators import dedup, text


def _docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


def test_exact_dedup_deterministic_survivor(spark):
    df = spark.createDataFrame(
        [Row(doc_id=5, text="x"), Row(doc_id=2, text="x"), Row(doc_id=9, text="y")]
    )
    out = sorted(r.doc_id for r in dedup.exact_dedup(df, ["text"], "doc_id").collect())
    assert out == [2, 9]


def test_word_shingles_short_doc_is_empty(spark):
    df = _docs(spark, ["one", "a b c"])
    out = df.select(
        "doc_id", dedup.word_shingles(F.col("text"), 2).alias("sh")
    ).collect()
    by_id = {r.doc_id: r.sh for r in out}
    assert by_id[0] == []
    assert by_id[1] == ["a b", "b c"]


def test_minhash_skips_zero_shingle_docs(spark):
    # docs too short to shingle share one all-NULL signature; they must
    # neither pair with each other nor crash the banding path
    df = _docs(spark, ["one", "two", "x", "a b c d e", "a b c d e"])
    out = dedup.minhash_dedup(df, "doc_id", "text", 2, 32, 8, 0.5).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(3, 4)]


def test_jaccard_pairs_identical_docs(spark):
    df = _docs(spark, ["a b c d e", "a b c d e", "z y x w v"])
    out = dedup.jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.9).collect()
    assert len(out) == 1
    assert (out[0].id_a, out[0].id_b, out[0].jaccard) == (0, 1, 1.0)


def test_minhash_finds_what_exact_jaccard_finds(spark, sf_dir):
    from asset_prices_parquet_saver_spark.sources.tables import read_table

    d = read_table(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.jaccard_pairs(d, "doc_id", "text", 2, 0.5).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_dedup(d, "doc_id", "text", 2, 32, 8, 0.5).collect()
    }
    # verification step guarantees precision; recall should be high
    assert lsh <= exact
    if exact:
        assert len(lsh) / len(exact) >= 0.8


def test_simhash_identical_docs_same_fingerprint(spark):
    df = _docs(spark, ["alpha beta gamma", "alpha beta gamma", "delta epsilon zeta"])
    fps = {r.id: r.simhash for r in dedup.simhash(df, "doc_id", "text").collect()}
    assert fps[0] == fps[1]
    assert fps[0] != fps[2]


def test_simhash_near_pairs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while rain falls on "
        "green hills and long rivers flow past quiet towns toward distant "
        "mountains under bright skies full of drifting white clouds"
    )
    df = _docs(
        spark,
        [
            base + " today",
            base + " tonight",
            "completely different words entirely unrelated content here now "
            "nothing shared with that other text at all in any position",
        ],
    )
    fp = dedup.simhash(df, "doc_id", "text")
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_near_pairs(fp, max_hamming=16).collect()
    }
    assert (0, 1) in pairs  # one word of ~35 differs → small hamming
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_quality_stats_values(spark):
    df = _docs(spark, ["The cat is on a mat!"])
    r = text.quality_stats(df, "doc_id", "text").collect()[0]
    assert r.n_chars_computed == 20
    assert r.n_words == 6
    assert r.n_tokens == 7  # 6 words + '!'
    assert abs(r.stopword_ratio - 3 / 6) < 1e-12  # the, is, a
    assert r.n_punct == 1


def test_empty_text_guarded(spark):
    df = _docs(spark, ["", "   "])
    rows = text.quality_stats(df, "doc_id", "text").collect()
    for r in rows:
        assert r.n_words == 0
        assert r.stopword_ratio is None and r.avg_word_len is None


def test_fingerprint_known_value(spark):
    df = _docs(spark, ["ab"])
    got = text.document_fingerprints(df, "doc_id", "text").collect()[0].fingerprint
    assert got == (ord("a") * 31 + ord("b")) % 1_000_000_007


def test_language_id_markers(spark):
    df = _docs(spark, ["the cat of a hat", "el gato de la casa", "der die das haus", "xyzzy plugh"])
    out = {r.doc_id: r.predicted_lang for r in text.predict_language(df, "doc_id", "text").collect()}
    assert out == {0: "en", 1: "es", 2: "de", 3: "und"}


def _union_find_components(edges) -> set[tuple]:
    """(node, minimum node of its component) for every edge endpoint:
    the driver-side reference for ``connected_components``."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(x, find(x)) for x in parent}


def test_connected_components_matches_union_find(spark, sf_dir):
    """Spark connected components vs a driver-side union-find over the
    same verified near-dup pairs."""
    from asset_prices_parquet_saver_spark.operators.dedup import (
        connected_components,
        jaccard_pairs,
    )
    from asset_prices_parquet_saver_spark.sources.tables import read_table

    docs = read_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.3).localCheckpoint()
    got = {
        (r.id, r.component) for r in connected_components(pairs).collect()
    }
    edges = [(r.id_a, r.id_b) for r in pairs.collect()]
    assert got == _union_find_components(edges)
    assert edges, "fixture should contain near-dup pairs"


@pytest.mark.parametrize("n", [30, 50])
def test_connected_components_exact_past_twenty_rounds(spark, n):
    """An n-node path has diameter n - 1: the kernel runs to its
    fixpoint however many rounds that takes, so every node, the far end
    included, is labeled with the component minimum 0. The edges come
    shuffled, half of them reversed."""
    from asset_prices_parquet_saver_spark.operators.dedup import (
        connected_components,
    )

    rng = random.Random(n)
    edges = [(i, i + 1) if rng.random() < 0.5 else (i + 1, i) for i in range(n - 1)]
    rng.shuffle(edges)
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(n)}


def test_connected_components_random_graphs_match_union_find(spark):
    """60 seeded random small graphs with self-loops, duplicate edges,
    both directions of an edge and non-contiguous, interleaved ids (all
    drawn from one sparse range), labeled in ONE call over their
    disjoint union: components of a disjoint union are the components
    of its parts. Arrow batches of 7 rows make the kernel concatenate
    many batches."""
    from asset_prices_parquet_saver_spark.operators.dedup import (
        connected_components,
    )

    rng = random.Random(8)
    pool = rng.sample(range(-10**12, 10**12), 60 * 12)
    edges, want = [], set()
    for g in range(60):
        ids = pool[g * 12 : g * 12 + rng.randint(1, 12)]
        graph = [(rng.choice(ids), rng.choice(ids)) for _ in range(rng.randint(1, 15))]
        graph += [(a, a) for a in rng.sample(ids, 1)]  # a self-loop
        graph += [(b, a) for a, b in graph[:2]] + graph[:1]  # reversed, repeated
        edges += graph
        want |= _union_find_components(graph)
    rng.shuffle(edges)
    pairs = spark.createDataFrame(edges, "id_a long, id_b long").repartition(3)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = {(r.id, r.component) for r in connected_components(pairs).collect()}
    finally:
        spark.conf.set(key, old)
    assert got == want


def test_connected_components_empty_pairs(spark):
    from asset_prices_parquet_saver_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    out = connected_components(pairs)
    assert out.schema.simpleString() == "struct<id:bigint,component:bigint>"
    assert out.collect() == []


def test_connected_components_builds_without_a_job(spark):
    """Labeling is one lazy kernel: building the plan runs no Spark job
    (the labels are computed when the caller's action runs)."""
    from asset_prices_parquet_saver_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    sc = spark.sparkContext
    try:
        sc.setJobGroup("cc-build", "build")
        comp = connected_components(pairs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("cc-build")) == 0
    assert {(r.id, r.component) for r in comp.collect()} == {
        (1, 1), (2, 1), (3, 1), (7, 7), (8, 7)
    }


def test_fuzzy_dedup_end_to_end(spark, sf_dir):
    """fuzzy_dedup keeps exactly one (minimum-id) survivor per
    component and leaves unpaired docs untouched."""
    from asset_prices_parquet_saver_spark.operators.dedup import (
        connected_components,
        fuzzy_dedup,
        minhash_dedup,
    )
    from asset_prices_parquet_saver_spark.sources.tables import read_table

    docs = read_table(spark, sf_dir, "documents")
    out = fuzzy_dedup(docs, "doc_id", "text", threshold=0.3)
    kept = {r.doc_id for r in out.select("doc_id").collect()}

    pairs = minhash_dedup(docs, "doc_id", "text", threshold=0.3)
    comp = {(r.id, r.component) for r in connected_components(pairs).collect()}
    losers = {i for i, c in comp if i != c}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert kept == all_ids - losers
    assert losers, "fixture should contain duplicates to drop"


def test_redact_pii_masks_all_kinds(spark):
    from asset_prices_parquet_saver_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [
            (0, "mail me at alice.smith+x@sub.example.org or call 555-123-4567"),
            (1, "server 192.168.1.254 and 10.0.0.1 are internal"),
            (2, "no pii here at all"),
            (3, "bob@ex.io bob@ex.io twice"),
        ],
        "doc_id long, text string",
    )
    out = df.select(
        "doc_id",
        text_ops.redact_pii(F.col("text")).alias("red"),
        *[c.alias(k) for k, c in text_ops.pii_counts(F.col("text")).items()],
    ).collect()
    by = {r.doc_id: r for r in out}
    assert by[0].red == "mail me at <EMAIL> or call <PHONE>"
    assert (by[0].email, by[0].phone, by[0].ip) == (1, 1, 0)
    assert by[1].red == "server <IP> and <IP> are internal"
    assert by[1].ip == 2
    assert by[2].red == "no pii here at all"
    assert by[3].red == "<EMAIL> <EMAIL> twice"  # global replace
    assert by[3].email == 2


def test_chunk_documents_reconstructs_tokens(spark, sf_dir):
    from asset_prices_parquet_saver_spark.operators import text as text_ops
    from asset_prices_parquet_saver_spark.sources.tables import read_table

    docs = read_table(spark, sf_dir, "documents").limit(50)
    k = 7
    chunks = text_ops.chunk_documents(docs, "doc_id", "text", k)
    rows = chunks.collect()
    orig = {r.doc_id: r.text.split() for r in docs.collect()}
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(orig)
    for doc_id, rs in by_doc.items():
        rs.sort(key=lambda r: r.chunk_id)
        # contiguous ordinals; all chunks full except possibly the last
        assert [r.chunk_id for r in rs] == list(range(len(rs)))
        assert all(r.n_tokens == k for r in rs[:-1])
        assert 1 <= rs[-1].n_tokens <= k
        # concatenating chunk texts reproduces the token stream
        rebuilt = " ".join(r.chunk_text for r in rs).split()
        assert rebuilt == orig[doc_id]


def test_udtf_tokenizer_matches_engine_on_unicode_whitespace(spark):
    """TermCounts must split on ASCII whitespace ONLY (Java/DuckDB \\s),
    not Python's any-Unicode-whitespace str.split(): a NBSP-joined pair
    is ONE token to the engine tokenizer and the oracle, and must be
    one token to the UDTF too."""
    from asset_prices_parquet_saver_spark.functions.udtfs import term_counts_lateral

    docs = spark.createDataFrame(
        [(1, "foo bar baz"), (2, "a　b")],  # NBSP, ideographic space
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["term"]): r["tf"]
        for r in term_counts_lateral(spark, docs).collect()
    }
    assert got == {(1, "foo bar"): 1, (1, "baz"): 1, (2, "a　b"): 1}


def test_shingle_kernels_tolerate_null_text(spark):
    """One NULL text row must not crash the Python shingle kernels
    (txt.strip() on None killed the task — and permanently wedged
    streaming dedup on every replay of the poisoned batch). NULL
    behaves like an empty doc, matching the JVM words() path."""
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, None), (3, "a b a c")],
        "doc_id long, text string",
    )
    arrs = dedup.shingle_arrays(df, "doc_id", "text", 2)
    sizes = {r["id"]: r["n_sh"] for r in arrs.collect()}
    # the NULL doc contributes no shingles (dropped like an empty doc,
    # not a crashed task); real docs are unaffected
    assert 2 not in sizes and sizes[1] > 0 and sizes[3] > 0
    # the portable (md5-60) kernel shares the same tokenize step —
    # must also survive the NULL row end-to-end
    pairs = dedup.minhash_dedup(df, "doc_id", "text", n=2, hash_family="md5")
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} <= {(1, 3)}


def test_simhash_near_pairs_rejects_recall_losing_chunking(spark):
    import pytest

    df = _docs(spark, ["some words here", "other words there"])
    fp = dedup.simhash(df, "doc_id", "text")
    with pytest.raises(ValueError, match="recall"):
        dedup.simhash_near_pairs(fp, max_hamming=8, num_chunks=8).collect()
    with pytest.raises(ValueError, match="64"):
        dedup.simhash_near_pairs(fp, max_hamming=64)


def test_chunking_skips_empty_documents(spark):
    from asset_prices_parquet_saver_spark.operators import text as t

    df = spark.createDataFrame(
        [(1, "one two three"), (2, "   "), (3, "")],
        "doc_id long, text string",
    )
    rows = t.chunk_documents(df, "doc_id", "text", tokens_per_chunk=2).collect()
    assert {r["doc_id"] for r in rows} == {1}  # no phantom '' chunks
    assert sorted(r["chunk_text"] for r in rows) == ["one two", "three"]


def test_winnowing_guarantee_shared_passage(spark):
    """The winnowing guarantee (Schleimer et al. 2003, Thm. on t =
    w + k - 1): any shared word run of at least window + k - 1 words
    produces at least one shared selected fingerprint. Two documents
    sharing a 10-word passage (k=3, window=4 -> t=6) must collide;
    an unrelated third document must not collide with either."""
    from asset_prices_parquet_saver_spark.operators import text as text_ops

    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, "intro words first " + passage + " trailing bits here"),
        (2, passage + " completely different ending tokens now"),
        (3, "nothing in common with the others at all whatsoever today"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = text_ops.winnowing_fingerprints(df, "doc_id", "text").collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r["id"], set()).add(r["fingerprint"])
    assert by_doc[1] & by_doc[2], "shared passage must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_winnowing_short_document_boundaries(spark):
    from asset_prices_parquet_saver_spark.operators import text as text_ops

    rows = [
        (1, "a b"),            # < k words -> no grams -> no rows
        (2, "a b c d"),        # 2 grams (< window) -> one min fingerprint
        (3, None),             # NULL text -> no rows
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text_ops.winnowing_fingerprints(df, "doc_id", "text").collect()
    ids = [r["id"] for r in out]
    assert ids == [2], out


def test_gopher_flags_rules(spark):
    from asset_prices_parquet_saver_spark.operators import text as text_ops

    rows = [
        # passes everything: >5 words, sane lengths, stopwords present
        (1, "the quick brown fox jumps over the lazy dog and then rests"),
        (2, "tiny"),                               # word count fails
        (3, "### ### ### the and of words here more pad pad pad"),  # symbols
        (4, "the of and is a pad pad pad pad 123 456 789 000 111 222 333"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           text_ops.gopher_quality_flags(df, "doc_id", "text").collect()}
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False and out[2]["ok_word_count"] is False
    assert out[3]["keep"] is False and out[3]["ok_symbol_ratio"] is False
    assert out[4]["ok_alpha_words"] is False and out[4]["keep"] is False


def test_winnowing_pairs_detect_shared_passages(spark):
    from asset_prices_parquet_saver_spark.operators import text as text_ops

    passage = "one two three four five six seven eight nine ten"
    rows = [
        (1, "prefix words here " + passage),
        (2, passage + " suffix tail words"),
        (3, "entirely unrelated content with no overlap at all present"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["id_a"], r["id_b"]): r["shared_fingerprints"]
           for r in text_ops.winnowing_pairs(df, "doc_id", "text").collect()}
    assert (1, 2) in out and out[(1, 2)] >= 2
    assert not any(3 in k for k in out)


def test_phrase_search_positions(spark):
    from asset_prices_parquet_saver_spark.operators import text as text_ops

    rows = [
        (1, "alpha beta gamma delta"),          # phrase at pos 2
        (2, "beta gamma elsewhere beta gamma delta"),  # phrase at pos 4
        (3, "beta gamma beta gamma delta beta gamma delta"),  # twice
        (4, "gamma beta delta"),                # right words, wrong order
        (5, "beta delta gamma"),                # not adjacent
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r["n_occurrences"] for r in
           text_ops.phrase_search(df, "doc_id", "text", "beta gamma delta").collect()}
    assert out == {1: 1, 2: 1, 3: 2}


def test_proximity_search_distance_semantics(spark):
    from asset_prices_parquet_saver_spark.operators import text as text_ops

    rows = [
        (1, "alpha x x x x beta"),       # distance 5 -> in
        (2, "alpha x x x x x beta"),     # distance 6 -> out
        (3, "beta alpha"),               # order-agnostic, distance 1
        (4, "alpha beta alpha"),         # two pairs
        (5, "alpha only here"),          # no beta
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r["n_cooccurrences"] for r in
           text_ops.proximity_search(df, "doc_id", "text", "alpha", "beta",
                                     max_distance=5).collect()}
    assert out == {1: 1, 3: 1, 4: 2}


def test_pmi_cooccurrence_ranks_collocations(spark):
    """Planted collocation: 'san francisco' always adjacent must out-PMI
    a frequent-but-independent pair; min_count filters singletons."""
    from asset_prices_parquet_saver_spark.operators import text as text_ops

    rows = [(i, "san francisco visit " + ("common word " * 3)) for i in range(6)]
    rows += [(100 + i, "word alone common text here") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text_ops.pmi_cooccurrence(
        df, "doc_id", "text", window=5, min_count=5, k=5
    ).collect()
    pairs = [(r["a"], r["b"]) for r in out]
    assert ("francisco", "san") in pairs
    top = out[0]
    assert {top["a"], top["b"]} == {"francisco", "san"} or top["pmi"] >= [
        r["pmi"] for r in out if {r["a"], r["b"]} == {"francisco", "san"}
    ][0]


def test_term_postings_materializes_only_query_terms(spark):
    """The term predicate must apply BEFORE the localCheckpoint barrier:
    the checkpointed relation holds only the query terms' postings
    (corpus-size-independent for selective terms), not corpus x tokens
    rows — the shape that makes ad-hoc phrase/proximity search viable
    against a big corpus."""
    from asset_prices_parquet_saver_spark.operators import text as text_ops

    rows = [(i, "alpha beta " + ("filler word common text " * 10))
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = text_ops.term_postings(df, "doc_id", "text", ("alpha", "beta"))
    # 20 docs x 2 query-term postings, NOT 20 x ~52 token postings
    assert idx.count() == 40
    assert set(r["term"] for r in idx.collect()) == {"alpha", "beta"}


def test_indexed_phrase_and_proximity_match_adhoc_and_bucket_prune(spark):
    """build_positional_index + *_indexed variants: results identical to
    the ad-hoc forms, and the scan is bucket-PRUNED by the term
    IN-predicate (SelectedBucketsCount strictly below the bucket
    count) — the one-Exchange probe shape of the persisted index."""
    from asset_prices_parquet_saver_spark.operators import text as text_ops

    tbl = "positional_index_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        rows = [
            (1, "alpha beta gamma delta"),
            (2, "beta gamma elsewhere beta gamma delta"),
            (3, "beta gamma beta gamma delta beta gamma delta"),
            (4, "gamma beta delta alpha x x x x beta"),
            (5, "alpha x x x x x beta unrelated filler"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        text_ops.build_positional_index(df, "doc_id", "text", tbl, num_buckets=8)

        adhoc = {r["id"]: r["n_occurrences"] for r in
                 text_ops.phrase_search(df, "doc_id", "text", "beta gamma delta").collect()}
        indexed = {r["id"]: r["n_occurrences"] for r in
                   text_ops.phrase_search_indexed(spark, tbl, "beta gamma delta").collect()}
        assert indexed == adhoc and indexed

        adhoc_p = {r["id"]: r["n_cooccurrences"] for r in
                   text_ops.proximity_search(df, "doc_id", "text", "alpha", "beta").collect()}
        indexed_p = {r["id"]: r["n_cooccurrences"] for r in
                     text_ops.proximity_search_indexed(spark, tbl, "alpha", "beta").collect()}
        assert indexed_p == adhoc_p and indexed_p

        plan = (
            text_ops.phrase_search_indexed(spark, tbl, "beta gamma delta")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "SelectedBucketsCount" in plan, plan
        import re

        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m and int(m.group(1)) < int(m.group(2)), m.group(0) if m else plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_ensemble_band_config_shape_and_monotonicity():
    """Per-stratum banding: rows-per-band never increases with stratum
    size (bigger sets -> smaller worst-case Jaccard -> more aggressive
    banding), every row uses the full hash budget, and invalid
    thresholds/q_min are rejected."""
    import pytest

    cfg = dedup.ensemble_band_config(0.7, q_min=8, num_hashes=32, max_stratum=20)
    assert [p for p, _, _ in cfg] == list(range(21))
    rs = [r for _, r, _ in cfg]
    assert all(a >= b for a, b in zip(rs, rs[1:]))  # non-increasing
    assert all(r * b == 32 for _, r, b in cfg)
    assert rs[-1] == 1  # huge strata fall back to max-recall banding
    with pytest.raises(ValueError):
        dedup.ensemble_band_config(0.0)
    with pytest.raises(ValueError):
        dedup.ensemble_band_config(0.7, q_min=0)


def test_lsh_ensemble_containment_superset_of_exact_on_fixtures(spark, sf_dir):
    """Recall gate (VERDICT r8 #4): on the fixture corpus, the
    ensemble's VERIFIED output must contain every probe-restricted
    exact containment_pairs row at the same threshold — i.e. the
    size-stratified candidate generation loses nothing the exact
    all-pairs baseline finds at this scale. Runs both hash families:
    the md5 family is what the oracle gate certifies; xxhash64 is the
    scale default."""
    from asset_prices_parquet_saver_spark.sources.tables import read_table

    docs = read_table(spark, sf_dir, "documents")
    probes = docs.filter(F.col("doc_id") % 17 == 0)
    exact = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_pairs(
            docs, "doc_id", "text", n=2, threshold=0.7
        ).collect()
        if r["id_a"] % 17 == 0
    }
    assert exact, "fixture must plant at least one probe-side pair"
    for fam in ("md5", "xxhash64"):
        got = {
            (r["id_q"], r["id_x"]): r["containment"]
            for r in dedup.lsh_ensemble_containment(
                docs, probes, "doc_id", "text", n=2, threshold=0.7,
                hash_family=fam,
            ).collect()
        }
        missed = set(exact) - set(got)
        assert not missed, (fam, missed)
        # verified values agree with the exact baseline where shared
        for k in exact:
            assert abs(got[k] - exact[k]) < 1e-9, (fam, k)


def test_lsh_ensemble_probe_never_scans_corpus_text_twice(spark, sf_dir):
    """Bounded-cost shape: the candidate join is an equi-join on
    (stratum, band, bucket) — never a cartesian/BNLJ over the corpus —
    and zero-shingle docs are excluded from both sides."""
    from asset_prices_parquet_saver_spark.sources.tables import read_table

    docs = read_table(spark, sf_dir, "documents")
    probes = docs.filter(F.col("doc_id") % 17 == 0)
    out = dedup.lsh_ensemble_containment(
        docs, probes, "doc_id", "text", threshold=0.7
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the config relation rides a broadcast; the key join is hash/merge
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_ensemble_index_probe_matches_batch_and_never_shuffles_index(spark, sf_dir):
    """build_ensemble_index + containment_probe_indexed: identical
    output to the one-shot lsh_ensemble_containment, and the probe
    join shuffles ONLY the batch side — the bucketed index streams
    through a ShuffledHashJoin in place (the contamination-check-as-a-
    service shape: corpus work paid once at build time)."""
    from asset_prices_parquet_saver_spark.sources.tables import read_table

    tbl = "ensemble_index_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        docs = read_table(spark, sf_dir, "documents")
        probes = docs.filter(F.col("doc_id") % 17 == 0)
        dedup.build_ensemble_index(
            docs, "doc_id", "text", tbl, threshold=0.7, num_buckets=8
        )
        batch = {
            (r["id_q"], r["id_x"], r["containment"])
            for r in dedup.lsh_ensemble_containment(
                docs, probes, "doc_id", "text", threshold=0.7
            ).collect()
        }
        out = dedup.containment_probe_indexed(
            spark, probes, tbl, "doc_id", "text", threshold=0.7
        )
        got = {(r["id_q"], r["id_x"], r["containment"]) for r in out.collect()}
        assert got == batch and got
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in plan
        assert "Bucketed: true" in plan  # index read in place
        # shuffle exchanges in the FINAL plan (the AQE string repeats
        # everything in its Initial Plan section, and the bounded
        # config broadcast is not a shuffle): the probe side into the
        # join + the final distinct + the present-strata distinct
        # (≤ max_stratum+1 rows out of a one-column index scan, riding
        # the bounded config broadcast) — never the O(corpus) index
        # PAYLOAD side (arr/id stream through the bucketed join in
        # place, asserted by "Bucketed: true" above)
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("Exchange hashpartitioning") <= 3, final
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_fuzzy_dedup_keep_best_prefers_quality_over_min_id(spark):
    """Quality-aware survivor: in a near-dup cluster the best-scoring
    member survives even when it is NOT the minimum id (min-id policy
    would keep doc 1); ties fall back to min id; unpaired docs always
    survive."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    rows = [
        (1, base),                        # near-dup cluster, short
        (2, base + " extra tail words"),  # same cluster, LONGEST -> wins
        (3, base + " extra"),             # same cluster, middle
        (9, "completely different content entirely unrelated here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {
        r["doc_id"]
        for r in dedup.fuzzy_dedup_keep_best(
            df, "doc_id", "text",
            score=F.size(dedup.words(F.col("text"))), threshold=0.5,
        ).collect()
    }
    assert kept == {2, 9}
    # tie on score -> min id: two identical docs keep the smaller id
    tie = spark.createDataFrame(
        [(7, base), (4, base)], "doc_id long, text string"
    )
    kept_tie = {
        r["doc_id"]
        for r in dedup.fuzzy_dedup_keep_best(
            tie, "doc_id", "text",
            score=F.size(dedup.words(F.col("text"))), threshold=0.5,
        ).collect()
    }
    assert kept_tie == {4}


# ------------------------- exact substring dedup (duplicated spans)

def test_duplicated_spans_planted_run(spark):
    # docs 0 and 1 share the verbatim 7-token run "a b c d e f g" at
    # different offsets; with k=5 the duplicated windows are positions
    # {1,2,3} (doc 0) and {3,4,5} (doc 1), merging to one span each of
    # 7 tokens. doc 2 shares no 5-token window with anyone.
    df = _docs(
        spark,
        [
            "a b c d e f g tail1 tail2",
            "pre1 pre2 a b c d e f g",
            "q r s t u v w x y z",
        ],
    )
    out = {
        r.id: (r.span_start, r.span_end, r.span_tokens)
        for r in dedup.duplicated_spans(df, "doc_id", "text", k=5).collect()
    }
    assert out == {0: (1, 7, 7), 1: (3, 9, 7)}


def test_duplicated_spans_merges_adjacent_islands(spark):
    # two duplicated runs separated by ONE unique token stay two spans
    # (gap rule: merge only when next start <= prev end + 1)
    df = _docs(
        spark,
        [
            "a b c d e GAP0 v w x y z",
            "a b c d e GAP1 v w x y z",
        ],
    )
    rows = dedup.duplicated_spans(df, "doc_id", "text", k=5).collect()
    spans = {(r.id, r.span_start, r.span_end) for r in rows}
    assert spans == {(0, 1, 5), (0, 7, 11), (1, 1, 5), (1, 7, 11)}


def test_duplicated_spans_follows_text_column(spark):
    """Spans come from the named text column: the same DataFrame and k
    with a DIFFERENT text column yields that column's spans."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="a b c d e f g", other="p q r s t u v"),
            Row(doc_id=1, text="a b c d e f g", other="1 2 3 4 5 6 7"),
        ],
        "doc_id long, text string, other string",
    )
    dup_text = dedup.duplicated_spans(df, "doc_id", "text", k=5)
    assert dup_text.count() == 2  # both docs share the run in `text`
    dup_other = dedup.duplicated_spans(df, "doc_id", "other", k=5)
    assert dup_other.count() == 0  # `other` has no cross-doc run


def test_duplicated_spans_ignores_within_doc_repeats(spark):
    # the run repeats INSIDE doc 0 only -- cross-doc rule says no span
    df = _docs(spark, ["a b c d e a b c d e", "u v w x y z"])
    assert dedup.duplicated_spans(df, "doc_id", "text", k=5).count() == 0


def test_excise_duplicated_spans_rebuilds_text(spark):
    df = _docs(
        spark,
        [
            "a b c d e f g tail1 tail2",
            "pre1 pre2 a b c d e f g",
            "q r s t u v w x y z",
        ],
    )
    out = {
        r.id: (r.clean_text, r.n_tokens, r.n_removed)
        for r in dedup.excise_duplicated_spans(df, "doc_id", "text", k=5).collect()
    }
    # only the two changed docs surface; spans excised, order preserved
    assert out == {
        0: ("tail1 tail2", 9, 7),
        1: ("pre1 pre2", 9, 7),
    }


def test_excise_fully_duplicated_doc_yields_empty_text(spark):
    df = _docs(spark, ["a b c d e", "a b c d e"])
    out = {
        r.id: (r.clean_text, r.n_removed)
        for r in dedup.excise_duplicated_spans(df, "doc_id", "text", k=5).collect()
    }
    assert out == {0: ("", 5), 1: ("", 5)}


# ---------------------------------- DSIR importance weights (X4)

def test_dsir_weights_rank_target_like_docs_higher(spark):
    # target docs are marked by dominating 'alpha'-family features;
    # the held-out doc built from the same vocabulary must outscore
    # the doc built from the non-target vocabulary.
    rows = [
        (0, "alpha beta alpha beta alpha", 1),
        (1, "alpha beta gamma alpha beta", 1),
        (2, "delta eps zeta delta eps", 0),
        (3, "alpha beta alpha gamma beta", 0),   # target-like, unlabeled
        (4, "delta zeta eps delta zeta", 0),     # raw-like, unlabeled
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "is_tgt"])
    out = {
        r.id: r.log_weight
        for r in text.dsir_log_weights(
            df, "doc_id", "text", F.col("is_tgt") == 1, buckets=64
        ).collect()
    }
    assert set(out) == {0, 1, 2, 3, 4}
    assert out[3] > out[4]
    assert out[0] > out[2]


def test_dsir_weights_feature_counts(spark):
    # n_feats = unigrams + forward bigrams = len(w) + (len(w) - 1)
    df = _docs(spark, ["a b c d", "x"])
    out = {
        r.id: r.n_feats
        for r in text.dsir_log_weights(
            df, "doc_id", "text", F.lit(True), buckets=16
        ).collect()
    }
    assert out == {0: 7, 1: 1}


# ------------------------------------- retrieval nDCG evaluation (X4)

def test_retrieval_ndcg_perfect_ranking_is_one(spark):
    # doc 0 contains both terms, doc 1 one term, doc 2 none: BM25 order
    # (0, 1) equals the ideal relevance order, so ndcg == 1.
    df = _docs(
        spark,
        ["alpha beta alpha", "alpha gamma delta", "zeta eta theta"],
    )
    out = text.retrieval_ndcg(
        df, "doc_id", "text", {"q": ("alpha", "beta")}, k=10
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.query_id == "q"
    assert r.ndcg10 == 1.0
    # rel=2 at rank 1 and rel=1 at rank 2: (2^2-1)/log2(2) + (2^1-1)/log2(3)
    import math
    expected = 3.0 / 1.0 + 1.0 / math.log2(3)
    assert abs(r.dcg10 - round(expected, 6)) < 1e-9


def test_retrieval_ndcg_imperfect_ranking_below_one(spark):
    # doc 0 repeats 'alpha' many times (high BM25 tf) but matches one
    # term; doc 1 matches both terms with low tf. If BM25 ranks doc 0
    # first, the relevance-ideal order disagrees and ndcg < 1;
    # either way ndcg must stay in (0, 1].
    df = _docs(
        spark,
        [
            "alpha alpha alpha alpha alpha alpha alpha alpha",
            "alpha beta filler filler filler filler filler filler",
            "filler words only here",
        ],
    )
    r = text.retrieval_ndcg(
        df, "doc_id", "text", {"q": ("alpha", "beta")}, k=10
    ).collect()[0]
    assert 0 < r.ndcg10 <= 1.0
    assert r.idcg10 >= r.dcg10


# --------------------------------- BPE merge candidates (tokenizer, X4)

def test_bpe_merge_candidates_weighted_counts(spark):
    # 'ab' appears 3x, 'abc' 1x: pair (a,b) weight 4, (b,c) weight 1
    df = _docs(spark, ["ab ab", "ab abc"])
    out = [
        (r.sym_a, r.sym_b, r.pair_count)
        for r in text.bpe_merge_candidates(df, "doc_id", "text", k=10).collect()
    ]
    assert out == [("a", "b", 4), ("b", "c", 1)]


def test_bpe_merge_candidates_single_char_words_ignored(spark):
    df = _docs(spark, ["a b c d e", "xy"])
    out = [
        (r.sym_a, r.sym_b, r.pair_count)
        for r in text.bpe_merge_candidates(df, "doc_id", "text", k=10).collect()
    ]
    assert out == [("x", "y", 1)]


# ------------------- duplication report / tokenizer fertility (X2/X4)

def test_duplication_report_rates(spark):
    from pyspark.sql import Row

    rows = [
        Row(doc_id=0, text="a b c d e x1 x2 x3 x4 x5", src="s1"),  # 5/10 dup
        Row(doc_id=1, text="a b c d e", src="s2"),                 # 5/5 dup
        Row(doc_id=2, text="u v w x y", src="s2"),                 # clean
    ]
    df = spark.createDataFrame(rows)
    out = {
        r.grp: (r.n_docs, r.n_tokens, r.dup_tokens, r.dup_token_rate)
        for r in dedup.duplication_report(df, "doc_id", "text", "src", k=5).collect()
    }
    assert out == {"s1": (1, 10, 5, 0.5), "s2": (2, 10, 5, 0.5)}


def test_token_fertility_counts(spark):
    from pyspark.sql import Row

    rows = [
        Row(doc_id=0, text="hello world", lang="en"),        # 2 words, 2 tokens
        Row(doc_id=1, text="don't stop", lang="en"),  # 2 words, 4 tokens (don ' t stop)
        Row(doc_id=2, text="abc123", lang="de"),             # 1 word, 2 tokens
    ]
    df = spark.createDataFrame(rows)
    out = {
        r.grp: (r.n_docs, r.n_words, r.n_tokens, r.fertility)
        for r in text.token_fertility(df, "text", "lang").collect()
    }
    assert out == {"en": (2, 4, 6, 1.5), "de": (1, 1, 2, 2.0)}


# ---------------- blocklist tagging / length-bucketed batching (X4)

def test_blocklist_hits_terms_and_counts(spark):
    df = _docs(spark, ["bad word bad thing", "all clean here", "word only"])
    out = {
        r.id: (r.matched_terms, r.n_terms, r.n_hits)
        for r in text.blocklist_hits(
            df, "doc_id", "text", ("bad", "word")
        ).collect()
    }
    # doc 1 has no hits and must be absent entirely
    assert out == {0: ("bad word", 2, 3), 2: ("word", 1, 1)}


def test_length_bucketed_batches_shape(spark):
    docs = [" ".join(["tok"] * n) for n in (3, 5, 40, 45, 70)]
    df = _docs(spark, docs)
    out = text.length_bucketed_batches(
        df, "doc_id", "text", bucket_tokens=32, batch_size=2
    ).collect()
    by_id = {r.id: r for r in out}
    assert {r.bucket for r in out} == {1, 2, 3}
    assert by_id[0].bucket == 1 and by_id[2].bucket == 2 and by_id[4].bucket == 3
    # within a bucket: slots cycle 0..batch_size-1, batch_id floors
    for r in out:
        assert 0 <= r.slot < 2
        assert r.batch_id >= 0
    # deterministic across partitionings
    out2 = text.length_bucketed_batches(
        df.repartition(5), "doc_id", "text", bucket_tokens=32, batch_size=2
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


# -------------------- near-dup diagnostics / CCNet tertile prune

def test_near_dup_report_metrics(spark):
    # doc1's shingles are a strict subset of doc0's: containment_b = 1
    df = _docs(spark, ["a b c d e f", "a b c d", "z y x w"])
    out = {
        (r.id_a, r.id_b): r
        for r in dedup.near_dup_report(
            df, "doc_id", "text", n=2, threshold=0.5
        ).collect()
    }
    assert set(out) == {(0, 1)}
    r = out[(0, 1)]
    # 5 vs 3 shingles, 3 shared: j = 3/5, cont_a = 3/5, cont_b = 1
    assert r.n_common == 3
    assert r.jaccard == 0.6
    assert r.containment_a == 0.6
    assert r.containment_b == 1.0
    assert r.size_ratio == 0.6
