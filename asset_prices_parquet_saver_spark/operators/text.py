"""Text-analysis operators (X4; SURVEY §2.11): quality stats, language
ID, token counting, document fingerprinting, retrieval, collocations.

Expression strategy: JVM built-ins for cheap per-row work; Arrow-
batched ``mapInPandas`` kernels wherever per-token/per-gram math
dominates — Catalyst higher-order-function lambda chains run
INTERPRETED (no codegen), measured 2-18x slower than the numpy/Counter
kernels that replaced them (winnowing, PMI, repetition, tf, n-grams,
Gopher flags). Every path — expression or kernel — is chosen to be
bit-reproducible in an ANSI-SQL oracle: integer arithmetic, guarded
division, ASCII-only tokenization (RE2/Java '\\s'), HALF_UP decimal
rounding, same regexes in the Java/RE2 dialect subset.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from asset_prices_parquet_saver_spark.functions.pandas_ops import (
    spread as spread_narrow,
)
from asset_prices_parquet_saver_spark.functions.pins import pin
from asset_prices_parquet_saver_spark.operators.dedup import words

#: BPE-ish tokenizer: letter runs, digit runs, single other non-space.
TOKEN_REGEX = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

#: Tiny marker-word lists for the n-gram/stopword language heuristic.
LANG_MARKERS = {
    "en": ("the", "a", "of"),
    "es": ("el", "la", "de"),
    "de": ("der", "die", "das"),
}

STOPWORDS = ("a", "the", "of", "and", "is")


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for a DataFrame's optimized plan —
    parquet footers give file-backed scans a real number; plans with
    no statistics report Long.Max (conservative: "assume big")."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return 1 << 62  # unknown: preserve the pre-gate behavior


def n_words(text: Column) -> Column:
    return F.size(words(text))


def token_count(text: Column) -> Column:
    """Whitespace-agnostic BPE-ish token count via regexp_extract_all."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0))


def stopword_ratio(text: Column) -> Column:
    w = words(text)
    nw = F.size(w)
    nstop = F.size(F.filter(w, lambda t: F.lower(t).isin(*STOPWORDS)))
    return F.when(nw > 0, nstop.cast("double") / nw.cast("double"))


def avg_word_len(text: Column) -> Column:
    w = words(text)
    nw = F.size(w)
    total = F.aggregate(
        F.transform(w, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.when(nw > 0, total.cast("double") / nw.cast("double"))


def punct_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(r"[^a-zA-Z0-9\s]"), 0))


def quality_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document quality metrics — length, words, tokens, stopword
    ratio, average word length, punctuation count."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.length(t).alias("n_chars_computed"),
        n_words(t).alias("n_words"),
        token_count(t).alias("n_tokens"),
        stopword_ratio(t).alias("stopword_ratio"),
        avg_word_len(t).alias("avg_word_len"),
        punct_count(t).alias("n_punct"),
    )


def _marker_filter(markers: tuple[str, ...]):
    # NB: binding via closure factory, not a default arg — PySpark counts
    # default args in the lambda arity and would mis-treat this as the
    # two-argument (element, index) form.
    return lambda t: F.lower(t).isin(*markers)


def lang_scores(text: Column) -> dict[str, Column]:
    """Marker-word hit counts per language (the n-gram heuristic)."""
    w = words(text)
    return {
        lang: F.size(F.filter(w, _marker_filter(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def predicted_language_col(text: Column) -> Column:
    """The language-prediction expression itself — usable as a plain
    projection, so a composing pipeline (curated_corpus) can attach it
    with ``withColumn`` instead of re-scanning the corpus and joining
    :func:`predict_language`'s output back on the id (guide §2.4:
    that join was a full self-join shuffle for a value derivable
    per-row)."""
    s = lang_scores(text)
    return (
        F.when((s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] > 0), F.lit("en"))
        .when((s["es"] >= s["de"]) & (s["es"] > 0), F.lit("es"))
        .when(s["de"] > 0, F.lit("de"))
        .otherwise(F.lit("und"))
    )


def predict_language(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Pick the language with the highest marker count ('und' if all 0).

    Deterministic tie-break: priority order en > es > de (strictly-
    greater comparisons in a fixed CASE chain)."""
    return df.select(
        F.col(id_col),
        predicted_language_col(F.col(text_col)).alias("predicted_lang"),
    )


def fingerprint64(text: Column, mod: int = 1_000_000_007) -> Column:
    """Rolling polynomial hash over characters: acc = (acc*31 + code) %
    mod. Stays < 2^35 so no overflow under ANSI mode; reproducible in
    any engine with a list fold."""
    chars = F.filter(F.split(text, ""), lambda c: c != "")
    return F.aggregate(
        F.transform(chars, lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % mod,
    )


def document_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(F.col(id_col), fingerprint64(F.col(text_col)).alias("fingerprint"))


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """X4: per-document top-k terms by TF-IDF over the whole corpus
    (keyword extraction — the corpus-statistics op of a training-data
    pipeline). Returns (id, term, tfidf, rank).

    tf = term_count / doc_len;  idf = ln((N+1)/(df+1)) + 1  (smoothed,
    sklearn-style).  The score is rounded to 6 decimals BEFORE ranking
    and tie-broken by term, so the result set is deterministic across
    engines (same discipline as the cosine queries).

    Scale shape, stats-adaptive (the dense-jaccard discipline): for a
    BIG corpus the (id, term) tf relation is built AND fully counted
    inside an Arrow-batched kernel (a term's in-document count is
    complete within its own row), so the token explode + (id, term)
    groupBy SHUFFLE — corpus × tokens rows through the exchange —
    disappears; for a small corpus (< 64 MiB by Catalyst's estimate)
    the whole-stage-codegen explode + map-side-combined groupBy wins
    on constant factors (no Python/Arrow round-trip) and the shuffle
    it pays is toy-sized (measured r10: 1.25 s vs the kernel's 1.7 s
    at sf0.1). Either way the remaining shuffles are the (id) and
    (term) reductions over already-counted rows; the
    document-frequency side is a term-keyed aggregate joined back on
    term (AQE broadcasts it when small); the corpus size N is a 1-row
    broadcast. Top-k ranking windows per document, never globally.
    """
    import re as _re
    from collections import Counter

    import pandas as pd

    from asset_prices_parquet_saver_spark.functions.pandas_ops import chunked

    def tf_counts(batches):
        ws = _re.compile(r"\s+", _re.ASCII)  # Java/RE2 '\s' is ASCII-only
        for pdf in batches:
            ids: list = []
            terms: list = []
            ns: list = []
            for doc_id, txt in zip(pdf["id"], pdf["text"]):
                if txt is None:
                    continue
                for term, c in Counter(
                    t for t in ws.split(txt) if t
                ).items():
                    ids.append(doc_id)
                    terms.append(term)
                    ns.append(c)
            yield from chunked(pd.DataFrame({"id": ids, "term": terms, "n": ns}))

    big = _plan_size_bytes(df) >= (64 << 20)
    if big:
        df = spread_narrow(df)  # spread the kernel across all cores
    # one corpus scan: doclen / dfreq / ndocs all derive from the tf
    # relation, which is materialized once (without the barrier the
    # optimizer plans four independent scans of the corpus)
    if big:
        tf = (
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
            .mapInPandas(tf_counts, "id long, term string, n long")
            .localCheckpoint()
        )
    else:
        toks = df.select(
            F.col(id_col).alias("id"),
            F.explode(words(F.col(text_col))).alias("term"),
        )
        tf = (
            toks.groupBy("id", "term")
            .agg(F.count("*").alias("n"))
            .localCheckpoint()
        )
    doclen = tf.groupBy("id").agg(F.sum("n").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    ndocs = doclen.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(doclen, "id")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "tfidf",
            F.round(
                (F.col("n") / F.col("dl"))
                * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1),
                6,
            ),
        )
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("id", "term", "tfidf", "rank")
    )


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str | None = None,
    n: int = 3,
) -> DataFrame:
    """X4: benchmark decontamination — per document, the fraction of its
    distinct word n-grams that also occur anywhere in ``benchmark``
    (the standard test-set-leakage screen run before training).
    Returns (id, n_sh, n_hit, contamination); documents with fewer than
    ``n`` words are excluded (no n-grams to test).

    Scale shape: both sides reduce to DISTINCT (id, shingle) /
    (shingle) sets; the hit count is one semi-join-shaped aggregation
    shuffled on the shingle. The benchmark's distinct-shingle set is
    usually small (benchmarks are) — AQE broadcasts it. Joining on the
    raw shingle string keeps the op engine-exact; at extreme scale,
    pre-hash both sides with the same portable 60-bit family
    (functions/portable_hash.py) to cut shuffle bytes ~10x.
    """
    from asset_prices_parquet_saver_spark.operators.dedup import shingle_table

    if bench_text_col is None:
        bench_text_col = text_col
    doc_sh = shingle_table(docs, id_col, text_col, n)
    bench_sh = (
        shingle_table(benchmark, id_col, bench_text_col, n)
        .select("shingle")
        .distinct()
    )
    # ONE corpus pass: the benchmark set is distinct, so a left join
    # with a hit marker preserves row multiplicity exactly — count(*)
    # is the shingle-set size and count(_hit) the semi-join hit count.
    # The previous two-branch form (separate sizes + semi-join-hits
    # subtrees) scanned and exploded the corpus twice; at sf0.1 the
    # wall clock is identical (fixed shuffle costs dominate — A/B'd
    # same-minute), but at 100 TB the duplicated scan+explode is the
    # dominant cost and this form does it once.
    marked = doc_sh.join(
        bench_sh.withColumn("_hit", F.lit(1)), "shingle", "left"
    )
    return marked.groupBy("id").agg(
        F.count("*").cast("long").alias("n_sh"),
        F.count("_hit").cast("long").alias("n_hit"),
        (F.count("_hit") / F.count("*")).alias("contamination"),
    )


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str, n_dup: int = 3, n_top: int = 2
) -> DataFrame:
    """X4 quality signal (the Gopher-style repetition rules): per doc,
    the duplicate n-gram fraction (1 - distinct/total over ``n_dup``-
    grams, duplicates retained) and the top-n-gram fraction (share of
    all ``n_top``-grams taken by the single most frequent one). High
    values flag boilerplate/spam before training. Docs shorter than
    ``n_dup`` words are excluded.

    ONE corpus scan, ZERO gram-keyed shuffles: both gram sizes are
    built AND fully counted inside an Arrow-batched kernel — a gram's
    (id, kind) count is complete within its own document row, so the
    kernel's (id, k, g, c) output already IS the gram-count relation
    the old (id, kind, gram) groupBy shuffled the exploded grams to
    produce (and the interpreted word_shingles HOF built one closure
    call per gram — the winnowing/PMI lesson). The only shuffle left
    is the per-(id, kind) reduction over already-counted rows; the
    final per-doc fold is a conditional pivot — no join."""
    import re as _re
    from collections import Counter

    import pandas as pd

    from asset_prices_parquet_saver_spark.functions.pandas_ops import chunked

    def gram_counts(batches):
        ws = _re.compile(r"\s+", _re.ASCII)  # Java/RE2 '\s' is ASCII-only
        for pdf in batches:
            ids: list = []
            ks: list = []
            gs: list = []
            cs: list = []
            for doc_id, txt in zip(pdf["id"], pdf["text"]):
                if txt is None:
                    continue
                w = [t for t in ws.split(txt) if t]
                for k, nn in ((0, n_dup), (1, n_top)):
                    if len(w) < nn:
                        continue  # word_shingles' short-doc [] semantics
                    grams = Counter(
                        " ".join(w[i : i + nn])
                        for i in range(len(w) - nn + 1)
                    )
                    for g, c in grams.items():
                        ids.append(doc_id)
                        ks.append(k)
                        gs.append(g)
                        cs.append(c)
            yield from chunked(pd.DataFrame({"id": ids, "k": ks, "g": gs, "c": cs}))

    # spread to full parallelism BEFORE the kernel: a small parquet
    # scan arrives in 1-3 partitions, which would serialize the per-doc
    # gram building on as many cores (the same rule as shingle_arrays);
    # already-wide inputs are left alone (no payload shuffle at scale)
    counts = (
        spread_narrow(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        )
        .mapInPandas(gram_counts, "id long, k int, g string, c long")
    )
    per = counts.groupBy("id", "k").agg(
        F.sum("c").alias("tot"),
        F.count("*").alias("nd"),
        F.max("c").alias("mx"),
    )
    folded = per.groupBy("id").agg(
        F.max(F.when(F.col("k") == 0, F.col("tot"))).cast("long").alias("n_ngrams"),
        F.max(F.when(F.col("k") == 0, F.col("nd"))).cast("long").alias("n_distinct"),
        F.max(F.when(F.col("k") == 1, F.col("tot"))).alias("total"),
        F.max(F.when(F.col("k") == 1, F.col("mx"))).cast("long").alias("top_count"),
    )
    return (
        # docs shorter than n_dup words have no kind-0 rows — excluded,
        # matching the previous inner-join semantics
        folded.filter(F.col("n_ngrams").isNotNull())
        .select(
            "id",
            "n_ngrams",
            "n_distinct",
            ((F.col("n_ngrams") - F.col("n_distinct")) / F.col("n_ngrams")).alias(
                "dup_ngram_frac"
            ),
            "top_count",
            (F.col("top_count") / F.col("total")).alias("top_ngram_frac"),
        )
    )


def top_ngrams(
    df: DataFrame, text_col: str, n: int = 2, k: int = 20
) -> DataFrame:
    """X4 corpus statistic: the k most frequent word n-grams across the
    whole corpus (ngram, n), deterministically tie-broken by the ngram
    string. Grams are built AND pre-counted per partition batch in an
    Arrow-batched kernel (the interpreted word_shingles HOF ran one
    closure call per gram — the winnowing/PMI lesson), so the one
    combinable shuffle carries (ngram, partial_count); the top-k is a
    distributed TakeOrdered — no global sort materializes."""
    import re as _re
    from collections import Counter

    import pandas as pd

    from asset_prices_parquet_saver_spark.functions.pandas_ops import chunked

    def gram_counts(batches):
        ws = _re.compile(r"\s+", _re.ASCII)  # Java/RE2 '\s' is ASCII-only
        for pdf in batches:
            c: Counter = Counter()
            for txt in pdf["text"]:
                if txt is None:
                    continue
                w = [t for t in ws.split(txt) if t]
                if len(w) < n:
                    continue
                c.update(
                    " ".join(w[i : i + n]) for i in range(len(w) - n + 1)
                )
            yield from chunked(
                pd.DataFrame({"ngram": list(c.keys()), "c": list(c.values())})
            )

    # spread first — a small scan's 1-3 partitions would serialize the
    # kernel on as many cores (see shingle_table); already-wide inputs
    # are left alone (no payload shuffle at scale)
    grams = (
        spread_narrow(df.select(F.col(text_col).alias("text")))
        .mapInPandas(gram_counts, "ngram string, c long")
    )
    return (
        grams.groupBy("ngram")
        .agg(F.sum("c").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("ngram").asc())
        .limit(k)
    )


# ----------------------------------------------------- PII scrubbing

#: redaction patterns, ordered (emails contain digits and dots, so they
#: must be masked before phone/IP patterns can misfire inside them).
#: Dialect-portable subset: char classes, bounded repeats and \b work
#: identically in Java regex (Spark) and RE2 (DuckDB / Go scanners).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b", "<PHONE>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
)


def redact_pii(text: Column) -> Column:
    """Mask emails, NANP-style phone numbers, and IPv4 addresses with
    typed placeholder tokens — the standard pre-training scrub pass.
    Chained JVM-side ``regexp_replace`` (no UDF); pattern order matters
    and is fixed by ``PII_PATTERNS``."""
    out = text
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind match counts (for corpus audit reports), same patterns
    as :func:`redact_pii`. Counted on the RAW text — order-independent."""
    return {
        kind: F.size(F.regexp_extract_all(text, F.lit(pat), 0)).cast("long")
        for kind, pat, _ in PII_PATTERNS
    }


def pii_oracle_exprs(text_sql: str) -> tuple[str, dict[str, str]]:
    """(redacted-text SQL, per-kind count SQL) mirroring the above in
    DuckDB (global replace needs the explicit ``'g'`` flag there)."""
    red = text_sql
    for _, pat, repl in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    counts = {
        kind: f"CAST(len(regexp_extract_all({text_sql}, '{pat}')) AS BIGINT)"
        for kind, pat, _ in PII_PATTERNS
    }
    return red, counts


# ------------------------------------------- context-window chunking

def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tokens_per_chunk: int = 16,
    stride: int | None = None,
) -> DataFrame:
    """Split each document's whitespace tokens into fixed-size
    context-window chunks: one output row per (doc, chunk) with the
    chunk ordinal, its token count, and the re-joined chunk text.

    ``stride`` (default = ``tokens_per_chunk``, i.e. non-overlapping)
    gives sliding windows: chunk i starts at token i·stride, so
    stride < tokens_per_chunk produces the overlapping context windows
    a RAG embedding pipeline uses (boundary-spanning passages appear
    whole in some window). One window per start position < n_tokens.

    Pure narrow transformation — split / slice / posexplode are all
    JVM-side; no shuffle, so it runs at scan speed and composes with
    any downstream repartitioning (e.g. pack_training_shards for
    token-budgeted shard assignment of the chunks)."""
    k = tokens_per_chunk
    s = tokens_per_chunk if stride is None else stride
    if s <= 0 or s > k:
        raise ValueError(f"stride must be in [1, tokens_per_chunk], got {s}")
    # empty-filtered tokens (the words() rule): a bare split of an
    # empty/whitespace-only doc yields [""], which produced one phantom
    # chunk (n_tokens=1, chunk_text="") per such doc — and made every
    # one of them collide on "" in chunk-level dedup
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda w: w != "")
    n_chunks = F.ceil(F.size(toks) / F.lit(s)).cast("int")
    # sequence(0, -1) is a DESCENDING [0, -1], not [] — guard empty docs
    chunks = F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.slice(toks, i * s + 1, k),
        ),
    ).otherwise(F.array().cast("array<array<string>>"))
    return df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "toks"),
    ).select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size("toks").cast("long").alias("n_tokens"),
        F.array_join("toks", " ").alias("chunk_text"),
    )


# --------------------------------------------------- BM25 retrieval

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: tuple[str, ...],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Okapi-BM25 document retrieval for a bag-of-terms query: the k
    highest-scoring documents with their (rounded) score and the number
    of distinct query terms they contain.

    score(d) = Σ_t idf(t) · tf · (k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) — the standard
    Robertson/Sparck-Jones formulation. The score is rounded to 6
    decimals before the cut and tie-broken by doc id, so the result set
    is deterministic across engines (cosine-query discipline).

    Scale shape: the corpus scan feeds two map-side-combinable
    aggregations — doc length (keyed on id) and term frequency (keyed
    on (id, term), pre-filtered to the query's terms, so its volume is
    O(matching docs), not O(corpus)). Document frequency and the
    (N, avgdl) pair are tiny aggregates broadcast to the scorer; the
    final top-k is a distributed TakeOrdered, never a global sort. At
    100 TB this is one corpus pass + shuffles proportional to the
    match set — the same shape a search engine's batch scorer runs.
    """
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(words(F.col(text_col))).alias("term")
    )
    # doclen and tf each feed TWO consumers (stats + the scorer join;
    # dfreq + the scorer probe): unpinned, each consumer re-tokenizes
    # the corpus, so the scan ran 4x per query (plan-verified). Pin
    # both once — doclen is O(docs) narrow longs, tf is O(matching
    # docs x query terms) — and the corpus is tokenized exactly twice
    # (once per aggregation key shape), never per consumer.
    doclen = pin(toks.groupBy("id").agg(F.count("*").alias("dl")))
    stats = doclen.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = pin(
        toks.filter(F.col("term").isin(*query_terms))
        .groupBy("id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = idf * (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(doclen, "id")
        .crossJoin(F.broadcast(stats))
        .select("id", contrib.alias("contrib"))
    )
    return (
        scored.groupBy("id")
        .agg(
            F.round(F.sum("contrib"), 6).alias("score"),
            F.count("*").cast("long").alias("n_terms_hit"),
        )
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(k)
    )


# ------------------------------------- chunk-level (paragraph) dedup

def chunk_dedup(
    df: DataFrame, id_col: str, text_col: str, tokens_per_chunk: int = 16
) -> DataFrame:
    """Cross-document exact dedup at sub-document granularity — the
    paragraph-dedup pass of a pretraining pipeline (C4/CCNet remove
    repeated three-sentence spans / frequent paragraphs corpus-wide;
    this corpus has no sentence boundaries, so the unit is the fixed
    token window of :func:`chunk_documents`).

    A chunk survives iff it is the FIRST occurrence of its text
    corpus-wide (ordered by (doc, chunk ordinal) — deterministic).
    Output: one row per document with its chunk counts and the cleaned
    text re-joined from surviving chunks in original order (empty
    string when every chunk was a repeat).

    Scale shape: chunking is narrow (scan speed); the survivor choice
    is ONE shuffle keyed on the chunk text (min-occurrence aggregation
    — map-side combinable, and the natural place to swap in the
    portable 60-bit hash as the key at 100 TB to cut shuffle bytes);
    reassembly is one shuffle back on the doc id. No windows, no
    self-joins.
    """
    chunks = chunk_documents(df, id_col, text_col, tokens_per_chunk)
    first = chunks.groupBy("chunk_text").agg(
        F.min(F.struct(F.col(id_col), F.col("chunk_id"))).alias("first_occ")
    )
    marked = chunks.join(first, "chunk_text").select(
        F.col(id_col).alias("id"),
        "chunk_id",
        "chunk_text",
        (
            (F.col("first_occ")[id_col] == F.col(id_col))
            & (F.col("first_occ.chunk_id") == F.col("chunk_id"))
        ).alias("keep"),
    )
    ordered = F.array_sort(
        F.collect_list(F.struct("chunk_id", "chunk_text", "keep"))
    )
    kept = F.filter(ordered, lambda x: x["keep"])
    return marked.groupBy("id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(F.col("keep").cast("long")).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(kept, lambda x: x["chunk_text"]), " "
        ).alias("cleaned_text"),
    )


# ------------------------------------- model-based quality filtering

#: Pinned linear-model weights over the quality_stats feature vector —
#: the fasttext/CCNet-style learned quality classifier, shipped as an
#: artifact exactly like the ANN quantizers (train offline, pin, score
#: in-plan). Feature order: [n_words, n_tokens, stopword_ratio,
#: avg_word_len, punct_ratio]; bias last.
QUALITY_WEIGHTS: tuple[float, ...] = (0.02, 0.01, 4.0, 0.5, -6.0)
QUALITY_BIAS: float = -3.0


def quality_classifier(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Model-based quality scoring: sigmoid(w·features + b) over the
    :func:`quality_stats` features, with the keep decision at 0.5 —
    the shape of every learned quality filter in pretraining pipelines
    (CCNet's fasttext LM filter, Gopher's quality classifier). The
    logit is rounded to 6 decimals BEFORE the sigmoid/threshold so the
    score and the keep set are reproducible across engines.

    Scale: a pure narrow map over the stats projection — runs at scan
    speed, composes with any downstream sampler or dedup stage."""
    stats = quality_stats(df, id_col, text_col)
    w = QUALITY_WEIGHTS
    punct_ratio = F.when(
        F.col("n_chars_computed") > 0,
        F.col("n_punct") / F.col("n_chars_computed"),
    ).otherwise(F.lit(0.0))
    logit = F.round(
        F.col("n_words") * w[0]
        + F.col("n_tokens") * w[1]
        + F.coalesce(F.col("stopword_ratio"), F.lit(0.0)) * w[2]
        + F.coalesce(F.col("avg_word_len"), F.lit(0.0)) * w[3]
        + punct_ratio * w[4]
        + F.lit(QUALITY_BIAS),
        6,
    )
    return stats.select(
        F.col(id_col),
        logit.alias("logit"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias(
            "quality_score"
        ),
        (logit > 0).alias("keep"),
    )


# --------------------------------------- unigram LM perplexity proxy

def unigram_logppl(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document average negative log-probability under the corpus's
    OWN unigram language model (add-one smoothed) — the cheap, fully
    relational stand-in for the KenLM perplexity filter: boilerplate
    and topic-typical text score low, rare-token noise scores high.

    avg_neg_logp(d) = (1/|d|) Σ_{w∈d} −ln((c(w)+1)/(C+V))

    where c(w) = corpus count, C = corpus token count, V = vocabulary
    size. Rounded to 6 decimals (engine-reproducible).

    Scale shape: term counts are ONE map-side-combinable shuffle keyed
    on the term; (C, V) is a 1-row broadcast; the per-doc average is a
    second doc-keyed combinable aggregation joined to the (usually
    broadcast-small) term-count relation. Two passes over the token
    stream, nothing global."""
    df = spread_narrow(df)  # unserialize the interpreted words() HOF
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(words(F.col(text_col))).alias("term")
    )
    # pinned: counts feeds both the totals fold and the scoring join —
    # unpinned, each consumer re-tokenized the corpus (3 scans total,
    # plan-verified); pinned, the token stream is built exactly twice
    # (the count keyed on term, the probe keyed on id)
    counts = pin(toks.groupBy("term").agg(F.count("*").alias("c")))
    totals = counts.agg(
        F.sum("c").alias("corpus_tokens"), F.count("*").alias("vocab")
    )
    neglogp = -F.log(
        (F.col("c") + 1).cast("double")
        / (F.col("corpus_tokens") + F.col("vocab")).cast("double")
    )
    return (
        toks.join(counts, "term")
        .crossJoin(F.broadcast(totals))
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.avg(neglogp), 6).alias("avg_neg_logp"),
        )
    )


def bigram_logppl(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document average negative log-probability under the
    corpus's OWN add-one-smoothed BIGRAM model — one rung up the
    KenLM-filter ladder from ``unigram_logppl``: repeated boilerplate
    scores even lower (its transitions are memorized), shuffled or
    noisy text scores higher (unseen transitions hit the smoothing
    floor).

        avg_neg_logp(d) = (1/(|d|-1)) Σ_t −ln((c(w_{t-1} w_t)+1) /
                                              (c(w_{t-1})+V))

    with c(·) corpus counts and V the unigram vocabulary size.
    Single-word documents drop out (no transitions).

    Scale shape: bigrams are formed INSIDE each document row with
    array ops (zip of the token array against itself shifted — no
    positional self-join over the corpus); transition counts and
    conditioning counts are two map-side-combinable shuffles; V is a
    1-row broadcast; the per-doc average is a doc-keyed combinable
    aggregation."""
    df = spread_narrow(df)  # unserialize the interpreted words() HOF
    toks = df.select(
        F.col(id_col).alias("id"), words(F.col(text_col)).alias("toks")
    ).filter(F.size("toks") >= 2)
    n = F.size("toks")
    bigrams = toks.select(
        "id",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("toks"), 1, n - 1).alias("w1"),
                F.slice(F.col("toks"), 2, n - 1).alias("w2"),
            )
        ).alias("bg"),
    ).select("id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))

    uni = df.select(F.explode(words(F.col(text_col))).alias("term"))
    # pinned: c1 feeds both the vocab fold and the scoring join —
    # unpinned, each consumer re-tokenized the corpus (4 scans total
    # with the bigram probe, plan-verified; 3 after the pin)
    c1 = pin(uni.groupBy("term").agg(F.count("*").alias("c1")))
    vocab = c1.agg(F.count("*").alias("vocab"))
    c12 = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))

    neglogp = -F.log(
        (F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("vocab")).cast("double")
    )
    return (
        bigrams.join(c12, ["w1", "w2"])
        .join(c1.withColumnRenamed("term", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(F.avg(neglogp), 6).alias("avg_neg_logp"),
        )
    )


# ------------------------------------------------- winnowing (MOSS)

def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """MOSS winnowing fingerprints (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003): hash every word ``k``-gram with the portable rolling
    polynomial (same fold as :func:`fingerprint64`), slide a window of
    ``window`` consecutive k-gram hashes, and select each window's
    MINIMUM — the selected-value set is position-independent, so two
    documents sharing a long-enough passage are guaranteed to share a
    selected fingerprint (the winnowing guarantee: any match of length
    ≥ window + k − 1 words is detected). Output: distinct
    (id, fingerprint) pairs — join them on fingerprint for plagiarism/
    overlap-style candidate pairs.

    Boundary semantics: documents with fewer than ``window`` k-grams
    (but at least one) contribute the minimum of all their hashes;
    documents shorter than ``k`` words contribute nothing.

    Scale shape: everything up to the final distinct is a NARROW map —
    selection happens inside the kernel (no explode of the hash stream
    before winnowing shrinks it ~1/window); the only shuffle is the
    distinct over (id, fingerprint).

    Implementation note (measured): the pure-Catalyst form — nested
    higher-order functions computing the per-character fold per gram —
    ran INTERPRETED (no codegen for lambda chains) at 14.9 s for sf0.1,
    the most expensive query in the whole bench. This Arrow-batched
    numpy kernel computes the identical hash with a vectorized Horner
    sweep (one masked multiply-add per character POSITION over the
    whole gram batch, ~30 iterations total instead of one closure call
    per character) and the window minima as ``window`` shifted-slice
    minimums — same dedup._hashed_shingle_rows rationale, same
    oracle-replayable arithmetic (fold stays in int64: acc < 2^30,
    acc·31+code < 2^35)."""
    import re
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from asset_prices_parquet_saver_spark.functions.pandas_ops import (
        chunked as _chunked,
    )

    mod = 1_000_000_007
    ws_re = re.compile(r"\s+", re.ASCII)  # Java/RE2 '\s' is ASCII-only

    def winnow(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids: list = []
            out_fps: list = []
            gram_rows: list[tuple[int, str]] = []
            for doc_id, txt in zip(pdf["id"], pdf["text"]):
                if txt is None:
                    continue
                # no .strip(): Python's str.strip removes ALL Unicode
                # whitespace while the JVM words()/DuckDB trim+\s path
                # is ASCII-only, so NBSP-bounded text would tokenize
                # differently; the empty-token filter already handles
                # ASCII boundary whitespace.
                w = [t for t in ws_re.split(txt) if t]
                gram_rows.extend(
                    (doc_id, " ".join(w[i : i + k]))
                    for i in range(len(w) - k + 1)
                )
            if not gram_rows:
                yield pd.DataFrame({"id": out_ids, "fingerprint": out_fps})
                continue
            grams = [g for _, g in gram_rows]
            maxlen = max(len(g) for g in grams)
            codes = np.zeros((len(grams), maxlen), dtype=np.int64)
            lens = np.fromiter((len(g) for g in grams), dtype=np.int64)
            for r, g in enumerate(grams):
                # utf-32-le = one uint32 CODE POINT per char — exactly
                # what Spark/DuckDB ascii() folds over
                codes[r, : len(g)] = np.frombuffer(
                    g.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
            acc = np.zeros(len(grams), dtype=np.int64)
            for j in range(maxlen):  # Horner, masked past each gram's end
                live = lens > j
                acc[live] = (acc[live] * 31 + codes[live, j]) % mod
            # per-doc winnowing: gram_rows are grouped by doc in order
            start = 0
            for r in range(1, len(gram_rows) + 1):
                if r == len(gram_rows) or gram_rows[r][0] != gram_rows[start][0]:
                    hs = acc[start:r]
                    if len(hs) >= window:
                        sel = np.min(
                            np.lib.stride_tricks.sliding_window_view(hs, window),
                            axis=1,
                        )
                    else:
                        sel = hs.min(keepdims=True)
                    for fp in np.unique(sel):
                        out_ids.append(gram_rows[start][0])
                        out_fps.append(int(fp))
                    start = r
            yield from _chunked(
                pd.DataFrame({"id": out_ids, "fingerprint": out_fps})
            )

    df = spread_narrow(df)  # spread the kernel across all cores
    return (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        .mapInPandas(winnow, "id long, fingerprint long")
        .distinct()
    )


# ------------------------------------------- Gopher quality rules

#: Gopher rule constants (Rae et al. 2021, "Scaling Language Models:
#: Methods, Analysis & Insights from Training Gopher", App. A1.1) —
#: the word-count band is scaled to this corpus's short synthetic
#: documents; every other threshold is the published value.
GOPHER_MIN_WORDS = 5
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_AVG_WORD_LEN = 3.0
GOPHER_MAX_AVG_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_MIN_DISTINCT_STOPWORDS = 2


def gopher_quality_flags(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document Gopher quality-rule booleans plus the conjunction
    (``keep``) — the published rule set LLM pipelines apply before
    dedup: word-count band, mean-word-length band, symbol-to-word
    ratio (# and … as in the paper), fraction of words containing an
    alphabetic character, and distinct-stopword presence. One narrow
    Arrow-batched kernel per partition, no shuffle at all — the
    pure-Catalyst form chained five interpreted HOF lambdas per
    document (filter/aggregate/array_distinct closures, no codegen)
    and was the costliest pure-map query in the bench.

    Kernel semantics mirror the SQL oracle bit-for-bit: ASCII-\\s
    tokenize, char-count word lengths, non-overlapping left-to-right
    regex for the symbol count, and the empty-doc NULL discipline of
    the expression form (avg_word_len/ok_avg_word_len are NULL at
    n_words = 0; the SQL FALSE-AND-NULL fold still yields keep =
    FALSE)."""
    import re as _re
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    stops = set(STOPWORDS)
    _q6 = Decimal("0.000001")

    def _round6(x: float) -> float:
        # Spark's F.round is HALF_UP over the exact binary double
        # (BigDecimal(double)); Python's round() is banker's — the two
        # differ on exact 7th-decimal ties (e.g. 45/128)
        return float(Decimal(x).quantize(_q6, rounding=ROUND_HALF_UP))

    def flags(batches):
        ws = _re.compile(r"\s+", _re.ASCII)  # Java/RE2 '\s' is ASCII-only
        sym = _re.compile(r"#|\.\.\.")
        alpha = _re.compile(r"[a-zA-Z]")
        for pdf in batches:
            out = {
                "id": [], "n_words": [], "avg_word_len": [],
                "ok_word_count": [], "ok_avg_word_len": [],
                "ok_symbol_ratio": [], "ok_alpha_words": [],
                "ok_stopwords": [], "keep": [],
            }
            for doc_id, txt in zip(pdf["id"], pdf["text"]):
                w = [t for t in ws.split(txt) if t] if txt is not None else []
                nw = len(w)
                out["id"].append(doc_id)
                out["n_words"].append(nw)
                if nw == 0:
                    # expression-form NULL discipline: avg over an
                    # empty doc is NULL, so its band check is NULL too;
                    # keep folds to FALSE via FALSE AND NULL
                    out["avg_word_len"].append(None)
                    out["ok_avg_word_len"].append(None)
                    out["ok_word_count"].append(False)
                    out["ok_symbol_ratio"].append(False)
                    out["ok_alpha_words"].append(False)
                    out["ok_stopwords"].append(False)
                    out["keep"].append(False)
                    continue
                awl = sum(len(t) for t in w) / nw
                n_sym = len(sym.findall(txt))
                n_alpha = sum(1 for t in w if alpha.search(t))
                n_stops = len({t.lower() for t in w if t.lower() in stops})
                ok_words = GOPHER_MIN_WORDS <= nw <= GOPHER_MAX_WORDS
                ok_awl = (
                    GOPHER_MIN_AVG_WORD_LEN <= awl <= GOPHER_MAX_AVG_WORD_LEN
                )
                ok_sym = n_sym / nw < GOPHER_MAX_SYMBOL_RATIO
                ok_alpha = n_alpha / nw > GOPHER_MIN_ALPHA_WORD_FRAC
                ok_stops = n_stops >= GOPHER_MIN_DISTINCT_STOPWORDS
                out["avg_word_len"].append(_round6(awl))
                out["ok_word_count"].append(ok_words)
                out["ok_avg_word_len"].append(ok_awl)
                out["ok_symbol_ratio"].append(ok_sym)
                out["ok_alpha_words"].append(ok_alpha)
                out["ok_stopwords"].append(ok_stops)
                out["keep"].append(
                    ok_words and ok_awl and ok_sym and ok_alpha and ok_stops
                )
            yield pd.DataFrame(out)

    df = spread_narrow(df)  # spread the kernel across all cores
    return (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        .mapInPandas(
            flags,
            "id long, n_words int, avg_word_len double, "
            "ok_word_count boolean, ok_avg_word_len boolean, "
            "ok_symbol_ratio boolean, ok_alpha_words boolean, "
            "ok_stopwords boolean, keep boolean",
        )
        .withColumnRenamed("id", id_col)
    )


def winnowing_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """Candidate overlap pairs from winnowing fingerprints: documents
    sharing at least ``min_shared`` selected fingerprints — the MOSS
    report relation (plagiarism / passage-reuse candidates), cheap
    because the fingerprint relation is already winnowed to ~1/window
    of the k-gram stream.

    Scale shape: the self-equi-join is keyed on the fingerprint —
    selected minima are far rarer than raw shingles, so posting lists
    stay short; the pair aggregation is one combinable shuffle on
    (id_a, id_b)."""
    # pinned: the fingerprint relation feeds BOTH self-join sides —
    # unpinned, the winnow kernel + distinct ran once per side
    # (plan-verified 2x: a broadcast build side is a different subtree
    # shape from the probe side, so ReuseExchange never fires), and AQE
    # broadcasting one side guarantees the duplication
    fp = pin(winnowing_fingerprints(df, id_col, text_col, k, window))
    a = fp.select(F.col("id").alias("id_a"), "fingerprint")
    b = fp.select(F.col("id").alias("id_b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= min_shared)
    )


def positional_index(
    df: DataFrame, id_col: str, text_col: str, spread: bool | None = None
) -> DataFrame:
    """Positional postings (term, id, pos) with 1-based token
    positions — the index layout phrase/proximity retrieval needs (the
    positions-carrying sibling of the df-only inverted index). At
    warehouse scale this is the relation to persist bucketed on
    ``term`` (:func:`build_positional_index`) so phrase/proximity
    queries bucket-prune the scan instead of re-tokenizing the
    corpus.

    ``spread`` controls the pre-tokenize ``repartition`` that fans a
    few-partition scan out to every core: True forces it (the persist
    / full-materialization path), False skips it, None (default)
    spreads only when Catalyst's size estimate says the corpus is big
    enough (≥ 64 MiB) for the single-core tokenize to outweigh a raw
    text shuffle — the BENCH-r9 `phrase_search` regression was this
    shuffle taxing sub-second ad-hoc queries on small scans."""
    if spread is None:
        spread = _plan_size_bytes(df) >= (64 << 20)
    if spread:
        df = spread_narrow(df)  # unserialize the interpreted words() HOF
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(words(F.col(text_col))).alias("pos0", "term"),
    ).select("term", "id", (F.col("pos0") + 1).alias("pos"))


def term_postings(
    df: DataFrame, id_col: str, text_col: str, terms: tuple
) -> DataFrame:
    """Postings restricted to exactly ``terms``, term-filtered BEFORE
    the ``localCheckpoint`` barrier — so ONE tokenize pass feeds every
    downstream join branch, but only the query terms' postings ever
    materialize (corpus-size-independent for selective terms; the
    unfiltered form would checkpoint corpus × tokens rows per query)."""
    return (
        positional_index(df, id_col, text_col)
        .filter(F.col("term").isin(*terms))
        .localCheckpoint()
    )


def _phrase_hits(idx: DataFrame, terms: list) -> DataFrame:
    """k−1 equi-joins on (id, adjusted position) over a postings
    relation already restricted to the phrase terms: term i must sit
    at pos(first term) + i."""
    hits = idx.filter(F.col("term") == terms[0]).select("id", "pos")
    for i, t in enumerate(terms[1:], start=1):
        nxt = idx.filter(F.col("term") == t).select(
            "id", (F.col("pos") - i).alias("pos")
        )
        hits = hits.join(nxt, ["id", "pos"])
    return hits.groupBy("id").agg(
        F.count("*").cast("long").alias("n_occurrences")
    )


def _proximity_hits(
    idx: DataFrame, term_a: str, term_b: str, max_distance: int
) -> DataFrame:
    """Document-keyed equi-join of two terms' postings with the
    |pa − pb| distance predicate as a residual filter."""
    a = idx.filter(F.col("term") == term_a).select("id", F.col("pos").alias("pa"))
    b = idx.filter(F.col("term") == term_b).select("id", F.col("pos").alias("pb"))
    return (
        a.join(b, "id")
        .filter(F.abs(F.col("pa") - F.col("pb")) <= max_distance)
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("n_cooccurrences"))
    )


def phrase_search(
    df: DataFrame, id_col: str, text_col: str, phrase: str
) -> DataFrame:
    """Exact phrase match: k terms become k−1 equi-joins on (id,
    adjusted position). Returns (id, n_occurrences) for documents
    containing the phrase at least once.

    Scale shape: the term predicate applies BEFORE the one
    checkpointed tokenize pass (:func:`term_postings`), so the k join
    branches share a materialized relation holding ONLY the phrase
    terms' postings — corpus-size-independent for selective phrases;
    every join is an equi-join on (id, pos), never positional cross
    products. For repeated queries against a stable corpus, build the
    term-bucketed persisted index once (:func:`build_positional_index`)
    and use :func:`phrase_search_indexed`, which bucket-prunes the
    scan instead of tokenizing at all."""
    terms = [t for t in phrase.split() if t]
    if not terms:
        raise ValueError("phrase_search: empty phrase")
    idx = term_postings(df, id_col, text_col, tuple(terms))
    return _phrase_hits(idx, terms)


def proximity_search(
    df: DataFrame,
    id_col: str,
    text_col: str,
    term_a: str,
    term_b: str,
    max_distance: int = 5,
) -> DataFrame:
    """Proximity retrieval: documents where ``term_a`` and ``term_b``
    occur within ``max_distance`` token positions, with the
    co-occurrence-pair count — the NEAR operator of classic IR
    engines, and the relation behind co-occurrence statistics (PMI
    windows) in corpus analysis.

    Scale shape: the two-term predicate applies BEFORE the one
    checkpointed tokenize pass (:func:`term_postings`), so only the
    two terms' postings materialize; the join is an equi-join on the
    document id with the distance predicate as a residual filter —
    per-document fan-out is bounded by the terms' in-document
    frequencies, never by corpus size. Repeated queries: see
    :func:`proximity_search_indexed`."""
    idx = term_postings(df, id_col, text_col, (term_a, term_b))
    return _proximity_hits(idx, term_a, term_b, max_distance)


def build_positional_index(
    df: DataFrame, id_col: str, text_col: str, table: str,
    num_buckets: int = 32,
) -> None:
    """Persist the positional postings as a managed table PHYSICALLY
    BUCKETED by term: a phrase/proximity query against the table is a
    bucket-PRUNED scan
    (Spark reads only the buckets the term IN-predicate hashes to —
    plan shows ``SelectedBucketsCount``) feeding the same (id, pos)
    equi-joins, so query cost is postings-of-the-query-terms, with no
    tokenize pass and no corpus-side shuffle or full scan. Sorted
    within buckets by (term, id, pos) for row-group min/max skipping
    within the selected buckets."""
    from asset_prices_parquet_saver_spark.sources.warehouse import (
        heal_table_location,
    )

    heal_table_location(df.sparkSession, table)  # orphaned dir
    (
        positional_index(df, id_col, text_col, spread=True)
        .write.bucketBy(num_buckets, "term")
        .sortBy("term", "id", "pos")
        .mode("overwrite")
        .saveAsTable(table)
    )


def phrase_search_indexed(spark, table: str, phrase: str) -> DataFrame:
    """:func:`phrase_search` against a persisted term-bucketed
    positional index (:func:`build_positional_index`): the term
    IN-predicate bucket-prunes the scan, so the whole query touches
    only the phrase terms' buckets."""
    terms = [t for t in phrase.split() if t]
    if not terms:
        raise ValueError("phrase_search_indexed: empty phrase")
    idx = spark.table(table).filter(F.col("term").isin(*terms))
    return _phrase_hits(idx, terms)


def proximity_search_indexed(
    spark, table: str, term_a: str, term_b: str, max_distance: int = 5
) -> DataFrame:
    """:func:`proximity_search` against a persisted term-bucketed
    positional index — bucket-pruned scan, no tokenize pass."""
    idx = spark.table(table).filter(F.col("term").isin(term_a, term_b))
    return _proximity_hits(idx, term_a, term_b, max_distance)


def pmi_cooccurrence(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 5,
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top-k term pairs by pointwise mutual information over a forward
    co-occurrence window — the collocation statistic of corpus
    analysis (Church & Hanks 1990): PMI(a,b) = ln(P(a,b)/(P(a)P(b)))
    with P(a,b) from within-``window`` pair counts and P(·) from
    unigram counts. ``min_count`` guards the low-frequency PMI bias;
    the score is rounded to 6 decimals BEFORE ranking with an (a, b)
    tie-break, so the result set is deterministic across engines (the
    tfidf discipline).

    Scale shape: pairs are built INSIDE each partition batch (one
    shifted-slice comparison per window offset, no positional
    self-join over the corpus) and PRE-COUNTED there, so the only
    pair-shaped shuffle carries (a, b, partial_count) — a map-side
    combine in the kernel itself; unigram counts are one combinable
    shuffle; totals are a 1-row broadcast; the top-k is a TakeOrdered,
    never a global sort.

    Implementation note (measured, the winnowing precedent at
    ``text.py`` winnow kernel): the pure-Catalyst form — nested
    ``F.sequence``/``F.transform``/``F.filter`` lambdas building the
    window pairs in-row — runs INTERPRETED (no codegen for HOF lambda
    chains) and made this the 2nd most expensive bench query (4.0 s at
    sf0.1, ~linear in data). This Arrow-batched numpy kernel builds
    all pairs of one partition batch as ``window`` shifted-slice
    vector ops (doc-boundary masked) and pre-aggregates counts with a
    hashed pandas groupby — identical pair multiset, so the unchanged
    SQL oracle certifies the rewrite."""
    import re as _re
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from asset_prices_parquet_saver_spark.functions.pandas_ops import chunked

    ws_re = _re.compile(r"\s+", _re.ASCII)  # Java/RE2 '\s' is ASCII-only

    def pair_counts_kernel(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        empty = pd.DataFrame(
            {"a": pd.Series(dtype=object), "b": pd.Series(dtype=object),
             "c": pd.Series(dtype="int64")}
        )
        for pdf in batches:
            toks_all: list[str] = []
            doc_all: list[int] = []
            for di, txt in enumerate(pdf[text_col]):
                if txt is None:
                    continue
                # no .strip(): match the ASCII-only JVM words() path
                w = [t for t in ws_re.split(txt) if t]
                toks_all.extend(w)
                doc_all.extend([di] * len(w))
            if len(toks_all) < 2:
                yield empty
                continue
            toks = np.asarray(toks_all, dtype=object)
            docs = np.asarray(doc_all, dtype=np.int64)
            a_parts: list[np.ndarray] = []
            b_parts: list[np.ndarray] = []
            for d in range(1, window + 1):
                if d >= len(toks):
                    break
                x, y = toks[:-d], toks[d:]
                # same-document forward pairs only; a==b pairs dropped
                live = (docs[:-d] == docs[d:]) & (x != y)
                x, y = x[live], y[live]
                swap = x > y  # code-point order == UTF-8 binary order
                a_parts.append(np.where(swap, y, x))
                b_parts.append(np.where(swap, x, y))
            if not a_parts:
                yield empty
                continue
            part = (
                pd.DataFrame(
                    {"a": np.concatenate(a_parts), "b": np.concatenate(b_parts)}
                )
                .groupby(["a", "b"], sort=False)
                .size()
                .reset_index(name="c")
            )
            part["c"] = part["c"].astype("int64")
            yield from chunked(part)

    df = spread_narrow(df)  # spread the kernel across all cores
    w = words(F.col(text_col))
    pair_parts = df.select(F.col(text_col)).mapInPandas(
        pair_counts_kernel, "a string, b string, c long"
    )
    toks = df.select(F.explode(w).alias("term"))
    # pinned: cab feeds the rule chain AND the n_pairs total, ca feeds
    # two join sides AND the n_tok total — unpinned, the pair kernel
    # ran twice and the tokenize three times (plan-verified). The
    # totals fold the pinned aggregates instead of re-scanning the
    # corpus: n_pairs = Σ c_ab over all pairs = Σ c (exact longs),
    # n_tok = Σ ca.c = count of tokens (exact) — the dsir totals-fold.
    cab = pin(
        pair_parts.groupBy("a", "b").agg(F.sum("c").alias("c_ab"))
    )
    ca = pin(toks.groupBy("term").agg(F.count("*").alias("c")))
    totals = cab.agg(F.sum("c_ab").alias("n_pairs")).crossJoin(
        ca.agg(F.sum("c").alias("n_tok"))
    )
    pmi = F.round(
        F.log(
            (F.col("c_ab").cast("double") / F.col("n_pairs"))
            / (
                (F.col("ca1").cast("double") / F.col("n_tok"))
                * (F.col("ca2").cast("double") / F.col("n_tok"))
            )
        ),
        6,
    )
    return (
        cab.filter(F.col("c_ab") >= min_count)
        .join(ca.select(F.col("term").alias("a"), F.col("c").alias("ca1")), "a")
        .join(ca.select(F.col("term").alias("b"), F.col("c").alias("ca2")), "b")
        .crossJoin(F.broadcast(totals))
        .select("a", "b", F.col("c_ab").cast("long").alias("c_ab"), pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "a", "b")
        .limit(k)
    )


def dsir_log_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: Column,
    buckets: int = 1024,
) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): per-document
    log-importance weights from hashed n-gram features. Features are
    word unigrams + forward bigrams hashed to ``buckets`` buckets with
    the portable md5-60 family; the weight is

        log w(d) = Σ_b c_d[b] · ( ln p_target[b] − ln p_raw[b] )

    with Laplace-smoothed bucket distributions p[b] = (count[b] + 0.5)
    / (total + 0.5·buckets), the target distribution estimated from
    the rows where ``target`` is true and the raw distribution from
    the whole corpus. Returns (id, n_feats, log_weight) — documents
    that look like the target domain score high; resampling by this
    weight is the DSIR selection step.

    Scale shape: ONE corpus pass — an Arrow-batched kernel tokenizes,
    hashes (per-batch distinct-gram md5 cache, the signature-cache
    precedent), and PRE-COUNTS (id, bucket) features in-row, so the
    only feature-shaped shuffle carries (id, tgt, b, c) pre-combined
    rows. Bucket statistics are two map-side-combinable aggregates
    bounded by ``buckets`` rows, joined back as a broadcast; totals
    are a 1-row broadcast; the final per-document fold is one
    combinable agg keyed on id. Nothing in the plan grows faster than
    O(corpus tokens), and every relation that crosses the exchange is
    either pre-counted or bucket-bounded. Reference analogue: none
    (X4 data-selection family, SURVEY §2.11)."""
    import hashlib
    import re as _re

    import pandas as pd

    from asset_prices_parquet_saver_spark.functions.hints import bounded_broadcast
    from asset_prices_parquet_saver_spark.functions.pandas_ops import chunked

    ws_re = _re.compile(r"\s+", _re.ASCII)  # Java/RE2 '\s' is ASCII-only

    def feature_counts(batches):
        hx: dict = {}  # per-batch distinct-gram md5 cache

        def bucket(g: str) -> int:
            b = hx.get(g)
            if b is None:
                b = int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % buckets
                hx[g] = b
            return b

        for pdf in batches:
            ids: list = []
            tgs: list = []
            bs: list = []
            cs: list = []
            for doc_id, txt, tgt in zip(pdf["id"], pdf["text"], pdf["tgt"]):
                if txt is None:
                    continue
                w = [t for t in ws_re.split(txt) if t]
                counts: dict = {}
                for g in w:
                    b = bucket(g)
                    counts[b] = counts.get(b, 0) + 1
                for j in range(len(w) - 1):
                    b = bucket(w[j] + " " + w[j + 1])
                    counts[b] = counts.get(b, 0) + 1
                for b, c in counts.items():
                    ids.append(doc_id)
                    tgs.append(tgt)
                    bs.append(b)
                    cs.append(c)
            yield from chunked(
                pd.DataFrame({"id": ids, "tgt": tgs, "b": bs, "c": cs})
            )

    docb = (
        spread_narrow(
            df.select(
                F.col(id_col).alias("id"),
                F.col(text_col).alias("text"),
                target.cast("int").alias("tgt"),
            )
        )
        .mapInPandas(feature_counts, "id long, tgt int, b int, c long")
        .localCheckpoint()
    )
    stats = docb.groupBy("b").agg(
        F.sum("c").alias("rc"),
        F.sum(F.when(F.col("tgt") == 1, F.col("c")).otherwise(0)).alias("tc"),
    )
    # totals fold the bucket-bounded stats (≤ `buckets` rows), not the
    # feature relation: Σ_b rc = Σ c exactly (long arithmetic), and the
    # checkpointed docb is scanned once less per action (guide §2.4);
    # the duplicated stats subtree shares one exchange (ReusedExchange).
    tot = stats.agg(
        F.sum("rc").alias("tr"),
        F.sum("tc").alias("tt"),
    )
    llr = (
        stats.crossJoin(bounded_broadcast(tot))  # 1-row totals
        .select(
            "b",
            (
                F.log((F.col("tc") + 0.5) / (F.col("tt") + 0.5 * buckets))
                - F.log((F.col("rc") + 0.5) / (F.col("tr") + 0.5 * buckets))
            ).alias("llr"),
        )
    )
    return (
        # llr is bucket-bounded (≤ `buckets` rows) — broadcast it
        docb.join(bounded_broadcast(llr), "b")
        .groupBy("id")
        .agg(
            F.sum("c").cast("long").alias("n_feats"),
            F.round(F.sum(F.col("c") * F.col("llr")), 6).alias("log_weight"),
        )
    )


def _bm25_scored_matches(
    df: DataFrame,
    id_col: str,
    text_col: str,
    queries: dict[str, tuple[str, ...]],
    k1: float,
    b: float,
) -> DataFrame:
    """Shared first stage of the retrieval-eval family
    (:func:`retrieval_ndcg` / :func:`retrieval_mrr`): the scored match
    set (qid, id, score, rel) — BM25 score rounded to 6 decimals, rel
    = #distinct query terms the document contains. One corpus scan for
    the whole query batch; the relation is O(matching docs × queries)
    and checkpointed once because every consumer ranks it at least
    twice."""
    from asset_prices_parquet_saver_spark.functions.hints import bounded_broadcast
    from asset_prices_parquet_saver_spark.operators.dedup import words

    spark = df.sparkSession
    qterms = bounded_broadcast(
        spark.createDataFrame(
            [(qid, t) for qid, terms in queries.items() for t in terms],
            ["qid", "term"],
        )
    )
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(words(F.col(text_col))).alias("term")
    )
    # same two-consumer pins as bm25_topk: without them doclen's and
    # tf's subtrees are duplicated under stats/dfreq and the corpus is
    # tokenized 4x per eval batch (plan-verified)
    doclen = pin(toks.groupBy("id").agg(F.count("*").alias("dl")))
    stats = doclen.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = pin(
        toks.join(qterms, "term")
        .groupBy("qid", "id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("qid", "term").agg(F.count("*").alias("df"))
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    contrib = idf * (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(bounded_broadcast(dfreq), ["qid", "term"])
        .join(doclen, "id")
        .crossJoin(bounded_broadcast(stats))
        .groupBy("qid", "id")
        .agg(
            F.round(F.sum(contrib), 6).alias("score"),
            F.count("*").alias("rel"),
        )
        # materialize ONCE: the scored match set feeds every ranking
        # branch — without the barrier the tokenize/tf/score pipeline
        # re-executes per branch (plan-verified 2×); the relation is
        # O(matching docs × queries), cheap to pin
        .localCheckpoint()
    )


def retrieval_mrr(
    df: DataFrame,
    id_col: str,
    text_col: str,
    queries: dict[str, tuple[str, ...]],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Retrieval quality evaluation #2: MRR@k (mean-reciprocal-rank
    style, reported per query) of the BM25 ranking, with the binary
    relevance label "document contains EVERY distinct query term" —
    the strict companion to :func:`retrieval_ndcg`'s graded proxy, and
    the metric a cross-encoder rerank eval reports. Per query:
    ``first_rank`` = rank (1-based, BM25 score desc / id asc ties —
    the cosine-query discipline) of the first relevant document within
    the top ``k``; ``rr{k}`` = 1/first_rank, 0.0 when no relevant
    document ranks ≤ k; ``hits{k}`` = #relevant docs in the top k.
    Queries with NO relevant document anywhere still emit a row
    (first_rank NULL, rr 0.0) — an eval that silently drops failed
    queries overstates the mean.

    Scale shape: identical to retrieval_ndcg — one shared corpus scan
    (:func:`_bm25_scored_matches`), then row_number windows over the
    query-bounded match set; the per-qid term counts are a ≤|queries|-
    row broadcast. Reference analogue: none (X4 retrieval-eval
    family, SURVEY §2.11)."""
    from pyspark.sql.window import Window

    from asset_prices_parquet_saver_spark.functions.hints import bounded_broadcast

    spark = df.sparkSession
    scored = _bm25_scored_matches(df, id_col, text_col, queries, k1, b)
    qmeta = bounded_broadcast(
        spark.createDataFrame(
            [(qid, len(set(terms))) for qid, terms in queries.items()],
            ["qid", "n_terms"],
        )
    )
    ranked = scored.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("id"))
        ),
    )
    hits = (
        ranked.join(qmeta, "qid")
        .filter((F.col("rnk") <= k) & (F.col("rel") == F.col("n_terms")))
        .groupBy("qid")
        .agg(
            F.min("rnk").cast("long").alias("first_rank"),
            F.count("*").cast("long").alias(f"hits{k}"),
        )
    )
    return (
        # preserve ALL queries (failed ones emit rr=0); broadcast the
        # ≤|queries|-row HITS side — Spark can't build-left for a left
        # outer join, so hinting qmeta here would be a no-op warning
        qmeta.select("qid")
        .join(bounded_broadcast(hits), "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            "first_rank",
            F.round(
                F.coalesce(1.0 / F.col("first_rank"), F.lit(0.0)), 6
            ).alias(f"rr{k}"),
            F.coalesce(F.col(f"hits{k}"), F.lit(0)).cast("long")
            .alias(f"hits{k}"),
        )
    )


def retrieval_ndcg(
    df: DataFrame,
    id_col: str,
    text_col: str,
    queries: dict[str, tuple[str, ...]],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Retrieval quality evaluation: nDCG@k of the BM25 ranking for a
    batch of bag-of-terms queries, with graded relevance rel(q, d) =
    number of distinct query terms the document contains (a judgment-
    free proxy label, the standard smoke-eval when no qrels exist).
    Per query: DCG@k = Σ_{r≤k} (2^rel_r − 1) / log2(r + 1) over the
    BM25 top-k (score rounded to 6 decimals BEFORE ranking, ties by
    doc id — the cosine-query discipline), IDCG@k the same sum over
    the ideal ordering (rel desc, doc id asc; zero-relevance docs
    contribute nothing, so ranking only scored docs is exact).
    Returns (query_id, dcg10, idcg10, ndcg10).

    Scale shape: one corpus scan shared by ALL queries — the (qid,
    term) table is query-bounded and broadcast into the token stream,
    so tf volume is O(matching docs × queries), never O(corpus ×
    queries); document frequency and the (N, avgdl) pair are tiny
    broadcasts (the bm25_topk shape); both rankings are row_number
    windows partitioned by qid over the match set only. Reference
    analogue: none (X4 retrieval-eval family, SURVEY §2.11)."""
    from pyspark.sql.window import Window

    scored = _bm25_scored_matches(df, id_col, text_col, queries, k1, b)
    gain = (F.pow(F.lit(2.0), F.col("rel")) - 1) / F.log2(F.col("rnk") + 1)
    ranked = scored.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("id"))
        ),
    )
    dcg = (
        ranked.filter(F.col("rnk") <= k)
        .groupBy("qid")
        .agg(F.sum(gain).alias("dcg"))
    )
    ideal = scored.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(F.col("rel").desc(), F.col("id"))
        ),
    )
    idcg = (
        ideal.filter(F.col("rnk") <= k)
        .groupBy("qid")
        .agg(F.sum(gain).alias("idcg"))
    )
    return (
        dcg.join(idcg, "qid")
        .select(
            F.col("qid").alias("query_id"),
            F.round("dcg", 6).alias(f"dcg{k}"),
            F.round("idcg", 6).alias(f"idcg{k}"),
            F.round(F.col("dcg") / F.col("idcg"), 6).alias(f"ndcg{k}"),
        )
    )


def bpe_merge_candidates(
    df: DataFrame, id_col: str, text_col: str, k: int = 20
) -> DataFrame:
    """Tokenizer-training statistics: the first byte-pair-encoding
    iteration (Sennrich et al. 2016) — every adjacent character pair
    inside a word, weighted by corpus word frequency, ranked by count
    (the pair a BPE trainer would merge first is row one). Returns the
    top ``k`` as (sym_a, sym_b, pair_count), count desc, pair asc —
    fully integer, so engine-portable with no rounding.

    Scale shape: the corpus-sized work is ONE combinable word-count
    aggregate; pair construction then runs over the DISTINCT VOCABULARY
    relation (bounded by vocab size, not corpus size — the reason BPE
    trainers keep word-frequency tables), so the interpreted HOF
    building per-word char pairs touches |vocab| rows, never the
    corpus (the kernelization rule for corpus-sized HOF paths does not
    bind here). The weighted pair count is a second combinable agg and
    the cut is a TakeOrdered, never a global sort."""
    from asset_prices_parquet_saver_spark.operators.dedup import words

    wf = (
        df.select(F.explode(words(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    # build (a, b) via positions: substr is 1-based
    pair_structs = F.transform(
        F.sequence(F.lit(1), F.length("w") - 1),
        lambda i: F.struct(
            F.col("w").substr(i, F.lit(1)).alias("a"),
            F.col("w").substr(i + 1, F.lit(1)).alias("b"),
        ),
    )
    exploded = (
        wf.filter(F.length("w") >= 2)
        .select("freq", F.explode(pair_structs).alias("p"))
        .select("freq", F.col("p.a").alias("sym_a"), F.col("p.b").alias("sym_b"))
    )
    return (
        exploded.groupBy("sym_a", "sym_b")
        .agg(F.sum("freq").cast("long").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("sym_a"), F.col("sym_b"))
        .limit(k)
    )


def token_fertility(
    df: DataFrame, text_col: str, group_col: str
) -> DataFrame:
    """Tokenizer fertility diagnostic: per group (language, source),
    corpus-level tokens-per-word ratio Σ tokens / Σ words under the
    BPE-ish TOKEN_REGEX — the multilingual-curation signal for
    languages the tokenizer fragments (fertility ≫ 1 means more
    subword pieces per word, i.e. worse compression for that slice).
    Returns (group, n_docs, n_words, n_tokens, fertility), ratio
    rounded to 6 decimals; zero-word documents counted in n_docs but
    contributing nothing to the ratio.

    Scale shape: two narrow per-row counts (JVM regexp / split — no
    explode, no Python) folded by ONE combinable group aggregate."""
    t = F.col(text_col)
    per = df.select(
        F.col(group_col).alias("grp"),
        n_words(t).alias("nw"),
        token_count(t).alias("nt"),
    )
    return per.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("nw").cast("long").alias("n_words"),
        F.sum("nt").cast("long").alias("n_tokens"),
        F.round(F.sum("nt") / F.sum("nw"), 6).alias("fertility"),
    )


def blocklist_hits(
    df: DataFrame, id_col: str, text_col: str, terms: tuple[str, ...]
) -> DataFrame:
    """Dictionary tagging / blocklist filter (the safety-filter shape:
    flag documents containing any term of a fixed dictionary): per
    matching document, the sorted distinct matched terms and their
    total occurrence count. Returns (id, matched_terms array, n_terms,
    n_hits) for documents with ≥1 hit.

    Scale shape: the dictionary rides the task closure as an array
    literal (dictionaries are KB-scale; a 100k-term list would become
    a bounded broadcast join on exploded tokens instead) — matching is
    JVM array_intersect / filter over the token array, one narrow map
    + a final filter, zero shuffles, scan speed."""
    from asset_prices_parquet_saver_spark.operators.dedup import words

    dict_arr = F.array(*[F.lit(t) for t in terms])
    w = words(F.col(text_col))
    matched = F.array_sort(F.array_distinct(F.array_intersect(w, dict_arr)))
    n_hits = F.size(F.filter(w, lambda t: F.array_contains(dict_arr, t)))
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.array_join(matched, " ").alias("matched_terms"),
            F.size(matched).cast("long").alias("n_terms"),
            n_hits.cast("long").alias("n_hits"),
        )
        .filter(F.col("n_terms") > 0)
    )


def length_bucketed_batches(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bucket_tokens: int = 32,
    batch_size: int = 16,
) -> DataFrame:
    """Length-bucketed micro-batching for inference serving: documents
    grouped into token-length buckets (bucket = ceil(tokens /
    ``bucket_tokens``); similar lengths batch together so padding
    waste is bounded by the bucket width), then numbered into batches
    of ``batch_size`` inside each bucket in a deterministic md5-keyed
    order (the shuffle-then-batch discipline, engine-portable).
    Returns (id, n_tokens, bucket, batch_id, slot).

    Scale shape: one narrow token count, then a row_number window
    PARTITIONED BY BUCKET — parallel across buckets (a skewed mega-
    bucket would re-split by a salt on md5(id), the usual skew rule);
    no global ordering, no driver state."""
    from pyspark.sql.window import Window

    from asset_prices_parquet_saver_spark.functions.portable_hash import md5_int60

    t = F.col(text_col)
    base = df.select(
        F.col(id_col).alias("id"),
        token_count(t).cast("long").alias("n_tokens"),
    ).withColumn(
        "bucket",
        F.ceil(F.col("n_tokens") / F.lit(bucket_tokens)).cast("long"),
    )
    w = Window.partitionBy("bucket").orderBy(
        md5_int60(F.col("id").cast("string")), F.col("id")
    )
    numbered = base.withColumn("rn", F.row_number().over(w) - 1)
    return numbered.select(
        "id",
        "n_tokens",
        "bucket",
        # explicit floor: a bare double→long CAST truncates in Spark
        # but ROUNDS in DuckDB — floor is the portable spelling
        F.floor(F.col("rn") / batch_size).cast("long").alias("batch_id"),
        F.pmod(F.col("rn"), F.lit(batch_size)).cast("long").alias("slot"),
    )


def zipf_fit(
    df: DataFrame, text_col: str, top_n: int = 200
) -> DataFrame:
    """Zipf's-law fit over the corpus term-frequency distribution: OLS
    of ln(freq) on ln(rank) for the ``top_n`` most frequent terms —
    the corpus-health diagnostic (natural text sits near slope −1;
    boilerplate-heavy or template-generated corpora bend away from
    it). Returns one row (n_terms, zipf_slope, zipf_intercept,
    zipf_r2), coefficients rounded to 6 decimals; ranking tie-broken
    by term so the fit is deterministic across engines.

    Scale shape: term counts are ONE map-side-combinable shuffle; the
    top-``top_n`` cut is a TakeOrdered (never a global sort); the
    rank window and regression run over a constant-size (top_n-row)
    relation, corpus-size-independent."""
    from pyspark.sql import Window as _W

    from asset_prices_parquet_saver_spark.operators.dedup import words

    freq = (
        df.select(F.explode(words(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("term").asc())
        .limit(top_n)
    )
    w = _W.orderBy(F.col("freq").desc(), F.col("term").asc())
    ranked = freq.withColumn("rank", F.row_number().over(w))
    return ranked.agg(
        F.count("*").cast("long").alias("n_terms"),
        F.round(F.regr_slope(F.log("freq"), F.log("rank")), 6).alias(
            "zipf_slope"
        ),
        F.round(F.regr_intercept(F.log("freq"), F.log("rank")), 6).alias(
            "zipf_intercept"
        ),
        F.round(F.regr_r2(F.log("freq"), F.log("rank")), 6).alias("zipf_r2"),
    )
