"""Corpus-level statistical text operators — induced stopwords, BM25
retrieval, bigram PMI collocations.

These are the corpus-statistics layer of an LLM-data curation pipeline
(the reference ETL cleans per-row, transform.py:30-58; a training-data
pipeline additionally needs *cross-document* statistics: which tokens are
boilerplate, which documents match a query, which collocations are
phrases). All three operators follow the same scale shape:

* tokenization happens in the scan stage (``split`` on the JVM — no
  Python), producing a narrow ``(doc_id, pos, w)`` stream;
* corpus statistics are ONE aggregation each (token document-frequency,
  term frequency, bigram counts) — map-side partial aggregation applies
  because the keys are tokens, and token frequency is Zipfian, so the
  partial agg collapses the heavy head before the shuffle;
* the small statistics tables (stoplist, query-term df) are broadcast
  back against the token stream — never a shuffle of the corpus on a
  low-cardinality key.

Determinism: every score is computed in *scaled integer / exact decimal*
arithmetic (floor division at the end) so results are bit-identical
across engines and partition orders — no transcendental functions, no
float summation order dependence. PMI and BM25 are rank-equivalent to
their textbook log formulations because log is monotone: ranking by
``p(xy)/(p(x)p(y))`` equals ranking by PMI, and the scaled-integer BM25
uses the rational idf ``(N-df+1/2)/(df+1/2)`` (the argument of the
textbook log-idf) as a multiplicative factor.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from real_estate_project1_etl_spark.functions.text import collapse_whitespace


def tokenize_positions(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """``(doc_id, pos, w)`` — whitespace tokens with their 0-based
    position. Narrow (scan-stage flatMap, no shuffle); the building block
    for every operator in this module."""
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(collapse_whitespace(F.col(text_col))), " ")).alias(
            "pos", "w"
        ),
    )


def induced_stopwords(toks: DataFrame, n_docs_df: DataFrame, threshold_pct: int) -> DataFrame:
    """Tokens whose document frequency exceeds ``threshold_pct`` percent
    of the corpus — corpus-induced boilerplate (the data-driven analogue
    of a hand-written stopword list). Integer comparison
    ``df * 100 > n_docs * pct`` keeps the threshold exact.

    One shuffle (token df agg); ``n_docs_df`` is a single-row count
    aggregate joined in via broadcast-crossJoin, so no driver collect.
    """
    dfreq = toks.groupBy("w").agg(F.count_distinct("doc_id").alias("dfreq"))
    return (
        dfreq.crossJoin(F.broadcast(n_docs_df))
        .filter(F.col("dfreq") * 100 > F.col("n_docs") * threshold_pct)
        .select("w")
    )


def remove_induced_stopwords(
    docs: DataFrame, threshold_pct: int = 60, text_col: str = "text"
) -> DataFrame:
    """Strip corpus-induced boilerplate tokens from every document and
    reassemble the text in original token order.

    Returns ``(doc_id, kept_text, n_kept)`` for every input document
    (documents reduced to nothing keep a row with empty text — the
    curation gate downstream decides their fate, not this operator).

    Scale shape: token df agg (one shuffle, Zipf-collapsed by partial
    agg) -> tiny stoplist broadcast -> left-anti join against the token
    stream -> per-doc reassembly (one shuffle on doc_id). The stoplist
    at any realistic threshold is a few hundred tokens — always
    broadcastable regardless of corpus size.
    """
    toks = tokenize_positions(docs, text_col)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    stop = induced_stopwords(toks, n_docs, threshold_pct)
    kept = toks.join(F.broadcast(stop), "w", "left_anti")
    per_doc = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))), lambda s: s["w"]
            ),
        ).alias("kept_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Exact BM25 retrieval: top-``k`` documents for a bag of query
    terms, scored in scaled-integer arithmetic (k1=1.2, b=0.75).

    Per-term contribution, all integer (SCALE=1e6):

        idf_num = 2N - 2df + 1          # rational idf (N-df+.5)/(df+.5),
        idf_den = 2df + 1               # scaled by 2
        denom   = 10*U*tf + 3*U + 9*dl*N   # (tf + k1*(1-b+b*dl/avgdl))
                                           # scaled by 10*U, avgdl = U/N
        term    = floor(SCALE * idf_num * 22 * U * tf / (idf_den * denom))

    ``22*U*tf`` is ``tf*(k1+1)`` scaled by the same ``10*U``. Products
    run through decimal(38,0) so corpus sizes up to ~1e9 tokens cannot
    overflow; the per-term floors are summed as exact integers (order-
    independent), so the score is bit-identical across engines.

    Scale shape: the token stream is filtered to query terms *first*
    (broadcast hash of a literal list — the scan emits only matching
    tokens), then tf is one agg; df and corpus totals are single-row /
    tiny aggregates broadcast back. Top-k is a global sort of |matching
    docs| rows only.
    """
    toks = tokenize_positions(docs, text_col)
    terms = [t.lower() for t in query_terms]

    # per-doc length + corpus totals
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    totals = toks.agg(
        F.count(F.lit(1)).alias("u_tokens"),
    ).crossJoin(docs.agg(F.count(F.lit(1)).alias("n_docs")))

    qtoks = toks.filter(F.col("w").isin(terms))
    tf = qtoks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("dfreq"))

    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    scored = (
        tf.join(F.broadcast(dfreq), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "term_score",
            F.expr(
                """
                cast(
                  (cast(1000000 as decimal(38,0))
                     * (2*n_docs - 2*dfreq + 1) * 22 * u_tokens * tf)
                  div
                  (cast(2*dfreq + 1 as decimal(38,0))
                     * (10*u_tokens*tf + 3*u_tokens + 9*dl*n_docs))
                as bigint)
                """
            ),
        )
    )
    score = scored.groupBy("doc_id").agg(F.sum("term_score").alias("score_scaled"))
    w = Window.orderBy(F.col("score_scaled").desc(), F.col("doc_id"))
    return (
        score.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "score_scaled", "rank")
    )


def bigram_pmi(
    docs: DataFrame,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Adjacent-bigram PMI collocations, scaled-integer exact.

    PMI ranks by ``p(xy) / (p(x)p(y))`` (log is monotone, so the rational
    ratio is rank-equivalent to textbook PMI):

        pmi_scaled = floor(1e6 * c_xy * U^2 / (T * c_x * c_y))

    with U = total unigram tokens, T = total bigrams. decimal(38,0)
    intermediates (U^2 alone overflows int64 beyond ~3e9 tokens).

    Scale shape: bigrams come from a per-doc ``lag`` window — partition
    by doc_id, order by pos, so the shuffle is on doc_id and each
    partition streams (no giant pair explosion: exactly len-1 bigrams
    per doc). Unigram and bigram counts are Zipf-collapsed partial aggs;
    ``min_count`` prunes the long tail before the final join, and the
    pruned bigram table joins the unigram counts via broadcast.
    """
    toks = tokenize_positions(docs, text_col)
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    wspec = Window.partitionBy("doc_id").orderBy("pos")
    bi_all = (
        toks.withColumn("w_prev", F.lag("w").over(wspec))
        .filter(F.col("w_prev").isNotNull())
        .groupBy("w_prev", "w")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    # T counts ALL bigrams (probability denominator), before tail pruning
    totals = toks.agg(F.count(F.lit(1)).alias("u_tokens")).crossJoin(
        bi_all.agg(F.sum("c_xy").alias("t_bigrams"))
    )
    bi = bi_all.filter(F.col("c_xy") >= min_count)
    return (
        bi.join(F.broadcast(uni.withColumnRenamed("w", "w_prev").withColumnRenamed("c_w", "c_x")), "w_prev")
        .join(F.broadcast(uni.withColumnRenamed("c_w", "c_y")), "w")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("w_prev").alias("w1"),
            F.col("w").alias("w2"),
            "c_xy",
            F.expr(
                """
                cast(
                  (cast(1000000 as decimal(38,0)) * c_xy * u_tokens * u_tokens)
                  div
                  (cast(t_bigrams as decimal(38,0)) * c_x * c_y)
                as bigint)
                """
            ).alias("pmi_scaled"),
        )
    )


def heavy_hitter_ngrams(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 2,
    min_count: int = 2,
    max_items: int = 1000,
    capacity: int = 10000,
) -> DataFrame:
    """Frequency heavy hitters over the word n-gram stream via the
    ``approx_top_k`` sketch: ``(gram, n_occurrences)`` for every n-gram
    occurring at least ``min_count`` times.

    Why a sketch and not the plain ``groupBy(gram).count()`` that
    :func:`bigram_pmi` uses: the sketch is a bounded-memory mergeable
    summary — each task keeps at most ``capacity`` tracked items, partial
    sketches merge map-side, and the driver receives ONE row regardless
    of vocabulary size. At 100 TB that is the difference between a
    full token-stream shuffle and a metadata-sized agg; it is the same
    primitive production systems use for top-URL / hot-key reports.

    Determinism/exactness regime: whenever the true distinct-gram count
    is <= ``capacity`` the sketch degenerates to exact counting (no
    evictions), so the ``min_count`` FREQUENCY FLOOR (not a rank cut —
    rank cuts tie-break arbitrarily) yields a deterministic, engine-
    reproducible result set — that regime is what the DuckDB oracle
    pins. Beyond capacity the counts become approximate with the usual
    top-k sketch guarantees; raise ``capacity`` to push the exact
    frontier out.
    """
    from ..functions.hof import bind
    from .dedup import word_ngrams

    w = F.split(F.lower(collapse_whitespace(F.col(text_col))), " ")
    # split bound once per row; when size >= n every window is full, so
    # word_ngrams' gram list equals the historical transform(sequence)
    # construction exactly (which re-evaluated the split per gram)
    grams = bind(
        w,
        lambda ww: F.when(F.size(ww) >= n, word_ngrams(ww, n)).otherwise(
            F.expr("cast(array() as array<string>)")
        ),
    )
    stream = docs.select(F.explode(grams).alias("g"))
    sk = stream.agg(
        F.expr(f"approx_top_k(g, {max_items}, {capacity})").alias("tk")
    )
    return (
        sk.select(F.explode("tk").alias("s"))
        .select(
            F.col("s.item").alias("gram"),
            F.col("s.count").cast("long").alias("n_occ"),
        )
        .filter(F.col("n_occ") >= min_count)
    )


def bigram_coverage(
    docs: DataFrame, min_count: int = 3, text_col: str = "text"
) -> DataFrame:
    """Per-document language-model-coverage quality score, exact-arithmetic
    edition: the fraction of a document's word-bigram OCCURRENCES that are
    "common" in the corpus (appear >= ``min_count`` times overall).
    Fluent text re-uses the corpus's phrase inventory; gibberish and
    boilerplate-mangled text does not — this is the n-gram-LM quality
    signal (cf. CCNet/KenLM filtering) built from exact integer counts, so
    it is bit-reproducible across engines (no log-perplexity float).

    Scale shape (round-11 rewrite — the count()-elimination audit
    surfaced the honest cost of the old string form at 37.6 s/sf0.1):
    bigram IDENTITY is a 64-bit hash, never a string.  Per row, word
    hashes are computed once (one cheap O(W) ``transform``) and bigram
    keys come from ONE ``zip_with`` over the shifted slices —
    ``xxhash64(h_i, h_{i+1})`` per position, no ``concat_ws``, no
    ``element_at`` random access, nothing string-typed ever explodes or
    shuffles.  The count agg and the semi-join both key on longs.  A
    64-bit collision between two distinct corpus bigrams would merge
    their counts (probability ~(#distinct)²/2⁶⁴ — the same accepted
    trade as the gopher battery and the ExactSubstr k-gram counter; the
    oracle computes true strings, so a collision would surface as a
    value mismatch).  ``n_bigrams`` is ``greatest(len(words)-1, 0)`` —
    the final projection rebuilds nothing.  Measured at sf0.1:
    37.6 s -> see SCALE.md.  Returns (doc_id, n_bigrams, n_covered,
    coverage).
    """
    from ..functions.hof import bind

    w = F.split(F.lower(collapse_whitespace(F.col(text_col))), " ")
    # token-hash array bound once per row (round 14): the unbound form
    # referenced it twice (two shifted slices), re-running the per-token
    # xxhash pass per reference in the interpreted evaluator
    keys = bind(
        F.transform(w, lambda x: F.xxhash64(x)),
        lambda hs: F.zip_with(
            F.slice(hs, 1, F.greatest(F.size(hs) - 1, F.lit(0))),
            F.slice(hs, 2, F.greatest(F.size(hs) - 1, F.lit(0))),
            lambda a, b: F.xxhash64(a, b),
        ),
    )
    e = docs.select("doc_id", F.explode(keys).alias("k"))
    common = (
        e.groupBy("k").count().filter(F.col("count") >= min_count).select("k")
    )
    cov = e.join(common, "k", "left_semi").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_covered")
    )
    return (
        docs.select(
            "doc_id",
            F.greatest(F.size(w) - 1, F.lit(0)).cast("bigint").alias("n_bigrams"),
        )
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_bigrams",
            F.coalesce(F.col("n_covered"), F.lit(0)).cast("bigint").alias("n_covered"),
            F.when(
                F.col("n_bigrams") > 0,
                F.coalesce(F.col("n_covered"), F.lit(0)).cast("double")
                / F.col("n_bigrams"),
            )
            .otherwise(F.lit(0.0))
            .alias("coverage"),
        )
    )


def line_document_frequency(
    docs: DataFrame, text_col: str = "text", delim: str = "\n"
) -> DataFrame:
    """Corpus-wide document frequency of exact LINES — ``(line_hash, df)``
    where ``line_hash`` is the 60-bit md5 content hash of the line and
    ``df`` counts DOCUMENTS containing it (per-doc repeats count once).

    The line text itself never shuffles: each row contributes the
    DISTINCT hashes of its lines (an in-row ``array_distinct`` +
    ``transform`` — so the exchange carries ``(doc, hash)`` digests
    only), and the df aggregation is Zipf-collapsed by map-side partial
    aggregation exactly like token df.
    """
    lines = F.split(F.col(text_col), re.escape(delim), -1)
    hashes = F.array_distinct(
        F.transform(
            lines, lambda l: F.conv(F.substring(F.md5(l), 1, 15), 16, 10).cast("long")
        )
    )
    return (
        docs.select(F.explode(hashes).alias("line_hash"))
        .groupBy("line_hash")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def remove_frequent_lines(
    docs: DataFrame,
    min_df: int = 3,
    text_col: str = "text",
    delim: str = "\n",
    strategy: str = "inline",
) -> DataFrame:
    """Line-level boilerplate removal (the CCNet/RefinedWeb curation
    step): drop every line whose exact text appears in >= ``min_df``
    distinct documents corpus-wide — navigation bars, cookie banners,
    licence footers — and reassemble each document from its surviving
    lines in original order.

    Returns ``(doc_id, clean_text, n_kept, n_removed)`` for every input
    document (a document whose every line is boilerplate keeps a row
    with empty text — the downstream length gate decides its fate).

    Two physical strategies, same result:

    * ``"inline"`` (default): the frequent-line set — by construction the
      Zipf HEAD of the line distribution, so small at any corpus size —
      is collapsed to ONE row (``collect_set`` of 60-bit hashes) and
      broadcast-crossJoined back; each document filters its own lines
      with an in-row higher-order function. The corpus text never
      shuffles: one digest-only df aggregation, then a scan-stage
      rewrite. This is the 100 TB shape.
    * ``"join"``: posexplode lines, broadcast LEFT ANTI against the
      frequent set, reassemble per doc (struct-sort, one doc_id
      exchange). Escape hatch for a degenerate corpus whose frequent set
      outgrows a single in-row array (hundreds of thousands of distinct
      boilerplate lines).
    """
    if strategy not in ("inline", "join"):
        raise ValueError(f"remove_frequent_lines: unknown strategy {strategy!r}")
    h60 = lambda c: F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")  # noqa: E731
    freq = line_document_frequency(docs, text_col, delim).filter(
        F.col("df") >= min_df
    )
    lines = F.split(F.col(text_col), re.escape(delim), -1)
    if strategy == "inline":
        stop = freq.agg(F.collect_set("line_hash").alias("_stop"))
        kept = F.filter(
            lines, lambda l: ~F.array_contains(F.col("_stop"), h60(l))
        )
        base = docs.crossJoin(F.broadcast(stop))
        # materialize the filtered array ONCE per row (a flat select would
        # re-run the per-line hash+membership fold for each of the three
        # output expressions — measured 2x wall at 4M lines)
        once = base.select(
            "doc_id",
            kept.alias("_kept"),
            F.size(lines).cast("bigint").alias("_n"),
        )
        return once.select(
            "doc_id",
            F.concat_ws(delim, "_kept").alias("clean_text"),
            F.size("_kept").cast("bigint").alias("n_kept"),
            (F.col("_n") - F.size("_kept")).cast("bigint").alias("n_removed"),
        )
    pos = docs.select(
        "doc_id", F.posexplode(lines).alias("pos", "line")
    ).withColumn("line_hash", h60(F.col("line")))
    surv = pos.join(F.broadcast(freq.select("line_hash")), "line_hash", "left_anti")
    per_doc = surv.groupBy("doc_id").agg(
        F.concat_ws(
            delim,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    n_lines = docs.select("doc_id", F.size(lines).cast("bigint").alias("_n"))
    return (
        n_lines.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            (F.col("_n") - F.coalesce("n_kept", F.lit(0))).cast("bigint").alias(
                "n_removed"
            ),
        )
    )


def term_posting_lists(
    docs: DataFrame,
    max_postings: int = 5,
    min_df: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Inverted-index export: one row per term with its document
    frequency, total term frequency, and the first ``max_postings``
    doc ids ascending — the posting-list artifact a retrieval system
    loads (BM25 scoring over it already exists: :func:`bm25_topk`).

    Scale shape: the token stream aggregates once per (term, doc) for
    tf, once per term for df/ttf (both Zipf-collapsed). The posting cap
    is a SEPARATE branch with an explicit ``Filter(_rn <= k)`` directly
    above the ``row_number`` — the shape Spark's InferWindowGroupLimit
    requires — so it compiles to WindowGroupLimit with a Partial mode
    before the exchange: a stop-word term ships ``max_postings *
    map_tasks`` postings to the shuffle, never its full corpus-wide
    list (an unfiltered row_number consumed inside the aggregate would
    sort every posting of every stop word in one partition). Both
    branches shuffle on the term, so the final join is exchange-free
    (sort-merge reuses the HashPartitioning); the (term, doc) aggregate
    subtree is evaluated once per branch — two linear passes beat one
    pass with unbounded per-term skew. Output rows are vocabulary-sized
    and each carries a bounded array.
    """
    toks = tokenize_positions(docs, text_col)
    td = toks.groupBy("w", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    stats = td.groupBy("w").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("ttf")
    )
    w = Window.partitionBy("w").orderBy("doc_id")
    posts = (
        td.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_postings)
        .groupBy("w")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("postings"))
    )
    return (
        stats.join(posts, "w")
        .filter(F.col("df") >= min_df)
        .select(
            F.col("w").alias("term"),
            "df",
            F.col("ttf").cast("bigint").alias("ttf"),
            "postings",
        )
    )


def bigram_lm_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 1,
    scale: int = 1_000_000,
) -> DataFrame:
    """Bigram language-model fluency score per document — the engine-side
    equivalent of CCNet/DCLM's KenLM perplexity gate (Wenzek et al.,
    arXiv:1911.00359): train bigram statistics on the corpus itself, then
    score each document by how predictable its word sequence is under
    them. Low scores flag gibberish, boilerplate soup, and OCR noise the
    per-row heuristics miss.

    Model: add-``k`` smoothed conditional probability ``P(w2|w1) =
    (c(w1 w2) + k) / (c(w1) + k*V)`` over whitespace words (V = unigram
    vocabulary size). The per-document score is the ARITHMETIC mean of
    the scaled conditional probabilities, in module-convention scaled
    integers: ``p_scaled = (c12 + k) * scale // (c1 + k*V)``, ``score =
    sum(p_scaled) // n_bigrams`` — exact integer arithmetic end to end
    (no log, no float summation order), bit-identical across engines.
    The geometric-mean (true perplexity) ranking differs only in tail
    emphasis; for a keep/drop gate the mean-probability statistic is the
    same knob with an exactly-checkable value.

    Returns ``(id_col, n_bigrams, lm_score)``; single-word and empty
    documents have ``n_bigrams = 0`` and NULL score (nothing to judge).

    Scale shape: bigram extraction is IN-ROW (``transform`` over the
    token array — no self-join on position); unigram/bigram count tables
    are one Zipf-collapsed aggregation each; the conditional-probability
    table is vocabulary-sized (bigram types, not tokens) and joins the
    per-document bigram-type stream equi on the bigram key. The document
    stream is pre-collapsed to (doc, bigram, n) before the join, so a
    stop-word pair costs one row per document, not one per occurrence;
    AQE's skew split covers the residual head. The corpus text shuffles
    never — only token keys and counts move.
    """
    from .util import ensure_parallelism

    from ..functions.hof import bind

    ws = F.split(F.lower(collapse_whitespace(F.col(text_col))), " ")
    # bigram build as arrays_zip of two shifted slices — a PLAIN
    # expression that stays in codegen, measured 4.4x the throughput of
    # the equivalent transform(sequence, i -> struct(...)) HOF (lambda
    # functions evaluate interpreted per element). Zero-length slices
    # make single-word/empty docs emit no bigrams with no special case.
    # The word array is BOUND once (round 14): the un-bound form
    # references ws three times (size + two slices) and the interpreted
    # evaluator re-runs the lower/collapse/split chain per reference.
    big = bind(
        ws,
        lambda w: F.arrays_zip(
            F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))).alias("w1"),
            F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))).alias("w2"),
        ),
    )
    # the per-token work is CPU-bound and a single-file scan arrives as
    # ONE task; spread it before the three explode consumers (measured
    # 12 s -> ~1 s at sf0.1 when downstream materializes the scores)
    #
    # The isNotNull(id) is declared HERE, once, for two reasons: (1) a
    # NULL-id row is unscoreable (the output is keyed by id), so its
    # tokens contributing to corpus statistics was an accident of plan
    # shape, not a contract; (2) stage reuse — callers that equi-join
    # the scores push isnotnull(id) into SOME consumers' scans but not
    # others (the c12 path aggregates the id away first), and the
    # now-divergent scan subtrees stopped canonically matching, so the
    # bigram explode executed twice (round-12 exchange audit). With the
    # filter in the shared prefix, every consumer sees one identical
    # subtree and the pushed duplicate is subsumed.
    docs = ensure_parallelism(
        docs.select(id_col, text_col).filter(F.col(id_col).isNotNull())
    )
    doc_bigrams = (
        docs.select(F.col(id_col), F.explode(big).alias("b"))
        .select(id_col, F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        # semantically a no-op (split/arrays_zip of equal-length slices
        # never yields NULL words) but load-bearing for stage reuse: the
        # two db consumers receive join-pushed isnotnull predicates in
        # DIFFERENT AND-order, and canonicalization does not sort
        # conjuncts, so their otherwise-identical explode subtrees
        # stopped matching and the explode executed twice (round-12
        # exchange audit).  Declaring the filter here, in one fixed
        # order, makes it part of the SHARED subtree; the pushed
        # duplicates are then subsumed by constraint propagation.
        .filter(F.col("w1").isNotNull() & F.col("w2").isNotNull())
    )
    # per-document bigram TYPES with multiplicity — the join payload
    db = doc_bigrams.groupBy(id_col, "w1", "w2").agg(
        F.count(F.lit(1)).alias("n_occ")
    )
    uni = (
        docs.select(F.explode(ws).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    # V as count(when(c1 > 0, 1)), NOT count(1): the naive form lets
    # Catalyst prune c1 and rewrite vocab's subtree to a distinct-style
    # aggregate that no longer canonically matches the count aggregate
    # probs consumes, so the token explode executed TWICE (round-12
    # exchange audit: Generate 270,704 rows x2 at sf0.1).  The when()
    # is nullable, so the optimizer can neither fold it to count(1) nor
    # prune c1 — both consumers share one exchange (ReuseExchange
    # fires, verified by plan-walk metrics) and the corpus is tokenized
    # once per n-gram order, lazily, with nothing materialized.  c1 is
    # a count, always > 0, so the value is exactly |vocabulary|.
    vocab = uni.agg(F.count(F.when(F.col("c1") > 0, 1)).alias("_v"))
    # corpus bigram counts DERIVE from the per-document type table —
    # sum(n_occ) over db is the same multiset count as a second explode,
    # but db's aggregation exchange is now the shared parent of both
    # consumers (ReuseExchange fires on the identical subtree), so the
    # token-stream explode executes ONCE instead of twice.  Round-12
    # exchange audit: the scored subtree ran 6 parquet scans / 4
    # explodes / 0 reuses; at 100 TB a doubled token-explode is the
    # difference between one corpus pass and two.
    c12 = db.groupBy("w1", "w2").agg(F.sum("n_occ").alias("c12"))
    # vocabulary-sized probability table: one broadcast of the scalar V,
    # one equi-join attaching c(w1)
    probs = (
        c12.join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            # decimal(38,0) product + integer `div` — never a double
            # (c12*scale overflows the 2^53 double-exact range long
            # before it overflows decimal38)
            F.expr(
                f"cast((cast(c12 + {int(k)} as decimal(38,0))"
                f" * {int(scale)})"
                f" div (c1 + {int(k)} * _v) as bigint)"
            ).alias("p_scaled"),
        )
    )
    scored = db.join(probs, ["w1", "w2"]).groupBy(id_col).agg(
        F.sum("n_occ").alias("n_bigrams"),
        F.sum(F.col("n_occ") * F.col("p_scaled")).alias("_sum_p"),
    )
    out = docs.select(id_col).join(scored, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint").alias(
            "n_bigrams"
        ),
        F.when(
            F.col("n_bigrams") > 0,
            F.expr("cast(_sum_p div n_bigrams as bigint)"),
        ).alias("lm_score"),
    )
    return out


def trigram_lm_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 1_000_000,
    min_count3: int = 2,
    min_count2: int = 2,
) -> DataFrame:
    """Trigram STUPID-BACKOFF fluency score per document — the order-3
    upgrade of :func:`bigram_lm_scores` (round-9 verdict item 6), after
    the published stupid-backoff scheme (Brants et al., EMNLP'07) with
    the count cutoffs real KenLM-style gates train with. A trigram gate
    catches what a bigram gate provably cannot: word orders that
    PRESERVE the corpus bigram multiset but scramble 3-grams (see the
    discrimination test — the bigram gate scores such docs identically
    to fluent ones).

    Model, scaled-integer throughout (exact cross-engine):

    - trigram types with corpus count ``>= min_count3`` are "in the
      model": ``p = c123 * scale div c12``;
    - otherwise back off to bigrams with count ``>= min_count2`` at the
      published backoff weight 0.4 = 2/5:
      ``p = 2 * c23 * scale div (5 * c2)``;
    - otherwise the unigram floor at 0.4^2 = 4/25:
      ``p = 4 * c3 * scale div (25 * N)`` (``w3`` always has corpus
      count — the model trains on the corpus it scores, so only the
      CUTOFFS make backoff live, exactly as pruned production LMs).

    Per-document score is the arithmetic mean of the scaled
    probabilities (``sum div n_trigrams`` — same convention and same
    rationale as the bigram gate: the monotone keep/drop knob with an
    exactly-checkable value). Returns ``(id_col, n_trigrams,
    lm3_score)``; docs with fewer than 3 words have ``n_trigrams = 0``
    and NULL score.

    Scale shape: trigram extraction is in-row (arrays_zip of three
    shifted slices — codegen, no interpreted HOF); all count tables are
    Zipf-collapsed type tables; the doc stream pre-collapses to
    (doc, trigram-type, n) before joining the vocabulary-sized
    probability cascade (two left joins + one inner, all equi). Text
    never shuffles — only n-gram keys and counts move.
    """
    from .util import ensure_parallelism

    if min_count3 < 1 or min_count2 < 1:
        raise ValueError(
            "trigram_lm_scores: min_count3/min_count2 must be >= 1, got "
            f"{min_count3!r}/{min_count2!r}"
        )
    from ..functions.hof import bind

    ws = F.split(F.lower(collapse_whitespace(F.col(text_col))), " ")
    # word arrays bound once (round 14): the un-bound zips reference ws
    # 4x / 3x and the interpreted evaluator re-runs the normalize/split
    # chain per reference — see functions.hof.bind
    tri = bind(
        ws,
        lambda w: F.arrays_zip(
            F.slice(w, 1, F.greatest(F.size(w) - 2, F.lit(0))).alias("w1"),
            F.slice(w, 2, F.greatest(F.size(w) - 2, F.lit(0))).alias("w2"),
            F.slice(w, 3, F.greatest(F.size(w) - 2, F.lit(0))).alias("w3"),
        ),
    )
    big = bind(
        ws,
        lambda w: F.arrays_zip(
            F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))).alias("b1"),
            F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))).alias("b2"),
        ),
    )
    # null-id rows are unscoreable (output is keyed by id) and the
    # shared-prefix filter keeps consumer subtrees canonically identical
    # for stage reuse — same rationale as bigram_lm_scores
    docs = ensure_parallelism(
        docs.select(id_col, text_col).filter(F.col(id_col).isNotNull())
    )
    doc_tri = (
        docs.select(F.col(id_col), F.explode(tri).alias("t"))
        .select(
            id_col,
            F.col("t.w1").alias("w1"),
            F.col("t.w2").alias("w2"),
            F.col("t.w3").alias("w3"),
        )
        # no-op on data (zip of equal-length slices yields no NULLs) but
        # load-bearing for reuse: the c123 left-join pushes isnotnull on
        # its right side only, which otherwise forks the two dt-exchange
        # subtrees canonically — see doc_bigrams in bigram_lm_scores
        .filter(
            F.col("w1").isNotNull()
            & F.col("w2").isNotNull()
            & F.col("w3").isNotNull()
        )
    )
    # per-doc trigram TYPES with multiplicity — the join payload, and
    # the single parent of the corpus count table: c123 derives from dt
    # (sum of per-doc multiplicities == a second explode's count), so
    # the trigram explode executes ONCE via ReuseExchange instead of
    # twice — the bigram_lm_scores round-12 audit fix, same shape
    dt = doc_tri.groupBy(id_col, "w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("n_occ")
    )
    # corpus count tables (all Zipf-collapsed to n-gram TYPES)
    c123 = (
        dt.groupBy("w1", "w2", "w3")
        .agg(F.sum("n_occ").alias("c123"))
        .filter(F.col("c123") >= min_count3)
    )
    bigrams = docs.select(F.explode(big).alias("b")).select(
        F.col("b.b1").alias("b1"), F.col("b.b2").alias("b2")
    )
    cb = bigrams.groupBy("b1", "b2").agg(F.count(F.lit(1)).alias("cb"))
    # c12: context counts for the trigram numerator (UNPRUNED — the
    # denominator is the true context frequency, as in the published
    # scheme); c23: pruned bigram model for the first backoff
    c12 = cb.select(
        F.col("b1").alias("w1"), F.col("b2").alias("w2"),
        F.col("cb").alias("c12"),
    )
    c23 = cb.filter(F.col("cb") >= min_count2).select(
        F.col("b1").alias("w2"), F.col("b2").alias("w3"),
        F.col("cb").alias("c23"),
    )
    uni = (
        docs.select(F.explode(ws).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    c2 = uni.select(F.col("w").alias("w2"), F.col("cu").alias("c2"))
    c3 = uni.select(F.col("w").alias("w3"), F.col("cu").alias("c3"))
    ntok = docs.select(
        F.sum(F.size(ws)).cast("bigint").alias("_N")
    )
    joined = (
        dt.join(c123, ["w1", "w2", "w3"], "left")
        .join(c12, ["w1", "w2"], "left")
        .join(c23, ["w2", "w3"], "left")
        .join(c2, ["w2"], "left")
        .join(c3, ["w3"], "left")
        .crossJoin(F.broadcast(ntok))
    )
    # decimal(38,0) products + integer div — all operands positive here,
    # and c12/c2 are never NULL when their numerators hit (the model
    # trains on the scored corpus), but coalesce keeps the cascade total
    p = (
        F.when(
            F.col("c123").isNotNull(),
            F.expr(
                f"cast(cast(c123 as decimal(38,0)) * {int(scale)}"
                " div c12 as bigint)"
            ),
        )
        .when(
            F.col("c23").isNotNull(),
            F.expr(
                f"cast(cast(2 * c23 as decimal(38,0)) * {int(scale)}"
                " div (5 * c2) as bigint)"
            ),
        )
        .otherwise(
            F.expr(
                f"cast(cast(4 * c3 as decimal(38,0)) * {int(scale)}"
                " div (25 * _N) as bigint)"
            )
        )
    )
    scored = joined.withColumn("_p", p).groupBy(id_col).agg(
        F.sum("n_occ").alias("n_trigrams"),
        F.sum(F.col("n_occ") * F.col("_p")).alias("_sum_p"),
    )
    return docs.select(id_col).join(scored, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_trigrams"), F.lit(0)).cast("bigint").alias(
            "n_trigrams"
        ),
        F.when(
            F.col("n_trigrams") > 0,
            F.expr("cast(_sum_p div n_trigrams as bigint)"),
        ).alias("lm3_score"),
    )
