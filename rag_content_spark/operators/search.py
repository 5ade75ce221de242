"""Keyword and hybrid retrieval (reference query_rag.py:190: the OGX
vector_io query modes ``vector`` / ``keyword`` / ``hybrid``; the keyword
and hybrid implementations live server-side in the OGX runtime, so this
is a from-scratch Spark-first design, not a port).

Design (scale-first):
- keyword: inverted-index shape — explode documents into (doc, token)
  postings, aggregate TF per (doc, term), join per-term IDF (computed
  from the same postings), sum TF·IDF. Every step is a hash aggregate
  or broadcast join; no per-document array scans at query time. At
  100 TB the postings table is the materialized artifact (partitioned
  by term bucket) and query terms prune it.
- hybrid: convex fusion of the keyword score (max-normalized per query)
  with vector cosine — the standard score-fusion the OGX runtime offers.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from rag_content_spark.functions.text import tokens


def postings(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, token, tf) postings — the inverted-index building block."""
    return (
        docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _avgdl() -> Column:
    """``sum(dl) / count(1)``: a NULL text counts as a document of no
    tokens, as in the persisted index's ``sum_dl / n_docs``, the
    registry's DuckDB oracles and SQLite FTS5 (``avg(dl)`` would skip
    it)."""
    return (F.sum("dl") / F.count(F.lit(1))).alias("avgdl")


def corpus_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One-row corpus-stats table ``(n_docs, avgdl)``.

    At scale this is materialized once per corpus snapshot (a parquet
    table maintained next to the postings index) and passed into the
    scoring functions, which broadcast-join it — no mid-plan driver
    round-trip. Computed in-plan here when the caller doesn't supply it.
    """
    return docs.select(F.size(tokens(text_col)).alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"), _avgdl()
    )


def term_postings_one_scan(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """``(post_with_dl, stats)`` for a query-term bag from ONE corpus
    text scan (r11, guide §2.3/§2.4).

    The on-the-fly keyword scorers used to derive three separate
    subtrees from ``docs`` — :func:`postings` (tokenize + explode ALL
    tokens + corpus-wide groupBy), a ``(id, dl)`` lengths projection
    (tokenize again), and :func:`corpus_stats` (tokenize a third time) —
    then join postings back to lengths. Here ``dl`` and the matched-term
    occurrences come out of ONE Project (the tokenize is a common
    subexpression); per-term tfs are finalized inside the row (array
    ops — no corpus-wide explode+groupBy exchange); dl rides along, so
    the postings-lengths join disappears; docs matching no term exit at
    the explode. The stats aggregate and the postings explode each
    consume ``base`` (two scans of the narrow projection — measured
    BETTER than a localCheckpoint at bench scale: an eager checkpoint
    costs a synchronous job, a lazy one a pipeline-blocking RDD
    boundary, and both lost the 3-rep A/B that this shape wins 0.85x).
    tf/dl/df_t are integers and the dl multiset is identical, so every
    downstream score is bit-identical (pinned in tests/test_search.py).

    Returned ``post_with_dl`` has columns ``(id, dl, token, tf)`` — pass
    ``lengths=None`` to :func:`bm25_from_postings`."""
    tk = tokens(text_col)
    base = docs.select(
        F.col(id_col),
        F.size(tk).alias("dl"),
        F.filter(tk, lambda t: t.isin(terms)).alias("_mt"),
    )
    stats = base.agg(F.count(F.lit(1)).alias("n_docs"), _avgdl())
    per_term = F.transform(
        F.array_distinct("_mt"),
        lambda t: F.struct(
            t.alias("token"),
            F.size(F.filter(F.col("_mt"), lambda x: x == t)).alias("tf"),
        ),
    )
    post = base.select(
        F.col(id_col), F.col("dl"), F.explode(per_term).alias("_p")
    ).select(
        id_col,
        "dl",
        F.col("_p.token").alias("token"),
        F.col("_p.tf").alias("tf"),
    )
    return post, stats


def keyword_scores(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 6,
    stats: DataFrame | None = None,
) -> DataFrame:
    """TF·IDF keyword score per document for a bag of query terms.

    idf(t) = ln(N / df_t); documents matching no term are absent (the
    inverted index never touches them — unlike a per-doc scan). N comes
    from a broadcast one-row stats table — the whole score is one lazy
    plan with no driver round-trip. Postings + stats come from
    :func:`term_postings_one_scan` (one corpus text scan, r11)."""
    from pyspark.sql import Window

    post, built_stats = term_postings_one_scan(docs, terms, id_col, text_col)
    if stats is None:
        stats = built_stats
    # df_t via a window over the postings themselves (a separate idf
    # aggregation + join would re-read the postings)
    df_t = F.count(F.lit(1)).over(Window.partitionBy("token"))
    return (
        post.join(F.broadcast(stats.select("n_docs")))
        .withColumn("idf", F.log(F.col("n_docs").cast("double") / df_t))
        .groupBy(id_col)
        .agg(F.round(F.sum(F.col("tf") * F.col("idf")), round_to).alias("kw_score"))
    )


def hybrid_scores(
    docs_with_vectors: DataFrame,
    terms: list[str],
    query_vec: list[float],
    id_col: str = "doc_id",
    text_col: str = "text",
    embedding_col: str = "embedding",
    alpha: float = 0.5,
    round_to: int = 6,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Hybrid = alpha * keyword (max-normalized) + (1-alpha) * cosine.

    Keyword side covers only keyword-matching docs; vector side covers
    all docs; the fusion is a left join from the vector side (missing
    keyword score = 0), matching the OGX hybrid shape. The per-query
    max used for normalization is a one-row aggregate broadcast back
    into the plan — no driver collect; the (bounded) keyword table is
    materialized once and reused by both the normalizer and the join.
    """
    from rag_content_spark.functions.vector import dot, double_array_lit

    kw = keyword_scores(
        docs_with_vectors, terms, id_col, text_col, round_to=9, stats=stats
    )
    # r11: kw is referenced twice below (the max-normalizer aggregate
    # AND the fusion join) — materialize once so the keyword pipeline
    # (tokenize + posting aggregation) doesn't run twice per query.
    # Term-matching-docs-bounded, so the checkpoint is small.
    kw = kw.localCheckpoint(eager=True)
    # empty/zero max -> 1.0, mirroring the previous `max or 1.0` scalar
    kw_max = kw.agg(
        F.coalesce(
            F.nullif(F.max("kw_score"), F.lit(0.0)), F.lit(1.0)
        ).alias("kw_max")
    )
    qv = double_array_lit(query_vec)
    vec = docs_with_vectors.select(
        F.col(id_col),
        F.round(dot(F.col(embedding_col), qv, len(query_vec)), 9).alias("cos_score"),
    )
    # final grid snap via floor(x * 10^r + 0.5), NOT F.round: Spark
    # rounds the shortest-decimal repr of a double while DuckDB rounds
    # the binary value, so a fused score straddling the .5e-6 boundary
    # rounds DIFFERENTLY per engine (caught by the r9 100x sweep —
    # spark 1.048511 vs duck 1.048510). floor is exact on binary
    # doubles: identical inputs guarantee identical 6-dp outputs.
    grid = F.lit(float(10 ** round_to))
    fused = (
        F.lit(alpha)
        * F.coalesce(F.col("kw_score"), F.lit(0.0))
        / F.col("kw_max")
        + F.lit(1.0 - alpha) * F.col("cos_score")
    )
    return (
        vec.join(kw, id_col, "left")
        .join(F.broadcast(kw_max))
        .select(
            F.col(id_col),
            (
                F.floor(fused * grid + F.lit(0.5)).cast("double") / grid
            ).alias("hybrid_score"),
        )
    )


def hybrid_scores_rrf(
    docs_with_vectors: DataFrame,
    terms: list[str],
    query_vec: list[float],
    id_col: str = "doc_id",
    text_col: str = "text",
    embedding_col: str = "embedding",
    impact_factor: float = 60.0,
    top_n: int = 200,
    stats: DataFrame | None = None,
    keyword_ranker: str = "tfidf",
) -> DataFrame:
    """Reciprocal-rank fusion hybrid — the DEFAULT hybrid ranker of the
    llama-stack runtime the reference's OGX query path delegates to
    (reference scripts/query_rag.py:188-202; llama-stack's RRFReRanker,
    impact_factor k = 60; the published formula is Cormack, Clarke &
    Buettcher SIGIR 2009):

        rrf(d) = sum over retrievers r of 1 / (k + rank_r(d))

    fused over the keyword top-``top_n`` and the cosine top-``top_n``
    (llama-stack fuses two top-k lists, so each side is bounded); a doc
    absent from one list contributes nothing from that side.

    ``keyword_ranker`` selects the keyword side's scorer:
    ``"fts5"`` ranks with :func:`bm25_scores` (idf_variant="fts5" — the
    SQLite FTS5 BM25 behind llama-stack's sqlite-vec keyword retriever,
    pinned to 1e-6 against a real FTS5 table), which makes the WHOLE
    operator runtime-exact for the OGX hybrid mode; ``"tfidf"``
    (default, kept for the r10-pinned `hybrid_rrf` oracle) ranks with
    our TF-IDF :func:`keyword_scores`. The FUSION rule is identical in
    both modes. The generic N-way rank fusion lives in :func:`rrf_fuse`;
    this is the two-retriever OGX hybrid shape, kept separate because
    it surfaces the per-side ranks alongside the fused score.

    Scale shape: each side goes through :func:`shortlist_ranks`
    (TakeOrdered top-n, rank window over <= top_n rows), the join is a
    full outer over <= 2*top_n rows. The fused score is computed from
    INTEGER ranks with one correctly-rounded division per side, so
    identical ranks give bit-identical doubles on any engine — no
    rounding-grid snap needed.
    """
    from rag_content_spark.functions.vector import dot, double_array_lit

    if keyword_ranker == "fts5":
        kw = bm25_scores(
            docs_with_vectors, terms, id_col=id_col, text_col=text_col,
            round_to=9, stats=stats, idf_variant="fts5",
        ).withColumnRenamed("bm25", "kw_score")
    elif keyword_ranker == "tfidf":
        kw = keyword_scores(
            docs_with_vectors, terms, id_col, text_col, round_to=9,
            stats=stats,
        )
    else:
        raise ValueError(f"unknown keyword_ranker {keyword_ranker!r}")
    kw_ranked = shortlist_ranks(
        kw, n=top_n, score_col="kw_score", id_col=id_col
    ).withColumnRenamed("rank", "kw_rank")
    qv = double_array_lit(query_vec)
    vec = docs_with_vectors.select(
        F.col(id_col),
        F.round(
            dot(F.col(embedding_col), qv, len(query_vec)), 9
        ).alias("cos_score"),
    )
    vec_ranked = shortlist_ranks(
        vec, n=top_n, score_col="cos_score", id_col=id_col
    ).withColumnRenamed("rank", "vec_rank")
    k = F.lit(float(impact_factor))
    side = lambda rank: F.coalesce(  # noqa: E731
        F.lit(1.0) / (k + F.col(rank).cast("double")), F.lit(0.0)
    )
    return (
        vec_ranked.join(kw_ranked, id_col, "full_outer")
        .select(
            F.col(id_col),
            F.col("vec_rank"),
            F.col("kw_rank"),
            (side("vec_rank") + side("kw_rank")).alias("rrf_score"),
        )
    )


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 6,
    stats: DataFrame | None = None,
    idf_variant: str = "lucene",
) -> DataFrame:
    """Okapi BM25 (Robertson & Walker's classic formula with the
    standard k1/b defaults) over the same inverted-index shape as
    keyword_scores.

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)); tf normalization uses the
    document length in whitespace tokens against the corpus average.
    Corpus stats (N, avgdl) come from a broadcast one-row stats table —
    exact aggregates, engine-reproducible, and no mid-plan driver
    round-trip. Postings (dl attached — no separate lengths join) +
    stats come from :func:`term_postings_one_scan` (one corpus text
    scan, r11)."""
    post, built_stats = term_postings_one_scan(docs, terms, id_col, text_col)
    if stats is None:
        stats = built_stats
    return bm25_from_postings(
        post, None, stats, id_col=id_col, k1=k1, b=b, round_to=round_to,
        idf_variant=idf_variant,
    )


def bm25_from_postings(
    post: DataFrame,
    lengths: DataFrame | None,
    stats: DataFrame | tuple[int, float],
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 6,
    idf_variant: str = "lucene",
) -> DataFrame:
    """BM25 scoring from a prepared (id, token, tf) postings table + a
    (id, dl) lengths table + a broadcast one-row (n_docs, avgdl) stats
    table — the shape both the on-the-fly scorer above and the
    PERSISTED index (plans/text_index.py) share, so scores are
    bit-identical regardless of where the postings came from. df per
    term is a window over the postings themselves (a term's postings
    are never split by the index's bucket pruning).

    ``lengths=None`` means ``post`` already carries its ``dl`` column
    (the :func:`term_postings_one_scan` shape) — the lengths join is
    skipped; the score arithmetic is identical either way.

    ``stats`` may instead be the driver-known ``(n_docs, avgdl)`` pair:
    the same arithmetic over literals, with no stats join.

    ``idf_variant``: ``"lucene"`` (default) uses the non-negative
    ln(1 + (N-df+0.5)/(df+0.5)); ``"fts5"`` uses SQLite FTS5's
    max(ln((N-df+0.5)/(df+0.5)), 1e-6) — the scorer behind the
    llama-stack sqlite-vec provider's keyword mode that the reference's
    OGX query path delegates to (tests pin score equality against a
    real in-process FTS5 table)."""
    from pyspark.sql import Window

    df_t = F.count(F.lit(1)).over(Window.partitionBy("token"))
    scored = post if lengths is None else post.join(lengths, id_col)
    if isinstance(stats, DataFrame):
        scored = scored.join(F.broadcast(stats))
        n_docs, avgdl = F.col("n_docs").cast("double"), F.col("avgdl")
    else:
        n_docs, avgdl = F.lit(float(stats[0])), F.lit(float(stats[1]))
    ratio = (n_docs - df_t + F.lit(0.5)) / (df_t + F.lit(0.5))
    if idf_variant == "fts5":
        # fts5.c fts5Bm25(): if (idf <= 0.0) idf = 1e-6 — a POSITIVE
        # idf below 1e-6 is kept, only non-positive values are floored
        idf = F.when(F.log(ratio) <= 0.0, F.lit(1e-6)).otherwise(
            F.log(ratio)
        )
    else:
        idf = F.log(F.lit(1.0) + ratio)
    tf = F.col("tf").cast("double")
    norm = tf * (k1 + 1) / (
        tf
        + F.lit(k1)
        * (F.lit(1 - b) + F.lit(b) * F.col("dl") / avgdl)
    )
    return (
        scored.withColumn("_term_score", idf * norm)
        .groupBy(id_col)
        .agg(F.round(F.sum("_term_score"), round_to).alias("bm25"))
    )


def doc_top_keywords(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """Per-document top-``k`` TF-IDF keywords — the corpus-summary /
    tagging op (the extractive little sibling of the keyword search
    modes; the reference's query side has term matching but no
    per-document term profiling).

    Score = tf * ln((N+1)/(df_t+1)) — the smooth idf (always >= 0, no
    df=N singularity). Rank ties break on the ROUNDED score then token,
    so the ordering is identical across engines at ``round_to``
    decimals.

    Plan shape (scale): postings agg (exchange on (id, token)) ->
    df_t window partitioned by token (exchange on token) -> per-doc
    row_number window partitioned by id (exchange on id). Three
    key-partitioned exchanges, broadcast one-row stats, no corpus-sized
    unpartitioned window — holds at 100 TB.
    """
    from pyspark.sql import Window

    post = postings(docs, id_col, text_col)
    stats = corpus_stats(docs, id_col, text_col).select("n_docs")
    df_t = F.count(F.lit(1)).over(Window.partitionBy("token"))
    scored = post.join(F.broadcast(stats)).withColumn(
        "tfidf6",
        F.round(
            F.col("tf").cast("double")
            * F.log(
                (F.col("n_docs").cast("double") + F.lit(1.0))
                / (df_t.cast("double") + F.lit(1.0))
            ),
            round_to,
        ),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf6"), F.asc("token"))
    return (
        scored.withColumn("kw_rank", F.row_number().over(w))
        .filter(F.col("kw_rank") <= k)
        .select(id_col, "kw_rank", "token", "tfidf6")
    )


def phrase_search(
    docs: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact consecutive-token phrase match — the CORPUS-SCAN form: it
    re-tokenizes every document per query, so use it for one-off
    analytics only. The default route at scale is the persisted
    positional index (``plans/query.phrase_retrieval(use_index=...)``
    -> ``plans/text_index.phrase_query_text_index``), which reads only
    the phrase's token buckets and is bit-identical to this operator
    (pinned in tests). (The reference's keyword path has term/substring
    matching only, query_rag.py:190.)

    Declarative formulation — NO per-term join chain: posexplode once,
    keep only the phrase's terms, then per doc intersect each term's
    position set shifted by its phrase offset
    (``positions(t_i) - i``); every surviving position is a phrase
    start. One key-partitioned groupBy(id) exchange; the per-doc state
    is bounded by the phrase terms' occurrence counts.
    """
    terms = [t for t in phrase.split() if t]
    if not terms:
        raise ValueError("phrase must contain at least one token")
    tok = docs.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "token")
    ).filter(F.col("token").isin(terms))
    aggs = [
        F.sort_array(
            F.collect_list(F.when(F.col("token") == t, F.col("pos") - i))
        ).alias(f"_p{i}")
        for i, t in enumerate(terms)
    ]
    per_doc = tok.groupBy(id_col).agg(*aggs)
    inter = F.col("_p0")
    for i in range(1, len(terms)):
        inter = F.array_intersect(inter, F.col(f"_p{i}"))
    return (
        per_doc.select(
            F.col(id_col), F.size(inter).cast("bigint").alias("n_occurrences")
        )
        .filter(F.col("n_occurrences") > 0)
    )


def proximity_search(
    docs: DataFrame,
    terms: list[str],
    window: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Unordered proximity retrieval: per doc, the number of
    ``window``-wide sliding-window START positions whose window contains
    at least one occurrence of EVERY term (the slop-style sibling of
    :func:`phrase_search`; crisp window-start counting instead of
    Lucene's per-match slop). This is the CORPUS-SCAN form (re-tokenizes
    per query, for one-off analytics); at scale route through
    ``plans/query.proximity_retrieval(use_index=...)`` — the
    bucket-pruned positional index twin with bit-identical results.

    Same declarative shape as phrase_search: one filtered posexplode,
    one key-partitioned groupBy(id) exchange, then each term's position
    set expands to its valid-start interval
    ``[max(p-w+1, 0), min(p, L-w)]`` (``sequence`` + ``flatten`` +
    ``array_distinct``, bounded by w x occurrences) and the per-term
    start sets intersect. Docs shorter than the window can't match and
    are filtered before the shuffle.
    """
    terms = list(dict.fromkeys(t for t in terms if t))
    if not terms:
        raise ValueError("terms must contain at least one token")
    w = int(window)
    if w < 1:
        raise ValueError("window must be >= 1")
    tok = (
        docs.select(F.col(id_col), tokens(text_col).alias("_tk"))
        .select(
            F.col(id_col),
            F.size("_tk").alias("_len"),
            F.posexplode("_tk").alias("pos", "token"),
        )
        .filter(F.col("token").isin(terms) & (F.col("_len") >= w))
    )
    aggs = [
        F.sort_array(
            F.collect_list(F.when(F.col("token") == t, F.col("pos")))
        ).alias(f"_p{i}")
        for i, t in enumerate(terms)
    ]
    per_doc = tok.groupBy(id_col).agg(F.max("_len").alias("_len"), *aggs)

    def _starts(col: Column) -> Column:
        # valid window starts covering position p: [p-w+1, p], clipped
        # to [0, L-w]; with L >= w the range is never empty, so
        # sequence() cannot flip into descending mode
        return F.array_distinct(
            F.flatten(
                F.transform(
                    col,
                    lambda p: F.sequence(
                        F.greatest(p - F.lit(w - 1), F.lit(0)),
                        F.least(p, F.col("_len") - F.lit(w)),
                    ),
                )
            )
        )

    inter = _starts(F.col("_p0"))
    for i in range(1, len(terms)):
        inter = F.array_intersect(inter, _starts(F.col(f"_p{i}")))
    return (
        per_doc.select(
            F.col(id_col), F.size(inter).cast("bigint").alias("n_windows")
        )
        .filter(F.col("n_windows") > 0)
    )


def retrieval_eval(
    index,
    queries,
    k: int = 10,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    label_col: str = "label",
    vectorized: bool = True,
) -> "DataFrame":
    """IR evaluation of the vector index: per query, MRR and NDCG@k of
    the exact cosine/IP ranking, with same-label items as the relevance
    set (the standard planted-relevance eval for embedding quality /
    index regression tests).

    ``queries`` carries (query_id, query_vec, query_label); the query
    item itself is excluded from its ranking. IDCG uses the true
    relevant count capped at k, so NDCG is 1.0 for a perfect ranking
    regardless of label frequency.

    Shape: queries broadcast against the index scan (the top_k_batch
    phase-1 shape), one rank window per query, then per-query folds —
    the only shuffle carries <= k rows per query plus one tiny
    label-count aggregate. ``vectorized`` (default, r11) computes the
    item x query raw scores with the exact numpy twin
    (:func:`_crossdot_scores_np` — fold-order bit-identical doubles,
    query set collected once at plan build, as the declarative
    broadcast already implied boundedness); ranking/rounding stay in
    Spark either way.
    """
    from pyspark.sql import Window
    from rag_content_spark.functions.vector import dot

    if vectorized:
        q_rows = [
            (r["query_id"], list(r["query_vec"]), r["query_label"])
            for r in queries.select(
                "query_id", "query_vec", "query_label"
            ).collect()
        ]
        scored = _crossdot_scores_np(
            index, q_rows, "query_id", "query_label",
            id_col, embedding_col, label_col,
        ).select(
            "query_id",
            "query_label",
            F.col(id_col),
            F.col(label_col),
            F.round("_raw", 6).alias("score"),
        )
    else:
        q = F.broadcast(
            queries.select("query_id", "query_vec", "query_label")
        )
        scored = (
            index.select(id_col, embedding_col, label_col)
            .crossJoin(q)
            .filter(F.col(id_col) != F.col("query_id"))
            .select(
                "query_id",
                "query_label",
                F.col(id_col),
                F.col(label_col),
                F.round(
                    dot(F.col(embedding_col), F.col("query_vec")), 6
                ).alias("score"),
            )
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    ranked = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    rel = F.when(F.col(label_col) == F.col("query_label"), 1).otherwise(0)
    per_q = ranked.groupBy("query_id").agg(
        F.min(F.when(rel == 1, F.col("rank"))).alias("_first_rel"),
        F.sum(
            rel.cast("double") / F.log2(F.col("rank").cast("double") + 1.0)
        ).alias("_dcg"),
    )
    # true relevant count per query (capped at k) -> IDCG
    n_rel = (
        index.select(id_col, F.col(label_col).alias("query_label"))
        .join(
            F.broadcast(queries.select("query_id", "query_label")),
            "query_label",
        )
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id")
        .agg(F.least(F.count(F.lit(1)), F.lit(k)).alias("_m"))
    )
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.col("_m")),
        F.lit(0.0),
        lambda acc, p: acc + F.lit(1.0) / F.log2(p.cast("double") + 1.0),
    )
    return (
        per_q.join(n_rel, "query_id", "left")
        .select(
            "query_id",
            F.round(
                F.coalesce(
                    F.lit(1.0) / F.col("_first_rel").cast("double"), F.lit(0.0)
                ),
                6,
            ).alias("mrr"),
            F.round(
                F.when(F.coalesce(F.col("_m"), F.lit(0)) > 0,
                       F.col("_dcg") / idcg).otherwise(0.0),
                6,
            ).alias("ndcg"),
        )
    )


def mine_contrastive_pairs(
    index,
    anchors,
    n_pos: int = 3,
    n_neg: int = 3,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    label_col: str = "label",
    vectorized: bool = True,
) -> "DataFrame":
    """Contrastive-pair mining for embedding finetuning: per anchor, the
    ``n_pos`` nearest SAME-label items (positives) and the ``n_neg``
    nearest DIFFERENT-label items (hard negatives — the ones a margin
    loss actually learns from; random negatives are too easy).

    Same broadcast-anchors + rank-window shape as retrieval_eval; the
    two ranks ride ONE window pass each over the same scored scan.
    Output: (anchor_id, vec_id, score, kind['pos'|'neg'], rank).
    ``vectorized`` (default, r11): exact numpy scorer, see
    :func:`retrieval_eval`.
    """
    from pyspark.sql import Window
    from rag_content_spark.functions.vector import dot

    if vectorized:
        a_rows = [
            (r["anchor_id"], list(r["anchor_vec"]), r["anchor_label"])
            for r in anchors.select(
                "anchor_id", "anchor_vec", "anchor_label"
            ).collect()
        ]
        scored = _crossdot_scores_np(
            index, a_rows, "anchor_id", "anchor_label",
            id_col, embedding_col, label_col,
        ).select(
            "anchor_id",
            F.col(id_col),
            F.round("_raw", 6).alias("score"),
            F.when(F.col(label_col) == F.col("anchor_label"), "pos")
            .otherwise("neg")
            .alias("kind"),
        )
    else:
        a = F.broadcast(
            anchors.select("anchor_id", "anchor_vec", "anchor_label")
        )
        scored = (
            index.select(id_col, embedding_col, label_col)
            .crossJoin(a)
            .filter(F.col(id_col) != F.col("anchor_id"))
            .select(
                "anchor_id",
                F.col(id_col),
                F.round(
                    dot(F.col(embedding_col), F.col("anchor_vec")), 6
                ).alias("score"),
                F.when(F.col(label_col) == F.col("anchor_label"), "pos")
                .otherwise("neg")
                .alias("kind"),
            )
        )
    w = Window.partitionBy("anchor_id", "kind").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    return ranked.filter(
        ((F.col("kind") == "pos") & (F.col("rank") <= n_pos))
        | ((F.col("kind") == "neg") & (F.col("rank") <= n_neg))
    )


def _round_half_away(x, decimals: int = 0):
    """Round half away from zero — Spark F.round / DuckDB round()
    semantics. numpy's np.round is banker's (half-even) and diverges
    from both engines at exact .5 boundaries of the fixed-point grid."""
    import numpy as np

    f = 10.0 ** decimals
    return np.sign(x) * np.floor(np.abs(x) * f + 0.5) / f


def mine_bitext(
    src,
    tgt,
    k: int = 4,
    margin_threshold: float = 1.05,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> "DataFrame":
    """Margin-based bitext mining (Artetxe & Schwenk 2019; the
    ccMatrix/LASER criterion): for each source vector, its best target
    by cosine, scored by margin = best / mean(top-k) — absolute cosine
    thresholds drift per language pair, the margin normalizes by the
    local neighborhood density.

    Exact all-pairs scoring (registered/oracle path); at 100 TB the
    identical ranking runs over an ANN shortlist (operators/similarity
    top_k_batch / query_ann_index) — the margin math is unchanged.
    Determinism: scores are fixed-point 1e-6 BIGINTs, so the top-k sum
    is an exact integer and margin = best*n/sum is identical on any
    engine and partitioning (n = the ACTUAL top-list size, which is
    < k when fewer than k targets exist — a constant k would overstate
    the neighborhood mean and inflate margins past the threshold,
    deviating from the Artetxe & Schwenk definition). Ties break by
    target id.
    """
    from pyspark.sql import Window

    from rag_content_spark.functions.vector import cosine

    a = src.select(
        F.col(id_col).alias("id_a"), F.col(embedding_col).alias("_ea")
    )
    b = tgt.select(
        F.col(id_col).alias("id_b"), F.col(embedding_col).alias("_eb")
    )
    scored = a.crossJoin(b).select(
        "id_a",
        "id_b",
        F.round(cosine("_ea", "_eb") * F.lit(1_000_000))
        .cast("bigint")
        .alias("s6"),
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("s6"), "id_b")
    top = scored.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    agg = top.groupBy("id_a").agg(
        F.min_by(F.col("id_b"), F.col("_rn")).alias("id_b"),
        F.max("s6").alias("_best6"),
        F.sum("s6").alias("_sum6"),
        F.count(F.lit(1)).alias("_nk"),
    )
    return (
        agg.select(
            "id_a",
            "id_b",
            F.round(F.col("_best6").cast("double") / 1e6, 6).alias("score"),
            F.round(
                F.col("_best6").cast("double") * F.col("_nk") / F.col("_sum6"),
                6,
            ).alias("margin"),
        )
        .filter(F.col("margin") >= margin_threshold)
    )


def mine_bitext_np(
    src,
    tgt,
    k: int = 4,
    margin_threshold: float = 1.05,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> "DataFrame":
    """Vectorized twin of :func:`mine_bitext`: one numpy cosine matrix
    per Arrow batch of sources against the materialized target matrix
    (driver-collected and broadcast — the target side must fit in
    memory; :func:`mine_bitext_ivf` is the beyond-memory variant).
    Identical fixed-point ranking and tie-break (targets pre-sorted by
    id + stable argsort), equality-pinned against the exact operator in
    tests. Rounding is HALF-AWAY-FROM-ZERO (sign*floor(|x|+0.5)) to
    match Spark's F.round / DuckDB's round exactly — numpy's default
    np.round is banker's (half-even) and diverges at .5 boundaries.

    Measured: 205 s exact all-pairs at 2.5k x 2.5k x 64-d -> ~2 s here.
    """
    import numpy as np
    import pandas as pd

    import pyspark.sql.types as T

    rows = sorted(
        (r[id_col], list(r[embedding_col])) for r in tgt.select(
            id_col, embedding_col
        ).collect()
    )
    tids = np.array([r[0] for r in rows])  # dtype inferred: int ids or str ids
    M = np.array([r[1] for r in rows], dtype=np.float64)
    Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)

    # id types follow the inputs (the exact operator is generic in the
    # id column; a hardcoded LongType would corrupt string ids)
    schema = T.StructType(
        [
            T.StructField("id_a", src.schema[id_col].dataType),
            T.StructField("id_b", tgt.schema[id_col].dataType),
            T.StructField("score", T.DoubleType()),
            T.StructField("margin", T.DoubleType()),
        ]
    )

    def _mine(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.array([list(v) for v in pdf[embedding_col]], dtype=np.float64)
            An = A / np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-300)
            s6 = _round_half_away(An @ Mn.T * 1_000_000).astype(np.int64)
            # stable argsort over -s6: ties resolve in target-id order
            # because the target axis is pre-sorted by id
            order = np.argsort(-s6, axis=1, kind="stable")[:, :k]
            r = np.arange(len(pdf))
            top6 = s6[r[:, None], order]
            best6 = top6[:, 0].astype(np.float64)
            sum6 = top6.sum(axis=1).astype(np.float64)
            # order.shape[1] = the ACTUAL top width (< k when fewer
            # targets exist) — a constant k would inflate the margin
            margin = _round_half_away(best6 * order.shape[1] / sum6, 6)
            keep = margin >= margin_threshold
            yield pd.DataFrame(
                {
                    "id_a": pdf[id_col].to_numpy()[keep],
                    "id_b": tids[order[:, 0]][keep],
                    "score": _round_half_away(best6 / 1e6, 6)[keep],
                    "margin": margin[keep],
                }
            )

    return src.select(id_col, embedding_col).mapInPandas(_mine, schema=schema)


def _probe_cells_np(
    df: DataFrame,
    centroids: list,
    nprobe: int,
    id_col: str,
    embedding_col: str,
    out_id: str,
    out_emb: str,
    carry: tuple = (),
) -> DataFrame:
    """Explode each row into its ``nprobe`` nearest IVF cells:
    (out_id, out_emb, _cell). Cell ranking comes from
    :func:`~rag_content_spark.operators.similarity.nearest_cells_np`
    (matmul shortlist + difference-form refine + half-away 1e-6
    rounding, ties by centroid id) — the same total order the exact SQL
    probe uses (and :func:`assign_ivf_cells_np`'s assignment rule),
    including at rounding boundaries.

    ``carry`` is (in_col, out_col) pairs copied through unchanged (e.g.
    a label column the per-cell kernel needs); ``nprobe=1`` makes this
    the cell ASSIGNMENT (identical rule to assign_ivf_cells_np)."""
    import numpy as np
    import pandas as pd

    import pyspark.sql.types as T

    cent_ids = np.array([c[0] for c in centroids], dtype=np.int64)
    order = np.argsort(cent_ids, kind="stable")
    cent_ids = cent_ids[order]
    cmat = np.array([centroids[i][1] for i in order], dtype=np.float64)
    cnorm = (cmat * cmat).sum(axis=1)
    p = min(nprobe, len(cent_ids))

    schema = T.StructType(
        [
            T.StructField(out_id, df.schema[id_col].dataType),
            T.StructField(out_emb, df.schema[embedding_col].dataType),
            T.StructField("_cell", T.LongType()),
        ]
        + [T.StructField(dst, df.schema[src].dataType) for src, dst in carry]
    )

    def _probe(batches):
        from rag_content_spark.operators.similarity import nearest_cells_np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            emb = np.array(pdf[embedding_col].tolist(), dtype=np.float64)
            cells = nearest_cells_np(emb, cmat, cent_ids, cnorm, p)
            out = {
                out_id: pdf[id_col].to_numpy().repeat(p),
                out_emb: pdf[embedding_col].to_numpy().repeat(p),
                "_cell": cells.reshape(-1),
            }
            for src, dst in carry:
                out[dst] = pdf[src].to_numpy().repeat(p)
            yield pd.DataFrame(out)

    cols = [id_col, embedding_col] + [src for src, _ in carry]
    return df.select(*cols).mapInPandas(_probe, schema=schema)


def mine_bitext_ivf(
    src,
    tgt,
    centroids: list,
    k: int = 4,
    nprobe: int = 4,
    margin_threshold: float = 1.05,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> "DataFrame":
    """Beyond-memory bitext mining: the IVF-shortlist variant of
    :func:`mine_bitext` / :func:`mine_bitext_np`.

    Neither side is ever collected to the driver (only ``centroids`` —
    a vocabulary-sized model artifact, same as the ANN index build):

    1. targets are assigned to their nearest IVF cell (vectorized per
       Arrow batch, distributed);
    2. sources probe their ``nprobe`` nearest cells (exploded rows);
    3. a **cogrouped per-cell matmul** scores each (source-batch x
       cell) block and keeps the per-cell top-k — shuffle is one
       equi-join-shaped cogroup on cell, never all-pairs;
    4. a global rank window merges the per-cell top-ks (<= nprobe*k
       rows per source) and the margin uses the ACTUAL top width, like
       the exact operator.

    With ``nprobe >= len(centroids)`` every candidate is scored and the
    result is EXACTLY mine_bitext (equality-pinned in tests); smaller
    nprobe trades recall for touching only nprobe/n_cells of the target
    corpus per source — the Artetxe & Schwenk production shape. All
    scores are fixed-point 1e-6 BIGINTs rounded half-away (engine-exact
    grid; same caveats as mine_bitext_np).
    """
    import numpy as np
    import pandas as pd

    import pyspark.sql.types as T

    from pyspark.sql import Window

    from rag_content_spark.operators.similarity import assign_ivf_cells_np

    assigned = assign_ivf_cells_np(
        tgt.select(id_col, embedding_col), centroids,
        embedding_col=embedding_col, id_col=id_col,
    ).select(
        F.col(id_col).alias("id_b"),
        F.col(embedding_col).alias("_eb"),
        F.col("centroid_id").alias("_cell"),
    )
    probes = _probe_cells_np(
        src, centroids, nprobe, id_col, embedding_col, "id_a", "_ea"
    )

    # id types follow the inputs, like _probe_cells_np (the exact
    # operator is generic in the id column)
    out_schema = T.StructType(
        [
            T.StructField("id_a", src.schema[id_col].dataType),
            T.StructField("id_b", tgt.schema[id_col].dataType),
            T.StructField("s6", T.LongType()),
        ]
    )

    def _cell_topk(_key, left: "pd.DataFrame", right: "pd.DataFrame"):
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "s6": []})
        # pre-sort targets by id so the stable argsort breaks score
        # ties in target-id order (the exact operator's total order)
        right = right.sort_values("id_b")
        tids = right["id_b"].to_numpy()
        B = np.array(right["_eb"].tolist(), dtype=np.float64)
        Bn = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-300)
        A = np.array(left["_ea"].tolist(), dtype=np.float64)
        An = A / np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-300)
        s6 = _round_half_away(An @ Bn.T * 1_000_000).astype(np.int64)
        kk = min(k, s6.shape[1])
        order = np.argsort(-s6, axis=1, kind="stable")[:, :kk]
        r = np.arange(len(left))
        return pd.DataFrame(
            {
                "id_a": left["id_a"].to_numpy().repeat(kk),
                "id_b": tids[order].reshape(-1),
                "s6": s6[r[:, None], order].reshape(-1),
            }
        )

    merged = (
        probes.groupBy("_cell")
        .cogroup(assigned.groupBy("_cell"))
        .applyInPandas(_cell_topk, schema=out_schema)
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("s6"), "id_b")
    top = merged.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    agg = top.groupBy("id_a").agg(
        F.min_by(F.col("id_b"), F.col("_rn")).alias("id_b"),
        F.max("s6").alias("_best6"),
        F.sum("s6").alias("_sum6"),
        F.count(F.lit(1)).alias("_nk"),
    )
    return (
        agg.select(
            "id_a",
            "id_b",
            F.round(F.col("_best6").cast("double") / 1e6, 6).alias("score"),
            F.round(
                F.col("_best6").cast("double") * F.col("_nk") / F.col("_sum6"),
                6,
            ).alias("margin"),
        )
        .filter(F.col("margin") >= margin_threshold)
    )


def mine_contrastive_pairs_ivf(
    index,
    anchors,
    centroids: list,
    n_pos: int = 3,
    n_neg: int = 3,
    nprobe: int = 3,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    label_col: str = "label",
) -> "DataFrame":
    """IVF-shortlist contrastive-pair mining — the scale path of
    :func:`mine_contrastive_pairs`, whose anchors x corpus scoring is
    quadratic by design (fine as an eval baseline, dead at 100 TB).

    Same cogrouped per-cell shape as :func:`mine_bitext_ivf`: index
    rows are assigned to their nearest IVF cell, anchors probe their
    ``nprobe`` nearest cells, and a per-cell numpy matmul keeps each
    anchor's per-cell best ``n_pos`` same-label / ``n_neg``
    different-label candidates; one global rank window merges the
    per-cell survivors (<= nprobe*(n_pos+n_neg) rows per anchor).
    ``centroids`` is a bounded model artifact (nlist does NOT grow
    linearly with the corpus), so cost is anchors x nprobe x cell size.
    With ``nprobe >= len(centroids)`` the result is EXACTLY the
    brute-force operator on the 1e-6 score grid (equality-pinned in
    tests). Scores are fixed-point 1e-6 dot products rounded half-away
    — engine-exact, ties by candidate id."""
    import numpy as np
    import pandas as pd

    import pyspark.sql.types as T

    from pyspark.sql import Window

    assigned = _probe_cells_np(
        index, centroids, 1, id_col, embedding_col, "_cid", "_ce",
        carry=((label_col, "_cl"),),
    )
    probes = _probe_cells_np(
        anchors, centroids, nprobe, "anchor_id", "anchor_vec", "_aid", "_ae",
        carry=(("anchor_label", "_al"),),
    )

    out_schema = T.StructType(
        [
            T.StructField("anchor_id", anchors.schema["anchor_id"].dataType),
            T.StructField("vec_id", index.schema[id_col].dataType),
            T.StructField("s6", T.LongType()),
            T.StructField("kind", T.StringType()),
        ]
    )
    _SENT = -(2 ** 62)

    def _cell_mine(_key, left: "pd.DataFrame", right: "pd.DataFrame"):
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(
                {"anchor_id": [], "vec_id": [], "s6": [], "kind": []}
            )
        # candidate axis pre-sorted by id: stable argsort breaks score
        # ties in id order (the exact operator's total order)
        right = right.sort_values("_cid")
        tids = right["_cid"].to_numpy()
        tlab = right["_cl"].to_numpy()
        B = np.array(right["_ce"].tolist(), dtype=np.float64)
        A = np.array(left["_ae"].tolist(), dtype=np.float64)
        aids = left["_aid"].to_numpy()
        alab = left["_al"].to_numpy()
        s6 = _round_half_away(A @ B.T * 1_000_000).astype(np.int64)
        same = tlab[None, :] == alab[:, None]
        notself = tids[None, :] != aids[:, None]
        r = np.arange(len(left))
        frames = []
        for mask, kind, nk in ((same, "pos", n_pos), (~same, "neg", n_neg)):
            m = np.where(mask & notself, s6, _SENT)
            kk = min(nk, m.shape[1])
            order = np.argsort(-m, axis=1, kind="stable")[:, :kk]
            vals = m[r[:, None], order]
            keep = vals.reshape(-1) > _SENT
            frames.append(
                pd.DataFrame(
                    {
                        "anchor_id": aids.repeat(kk)[keep],
                        "vec_id": tids[order].reshape(-1)[keep],
                        "s6": vals.reshape(-1)[keep],
                        "kind": kind,
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    merged = (
        probes.groupBy("_cell")
        .cogroup(assigned.groupBy("_cell"))
        .applyInPandas(_cell_mine, schema=out_schema)
    )
    w = Window.partitionBy("anchor_id", "kind").orderBy(
        F.desc("s6"), F.asc("vec_id")
    )
    ranked = merged.withColumn("rank", F.row_number().over(w))
    return ranked.filter(
        ((F.col("kind") == "pos") & (F.col("rank") <= n_pos))
        | ((F.col("kind") == "neg") & (F.col("rank") <= n_neg))
    ).select(
        "anchor_id",
        "vec_id",
        F.round(F.col("s6").cast("double") / 1e6, 6).alias("score"),
        "kind",
        "rank",
    )


def retrieval_eval_ivf(
    index,
    queries,
    centroids: list,
    k: int = 10,
    nprobe: int = 3,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    label_col: str = "label",
) -> "DataFrame":
    """IVF-shortlist IR eval — the scale path of :func:`retrieval_eval`
    (queries x corpus exact ranking is the quadratic baseline). MRR and
    NDCG@k are computed over the APPROXIMATE ranking (per query, the
    merged top-k of its ``nprobe`` probed cells), while IDCG still uses
    the TRUE same-label count capped at k — so the metric directly
    prices the IVF recall loss against the ideal ranking, which is what
    an index-regression gate at 100 TB wants to watch.

    Same cogrouped shape and determinism contract as
    :func:`mine_contrastive_pairs_ivf`; the true-relevant count is one
    linear label-count aggregate (broadcast to the query set), never a
    corpus x queries join. Full probe reproduces retrieval_eval exactly
    (equality-pinned in tests)."""
    import numpy as np
    import pandas as pd

    import pyspark.sql.types as T

    from pyspark.sql import Window

    assigned = _probe_cells_np(
        index, centroids, 1, id_col, embedding_col, "_cid", "_ce",
        carry=((label_col, "_cl"),),
    )
    probes = _probe_cells_np(
        queries, centroids, nprobe, "query_id", "query_vec", "_qid", "_qe",
        carry=(("query_label", "_ql"),),
    )

    out_schema = T.StructType(
        [
            T.StructField("query_id", queries.schema["query_id"].dataType),
            T.StructField("vec_id", index.schema[id_col].dataType),
            T.StructField("s6", T.LongType()),
            T.StructField("rel", T.IntegerType()),
        ]
    )
    _SENT = -(2 ** 62)

    def _cell_topk(_key, left: "pd.DataFrame", right: "pd.DataFrame"):
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(
                {"query_id": [], "vec_id": [], "s6": [], "rel": []}
            )
        right = right.sort_values("_cid")
        tids = right["_cid"].to_numpy()
        tlab = right["_cl"].to_numpy()
        B = np.array(right["_ce"].tolist(), dtype=np.float64)
        A = np.array(left["_qe"].tolist(), dtype=np.float64)
        qids = left["_qid"].to_numpy()
        qlab = left["_ql"].to_numpy()
        s6 = _round_half_away(A @ B.T * 1_000_000).astype(np.int64)
        m = np.where(tids[None, :] != qids[:, None], s6, _SENT)
        kk = min(k, m.shape[1])
        order = np.argsort(-m, axis=1, kind="stable")[:, :kk]
        r = np.arange(len(left))
        vals = m[r[:, None], order]
        keep = vals.reshape(-1) > _SENT
        rel = (tlab[order] == qlab[:, None]).astype(np.int32)
        return pd.DataFrame(
            {
                "query_id": qids.repeat(kk)[keep],
                "vec_id": tids[order].reshape(-1)[keep],
                "s6": vals.reshape(-1)[keep],
                "rel": rel.reshape(-1)[keep],
            }
        )

    merged = (
        probes.groupBy("_cell")
        .cogroup(assigned.groupBy("_cell"))
        .applyInPandas(_cell_topk, schema=out_schema)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("s6"), F.asc("vec_id"))
    ranked = merged.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    per_q = ranked.groupBy("query_id").agg(
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("_first_rel"),
        F.sum(
            F.col("rel").cast("double")
            / F.log2(F.col("rank").cast("double") + 1.0)
        ).alias("_dcg"),
    )
    # true relevant count: one label-count aggregate, minus the query
    # itself (always same-label), capped at k — identical to the exact
    # operator's n_rel but without its corpus x queries label join
    label_counts = index.groupBy(
        F.col(label_col).alias("query_label")
    ).agg(F.count(F.lit(1)).alias("_n_label"))
    n_rel = queries.select("query_id", "query_label").join(
        F.broadcast(label_counts), "query_label", "left"
    ).select(
        "query_id",
        F.least(
            F.coalesce(F.col("_n_label"), F.lit(1)) - 1, F.lit(k)
        ).alias("_m"),
    )
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.col("_m")),
        F.lit(0.0),
        lambda acc, p: acc + F.lit(1.0) / F.log2(p.cast("double") + 1.0),
    )
    return (
        per_q.join(n_rel, "query_id", "left")
        .select(
            "query_id",
            F.round(
                F.coalesce(
                    F.lit(1.0) / F.col("_first_rel").cast("double"), F.lit(0.0)
                ),
                6,
            ).alias("mrr"),
            F.round(
                F.when(F.coalesce(F.col("_m"), F.lit(0)) > 0,
                       F.col("_dcg") / idcg).otherwise(0.0),
                6,
            ).alias("ndcg"),
        )
    )


def mmr_rerank(
    index,
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 30,
    lam_pct: int = 70,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> "DataFrame":
    """MMR diversity re-ranking (Carbonell & Goldstein 1998): greedily
    pick the result maximizing
    ``lam * rel(c) - (1 - lam) * max_{s in selected} sim(c, s)`` —
    the standard answer to near-duplicate hits crowding a result page.

    Exactness: relevance and pairwise sims are FIXED-POINT 1e-6 BIGINTs
    computed by the same declarative cosine expressions the DuckDB
    oracle uses (array-order folds — bit-identical), and the greedy
    loop maximizes the integer ``lam_pct*rel6 - (100-lam_pct)*maxsim6``
    with ties by id, so the selection is engine-exact. The distributed
    part is the top-``shortlist`` scan + the shortlist self-join
    (<= shortlist^2 tiny rows); the greedy itself is a driver loop over
    <= shortlist candidates — the standard deployment shape (rerank a
    page, not a corpus).
    """
    from rag_content_spark.functions.vector import cosine
    from rag_content_spark.operators.similarity import cosine_query_scores_np

    spark = index.sparkSession
    # corpus relevance scan via the bit-exact numpy cosine twin (r11:
    # the 3 * dim interpreted fold steps per row move to one numpy
    # pass); rounding unchanged in Spark. The shortlist self-join below
    # keeps the declarative cosine (<= shortlist^2 tiny rows).
    scored = cosine_query_scores_np(
        index.select(
            F.col(id_col).alias("id"), F.col(embedding_col).alias("_e")
        ),
        list(query_vec),
        embedding_col="_e",
        id_col="id",
    ).select(
        "id",
        "_e",
        F.round(F.col("_cos") * F.lit(1_000_000)).cast("bigint").alias("rel6"),
    )
    cands = scored.orderBy(F.desc("rel6"), "id").limit(shortlist).cache()
    a = cands.select(F.col("id").alias("ia"), F.col("_e").alias("_ea"))
    b = cands.select(F.col("id").alias("ib"), F.col("_e").alias("_eb"))
    sims = (
        a.crossJoin(b)
        .filter(F.col("ia") != F.col("ib"))
        .select(
            "ia",
            "ib",
            F.round(cosine("_ea", "_eb") * F.lit(1_000_000))
            .cast("bigint")
            .alias("s6"),
        )
    )
    rel = {r["id"]: r["rel6"] for r in cands.select("id", "rel6").collect()}
    sim = {(r["ia"], r["ib"]): r["s6"] for r in sims.collect()}
    cands.unpersist()

    lam, inv = lam_pct, 100 - lam_pct
    selected: list = []
    remaining = set(rel)
    # maxsim[c] = max similarity of c to any already-selected item,
    # updated incrementally as picks land: O(n) per step total instead
    # of recomputing max-over-selected for every candidate (and the
    # scores dict means each step evaluates each candidate ONCE — the
    # old max-then-min tie-break re-scored all of `remaining` twice).
    maxsim: dict = {}
    while remaining and len(selected) < k:
        if not selected:
            scores = {c: rel[c] for c in remaining}
        else:
            scores = {c: lam * rel[c] - inv * maxsim[c] for c in remaining}
        best = max(scores.values())
        pick = min(c for c in remaining if scores[c] == best)
        selected.append(pick)
        remaining.discard(pick)
        for c in remaining:
            s = sim.get((c, pick), 0)
            if s > maxsim.get(c, -(1 << 62)):
                maxsim[c] = s

    rows = [
        (i + 1, s, round(rel[s] / 1e6, 6)) for i, s in enumerate(selected)
    ]
    return spark.createDataFrame(rows, ["rank", id_col, "rel"])


def shortlist_ranks(
    scored: "DataFrame",
    n: int,
    score_col: str,
    id_col: str = "doc_id",
) -> "DataFrame":
    """(id, rank) for the top-``n`` rows by ``(score desc, id)``.

    Scale shape: ``orderBy().limit(n)`` compiles to
    TakeOrderedAndProject — per-partition top-n merged on the driver, so
    the corpus never funnels through one task; the row_number window then
    runs over the <= n-row shortlist only (the same bounded-window
    pattern as the MMR shortlist). Rank fusion (RRF) only needs ranks
    inside each side's retrieval list, so this is semantics-preserving
    for any fused k <= n.
    """
    from pyspark.sql import Window

    short = scored.orderBy(F.desc(score_col), id_col).limit(n)
    w = Window.orderBy(F.desc(score_col), id_col)
    return short.select(id_col, F.row_number().over(w).alias("rank"))


def rrf_fuse(
    rankings: "list[DataFrame]",
    id_col: str = "doc_id",
    k: int = 60,
    top_n: int | None = None,
) -> "DataFrame":
    """Reciprocal Rank Fusion (Cormack et al. 2009):
    ``score(d) = sum_r 1 / (k + rank_r(d))`` over the input rankings —
    the rank-based fusion that needs no score normalization (the
    Elasticsearch/Vespa hybrid default, k=60 from the paper).

    Each input DataFrame must carry ``(id_col, rank)`` with dense
    1-based ranks. Scores are exact rationals summed as rounded
    doubles; ordering ties break by id. A document absent from a
    ranking simply contributes nothing (the RRF convention).
    """
    fused = None
    for r in rankings:
        part = r.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(k) + F.col("rank"))).alias("_c"),
        )
        fused = part if fused is None else fused.unionByName(part)
    out = (
        fused.groupBy(id_col)
        .agg(F.round(F.sum("_c"), 6).alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), id_col)
    )
    return out.limit(top_n) if top_n is not None else out


def token_vec_int(tok: Column, dim: int) -> Column:
    """Integer mock token embedding: dim i of token t =
    ``stable_hash64(t || ':' || i) % 1e6 * 2 - 1e6`` — the corpus mock
    embedder's formula kept in EXACT integer space (each component in
    [-1e6, 1e6)), so downstream dot products and MaxSim scores are
    engine-exact BIGINTs. One md5 per (token, dim) — the nested
    transform materializes the vector once per token, shared by every
    query term (no lambda CSE in Catalyst, so sharing must be
    structural; COVERAGE.md scale note 1)."""
    from rag_content_spark.functions.hashing import stable_hash64

    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: stable_hash64(F.concat(tok, F.lit(":"), i.cast("string")))
        % 1_000_000
        * 2
        - 1_000_000,
    )


def maxsim_search(
    docs: DataFrame,
    query_terms: "list[str]",
    dim: int = 8,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ColBERT-style late-interaction retrieval (Khattab & Zaharia,
    SIGIR 2020): score(d) = sum over query tokens q of
    max over doc tokens t of dot(E(q), E(t)) — token-level interaction
    instead of one pooled vector, the quality/cost middle ground
    between bi-encoders and cross-encoders.

    Token embeddings are the deterministic integer mock (swap
    :func:`token_vec_int` for a real token encoder's output column at
    deploy time); query-term vectors are computed DRIVER-side with the
    same md5 formula and baked in as literals (a few ints — nothing
    collected).

    Scale shape (100 TB): ZERO exchanges before the final top-k — per
    row, distinct tokens -> integer vectors (one md5 per token x dim)
    -> per-term dot maxes, all inside one narrow projection; the
    ordered ``k`` rows come from TakeOrderedAndProject. No explode, no
    postings shuffle, no join: late interaction is embarrassingly
    parallel over documents. Reference parity: the reference's
    query-time scoring is single-vector only (query_rag.py:190);
    MaxSim is an extension in the same retrieval family.
    """
    import hashlib

    from rag_content_spark.functions.text import tokens

    def _qvec(term: str) -> "list[int]":
        out = []
        for i in range(dim):
            h = hashlib.md5(f"{term}:{i}".encode()).hexdigest()[:15]
            out.append(int(h, 16) % 1_000_000 * 2 - 1_000_000)
        return out

    from rag_content_spark.operators.dedup import let

    qvecs = [_qvec(t) for t in query_terms]

    def _dot(v: Column, qv: "list[int]") -> Column:
        acc = v[0] * F.lit(qv[0])
        for i in range(1, dim):
            acc = acc + v[i] * F.lit(qv[i])
        return acc

    def _dot_fn(qv: "list[int]"):
        # closure factory, NOT a default-arg lambda: a 2-arg lambda
        # would receive (element, index) from F.transform
        return lambda v: _dot(v, qv)

    def _score(tv: Column) -> Column:
        # tv is let-bound: every query term reuses the SAME materialized
        # token-vector array — one md5 per (token, dim), not per term
        parts = [
            F.array_max(F.transform(tv, _dot_fn(qv))) for qv in qvecs
        ]
        acc = parts[0]
        for p in parts[1:]:
            acc = acc + p
        return acc

    toks = F.array_distinct(tokens(text_col))
    score = let(
        F.transform(toks, lambda t: token_vec_int(t, dim)), _score
    )
    return (
        docs.filter(F.size(tokens(text_col)) > 0)
        .select(F.col(id_col), score.cast("bigint").alias("maxsim6"))
        .orderBy(F.desc("maxsim6"), id_col)
        .limit(k)
    )


def maxsim_scores_np(
    docs: DataFrame,
    query_terms: "list[str]",
    dim: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Vectorized twin of :func:`maxsim_search`'s per-document scorer:
    (id, maxsim6) for every document with >= 1 token — EXACT, because
    every quantity is an int64 (token vectors, dots, maxes, the term
    sum), so no accumulation-order question exists.

    Per Arrow batch: tokenize with the byte-for-byte Java ``\\s``
    equivalent ``[ \\t\\n\\x0B\\f\\r]+`` (Spark's split regex is Java's
    ASCII-only \\s), factorize the batch's tokens into a vocabulary,
    md5 each DISTINCT (token, dim) once per task (cached across
    batches — the declarative path re-hashes per occurrence), one
    int64 matmul vocabulary x query-term matrix, then per-document
    segmented maxes. The declarative expression tree evaluates
    interpreted per-token transform/array_max lambdas per row; this is
    the guide §4.2 shape (hand the batch to numpy) with identical
    integer outputs (equality-pinned in tests/test_search.py).
    """
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    import pyspark.sql.types as T

    split_re = re.compile("[ \t\n\x0b\f\r]+")

    def _vec(term: str) -> "list[int]":
        return [
            int(
                hashlib.md5(f"{term}:{i}".encode()).hexdigest()[:15], 16
            )
            % 1_000_000
            * 2
            - 1_000_000
            for i in range(dim)
        ]

    qmat = np.array([_vec(t) for t in query_terms], dtype=np.int64)  # (q, dim)
    schema = T.StructType(
        [
            T.StructField(id_col, docs.schema[id_col].dataType),
            T.StructField("maxsim6", T.LongType()),
        ]
    )

    def _score(batches):
        cache: dict[str, list[int]] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            flat: list[str] = []
            starts: list[int] = []
            ids = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in split_re.split(text) if t]
                if not toks:
                    continue
                starts.append(len(flat))
                # distinct tokens only, like array_distinct (max is
                # order/multiplicity-free, so set semantics suffice)
                flat.extend(dict.fromkeys(toks))
                ids.append(did)
            if not ids:
                continue
            codes, vocab = pd.factorize(np.asarray(flat, dtype=object))
            miss = [t for t in vocab if t not in cache]
            for t in miss:
                cache[t] = _vec(t)
            vmat = np.array([cache[t] for t in vocab], dtype=np.int64)
            dots = vmat @ qmat.T  # (V, q) exact int64
            flat_scores = dots[codes]  # (ntok, q)
            maxes = np.maximum.reduceat(flat_scores, np.array(starts))
            scores = maxes.sum(axis=1)
            yield pd.DataFrame({id_col: ids, "maxsim6": scores})

    return docs.select(id_col, text_col).mapInPandas(_score, schema=schema)


def _crossdot_scores_np(
    index,
    q_rows: "list[tuple]",
    out_qid: str,
    out_qlabel: str,
    id_col: str,
    embedding_col: str,
    label_col: str,
):
    """index x bounded-query-set raw inner products, vectorized: one
    mapInPandas over the index emitting (id, label, qid, qlabel, _raw)
    for every (item, query) pair — the exact twin of the
    ``crossJoin(broadcast(queries)) + fold dot`` shape shared by
    retrieval_eval / mine_contrastive_pairs.

    ``q_rows`` is the DRIVER-side query set [(qid, vec, qlabel), ...] —
    bounded by contract (the declarative shape already broadcast it),
    collected once at plan-build time like the IVF centroid sets. The
    per-pair double accumulates dimension-at-a-time in ascending order
    from 0.0 — the fold's IEEE sequence — so raw scores are
    bit-identical; callers keep F.round and all ranking in Spark.
    The self-pair (id == qid) is excluded here exactly as the
    declarative filter did.
    """
    import numpy as np
    import pandas as pd

    import pyspark.sql.types as T

    qids = [r[0] for r in q_rows]
    qmat = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    qlabels = [r[2] for r in q_rows]
    nq = len(qids)
    schema = T.StructType(
        [
            T.StructField(id_col, index.schema[id_col].dataType),
            T.StructField(label_col, index.schema[label_col].dataType),
            T.StructField(out_qid, index.schema[id_col].dataType),
            T.StructField(out_qlabel, index.schema[label_col].dataType),
            T.StructField("_raw", T.DoubleType()),
        ]
    )
    qid_arr = np.asarray(qids)
    qlab_arr = np.asarray(qlabels)

    def _score(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            X = np.stack(pdf[embedding_col].to_numpy()).astype(np.float64)
            acc = np.zeros((n, nq), dtype=np.float64)
            for d in range(X.shape[1]):
                acc = acc + X[:, d, None] * qmat[None, :, d]
            ids = np.repeat(pdf[id_col].to_numpy(), nq)
            labels = np.repeat(pdf[label_col].to_numpy(), nq)
            out = pd.DataFrame(
                {
                    id_col: ids,
                    label_col: labels,
                    out_qid: np.tile(qid_arr, n),
                    out_qlabel: np.tile(qlab_arr, n),
                    "_raw": acc.ravel(),
                }
            )
            yield out[out[id_col] != out[out_qid]]

    return index.select(id_col, embedding_col, label_col).mapInPandas(
        _score, schema=schema
    )
