import math

from rag_content_spark.operators.search import bm25_scores, hybrid_scores, keyword_scores


def _docs(spark):
    rows = [
        (1, "spark spark join fast engine"),
        (2, "spark once here"),
        (3, "nothing relevant at all"),
        (4, "join join join join tables"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_keyword_tfidf(spark):
    got = {
        r["doc_id"]: r["kw_score"]
        for r in keyword_scores(_docs(spark), ["spark", "join"]).collect()
    }
    assert 3 not in got  # no matching term -> absent (inverted index)
    # doc1: 2*ln(4/2) [spark] + 1*ln(4/2) [join]
    assert math.isclose(got[1], 3 * math.log(2), abs_tol=1e-6)
    assert math.isclose(got[4], 4 * math.log(2), abs_tol=1e-6)
    assert got[2] < got[1]


def test_bm25_saturates_tf(spark):
    got = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(_docs(spark), ["join"]).collect()
    }
    # BM25 tf saturation: 4 occurrences score < 4x one occurrence
    assert got[4] < 4 * got[1]
    assert got[4] > got[1]


def test_hybrid_fuses_both_signals(spark):
    docs = _docs(spark).selectExpr(
        "doc_id", "text", "array(CAST(doc_id AS DOUBLE), 1.0) AS embedding"
    )
    got = {
        r["doc_id"]: r["hybrid_score"]
        for r in hybrid_scores(docs, ["spark"], [1.0, 0.0], alpha=0.5).collect()
    }
    assert set(got) == {1, 2, 3, 4}  # vector side covers all docs
    # doc3 has no keyword score: pure vector component (3.0 * 0.5)
    assert math.isclose(got[3], 1.5, abs_tol=1e-6)


def test_precomputed_stats_matches_inplan(spark):
    """Supplying a materialized corpus-stats table (the 100 TB shape:
    stats computed once per corpus snapshot) must give identical scores
    to the in-plan fallback."""
    from rag_content_spark.operators.search import corpus_stats

    docs = _docs(spark)
    stats = spark.createDataFrame(
        corpus_stats(docs).collect()
    )  # materialized snapshot

    for fn, col in ((keyword_scores, "kw_score"), (bm25_scores, "bm25")):
        inplan = {
            r["doc_id"]: r[col] for r in fn(docs, ["spark", "join"]).collect()
        }
        supplied = {
            r["doc_id"]: r[col]
            for r in fn(docs, ["spark", "join"], stats=stats).collect()
        }
        assert inplan == supplied, fn.__name__

    docs_v = docs.selectExpr(
        "doc_id", "text", "array(CAST(doc_id AS DOUBLE), 1.0) AS embedding"
    )
    a = {
        r["doc_id"]: r["hybrid_score"]
        for r in hybrid_scores(docs_v, ["spark"], [1.0, 0.0]).collect()
    }
    b = {
        r["doc_id"]: r["hybrid_score"]
        for r in hybrid_scores(
            docs_v, ["spark"], [1.0, 0.0], stats=stats
        ).collect()
    }
    assert a == b


def test_hybrid_all_zero_keyword_scores(spark):
    """Every doc contains the term -> idf=ln(1)=0 -> kw max is 0; the
    normalizer must fall back to 1.0 instead of dividing by zero."""
    rows = [(1, "common word"), (2, "common thing")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).selectExpr(
        "doc_id", "text", "array(1.0, 0.0) AS embedding"
    )
    got = {
        r["doc_id"]: r["hybrid_score"]
        for r in hybrid_scores(docs, ["common"], [1.0, 0.0]).collect()
    }
    assert got == {1: 0.5, 2: 0.5}


def test_retrieval_eval_perfect_and_absent(spark):
    from rag_content_spark.operators.search import retrieval_eval

    # index: 3 of label 1 clustered near the label-1 query, 6 of label 2
    rows = [
        (1, [1.0, 0.0, 0.0], 1),
        (2, [0.99, 0.01, 0.0], 1),
        (3, [0.98, 0.02, 0.0], 1),
    ] + [(10 + i, [0.0, 1.0, float(i) / 10], 2) for i in range(6)]
    idx = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0], 1), (99, [0.0, 0.0, -1.0], 3)],
        ["query_id", "query_vec", "query_label"],
    )
    out = {r["query_id"]: r for r in retrieval_eval(idx, queries, k=10).collect()}
    # query 1: its two label-1 mates rank 1-2 (self excluded) -> perfect
    assert out[1]["mrr"] == 1.0 and out[1]["ndcg"] == 1.0
    # query 99: label 3 has no relevant items -> both metrics 0
    assert out[99]["mrr"] == 0.0 and out[99]["ndcg"] == 0.0


def test_retrieval_eval_mrr_rank(spark):
    from rag_content_spark.operators.search import retrieval_eval

    # relevant item ranks 2nd -> MRR = 0.5, NDCG = (1/log2(3)) / (1/log2(2))
    import math

    idx = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 2),   # irrelevant but closest
            (2, [0.9, 0.1], 1),   # relevant, second
            (3, [0.0, 1.0], 2),
        ],
        ["vec_id", "embedding", "label"],
    )
    queries = spark.createDataFrame(
        [(99, [1.0, 0.0], 1)], ["query_id", "query_vec", "query_label"]
    )
    r = retrieval_eval(idx, queries, k=10).collect()[0]
    assert r["mrr"] == 0.5
    assert abs(r["ndcg"] - (1 / math.log2(3))) < 1e-6


def test_mine_contrastive_pairs(spark):
    from rag_content_spark.operators.search import mine_contrastive_pairs

    # anchor label 1; one true near-positive, one near (hard) negative,
    # one far negative
    idx = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 1),
            (2, [0.95, 0.05], 1),    # positive
            (3, [0.9, 0.1], 2),      # HARD negative (nearest neg)
            (4, [0.0, 1.0], 2),      # easy negative
        ],
        ["vec_id", "embedding", "label"],
    )
    anchors = spark.createDataFrame(
        [(1, [1.0, 0.0], 1)], ["anchor_id", "anchor_vec", "anchor_label"]
    )
    out = mine_contrastive_pairs(idx, anchors, n_pos=1, n_neg=1).collect()
    by_kind = {r["kind"]: r for r in out}
    assert by_kind["pos"]["vec_id"] == 2
    assert by_kind["neg"]["vec_id"] == 3  # the HARD one, not the easy one
    assert len(out) == 2


def test_mine_bitext_margin_prefers_isolated_matches(spark):
    from rag_content_spark.operators.search import mine_bitext

    # source 0 has ONE clear match (b10) in an empty neighborhood ->
    # high margin; source 2's neighborhood is dense (three near-equal
    # targets) -> margin ~1 -> filtered out
    src = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])], ["vec_id", "embedding"]
    )
    tgt = spark.createDataFrame(
        [
            (10, [0.99, 0.1, 0.0]),   # close to src 0
            (11, [0.0, 0.0, 1.0]),    # orthogonal
            (12, [-1.0, 0.2, 0.0]),   # opposite
            (13, [0.0, 0.98, 0.2]),   # dense cluster near src 2
            (14, [0.0, 0.97, 0.24]),
            (15, [0.0, 0.99, 0.14]),
        ],
        ["vec_id", "embedding"],
    )
    rows = {r["id_a"]: r for r in mine_bitext(src, tgt, k=3, margin_threshold=1.05).collect()}
    assert 0 in rows and rows[0]["id_b"] == 10 and rows[0]["margin"] > 1.5
    assert 2 not in rows  # dense neighborhood -> margin below threshold


def test_mine_bitext_deterministic_tiebreak(spark):
    from rag_content_spark.operators.search import mine_bitext

    src = spark.createDataFrame([(0, [1.0, 0.0])], ["vec_id", "embedding"])
    tgt = spark.createDataFrame(
        [(21, [1.0, 0.0]), (20, [1.0, 0.0]), (22, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    r = mine_bitext(src, tgt, k=2, margin_threshold=0.0).collect()[0]
    assert r["id_b"] == 20  # equal scores -> smallest target id


def test_mine_bitext_np_equals_exact_on_real_embeddings(spark):
    from rag_content_spark.operators.search import mine_bitext, mine_bitext_np
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    exact = sorted(map(tuple, mine_bitext(src, tgt, k=4, margin_threshold=1.05).collect()))
    fast = sorted(map(tuple, mine_bitext_np(src, tgt, k=4, margin_threshold=1.05).collect()))
    assert len(exact) > 0
    assert fast == exact


def test_mmr_rerank_deprioritizes_near_duplicates(spark):
    from rag_content_spark.operators.search import mmr_rerank

    # 1 and 2 are near-identical top hits; 3 is modestly relevant but
    # nearly orthogonal to them; pure relevance order is 1,2,3 — at a
    # diversity-heavy lambda MMR must pull 3 ahead of the near-dup 2
    rows = [
        (1, [1.0, 0.0, 0.05]),
        (2, [1.0, 0.0, 0.06]),
        (3, [0.1, 1.0, 0.0]),
        (4, [0.0, 0.1, 1.0]),
    ]
    index = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = [r["vec_id"] for r in mmr_rerank(
        index, [1.0, 0.05, 0.0], k=3, shortlist=4, lam_pct=30
    ).orderBy("rank").collect()]
    assert got[0] == 1            # best relevance first
    assert got[1] in (3, 4)       # a diverse doc beats the near-dup
    assert got[2] != 2            # the near-dup stays last of the four


def test_rrf_fuse_hand_example(spark):
    from rag_content_spark.operators.search import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], ["doc_id", "rank"])
    b = spark.createDataFrame([(3, 1), (2, 2), (4, 3)], ["doc_id", "rank"])
    got = {r["doc_id"]: r["rrf_score"] for r in rrf_fuse([a, b], k=60).collect()}
    assert abs(got[2] - (1 / 62 + 1 / 62)) < 1e-6   # rank 2 both sides
    assert abs(got[3] - (1 / 63 + 1 / 61)) < 1e-6
    assert abs(got[1] - 1 / 61) < 1e-6              # absent from b
    assert abs(got[4] - 1 / 63) < 1e-6
    # docs appearing in BOTH rankings outrank one-sided top hits
    assert got[2] > got[1] and got[3] > got[1]
    assert got[2] > got[4] and got[3] > got[4]


def test_mine_bitext_fewer_targets_than_k_uses_actual_width(spark):
    # Artetxe & Schwenk margin = best / mean(actual top list): with a
    # single target the margin is exactly 1.0 — a constant-k denominator
    # would report best*k/best = k and wrongly pass any threshold
    from rag_content_spark.operators.search import mine_bitext, mine_bitext_np

    src = spark.createDataFrame([(0, [1.0, 0.0])], ["vec_id", "embedding"])
    tgt = spark.createDataFrame([(10, [1.0, 0.0])], ["vec_id", "embedding"])
    exact = mine_bitext(src, tgt, k=4, margin_threshold=0.0).collect()
    fast = mine_bitext_np(src, tgt, k=4, margin_threshold=0.0).collect()
    assert len(exact) == 1 and exact[0]["margin"] == 1.0
    assert sorted(map(tuple, fast)) == sorted(map(tuple, exact))
    # and a >1 threshold filters it out on both paths
    assert mine_bitext(src, tgt, k=4, margin_threshold=1.05).count() == 0
    assert mine_bitext_np(src, tgt, k=4, margin_threshold=1.05).count() == 0


def test_mine_bitext_ivf_full_probe_equals_exact(spark):
    # with nprobe >= n_cells every candidate is scored, so the IVF path
    # must reproduce the exact all-pairs operator bit-for-bit
    from pyspark.sql import functions as F

    from rag_content_spark.operators.search import mine_bitext, mine_bitext_ivf

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    centroids = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") % 20 == 1).orderBy("vec_id").collect()
    ]
    exact = sorted(map(tuple, mine_bitext(src, tgt, k=4, margin_threshold=1.05).collect()))
    ivf = sorted(map(tuple, mine_bitext_ivf(
        src, tgt, centroids, k=4, nprobe=len(centroids), margin_threshold=1.05
    ).collect()))
    assert len(exact) > 0
    assert ivf == exact


def test_mine_bitext_ivf_recall_grows_with_nprobe(spark):
    # pruning is approximate (the synthetic embeddings are near-uniform,
    # so cell membership correlates weakly with true neighbors); the
    # structural guarantee is that widening the probe monotonically
    # recovers the exact best-matches, reaching equality at full probe
    # (pinned in the test above)
    from pyspark.sql import functions as F

    from rag_content_spark.operators.search import mine_bitext, mine_bitext_ivf

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    centroids = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") % 20 == 1).orderBy("vec_id").collect()
    ]
    exact = {r["id_a"]: r for r in mine_bitext(src, tgt, k=4, margin_threshold=1.05).collect()}

    def agree(nprobe):
        ivf = {r["id_a"]: r for r in mine_bitext_ivf(
            src, tgt, centroids, k=4, nprobe=nprobe, margin_threshold=1.05
        ).collect()}
        assert len(ivf) > 0
        return sum(
            1 for i, r in ivf.items()
            if i in exact and r["id_b"] == exact[i]["id_b"]
        )

    narrow, wide = agree(2), agree(8)
    assert narrow < wide  # deterministic on the fixed testdata


def test_mine_contrastive_pairs_ivf_full_probe_equals_exact(spark):
    # with nprobe >= n_cells every candidate is scored, so the IVF
    # shortlist path must reproduce the brute-force miner exactly on
    # the 1e-6 score grid (same (score desc, id asc) total order)
    from pyspark.sql import functions as F

    from rag_content_spark.operators.search import (
        mine_contrastive_pairs,
        mine_contrastive_pairs_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    anchors = emb.filter(F.col("vec_id") % 50 == 2).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("anchor_vec"),
        F.col("label").alias("anchor_label"),
    )
    centroids = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") % 50 == 1).orderBy("vec_id").collect()
    ]
    cols = ["anchor_id", "vec_id", "score", "kind", "rank"]
    exact = sorted(
        map(tuple, mine_contrastive_pairs(emb, anchors).select(*cols).collect())
    )
    ivf = sorted(
        map(
            tuple,
            mine_contrastive_pairs_ivf(
                emb, anchors, centroids, nprobe=len(centroids)
            ).select(*cols).collect(),
        )
    )
    assert len(exact) > 0
    assert ivf == exact


def test_mine_contrastive_pairs_ivf_narrow_probe_is_subset_shaped(spark):
    # a 1-cell probe still yields <= n_pos + n_neg rows per anchor with
    # ranks contiguous from 1 per (anchor, kind) — the merge window
    # re-ranks whatever the shortlist recalled
    from collections import defaultdict

    from pyspark.sql import functions as F

    from rag_content_spark.operators.search import mine_contrastive_pairs_ivf

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    anchors = emb.filter(F.col("vec_id") % 50 == 2).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("anchor_vec"),
        F.col("label").alias("anchor_label"),
    )
    centroids = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") % 50 == 1).orderBy("vec_id").collect()
    ]
    rows = mine_contrastive_pairs_ivf(
        emb, anchors, centroids, n_pos=2, n_neg=2, nprobe=1
    ).collect()
    assert len(rows) > 0
    ranks = defaultdict(list)
    for r in rows:
        assert r["vec_id"] != r["anchor_id"]
        ranks[(r["anchor_id"], r["kind"])].append(r["rank"])
    for ks, rs in ranks.items():
        assert sorted(rs) == list(range(1, len(rs) + 1))
        assert len(rs) <= 2


def test_retrieval_eval_ivf_full_probe_equals_exact(spark):
    # full probe scores every candidate, so MRR/NDCG must equal the
    # exact evaluator's (both use the true k-capped relevant count)
    from pyspark.sql import functions as F

    from rag_content_spark.operators.search import (
        retrieval_eval,
        retrieval_eval_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    centroids = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") % 50 == 1).orderBy("vec_id").collect()
    ]
    exact = sorted(map(tuple, retrieval_eval(emb, queries, k=10).collect()))
    ivf = sorted(
        map(
            tuple,
            retrieval_eval_ivf(
                emb, queries, centroids, k=10, nprobe=len(centroids)
            ).collect(),
        )
    )
    assert len(exact) > 0
    assert ivf == exact


def test_retrieval_eval_ivf_narrow_probe_structural(spark):
    # a 1-cell probe still emits one metrics row per query that
    # recalled any candidate, with both metrics in [0, 1] (NDCG is
    # normalized by the TRUE k-capped IDCG, so even a lucky shortlist
    # cannot exceed 1); note approximate NDCG is NOT bounded by the
    # exact ranking's NDCG — missing a high-scoring irrelevant item can
    # let a below-cutoff relevant one into the top-k
    from pyspark.sql import functions as F

    from rag_content_spark.operators.search import retrieval_eval_ivf

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    centroids = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") % 50 == 1).orderBy("vec_id").collect()
    ]
    ivf = retrieval_eval_ivf(emb, queries, centroids, k=10, nprobe=1).collect()
    assert 0 < len(ivf) <= queries.count()
    qids = {r["query_id"] for r in queries.collect()}
    for r in ivf:
        assert r["query_id"] in qids
        assert 0.0 <= r["mrr"] <= 1.0
        assert 0.0 <= r["ndcg"] <= 1.0 + 1e-9


def test_mine_bitext_string_ids_all_paths(spark):
    # the exact operator is generic in the id column; the np and IVF
    # twins must preserve string ids instead of crashing on an int64
    # cast (round-5 ADVICE)
    from pyspark.sql import functions as F

    from rag_content_spark.operators.search import (
        mine_bitext,
        mine_bitext_ivf,
        mine_bitext_np,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    named = emb.select(
        F.concat(F.lit("v"), F.format_string("%05d", "vec_id")).alias("vec_id"),
        "embedding",
        (F.col("vec_id") % 2).alias("_par"),
    )
    src = named.filter(F.col("_par") == 0).drop("_par")
    tgt = named.filter(F.col("_par") == 1).drop("_par")
    exact = sorted(map(tuple, mine_bitext(src, tgt, k=4, margin_threshold=1.05).collect()))
    fast = sorted(map(tuple, mine_bitext_np(src, tgt, k=4, margin_threshold=1.05).collect()))
    assert len(exact) > 0 and fast == exact
    centroids = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") % 20 == 1).orderBy("vec_id").collect()
    ]
    # nprobe >= n_cells scores every candidate -> exactly mine_bitext
    ivf = sorted(map(tuple, mine_bitext_ivf(
        src, tgt, centroids, k=4, nprobe=len(centroids), margin_threshold=1.05
    ).collect()))
    assert ivf == exact


def test_text_index_pruned_read_and_score_parity(spark, tmp_path):
    from pyspark.sql import functions as F

    from rag_content_spark.operators.search import bm25_scores
    from rag_content_spark.plans.text_index import (
        _bucket_of,
        build_text_index,
        query_text_index,
    )
    from rag_content_spark.functions.hashing import stable_hash64

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d = str(tmp_path / "tidx")
    meta = build_text_index(docs, d, n_buckets=32)
    terms = ["spark", "join", "merge"]
    got = {
        r["doc_id"]: r["bm25"]
        for r in query_text_index(spark, d, terms).collect()
    }
    ref = {
        r["doc_id"]: r["bm25"] for r in bm25_scores(docs, terms).collect()
    }
    assert got == ref and len(got) > 0
    # the driver-side bucket twin matches the executor hash expression
    cols = spark.createDataFrame([(t,) for t in terms], ["token"]).select(
        "token",
        (stable_hash64(F.col("token"), salt="ti") % 32).cast("int").alias("b"),
    ).collect()
    for r in cols:
        assert _bucket_of(r["token"], 32) == r["b"]
    # partition pruning: the postings scan carries the bucket filter
    plan = query_text_index(spark, d, terms)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "bucket" in plan and ("PartitionFilters" in plan or "partitionFilters" in plan)
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1), m.group(0) if m else plan[:800]


def test_null_text_counts_as_zero_tokens_in_both_scorers(spark, tmp_path):
    """A NULL text is a document of no tokens for avgdl, in the
    persisted index (``sum_dl / n_docs``) and in the on-the-fly scorer
    alike (FTS5's rule and the registry oracles'): N = 4, avgdl = 3/4,
    so both give 0.412142 and 0.60997, bit for bit (``avg(dl)`` would
    skip the NULL and give 0.491911 and 0.693147)."""
    import struct

    from rag_content_spark.plans.text_index import build_text_index, query_text_index

    docs = spark.createDataFrame(
        [(1, "a b"), (2, None), (3, ""), (4, "a")], "doc_id long, text string"
    )
    d = str(tmp_path / "ti")
    build_text_index(docs, d, n_buckets=4)

    def bits(df):
        return sorted(
            (r["doc_id"], struct.pack(">d", r["bm25"])) for r in df.collect()
        )

    got = bits(query_text_index(spark, d, ["a"]))
    assert got == bits(bm25_scores(docs, ["a"]))
    assert got == [(1, struct.pack(">d", 0.412142)), (4, struct.pack(">d", 0.60997))]


def test_text_index_incremental_add_matches_full_build(spark, tmp_path):
    from pyspark.sql import functions as F

    from rag_content_spark.operators.search import bm25_scores
    from rag_content_spark.plans.text_index import (
        add_to_text_index,
        build_text_index,
        query_text_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    d = str(tmp_path / "tidx")
    build_text_index(half_a, d, n_buckets=16)
    meta = add_to_text_index(half_b, d)
    assert meta["n_docs"] == docs.count()
    terms = ["spark", "join", "merge"]
    got = {
        r["doc_id"]: r["bm25"]
        for r in query_text_index(spark, d, terms).collect()
    }
    ref = {r["doc_id"]: r["bm25"] for r in bm25_scores(docs, terms).collect()}
    assert got == ref


def test_maxsim_matches_python_model(spark):
    import hashlib

    from rag_content_spark.operators.search import maxsim_search

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha alpha alpha"),
            (3, "delta"),
            (4, "beta gamma delta epsilon"),
            (5, "   "),
        ],
        ["doc_id", "text"],
    )
    terms, dim = ["alpha", "gamma"], 6

    def vec(t):
        return [
            int(hashlib.md5(f"{t}:{i}".encode()).hexdigest()[:15], 16)
            % 1_000_000 * 2 - 1_000_000
            for i in range(dim)
        ]

    def score(text):
        toks = [t for t in text.split() if t]
        if not toks:
            return None
        return sum(
            max(
                sum(a * b for a, b in zip(vec(q), vec(t)))
                for t in set(toks)
            )
            for q in terms
        )

    got = [
        (r["doc_id"], r["maxsim6"])
        for r in maxsim_search(docs, terms, dim=dim, k=10).collect()
    ]
    want = sorted(
        (
            (d, score(tx))
            for d, tx in [
                (1, "alpha beta gamma"),
                (2, "alpha alpha alpha"),
                (3, "delta"),
                (4, "beta gamma delta epsilon"),
            ]
        ),
        key=lambda p: (-p[1], p[0]),
    )
    assert got == want  # doc 5 (whitespace-only) filtered out


def test_compact_text_index_preserves_results(spark, tmp_path):
    """Appends fragment the bucket dirs; compaction must collapse files
    per bucket while the pruned BM25 lookup stays bit-identical."""
    from pyspark.sql import functions as F

    from rag_content_spark.plans.text_index import (
        add_to_text_index,
        build_text_index,
        compact_text_index,
        query_text_index,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    d = str(tmp_path / "ti")
    build_text_index(docs.filter(F.col("doc_id") % 3 == 0), d, n_buckets=8)
    add_to_text_index(docs.filter(F.col("doc_id") % 3 == 1), d)
    add_to_text_index(docs.filter(F.col("doc_id") % 3 == 2), d)
    terms = ["spark", "join", "merge"]
    before = sorted(
        (r["doc_id"], r["bm25"])
        for r in query_text_index(spark, d, terms).collect()
    )
    stats = compact_text_index(spark, d)
    assert stats["n_files_after"] < stats["n_files_before"]
    # one file per non-empty bucket, and one of the length rows
    assert stats["n_files_after"] <= 8 + 1
    after = sorted(
        (r["doc_id"], r["bm25"])
        for r in query_text_index(spark, d, terms).collect()
    )
    assert after == before and len(after) > 0


def test_doc_top_keywords_ranks_rare_terms_first(spark):
    from rag_content_spark.operators.search import doc_top_keywords

    docs = spark.createDataFrame(
        [
            ("d1", "the the the quorbitex"),
            ("d2", "the zyranex zyranex"),
            ("d3", "the filler"),
        ],
        ["doc_id", "text"],
    )
    rows = doc_top_keywords(docs, k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["kw_rank"], r["token"], r["tfidf6"]))
    for v in by_doc.values():
        v.sort()
    # N=3. idf('the') = ln(4/4) = 0 -> tf 3 * 0 = 0; rare terms win.
    # d1: quorbitex tf=1 df=1 -> ln(2)=0.693147 beats 'the' (0.0)
    assert [t for _, t, _ in by_doc["d1"]] == ["quorbitex", "the"]
    assert by_doc["d1"][0][2] == round(math.log(2), 6)
    assert by_doc["d1"][1][2] == 0.0
    # d2: zyranex tf=2 -> 2*ln(2)
    assert by_doc["d2"][0][1] == "zyranex"
    assert by_doc["d2"][0][2] == round(2 * math.log(2), 6)
    # every doc emits at most k rows, ranks contiguous from 1
    assert all([r for r, _, _ in v] == list(range(1, len(v) + 1)) for v in by_doc.values())


def test_phrase_search_counts_starts_and_handles_repeats(spark):
    from rag_content_spark.operators.search import phrase_search

    docs = spark.createDataFrame(
        [
            ("d1", "a b a b a"),     # "a b a" starts at 0 and 2 -> 2
            ("d2", "a a a a"),       # "a a a" test below
            ("d3", "b a b"),         # no "a b a"
            ("d4", "a b"),           # too short
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["n_occurrences"] for r in phrase_search(docs, "a b a").collect()}
    assert got == {"d1": 2}
    # repeated term in the phrase: "a a a" in "a a a a" -> starts 0,1
    got2 = {r["doc_id"]: r["n_occurrences"] for r in phrase_search(docs, "a a a").collect()}
    assert got2 == {"d2": 2}
    # single-token phrase = term count
    got3 = {r["doc_id"]: r["n_occurrences"] for r in phrase_search(docs, "b").collect()}
    assert got3 == {"d1": 2, "d3": 2, "d4": 1}


def test_proximity_search_window_start_counting(spark):
    from rag_content_spark.operators.search import proximity_search

    docs = spark.createDataFrame(
        [
            ("d1", "x a y b x"),   # w=3: windows [a y b] start 1 -> 1
            ("d2", "a x x x b"),   # w=3: no window holds both
            ("d3", "a b x a b"),   # w=3: starts 0,1,2,3 hold both? see below
            ("d4", "a b"),         # shorter than window
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["n_windows"]
        for r in proximity_search(docs, ["a", "b"], window=3).collect()
    }
    # d3 tokens: a b x a b ; windows: [a b x]=Y [b x a]=Y [x a b]=Y -> 3
    assert got == {"d1": 1, "d3": 3}


def test_positional_index_phrase_and_proximity_parity(spark, tmp_path):
    """Index-served phrase/proximity == their corpus-scan operators,
    bit-identically, on the sf0.001 corpus; the positional read is
    partition-pruned; BM25 lookup ignores the positions column; a
    non-positional index refuses phrase lookup."""
    import re as _re

    import pytest

    from rag_content_spark.operators.search import (
        bm25_scores,
        phrase_search,
        proximity_search,
    )
    from rag_content_spark.plans.text_index import (
        build_text_index,
        phrase_query_text_index,
        proximity_query_text_index,
        query_text_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d = str(tmp_path / "pidx")
    meta = build_text_index(docs, d, n_buckets=32, positions=True)
    assert meta["positions"] is True

    phrase = "stream table hash"
    got = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_query_text_index(spark, d, phrase).collect()
    }
    ref = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_search(docs, phrase).collect()
    }
    assert got == ref

    terms = ["spark", "stream"]
    gotp = {
        r["doc_id"]: r["n_windows"]
        for r in proximity_query_text_index(spark, d, terms, window=6).collect()
    }
    refp = {
        r["doc_id"]: r["n_windows"]
        for r in proximity_search(docs, terms, window=6).collect()
    }
    assert gotp == refp and len(gotp) > 0

    # the positional read is partition-pruned to the phrase's buckets
    plan = (
        phrase_query_text_index(spark, d, phrase)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1)

    # BM25 over the positional index still matches the on-the-fly scorer
    bm_idx = {
        r["doc_id"]: r["bm25"]
        for r in query_text_index(spark, d, ["spark", "join"]).collect()
    }
    bm_ref = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(docs, ["spark", "join"]).collect()
    }
    assert bm_idx == bm_ref

    # a tf-only index refuses positional lookups with a clear error
    d2 = str(tmp_path / "tfidx")
    build_text_index(docs, d2, n_buckets=8)
    with pytest.raises(ValueError, match="positions"):
        phrase_query_text_index(spark, d2, phrase)


def test_positional_index_incremental_add_matches_full_build(spark, tmp_path):
    from rag_content_spark.plans.text_index import (
        add_to_text_index,
        build_text_index,
        phrase_query_text_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    half_a = docs.filter("doc_id % 2 = 0")
    half_b = docs.filter("doc_id % 2 = 1")
    d_full = str(tmp_path / "full")
    d_inc = str(tmp_path / "inc")
    build_text_index(docs, d_full, n_buckets=8, positions=True)
    build_text_index(half_a, d_inc, n_buckets=8, positions=True)
    meta = add_to_text_index(half_b, d_inc)
    assert meta["positions"] is True
    phrase = "stream table hash"
    got = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_query_text_index(spark, d_inc, phrase).collect()
    }
    ref = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_query_text_index(spark, d_full, phrase).collect()
    }
    assert got == ref


def test_retrieval_use_index_routing(spark, tmp_path):
    """plans/query.phrase_retrieval / proximity_retrieval: use_index=
    routes to the bucket-pruned positional index, docs= to the corpus
    scan — identical results; passing both/neither raises."""
    import pytest

    from rag_content_spark.plans.query import (
        phrase_retrieval,
        proximity_retrieval,
    )
    from rag_content_spark.plans.text_index import build_text_index

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    d = str(tmp_path / "pidx")
    build_text_index(docs, d, n_buckets=16, positions=True)
    phrase = "the spark"
    scan = sorted(
        map(tuple, phrase_retrieval(spark, phrase, docs=docs).collect())
    )
    idx = sorted(
        map(tuple, phrase_retrieval(spark, phrase, use_index=d).collect())
    )
    assert scan == idx
    terms = ["spark", "join"]
    scan_p = sorted(
        map(
            tuple,
            proximity_retrieval(spark, terms, window=8, docs=docs).collect(),
        )
    )
    idx_p = sorted(
        map(
            tuple,
            proximity_retrieval(spark, terms, window=8, use_index=d).collect(),
        )
    )
    assert scan_p == idx_p
    with pytest.raises(ValueError, match="exactly one"):
        phrase_retrieval(spark, phrase)
    with pytest.raises(ValueError, match="exactly one"):
        proximity_retrieval(spark, terms, docs=docs, use_index=d)


def test_bm25_fts5_matches_sqlite(spark):
    """llama-stack keyword-mode scorer pin (round-9 verdict task 6):
    the reference's OGX keyword mode delegates to llama-stack's
    sqlite-vec provider, whose scorer is SQLite FTS5 bm25() — Okapi
    BM25 k1=1.2 b=0.75 with idf = ln((N-df+0.5)/(df+0.5)) floored at
    1e-6 when non-positive (fts5.c fts5Bm25). Our
    bm25_scores(idf_variant='fts5') must match a REAL in-process FTS5
    table to 1e-6 (FTS5 reports the negated score for ascending sort).
    Docs are plain lowercase space-separated words so the unicode61
    and whitespace tokenizers agree."""
    import sqlite3

    import pytest as _pytest

    docs = [
        (1, "spark join merge sort shuffle"),
        (2, "merge sort quick sort heap"),
        (3, "spark spark spark join broadcast plan codegen"),
        (4, "hash join partition skew salt"),
        (5, "window aggregate rollup cube grouping"),
        (6, "stream watermark state checkpoint join"),
        (7, "sort keys before the merge stage begins"),
    ]
    con = sqlite3.connect(":memory:")
    try:
        con.execute("CREATE VIRTUAL TABLE t USING fts5(content)")
    except sqlite3.OperationalError:
        _pytest.skip("sqlite built without FTS5")
    con.executemany("INSERT INTO t(rowid, content) VALUES (?, ?)", docs)
    fts = {
        rid: -s
        for rid, s in con.execute(
            "SELECT rowid, bm25(t) FROM t WHERE t MATCH 'spark OR join OR sort'"
        )
    }
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    ours = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(
            df, ["spark", "join", "sort"], idf_variant="fts5", round_to=9
        ).collect()
    }
    assert set(ours) == set(fts)
    for rid, want in fts.items():
        assert abs(ours[rid] - want) < 1e-6, (rid, ours[rid], want)


def test_hybrid_rrf_formula(spark):
    """llama-stack hybrid-mode fusion pin: the runtime's default hybrid
    ranker is reciprocal-rank fusion rrf(d) = sum_r 1/(k + rank_r(d))
    with impact_factor k=60 (Cormack, Clarke & Buettcher 2009). Checked
    against a hand-computed fusion of the two ranked lists, including a
    doc present in only one list."""
    from pyspark.sql import functions as F

    from rag_content_spark.operators.search import hybrid_scores_rrf

    rows = [
        (1, "spark join fast", [1.0, 0.0]),
        (2, "spark spark spark", [0.8, 0.6]),
        (3, "nothing here", [0.0, 1.0]),
        (4, "join tables", [0.6, 0.8]),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "embedding"]).select(
        "doc_id", "text", F.col("embedding").cast("array<double>").alias("embedding")
    )
    got = {
        r["doc_id"]: (r["vec_rank"], r["kw_rank"], r["rrf_score"])
        for r in hybrid_scores_rrf(
            df, ["spark", "join"], [1.0, 0.0], top_n=3
        ).collect()
    }
    # cosine (dot with [1,0]): d1=1.0, d2=0.8, d4=0.6, d3=0.0 -> top-3
    # vec ranks 1,2,3 for docs 1,2,4; kw (tf-idf, ln(4/2)): d2=3ln2,
    # d1=2ln2, d4=ln2 -> kw ranks d2=1, d1=2, d4=3; doc 3 in NO list
    assert set(got) == {1, 2, 4}
    assert got[1][:2] == (1, 2)
    assert got[2][:2] == (2, 1)
    assert got[4][:2] == (3, 3)
    for d in (1, 2, 4):
        vr, kr, s = got[d]
        assert abs(s - (1.0 / (60 + vr) + 1.0 / (60 + kr))) < 1e-12


def test_maxsim_scores_np_matches_declarative(spark):
    # r11: the vectorized integer MaxSim scorer must agree exactly with
    # the declarative expression tree, including Java-\s tokenization
    # (ASCII whitespace only — NBSP is NOT a separator) and empty-doc
    # dropping.
    from rag_content_spark.operators.search import (
        maxsim_scores_np,
        maxsim_search,
    )

    rows = [
        (1, "spark join  merge\twindow sort"),
        (2, "alpha beta\ngamma\x0bdelta\fepsilon\rzeta"),
        (3, "spark join"),  # NBSP: one token under Java \s
        (4, "   "),  # whitespace only -> no tokens -> dropped
        (5, "join join join"),
        (6, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ["spark", "join", "merge", "window"]
    old = {
        r.doc_id: r.maxsim6
        for r in maxsim_search(docs, terms, dim=8, k=100).collect()
    }
    new = {
        r.doc_id: r.maxsim6
        for r in maxsim_scores_np(docs, terms, dim=8).collect()
    }
    assert old == new and 4 not in new and 6 not in new and len(new) == 4


def test_retrieval_eval_and_mining_vectorized_match_declarative(spark):
    # r11: the numpy cross-score path (collected bounded query set,
    # fold-order dots) must reproduce the crossJoin+fold results
    # exactly, including self-pair exclusion and pos/neg kinds.
    from pyspark.sql import functions as F

    from rag_content_spark.operators.search import (
        mine_contrastive_pairs,
        retrieval_eval,
    )

    rows = []
    rnd = 11
    for vid in range(60):
        rnd = (rnd * 1103515245 + 12345) % (1 << 31)
        vec = [((rnd >> (j % 16)) % 200 - 100) / 77.0 for j in range(8)]
        rows.append((vid, vec, vid % 4))
    idx = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    queries = idx.filter("vec_id % 10 = 0").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    anchors = idx.filter("vec_id % 10 = 3").select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("anchor_vec"),
        F.col("label").alias("anchor_label"),
    )
    old_e = sorted(
        map(tuple, retrieval_eval(idx, queries, k=5, vectorized=False).collect())
    )
    new_e = sorted(
        map(tuple, retrieval_eval(idx, queries, k=5, vectorized=True).collect())
    )
    assert old_e == new_e and len(new_e) == 6
    old_m = sorted(
        map(
            tuple,
            mine_contrastive_pairs(
                idx, anchors, n_pos=2, n_neg=2, vectorized=False
            ).collect(),
        )
    )
    new_m = sorted(
        map(
            tuple,
            mine_contrastive_pairs(
                idx, anchors, n_pos=2, n_neg=2, vectorized=True
            ).collect(),
        )
    )
    assert old_m == new_m and len(new_m) == 24


def test_one_scan_postings_matches_old_shape(spark):
    """r11: term_postings_one_scan (one corpus text scan, per-row tf
    finalization, dl attached) must reproduce the old three-subtree
    shape (postings + lengths + corpus_stats) EXACTLY — postings rows,
    stats row, and every downstream bm25/tf-idf score — including the
    NULL-text / empty-text / no-match-doc edges."""
    from pyspark.sql import functions as F

    from rag_content_spark.operators.search import (
        bm25_from_postings,
        corpus_stats,
        keyword_scores,
        postings,
        term_postings_one_scan,
        tokens,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark join merge spark"),
            (2, "nothing here"),
            (3, None),
            (4, ""),
            (5, "join"),
            (6, "spark spark spark spark"),
        ],
        ["doc_id", "text"],
    )
    terms = ["spark", "join", "merge"]

    post, stats = term_postings_one_scan(docs, terms)
    old_post = postings(docs).filter(F.col("token").isin(terms))
    old_lengths = docs.select("doc_id", F.size(tokens("text")).alias("dl"))
    old_stats = corpus_stats(docs)

    assert sorted(
        (r["doc_id"], r["token"], r["tf"]) for r in post.collect()
    ) == sorted(tuple(r) for r in old_post.collect())
    assert [tuple(r) for r in stats.collect()] == [
        tuple(r) for r in old_stats.collect()
    ]
    for var in ("lucene", "fts5"):
        new = sorted(
            map(
                tuple,
                bm25_from_postings(
                    post, None, stats, idf_variant=var, round_to=9
                ).collect(),
            )
        )
        old = sorted(
            map(
                tuple,
                bm25_from_postings(
                    old_post, old_lengths, old_stats, idf_variant=var, round_to=9
                ).collect(),
            )
        )
        assert new == old and len(new) == 3, var
    kw = sorted(map(tuple, keyword_scores(docs, terms, round_to=9).collect()))
    assert len(kw) == 3


def test_cosine_query_scores_np_bit_exact(spark):
    """The numpy cosine scorer must match the declarative
    dot / (l2_norm * l2_norm) fold chain BIT-identically (raw doubles)."""
    import struct

    import numpy as np
    from pyspark.sql import functions as F

    from rag_content_spark.functions.vector import cosine
    from rag_content_spark.operators.similarity import cosine_query_scores_np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rng = np.random.RandomState(17)
    extra = spark.createDataFrame(
        [(100000 + i, [float(x) for x in rng.randn(64) * 1e4])
         for i in range(40)],
        ["vec_id", "embedding"],
    ).select("vec_id", F.col("embedding").cast("array<float>"))
    df = emb.select("vec_id", "embedding").unionByName(extra)
    q = [float(x) for x in rng.randn(64)]
    qv = F.array(*[F.lit(v) for v in q])
    a = {
        r["vec_id"]: r["c"]
        for r in df.select(
            "vec_id", cosine("embedding", qv).alias("c")
        ).collect()
    }
    b = {
        r["vec_id"]: r["_cos"]
        for r in cosine_query_scores_np(df, q).select(
            "vec_id", "_cos"
        ).collect()
    }
    assert a.keys() == b.keys()
    for i in a:
        assert struct.pack("<d", a[i]) == struct.pack("<d", b[i]), (
            i, a[i], b[i],
        )
