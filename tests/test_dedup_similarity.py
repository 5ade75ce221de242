import math

from pyspark.sql import functions as F

from rag_content_spark.operators import dedup
from rag_content_spark.operators.similarity import top_k, top_k_batch


def _corpus(spark):
    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base + " today"),  # near dup of 1
        (4, "completely different words about spark dataframes and shuffles"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark):
    out = dedup.exact_dedup(_corpus(spark)).collect()
    by_keep = {r["keep_id"]: r["dup_count"] for r in out}
    assert by_keep[1] == 2 and by_keep[3] == 1 and by_keep[4] == 1


def test_minhash_lsh_finds_near_dup(spark):
    cand = dedup.minhash_lsh_candidates(_corpus(spark), num_hashes=16, bands=8)
    pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert (1, 2) in pairs  # exact dup always collides
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup in >=1 band
    assert not any(4 in p for p in pairs)


def test_jaccard_values(spark):
    pairs = spark.createDataFrame([(1, 2), (1, 4)], ["id_a", "id_b"])
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(_corpus(spark), pairs).collect()
    }
    assert out[(1, 2)] == 1.0
    assert out[(1, 4)] == 0.0


def test_simhash_similar_docs_close(spark):
    out = {
        r["doc_id"]: r["sh"]
        for r in _corpus(spark)
        .select("doc_id", dedup.simhash("text", bits=16).alias("sh"))
        .collect()
    }
    assert out[1] == out[2]
    hamming_near = bin(out[1] ^ out[3]).count("1")
    hamming_far = bin(out[1] ^ out[4]).count("1")
    assert hamming_near < hamming_far


def _vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_top_k_ip_ordering(spark):
    got = top_k(_vectors(spark), [1.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in got] == [0, 1]
    assert got[0]["score"] == 1.0


def test_top_k_l2_ordering(spark):
    got = top_k(_vectors(spark), [0.0, 1.0, 0.0], k=2, metric="l2").collect()
    assert [r["vec_id"] for r in got] == [2, 1]


def test_top_k_batch_per_query(spark):
    qs = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (200, [0.0, 0.0, 1.0])],
        ["query_id", "query_vec"],
    )
    got = top_k_batch(_vectors(spark), qs, k=1).collect()
    best = {r["query_id"]: r["vec_id"] for r in got}
    assert best == {100: 0, 200: 3}


def test_top_k_batch_plan_is_exchange_free_in_phase_1(spark):
    # the scale contract: the n_index x n_queries cross product is never
    # shuffled — one broadcast of the query set, the per-partition top-k
    # in a narrow MapInPandas, and exactly ONE hash exchange (tiny,
    # <= k rows per (query, partition)) before the final window
    qs = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0])], ["query_id", "query_vec"]
    )
    plan = (
        top_k_batch(_vectors(spark), qs, k=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "MapInPandas" in plan


def test_top_k_batch_reserved_column_clash(spark):
    import pytest

    qs = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0], 1)], ["query_id", "query_vec", "rank"]
    )
    with pytest.raises(ValueError, match="reserves column names"):
        top_k_batch(_vectors(spark), qs, k=1)


def test_embedding_neardup_pairs(spark):
    # operator contract: vectors are L2-normalized (dot == cosine)
    n = math.sqrt(0.9**2 + 0.1**2)
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9 / n, 0.1 / n, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = dedup.embedding_neardup_pairs(
        df, threshold=0.9, bits=4, bands=2, dim=3
    ).collect()
    pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in out}
    # 0 and 1 are near-identical; a band must collide and cosine ~0.994
    assert (0, 1) in pairs and math.isclose(pairs[(0, 1)], 0.9939, abs_tol=1e-3)
    assert all(p == (0, 1) for p in pairs)


def test_int8_quantization_roundtrip_error(spark):
    from rag_content_spark.functions.vector import dequantize_int8, quantize_int8

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    deq = emb.select(
        "embedding", dequantize_int8(quantize_int8("embedding")).alias("dq")
    )
    err = deq.select(
        F.array_max(
            F.zip_with("embedding", "dq", lambda a, b: F.abs(a.cast("double") - b))
        ).alias("max_err"),
        F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double")))).alias(
            "max_abs"
        ),
    ).collect()
    for r in err:
        # int8 scalar quantization error bound: half a step = max_abs/254
        assert r["max_err"] <= r["max_abs"] / 254 + 1e-9


def test_quantized_query_scores_np_bit_exact(spark):
    """The fused numpy quantize->dequantize->dot scorer must match the
    interpreted chain BIT-identically (raw doubles), including exact .5
    quantization boundaries; an all-zero vector must raise on both
    paths (ANSI DIVIDE_BY_ZERO / the twin's guard)."""
    import struct

    import numpy as np
    import pytest

    from rag_content_spark.functions.vector import (
        dequantize_int8,
        dot,
        quantize_int8,
        quantized_query_scores_np,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rng = np.random.RandomState(7)
    extra = [
        (100001, [float(x) for x in rng.randn(64) * 100]),
        # exact .5 quantization boundaries: scale = 1.0, v_i = i + 0.5
        (100002, [127.0] + [min(i + 0.5, 127.0) for i in range(63)]),
    ]
    df = emb.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(extra, ["vec_id", "embedding"])
        .select("vec_id", F.col("embedding").cast("array<float>"))
    )
    q = [float(x) for x in rng.randn(64)]
    qlit = F.array(*[F.lit(v) for v in q])
    a = {
        r["vec_id"]: r["s"]
        for r in df.select(
            "vec_id",
            dot(
                dequantize_int8(quantize_int8("embedding")), qlit, 64
            ).alias("s"),
        ).collect()
    }
    b = {
        r["vec_id"]: r["_qscore"]
        for r in quantized_query_scores_np(df, q).collect()
    }
    assert a.keys() == b.keys()
    for i in a:
        assert struct.pack("<d", a[i]) == struct.pack("<d", b[i]), (
            i, a[i], b[i],
        )
    zero = spark.createDataFrame(
        [(0, [0.0] * 64)], ["vec_id", "embedding"]
    ).select("vec_id", F.col("embedding").cast("array<float>"))
    with pytest.raises(Exception, match="(?i)zero"):
        quantized_query_scores_np(zero, q).collect()


def test_connected_components_transitive(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        ["id_a", "id_b"],
    )
    comp = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == comp[22] == comp[23] == 20


def test_cc_single_task_matches_iterative(spark, monkeypatch):
    # r12: bounded pair sets take a one-task union-find path; the
    # iterative min-label propagation must reach the identical fixpoint
    # (component = min reachable id) on the same edges. A path-shaped
    # cluster (chained ids, descending insert order) exercises multi-hop
    # propagation; a duplicate pair and a reversed pair exercise
    # idempotence of the min aggregation under the dropped distinct.
    import rag_content_spark.operators.dedup as D

    rows = [(5, 6), (4, 5), (3, 4), (2, 3), (1, 2), (1, 2), (40, 30), (50, 60)]
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 30: 30, 40: 30, 50: 50, 60: 50}
    pairs = spark.createDataFrame(rows, ["id_a", "id_b"])
    fast = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert fast == expected
    # drive the iterative branch by making the one-task bound unreachable
    monkeypatch.setattr(D, "_CC_SINGLE_TASK_MAX_PAIRS", -1)
    slow = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert slow == expected == fast


def test_resolve_duplicates_keeps_best_quality(spark):
    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5), (7, 0.1)], ["doc_id", "quality"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    kept = {
        r["doc_id"]
        for r in dedup.resolve_duplicates(docs, pairs, quality_col="quality").collect()
    }
    # cluster {1,2,3} -> highest quality (2) survives; solo 7 passes through
    assert kept == {2, 7}


def test_crossdoc_dup_stats(spark):
    from rag_content_spark.operators.dedup import crossdoc_dup_stats

    shared = "one two three four five six seven eight"
    rows = [
        (1, shared + " tail a b c"),             # shares the 8-gram with doc 2
        (2, "lead x y " + shared),               # shares with doc 1
        (3, "totally unique words here that repeat nowhere else at all"),
        (4, "short doc"),                        # < 8 tokens -> no shingles
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in crossdoc_dup_stats(df, n=8).collect()}
    assert out[1]["crossdoc_dup_frac"] > 0
    assert out[2]["crossdoc_dup_frac"] > 0
    assert out[3]["crossdoc_dup_frac"] == 0.0
    assert out[4]["n_shingles"] == 0 and out[4]["crossdoc_dup_frac"] == 0.0
    # doc 1: 12 tokens -> 5 positions, exactly one ("one..eight") in doc 2
    assert out[1]["n_shingles"] == 5
    assert abs(out[1]["crossdoc_dup_frac"] - 0.2) < 1e-9


def test_remove_crossdoc_passages(spark):
    from rag_content_spark.operators.dedup import remove_crossdoc_passages

    shared = "one two three four five six seven eight"
    rows = [
        (1, "intro words here then " + shared + " and a tail"),
        (2, shared + " leading a different document entirely okay"),
        (3, "totally unique words that repeat nowhere else at all ever"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in remove_crossdoc_passages(df, n=8).collect()}
    # every token covered by the shared 8-gram is gone from both docs
    for w in shared.split():
        assert w not in out[1]["clean_text"].split()
        assert w not in out[2]["clean_text"].split()
    # unique prose survives
    assert "intro" in out[1]["clean_text"] and "tail" in out[1]["clean_text"]
    assert out[3]["n_removed"] == 0
    assert out[3]["clean_text"] == rows[2][1]
    assert out[1]["n_removed"] == 8 and out[1]["n_tokens"] == 15


def test_cdc_chunks_insertion_robust(spark):
    """The CDC property: inserting tokens mid-document changes only the
    chunks overlapping the edit — every other chunk hash survives
    (offset-based chunking would lose all downstream hashes)."""
    import random

    from rag_content_spark.operators.dedup import cdc_chunks

    rng = random.Random(42)
    words = [f"w{rng.randint(0, 5000)}" for _ in range(600)]
    original = " ".join(words)
    edited = " ".join(words[:300] + ["inserted", "new", "paragraph"] + words[300:])
    df = spark.createDataFrame(
        [(1, original), (2, edited)], ["doc_id", "text"]
    )
    out = cdc_chunks(df, mask=32).collect()
    h1 = {r["chunk_hash"] for r in out if r["doc_id"] == 1}
    h2 = {r["chunk_hash"] for r in out if r["doc_id"] == 2}
    assert len(h1) >= 8  # 600 tokens / mask 32 -> many chunks
    shared = len(h1 & h2) / len(h1)
    assert shared >= 0.7  # edit disturbs only the local chunk(s)
    # and chunks tile the document exactly
    for doc, text in ((1, original), (2, edited)):
        spans = sorted(
            (r["start"], r["n_tokens"]) for r in out if r["doc_id"] == doc
        )
        pos = 0
        for start, n in spans:
            assert start == pos
            pos += n
        assert pos == len(text.split())


def test_semdedup_drops_higher_id_near_duplicates(spark):
    from rag_content_spark.operators.dedup import semdedup

    rows = [
        (0, [1.0, 0.0, 0.0]),   # centroid/cell anchor
        (1, [0.99, 0.14, 0.0]), # near-dup of 0 within its cell -> dropped
        (2, [0.0, 1.0, 0.0]),   # own direction
        (3, [0.0, 0.995, 0.1]), # near-dup of 2 -> dropped
        (4, [0.0, 0.0, 1.0]),   # isolated -> kept
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = [(0, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (4, [0.0, 0.0, 1.0])]
    got = {r["vec_id"]: r for r in semdedup(emb, cents, threshold6=950_000).collect()}
    assert got[0]["keep"] and got[2]["keep"] and got[4]["keep"]
    assert not got[1]["keep"] and not got[3]["keep"]
    # lower id survives: the drop rule is directional, not transitive
    assert got[1]["cell"] == 0 and got[3]["cell"] == 2


def test_semdedup_cross_cell_pairs_never_compared(spark):
    from rag_content_spark.operators.dedup import semdedup

    # 10 and 11 are identical vectors but live in different cells
    # (assignment is by nearest centroid): SemDeDup never compares them
    rows = [(10, [1.0, 0.05, 0.0]), (11, [1.0, -0.05, 0.0])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = [(0, [1.0, 0.1, 0.0]), (1, [1.0, -0.1, 0.0])]
    got = {r["vec_id"]: r["keep"] for r in semdedup(emb, cents, threshold6=900_000).collect()}
    assert got == {10: True, 11: True}


def test_semdedup_np_assignment_matches_exact(spark):
    """The registered query's vectorized assignment path (q_semdedup uses
    assign_ivf_cells_np) must produce the identical keep-set as the exact
    declarative assignment on real corpus data — both round distances to
    1e-6 before the argmin."""
    from rag_content_spark.operators.dedup import semdedup
    from rag_content_spark.operators.similarity import assign_ivf_cells_np

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    cents = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") % 10 == 0).orderBy("vec_id").collect()
    ]
    exact = semdedup(emb, cents, threshold6=400_000).orderBy("vec_id").collect()
    fast = semdedup(
        emb, cents, threshold6=400_000, assign_fn=assign_ivf_cells_np
    ).orderBy("vec_id").collect()
    assert [tuple(r) for r in exact] == [tuple(r) for r in fast]
    assert any(not r["keep"] for r in exact)  # the corpus has near-dups


def test_duplicate_span_stats_merges_overlapping_windows(spark):
    """A duplicated run longer than k shows up as ONE maximal span (the
    overlapping duplicated k-windows merge), and unique text is untouched."""
    from rag_content_spark.operators.dedup import duplicate_span_stats

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens, k=5 -> 2 windows
    rows = [
        (1, f"{shared} unique one tail"),
        (2, f"other head words {shared}"),
        (3, "completely unrelated text with no repeats at all"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in duplicate_span_stats(docs, k=5).collect()}
    assert got[1]["dup_tokens"] == 6 and got[1]["n_spans"] == 1
    assert got[2]["dup_tokens"] == 6 and got[2]["n_spans"] == 1
    assert got[3]["dup_tokens"] == 0 and got[3]["n_spans"] == 0
    assert got[1]["n_tokens"] == 9 and got[3]["dup_ratio"] == 0.0


def test_scrub_duplicate_spans_cuts_only_covered_tokens(spark):
    from rag_content_spark.operators.dedup import scrub_duplicate_spans

    shared = "a b c d e"  # exactly one 5-window
    rows = [
        (1, f"{shared} keep these words"),
        (2, f"front matter {shared}"),
        (3, shared),  # fully duplicated -> empty clean_text
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in scrub_duplicate_spans(docs, k=5).collect()}
    assert got[1]["clean_text"] == "keep these words"
    assert got[2]["clean_text"] == "front matter"
    assert got[3]["clean_text"] == "" and got[3]["n_removed"] == 5
    assert got[1]["n_removed"] == 5 and got[1]["n_tokens"] == 8


def test_duplicate_spans_within_single_doc_repeat(spark):
    """min_count counts corpus-wide occurrences, so a k-gram repeated
    WITHIN one document is duplicated too (Lee et al. count all suffixes)."""
    from rag_content_spark.operators.dedup import duplicate_span_stats

    rows = [(1, "p q r s t filler words here p q r s t")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    (row,) = duplicate_span_stats(docs, k=5).collect()
    assert row["dup_tokens"] == 10 and row["n_spans"] == 2


def test_semdedup_np_pairwise_equals_declarative(spark):
    # the vectorized within-cell compare (numpy gram matrix, row-blocked)
    # must produce the same keep set as the declarative zip_with cosine
    # on the 1e-6 fixed-point grid
    from pyspark.sql import functions as F

    from rag_content_spark.operators.dedup import semdedup, semdedup_dropped_np
    from rag_content_spark.operators.similarity import assign_ivf_cells_np

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    cents = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") % 40 == 0).orderBy("vec_id").collect()
    ]
    # low threshold so plenty of pairs cross it and the rule is exercised
    kw = dict(threshold6=300_000, assign_fn=assign_ivf_cells_np)
    sql_keep = {
        (r["vec_id"], r["keep"]) for r in semdedup(emb, cents, **kw).collect()
    }
    np_keep = {
        (r["vec_id"], r["keep"])
        for r in semdedup(
            emb, cents, pairwise_fn=semdedup_dropped_np, **kw
        ).collect()
    }
    assert sql_keep == np_keep
    assert any(not k for _, k in sql_keep)  # rule actually fired
    # tiny block size exercises the row-blocking boundaries
    from functools import partial

    np_small = {
        (r["vec_id"], r["keep"])
        for r in semdedup(
            emb, cents,
            pairwise_fn=partial(semdedup_dropped_np, block=3), **kw
        ).collect()
    }
    assert np_small == sql_keep


def test_containment_pairs_subset_detection(spark):
    """A doc fully embedded in a longer one: containment of the short
    side ~1.0 while Jaccard stays at the length ratio."""
    from pyspark.sql import functions as F

    from rag_content_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    long_text = " ".join(f"tok{i}" for i in range(60))
    short_text = " ".join(f"tok{i}" for i in range(20))  # strict prefix
    other = " ".join(f"zzz{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, long_text), (2, short_text), (3, other)], ["doc_id", "text"]
    )
    cand = spark.createDataFrame([(1, 2), (1, 3)], ["id_a", "id_b"])
    got = {
        (r["id_a"], r["id_b"]): (r["contain_a"], r["contain_b"])
        for r in containment_pairs(df, cand).collect()
    }
    ca, cb = got[(1, 2)]
    # shingles(short) subset of shingles(long): contain_b == 1.0,
    # contain_a == |short shingles| / |long shingles|
    assert cb == 1.0 and 0.2 < ca < 0.45
    assert got[(1, 3)] == (0.0, 0.0)
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(df, cand).collect()
    }
    # the signal Jaccard misses: J(1,2) ~ len ratio, far below 0.9
    assert jac[(1, 2)] < 0.5


# ---------------- max_bucket_size cap + overflow + pre-collapse ----------


def _degenerate_corpus(spark, k=8):
    """k verbatim copies of one boilerplate page + two distinct docs."""
    boiler = "cookie notice accept all cookies privacy policy terms of use"
    rows = [(i, boiler) for i in range(k)]
    rows += [
        (100, "a unique document about spark adaptive query execution"),
        (101, "another unique document mentioning broadcast hash joins"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_bucket_cap_bounds_pairs(spark):
    corpus = _degenerate_corpus(spark, k=8)
    uncapped = dedup.minhash_lsh_candidates(corpus).count()
    capped = dedup.minhash_lsh_candidates(corpus, max_bucket_size=3)
    pairs = capped.collect()
    # 8 identical docs -> C(8,2)=28 uncapped, C(3,2)=3 capped
    assert uncapped == 28
    assert len(pairs) == 3
    # capped pairs are a subset of the uncapped set
    allp = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates(corpus).collect()
    }
    assert {(r["id_a"], r["id_b"]) for r in pairs} <= allp


def test_bucket_cap_default_on(spark):
    """Round-8 verdict: the cap must protect the DEFAULT path — a user
    who passes no flag gets DEFAULT_MAX_BUCKET_SIZE, and ``None`` is the
    explicit opt-out (not the default)."""
    import inspect

    assert dedup.DEFAULT_MAX_BUCKET_SIZE == 1000
    for fn in (
        dedup.minhash_lsh_candidates,
        dedup.embedding_neardup_pairs,
        dedup.dedup_against_corpus,
    ):
        assert (
            inspect.signature(fn).parameters["max_bucket_size"].default
            == dedup.DEFAULT_MAX_BUCKET_SIZE
        ), fn.__name__
    # below-cap corpora are bit-identical to the explicit-cap call, and
    # the explicit opt-out still yields the same pairs at this scale
    corpus = _degenerate_corpus(spark, k=8)
    default_pairs = sorted(
        map(tuple, dedup.minhash_lsh_candidates(corpus).collect())
    )
    uncapped_pairs = sorted(
        map(
            tuple,
            dedup.minhash_lsh_candidates(
                corpus, max_bucket_size=None
            ).collect(),
        )
    )
    assert default_pairs == uncapped_pairs and len(default_pairs) == 28


def test_bucket_cap_above_size_is_identity(spark):
    corpus = _corpus(spark)
    base = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates(corpus, bands=8).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates(
            corpus, bands=8, max_bucket_size=1000
        ).collect()
    }
    assert base == capped


def test_bucket_cap_deterministic(spark):
    corpus = _degenerate_corpus(spark, k=10)
    a = sorted(
        map(
            tuple,
            dedup.minhash_lsh_candidates(corpus, max_bucket_size=4).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            dedup.minhash_lsh_candidates(corpus, max_bucket_size=4).collect(),
        )
    )
    assert a == b and len(a) == 6  # C(4,2)


def test_overflow_report(spark):
    corpus = _degenerate_corpus(spark, k=8)
    rep = dedup.minhash_lsh_overflow(corpus, max_bucket_size=3)
    rows = rep.collect()
    # the boilerplate cluster overflows in all 4 bands
    assert len(rows) == 4
    assert all(r["bucket_size"] == 8 and r["n_dropped"] == 5 for r in rows)
    summ = dedup.overflow_summary(rep).collect()[0]
    assert summ["n_overflow_buckets"] == 4
    assert summ["max_bucket_size_seen"] == 8
    assert summ["n_dropped_ids"] == 20
    # no overflow -> zero-filled one-row summary
    summ0 = dedup.overflow_summary(
        dedup.minhash_lsh_overflow(corpus, max_bucket_size=100)
    ).collect()[0]
    assert (
        summ0["n_overflow_buckets"] == 0
        and summ0["max_bucket_size_seen"] == 0
        and summ0["n_dropped_ids"] == 0
    )


def test_bucket_cap_rejects_degenerate_cap(spark):
    import pytest

    corpus = _corpus(spark)
    with pytest.raises(ValueError):
        dedup.minhash_lsh_candidates(corpus, max_bucket_size=1).collect()


def test_embedding_neardup_cap(spark):
    # 6 identical vectors share every SRP bucket; cap 2 -> 1 pair
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(6)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = dedup.embedding_neardup_pairs(
        emb, threshold=0.5, bits=4, bands=2, dim=4, max_bucket_size=2
    ).collect()
    assert len(out) == 1
    full = dedup.embedding_neardup_pairs(
        emb, threshold=0.5, bits=4, bands=2, dim=4
    ).count()
    assert full == 15  # C(6,2)


def test_dedup_against_corpus_cap(spark):
    corpus = _degenerate_corpus(spark, k=4)
    new = spark.createDataFrame(
        [
            (200, "cookie notice accept all cookies privacy policy terms of use"),
            (201, "fresh reporting on distributed joins and window functions"),
        ],
        ["doc_id", "text"],
    )
    # capped and uncapped agree here (the boilerplate new doc collides
    # with SOME sampled corpus twin in at least one band)
    base = sorted(
        r["doc_id"]
        for r in dedup.dedup_against_corpus(new, corpus, threshold=0.5).collect()
    )
    capped = sorted(
        r["doc_id"]
        for r in dedup.dedup_against_corpus(
            new, corpus, threshold=0.5, max_bucket_size=2
        ).collect()
    )
    assert base == capped == [201]


def test_collapse_exact_and_expand(spark):
    base = "the quick brown fox jumps over the lazy dog near the river"
    rows = [
        (1, base),
        (2, base),        # exact dup of 1
        (3, base),        # exact dup of 1
        (10, base + " x"),  # near dup of the cluster
        (20, "entirely different content about structured streaming state"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    reps, members = dedup.collapse_exact_before_lsh(df)
    rep_ids = sorted(r["doc_id"] for r in reps.collect())
    assert rep_ids == [1, 10, 20]
    mem = {(r["rep_id"], r["doc_id"], r["n_copies"]) for r in members.collect()}
    assert (1, 2, 3) in mem and (1, 3, 3) in mem and (10, 10, 1) in mem
    cand = dedup.minhash_lsh_candidates(reps, bands=8)
    ver = dedup.jaccard_pairs(reps, cand, threshold=0.5).select("id_a", "id_b")
    out = {
        (r["id_a"], r["id_b"])
        for r in dedup.expand_rep_pairs(ver, members).collect()
    }
    # intra-cluster exact pairs + cross pairs to the near twin
    assert {(1, 2), (1, 3), (2, 3), (1, 10), (2, 10), (3, 10)} <= out
    assert not any(20 in p for p in out)


def test_collapse_exact_table_matches_pair_view(spark):
    # r12: reps/members became projections of ONE hash-group join —
    # the combined table must carry every input row exactly once with
    # its cluster columns, reps = is_rep filter, members = projection,
    # including extra passthrough columns and single-member clusters.
    rows = [
        (1, "alpha beta gamma", "en"),
        (2, "alpha beta gamma", "en"),  # exact dup of 1
        (5, "delta epsilon zeta", "de"),
        (9, "alpha beta gamma", "en"),  # exact dup of 1
        (7, "eta theta iota kappa", "el"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    t = dedup.collapse_exact_table(df)
    assert t.columns == ["doc_id", "text", "lang", "rep_id", "n_copies", "is_rep"]
    got = {
        (r["doc_id"], r["lang"], r["rep_id"], r["n_copies"], r["is_rep"])
        for r in t.collect()
    }
    assert got == {
        (1, "en", 1, 3, True),
        (2, "en", 1, 3, False),
        (9, "en", 1, 3, False),
        (5, "de", 5, 1, True),
        (7, "el", 7, 1, True),
    }
    reps, members = dedup.collapse_exact_before_lsh(df)
    assert sorted(r["doc_id"] for r in reps.collect()) == [1, 5, 7]
    assert reps.columns == ["doc_id", "text", "lang"]
    mem = {(r["rep_id"], r["doc_id"], r["n_copies"]) for r in members.collect()}
    assert mem == {(1, 1, 3), (1, 2, 3), (1, 9, 3), (5, 5, 1), (7, 7, 1)}


def test_blocked_exact_dot_pairs_bit_identical_to_fold(spark):
    # r11: the vectorized per-block pair path must reproduce the
    # declarative join + fold dot BIT-exactly (same IEEE accumulation
    # order), including float32 widening and id ordering; null blocks
    # drop like the join's equality did.
    import struct

    from pyspark.sql import functions as F

    from rag_content_spark.functions.vector import dot
    from rag_content_spark.operators.similarity import blocked_exact_dot_pairs

    rows = []
    rnd = 1
    for vid in range(40):
        rnd = (rnd * 1103515245 + 12345) % (1 << 31)
        vec = [((rnd >> (2 * j)) % 1000 - 500) / 257.0 for j in range(16)]
        rows.append((vid, vid % 3 if vid % 7 else None, vec))
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    a = df.select(
        F.col("vec_id").alias("id_a"),
        F.col("label").alias("_la"),
        F.col("embedding").alias("_ea"),
    )
    b = df.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("_lb"),
        F.col("embedding").alias("_eb"),
    )
    old = {
        (r.id_a, r.id_b): r.d
        for r in a.join(
            b, (F.col("_la") == F.col("_lb")) & (F.col("id_a") < F.col("id_b"))
        )
        .select("id_a", "id_b", dot("_ea", "_eb", 16).alias("d"))
        .collect()
    }
    new = {
        (r.id_a, r.id_b): r.d
        for r in blocked_exact_dot_pairs(df, block_col="label", pair_chunk=7)
        .select("id_a", "id_b", F.col("_dot").alias("d"))
        .collect()
    }
    assert set(old) == set(new) and len(old) > 100
    assert all(
        struct.pack("d", old[k]) == struct.pack("d", new[k]) for k in old
    )


def test_near_duplicate_pairs_matches_two_step_composition(spark):
    # the one-pass operator returns the rows of jaccard_pairs over
    # minhash_lsh_candidates, and the overflow_summary row of
    # minhash_lsh_overflow, on every edge: short docs (degenerate
    # shingle), empty and NULL text (the same degenerate shingle),
    # exact duplicates, and band buckets of 3 ids against a cap of 2
    rows = [
        (1, "alpha beta gamma delta alpha beta"),
        (2, "alpha beta gamma delta alpha beta"),
        (3, "one two"),
        (4, "single"),
        (5, ""),
        (6, None),
        (7, "nb\xa0sp token"),
        (8, "tab\tsep\nnewline\x0bvt\fff\rcr end"),
        (9, "alpha beta gamma delta epsilon zeta eta theta"),
        (10, "alpha beta gamma delta epsilon zeta eta theta iota"),
        (11, "alpha beta gamma delta alpha beta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for cap, threshold in ((None, 0.0), (2, 0.0), (2, 0.5), (1000, 0.7)):
        pairs, overflow = dedup.near_duplicate_pairs(
            df, threshold=threshold, max_bucket_size=cap
        )
        cand = dedup.minhash_lsh_candidates(df, max_bucket_size=cap)
        exp = dedup.jaccard_pairs(df, cand, threshold=threshold)
        assert pairs.columns == exp.columns == ["id_a", "id_b", "jaccard"]
        got = sorted(map(tuple, pairs.collect()))
        assert got == sorted(map(tuple, exp.collect())), (cap, threshold)
        if cap is None:
            assert overflow is None and len(got) > 3
            continue
        summary = dedup.overflow_summary(dedup.minhash_lsh_overflow(df, cap))
        assert overflow() == summary.collect()[0].asDict(), (cap, threshold)
        assert (overflow()["n_dropped_ids"] > 0) == (cap == 2)
