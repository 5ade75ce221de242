"""Round-2 curation operators: Gopher rules, mix rebalance, paragraph
dedup, n-gram stats, sequence packing, product quantization."""

import math

from pyspark.sql import functions as F


def test_gopher_rules(spark):
    from rag_content_spark.operators.quality import gopher_rules

    good = "the quick brown fox jumps to be sure of the answer and that " * 10
    rows = [
        ("good", good),
        ("short", "tiny doc"),
        ("symbols", ("# " * 60) + "the be to of and that have with"),
        ("numeric", " ".join(str(i) for i in range(100))),
        ("nostop", "lorem ipsum dolor sit amet " * 20),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r.asDict()
        for r in df.select("doc_id", *[
            c.alias(name) for name, c in gopher_rules("text").items()
        ]).collect()
    }
    assert got["good"]["keep"] is True
    assert got["short"]["word_count_ok"] is False
    assert got["symbols"]["symbol_ratio_ok"] is False
    assert got["numeric"]["alpha_ratio_ok"] is False
    assert got["nostop"]["stopword_ok"] is False
    for name in ("short", "symbols", "numeric", "nostop"):
        assert got[name]["keep"] is False


def test_gopher_rules_zero_token_doc(spark):
    """A document with no tokens is dropped instead of failing the job
    with DIVIDE_BY_ZERO under ANSI mode; its ratio rules are NULL (as
    DuckDB's x/0), and the other documents' rules do not change."""
    from rag_content_spark.operators.quality import gopher_rules

    good = "the quick brown fox jumps to be sure of the answer and that " * 10
    rows = [("good", good), ("short", "tiny doc"), ("empty", ""), ("blank", " \n\t ")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def rules(frame):
        return {
            r["doc_id"]: r.asDict()
            for r in frame.select("doc_id", *[
                c.alias(name) for name, c in gopher_rules("text").items()
            ]).collect()
        }

    got = rules(df)
    for name in ("empty", "blank"):
        assert got[name] == {
            "doc_id": name,
            "word_count_ok": False,
            "mean_word_len_ok": None,
            "symbol_ratio_ok": None,
            "alpha_ratio_ok": None,
            "stopword_ok": False,
            "keep": False,
        }
    assert {k: got[k] for k in ("good", "short")} == rules(
        df.filter(F.col("doc_id").isin("good", "short"))
    )
    assert got["good"]["keep"] is True


def test_rebalance_to_mix(spark):
    from rag_content_spark.operators.quality import rebalance_to_mix

    rows = [(f"d{i}", "en" if i < 900 else "fr") for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = rebalance_to_mix(df, {"en": 0.5, "fr": 0.5}).groupBy("lang").count()
    counts = {r["lang"]: r["count"] for r in out.collect()}
    # fr is most-constrained (100 docs / 0.5 share): kept in full;
    # en downsampled to ~100 (hash-mod, so approximately)
    assert counts["fr"] == 100
    assert 70 <= counts["en"] <= 130
    # deterministic: same result twice
    again = {
        r["lang"]: r["count"]
        for r in rebalance_to_mix(df, {"en": 0.5, "fr": 0.5})
        .groupBy("lang")
        .count()
        .collect()
    }
    assert again == counts
    # strata not in the mix are dropped
    assert "de" not in counts


def test_dedup_paragraphs(spark):
    from rag_content_spark.operators.dedup import dedup_paragraphs

    rows = [
        ("a", "unique one\nSHARED BOILERPLATE\nunique two"),
        ("b", "SHARED BOILERPLATE\nother text"),
        ("c", "SHARED BOILERPLATE"),
        ("d", "repeat me\nrepeat me\nend"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["dedup_text"]
        for r in dedup_paragraphs(df).collect()
    }
    # first occurrence (lowest id) keeps the boilerplate
    assert got["a"] == "unique one\nSHARED BOILERPLATE\nunique two"
    assert got["b"] == "other text"
    # doc c was pure boilerplate -> vanishes
    assert "c" not in got
    # within-doc repeats collapse too
    assert got["d"] == "repeat me\nend"


def test_top_ngrams(spark):
    from rag_content_spark.operators.text_analysis import top_ngrams

    rows = [("a", "x y x y z"), ("b", "x y q"), ("c", "w")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [(r["ngram"], r["freq"]) for r in top_ngrams(df, n=2, k=3).collect()]
    # 'x y' appears 3x (twice in a, once in b); ties broken by ngram asc
    assert got[0] == ("x y", 3)
    assert got[1][1] == 1 and got[1][0] < got[2][0]
    # single-word doc contributes no bigrams (and doesn't error)
    assert all(g != "w" for g, _ in got)


def test_pack_sequences_default_shards_scale(spark):
    # shards=None derives >= 32 shards from the input partitioning, so
    # the per-shard cumsum never serializes on a handful of windows
    from rag_content_spark.operators.packing import pack_sequences

    rows = [(f"d{i:03d}", "tok tok tok") for i in range(400)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pack_sequences(df, budget=6).collect()
    assert len({r["shard"] for r in out}) >= 20  # hash-spread over >=32 shards


def test_pack_sequences_default_shards_run_no_job(spark, tmp_path, monkeypatch):
    # the default shard count comes off the plan's leaves: building the
    # packing plan over a joined input (shuffles still unplanned) runs
    # no Spark job, and the split count of a file input or a checkpoint
    # is read without one
    import os

    from rag_content_spark.operators import packing
    from rag_content_spark.operators.packing import input_splits, pack_sequences
    from tests.test_serve_reads import _jobs

    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"tok {i} tok") for i in range(60)], ["doc_id", "text"]
    ).write.parquet(path)
    docs = spark.read.parquet(path)
    joined = docs.join(docs.groupBy("doc_id").count(), "doc_id").filter(
        F.col("count") > 0
    )
    wide = spark.range(100).repartition(40).localCheckpoint(eager=True)
    with _jobs(spark) as ids:
        packed = pack_sequences(joined, budget=8)
        splits = (input_splits(joined), input_splits(wide))
    assert ids == []
    assert splits == (1, 40)
    # a file scan counts its bytes in SPLIT_BYTES splits
    data = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if not f.startswith((".", "_"))
    )
    monkeypatch.setattr(packing, "SPLIT_BYTES", 100)
    assert input_splits(joined) == -(-data // 100) > 1
    out = packed.collect()
    assert len(out) == 60 and max(r["shard"] for r in out) < 32


def test_pack_sequences(spark):
    from rag_content_spark.operators.packing import pack_sequences

    rows = [(f"d{i:02d}", "tok " * 50) for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pack_sequences(df, budget=100, shards=2).collect()
    assert {r["n_tokens"] for r in out} == {50}
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert set(by_shard) <= {0, 1}
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r["doc_id"])
        # greedy contiguous packing: bucket = floor(start_offset/budget)
        # -> two 50-token docs per 100-token bucket, in id order
        for idx, r in enumerate(shard_rows):
            assert r["seq_bucket"] == (idx * 50) // 100, r
    # deterministic across runs
    again = pack_sequences(df, budget=100, shards=2).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_pq_roundtrip_and_adc(spark):
    import numpy as np

    from rag_content_spark.functions.vector import (
        pq_adc_score,
        pq_adc_table,
        pq_demo_codebook,
        pq_encode,
    )

    m, k, sub_dim = 4, 8, 4
    dim = m * sub_dim
    cb = pq_demo_codebook(m, k, sub_dim)

    # vectors sitting exactly ON centroids must encode to those codes
    rows = []
    expect = {}
    for i, codes in enumerate([(0, 1, 2, 3), (7, 6, 5, 4), (3, 3, 3, 3)]):
        vec = []
        for s, j in enumerate(codes):
            vec.extend(cb[s][j])
        rows.append((f"v{i}", vec))
        expect[f"v{i}"] = list(codes)
    df = spark.createDataFrame(rows, ["id", "embedding"])
    enc = df.select("id", pq_encode("embedding", cb).alias("codes"))
    got = {r["id"]: r["codes"] for r in enc.collect()}
    assert got == expect

    # ADC: the score of an on-centroid vector vs itself as query is 0,
    # and ADC equals the exact squared distance to the reconstruction
    query = rows[0][1]
    table = pq_adc_table(query, cb)
    scored = enc.select(
        "id", pq_adc_score("codes", table).alias("adc")
    ).collect()
    by_id = {r["id"]: r["adc"] for r in scored}
    assert math.isclose(by_id["v0"], 0.0, abs_tol=1e-12)
    for rid, codes in expect.items():
        recon = np.array(
            [v for s, j in enumerate(codes) for v in cb[s][j]]
        )
        exact = float(((np.array(query) - recon) ** 2).sum())
        assert math.isclose(by_id[rid], exact, rel_tol=1e-9), rid


def test_ivf_pq_topk_finds_planted_neighbor(spark):
    """Plant a vector exactly on the query point: IVF+PQ must rank it
    first (its cell is the closest cell; its codes match the query's)."""
    import numpy as np

    from rag_content_spark.functions.vector import pq_demo_codebook
    from rag_content_spark.operators.similarity import ivf_pq_topk

    rng = np.random.RandomState(7)
    dim = 64
    base = rng.uniform(-1, 1, (100, dim))
    query = list(base[0])  # plant: vector 0 IS the query
    rows = [(i, [float(x) for x in base[i]]) for i in range(100)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    centroids = [(i, list(base[i * 20])) for i in range(5)]
    cb = pq_demo_codebook(4, 8, 16)
    got = ivf_pq_topk(df, centroids, cb, query, k=5, n_probe=2).collect()
    assert got[0]["vec_id"] == 0
    # scores ascend (ADC squared distance) and stay in probed cells
    scores = [r["adc"] for r in got]
    assert scores == sorted(scores)
    assert len({r["centroid_id"] for r in got}) <= 2


def test_dedup_against_corpus(spark):
    from rag_content_spark.operators.dedup import (
        dedup_against_corpus,
        minhash_band_table,
    )

    corpus_rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "one two three four five six seven eight nine ten"),
    ]
    new_rows = [
        # near-dup of corpus doc 1 (one token dropped)
        (101, "alpha beta gamma delta epsilon zeta eta theta iota"),
        # genuinely new content
        (102, "completely different words about another topic entirely here"),
    ]
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    new = spark.createDataFrame(new_rows, ["doc_id", "text"])
    kept = [r["doc_id"] for r in dedup_against_corpus(new, corpus, threshold=0.5).collect()]
    assert kept == [102]

    # supplying the materialized band table gives the same answer
    bands = spark.createDataFrame(minhash_band_table(corpus).collect())
    kept2 = [
        r["doc_id"]
        for r in dedup_against_corpus(
            new, corpus, threshold=0.5, corpus_bands=bands
        ).collect()
    ]
    assert kept2 == [102]


def test_nearest_cells_np_boundary_semantics():
    """The vectorized cell ranker must follow the oracle's total order
    (round-half-away(true_distance, 6), centroid_id) even at the two
    boundary channels the round-9 advice flagged: exact .5e-6 rounding
    ties (numpy's banker's rounding diverges — verified: 2.5e-6 rounds
    to 2e-6 under np.round but 3e-6 under DuckDB/F.round) and rounded
    ties between unequal true distances (lower centroid id must win)."""
    import numpy as np

    from rag_content_spark.operators.similarity import nearest_cells_np

    rng = np.random.default_rng(7)
    emb = rng.normal(size=(50, 8))
    cmat = rng.normal(size=(12, 8))
    cent_ids = np.arange(12, dtype=np.int64)
    # exact-duplicate centroid: distance tie at 0 -> lowest id wins
    emb[0] = cmat[3]
    cmat[7] = cmat[3]
    # half-boundary: d = 2.5e-6 exactly (2.5e-6 * 1e6 == 2.5 in binary);
    # half-away rounds to 3e-6 like the engines, banker's would give 2e-6
    emb[1] = 0.0
    emb[1][0] = 2.5e-6
    cmat[5] = 0.0
    assert np.floor(2.5e-6 * 1e6 + 0.5) != np.round(2.5e-6 * 1e6)
    # rounded tie between UNEQUAL true distances: 0.9e-6 and 1.4e-6 both
    # round to 1e-6 -> centroid id breaks the tie (round BEFORE compare)
    emb[2] = 0.0
    emb[2][0] = 0.9e-6
    cmat[9] = 0.0          # true distance 0.9e-6 (rounds to 1e-6)
    cmat[4] = 0.0
    cmat[4][0] = 2.3e-6    # true distance 1.4e-6 (also rounds to 1e-6)
    cnorm = (cmat * cmat).sum(axis=1)
    got = nearest_cells_np(emb, cmat, cent_ids, cnorm, 3)
    assert got.shape == (50, 3)
    # brute-force reference: difference-form distance, half-away rounding
    for i in range(len(emb)):
        d = np.sqrt(((emb[i][None, :] - cmat) ** 2).sum(axis=1))
        dr = np.floor(d * 1e6 + 0.5)
        want = cent_ids[np.lexsort((cent_ids, dr))][:3]
        assert list(got[i]) == list(want), f"row {i}"
    assert got[0][0] == 3          # tie at 0 between cells 3 and 7
    # cells 4 (true 1.4e-6), 5 and 9 (true 0.9e-6) ALL round to 1e-6:
    # id order must win over true-distance order (4 before 5/9)
    assert list(got[2]) == [4, 5, 9]


def test_nearest_cells_np_large_norm_margin():
    """r10 advice: the refine margin must SCALE with the data — at
    |x| ~ 1e5 norms the matmul expansion's cancellation error in d is
    ~eps*(|x|^2+|c|^2)/(2d) >> the old fixed 1e-5, so a true top-p
    centroid could fall outside the candidate shortlist and be silently
    dropped from the 'exact-order' result. Adversarial shape: clusters
    of centroids separated by far less than the expansion's error bar
    at this magnitude, so only a correct (scaled) margin keeps every
    true winner in the refine set."""
    import numpy as np

    from rag_content_spark.operators.similarity import nearest_cells_np

    rng = np.random.default_rng(11)
    scale = 1e5
    base = rng.normal(size=(6, 16)) * scale
    # 30 centroids: 6 tight clusters of 5, intra-cluster spread ~1e-4
    # (distance differences far below eps * norm^2 / d ~ 1e-2 here)
    cmat = np.repeat(base, 5, axis=0) + rng.normal(size=(30, 16)) * 1e-4
    cent_ids = np.arange(30, dtype=np.int64)
    # queries sit ON a cluster center, slightly perturbed
    emb = base + rng.normal(size=(6, 16)) * 1e-4
    cnorm = (cmat * cmat).sum(axis=1)
    got = nearest_cells_np(emb, cmat, cent_ids, cnorm, 4)
    for i in range(len(emb)):
        d = np.sqrt(((emb[i][None, :] - cmat) ** 2).sum(axis=1))
        dr = np.floor(d * 1e6 + 0.5)
        want = cent_ids[np.lexsort((cent_ids, dr))][:4]
        assert list(got[i]) == list(want), f"row {i}"


def test_assign_ivf_cells_np_matches_exact(spark):
    """The vectorized (numpy-matmul) IVF assignment must agree with the
    exact declarative operator on real data."""
    from rag_content_spark.operators.similarity import (
        assign_ivf_cells,
        assign_ivf_cells_np,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    centroids = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") % 10 == 0).orderBy("vec_id").collect()
    ]
    exact = {
        r["vec_id"]: r["centroid_id"]
        for r in assign_ivf_cells(emb, centroids).collect()
    }
    fast = {
        r["vec_id"]: r["centroid_id"]
        for r in assign_ivf_cells_np(emb, centroids).collect()
    }
    assert fast == exact


def test_ann_segment_encoder_matches_exact(spark):
    """The ANN index's one-pass encoder gives every vector the cell of
    the exact IVF assignment and the codes of the exact PQ encode."""
    from rag_content_spark.functions.vector import pq_demo_codebook, pq_encode
    from rag_content_spark.operators.similarity import assign_ivf_cells
    from rag_content_spark.plans.ann_index import encode_segment

    cb = pq_demo_codebook(4, 8, 16)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    centroids = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") % 10 == 0).orderBy("vec_id").collect()
    ]
    cells = {
        r["vec_id"]: r["centroid_id"]
        for r in assign_ivf_cells(emb, centroids).collect()
    }
    exact = {
        r["vec_id"]: (cells[r["vec_id"]], r["codes"])
        for r in emb.select(
            "vec_id", pq_encode("embedding", cb).alias("codes")
        ).collect()
    }
    fast = {
        r["vec_id"]: (r["cell"], r["codes"])
        for r in encode_segment(emb, centroids, cb).collect()
    }
    assert fast == exact


def test_lsh_signature_np_matches_exact(spark):
    from rag_content_spark.operators.similarity import (
        lsh_signature,
        lsh_signature_np,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    exact = {
        r["vec_id"]: r["bucket"]
        for r in emb.select(
            "vec_id", lsh_signature("embedding", bits=8, dim=64).alias("bucket")
        ).collect()
    }
    fast = {
        r["vec_id"]: r["bucket"]
        for r in lsh_signature_np(emb, bits=8, dim=64).collect()
    }
    assert fast == exact


def test_unigram_logloss(spark):
    import math

    from rag_content_spark.operators.text_analysis import unigram_logloss

    rows = [(1, "a a a b"), (2, "a b")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in unigram_logloss(df).collect()}
    # corpus: a x4, b x2, total 6 -> p(a)=2/3, p(b)=1/3
    pa, pb = 4 / 6, 2 / 6
    expect1 = -(3 * math.log(pa) + math.log(pb)) / 4
    expect2 = -(math.log(pa) + math.log(pb)) / 2
    assert abs(got[1]["xent"] - expect1) < 1e-6
    assert abs(got[2]["xent"] - expect2) < 1e-6
    # doc 2 has rarer mix on average -> higher xent
    assert got[2]["xent"] > got[1]["xent"]

    # supplied materialized LM + OOV backoff (1/total)
    probs = spark.createDataFrame(
        [("a", pa, 6), ("b", pb, 6)], ["token", "p", "_total"]
    )
    oov = spark.createDataFrame([(3, "a z")], ["doc_id", "text"])
    got3 = unigram_logloss(oov, probs=probs).collect()[0]
    expect3 = -(math.log(pa) + math.log(1 / 6)) / 2
    assert abs(got3["xent"] - expect3) < 1e-6


def test_embedding_neardup_vectorized_matches_exact(spark):
    from rag_content_spark.operators.dedup import embedding_neardup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    exact = sorted(
        map(tuple, embedding_neardup_pairs(emb, threshold=0.0).collect())
    )
    fast = sorted(
        map(
            tuple,
            embedding_neardup_pairs(
                emb, threshold=0.0, vectorized_signatures=True
            ).collect(),
        )
    )
    assert fast == exact


def test_trained_pq_beats_demo_codebook(spark):
    """PQ with a kmeans-trained codebook must reconstruct the corpus
    better (lower total ADC self-distance) than the untrained demo
    codebook — ties PQ to real training end-to-end."""
    from rag_content_spark.functions.vector import (
        pq_adc_score,
        pq_adc_table,
        pq_demo_codebook,
        pq_encode,
        train_pq_codebook,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    m, k = 4, 8
    trained = train_pq_codebook(emb, m=m, k=k, iterations=3)
    demo = pq_demo_codebook(m, k, 16)

    # quantization error proxy: ADC distance of each vector to ITS OWN
    # codes equals the squared distance to its reconstruction
    def total_self_distance(cb):
        q_rows = emb.limit(20).collect()
        total = 0.0
        enc = {
            r["vec_id"]: r["codes"]
            for r in emb.select(
                "vec_id", pq_encode("embedding", cb).alias("codes")
            ).collect()
        }
        for r in q_rows:
            table = pq_adc_table([float(x) for x in r["embedding"]], cb)
            total += sum(table[s][enc[r["vec_id"]][s]] for s in range(m))
        return total

    assert total_self_distance(trained) < total_self_distance(demo)


def test_bucketed_band_table_joins_without_corpus_shuffle(spark):
    """The 100 TB incremental-dedup layout: the corpus band table stored
    bucketed by band_hash joins new-batch band hashes with NO exchange
    on the (huge) corpus side — only the (small) batch side shuffles."""
    from rag_content_spark.operators.dedup import minhash_band_table
    from rag_content_spark.sinks.parquet_sink import write_bucketed_index

    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon word{i} zeta eta theta") for i in range(50)],
        ["doc_id", "text"],
    )
    write_bucketed_index(
        minhash_band_table(corpus),
        "corpus_bands_bucketed",
        bucket_col="band_hash",
        n_buckets=8,
    )
    stored = spark.table("corpus_bands_bucketed")

    new = spark.createDataFrame(
        [(1001, "alpha beta gamma delta epsilon word1 zeta eta theta")],
        ["doc_id", "text"],
    )
    joined = minhash_band_table(new).join(
        stored.withColumnRenamed("doc_id", "corpus_id"),
        ["band", "band_hash"],
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # the bucketed (corpus) scan feeds the join with no Exchange above it:
    # exactly one shuffle in the whole plan — the new-batch side
    assert plan.count("Exchange") == 1, plan
    assert joined.count() >= 4  # shared-shingle bands collide
    spark.sql("DROP TABLE corpus_bands_bucketed")


def test_leakage_safe_split(spark):
    from rag_content_spark.operators.quality import leakage_safe_split

    # exact-dup mode: identical texts always land on the same side
    rows = [(i, f"text {i % 20}") for i in range(200)]  # 20 clusters x 10
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = leakage_safe_split(df, val_fraction=0.3).collect()
    side = {}
    for r in out:
        key = r["text"]
        assert side.setdefault(key, r["split"]) == r["split"], key
    assert {r["split"] for r in out} == {"train", "val"}

    # near-dup mode: supplied pairs glue clusters across different texts
    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "alpha variant"), (3, "unrelated")],
        ["doc_id", "text"],
    )
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    got = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(docs, 0.5, dup_pairs=pairs).collect()
    }
    assert got[1] == got[2]  # the near-dup pair never straddles the split


def test_interleave_manifest_ratios(spark):
    from rag_content_spark.operators.packing import interleave_manifest

    rows = [(i, "web") for i in range(30)] + [(100 + i, "code") for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = interleave_manifest(df, {"web": 3.0, "code": 1.0}).collect()
    order = [r["source"] for r in sorted(out, key=lambda r: r["position"])]
    assert len(order) == 40
    # every prefix holds web:code close to 3:1 (weighted round-robin,
    # not blocks): after any 4k steps, exactly 3k web and k code
    for k in (4, 8, 20, 40):
        prefix = order[:k]
        assert abs(prefix.count("web") - 3 * k / 4) <= 1
    # sources not in the weight map are dropped
    df2 = df.unionByName(
        spark.createDataFrame([(999, "junk")], ["doc_id", "source"])
    )
    out2 = interleave_manifest(df2, {"web": 3.0, "code": 1.0}).collect()
    assert all(r["source"] != "junk" for r in out2) and len(out2) == 40


def test_interleave_manifest_sharded(spark):
    from rag_content_spark.operators.packing import interleave_manifest

    rows = [(i, "a" if i % 2 else "b", i % 4) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "shard"])
    out = interleave_manifest(
        df, {"a": 1.0, "b": 1.0}, shard_col="shard"
    ).collect()
    # positions restart per shard -> parallel windows, no global order
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["position"])
    for shard, positions in by_shard.items():
        assert sorted(positions) == list(range(1, len(positions) + 1))


def test_snapshot_diff_statuses(spark):
    from rag_content_spark.operators.rollup import snapshot_diff

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(2, "beta"), (3, "gamma CHANGED"), (4, "delta")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert out == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_pagerank_checkpoint_invariant(spark, monkeypatch):
    # localCheckpoint is purely physical: ranks must be bit-identical
    # with and without lineage cuts (exact integer arithmetic), and the
    # r12 single-task numpy path must match the distributed
    # join/aggregate path bit for bit on the same graph (duplicate
    # edges weight contributions; node 5 is dangling-source-only)
    import rag_content_spark.operators.graph as G
    from rag_content_spark.operators.graph import pagerank_fixed

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (5, 1), (5, 1)],
        ["src", "dst"],
    )
    fast = {
        r["node"]: r["rank6"]
        for r in pagerank_fixed(edges, iters=12, checkpoint_every=0).collect()
    }
    monkeypatch.setattr(G, "_PR_SINGLE_TASK_MAX_EDGES", -1)
    plain = {
        r["node"]: r["rank6"]
        for r in pagerank_fixed(edges, iters=12, checkpoint_every=0).collect()
    }
    cut = {
        r["node"]: r["rank6"]
        for r in pagerank_fixed(edges, iters=12, checkpoint_every=5).collect()
    }
    assert plain == cut == fast


def test_triangle_counts_known_graph(spark):
    """K4 (every node in C(3,2)=3 triangles) + a pendant edge (no
    triangles) + duplicate/reversed/self-loop edges that must collapse."""
    from rag_content_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = k4 + [(3, 2), (2, 3), (1, 1), (4, 5)]  # noise: dup/rev/self/pendant
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_counts_triangle_free(spark):
    from rag_content_spark.operators.graph import triangle_counts

    # a path graph has no triangles
    df = spark.createDataFrame([(i, i + 1) for i in range(6)], ["src", "dst"])
    assert triangle_counts(df).collect() == []


def test_triangle_counts_wedge_salt_equality(spark):
    """The skew mitigation is output-invariant: salted wedge join ==
    unsalted on a graph with a hub (star + K4)."""
    from rag_content_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    star = [(0, i) for i in range(10, 40)]  # hub at node 0
    extra = [(10, 11), (11, 12), (10, 12)]  # one triangle off the hub
    df = spark.createDataFrame(k4 + star + extra, ["src", "dst"])
    base = sorted(map(tuple, triangle_counts(df).collect()))
    salted = sorted(
        map(tuple, triangle_counts(df, wedge_salt=8).collect())
    )
    assert base == salted and len(base) > 0
