"""End-to-end ANN flows: IVF with trained centroids; multi-probe LSH."""

from pyspark.sql import functions as F

from rag_content_spark.operators.kmeans import kmeans
from rag_content_spark.operators.similarity import (
    lsh_signature,
    probe_sequence,
    top_k,
    top_k_multiprobe,
)


def test_ivf_with_trained_centroids(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    seeds = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") % 100 == 0).orderBy("vec_id").collect()
    ]
    centroids, assigned = kmeans(emb, seeds, iterations=2)
    # every vector assigned; cells are non-trivial
    counts = {r["centroid_id"]: r["n"] for r in assigned.groupBy("centroid_id").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == emb.count()
    assert len(counts) > 1
    # probing the query's own cell finds the query vector itself
    qv = list(emb.filter(F.col("vec_id") == 3).collect()[0]["embedding"])
    probed = assigned.filter(
        F.col("centroid_id")
        == assigned.filter(F.col("vec_id") == 3).collect()[0]["centroid_id"]
    )
    hits = top_k(probed.select("vec_id", "embedding"), qv, k=1).collect()
    assert hits[0]["vec_id"] == 3


def test_multiprobe_improves_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    bits = 6
    bucketed = emb.withColumn(
        "bucket", lsh_signature("embedding", bits=bits, dim=64)
    ).cache()
    qv = list(emb.filter(F.col("vec_id") == 11).collect()[0]["embedding"])
    qbucket = bucketed.filter(F.col("vec_id") == 11).collect()[0]["bucket"]
    exact = {r["vec_id"] for r in top_k(emb, qv, k=10).collect()}

    def recall(n_probes):
        probes = probe_sequence(qbucket, bits, n_probes)
        got = {
            r["vec_id"]
            for r in top_k_multiprobe(bucketed, qv, probes, k=10).collect()
        }
        return len(got & exact) / 10

    r1, r7 = recall(1), recall(7)
    assert r7 >= r1  # more probes never hurt recall
    assert 11 in {
        r["vec_id"] for r in top_k_multiprobe(bucketed, qv, [qbucket], k=10).collect()
    }


def test_bucket_partitioned_index_prunes(spark, tmp_path):
    """The 100 TB ANN layout: index parquet PARTITIONED BY lsh bucket;
    probing reads only the probed partitions (partition pruning visible
    in the scan)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    bucketed = emb.withColumn("bucket", lsh_signature("embedding", bits=4, dim=64))
    path = str(tmp_path / "ann_index")
    bucketed.write.partitionBy("bucket").parquet(path)
    index = spark.read.parquet(path)
    probed = index.filter(F.col("bucket").isin([0, 1, 2]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bucket" in plan.split(
        "PartitionFilters:"
    )[1][:200]
    # pruned scan returns exactly the probed buckets
    assert set(
        r["bucket"] for r in probed.select("bucket").distinct().collect()
    ) <= {0, 1, 2}


def test_pq_rerank_exact_refinement(spark):
    # two-stage refine: the exact re-rank can only improve on ADC order,
    # and the self-match (vec_id 5's own vector) must rank first with
    # exact distance 0; stage 2 joins via broadcast (plan check)
    from rag_content_spark.functions.vector import pq_demo_codebook
    from rag_content_spark.operators.similarity import pq_rerank_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    qv = list(emb.filter(F.col("vec_id") == 5).collect()[0]["embedding"])
    cb = pq_demo_codebook(4, 8, 16)
    out = pq_rerank_topk(emb, cb, qv, k=5, shortlist_factor=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    rows = out.collect()
    assert rows[0]["vec_id"] == 5 and rows[0]["exact"] == 0.0
    assert [r["exact"] for r in rows] == sorted(r["exact"] for r in rows)


def test_trained_codebook_improves_rerank_recall(spark):
    # the pq_rerank_recall eval is meaningful: training the codebook on
    # the corpus lifts shortlist recall well above the untrained demo one
    from rag_content_spark.functions.vector import (
        pq_demo_codebook,
        train_pq_codebook,
    )
    from rag_content_spark.operators.similarity import pq_rerank_topk, top_k

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    qv = list(emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"])
    exact = {r["vec_id"] for r in top_k(emb, qv, k=10, metric="l2").collect()}

    def recall(cb):
        got = {
            r["vec_id"]
            for r in pq_rerank_topk(emb, cb, qv, k=10, shortlist_factor=4).collect()
        }
        return len(got & exact) / 10.0

    trained = train_pq_codebook(emb, m=4, k=8)
    r_demo = recall(pq_demo_codebook(4, 8, 16))
    r_trained = recall(trained)
    assert r_trained > r_demo
    assert r_trained >= 0.5


def test_srp_reduce_preserves_neighborhoods(spark):
    """JL sanity: planted near-duplicate pairs stay closer in reduced
    space than unrelated vectors (in aggregate)."""
    import numpy as np
    from rag_content_spark.operators.similarity import srp_reduce

    rng = np.random.RandomState(7)
    base = rng.randn(20, 64)
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in v + 0.01 * rng.randn(64)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: np.array(r["reduced"]) for r in srp_reduce(df, out_dim=8).collect()}
    twin_d = np.mean(
        [np.linalg.norm(out[2 * i] - out[2 * i + 1]) for i in range(20)]
    )
    rand_d = np.mean(
        [np.linalg.norm(out[2 * i] - out[(2 * i + 2) % 40]) for i in range(20)]
    )
    assert twin_d < rand_d / 3


def test_srp_rerank_matches_exact_topk(spark):
    """With shortlist == corpus size the two-stage result IS the exact
    top-k (the re-rank stage is exact)."""
    import numpy as np
    from rag_content_spark.operators.similarity import srp_rerank_topk, top_k

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(64)]) for i in range(200)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = [float(x) for x in rng.randn(64)]
    exact = [r["vec_id"] for r in top_k(df, q, k=10).collect()]
    full = [r["vec_id"] for r in srp_rerank_topk(df, q, k=10, shortlist=200).collect()]
    assert full == exact


def test_srp_shortlist_recall_on_clustered_data(spark):
    """On clustered data (the real embedding shape) the reduced-space
    shortlist captures the true neighbors: 20 planted near-dups of the
    query must all reach the shortlist stage."""
    import numpy as np
    from rag_content_spark.operators.similarity import srp_rerank_topk

    rng = np.random.RandomState(3)
    center = rng.randn(64) * 3
    rows = [(i, [float(x) for x in center + 0.1 * rng.randn(64)]) for i in range(20)]
    rows += [(i, [float(x) for x in rng.randn(64)]) for i in range(20, 400)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = [float(x) for x in center]
    got = [r["vec_id"] for r in srp_rerank_topk(df, q, k=10, shortlist=40, out_dim=16).collect()]
    assert set(got) <= set(range(20)) and len(got) == 10


def test_lsh_signature_exact_np_matches_fold(spark):
    """The fold-order numpy signature must equal the interpreted
    per-bit folds exactly (every bucket id identical)."""
    import numpy as np

    from rag_content_spark.operators.similarity import (
        lsh_signature,
        lsh_signature_exact_np,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rng = np.random.RandomState(13)
    extra = spark.createDataFrame(
        [(100000 + i, [float(x) for x in rng.randn(64) * 1e3])
         for i in range(50)],
        ["vec_id", "embedding"],
    ).select("vec_id", F.col("embedding").cast("array<float>"))
    df = emb.select("vec_id", "embedding").unionByName(extra)
    a = {
        r["vec_id"]: r["bucket"]
        for r in df.select(
            "vec_id",
            lsh_signature("embedding", bits=16, dim=64, seed="srp").alias(
                "bucket"
            ),
        ).collect()
    }
    b = {
        r["vec_id"]: r["bucket"]
        for r in lsh_signature_exact_np(df, bits=16, dim=64, seed="srp")
        .select("vec_id", "bucket")
        .collect()
    }
    assert a == b


def test_srp_query_scores_np_bit_exact(spark):
    """The vectorized shortlist scorer must replay the interpreted fold
    chain (srp_reduce + dot(_red, rq)) BIT-identically, raw doubles."""
    import struct

    import numpy as np
    from pyspark.sql import functions as F

    from rag_content_spark.functions.vector import dot
    from rag_content_spark.operators.similarity import (
        reduce_query,
        srp_query_scores_np,
        srp_reduce,
    )

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(64) * 10]) for i in range(80)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = [float(x) for x in rng.randn(64)]
    rq = reduce_query(q, 16)
    red = srp_reduce(df, 16, 64, "red", "embedding", "_red")
    a = {
        r["vec_id"]: r["s"]
        for r in red.select(
            "vec_id",
            dot(F.col("_red"), F.array(*[F.lit(v) for v in rq]), 16).alias("s"),
        ).collect()
    }
    b = {
        r["vec_id"]: r["_rscore"]
        for r in srp_query_scores_np(df, q, out_dim=16).collect()
    }
    assert a.keys() == b.keys()
    for i in a:
        assert struct.pack("<d", a[i]) == struct.pack("<d", b[i])


def test_persisted_ann_index_roundtrip(spark, tmp_path):
    """The parquet-native IVFPQ: build writes cell-partitioned parquet +
    sidecars; query probes driver-side, scans ONLY probed partitions
    (plan check), ADC-shortlists and exact-refines. Self-match must
    rank first at distance 0; full-probe recall equals exact."""
    from pyspark.sql import functions as F

    from rag_content_spark.operators.similarity import top_k
    from rag_content_spark.plans.ann_index import (
        build_ann_index,
        query_ann_index,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    d = str(tmp_path / "annix")
    meta = build_ann_index(emb, d, nlist=8, m=4, k=16)
    assert meta["n_vectors"] == emb.count() and meta["nlist"] == 8

    qv = list(emb.filter(F.col("vec_id") == 3).collect()[0]["embedding"])
    res = query_ann_index(spark, d, qv, topk=5, n_probe=2)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters:"
    )[1][:200]
    rows = res.collect()
    assert rows[0]["vec_id"] == 3 and rows[0]["exact"] == 0.0

    # probing every cell: recall limited only by the ADC shortlist —
    # the refined head must match exact and recall@5 stay high
    full = [
        r["vec_id"]
        for r in query_ann_index(spark, d, qv, topk=5, n_probe=8).collect()
    ]
    exact = [r["vec_id"] for r in top_k(emb, qv, k=5, metric="l2").collect()]
    assert full[:3] == exact[:3]
    assert len(set(full) & set(exact)) >= 4


def test_ann_index_incremental_add(spark, tmp_path):
    # FAISS add() shape: frozen model, appended postings — added vectors
    # are findable (their cell prunes correctly), existing postings are
    # untouched, meta row count advances
    import os

    from pyspark.sql import functions as F

    from rag_content_spark.plans.ann_index import (
        add_to_ann_index,
        build_ann_index,
        load_ann_meta,
        query_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    d = str(tmp_path / "idx")
    meta0 = build_ann_index(old, d, nlist=8, m=4, k=16)
    files_before = {
        os.path.join(r, f)
        for r, _, fs in os.walk(os.path.join(d, "data"))
        for f in fs
        if f.endswith(".parquet")
    }
    meta1 = add_to_ann_index(new, d)
    assert meta1["n_vectors"] == meta0["n_vectors"] + new.count()
    # existing segment files untouched (append-only: the add landed in
    # its own staged segment and claimed a commit)
    files_after = {
        os.path.join(r, f)
        for r, _, fs in os.walk(os.path.join(d, "data"))
        for f in fs
        if f.endswith(".parquet")
    }
    assert files_before <= files_after and len(files_after) > len(files_before)
    # an added vector is its own exact nearest neighbor at full probe
    probe = new.orderBy("vec_id").limit(1).collect()[0]
    got = query_ann_index(
        spark, d, list(probe["embedding"]), topk=1, n_probe=8, refine=True
    ).collect()
    assert got[0]["vec_id"] == probe["vec_id"]
    # the index is read partition-pruned: querying with n_probe=1 reads
    # a strict subset of cells (plan shows partition filters)
    df = query_ann_index(
        spark, d, list(probe["embedding"]), topk=1, n_probe=1, refine=False
    )
    assert df.count() >= 0  # smoke: pruned path executes


def test_compact_ann_index_preserves_results(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from rag_content_spark.plans.ann_index import (
        add_to_ann_index,
        build_ann_index,
        compact_ann_index,
        query_ann_index,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    d = str(tmp_path / "idx")
    build_ann_index(emb.filter(F.col("vec_id") % 2 == 0), d, nlist=8, m=4, k=16)
    add_to_ann_index(emb.filter(F.col("vec_id") % 2 == 1), d)
    qv = list(emb.filter(F.col("vec_id") == 3).collect()[0]["embedding"])
    before = [
        (r["vec_id"], r["exact"])
        for r in query_ann_index(spark, d, qv, topk=5, n_probe=8).collect()
    ]
    stats = compact_ann_index(spark, d)
    assert stats["n_files_after"] < stats["n_files_before"]
    after = [
        (r["vec_id"], r["exact"])
        for r in query_ann_index(spark, d, qv, topk=5, n_probe=8).collect()
    ]
    assert after == before and after[0][0] == 3


def test_pq_adc_scan_exact_np_bit_identical_to_folds(spark):
    # r11: the one-pass vectorized encode+ADC must reproduce the
    # declarative pq_encode codes AND the raw pq_adc_score doubles
    # bit-for-bit (same IEEE accumulation order, first-min argmin).
    import struct

    from pyspark.sql import functions as F

    from rag_content_spark.functions.vector import (
        pq_adc_scan_exact_np,
        pq_adc_score,
        pq_adc_table,
        pq_demo_codebook,
        pq_encode,
    )

    cb = pq_demo_codebook(4, 8, 4)
    query = [((i * 7) % 13 - 6) / 6.0 for i in range(16)]
    table = pq_adc_table(query, cb)
    rows = []
    rnd = 7
    for vid in range(300):
        rnd = (rnd * 1103515245 + 12345) % (1 << 31)
        # include exact-duplicate subvectors so argmin ties exist
        vec = [((rnd >> (j % 16)) % 23 - 11) / 11.0 for j in range(16)]
        rows.append((vid, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    old = {
        r.vec_id: (tuple(r.codes), r.adc)
        for r in df.select(
            "vec_id",
            pq_encode("embedding", cb).alias("codes"),
            pq_adc_score(pq_encode("embedding", cb), table).alias("adc"),
        ).collect()
    }
    new = {
        r.vec_id: (tuple(r._codes), r._adc)
        for r in pq_adc_scan_exact_np(df, cb, table).collect()
    }
    assert set(old) == set(new)
    for k in old:
        assert old[k][0] == new[k][0], k
        assert struct.pack("d", old[k][1]) == struct.pack("d", new[k][1]), k
