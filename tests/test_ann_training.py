"""ANN model training: the driver-side Lloyd's over one bounded hash
sample (operators/kmeans.training_sample) behind build_ann_index — its
input checks, its recorded sample size, its independence of the input
partitioning, the sample's byte budget, and the build's job budget."""

import json
import os
import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from rag_content_spark.operators import kmeans as km
from rag_content_spark.plans.ann_index import build_ann_index



def _emb(spark, n, dim):
    """(vec_id, embedding ARRAY<FLOAT>): seeded gaussian vectors."""
    import numpy as np

    X = np.random.default_rng(11).standard_normal((n, dim)).astype(np.float32)
    rows = [(i, [float(x) for x in X[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def emb500(spark, tmp_path_factory):
    """500 x 64-d float vectors read from parquet: the shape of the
    sf0.001 embeddings table."""
    path = str(tmp_path_factory.mktemp("emb") / "emb.parquet")
    _emb(spark, 500, 64).write.parquet(path)
    return spark.read.parquet(path)


@contextmanager
def _jobs(spark):
    """Spark job ids run inside the block, via a unique job group."""
    sc = spark.sparkContext
    group = f"ann-train-{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_build_fewer_vectors_than_k_raises(spark, tmp_path):
    with pytest.raises(ValueError, match=r"nlist=4 .*k=16.*n=10"):
        build_ann_index(_emb(spark, 10, 8), str(tmp_path / "a"), nlist=4, m=4, k=16)


def test_build_fewer_vectors_than_nlist_raises(spark, tmp_path):
    # enough rows for the codebook, too few for the cells meta.json records
    with pytest.raises(ValueError, match=r"nlist=12 .*k=8.*n=10"):
        build_ann_index(_emb(spark, 10, 8), str(tmp_path / "a"), nlist=12, m=4, k=8)


def test_build_dim_not_multiple_of_m_raises(spark, tmp_path):
    # dim 10 over m 4 would drop the last two dimensions from every code
    with pytest.raises(ValueError, match=r"dim=10, m=4"):
        build_ann_index(_emb(spark, 40, 10), str(tmp_path / "a"), nlist=2, m=4, k=8)
    assert not os.path.exists(tmp_path / "a" / "meta.json")


def test_sampled_model_records_train_points_and_ignores_partitioning(
    emb500, tmp_path, monkeypatch
):
    # 8 points per centroid of max(nlist, k) = 16: a 128-row sample of 500
    monkeypatch.setattr(km, "MAX_POINTS_PER_CENTROID", 8)
    emb, n = emb500, 500
    blobs = []
    for parts in (1, 7):
        d = str(tmp_path / f"p{parts}")
        meta = build_ann_index(emb.repartition(parts), d, nlist=4, m=4, k=16)
        assert meta["train_points"] == 128 and meta["n_vectors"] == n
        with open(os.path.join(d, "meta.json")) as f:
            assert json.load(f)["train_points"] == 128
        blobs.append(
            [
                open(os.path.join(d, name), "rb").read()
                for name in ("codebook.json", "centroids.parquet")
            ]
        )
    assert blobs[0] == blobs[1]


def test_training_sample_holds_byte_budget(emb500, monkeypatch):
    emb = emb500
    ids, X, cap = km.training_sample(emb, 1)
    assert cap == 256 and X.shape == (256, 64)
    # 100 rows of 64 float64 values: the first gather (cap 256) nulls
    # every vector, the second takes the first 100 rows of the same order
    monkeypatch.setattr(km, "MAX_SAMPLE_BYTES", 100 * 64 * 8)
    ids2, X2, cap2 = km.training_sample(emb, 1)
    assert cap2 == 100 and X2.shape == (100, 64)
    assert ids2.to_pylist() == ids.to_pylist()[:100]
    assert (X2 == X[:100]).all()


def test_build_ann_index_job_budget(spark, emb500, tmp_path):
    with _jobs(spark) as ids:
        meta = build_ann_index(emb500, str(tmp_path / "a"), nlist=4, m=4, k=16)
    # the sample gather and the index write; no count, the sample is whole
    assert len(ids) <= 3, ids
    assert meta["train_points"] == meta["n_vectors"] == 500


def test_kmeans_trains_on_sample_only(emb500, monkeypatch):
    """kmeans() trains on the same bounded sample: with 2 points per
    centroid its centers are the means of sample rows, not of the corpus."""
    import numpy as np

    monkeypatch.setattr(km, "MAX_POINTS_PER_CENTROID", 2)
    emb = emb500
    by_id = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.orderBy("vec_id").limit(3).collect()
    ]
    # seeds given in descending id order come back in that order
    centroids, assigned = km.kmeans(emb, by_id[::-1], iterations=1)
    _ids, X, _cap = km.training_sample(emb, 3)
    assert X.shape[0] == 6
    want = km.lloyd(X, [v for _, v in by_id], 1, ids=[c for c, _ in by_id])
    assert [c for c, _ in centroids] == [c for c, _ in by_id[::-1]]
    assert np.array_equal(np.array([v for _, v in centroids[::-1]]), want)
    assert assigned.filter(F.col("centroid_id").isNull()).count() == 0
