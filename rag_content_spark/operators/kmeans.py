"""Lloyd's k-means over an embedding column (north-star: trains real IVF
centroids and, per subspace, the PQ codebook of plans/ann_index.py).

Training runs on the driver, as FAISS trains: one Spark job gathers a
bounded, deterministic sample (:func:`training_sample`), then numpy runs
every Lloyd iteration over it (:func:`lloyd`). A distributed Lloyd's
pays one broadcast crossJoin, an n x dim ``posexplode`` shuffle and a
collect per iteration; on a small corpus that is all scheduling, and on
a large one FAISS's ``max_points_per_centroid`` shows the model does not
need more than a few hundred points per centroid. Only the final
assignment of every vector runs in Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rag_content_spark.operators.similarity import assign_ivf_cells, nearest_cells_np

# FAISS's max_points_per_centroid: the sample holds at most this many
# rows per centroid trained
MAX_POINTS_PER_CENTROID = 256
# driver budget for the sample as a float64 matrix (cap x dim values)
MAX_SAMPLE_BYTES = 256 << 20


def training_sample(
    df: DataFrame,
    n_centroids: int,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
):
    """``(ids, X, cap)``: the first ``cap`` rows of ``df`` in
    ``(xxhash64(id), id)`` order, gathered in one job.

    ``ids`` is a pyarrow array and ``X`` a float64 ``(rows, dim)`` matrix,
    both in sample order. ``cap`` is ``MAX_POINTS_PER_CENTROID *
    n_centroids`` rows, held to ``MAX_SAMPLE_BYTES`` of float64 values;
    fewer rows than ``cap`` means the sample is the whole input. The
    ``(hash, id)`` key is a total order, so the sample is the same on any
    partitioning, and ``orderBy().limit()`` compiles to
    TakeOrderedAndProject: a per-partition top-``cap`` merged on the
    driver, never a corpus-sized sort.

    The dimension is unknown before the gather, so a vector wider than
    the budget allows at this ``cap`` is gathered as NULL (the gather
    stays inside the budget); the sample is then taken again at the cap
    the real dimension allows.
    """
    import numpy as np

    max_values = MAX_SAMPLE_BYTES // 8
    key = F.xxhash64(F.col(id_col).cast("string"), F.lit("ann-seed"))
    size = F.size(embedding_col)

    def gather(cap: int):
        return (
            df.select(
                id_col,
                F.when(size <= max_values // cap, F.col(embedding_col)).alias(
                    embedding_col
                ),
                size.alias("_dim"),
            )
            .orderBy(key, id_col)
            .limit(cap)
            .toArrow()
        )

    cap = MAX_POINTS_PER_CENTROID * max(1, n_centroids)
    t = gather(cap)
    dim = max(t.column("_dim").to_pylist(), default=0)
    if dim * cap > max_values:
        cap = max(1, max_values // dim)
        t = gather(cap)
    vecs = t.column(embedding_col).combine_chunks()
    X = vecs.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    return t.column(id_col).combine_chunks(), X.reshape(len(vecs), dim), cap


def lloyd(X, C, iterations: int, ids=None):
    """``iterations`` Lloyd steps over the rows of ``X`` from the centers
    ``C``; returns the new ``(len(C), dim)`` centers.

    ``ids`` (ascending; default ``0..len(C)-1``) name the centers: a row
    goes to the center first in ``(round(euclidean, 6), id)`` order, the
    order of :func:`assign_ivf_cells`. A center is the mean of its rows,
    summed in sample order; an empty cluster keeps its center.
    """
    import numpy as np

    X = np.ascontiguousarray(X, dtype=np.float64)
    C = np.array(C, dtype=np.float64)
    ids = np.arange(len(C)) if ids is None else np.asarray(ids, dtype=np.int64)
    for _ in range(iterations if len(X) else 0):
        cell = np.searchsorted(
            ids, nearest_cells_np(X, C, ids, (C * C).sum(axis=1), 1)[:, 0]
        )
        counts = np.bincount(cell, minlength=len(C))
        hit = counts > 0
        starts = (np.cumsum(counts) - counts)[hit]
        sums = np.add.reduceat(X[np.argsort(cell, kind="stable")], starts, axis=0)
        C[hit] = sums / counts[hit, None]
    return C


def kmeans(
    index: DataFrame,
    initial_centroids: list[tuple[int, list[float]]],
    iterations: int = 5,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """Run ``iterations`` Lloyd steps over :func:`training_sample`;
    returns (centroids in the order given, lazy assignment DF).

    Deterministic given deterministic seeds (ties in assignment resolve
    to the lower centroid id). Empty clusters keep their previous center.
    """
    import numpy as np

    cids = [int(c) for c, _ in initial_centroids]
    order = sorted(range(len(cids)), key=cids.__getitem__)
    C = np.array([initial_centroids[i][1] for i in order], dtype=np.float64)
    if iterations > 0:
        _ids, X, _cap = training_sample(
            index, len(cids), embedding_col=embedding_col, id_col=id_col
        )
        C = lloyd(X, C, iterations, ids=[cids[i] for i in order])
    vec = dict(zip(order, C.tolist()))
    centroids = [(cids[i], vec[i]) for i in range(len(cids))]
    assigned = assign_ivf_cells(
        index, centroids, embedding_col=embedding_col, id_col=id_col
    )
    return centroids, assigned


def inertia(
    assigned: DataFrame,
    centroids: list[tuple[int, list[float]]],
    embedding_col: str = "embedding",
) -> float:
    """Sum of squared distances to assigned centers (monotonically
    non-increasing across Lloyd iterations — the convergence check)."""
    from rag_content_spark.functions.vector import euclidean

    cent = assigned.sparkSession.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in centroids],
        ["centroid_id", "_cv"],
    )
    d = euclidean(F.col(embedding_col), F.col("_cv"))
    return (
        assigned.join(F.broadcast(cent), "centroid_id")
        .agg(F.sum(d * d).alias("inertia"))
        .collect()[0]["inertia"]
    )
