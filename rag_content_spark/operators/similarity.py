"""Vector similarity / top-k retrieval (SURVEY §2.6) + ANN extensions.

Reference query surface: exact FAISS IndexFlatIP top-k over every vector
(scripts/query_rag.py:66-67), IndexFlatL2 for the llama-stack store
(document_processor.py:304), score-threshold gating (query_rag.py:81-94),
node lookup by id (query_rag.py:37-64).

Spark-first design:
- single query  : the query vector is an array literal in the plan (a
  constant, not a broadcast; built in one call by
  functions.vector.double_array_lit), scored with
  functions.vector.dot, TakeOrderedAndProject for the limit. One scan,
  no shuffle — this is the plan you want at 100 TB.
- batch queries : crossJoin(broadcast(queries)) + per-query window top-k.
- IVF           : assign vectors to nearest centroid once (a narrow map),
  partition-prune the scan to the probed centroid's cluster at query time.
- LSH           : sign-random-projection bucket key; candidates = bucket
  join (shuffle on the 64-bit key, not O(n^2)).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from rag_content_spark.functions.hashing import stable_hash64
from rag_content_spark.functions.vector import (
    cosine,
    dot,
    double_array_lit,
    euclidean,
)


def top_k(
    index: DataFrame,
    query_vec: list[float],
    k: int = 1,
    metric: str = "ip",
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int | None = 6,
) -> DataFrame:
    """Exact top-k retrieval for one query (Q2).

    metric='ip' (inner product == cosine on normalized vectors — the FAISS
    IndexFlatIP path) or 'l2' (IndexFlatL2: smaller distance is better).
    Deterministic total order: (score desc|asc, id) so ties are stable.
    """
    q = double_array_lit(query_vec)
    dim = len(query_vec)
    if metric == "ip":
        score = dot(F.col(embedding_col), q, dim)
        order = [F.desc("score"), F.asc(id_col)]
    elif metric == "cosine":
        score = cosine(F.col(embedding_col), q, dim)
        order = [F.desc("score"), F.asc(id_col)]
    elif metric == "l2":
        score = euclidean(F.col(embedding_col), q, dim)
        order = [F.asc("score"), F.asc(id_col)]
    else:
        raise ValueError(f"unknown metric {metric}")
    if round_to is not None:
        score = F.round(score, round_to)
    return index.withColumn("score", score).orderBy(*order).limit(k)


def top_k_batch(
    index: DataFrame,
    queries: DataFrame,
    k: int = 5,
    metric: str = "ip",
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_to: int | None = 6,
    dim: int | None = None,
) -> DataFrame:
    """Top-k for a batch of queries: broadcast the (small) query set
    against the (huge) index, rank per query with a TWO-PHASE top-k
    whose phase 1 is EXCHANGE-FREE.

    Phase 1 is a narrow pipeline: broadcast crossJoin -> JVM-codegen'd
    score -> project to (query_id, id, score) -> per-partition top-k in
    a ``mapInPandas`` running-heap (selection only — Python never does
    float arithmetic, so the surviving scores are bit-identical to the
    JVM-rounded ones). No shuffle touches the n_index x n_queries cross
    product; each input partition emits at most k rows per query. The
    previous plan's phase-1 window on (query_id, spark_partition_id())
    had even keys but still EXCHANGED all n_index x n_queries scored
    rows once (20 queries x 1 B vectors = a 20 B-row shuffle) purely to
    rank keys that were already partition-local.

    Phase 2's global window then sees at most k x n_parts rows per
    query, so the only shuffle in the whole plan is tiny at any index
    size. Because the per-query order (score, id) is total,
    local-then-global top-k is exactly equal to the global top-k. Pass
    ``dim`` for codegen-unrolled scoring (see functions.vector.dot).

    Returns the narrow (query_id, id, score, rank) result — at 100 TB
    you carry ids through the top-k and join payload columns back on
    ``id_col``, never the payload through the ranking.
    """
    import pandas as pd

    import pyspark.sql.types as T

    reserved = {"score", "rank"}
    clash = reserved & (set(index.columns) | set(queries.columns))
    if clash:
        raise ValueError(
            f"top_k_batch reserves column names {sorted(reserved)}; "
            f"rename input columns {sorted(clash)} first"
        )
    score = dot(F.col(embedding_col), F.col(query_vec_col), dim)
    if metric == "l2":
        score = euclidean(F.col(embedding_col), F.col(query_vec_col), dim)
        asc = True
        order = [F.asc("score"), F.asc(id_col)]
    else:
        asc = False
        order = [F.desc("score"), F.asc(id_col)]
    if round_to is not None:
        score = F.round(score, round_to)
    scored = index.crossJoin(F.broadcast(queries)).select(
        F.col(query_id_col), F.col(id_col), score.alias("score")
    )

    out_schema = T.StructType(
        [
            T.StructField(query_id_col, queries.schema[query_id_col].dataType),
            T.StructField(id_col, index.schema[id_col].dataType),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def _local_topk(batches):
        # running top-k per query across the partition's Arrow batches:
        # keep <= k rows per query after each batch, so memory is
        # O(k * n_queries + batch), never the partition's row count
        buf = None
        for pdf in batches:
            cur = pdf if buf is None else pd.concat((buf, pdf))
            cur = cur.sort_values(["score", id_col], ascending=[asc, True])
            buf = cur.groupby(query_id_col, sort=False).head(k)
        if buf is not None and len(buf):
            yield buf

    local = scored.mapInPandas(_local_topk, schema=out_schema)
    w = Window.partitionBy(query_id_col).orderBy(*order)
    return local.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def node_lookup(index: DataFrame, node_id, id_col: str = "chunk_id") -> DataFrame:
    """Q3: point lookup by id (reference query_rag.py:37-64). With the
    canonical Parquet index sorted/bucketed by id this becomes a
    partition-pruned scan."""
    return index.filter(F.col(id_col) == F.lit(node_id))


# ---- ANN extensions (north-star scale path) --------------------------------


def nearest_centroid_expr(
    embedding_col: Column | str,
    centroids: list[tuple[int, list[float]]],
    round_to: int = 6,
) -> Column:
    """Argmin centroid id as a pure fold over a centroid literal array.

    Centroids are small by definition (k-means output), so embedding them
    as literals makes assignment a NARROW map — no crossJoin, no window,
    no shuffle (the window-argmin alternative shuffles n_vectors x nlist
    rows, which is exactly what breaks at 100 TB). Ties resolve to the
    earlier centroid in the list; pass centroids sorted by id for the
    (distance, id) order an oracle uses.
    """
    c = F.col(embedding_col) if isinstance(embedding_col, str) else embedding_col
    arr = F.array(
        *[
            F.struct(
                F.lit(int(cid)).cast("bigint").alias("id"),
                double_array_lit(vec).alias("v"),
            )
            for cid, vec in centroids
        ]
    )
    init = F.struct(
        F.lit(float("inf")).alias("d"), F.lit(-1).cast("bigint").alias("id")
    )
    best = F.aggregate(
        arr,
        init,
        lambda acc, cen: F.when(
            F.round(euclidean(c, cen["v"]), round_to) < acc["d"],
            F.struct(
                F.round(euclidean(c, cen["v"]), round_to).alias("d"),
                cen["id"].alias("id"),
            ),
        ).otherwise(acc),
    )
    return best["id"]


def assign_ivf_cells(
    index: DataFrame,
    centroids: list[tuple[int, list[float]]],
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF build step: tag each vector with its nearest centroid.

    Shape: broadcast crossJoin against the (small) centroid set, then
    ``min_by`` under groupBy — the partial aggregation collapses each
    vector's nlist candidate rows map-side, so the shuffle carries only
    n_vectors rows (never n x nlist; a window-argmin would shuffle the
    full cross product).

    Why not :func:`nearest_centroid_expr` (zero-shuffle narrow fold)?
    Spark evaluates higher-order-function lambdas interpreted, ~10x
    slower per row than this codegen'd hash aggregate (measured 6.3 s vs
    0.9 s on 2000x64-d, nlist=40); the fold only wins when a shuffle is
    impossible. At scale, write the result partitioned by cell so
    query-time probes prune to ~1/nlist of data.
    """
    cent = index.sparkSession.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in centroids],
        ["centroid_id", "centroid_vec"],
    )
    dim = len(centroids[0][1]) if centroids else None
    d = F.round(euclidean(F.col(embedding_col), F.col("centroid_vec"), dim), 6)
    return (
        index.crossJoin(F.broadcast(cent))
        .groupBy(id_col, embedding_col)
        .agg(
            F.min_by(
                "centroid_id", F.struct(d.alias("d"), F.col("centroid_id"))
            ).alias("centroid_id")
        )
    )


def srp_plane(seed: str, j: int, dim: int) -> list[float]:
    """Hyperplane j: component i is a deterministic pseudo-random value in
    [-1, 1) derived from md5(f"{seed}{j}:{i}") — the same value
    ``stable_hash64`` produces, computed driver-side so the plan carries
    plain float literals instead of 512 md5 expression nodes (which blew
    past codegen limits: 9.4 s -> sub-second at sf0.1)."""
    import hashlib

    out = []
    for i in range(dim):
        h = int(hashlib.md5(f"{seed}{j}:{i}".encode()).hexdigest()[:15], 16)
        out.append((h % 2000001) / 1000000.0 - 1.0)
    return out


def lsh_signature(
    embedding_col: Column | str = "embedding",
    bits: int = 16,
    dim: int = 64,
    seed: str = "srp",
) -> Column:
    """Sign-random-projection LSH bucket key (for cosine).

    Deterministic hyperplanes (see :func:`srp_plane`) — reproducible in
    any engine, no stored model. Returns a ``bits``-bit integer bucket id.
    """
    c = F.col(embedding_col) if isinstance(embedding_col, str) else embedding_col
    sig = F.lit(0).cast("bigint")
    for j in range(bits):
        # fold over a literal plane array: an unrolled dim-64 expression
        # per bit overflows codegen method limits and drops the whole
        # stage to interpreted (measured slower than the fold island)
        plane = double_array_lit(srp_plane(seed, j, dim))
        proj = F.aggregate(
            F.zip_with(c, plane, lambda x, r: x.cast("double") * r),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        sig = sig + F.when(proj >= 0, F.lit(1 << j).cast("bigint")).otherwise(0)
    return sig


def top_k_multiprobe(
    index_with_buckets: DataFrame,
    query_vec: list[float],
    probe_buckets: list[int],
    k: int = 10,
    bucket_col: str = "bucket",
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Multi-probe LSH search: scan only the probed buckets (the query's
    own bucket plus its nearest neighbors by signature distance), exact
    top-k within them. With the index WRITTEN partitioned by bucket this
    is partition pruning — the 100 TB query path reads ~probes/2^bits of
    the data."""
    cand = index_with_buckets.filter(F.col(bucket_col).isin(probe_buckets))
    return top_k(
        cand, query_vec, k=k, metric="ip", embedding_col=embedding_col, id_col=id_col
    )


def probe_sequence(bucket: int, bits: int, n_probes: int) -> list[int]:
    """Probe order: the bucket itself, then all buckets at Hamming
    distance 1 (single sign-bit flips), truncated to n_probes — the
    standard multi-probe heuristic for sign-random-projection LSH."""
    probes = [bucket] + [bucket ^ (1 << j) for j in range(bits)]
    return probes[:n_probes]


def ivf_pq_topk(
    index: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebook: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    vectorized_assign: bool = False,
) -> DataFrame:
    """IVF coarse quantizer + PQ ADC scan — the canonical billion-scale
    ANN read path (FAISS IVFPQ shape, Jégou et al. 2011).

    Build side (at 100 TB: run once, store partitioned by cell):
    ``assign_ivf_cells`` tags each vector with its nearest centroid and
    ``pq_encode`` compresses it to m sub-codes — the stored index is
    (id, cell, m bytes), ~dim*4/m x smaller than raw vectors.

    Query side: rank centroids against the query on the driver (nlist
    floats — O(nlist*dim)), probe the best ``n_probe`` cells (partition
    pruning when the index is stored by cell), score candidates with m
    table lookups each (no full-vector math), exact top-k on the ADC
    scores. Ties and scores are rounded/ordered deterministically.
    """
    import math

    from rag_content_spark.functions.vector import (
        pq_adc_scan_exact_np,
        pq_adc_table,
    )

    def _l2(a: list[float], b: list[float]) -> float:
        return round(
            math.sqrt(sum((float(x) - float(y)) ** 2 for x, y in zip(a, b))), 6
        )

    probed = [
        cid
        for cid, _ in sorted(
            centroids, key=lambda c: (_l2(query_vec, c[1]), c[0])
        )[:n_probe]
    ]
    assign = assign_ivf_cells_np if vectorized_assign else assign_ivf_cells
    assigned = assign(
        index, centroids, embedding_col=embedding_col, id_col=id_col
    )
    table = pq_adc_table(query_vec, codebook)
    cand = assigned.filter(F.col("centroid_id").isin(probed))
    # r11: encode + ADC-score the probed cells in one vectorized pass
    # (bit-identical to the pq_encode/pq_adc_score folds — see
    # pq_adc_scan_exact_np; guide §4.2)
    return (
        pq_adc_scan_exact_np(
            cand,
            codebook,
            table,
            id_col=id_col,
            embedding_col=embedding_col,
            passthrough=["centroid_id"],
        )
        .select(
            F.col(id_col),
            F.col("centroid_id"),
            F.round("_adc", 6).alias("adc"),
        )
        .orderBy(F.asc("adc"), F.asc(id_col))
        .limit(k)
    )


def pq_rerank_topk(
    index: DataFrame,
    codebook: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    shortlist_factor: int = 4,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """Two-stage PQ search with exact refinement (the FAISS
    IndexRefineFlat shape: ADC shortlist, full-precision re-rank).

    Stage 1 ADC-scores the compact m-byte codes and reduces with
    TakeOrderedAndProject to a ``k * shortlist_factor`` shortlist — the
    scan touches only the code columns (~dim*4/m smaller than raw
    vectors) and nothing shuffles. Stage 2 broadcast-joins the tiny
    shortlist back and scores the TRUE vectors exactly — full-precision
    embeddings are fetched for a handful of rows, never the corpus.
    Quantization error can only cost shortlist membership; the returned
    ordering is exact. Returns (id, adc, exact) rows, best first.
    """
    from rag_content_spark.functions.vector import (
        pq_adc_scan_exact_np,
        pq_adc_table,
    )

    table = pq_adc_table(query_vec, codebook)
    # r11: one vectorized encode+ADC pass per Arrow batch instead of
    # m*k interpreted folds per row — bit-identical codes and raw adc
    # (pq_adc_scan_exact_np keeps the folds' accumulation order), same
    # round/ordering in Spark (guide §4.2; equality-pinned in
    # tests/test_ann.py).
    short = (
        pq_adc_scan_exact_np(
            index, codebook, table, id_col=id_col, embedding_col=embedding_col
        )
        .select(
            F.col(id_col), F.round("_adc", round_to).alias("adc")
        )
        .orderBy(F.asc("adc"), F.asc(id_col))
        .limit(k * shortlist_factor)
    )
    q = double_array_lit(query_vec)
    exact = F.round(
        euclidean(F.col(embedding_col), q, len(query_vec)), round_to
    )
    return (
        index.join(F.broadcast(short), id_col)
        .select(F.col(id_col), F.col("adc"), exact.alias("exact"))
        .orderBy(F.asc("exact"), F.asc(id_col))
        .limit(k)
    )


def nearest_cells_np(emb, cmat, cent_ids, cnorm, p: int):
    """Top-``p`` centroids per row under the exact total order
    ``(round(true_euclidean, 6), centroid_id)`` — the order the
    declarative operators and the DuckDB oracles use.

    Shortlists with the fast matmul expansion ``|x|^2 + |c|^2 - 2x.c``,
    then REFINES every candidate within a data-scaled margin of the
    p-th-smallest expansion distance using the cancellation-free
    difference form ``sqrt(sum((x-c)^2))``, rounded half-away-from-zero
    (``floor(d*1e6 + 0.5)`` — F.round / DuckDB round semantics, NOT
    numpy's banker's ``np.round``). The margin is
    ``1e-5 + 2*sqrt(4*(dim+4)*eps*(max|x|^2 + max|c|^2))``: the second
    term bounds the expansion's cancellation error in DISTANCE units
    (error in d^2 is <= ~(dim+4)*eps*(|x|^2+|c|^2+2|x.c|) ulp
    accumulation, and |sqrt(a)-sqrt(b)| <= sqrt(|a-b|) converts it
    without dividing by a possibly-tiny distance), doubled because both
    the candidate's shortlist distance and the p-th pivot carry it; the
    1e-5 term covers the 0.5e-6 rounding shift plus 1e-6-grid ties as
    before. At unit scale the scaled term is ~1e-6 (the old fixed 1e-5
    behavior is unchanged); at |x| ~ 1e5 norms — where the r10 advice
    showed the fixed margin could silently drop a true top-p centroid —
    it grows to cover the actual FP drift. The two boundary-divergence
    channels the round-9 advice flagged (expansion FP drift near a
    1e-6 boundary; half-even vs half-away ties) stay closed on the
    refined path, at matmul shortlist cost.

    ``cent_ids``/``cmat``/``cnorm`` must be pre-sorted by centroid id.
    Returns an ``(n, min(p, n_cells))`` int64 array of centroid ids,
    each row ordered by (rounded distance, centroid id).
    """
    import numpy as np

    n = len(emb)
    p = min(p, len(cent_ids))
    # bound the (n x n_cells) distance matrix at ~256 MB: with a
    # corpus-linear centroid rule (ann_ivf's deterministic %50 oracle
    # set reaches 40k cells at the 1000x replica) one Arrow batch's
    # full matrix is gigabytes PER WORKER — row-chunk and stitch.
    max_rows = max(1, 33_554_432 // max(1, len(cent_ids)))
    if n > max_rows:
        import numpy as _np

        return _np.vstack(
            [
                nearest_cells_np(
                    emb[s : s + max_rows], cmat, cent_ids, cnorm, p
                )
                for s in range(0, n, max_rows)
            ]
        )
    xnorm = (emb * emb).sum(axis=1)
    d2 = xnorm[:, None] + cnorm[None, :] - 2.0 * (emb @ cmat.T)
    np.maximum(d2, 0.0, out=d2)
    d = np.sqrt(d2)
    kth = np.partition(d, p - 1, axis=1)[:, p - 1]
    dim = emb.shape[1] if emb.ndim == 2 else 1
    e2 = (
        4.0 * (dim + 4) * np.finfo(np.float64).eps
        * (float(xnorm.max(initial=0.0)) + float(cnorm.max(initial=0.0)))
    )
    margin = 1e-5 + 2.0 * float(np.sqrt(e2))
    rows, cols = np.nonzero(d <= kth[:, None] + margin)
    # chunked exact refinement: under mass ties (e.g. rotation-replica
    # corpora where many centroids are exactly equidistant) the
    # candidate set approaches batch x n_cells, and a single
    # (n_cand, dim) difference array is gigabytes — it crashed the
    # Python worker at the 1000x replica. Chunking bounds the peak at
    # ~chunk x dim doubles while dr stays one flat n_cand vector.
    dr = np.empty(len(rows), dtype=np.float64)
    chunk = 262_144
    for s in range(0, len(rows), chunk):
        dff = emb[rows[s : s + chunk]] - cmat[cols[s : s + chunk]]
        dr[s : s + chunk] = np.floor(
            np.sqrt((dff * dff).sum(axis=1)) * 1e6 + 0.5
        )
    order = np.lexsort((cent_ids[cols], dr, rows))
    rows_o = rows[order]
    # every row has >= p candidates (kth is the p-th smallest of d
    # itself), so keeping the first p per row fills an exact (n, p)
    starts = np.searchsorted(rows_o, np.arange(n))
    keep = (np.arange(len(rows_o)) - starts[rows_o]) < p
    return cent_ids[cols[order][keep]].reshape(n, p)


def ivf_model_np(centroids: list[tuple[int, list[float]]]):
    """``(cmat, cent_ids, cnorm)`` of ``[(centroid_id, vec)]``, sorted by
    centroid id so :func:`nearest_cells_np`'s tiebreak matches the exact
    operator's (distance, centroid_id) ordering: the IVF model as
    ``nearest_cells_np(emb, *model, p)`` takes it."""
    import numpy as np

    cent_ids = np.array([c[0] for c in centroids], dtype=np.int64)
    order = np.argsort(cent_ids, kind="stable")
    cmat = np.array([centroids[i][1] for i in order], dtype=np.float64)
    return cmat, cent_ids[order], (cmat * cmat).sum(axis=1)


def assign_ivf_cells_np(
    index: DataFrame,
    centroids: list[tuple[int, list[float]]],
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Vectorized IVF assignment: one numpy distance matrix per Arrow
    batch instead of an interpreted fold per (vector, centroid).

    The declarative :func:`assign_ivf_cells` is exact and
    oracle-checkable, but its per-pair euclidean fold runs interpreted —
    measured 96 s for 20k vectors x 400 centroids (10x corpus) vs ~2 s
    here. Use this on the 100 TB build path; ties broken by lowest
    centroid id like the exact operator. Distances come from
    :func:`nearest_cells_np`: matmul-expansion shortlist, difference-form
    refine, half-away-from-zero 1e-6 rounding — bit-for-bit the exact
    operator's (round(d, 6), centroid_id) min_by order even at rounding
    boundaries.
    """
    import numpy as np
    import pandas as pd

    import pyspark.sql.types as T

    ivf = ivf_model_np(centroids)

    schema = T.StructType(
        [
            index.schema[id_col],
            index.schema[embedding_col],
            T.StructField("centroid_id", T.LongType()),
        ]
    )

    def _assign(batches):
        for pdf in batches:
            emb = np.array(pdf[embedding_col].tolist(), dtype=np.float64)
            if len(emb) == 0:
                yield pd.DataFrame(
                    {id_col: [], embedding_col: [], "centroid_id": []}
                )
                continue
            best = nearest_cells_np(emb, *ivf, 1)[:, 0]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    embedding_col: pdf[embedding_col],
                    "centroid_id": best,
                }
            )

    return index.mapInPandas(_assign, schema=schema)


def cosine_query_scores_np(
    df: DataFrame,
    query_vec: list[float],
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    score_col: str = "_cos",
) -> DataFrame:
    """Adds ``score_col``: raw cosine(x, q) per row — the vectorized
    BIT-EXACT twin of the declarative
    ``dot(x, q) / (l2_norm(x) * l2_norm(q))`` fold chain. Every stage
    replays the fold's IEEE sequence: both dots accumulate
    dimension-at-a-time from 0.0, the query norm is the same scalar fold
    driver-side, then sqrt / multiply / divide in the expression's
    order. Keeps all input columns; rounding stays in Spark. Pinned in
    tests/test_search.py::test_cosine_query_scores_np_bit_exact."""
    import math

    import numpy as np
    import pandas as pd

    import pyspark.sql.types as T

    q = np.array([float(v) for v in query_vec], dtype=np.float64)
    dim = len(query_vec)
    qacc = 0.0
    for v in query_vec:
        qacc = qacc + float(v) * float(v)
    qnorm = math.sqrt(qacc)
    if qnorm == 0.0:
        raise ValueError(
            "cosine_query_scores_np: zero query vector — the declarative "
            "cosine raises DIVIDE_BY_ZERO here under ANSI mode"
        )
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(score_col, T.DoubleType())]
    )

    def _score(batches):
        for pdf in batches:
            pdf = pdf.copy()
            if len(pdf) == 0:
                pdf[score_col] = pd.Series(dtype="float64")
                yield pdf
                continue
            X = np.stack(pdf[embedding_col].to_numpy()).astype(np.float64)
            n = len(pdf)
            d = np.zeros(n, dtype=np.float64)
            na = np.zeros(n, dtype=np.float64)
            for k in range(dim):
                xk = X[:, k]
                d = d + xk * q[k]
                na = na + xk * xk
            if not (na > 0.0).all():
                raise ValueError(
                    "cosine_query_scores_np: zero vector (norm == 0) — "
                    "the declarative cosine raises DIVIDE_BY_ZERO here "
                    "under ANSI mode"
                )
            pdf[score_col] = d / (np.sqrt(na) * qnorm)
            yield pdf

    return df.mapInPandas(_score, schema=schema)


def lsh_signature_exact_np(
    df: DataFrame,
    bits: int = 16,
    dim: int = 64,
    seed: str = "srp",
    embedding_col: str = "embedding",
    out_col: str = "bucket",
) -> DataFrame:
    """BIT-EXACT vectorized twin of :func:`lsh_signature` (unlike
    :func:`lsh_signature_np`, whose BLAS matmul reassociates): each
    per-bit projection accumulates dimension-at-a-time from 0.0 with the
    fold's IEEE operation sequence, so the projection double — and hence
    the ``proj >= 0`` sign and the bucket id — is identical BY
    CONSTRUCTION, safe for oracle-checked queries. Keeps all input
    columns. Pinned in tests/test_ann.py::
    test_lsh_signature_exact_np_matches_fold."""
    import numpy as np

    import pyspark.sql.types as T

    planes = np.array(
        [srp_plane(seed, j, dim) for j in range(bits)], dtype=np.float64
    )
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.LongType())]
    )

    def _sig(batches):
        for pdf in batches:
            pdf = pdf.copy()
            if len(pdf) == 0:
                pdf[out_col] = []
                yield pdf
                continue
            emb = np.stack(pdf[embedding_col].to_numpy()).astype(np.float64)
            n = len(pdf)
            sig = np.zeros(n, dtype=np.int64)
            for j in range(bits):
                acc = np.zeros(n, dtype=np.float64)
                for d in range(dim):
                    acc = acc + emb[:, d] * planes[j, d]
                sig = sig + np.where(acc >= 0, np.int64(1 << j), np.int64(0))
            pdf[out_col] = sig
            yield pdf

    return df.mapInPandas(_sig, schema=schema)


def lsh_signature_np(
    df: DataFrame,
    bits: int = 16,
    dim: int = 64,
    seed: str = "srp",
    embedding_col: str = "embedding",
    out_col: str = "bucket",
) -> DataFrame:
    """Vectorized SRP-LSH bucket assignment: one (n x bits) projection
    matmul per Arrow batch — the build-path twin of
    :func:`lsh_signature` (whose per-bit interpreted folds dominate when
    bucketing a full corpus). Same deterministic hyperplanes; sign
    convention (proj >= 0) matches, and the equality test pins agreement
    on real data. Projections exactly at 0 are astronomically rare but
    could differ from the fold under float reassociation — acceptable on
    the build path, not used by oracle queries."""
    import numpy as np
    import pandas as pd

    import pyspark.sql.types as T

    planes = np.array(
        [srp_plane(seed, j, dim) for j in range(bits)], dtype=np.float64
    )
    weights = (1 << np.arange(bits)).astype(np.int64)

    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.LongType())]
    )

    def _sig(batches):
        for pdf in batches:
            if len(pdf) == 0:
                pdf[out_col] = []
                yield pdf
                continue
            emb = np.array(pdf[embedding_col].tolist(), dtype=np.float64)
            proj = emb @ planes.T
            buckets = ((proj >= 0) @ weights).astype(np.int64)
            pdf = pdf.copy()
            pdf[out_col] = buckets
            yield pdf

    return df.mapInPandas(_sig, schema=schema)


# ---------------------------------------------------------------------------
# Random-projection dimensionality reduction (Johnson–Lindenstrauss):
# project d-dim embeddings onto out_dim deterministic pseudo-random
# hyperplanes (the real-valued cousin of the sign-only lsh_signature).
# Inner products are preserved in expectation, so a reduced-space scan
# is a cheap shortlist stage: at 100 TB, a 64->8 reduction cuts the
# first-pass scan's compute and (for a materialized reduced column)
# its I/O by 8x, and the exact re-rank touches only the shortlist.


def srp_reduce(
    df: DataFrame,
    out_dim: int = 8,
    dim: int = 64,
    seed: str = "red",
    embedding_col: str = "embedding",
    out_col: str = "reduced",
) -> DataFrame:
    """Adds ``out_col``: ARRAY<DOUBLE> of ``out_dim`` projections onto
    the deterministic :func:`srp_plane` hyperplanes (literal plane
    arrays in the plan; one fold per component — narrow, shuffle-free)."""
    c = F.col(embedding_col)
    comps = []
    for j in range(out_dim):
        plane = double_array_lit(srp_plane(seed, j, dim))
        comps.append(
            F.aggregate(
                F.zip_with(c, plane, lambda x, r: x.cast("double") * r),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        )
    return df.withColumn(out_col, F.array(*comps))


def reduce_query(
    query_vec: list[float], out_dim: int = 8, seed: str = "red"
) -> list[float]:
    """Driver-side projection of one query vector (same planes/order as
    :func:`srp_reduce`, so scores are comparable)."""
    dim = len(query_vec)
    out = []
    for j in range(out_dim):
        plane = srp_plane(seed, j, dim)
        acc = 0.0
        for x, r in zip(query_vec, plane):
            acc = acc + float(x) * r
        out.append(acc)
    return out


def srp_rerank_topk(
    index: DataFrame,
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 50,
    out_dim: int = 8,
    seed: str = "red",
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    vectorized: bool = True,
) -> DataFrame:
    """Two-stage exact-quality ANN: reduced-space shortlist (TakeOrdered,
    no shuffle) -> exact inner-product re-rank of the shortlist only.

    One lazy plan; the full-dimension dot runs on ``shortlist`` rows,
    not the corpus. Deterministic total order at both stages.
    ``vectorized`` scores the shortlist scan with the bit-exact numpy
    twin (srp_query_scores_np) instead of out_dim * dim interpreted
    fold steps per row; rounding/ordering unchanged."""
    rq = reduce_query(query_vec, out_dim, seed)
    dim = len(query_vec)
    if vectorized:
        scored = srp_query_scores_np(
            index, list(query_vec), out_dim, seed, embedding_col, id_col
        )
        rscore = F.round(F.col("_rscore"), 6)
    else:
        scored = srp_reduce(index, out_dim, dim, seed, embedding_col, "_red")
        rscore = F.round(
            dot(F.col("_red"), double_array_lit(rq), out_dim),
            6,
        )
    short = (
        scored.select(id_col, embedding_col, rscore.alias("rscore"))
        .orderBy(F.desc("rscore"), F.asc(id_col))
        .limit(shortlist)
    )
    exact = F.round(
        dot(F.col(embedding_col), double_array_lit(query_vec), dim), 6
    )
    return (
        short.select(id_col, exact.alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def srp_query_scores_np(
    df: DataFrame,
    query_vec: list[float],
    out_dim: int = 8,
    seed: str = "red",
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    score_col: str = "_rscore",
) -> DataFrame:
    """Adds ``score_col``: the reduced-space query score per row — the
    vectorized BIT-EXACT twin of ``srp_reduce(df) + dot(_red,
    reduce_query(q))`` (the srp_rerank_topk shortlist scan, which paid
    out_dim * dim interpreted fold steps per row).

    Bit-exactness: both folds are replayed with the same IEEE operation
    sequence per row — each reduced component accumulates
    dimension-at-a-time from 0.0 (``acc = acc + x_d * plane_d``), then
    the query score accumulates component-at-a-time from 0.0 — numpy
    elementwise ops across rows, no reassociation (the
    blocked_exact_dot_pairs / pq_adc_scan_exact_np pattern; pinned in
    tests/test_ann.py::test_srp_query_scores_np_bit_exact). Rounding
    stays in Spark, unchanged.
    """
    import numpy as np
    import pandas as pd

    import pyspark.sql.types as T

    dim = len(query_vec)
    planes = np.array(
        [srp_plane(seed, j, dim) for j in range(out_dim)], dtype=np.float64
    )
    rq = reduce_query(query_vec, out_dim, seed)
    base = df.select(id_col, embedding_col)
    schema = T.StructType(
        list(base.schema.fields)
        + [T.StructField(score_col, T.DoubleType())]
    )

    def _score(batches):
        for pdf in batches:
            pdf = pdf.copy()
            if len(pdf) == 0:
                pdf[score_col] = pd.Series(dtype="float64")
                yield pdf
                continue
            emb = np.stack(pdf[embedding_col].to_numpy()).astype(np.float64)
            n = len(pdf)
            rsc = np.zeros(n, dtype=np.float64)
            for j in range(out_dim):
                acc = np.zeros(n, dtype=np.float64)
                for d in range(dim):
                    acc = acc + emb[:, d] * planes[j, d]
                rsc = rsc + acc * rq[j]
            pdf[score_col] = rsc
            yield pdf

    return base.mapInPandas(_score, schema=schema)


def blocked_exact_dot_pairs(
    emb: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    pair_chunk: int = 1 << 20,
) -> DataFrame:
    """All within-block (id_a < id_b) pairs with their RAW inner product
    ``_dot`` — the vectorized twin of the declarative
    ``join on block + dot(a, b)`` shape (q_embedding_neardup).

    Bit-exactness: the per-pair double is accumulated dimension-by-
    dimension in ascending order starting from 0.0 (``acc = acc +
    x_d * y_d``), i.e. the SAME IEEE operation sequence as
    :func:`~rag_content_spark.functions.vector.dot`'s fold — unlike a
    BLAS matmul, whose pairwise reassociation drifts ~1 ulp. float32
    inputs are widened to float64 first (exact), as the fold's casts
    are. Callers apply the final F.round/threshold in Spark, unchanged
    from the declarative form (equality-pinned in
    tests/test_dedup_similarity.py).

    Why this beats the join at any scale: the fold is an interpreted
    lambda island evaluated per pair — and when the caller filters on
    the rounded dot, Catalyst folds that predicate into the join
    CONDITION, so every candidate pair pays the fold twice (see
    plans/r11/embedding_neardup_before.txt: the same ``aggregate(
    zip_with(...))`` subtree sits in both BroadcastHashJoin's condition
    and the Project). Here each block crosses the Python boundary once
    (rows, not pairs), the pairwise products are numpy elementwise ops,
    and a predicate on ``_dot`` cannot be pushed into the (opaque)
    group eval — one evaluation total. The one shuffle (groupBy block)
    matches the join's exchange; per-block work is quadratic in block
    size exactly as the join's output was. ``pair_chunk`` bounds the
    peak pair-buffer memory per block.
    """
    import numpy as np
    import pandas as pd

    import pyspark.sql.types as T

    id_type = emb.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("_dot", T.DoubleType()),
        ]
    )

    def _block(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame(
                {"id_a": pdf[id_col].to_numpy()[:0],
                 "id_b": pdf[id_col].to_numpy()[:0],
                 "_dot": np.empty(0)}
            )
        pdf = pdf.sort_values(id_col)
        X = np.stack(pdf[embedding_col].to_numpy()).astype(np.float64)
        ids = pdf[id_col].to_numpy()
        ia, ib = np.triu_indices(m, 1)
        dots = np.empty(len(ia), dtype=np.float64)
        for s in range(0, len(ia), pair_chunk):
            A = X[ia[s : s + pair_chunk]]
            B = X[ib[s : s + pair_chunk]]
            acc = np.zeros(len(A), dtype=np.float64)
            for d in range(X.shape[1]):
                acc = acc + A[:, d] * B[:, d]
            dots[s : s + pair_chunk] = acc
        return pd.DataFrame({"id_a": ids[ia], "id_b": ids[ib], "_dot": dots})

    return (
        emb.filter(F.col(block_col).isNotNull() & F.col(id_col).isNotNull())
        .select(id_col, block_col, embedding_col)
        .groupBy(block_col)
        .applyInPandas(_block, schema=out_schema)
    )
