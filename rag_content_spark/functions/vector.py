"""Vector math as pure Column expressions (no UDFs).

Re-expresses the reference's query-time scoring — FAISS ``IndexFlatIP``
(inner product over L2-normalized vectors = cosine,
reference document_processor.py:238-240 + embeddings_model/modules.json
module 2) and ``IndexFlatL2`` (reference document_processor.py:304) and
the pairwise distance script (reference scripts/distance.py:17-38) — as
``aggregate``/``zip_with``/``transform`` expressions that stay inside
whole-stage codegen. On a cluster this is a scan + map, no shuffle; the
top-k on top of it is Spark's TakeOrderedAndProject.

Math is done in DOUBLE regardless of the array element type so results
are reproducible across engines (accumulate left-to-right).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


_NON_FINITE_SQL = {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}


def _double_sql(x: float) -> str:
    x = float(x)
    if math.isfinite(x):
        return f"{x!r}D"
    # no SQL literal form: a string cast, under coalesce so the element
    # stays non-nullable (the type F.lit gives)
    return f"coalesce(CAST('{_NON_FINITE_SQL[repr(x)]}' AS DOUBLE), 0D)"


def double_array_lit(values) -> Column:
    """ARRAY<DOUBLE> literal of ``values`` (query vectors, centroids,
    hyperplanes, lookup tables), built in ONE JVM call.

    ``F.array(*[F.lit(x) for x in values])`` pays one py4j round trip
    per element — ~0.4 s of driver CPU for a 768-d query vector, before
    any job runs. Here the literal is rendered as SQL text and parsed
    once: ``repr`` of a Python float is the shortest string that
    round-trips, and Spark parses ``<repr>D`` to the same double
    (-0.0 and subnormals included). Both forms fold to the same array
    literal in the optimized plan, so results are bit-identical.
    """
    return F.expr("array(" + ", ".join(_double_sql(x) for x in values) + ")")


# Spark evaluates higher-order-function lambdas (aggregate/zip_with)
# INTERPRETED — they never enter whole-stage codegen. For SMALL known
# dimensions (<= _UNROLL_MAX) unrolling to plain arithmetic wins
# (measured ~2x on 8-d mock embeddings). For large dims the unrolled
# expression blows past codegen method limits and the WHOLE stage falls
# back to interpreted — worse than an interpreted fold island inside a
# codegen'd stage (measured: 64-d near-dup join 7.2 s unrolled vs 3.9 s
# fold). The helpers pick automatically from ``dim``; the unrolled sum
# keeps the fold's left-to-right IEEE association (leading 0.0 included)
# so both forms and the DuckDB oracle agree bit-for-bit.

_UNROLL_MAX = 16


def dot(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Inner product of two ARRAY<FLOAT/DOUBLE> columns, in double.

    ``dim`` (when known) lets the helper choose the faster physical form;
    the result is identical either way.
    """
    av, bv = _c(a), _c(b)
    if dim is not None and dim <= _UNROLL_MAX:
        acc = F.lit(0.0)
        for i in range(dim):
            acc = acc + F.get(av, i).cast("double") * F.get(bv, i).cast("double")
        return acc
    return F.aggregate(
        F.zip_with(av, bv, lambda x, y: (x.cast("double") * y.cast("double"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str, dim: int | None = None) -> Column:
    """Euclidean norm of a vector column."""
    return F.sqrt(dot(a, a, dim))


def cosine(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Cosine similarity (reference scripts/distance.py:23)."""
    return dot(a, b, dim) / (l2_norm(a, dim) * l2_norm(b, dim))


def euclidean(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Euclidean (L2) distance (reference scripts/distance.py:24)."""
    av, bv = _c(a), _c(b)
    if dim is not None and dim <= _UNROLL_MAX:
        acc = F.lit(0.0)
        for i in range(dim):
            diff = F.get(av, i).cast("double") - F.get(bv, i).cast("double")
            acc = acc + diff * diff
        return F.sqrt(acc)
    return F.sqrt(
        F.aggregate(
            F.zip_with(
                av,
                bv,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def l2_normalize(a: Column | str) -> Column:
    """L2-normalize a vector column (the model's ``2_Normalize`` module,
    reference embeddings_model/modules.json)."""
    av = _c(a)
    n = l2_norm(av)
    return F.transform(av, lambda x: x.cast("double") / n)


# ---- DuckDB-SQL renderings (for oracle construction) ----------------------


def dot_sql(a: str, b: str) -> str:
    """DuckDB rendering of :func:`dot` — identical left-to-right double sum."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def euclidean_sql(a: str, b: str) -> str:
    return (
        f"sqrt(list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
        f"(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))))"
    )


def cosine_sql(a: str, b: str) -> str:
    return (
        f"({dot_sql(a, b)} / "
        f"(sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)})))"
    )


def length_penalty(len_a: Column | str, len_b: Column | str) -> Column:
    """Naive length-difference penalty (reference scripts/distance.py:29-30):
    |len_a - len_b| / (len_a + len_b) * 0.1."""
    a = (F.col(len_a) if isinstance(len_a, str) else len_a).cast("double")
    b = (F.col(len_b) if isinstance(len_b, str) else len_b).cast("double")
    return F.abs(a - b) / (a + b) * 0.1


def response_distance_score(
    vec_a: Column | str,
    vec_b: Column | str,
    len_a: Column | str,
    len_b: Column | str,
    dim: int | None = None,
) -> Column:
    """The reference's combined response-validation score
    (scripts/distance.py:22-33): length penalty + mean of cosine DISTANCE
    (1 - similarity) and euclidean distance."""
    cos_dist = F.lit(1.0) - cosine(vec_a, vec_b, dim)
    return length_penalty(len_a, len_b) + (cos_dist + euclidean(vec_a, vec_b, dim)) / 2.0


def quantize_int8(a: Column | str, dim: int | None = None) -> Column:
    """Scalar int8 quantization of a vector column: STRUCT(scale DOUBLE,
    q ARRAY<TINYINT>) with q_i = round(x_i / scale) and scale =
    max_abs / 127. A 4x storage/scan reduction for the 100 TB index; the
    canonical Parquet index can store q and keep full-precision vectors
    in a cold partition.

    DuckDB mirror: greatest over list_transform(abs) for max_abs, then
    the same round/cast.
    """
    av = _c(a)
    max_abs = F.array_max(F.transform(av, lambda x: F.abs(x.cast("double"))))
    scale = max_abs / 127.0
    q = F.transform(
        av,
        lambda x: F.round(x.cast("double") / scale, 0).cast("tinyint"),
    )
    return F.struct(scale.alias("scale"), q.alias("q"))


def quantized_query_scores_np(
    emb,
    query_vec: list[float],
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    score_col: str = "_qscore",
):
    """(id, raw score) of dot(dequantize(quantize(x)), q) per row — the
    vectorized BIT-EXACT twin of the quantize_int8 -> dequantize_int8 ->
    dot chain (q_quantized_topk's scan, which paid ~3 * dim interpreted
    transform/fold steps per row).

    Bit-exactness: every stage replays the interpreted path's IEEE ops
    elementwise — max_abs and scale per row, v = x / scale, HALF_UP
    rounding (vectorized floor(|v| + 0.5) with a decimal.Decimal(repr)
    fallback on elements within 1e-9 of a .5 boundary, matching Spark's
    BigDecimal.valueOf semantics), reconstruction q * scale, then the
    dot fold dimension-at-a-time from 0.0. An all-zero vector raises,
    as the interpreted chain's x/0 does under ANSI mode (the session
    default). F.round stays in Spark. Pinned in
    tests/test_dedup_similarity.py::
    test_quantized_query_scores_np_bit_exact."""
    import numpy as np
    import pandas as pd

    import pyspark.sql.types as T

    qv = np.array([float(v) for v in query_vec], dtype=np.float64)
    dim = len(query_vec)
    base = emb.select(id_col, embedding_col)
    schema = T.StructType(
        [base.schema[id_col], T.StructField(score_col, T.DoubleType())]
    )

    def _half_up(av: "np.ndarray") -> "np.ndarray":
        out = np.floor(av + 0.5)
        frac = av - np.floor(av)
        sus = np.abs(frac - 0.5) < 1e-9
        if sus.any():
            from decimal import ROUND_HALF_UP, Decimal

            flat = out.reshape(-1)
            aflat = av.reshape(-1)
            for k in np.nonzero(sus.reshape(-1))[0]:
                flat[k] = float(
                    Decimal(repr(float(aflat[k]))).quantize(
                        Decimal("1"), rounding=ROUND_HALF_UP
                    )
                )
        return out

    def _score(batches):
        for pdf in batches:
            pdf = pdf.copy()
            if len(pdf) == 0:
                pdf[score_col] = pd.Series(dtype="float64")
                yield pdf[[id_col, score_col]]
                continue
            X = np.stack(pdf[embedding_col].to_numpy()).astype(np.float64)
            n = len(pdf)
            scale = np.abs(X).max(axis=1) / 127.0
            if not (scale > 0.0).all():
                raise ValueError(
                    "quantized_query_scores_np: zero vector (scale == 0) "
                    "— the interpreted chain raises DIVIDE_BY_ZERO here "
                    "under ANSI mode"
                )
            V = X / scale[:, None]
            Q = np.sign(V) * _half_up(np.abs(V))
            Q = Q.astype(np.int8).astype(np.float64)
            R = Q * scale[:, None]
            acc = np.zeros(n, dtype=np.float64)
            for d in range(dim):
                acc = acc + R[:, d] * qv[d]
            pdf[score_col] = acc
            yield pdf[[id_col, score_col]]

    return base.mapInPandas(_score, schema=schema)


def dequantize_int8(qcol: Column | str) -> Column:
    """Approximate reconstruction: x_i ~= q_i * scale (ARRAY<DOUBLE>)."""
    qc = _c(qcol)
    return F.transform(
        qc["q"], lambda v: v.cast("double") * qc["scale"]
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search" — the IVF-PQ compression step of the 100 TB
# ANN path: m sub-codes of log2(k) bits replace the full vector, and
# query scan cost becomes m table lookups per candidate).


def pq_demo_codebook(m: int, k: int, sub_dim: int) -> list[list[list[float]]]:
    """Deterministic demo codebook (m subspaces x k centroids x sub_dim).

    A real pipeline trains this with operators/kmeans.py per subspace;
    the closed-form values here exist so PQ encode/scan can be
    oracle-checked with identical literals in both engines.
    """
    return [
        [
            [((s * 131 + j * 37 + d * 17) % 23 - 11) / 11.0 for d in range(sub_dim)]
            for j in range(k)
        ]
        for s in range(m)
    ]


def _pq_subspace_dists(sub: Column, centroids: list[list[float]]) -> Column:
    """ARRAY<DOUBLE> of squared L2 distances from ``sub`` to each
    centroid — a left-to-right fold per centroid, so the summation order
    matches the DuckDB oracle's list_sum bit-for-bit."""
    return F.array(
        *[
            F.aggregate(
                F.zip_with(
                    sub,
                    double_array_lit(cent),
                    lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            for cent in centroids
        ]
    )


def pq_encode(a: Column | str, codebook: list[list[list[float]]]) -> Column:
    """ARRAY<INT> of m sub-codes: argmin centroid per subspace (first
    minimum wins — deterministic)."""
    av = _c(a)
    m = len(codebook)
    sub_dim = len(codebook[0][0])
    codes = []
    for s in range(m):
        sub = F.slice(av, s * sub_dim + 1, sub_dim)
        dists = _pq_subspace_dists(sub, codebook[s])
        codes.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    return F.array(*codes)


def pq_adc_table(
    query: list[float], codebook: list[list[list[float]]]
) -> list[list[float]]:
    """Driver-side asymmetric-distance table: table[s][j] = squared L2
    distance from the query's s-th subvector to centroid j. Computed
    once per query in exact Python floats and injected into both engines
    as literals."""
    m = len(codebook)
    sub_dim = len(codebook[0][0])
    table = []
    for s in range(m):
        qsub = query[s * sub_dim : (s + 1) * sub_dim]
        table.append(
            [
                sum((q - c) * (q - c) for q, c in zip(qsub, cent))
                for cent in codebook[s]
            ]
        )
    return table


def pq_adc_score(codes: Column | str, table: list[list[float]]) -> Column:
    """Approximate squared distance = sum over subspaces of the table
    entry the sub-code selects. m element_at lookups per row — the whole
    index scan never touches a full vector."""
    cc = _c(codes)
    score = None
    for s, row in enumerate(table):
        lut = double_array_lit(row)
        term = F.element_at(lut, F.element_at(cc, s + 1) + 1)
        score = term if score is None else score + term
    return score


def pq_codes_np(emb, codebook):
    """``(n, m)`` int32 PQ codes of the float64 rows ``emb``, for a
    codebook given as an (m, k, sub_dim) float64 array: per subspace one
    (n x k) distance matrix and an argmin — the vectorized twin of
    :func:`pq_encode` (whose per-centroid interpreted folds dominate at
    scale). First-minimum tiebreak matches ``array_position(.., min)``;
    the equality test pins agreement on real data."""
    import numpy as np

    m, _k, sub_dim = codebook.shape
    cnorms = (codebook * codebook).sum(axis=2)
    codes = np.empty((len(emb), m), dtype=np.int32)
    for s in range(m):
        sub = emb[:, s * sub_dim : (s + 1) * sub_dim]
        codes[:, s] = (cnorms[s][None, :] - 2.0 * (sub @ codebook[s].T)).argmin(axis=1)
    return codes


def train_pq_codebook(
    emb_df,
    m: int,
    k: int,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    iterations: int = 5,
) -> list[list[list[float]]]:
    """Train a PQ codebook with per-subspace k-means (the real
    counterpart of :func:`pq_demo_codebook`) and return the
    m x k x sub_dim codebook for :func:`pq_encode` / ADC scanning.

    One Spark job gathers the bounded hash sample of
    operators/kmeans.training_sample (256 rows per code); the driver
    trains every subspace on it (:func:`train_pq_np`).
    """
    from rag_content_spark.operators.kmeans import training_sample

    ids, X, _cap = training_sample(
        emb_df, k, embedding_col=embedding_col, id_col=id_col
    )
    return train_pq_np(X, ids, m, k, iterations=iterations)


def train_pq_np(X, ids, m: int, k: int, iterations: int = 5):
    """PQ codebook from a driver-side sample: slice each row of ``X``
    into m subvectors and run Lloyd's (operators/kmeans.lloyd) on every
    subspace. The initial centroids of every subspace are the
    subvectors of the k lowest ``ids`` — deterministic, so training is
    reproducible. Raises ``ValueError`` when ``dim`` is not a multiple
    of ``m`` (the tail would drop out of every code and ADC score) or
    when there are fewer than ``k`` rows."""
    import pyarrow.compute as pc

    from rag_content_spark.operators.kmeans import lloyd

    n, dim = X.shape
    if dim % m:
        raise ValueError(f"PQ needs dim % m == 0; got dim={dim}, m={m}")
    if n < k:
        raise ValueError(f"PQ needs at least k={k} vectors; got n={n}")
    sub_dim = dim // m
    seeds = X[pc.sort_indices(ids).to_numpy()[:k]]
    return [
        lloyd(
            X[:, s * sub_dim : (s + 1) * sub_dim],
            seeds[:, s * sub_dim : (s + 1) * sub_dim],
            iterations,
        ).tolist()
        for s in range(m)
    ]


def pq_adc_scan_exact_np(
    df,
    codebook: list[list[list[float]]],
    table: list[list[float]],
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    codes_col: str = "_codes",
    adc_col: str = "_adc",
    passthrough: list[str] | None = None,
):
    """One-pass vectorized PQ encode + ADC score: (id, codes, raw adc)
    per row — the EXACT twin of ``pq_encode`` + ``pq_adc_score``.

    Unlike :func:`pq_codes_np` (matmul expansion — build path, ~1 ulp
    reassociation drift), every squared distance here is accumulated
    dimension-at-a-time from 0.0 in ascending order, reproducing the
    fold's IEEE operation sequence bit-for-bit, so the argmin (numpy
    first-minimum == ``array_position(dists, array_min(dists))``) and
    the left-to-right ADC lookup sum are identical to the declarative
    expressions on any input (pinned in tests/test_ann.py). float32
    widens to float64 first, as the fold's casts do.

    Why: the declarative encode evaluates m*k interpreted folds per row
    (m*k*sub_dim lambda steps — and a single-file scan runs them on one
    core); here each Arrow batch does m*k*sub_dim numpy elementwise ops
    over the whole batch (guide §4.2). Callers keep the final
    F.round / ordering in Spark, unchanged.
    """
    import numpy as np
    import pandas as pd  # noqa: F401

    import pyspark.sql.types as T

    m = len(codebook)
    sub_dim = len(codebook[0][0])
    thru = list(passthrough or [])
    schema = T.StructType(
        [T.StructField(id_col, df.schema[id_col].dataType)]
        + [T.StructField(c, df.schema[c].dataType) for c in thru]
        + [
            T.StructField(codes_col, T.ArrayType(T.IntegerType())),
            T.StructField(adc_col, T.DoubleType()),
        ]
    )
    luts = [np.array(row, dtype=np.float64) for row in table]

    def _scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[embedding_col].to_numpy()).astype(np.float64)
            n = len(pdf)
            codes = np.empty((n, m), dtype=np.int32)
            adc = None
            for s in range(m):
                sub = X[:, s * sub_dim : (s + 1) * sub_dim]
                dists = np.empty((n, len(codebook[s])), dtype=np.float64)
                for j, cent in enumerate(codebook[s]):
                    acc = np.zeros(n, dtype=np.float64)
                    for d in range(sub_dim):
                        diff = sub[:, d] - cent[d]
                        acc = acc + diff * diff
                    dists[:, j] = acc
                cs = dists.argmin(axis=1)
                codes[:, s] = cs
                term = luts[s][cs]
                adc = term if adc is None else adc + term
            out = pdf[[id_col, *thru]].copy()
            out[codes_col] = list(codes.tolist())
            out[adc_col] = adc
            yield out

    return df.select(id_col, *thru, embedding_col).mapInPandas(
        _scan, schema=schema
    )
