"""PCA over embedding columns: exact distributed covariance, driver-side
eigendecomposition (a d x d model artifact, like the k-means centroids),
distributed projection/whitening.

The standard embedding-pipeline preprocessing trio — decorrelate, reduce,
whiten — used ahead of ANN index compression (OPQ-style rotations), as
the SemDeDup paper's preprocessing, and for embedding-drift monitoring.

Exactness: the covariance is computed in FIXED-POINT integer arithmetic
so a DuckDB oracle can reproduce it bit-for-bit. Each coordinate is
rounded to the 1e-6 grid and scaled to a BIGINT (x6); then

    cov_ij = (n * sum(x6_i * x6_j) - sum(x6_i) * sum(x6_j)) / (n^2 * 1e12)

where every sum runs on the 128-bit rail (DECIMAL(38,0) on Spark,
HUGEINT on DuckDB) end to end: the r9 100x sweep caught S_i*S_j past
int64, and the r11 value-magnitude probe caught S_ij itself at ~7e23
with 1000x-scaled coordinates — only the per-element PRODUCT (exact
for |x6| up to ~3e9) stays 64-bit.
The one descale to double at the end is an identical int64 -> IEEE
conversion on both engines. This is the same engine-exact fixed-point
discipline as pagerank/MMR/DoReMi.

Scale shape: the SQL path explodes d coordinates per row and self-joins
on the row id (shuffle ~ n*d rows, then a d^2-cell map-side-combining
aggregate — d^2 = 4096 cells for d = 64). The numpy twin
(:func:`embedding_covariance_np`) computes per-Arrow-batch integer Gram
partials (X6^T X6 via int64 matmul) and reduces d^2 tiny rows — no
per-row explode, ONE narrow pass; equality-pinned against the SQL path.
Eigendecomposition happens on the driver over the d x d matrix (a model
artifact, not data) with a canonical sign (largest-|component| positive)
so results are deterministic; projection is a narrow per-row fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rag_content_spark.functions.vector import double_array_lit

SCALE6 = 1_000_000


def _x6(col):
    """Fixed-point 1e-6 coordinate: scale THEN round to BIGINT (round
    at integer scale — rounding first and multiplying after would
    truncate on inexact binary doubles). F.round is half-away-from-zero,
    matching DuckDB round()."""
    return F.round(col.cast("double") * SCALE6).cast("bigint")


def _cov6_expr(n, s_ij, s_i, s_j):
    """The centered-covariance finisher ``(n*S_ij - S_i*S_j) / n²`` on
    the 1e-6 fixed-point grid, exact at ANY corpus size: at 200k
    vectors ``S_i`` reaches ~2e11 so the cross product ``S_i*S_j``
    reaches ~4e22 — far past int64 (the round-9 100x sweep caught the
    ANSI long-overflow here). Both products widen to DECIMAL(38,0)
    (128-bit integer math, the twin of the oracle's HUGEINT cast)
    before multiplying; the exact integer difference converts to
    double ONCE. ``+ 0.0`` clears IEEE negative zero (engines format
    it differently in the gate's value hash)."""
    dec = "decimal(38,0)"
    num = n.cast(dec) * s_ij.cast(dec) - s_i.cast(dec) * s_j.cast(dec)
    return (
        F.round(
            num.cast("double")
            / (n * n).cast("double")
            / F.lit(float(SCALE6) * SCALE6),
            6,
        )
        + F.lit(0.0)
    )


def embedding_covariance(
    emb: DataFrame,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> DataFrame:
    """(i, j, cov6) for i <= j: the upper-triangle covariance of the
    embedding coordinates on the exact fixed-point grid; cov6 is the
    covariance rounded to 1e-6 (double). Oracle: the same integer sums
    in SQL (queries.embedding_covariance)."""
    coords = emb.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.col(embedding_col)).alias("i", "_x"),
    ).select("_id", "i", _x6(F.col("_x")).alias("x6"))
    a = coords.select("_id", F.col("i"), F.col("x6").alias("xa"))
    b = coords.select(
        "_id", F.col("i").alias("j"), F.col("x6").alias("xb")
    )
    pairs = (
        a.join(b, "_id")
        .filter(F.col("i") <= F.col("j"))
        .groupBy("i", "j")
        .agg(
            # the SUM (not just the centered numerator) must run in
            # DECIMAL(38,0): at 1000x coordinate magnitudes (r11 value
            # probe) sum(xa*xb) reaches ~7e23, past int64 — the
            # per-product stays < 9.2e18 on the 1e-6 grid, the
            # accumulation does not
            F.sum((F.col("xa") * F.col("xb")).cast("decimal(38,0)"))
            .alias("s_ij"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    sums = coords.groupBy(F.col("i").alias("k")).agg(
        F.sum(F.col("x6").cast("decimal(38,0)")).alias("s_k")
    )
    sa = sums.select(F.col("k").alias("i"), F.col("s_k").alias("s_i"))
    sb = sums.select(F.col("k").alias("j"), F.col("s_k").alias("s_j"))
    n = F.col("_n")  # rows per (i,j) pair == corpus row count
    return (
        pairs.join(F.broadcast(sa), "i")
        .join(F.broadcast(sb), "j")
        .select(
            "i",
            "j",
            _cov6_expr(
                n, F.col("s_ij"), F.col("s_i"), F.col("s_j")
            ).alias("cov6"),
        )
    )


def embedding_covariance_np(
    emb: DataFrame,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    materialize: bool = True,
) -> DataFrame:
    """Vectorized twin of :func:`embedding_covariance`: per-Arrow-batch
    integer Gram partials (int64 matmul on the same x6 grid), reduced as
    d^2 tiny rows — one narrow corpus pass, no explode/self-join.
    Bit-identical output (all arithmetic is the same exact integer
    math); equality-pinned in tests."""
    import decimal

    import numpy as np
    import pandas as pd

    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("j", T.IntegerType()),
            T.StructField("s_ij", T.DecimalType(38, 0)),
            T.StructField("s_i_part", T.DecimalType(38, 0)),
            T.StructField("n_part", T.LongType()),
        ]
    )

    def _partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[embedding_col].tolist(), dtype=np.float64)
            # same grid as _x6: scale then round half away from zero
            x6 = (
                np.sign(X) * np.floor(np.abs(X * SCALE6) + 0.5)
            ).astype(np.int64)
            d = x6.shape[1]
            # int64 matmul is only exact while rows_per_chunk *
            # max(x6)^2 < 2^63 — at 1000x coordinate magnitudes (the
            # r11 value probe) a whole-batch Gram overflows SILENTLY
            # (numpy wraps). Chunk adaptively so each int64 partial is
            # provably exact, accumulate chunks in Python ints
            # (arbitrary precision, d x d is tiny), and ship the batch
            # partial as DECIMAL(38,0) — the same 128-bit rail as the
            # SQL twin's HUGEINT sums.
            mx = int(np.abs(x6).max(initial=0))
            chunk = len(x6) if mx == 0 else max(
                1, int(9_000_000_000_000_000_000 // (mx * mx))
            )
            G = np.zeros((d, d), dtype=object)
            S = np.zeros(d, dtype=object)
            for st in range(0, len(x6), chunk):
                part = x6[st : st + chunk]
                G += part.T @ part
                S += part.sum(axis=0)
            iu, ju = np.triu_indices(d)
            dec = decimal.Decimal
            yield pd.DataFrame(
                {
                    "i": iu.astype(np.int32),
                    "j": ju.astype(np.int32),
                    "s_ij": [dec(int(v)) for v in G[iu, ju]],
                    "s_i_part": [
                        dec(int(S[a])) if a == b else dec(0)
                        for a, b in zip(iu, ju)
                    ],
                    "n_part": np.where(
                        iu == ju, np.int64(len(pdf)), np.int64(0)
                    ),
                }
            )

    partials = emb.select(id_col, embedding_col).mapInPandas(
        _partials, schema=schema
    )
    agg = partials.groupBy("i", "j").agg(
        F.sum("s_ij").alias("s_ij"),
        F.sum("s_i_part").alias("s_diag"),
        F.sum("n_part").alias("n_diag"),
    )
    if materialize:
        # the d^2-row table is referenced four times below (pairs, both
        # broadcast sides, row count) — without the checkpoint each
        # reference re-runs the corpus Gram pass (plan audit showed 4
        # scans); with it the corpus is scanned exactly once
        agg = agg.localCheckpoint(eager=True)
    diag = agg.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("k"),
        F.col("s_diag").alias("s_k"),
        F.col("n_diag").alias("_n"),
    )
    sa = diag.select(F.col("k").alias("i"), F.col("s_k").alias("s_i"))
    sb = diag.select(F.col("k").alias("j"), F.col("s_k").alias("s_j"))
    n_row = diag.agg(F.max("_n").alias("_n"))
    return (
        agg.join(F.broadcast(sa), "i")
        .join(F.broadcast(sb), "j")
        .crossJoin(F.broadcast(n_row))
        .select(
            "i",
            "j",
            _cov6_expr(
                F.col("_n"), F.col("s_ij"), F.col("s_i"), F.col("s_j")
            ).alias("cov6"),
        )
    )


def pca_components(cov_rows: list, q: int) -> list[tuple[int, float, list[float]]]:
    """Driver-side eigendecomposition of the collected (i, j, cov6)
    upper triangle: returns the top-``q`` [(component, eigenvalue,
    eigenvector)] by descending eigenvalue. Deterministic: numpy eigh
    on the symmetrized matrix, canonical sign = the largest-|x|
    coordinate of each eigenvector is positive (first such index on
    ties). The d x d input is a model artifact — this is the same
    driver-scalar pattern as the k-means centroids."""
    import numpy as np

    d = max(max(r[0], r[1]) for r in cov_rows) + 1
    C = np.zeros((d, d))
    for i, j, v in cov_rows:
        C[i, j] = v
        C[j, i] = v
    w, V = np.linalg.eigh(C)
    order = np.argsort(-w, kind="stable")[:q]
    out = []
    for rank, k in enumerate(order):
        vec = V[:, k]
        pivot = int(np.argmax(np.abs(vec)))
        if vec[pivot] < 0:
            vec = -vec
        out.append((rank, float(w[k]), [float(x) for x in vec]))
    return out


def pca_project(
    emb: DataFrame,
    components: list,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    whiten: bool = False,
    eps: float = 1e-9,
    vectorized: bool = True,
) -> DataFrame:
    """(id, proj) with proj[r] = <x - mu?, v_r> — NO mean-centering
    (projection of the raw vector; center first upstream if needed),
    one narrow fold per component. ``whiten=True`` divides each
    coordinate by sqrt(eigenvalue + eps).

    ``vectorized`` computes the raw dots in numpy with the fold's exact
    IEEE accumulation order (dimension-at-a-time from 0.0, then the
    whiten division by the same double literal) instead of q * dim
    interpreted fold steps per row; F.round stays in Spark on both
    paths. Bit-identity pinned in
    tests/test_pca.py::test_pca_project_vectorized_bit_exact."""
    if vectorized:
        import numpy as np
        import pandas as pd

        import pyspark.sql.types as T

        V = np.array([list(map(float, vec)) for _, _, vec in components],
                     dtype=np.float64)
        wdiv = np.array(
            [float((max(eigval, 0.0) + eps) ** 0.5)
             for _, eigval, _ in components],
            dtype=np.float64,
        )
        nq, dim = V.shape
        base = emb.select(id_col, embedding_col)
        schema = T.StructType(
            [base.schema[id_col],
             T.StructField("_raw", T.ArrayType(T.DoubleType()))]
        )

        def _proj(batches):
            for pdf in batches:
                pdf = pdf.copy()
                if len(pdf) == 0:
                    pdf["_raw"] = pd.Series(dtype="object")
                    yield pdf[[id_col, "_raw"]]
                    continue
                X = np.stack(pdf[embedding_col].to_numpy()).astype(np.float64)
                n = len(pdf)
                out = np.empty((n, nq), dtype=np.float64)
                for r in range(nq):
                    acc = np.zeros(n, dtype=np.float64)
                    for d in range(dim):
                        acc = acc + X[:, d] * V[r, d]
                    if whiten:
                        acc = acc / wdiv[r]
                    out[:, r] = acc
                pdf["_raw"] = list(out)
                yield pdf[[id_col, "_raw"]]

        raw = base.mapInPandas(_proj, schema=schema)
        return raw.select(
            F.col(id_col),
            F.transform(
                F.col("_raw"), lambda x: F.round(x, 6) + F.lit(0.0)
            ).alias("proj"),
        )
    cols = [F.col(id_col)]
    proj = []
    for rank, eigval, vec in components:
        dot = F.aggregate(
            F.zip_with(
                F.col(embedding_col),
                double_array_lit(vec),
                lambda x, v: x.cast("double") * v,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        if whiten:
            # covariance eigenvalues can round slightly negative (1e-6
            # grid) — clamp before the sqrt or the literal goes complex
            dot = dot / F.lit(float((max(eigval, 0.0) + eps) ** 0.5))
        proj.append(F.round(dot, 6) + F.lit(0.0))
    cols.append(F.array(*proj).alias("proj"))
    return emb.select(*cols)
