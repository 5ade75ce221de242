"""Persisted ANN index: the parquet-native FAISS-IVFPQ equivalent.

The reference persists FAISS binaries that only FAISS can read; the
100 TB-native alternative is an index that IS a data lake table:

- ``build_ann_index``   — train IVF centroids (Lloyd's) + a PQ codebook
  (per-subspace Lloyd's) on the driver over one bounded hash sample of
  the corpus, assign every vector to its cell, PQ-encode it, and write
  the index parquet PARTITIONED BY cell.
  Sidecars: ``centroids.parquet``, ``codebook.json``, ``meta.json``.
- ``query_ann_index``   — pick the ``n_probe`` nearest cells
  driver-side (tiny centroid table), read ONLY those cell directories,
  ADC-score the codes, and optionally exact-refine the shortlist
  against the full vectors kept in the same rows, carried through the
  shortlist of the same scan.

Layout (format ``rag-spark-ann/3``, commit-logged, same protocol as
text_index):

    out_dir/
      meta.json                   static config {format, metric, dim,
                                  nlist, m, k, id_col, embedding_col,
                                  train_points}
      centroids.parquet           frozen IVF model
      codebook.json               frozen PQ model
      data/s-<uuid>/cell=NN/...   index segments (one per writer)
      data/d-<uuid>/...           delete tombstones (ids)
      commits/snap-NNNNN.json     hard-link-claimed manifests
                                  {kind, dir, schema, stats: {n_vectors}}

An index of another format (``/2`` manifests record no schemas) is
refused with a ``ValueError`` naming it (index_commit.read_meta).

plans/index_commit.py owns the live view — the segment write, the
tombstone anti-join, the delete and compact commits, vacuum — and this
module states only its layout (:func:`_layout`): one component
partitioned by cell, sorted by id within it, carrying ``n_vectors``
over every row. Adds write unique
staging segments and claim commits (no shared-dir appends, no
meta.json read-modify-write — concurrent adds never lose an
``n_vectors`` update); a compaction racing an add or a delete keeps
it live, and a crash at any point leaves the old view intact.

Why this shape at 100 TB: the index is splittable, schema-evolvable,
queryable by any engine, and cells map to directories — a probe reads
``n_probe / nlist`` of the bytes. Training reads one bounded sample
(FAISS's 256 points per centroid), so its cost does not grow with the
corpus; assignment and encoding run in one Python pass over the
vectorized numpy twins (one matmul per Arrow batch, see
:func:`encode_segment`); every decode/score step at query time is a
Column expression over literals.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from rag_content_spark.plans import index_commit as ic


FORMAT = "rag-spark-ann/3"


def _layout(meta: dict) -> ic.Component:
    return ic.Component("cell", ("cell", meta["id_col"]), {"n_vectors": "count(1)"})


def encode_segment(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebook: list,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> DataFrame:
    """``(id, embedding, cell, codes)``: every vector's IVF cell and PQ
    codes from ONE Python pass per Arrow batch. The cell follows
    ``nearest_cells_np`` (bit-for-bit the exact operator's
    ``(round(d, 6), centroid_id)`` order, as in ``assign_ivf_cells_np``)
    and the codes ``pq_codes_np``."""
    import numpy as np
    import pandas as pd

    import pyspark.sql.types as T

    from rag_content_spark.functions.vector import pq_codes_np
    from rag_content_spark.operators.similarity import ivf_model_np, nearest_cells_np

    ivf, pq = ivf_model_np(centroids), np.array(codebook, dtype=np.float64)
    emb = emb.select(id_col, embedding_col)
    schema = T.StructType(
        list(emb.schema.fields)
        + [
            # the type a read infers from the cell=NN directories
            T.StructField("cell", T.IntegerType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def _encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({c: [] for c in schema.names})
                continue
            X = np.array(pdf[embedding_col].tolist(), dtype=np.float64)
            yield pdf.assign(
                cell=nearest_cells_np(X, *ivf, 1)[:, 0],
                codes=pq_codes_np(X, pq).tolist(),
            )

    return emb.mapInPandas(_encode, schema=schema)


def _codebook(out_dir: str) -> list:
    with open(os.path.join(out_dir, "codebook.json")) as f:
        return json.load(f)


def delete_from_ann_index(spark: SparkSession, out_dir: str, ids) -> dict:
    """Delete vectors by id (``ids``: a list or a one-column DataFrame)
    — one tombstone segment and one ``delete`` commit with an exact
    negative ``n_vectors`` delta; see index_commit.delete_ids. Returns
    the meta view after the delete."""
    meta = ic.read_meta(out_dir, FORMAT)
    return meta | ic.delete_ids(spark, out_dir, ids, meta["id_col"], _layout(meta))


def build_ann_index(
    emb: DataFrame,
    out_dir: str,
    nlist: int = 16,
    m: int = 4,
    k: int = 16,
    kmeans_iterations: int = 3,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> dict:
    """Train + encode + write. Returns the meta dict (config +
    n_vectors).

    Both models train on the driver from ONE bounded hash sample
    (operators/kmeans.training_sample: at most 256 rows per centroid of
    ``max(nlist, k)``, one Spark job); ``meta.json`` records its size as
    ``train_points``. IVF seeds are the first ``nlist`` sample rows (the
    ``nlist`` lowest ``(xxhash64(id), id)`` keys), PQ seeds the ``k``
    lowest ids in the sample, so the same corpus always builds the same
    index on any partitioning. Raises ``ValueError`` when there are
    fewer vectors than ``nlist`` or ``k``, or when ``dim`` is not a
    multiple of ``m``. ``id_col`` and ``embedding_col`` are recorded in
    meta.json so maintenance never has to infer column roles (round-7
    ADVICE: compact guessed the id column and a custom embedding column
    name silently broke the per-cell sort).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rag_content_spark.functions.vector import train_pq_np
    from rag_content_spark.operators.kmeans import lloyd, training_sample

    emb = emb.select(id_col, embedding_col)
    ids, X, cap = training_sample(
        emb, max(nlist, k), embedding_col=embedding_col, id_col=id_col
    )
    train_points, dim = X.shape
    n = train_points if train_points < cap else emb.count()
    if n < max(nlist, k):
        raise ValueError(
            f"build_ann_index needs at least nlist={nlist} and k={k} "
            f"vectors; got n={n}"
        )
    cmat = lloyd(X, X[:nlist], kmeans_iterations)
    centroids = list(enumerate(cmat.tolist()))
    codebook = train_pq_np(X, ids, m, k)

    os.makedirs(out_dir, exist_ok=True)
    meta = {
        "format": FORMAT,
        "metric": "l2",
        "dim": dim,
        "nlist": nlist,
        "m": m,
        "k": k,
        "id_col": id_col,
        "embedding_col": embedding_col,
        "train_points": train_points,
    }
    segment, _ = ic.write_segment(
        out_dir,
        encode_segment(emb, centroids, codebook, id_col, embedding_col),
        _layout(meta),
        shuffle=False,
    )
    c_path = os.path.join(out_dir, "centroids.parquet")
    if os.path.isdir(c_path):  # a Spark-written sidecar from an older build
        shutil.rmtree(c_path)
    pq.write_table(
        pa.table(
            {
                "centroid_id": pa.array(range(nlist), pa.int32()),
                "centroid_vec": pa.array(cmat.tolist(), pa.list_(pa.float64())),
            }
        ),
        c_path,
    )
    with open(os.path.join(out_dir, "codebook.json"), "w") as f:
        json.dump(codebook, f)
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=2)
    ic.claim(out_dir, {"kind": "base", **segment, "stats": {"n_vectors": n}})
    return meta | {"n_vectors": n}


def load_ann_meta(out_dir: str) -> tuple[dict, list]:
    """(meta, codebook); meta includes the live n_vectors."""
    meta = ic.read_meta(out_dir, FORMAT)
    return meta | ic.view_stats(*ic.live_view(out_dir)), _codebook(out_dir)


def load_centroids(out_dir: str) -> list[tuple[int, list[float]]]:
    """The frozen IVF centroids as ``[(centroid_id, vec)]`` sorted by id.

    Read on the driver with pyarrow, as ``codebook.json`` is read: the
    sidecar holds ``nlist`` rows, so a Spark read would cost two jobs
    (schema, collect) on every query and add for no parallelism."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(out_dir, "centroids.parquet"),
        columns=["centroid_id", "centroid_vec"],
    )
    return sorted(
        zip(t.column("centroid_id").to_pylist(), t.column("centroid_vec").to_pylist())
    )


def query_ann_index(
    spark: SparkSession,
    out_dir: str,
    query_vec: list[float],
    topk: int = 10,
    n_probe: int = 2,
    refine: bool = True,
) -> DataFrame:
    """Probe -> pruned scan -> ADC -> (optional) exact refine.

    Each live segment is read from the probed ``cell=NN`` directories
    only, and the returned plan's scans carry a ``cell IN (...)``
    partition filter. With ``refine`` the one scan carries each row's
    vector through the ADC shortlist: every scan task keeps its
    ``4 * topk`` best rows by ``(adc, id)``, vectors included, the
    shortlist task keeps the best ``4 * topk`` of those, and the exact
    distance ranks them to ``topk``: one job that reads the probed
    cells once. The gather into the shortlist task is bounded: ``4 * topk``
    vectors per scan task."""
    from rag_content_spark.functions.vector import (
        double_array_lit,
        euclidean,
        pq_adc_score,
        pq_adc_table,
    )

    meta = ic.read_meta(out_dir, FORMAT)
    codebook = _codebook(out_dir)
    id_col, embedding_col = meta["id_col"], meta["embedding_col"]
    import math

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    probes = sorted(
        (round(math.sqrt(d2(query_vec, vec)), 6), cid)
        for cid, vec in load_centroids(out_dir)
    )[:n_probe]
    cells = [int(c) for _, c in probes]

    index = ic.read_live(spark, out_dir, id_col, partitions=("cell", cells)).filter(
        F.col("cell").isin(cells)
    )
    table = pq_adc_table([float(x) for x in query_vec], codebook)
    adc = F.round(pq_adc_score("codes", table), 6)
    if not refine:
        return (
            index.select(id_col, adc.alias("adc"))
            .orderBy(F.asc("adc"), F.asc(id_col))
            .limit(topk)
        )
    qlit = double_array_lit(query_vec)
    return (
        index.select(id_col, adc.alias("adc"), embedding_col)
        .orderBy(F.asc("adc"), F.asc(id_col))
        .limit(4 * topk)
        .select(
            id_col,
            "adc",
            F.round(euclidean(F.col(embedding_col), qlit), 6).alias("exact"),
        )
        .orderBy(F.asc("exact"), F.asc(id_col))
        .limit(topk)
    )


def add_to_ann_index(
    new_emb: DataFrame,
    out_dir: str,
) -> dict:
    """Incremental add — the FAISS ``index.add()`` shape: the trained
    model (centroids + PQ codebook) is FROZEN; new vectors are assigned
    to their existing cells, PQ-encoded with the existing codebook, and
    committed as a new cell-partitioned segment (unique staging dir +
    hard-link commit claim — concurrent adds never collide or lose an
    ``n_vectors`` update; pinned by the threaded race test). Readers
    and the partition-pruned query path pick segments up with no
    rebuild. Column roles come from meta.json (id_col/embedding_col
    recorded at build). Returns the meta view after this add.

    Quantization drift is the documented trade (same as FAISS): adds
    do not move centroids, so after heavy growth rebuild with
    :func:`build_ann_index`. Id uniqueness across adds is the caller's
    contract (use ``incremental_dedup``/``index_upsert`` upstream when
    re-adds are possible). An add of no vectors claims nothing.
    """
    meta = ic.read_meta(out_dir, FORMAT)
    id_col, embedding_col = meta["id_col"], meta["embedding_col"]
    encoded = encode_segment(
        new_emb, load_centroids(out_dir), _codebook(out_dir), id_col, embedding_col
    )
    # counted during the write, not by a count() job ahead of it
    segment, counted = ic.write_segment(out_dir, encoded, _layout(meta), shuffle=False)
    stats = {"n_vectors": counted["n_vectors"]}
    if stats["n_vectors"]:
        ic.claim(out_dir, {"kind": "add", **segment, "stats": stats})
    else:
        ic.discard(out_dir, segment)
    return meta | ic.view_stats(*ic.live_view(out_dir))


def compact_ann_index(spark: SparkSession, out_dir: str) -> dict:
    """Compact the cell-partitioned segments after many
    :func:`add_to_ann_index` commits — one sorted file per cell instead
    of one file per (cell, add batch). Same protocol as the text
    sibling (plans/text_index.compact_text_index): stage a fresh
    segment, claim ONE ``compact`` commit recording ``base_version`` —
    an add racing the compaction stays live, a crash leaves the old
    view intact (no renames), and superseded segments are reclaimed by
    index_commit.vacuum_index. Model sidecars (centroids/codebook/meta)
    are untouched — compaction moves bytes, not rows. The per-cell sort
    key is the RECORDED id column (round-7 ADVICE: no more inference).
    Returns {n_files_before, n_files_after, n_rows}."""
    meta = ic.read_meta(out_dir, FORMAT)
    return ic.compact(spark, out_dir, meta["id_col"], _layout(meta))
