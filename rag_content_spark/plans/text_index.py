"""Persisted inverted text index: token-bucket-partitioned postings on
parquet + a lengths table + exact-integer corpus stats — keyword/BM25
lookup that reads ONLY the buckets containing the queried terms instead
of re-scanning the corpus per query (the text twin of the
cell-partitioned ANN index in plans/ann_index.py).

Layout (commit-logged since round 8):

    index_dir/
      meta.json                       static config {format, n_buckets,
                                      id_col, positions}
      data/p-<uuid>/bucket=NN/...     postings segments (one per writer)
      data/l-<uuid>/...parquet        lengths segments
      commits/snap-NNNNN.json         hard-link-claimed manifests:
                                      {kind: base|add|compact, dirs,
                                      stats: {n_docs, sum_dl}, ...}

Maintenance is CONCURRENCY-SAFE via plans/index_commit.py (the
versioned_table protocol): each add writes unique staging dirs and
claims a commit — no shared-directory appends, no meta.json
read-modify-write, so concurrent adds never lose a stats update and
BM25 idf/avgdl stay exact. Compaction absorbs the live view into one
segment and claims a ``compact`` commit recording ``base_version``; an
add racing the compaction stays live, and a crash mid-compact leaves
the old view fully intact (no renames — the round-7 ADVICE hole is
structurally gone). Pre-log indexes (bare ``postings/`` +
``lengths/`` + stats in meta.json) read transparently and upgrade on
their first logged write.

Scale shape: the build is one corpus scan -> explode -> groupBy
(doc, token) with map-side combine, then a single partitioned write;
a query computes its term buckets DRIVER-SIDE from the same stable
hash (no data touched), so every postings scan carries a
``bucket IN (...)`` partition filter — |terms| buckets read, not the
corpus (per-segment reads keep the filter in every scan; pinned in
tests). All of a term's postings live in exactly one bucket per
segment, so the per-term df window over the pruned read is the true
corpus df and scores are bit-identical to the on-the-fly scorer
(operators/search.bm25_scores shares bm25_from_postings).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from rag_content_spark.functions.hashing import stable_hash64
from rag_content_spark.functions.text import tokens
from rag_content_spark.plans import index_commit as ic

_SALT = "ti"


def _bucket_of(token: str, n_buckets: int) -> int:
    """Driver-side twin of the bucket expression (md5-based 60-bit
    hash mod n_buckets) — must match stable_hash64 exactly."""
    import hashlib

    h = int(hashlib.md5(f"{_SALT}:{token}".encode()).hexdigest()[:15], 16)
    return h % n_buckets


def _postings_of(
    docs: DataFrame, id_col: str, text_col: str, positions: bool
) -> DataFrame:
    """(id, token, tf[, positions]) — the positional variant stores each
    term's sorted in-document position array, enabling index-served
    phrase/proximity retrieval (operators/search.phrase_search /
    proximity_search run the same intersection algebra over these
    arrays instead of a corpus scan)."""
    from rag_content_spark.operators.search import postings

    if not positions:
        return postings(docs, id_col, text_col)
    return (
        docs.select(
            F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "token")
        )
        .groupBy(id_col, "token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.sort_array(F.collect_list("pos")).alias("positions"),
        )
    )


def _read_meta(out_dir: str) -> dict:
    with open(os.path.join(out_dir, "meta.json")) as f:
        return json.load(f)


def _legacy_root(meta: dict) -> dict:
    """Synthesized root for a pre-log index (stats live in meta.json,
    data in the bare postings/ + lengths/ dirs)."""
    return {
        "kind": "base",
        "version": 0,
        "base_version": 0,
        "dirs": {"postings": "postings", "lengths": "lengths"},
        "stats": {"n_docs": int(meta["n_docs"]), "sum_dl": int(meta["sum_dl"])},
    }


def _live(out_dir: str, meta: dict | None = None) -> tuple[dict, list[dict], dict]:
    """(root, adds, live stats) of the index's current view."""
    meta = meta or _read_meta(out_dir)
    legacy = _legacy_root(meta) if "n_docs" in meta else None
    root, adds = ic.live_view(out_dir, legacy_root=legacy)
    return root, adds, ic.view_stats(root, adds)


def _write_segment(
    docs: DataFrame,
    out_dir: str,
    id_col: str,
    text_col: str,
    n_buckets: int,
    positions: bool,
) -> tuple[dict, dict]:
    """Write one (postings, lengths) segment pair into unique staging
    dirs; returns (dirs, stats) for the commit record."""
    post = _postings_of(docs, id_col, text_col, positions).withColumn(
        "bucket",
        (stable_hash64(F.col("token"), salt=_SALT) % n_buckets).cast("int"),
    )
    p_dir = ic.staging_dir(out_dir, "p")
    (
        post.repartition(n_buckets, "bucket")
        .write.mode("errorifexists")
        .partitionBy("bucket")
        .parquet(os.path.join(out_dir, p_dir))
    )
    lengths = docs.select(F.col(id_col), F.size(tokens(text_col)).alias("dl"))
    l_dir = ic.staging_dir(out_dir, "l")
    lengths.write.mode("errorifexists").parquet(os.path.join(out_dir, l_dir))
    # stats from the STAGED files, not a second plan execution; this
    # read infers the segment's schema once for every later reader
    row = (
        ic.read_segment(docs.sparkSession, os.path.join(out_dir, l_dir))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
        .collect()[0]
    )
    return (
        {"postings": p_dir, "lengths": l_dir},
        {"n_docs": int(row["n"]), "sum_dl": int(row["s"] or 0)},
    )


def build_text_index(
    docs: DataFrame,
    out_dir: str,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    positions: bool = False,
) -> dict:
    """Build + write; returns {config..., n_docs, sum_dl}.
    ``positions=True`` stores per-(doc, token) sorted position arrays
    alongside tf (meta records the flag; BM25 lookup ignores the extra
    column, phrase/proximity lookup requires it)."""
    os.makedirs(out_dir, exist_ok=True)
    dirs, stats = _write_segment(
        docs, out_dir, id_col, text_col, n_buckets, positions
    )
    meta = {
        "format": "rag-spark-text/2",
        "n_buckets": n_buckets,
        "id_col": id_col,
        "positions": bool(positions),
    }
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=2)
    ic.claim(out_dir, {"kind": "base", "dirs": dirs, "stats": stats})
    return meta | stats


def _tombstones(
    spark: SparkSession, out_dir: str, root: dict, adds: list[dict], id_col: str
) -> DataFrame | None:
    """Distinct deleted ids across the live view's tombstone segments,
    or None when no delete commit is live."""
    dirs = ic.view_dirs(root, adds, "deletes")
    if not dirs:
        return None
    return ic.read_union(spark, out_dir, dirs).select(id_col).distinct()


def _minus_deleted(df: DataFrame, dels: DataFrame | None, id_col: str) -> DataFrame:
    return df if dels is None else df.join(dels, id_col, "left_anti")


def _pruned_postings(
    spark: SparkSession, out_dir: str, terms: list[str]
) -> tuple[DataFrame, DataFrame, dict, dict]:
    """(postings for terms — partition-pruned per segment and net of
    tombstones, lengths, meta, live stats)."""
    meta = _read_meta(out_dir)
    root, adds, stats = _live(out_dir, meta)
    buckets = sorted({_bucket_of(t, meta["n_buckets"]) for t in terms})
    dels = _tombstones(spark, out_dir, root, adds, meta["id_col"])
    post = _minus_deleted(
        ic.read_union(spark, out_dir, ic.view_dirs(root, adds, "postings"))
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("token").isin(terms))
        .drop("bucket"),
        dels,
        meta["id_col"],
    )
    lengths = _minus_deleted(
        ic.read_union(spark, out_dir, ic.view_dirs(root, adds, "lengths")),
        dels,
        meta["id_col"],
    )
    return post, lengths, meta, stats


def query_text_index(
    spark: SparkSession,
    out_dir: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(id, bm25) for the matching documents — partition-pruned read:
    only the buckets of ``terms`` are scanned, in every live segment."""
    from rag_content_spark.operators.search import bm25_from_postings

    post, lengths, meta, live = _pruned_postings(spark, out_dir, terms)
    # avgdl from exact integer sums in the commit log — identical to the
    # on-the-fly corpus_stats aggregate, and never stale under
    # concurrent adds (each add's delta is its own claimed commit);
    # a fully-deleted index has no postings, so the avgdl value is moot
    n_docs = live["n_docs"]
    # a one-row literal projection: createDataFrame over local rows would
    # scan an RDD through a Python-worker job on every query
    stats = spark.range(1).select(
        F.lit(n_docs).cast("long").alias("n_docs"),
        F.lit(float(live["sum_dl"]) / n_docs if n_docs else 0.0).alias("avgdl"),
    )
    return bm25_from_postings(
        post, lengths, stats, id_col=meta["id_col"], k1=k1, b=b
    )


def _pruned_positional_read(
    spark: SparkSession, out_dir: str, terms: list[str]
) -> tuple[DataFrame, dict]:
    """Partition-pruned positional postings for ``terms``; raises if the
    index was built without positions."""
    meta = _read_meta(out_dir)
    if not meta.get("positions"):
        raise ValueError(
            "index was built without positions=True — phrase/proximity "
            "lookup needs the positional postings"
        )
    root, adds, _stats = _live(out_dir, meta)
    buckets = sorted({_bucket_of(t, meta["n_buckets"]) for t in terms})
    dels = _tombstones(spark, out_dir, root, adds, meta["id_col"])
    post = _minus_deleted(
        ic.read_union(spark, out_dir, ic.view_dirs(root, adds, "postings"))
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("token").isin(terms))
        .select(meta["id_col"], "token", "positions"),
        dels,
        meta["id_col"],
    )
    return post, meta


def phrase_query_text_index(
    spark: SparkSession, out_dir: str, phrase: str
) -> DataFrame:
    """Index-served exact phrase match: same offset-shifted
    position-set intersection as operators/search.phrase_search, but
    over the STORED per-(doc, token) position arrays — every segment
    read carries a ``bucket IN (...)`` partition filter, so only the
    phrase's token buckets are scanned, never the corpus. Results are
    bit-identical to the corpus-scan operator (pinned in tests)."""
    terms = [t for t in phrase.split() if t]
    if not terms:
        raise ValueError("phrase must contain at least one token")
    post, meta = _pruned_positional_read(spark, out_dir, terms)
    id_col = meta["id_col"]
    # (doc, token) is unique in the live view (id uniqueness across adds
    # is the caller's contract), so per-term pickup is a conditional
    # first(); a term absent from a doc leaves NULL and the intersection
    # nulls out (size(NULL) = -1 fails the > 0 gate)
    aggs = [
        F.first(
            F.when(F.col("token") == t, F.col("positions")), ignorenulls=True
        ).alias(f"_p{i}")
        for i, t in enumerate(terms)
    ]
    per_doc = post.groupBy(id_col).agg(*aggs)
    inter = F.col("_p0")
    for i in range(1, len(terms)):
        # the transform Column is built EAGERLY this iteration, so the
        # 1-arg lambda's closure over the loop variable is safe (the
        # 2-arg form would receive the array index — repo gotcha)
        off = F.lit(i)
        inter = F.array_intersect(
            inter, F.transform(F.col(f"_p{i}"), lambda p: p - off)
        )
    return (
        per_doc.select(
            F.col(id_col), F.size(inter).cast("bigint").alias("n_occurrences")
        )
        .filter(F.col("n_occurrences") > 0)
    )


def proximity_query_text_index(
    spark: SparkSession, out_dir: str, terms: list[str], window: int = 6
) -> DataFrame:
    """Index-served unordered proximity match (the slop-window sibling;
    operators/search.proximity_search semantics): valid-start interval
    expansion over the stored position arrays, doc length from the
    lengths table joined only against candidate docs."""
    terms = list(dict.fromkeys(t for t in terms if t))
    if not terms:
        raise ValueError("terms must contain at least one token")
    w = int(window)
    if w < 1:
        raise ValueError("window must be >= 1")
    post, meta = _pruned_positional_read(spark, out_dir, terms)
    id_col = meta["id_col"]
    aggs = [
        F.first(
            F.when(F.col("token") == t, F.col("positions")), ignorenulls=True
        ).alias(f"_p{i}")
        for i, t in enumerate(terms)
    ]
    per_doc = post.groupBy(id_col).agg(*aggs)
    root, adds, _stats = _live(out_dir, meta)
    # the postings side is already net of tombstones; the inner lengths
    # join keeps only surviving docs, so no second anti-join needed
    lengths = ic.read_union(
        spark, out_dir, ic.view_dirs(root, adds, "lengths")
    ).select(F.col(id_col), F.col("dl").alias("_len"))
    per_doc = per_doc.join(lengths, id_col).filter(F.col("_len") >= w)

    def _starts(col):
        return F.array_distinct(
            F.flatten(
                F.transform(
                    col,
                    lambda p: F.sequence(
                        F.greatest(p - F.lit(w - 1), F.lit(0)),
                        F.least(p, F.col("_len") - F.lit(w)),
                    ),
                )
            )
        )

    inter = _starts(F.col("_p0"))
    for i in range(1, len(terms)):
        inter = F.array_intersect(inter, _starts(F.col(f"_p{i}")))
    return (
        per_doc.select(
            F.col(id_col), F.size(inter).cast("bigint").alias("n_windows")
        )
        .filter(F.col("n_windows") > 0)
    )


def add_to_text_index(
    docs: DataFrame,
    out_dir: str,
    text_col: str = "text",
) -> dict:
    """Incremental add (sibling of ann_index.add_to_ann_index): the new
    documents' postings + lengths land in UNIQUE staging dirs and one
    ``add`` commit claims them — concurrent adds serialize through the
    hard-link claim with no lost stats and no shared-directory append
    (pinned by the threaded race test). Per-term df is a window over
    the live postings at query time, so adds need no df rewrite. Id
    uniqueness across adds is the caller's contract. Returns
    {config..., n_docs, sum_dl} of the view after this add."""
    meta = _read_meta(out_dir)
    if "n_docs" in meta:  # pre-log index: upgrade first
        ic.ensure_base(out_dir, _legacy_root(meta))
    dirs, stats = _write_segment(
        docs,
        out_dir,
        meta["id_col"],
        text_col,
        meta["n_buckets"],
        bool(meta.get("positions")),
    )
    ic.claim(out_dir, {"kind": "add", "dirs": dirs, "stats": stats})
    _root, _adds, live = _live(out_dir, meta)
    return {
        k: v for k, v in meta.items() if k not in ("n_docs", "sum_dl")
    } | live


def delete_from_text_index(
    spark: SparkSession,
    out_dir: str,
    ids,
) -> dict:
    """Delete documents by id — the GDPR/re-crawl maintenance op that
    completes the commit-log triple (add/delete/compact): ``ids`` (a
    list or a one-column DataFrame) lands as a TOMBSTONE segment and
    one ``delete`` commit claims it with exact negative stats deltas
    (computed against the live view, so deleting an absent or
    already-deleted id is a no-op in the stats). Readers anti-join live
    tombstones; compaction materializes the surviving rows and drops
    the tombstones physically; vacuum reclaims them. Id re-use after a
    delete is outside the contract (same uniqueness rule as adds).

    Concurrency note: the negative stats delta is computed against the
    live view BEFORE the claim, so two concurrent deletes of
    overlapping ids (or a delete racing an add of those ids) can
    write-skew the accumulated n_docs/sum_dl — row-level results stay
    exact (the anti-join is idempotent), only the BM25 idf/avgdl
    normalizers drift. This skew is outside the per-commit contract and
    SELF-HEALS at the next :func:`compact_text_index`, which recomputes
    stats from the materialized survivors.
    Returns {config..., n_docs, sum_dl} of the view after the delete."""
    meta = _read_meta(out_dir)
    if "n_docs" in meta:
        ic.ensure_base(out_dir, _legacy_root(meta))
    id_col = meta["id_col"]
    if not isinstance(ids, DataFrame):
        ids = spark.createDataFrame([(i,) for i in ids], [id_col])
    ids = ids.select(F.col(ids.columns[0]).alias(id_col)).distinct()
    root, adds, _stats = _live(out_dir, meta)
    dels = _tombstones(spark, out_dir, root, adds, id_col)
    live_lengths = _minus_deleted(
        ic.read_union(spark, out_dir, ic.view_dirs(root, adds, "lengths")),
        dels,
        id_col,
    )
    hit = live_lengths.join(ids, id_col, "leftsemi")
    row = hit.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    ).collect()[0]
    d_dir = ic.staging_dir(out_dir, "d")
    ids.write.mode("errorifexists").parquet(os.path.join(out_dir, d_dir))
    ic.claim(
        out_dir,
        {
            "kind": "delete",
            "dirs": {"deletes": d_dir},
            "stats": {
                "n_docs": -int(row["n"]),
                "sum_dl": -int(row["s"] or 0),
            },
        },
    )
    _root, _adds, live = _live(out_dir, meta)
    return {
        k: v for k, v in meta.items() if k not in ("n_docs", "sum_dl")
    } | live


def _count_parquet_files(out_dir: str, rel_dirs: list[str]) -> int:
    n = 0
    for rel in rel_dirs:
        for _root, _dirs, files in os.walk(os.path.join(out_dir, rel)):
            n += sum(1 for fn in files if fn.endswith(".parquet"))
    return n


def compact_text_index(spark: SparkSession, out_dir: str) -> dict:
    """Compact the postings after many :func:`add_to_text_index` appends:
    rewrite the live view's accumulated segments into ONE segment with
    one sorted file per token bucket (the OPTIMIZE/small-files
    maintenance step every append-only lake table needs — query latency
    degrades with file count, not bytes).

    Safe shape: the rewrite stages into a unique data dir and a single
    ``compact`` commit claims it, recording ``base_version`` = the
    highest version absorbed — an add claimed while the compaction ran
    stays live, a crash at ANY point leaves the old view untouched
    (there are no renames), and superseded segments are reclaimed later
    by :func:`vacuum_text_index`. Delete tombstones in the absorbed
    range are applied physically (masked rows do not reach the new
    segment) and drop out of the live view. Stats are RECOMPUTED from
    the materialized survivors (not carried over), so any write-skew
    drift from concurrent overlapping deletes self-heals here. Returns
    {n_files_before, n_files_after, n_rows} over the live view.
    """
    meta = _read_meta(out_dir)
    if "n_docs" in meta:
        ic.ensure_base(out_dir, _legacy_root(meta))
    root, adds, live = _live(out_dir, meta)
    base_version = max(
        [root["version"]] + [a["version"] for a in adds]
    )
    p_dirs = ic.view_dirs(root, adds, "postings")
    l_dirs = ic.view_dirs(root, adds, "lengths")
    before = _count_parquet_files(out_dir, p_dirs)
    dels = _tombstones(spark, out_dir, root, adds, meta["id_col"])
    post = _minus_deleted(
        ic.read_union(spark, out_dir, p_dirs), dels, meta["id_col"]
    )
    n_rows = post.count()
    p_dir = ic.staging_dir(out_dir, "p")
    (
        post.repartition(meta["n_buckets"], "bucket")
        .sortWithinPartitions("bucket", "token", meta["id_col"])
        .write.mode("errorifexists")
        .partitionBy("bucket")
        .parquet(os.path.join(out_dir, p_dir))
    )
    l_dir = ic.staging_dir(out_dir, "l")
    _minus_deleted(
        ic.read_union(spark, out_dir, l_dirs), dels, meta["id_col"]
    ).coalesce(1).write.mode("errorifexists").parquet(
        os.path.join(out_dir, l_dir)
    )
    # EXACT stats recomputed from the STAGED survivor lengths, not the
    # delta-summed live totals: concurrent overlapping deletes (or a
    # delete racing an add of the same ids) can write-skew the
    # accumulated n_docs/sum_dl, drifting BM25 idf/avgdl even though
    # row-level results stay correct (anti-join is idempotent).
    # Recomputing against the materialized bytes makes every compaction
    # a self-healing point for that drift.
    srow = (
        ic.read_segment(spark, os.path.join(out_dir, l_dir))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
        .collect()[0]
    )
    exact = {"n_docs": int(srow["n"]), "sum_dl": int(srow["s"] or 0)}
    ic.claim(
        out_dir,
        {
            "kind": "compact",
            "base_version": base_version,
            "dirs": {"postings": p_dir, "lengths": l_dir},
            "stats": exact,
        },
    )
    new_root, new_adds, _s = _live(out_dir, meta)
    return {
        "n_files_before": before,
        "n_files_after": _count_parquet_files(
            out_dir, ic.view_dirs(new_root, new_adds, "postings")
        ),
        "n_rows": n_rows,
    }


def vacuum_text_index(out_dir: str) -> int:
    """Reclaim segments superseded by compaction; see
    index_commit.vacuum_index. Returns directories removed."""
    return ic.vacuum_index(out_dir)
