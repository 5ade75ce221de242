"""Persisted inverted text index: token-bucket-partitioned postings on
parquet + exact-integer corpus stats — keyword/BM25 lookup that reads
ONLY the buckets containing the queried terms instead of re-scanning
the corpus per query (the text twin of the cell-partitioned ANN index
in plans/ann_index.py).

Layout (format ``rag-spark-text/4``, commit-logged):

    index_dir/
      meta.json                       static config {format, n_buckets,
                                      id_col, positions}
      data/s-<uuid>/bucket=NN/...     postings segments (one per writer):
                                      (id, dl, token, tf[, positions])
      data/s-<uuid>/bucket=-1/...     the same segment's length rows:
                                      (id, dl, NULL, 1[, [dl]])
      data/d-<uuid>/...parquet        delete tombstones (ids)
      commits/snap-NNNNN.json         hard-link-claimed manifests:
                                      {kind: base|add|delete|compact,
                                      dir, schema, stats: {n_docs,
                                      sum_dl}, ...}

Every postings row carries its document's length ``dl``, and every
document, one without a token included, has one LENGTH ROW — token
NULL, tf 1 — in the reserved partition ``bucket=-1``. A segment is
therefore one write of one tokenizing pass (:func:`_postings_of`), and
its stats are observed on that write. A term read's ``bucket IN
(...)`` filter never names the reserved partition, so a BM25, phrase or
proximity read scans only the buckets of its terms; a delete's negative
stats read only the length rows (the layout's ``stats_rows``).

Format rule: this module reads and writes ``rag-spark-text/4`` only.
An index of an older format is refused with a ``ValueError`` naming its
directory and format, before any Spark job (index_commit.read_meta):
rebuild it with :func:`build_text_index`.

plans/index_commit.py owns the live view — the segment write, the
tombstone anti-join, the delete and compact commits, vacuum — and this
module states only its layout (:func:`_layout`): one component
partitioned and sorted by token bucket, whose length rows carry the
BM25 stats. Maintenance is CONCURRENCY-SAFE through that commit log:
each add writes a unique staging dir and claims a commit — no
shared-directory appends, no meta.json read-modify-write, so concurrent
adds never lose a stats update and BM25 idf/avgdl stay exact; a
compaction racing an add or a delete keeps it live, and a crash
mid-compact leaves the old view intact.

Scale shape: the build is one corpus scan -> explode -> groupBy
(doc, token) with map-side combine, then a single partitioned write
whose reducer count AQE sizes from the shuffle (a 4-document add runs
one reducer); a query computes its term buckets DRIVER-SIDE from the
same stable hash (no data touched), so every postings scan carries a
``bucket IN (...)`` partition filter — |terms| buckets read, not the
corpus (per-segment reads keep the filter in every scan; pinned in
tests). The read names those ``bucket=NN`` directories
(index_commit.read_union), not the segment roots: Spark lists a path
of more than 32 subdirectories
(``spark.sql.sources.parallelPartitionDiscovery.threshold``) with a
distributed job, and a segment at the default 32 buckets holds 33: a
read of the roots would run one listing job per segment on every query
and delete. A segment that holds none of the query's buckets is not read
at all. The cliff remains for a query whose terms fall in more than 32
distinct buckets: it names more than 32 paths of a segment, and Spark
lists those with a job. All of a term's postings live in exactly one
bucket per segment, so the per-term df window over the pruned read is
the true corpus df and scores are bit-identical to the on-the-fly
scorer (operators/search.bm25_scores shares bm25_from_postings).
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


FORMAT = "rag-spark-text/4"
# the partition of the length rows; no term hashes to it
LENGTHS_BUCKET = -1


def _postings_of(docs: DataFrame, meta: dict, text_col: str) -> DataFrame:
    """(id, dl, token, tf[, positions], bucket) of one segment: every
    (doc, token) posting plus one length row per document. The
    tokenizing projection is exploded with one NULL token appended, so
    the ``groupBy`` yields each document's ``(id, dl, NULL, 1)`` row
    next to its postings from the one tokenization. The positional
    variant stores each term's sorted in-document position array
    (a length row's is ``[dl]``), enabling index-served
    phrase/proximity retrieval (operators/search.phrase_search /
    proximity_search run the same intersection algebra over these
    arrays instead of a corpus scan)."""
    id_col = meta["id_col"]
    tk = docs.select(F.col(id_col), tokens(text_col).alias("_tk"))
    # a NULL text has no token but still a length row
    with_end = F.concat(
        F.coalesce("_tk", F.array().cast("array<string>")),
        F.array(F.lit(None).cast("string")),
    )
    aggs = [F.count(F.lit(1)).alias("tf")]
    if meta["positions"]:
        exploded = F.posexplode(with_end).alias("pos", "token")
        aggs.append(F.sort_array(F.collect_list("pos")).alias("positions"))
    else:
        exploded = F.explode(with_end).alias("token")
    bucket = stable_hash64(F.col("token"), salt=_SALT) % meta["n_buckets"]
    return (
        tk.select(F.col(id_col), F.size("_tk").alias("dl"), exploded)
        .groupBy(id_col, "dl", "token")
        .agg(*aggs)
        .withColumn(
            "bucket",
            F.when(F.col("token").isNull(), LENGTHS_BUCKET)
            .otherwise(bucket)
            .cast("int"),
        )
    )


# the BM25 corpus stats, as aggregates over a segment's length rows
_STATS = {
    "n_docs": "count(CASE WHEN token IS NULL THEN 1 END)",
    "sum_dl": "sum(CASE WHEN token IS NULL THEN dl END)",
}


def _layout(meta: dict) -> ic.Component:
    return ic.Component(
        "bucket",
        ("bucket", "token", meta["id_col"]),
        _STATS,
        (LENGTHS_BUCKET,),
    )


def _write_segment(docs: DataFrame, out_dir: str, meta: dict, text_col: str):
    """Write one segment into a unique staging dir; returns (segment,
    stats) for the commit record, the stats observed on the write."""
    segment, counted = ic.write_segment(
        out_dir, _postings_of(docs, meta, text_col), _layout(meta)
    )
    return segment, {k: counted[k] for k in _STATS}


def build_text_index(
    docs: DataFrame,
    out_dir: str,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    positions: bool = False,
) -> dict:
    """Build + write a ``rag-spark-text/4`` index; returns {config...,
    n_docs, sum_dl}. ``positions=True`` stores per-(doc, token) sorted
    position arrays alongside tf (meta records the flag; BM25 lookup
    ignores the extra column, phrase/proximity lookup requires it)."""
    os.makedirs(out_dir, exist_ok=True)
    meta = {
        "format": FORMAT,
        "n_buckets": n_buckets,
        "id_col": id_col,
        "positions": bool(positions),
    }
    segment, stats = _write_segment(docs, out_dir, meta, text_col)
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=2)
    ic.claim(out_dir, {"kind": "base", **segment, "stats": stats})
    return meta | stats


def live_postings(spark: SparkSession, out_dir: str) -> DataFrame:
    """The live term postings (id, dl, token, tf[, positions], bucket):
    every live segment net of tombstones, without the length rows."""
    meta = ic.read_meta(out_dir, FORMAT)
    return ic.read_live(spark, out_dir, meta["id_col"]).filter(
        F.col("bucket") != LENGTHS_BUCKET
    )


def _pruned_read(
    spark: SparkSession, out_dir: str, terms: list[str], cols: tuple[str, ...]
) -> tuple[DataFrame, dict, tuple[dict, list[dict]]]:
    """(postings for ``terms`` as (id, token, *cols), meta, live view):
    each live segment is read from the directories of the terms'
    buckets only, every scan carries the ``bucket IN (...)`` partition
    filter, and the rows are net of tombstones. Asking for
    ``positions`` raises if the index was built without them."""
    meta = ic.read_meta(out_dir, FORMAT)
    if "positions" in cols and not meta["positions"]:
        raise ValueError(
            "index was built without positions=True — phrase/proximity "
            "lookup needs the positional postings"
        )
    id_col = meta["id_col"]
    view = ic.live_view(out_dir)
    buckets = sorted({_bucket_of(t, meta["n_buckets"]) for t in terms})
    post = (
        ic.read_live(spark, out_dir, id_col, view, ("bucket", buckets))
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("token").isin(terms))
    )
    return post.select(id_col, "token", *cols), meta, view


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

    post, meta, view = _pruned_read(spark, out_dir, terms, ("tf", "dl"))
    live = ic.view_stats(*view)
    # avgdl from exact integer sums in the commit log — identical to the
    # on-the-fly corpus_stats aggregate, and never stale under
    # concurrent adds (each add's delta is its own claimed commit);
    # a fully-deleted index has no postings, so the avgdl value is moot.
    # Literals, not a one-row stats table: no broadcast job per read
    n_docs = live["n_docs"]
    avgdl = float(live["sum_dl"]) / n_docs if n_docs else 0.0
    return bm25_from_postings(
        post, None, (n_docs, avgdl), id_col=meta["id_col"], k1=k1, b=b
    )


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
    post, meta, _view = _pruned_read(spark, out_dir, terms, ("positions",))
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
    postings."""
    terms = list(dict.fromkeys(t for t in terms if t))
    if not terms:
        raise ValueError("terms must contain at least one token")
    w = int(window)
    if w < 1:
        raise ValueError("window must be >= 1")
    post, meta, _view = _pruned_read(spark, out_dir, terms, ("positions", "dl"))
    id_col = meta["id_col"]
    aggs = [
        F.first(
            F.when(F.col("token") == t, F.col("positions")), ignorenulls=True
        ).alias(f"_p{i}")
        for i, t in enumerate(terms)
    ]
    per_doc = (
        post.filter(F.col("dl") >= w)
        .groupBy(id_col, F.col("dl").alias("_len"))
        .agg(*aggs)
    )

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
    documents' postings and length rows land in a UNIQUE staging dir
    and one ``add`` commit claims it — concurrent adds serialize through
    the hard-link claim with no lost stats and no shared-directory
    append (pinned by the threaded race test). Per-term df is a window
    over the live postings at query time, so adds need no df rewrite.
    Id uniqueness across adds is the caller's contract. An add of no
    documents claims nothing; documents without a token still add
    their length rows. Returns {config..., n_docs, sum_dl} of the view
    after this add."""
    meta = ic.read_meta(out_dir, FORMAT)
    segment, stats = _write_segment(docs, out_dir, meta, text_col)
    if stats["n_docs"]:
        ic.claim(out_dir, {"kind": "add", **segment, "stats": stats})
    else:
        ic.discard(out_dir, segment)
    return meta | ic.view_stats(*ic.live_view(out_dir))


def delete_from_text_index(
    spark: SparkSession,
    out_dir: str,
    ids,
) -> dict:
    """Delete documents by id (``ids``: a list or a one-column
    DataFrame) — one tombstone segment and one ``delete`` commit with
    exact negative n_docs/sum_dl deltas, read from the length rows only;
    see index_commit.delete_ids for the protocol and its write-skew note
    (overlapping concurrent deletes drift the BM25 normalizers until the
    next :func:`compact_text_index`). Returns {config..., n_docs,
    sum_dl} of the view after the delete."""
    meta = ic.read_meta(out_dir, FORMAT)
    return meta | ic.delete_ids(spark, out_dir, ids, meta["id_col"], _layout(meta))


def compact_text_index(spark: SparkSession, out_dir: str) -> dict:
    """Compact the postings after many :func:`add_to_text_index` appends:
    rewrite the live view, net of tombstones, into ONE segment with one
    sorted file per token bucket (the length rows' bucket included),
    with n_docs and sum_dl recounted from the survivors on the write;
    see index_commit.compact for the protocol. Returns {n_files_before,
    n_files_after, n_rows} of the segments (length rows included)."""
    meta = ic.read_meta(out_dir, FORMAT)
    return ic.compact(spark, out_dir, meta["id_col"], _layout(meta))
