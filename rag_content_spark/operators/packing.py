"""Sequence packing: group documents into fixed token-budget buckets —
the batching step of a pretraining data pipeline (each bucket becomes
one training sequence / one shard file).

Scale design: a single global cumulative sum would serialize on one
partition, so documents are first sharded by a deterministic hash and
packed WITHIN each shard — the window partitions by shard, so N shards
give N-way parallel packing and shard boundaries are stable across runs
(restartable, engine-portable). At 100 TB, shards map 1:1 to output
files.

Size ``shards`` with the corpus: each shard's cumsum runs in ONE window
partition, so pick shards ≈ total_rows / (a few million) — e.g. 10k
shards for 10B documents. More shards only changes which bucket a doc
lands in, never correctness. The default (``shards=None``) derives the
count from the input's own partitioning — one shard per input split,
floored at 32 — so packing parallelism scales with the corpus instead of
capping at a literal. It reads the splits off the plan's leaves and
runs no Spark job (see :func:`input_splits`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from rag_content_spark.functions.hashing import stable_hash64
from rag_content_spark.functions.text import tokens

#: Bytes of file input per split: Spark's default
#: ``spark.sql.files.maxPartitionBytes``.
SPLIT_BYTES = 128 << 20


def input_splits(df: DataFrame) -> int:
    """The split count of ``df``'s largest input, read off the leaves of
    its logical plan without running a job:

    - a file scan counts ``ceil(file bytes / SPLIT_BYTES)``;
    - an RDD leaf (a checkpoint, an RDD-backed frame) counts its
      partitions, which a checkpoint already holds;
    - any other leaf (a local relation, a range) counts 1.

    ``df.rdd.getNumPartitions()`` gives the same kind of number for the
    plan's output, but under AQE it executes every shuffle stage of the
    plan to learn the coalesced partition count, and the action that
    follows runs them again.
    """
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    n = 1
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getSimpleName()
        if kind == "LogicalRelation":
            n = max(n, -(-leaf.relation().sizeInBytes() // SPLIT_BYTES))
        elif kind == "LogicalRDD":
            n = max(n, leaf.rdd().getNumPartitions())
    return n


def pack_sequences(
    docs: DataFrame,
    budget: int = 2048,
    shards: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "pack",
) -> DataFrame:
    """Assign each document a ``(shard, seq_bucket)`` packing slot.

    Documents are ordered by id within their hash-shard; the running
    token total places each doc in bucket ``floor(start_offset /
    budget)`` — contiguous greedy packing. Integer window arithmetic
    only, so the assignment is exactly reproducible for a given shard
    count. Pass ``shards`` explicitly when the layout must be stable
    across differently-partitioned reruns (e.g. oracle-pinned tests);
    the derived default is ``max(32, input_splits(docs))``, one shard
    per split of the largest input, and runs no job.

    Output: ``id, shard, n_tokens, seq_bucket``.
    """
    if shards is None:
        shards = max(32, input_splits(docs))
    shard = (
        stable_hash64(F.col(id_col).cast("string"), salt=salt) % shards
    ).alias("shard")
    with_counts = docs.select(
        F.col(id_col),
        shard,
        F.size(tokens(text_col)).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start_offset = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return with_counts.withColumn(
        "seq_bucket", F.floor(start_offset / budget).cast("bigint")
    )


def interleave_manifest(
    docs: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    shard_col: str | None = None,
) -> DataFrame:
    """Weighted-interleave training manifest: a deterministic global
    ordering in which source s appears with frequency proportional to
    ``weights[s]`` — the data-mixing schedule of a pretraining run
    (e.g. web:3, code:1 yields w,w,w,c,w,w,w,c,...).

    Classic weighted round-robin: document #rn of source s gets
    ``order_key = rn / weights[s]``; sorting by (order_key, source, id)
    interleaves sources at their weight ratios from step one (not in
    blocks). Pure integer ranks and one literal-double division — the
    same arithmetic renders exactly in any engine.

    Scale: a GLOBAL manifest is inherently a total order; at 100 TB pass
    ``shard_col`` to scope both windows per shard — each shard computes
    its own interleaved manifest in parallel (training jobs consume
    shards round-robin, preserving the mix in aggregate). Sources absent
    from ``weights`` are dropped (weight 0).

    Output: ``position, id, source`` (+ shard when scoped).
    """
    w_col = F.coalesce(
        *[
            F.when(F.col(source_col) == s, F.lit(float(w)))
            for s, w in sorted(weights.items())
        ]
    )
    kept = docs.filter(F.col(source_col).isin(list(weights)))
    if shard_col:
        # sharded path: both windows are PARTITIONED by shard — each
        # shard's manifest is one window partition, parallel across
        # shards (size your shards so one fits a task)
        rn_w = Window.partitionBy(shard_col, source_col).orderBy(id_col)
        pos_w = Window.partitionBy(shard_col).orderBy(
            "order_key", source_col, id_col
        )
        ranked = kept.select(
            F.col(shard_col),
            F.col(id_col),
            F.col(source_col),
            (F.row_number().over(rn_w).cast("double") / w_col).alias(
                "order_key"
            ),
        )
        return ranked.select(
            F.row_number().over(pos_w).cast("bigint").alias("position"),
            F.col(shard_col),
            F.col(id_col),
            F.col(source_col),
        )
    # GLOBAL manifest: both ranks via the distributed exact rank
    # (operators/ranking.py) — no corpus-sized single-task window.
    # Per-source rank = global rank over (source, id) minus the
    # source's first rank + 1 (sources are few: a broadcast map).
    from rag_content_spark.operators.ranking import exact_global_rank

    g1 = exact_global_rank(
        kept.select(id_col, source_col), [source_col, id_col], "_g"
    )
    firsts = {
        r[source_col]: r["m"]
        for r in g1.groupBy(source_col).agg(F.min("_g").alias("m")).collect()
    }
    first_expr = F.coalesce(
        *[
            F.when(F.col(source_col) == s, F.lit(int(m)))
            for s, m in sorted(firsts.items())
        ],
        F.lit(1),
    )
    ranked = g1.select(
        F.col(id_col),
        F.col(source_col),
        (
            (F.col("_g") - first_expr + 1).cast("double") / w_col
        ).alias("order_key"),
    )
    out = exact_global_rank(
        ranked, ["order_key", source_col, id_col], "position"
    )
    return out.select(
        F.col("position").cast("bigint"),
        F.col(id_col),
        F.col(source_col),
    )
