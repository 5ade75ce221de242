"""Streaming aggregations (north-star extension; the reference is
batch-only, SURVEY §2 'not present').

- watermarked tumbling-window counts: the streaming twin of the batch
  ``events_windowed`` query; late data beyond the watermark is dropped,
  state is bounded.
- stateful sessionization via applyInPandasWithState: the streaming twin
  of the batch ``sessionize`` query — per-user session state.

The stateful operators set no state timeout. A processing-time timeout
makes every trigger run a further no-data batch (Spark has to look for
expired keys), so an ``availableNow`` query over it never terminates.
Neither operator needs one: a session closes on the event-time gap of
its next event, and the as-of state is one (ts, value) per key.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

import pyspark.sql.types as T
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling event-time windows with a watermark bound on state.

    Works on both batch and streaming DataFrames (same plan — Spark's
    unified semantics); on a stream, output mode 'append' emits a window
    only once the watermark passes its end.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_duration), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("session_no", T.LongType()),
        T.StructField("last_ts_sec", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_no", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def _session_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user session accumulator: 30-min inactivity gap starts a new
    session. Emits the running (user, session, count) on every batch."""
    gap = 1800
    if state.exists:
        session_no, last_ts, n_events = state.get
    else:
        session_no, last_ts, n_events = 0, None, 0
    rows = []
    for pdf in pdfs:
        for ts_sec in sorted(pdf["ts_sec"].tolist()):
            if last_ts is None or ts_sec - last_ts > gap:
                if n_events:
                    rows.append((key[0], session_no, n_events))
                session_no += 1
                n_events = 0
            last_ts = ts_sec
            n_events += 1
    state.update((session_no, last_ts if last_ts is not None else -1, n_events))
    rows.append((key[0], session_no, n_events))
    yield pd.DataFrame(rows, columns=["user_id", "session_no", "n_events"])


def stateful_sessionize(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization with
    applyInPandasWithState (the Spark-native form of a custom stateful
    operator the reference could never express)."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


ASOF_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts", T.LongType()),
        T.StructField("last_value", T.DoubleType()),
    ]
)

ASOF_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_sec", T.LongType()),
        T.StructField("asof_ts", T.LongType()),
        T.StructField("asof_value", T.DoubleType()),
    ]
)


def _asof_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-key as-of state machine: reference rows ('r') update the
    carried (ts, value); probe rows ('p') emit with whatever reference
    state precedes them in event-time order. Within a batch, rows are
    processed time-sorted (reference before probe at equal ts — the
    non-strict contract of operators.temporal.asof_join)."""
    last_ts, last_value = state.get if state.exists else (None, None)
    rows = []
    for pdf in pdfs:
        recs = pdf.sort_values(["ts_sec", "_side"]).to_dict("records")
        for rec in recs:
            if rec["_side"] == 0:
                last_ts, last_value = rec["ts_sec"], rec["value"]
            else:
                rows.append(
                    (
                        key[0],
                        rec["event_id"],
                        rec["ts_sec"],
                        last_ts,
                        last_value,
                    )
                )
    state.update((last_ts if last_ts is not None else -1, last_value))
    yield pd.DataFrame(rows, columns=[f.name for f in ASOF_OUTPUT_SCHEMA])


def stateful_asof_enrich(
    probes: DataFrame, references: DataFrame
) -> DataFrame:
    """Streaming twin of ``operators.temporal.asof_join``: enrich each
    probe event with the latest prior reference value per user, carrying
    only (last_ts, last_value) per key as state — O(keys) state however
    long the stream runs.

    Both inputs are streams (or stream-shaped unions): they are tagged
    and unioned, then a single applyInPandasWithState group per user
    resolves order. Correct under micro-batch ordering as long as a
    batch's rows are time-sortable (event-time ordering inside the
    batch; cross-batch late data would need event-time timers, which
    applyInPandasWithState does not expose — documented limitation vs
    the batch operator)."""
    p = probes.select(
        "user_id",
        "event_id",
        "ts_sec",
        F.lit(None).cast("double").alias("value"),
        F.lit(1).alias("_side"),
    )
    r = references.select(
        "user_id",
        F.lit(None).cast("long").alias("event_id"),
        "ts_sec",
        "value",
        F.lit(0).alias("_side"),
    )
    return (
        p.unionByName(r)
        .groupBy("user_id")
        .applyInPandasWithState(
            _asof_fn,
            outputStructType=ASOF_OUTPUT_SCHEMA,
            stateStructType=ASOF_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_dedup(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup with bounded state:
    dropDuplicatesWithinWatermark keeps each key's state only until the
    watermark passes — the streaming twin of exact_dedup (a plain
    dropDuplicates on a stream would grow state forever)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def streaming_dedup_against_corpus(
    new_docs: DataFrame,
    corpus_bands: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Streaming incremental near-dup filter: drop streamed docs whose
    LSH band hash collides with the STATIC corpus band table (the
    materialized minhash_band_table snapshot).

    This is a stream-static join — Spark re-reads only the matching
    static partitions per micro-batch and keeps NO stream state for it,
    so the corpus can be arbitrarily large while the stream stays
    bounded. Collision-level filtering (no Jaccard verify) makes this
    the conservative fast gate; collided docs can be side-outputted to a
    batch verify instead of dropped when recall matters.

    No ``max_bucket_size`` here BY CONSTRUCTION (round-9 audit of the
    r8 stretch item): this path never enumerates in-bucket PAIRS — it
    anti-joins each stream row against the band table, so a degenerate
    band bucket of k corpus rows costs O(k) join probes (linear), not
    the O(k²) pair blowup the batch candidate paths cap. The batch
    siblings (minhash_lsh_candidates / embedding_neardup_pairs /
    dedup_against_corpus) all default the cap on.
    """
    from rag_content_spark.operators.dedup import (
        hashed_shingles,
        minhash_band_hashes,
    )

    # band hashes stay an ARRAY on the stream row (exploding would make
    # the anti-join stream-stream); the join condition indexes the array
    # with the static row's band number
    withb = new_docs.withColumn(
        "_bands",
        minhash_band_hashes(
            hashed_shingles(text_col, n=shingle_n), num_hashes, bands
        ),
    )
    cond = F.get(F.col("_bands"), F.col("band")) == F.col("band_hash")
    return withb.join(
        corpus_bands.select("band", "band_hash"), cond, "left_anti"
    ).drop("_bands")


def collect_dsir_ratio_map(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    buckets: int = 4096,
) -> dict[int, int]:
    """Materialize the DSIR (bucket -> fixed-point lr) table as a dict —
    the <= buckets-row model artifact a deployment ships to the scoring
    stream (same tiny-collect pattern as the k-means centroids)."""
    from rag_content_spark.operators.selection import dsir_log_ratio_table

    return {
        r["bucket"]: r["lr"]
        for r in dsir_log_ratio_table(raw, target, text_col, buckets).collect()
    }


def streaming_dsir_score(
    new_docs: DataFrame,
    ratio_map: dict[int, int],
    text_col: str = "text",
    buckets: int = 4096,
    threshold: float | None = None,
) -> DataFrame:
    """Stream-side DSIR scoring: adds ``logw_mean`` (per-ngram mean log
    importance weight — length-invariant) from a ratio map baked into
    the plan as a map literal.

    Completely STATELESS and shuffle-free: the ngram walk, the bucket
    hash, the map lookup, and the fixed-point integer sum are all
    narrow Column expressions, so every micro-batch scores rows as they
    arrive — the streaming twin of operators/selection.dsir_log_weights
    (which gets the same numbers from the distributed join). With
    ``threshold`` set, rows below it are dropped (the quality gate).
    """
    from rag_content_spark.functions.hashing import stable_hash64
    from rag_content_spark.operators.selection import LOG_SCALE, _ngram_array

    pairs: list = []
    for k, v in sorted(ratio_map.items()):
        pairs.extend([F.lit(int(k)), F.lit(int(v))])
    mp = F.create_map(*pairs) if pairs else F.create_map()
    from rag_content_spark.operators.dedup import let

    def _score(arr):
        lrs = F.transform(
            arr,
            lambda g: F.coalesce(
                mp[F.pmod(stable_hash64(g), F.lit(buckets))],
                F.lit(0).cast("bigint"),
            ),
        )
        total = F.aggregate(lrs, F.lit(0).cast("bigint"), lambda acc, x: acc + x)
        n = F.greatest(F.size(arr), F.lit(1))
        return F.round(
            total.cast("double") / F.lit(LOG_SCALE) / n.cast("double"), 6
        )

    scored = new_docs.withColumn("logw_mean", let(_ngram_array(text_col), _score))
    if threshold is not None:
        scored = scored.filter(F.col("logw_mean") >= F.lit(threshold))
    return scored


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join — the ad-attribution
    shape (impression joined to the click that follows it within
    ``within``).

    Both sides carry watermarks and the join condition bounds
    right_ts in [left_ts, left_ts + within], so Spark can expire join
    state: impression state lives until its window can no longer match
    under the right-side watermark, click state until the left-side
    watermark passes — WITHOUT the time bound the state would grow
    forever. At 100 TB this is the only viable stream-stream join
    shape; the batch twin is operators/temporal.range_join_banded.
    """
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {within}")
        )
    )
    return lw.join(rw, cond, "inner")


def start_sketch_stream(
    stream: DataFrame,
    value_col: str,
    table_dir: str,
    checkpoint_path: str,
    available_now: bool = True,
):
    """Stream -> per-micro-batch quantile sketches, APPENDED as
    versioned-table snapshots: the mergeable-sketch operating mode made
    streaming state. Each batch lands its own tiny (bucket, cnt) table
    (batch_id-idempotent, so replays are no-ops); the live sketch at
    any moment is ``qsketch_merge`` over the table — a bucket-sum of at
    most batches x 512 rows. No stateful streaming aggregation is
    needed because the sketch IS the commutative state (counts are
    linear); state never lives in the stream, only in the table log.
    """
    import json
    import os

    from rag_content_spark.operators.sketches import qsketch
    from rag_content_spark.sinks.versioned_table import write_snapshot

    def _query_id() -> "str | None":
        try:
            with open(os.path.join(checkpoint_path, "metadata")) as f:
                return json.load(f)["id"]
        except Exception:
            return None

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        write_snapshot(
            qsketch(batch_df, value_col), table_dir, mode="append",
            batch_id=batch_id, txn_app_id=_query_id(),
        )

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
