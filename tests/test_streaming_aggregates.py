import json
import time

import pyspark.sql.types as T
from pyspark.sql import functions as F

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _write_events(path, rows):
    with open(path / "events.json", "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def test_windowed_counts_with_watermark(spark, tmp_path):
    from rag_content_spark.streaming.aggregate import windowed_event_counts

    src = tmp_path / "in"
    src.mkdir()
    _write_events(
        src,
        [
            {"event_id": 1, "ts": "2024-01-01 00:10:00", "user_id": 1, "event_type": "click", "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01 00:40:00", "user_id": 1, "event_type": "click", "value": 2.0},
            {"event_id": 3, "ts": "2024-01-01 01:10:00", "user_id": 2, "event_type": "view", "value": 3.0},
        ],
    )
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .json(str(src), timestampFormat="yyyy-MM-dd HH:mm:ss")
    )
    out = windowed_event_counts(stream, "1 hour", "2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"].hour, r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got == {(0, "click"): 2, (1, "view"): 1}


def test_stateful_sessionize_stream(spark, tmp_path):
    from rag_content_spark.streaming.aggregate import stateful_sessionize

    src = tmp_path / "in"
    src.mkdir()
    base = 1704067200
    rows = [
        {"user_id": 1, "ts_sec": base},
        {"user_id": 1, "ts_sec": base + 60},       # same session
        {"user_id": 1, "ts_sec": base + 60 + 4000}, # gap > 30min: new session
        {"user_id": 2, "ts_sec": base},
    ]
    with open(src / "e.json", "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("ts_sec", T.LongType())]
    )
    stream = spark.readStream.schema(schema).json(str(src))
    q = (
        stateful_sessionize(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120) is True
    finally:
        q.stop()
    got = {
        (r["user_id"], r["session_no"]): r["n_events"]
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    # user 1: session 1 closed with 2 events, session 2 running with 1;
    # user 2: session 1 running with 1 event
    assert got[(1, 1)] == 2 and got[(1, 2)] == 1 and got[(2, 1)] == 1


def test_windowed_counts_batch_twin(spark):
    """The same windowed_event_counts plan runs in batch (unified API)."""
    from rag_content_spark.streaming.aggregate import windowed_event_counts

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00", 1, "click", 1.0)],
        ["event_id", "ts_str", "user_id", "event_type", "value"],
    ).withColumn("ts", F.to_timestamp("ts_str"))
    got = windowed_event_counts(df).collect()
    assert got[0]["n_events"] == 1


def test_streaming_dedup_with_watermark(spark, tmp_path):
    from rag_content_spark.streaming.aggregate import streaming_dedup

    src = tmp_path / "in"
    src.mkdir()
    rows = [
        {"k": "a", "ts": "2024-01-01 00:00:00"},
        {"k": "a", "ts": "2024-01-01 00:10:00"},  # duplicate key within watermark
        {"k": "b", "ts": "2024-01-01 00:20:00"},
    ]
    with open(src / "e.json", "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("ts", T.TimestampType())]
    )
    stream = spark.readStream.schema(schema).json(
        str(src), timestampFormat="yyyy-MM-dd HH:mm:ss"
    )
    q = (
        streaming_dedup(stream, ["k"], watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["k"] for r in spark.sql("SELECT k FROM dedup_stream").collect())
    assert got == ["a", "b"]


def test_stateful_asof_enrich_stream(spark, tmp_path):
    from rag_content_spark.streaming.aggregate import stateful_asof_enrich

    src = tmp_path / "asof_in"
    src.mkdir()
    base = 1704067200
    rows = [
        # user 1: click@base (0.5), purchase@base+100, click@base+200 (0.9),
        # purchase@base+300; user 2: purchase with no prior click
        {"user_id": 1, "event_id": None, "ts_sec": base, "value": 0.5, "_side": 0},
        {"user_id": 1, "event_id": 10, "ts_sec": base + 100, "value": None, "_side": 1},
        {"user_id": 1, "event_id": None, "ts_sec": base + 200, "value": 0.9, "_side": 0},
        {"user_id": 1, "event_id": 11, "ts_sec": base + 300, "value": None, "_side": 1},
        {"user_id": 2, "event_id": 20, "ts_sec": base, "value": None, "_side": 1},
    ]
    with open(src / "e.json", "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_sec", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("_side", T.IntegerType()),
        ]
    )
    stream = spark.readStream.schema(schema).json(str(src))
    probes = stream.filter(F.col("_side") == 1).select(
        "user_id", "event_id", "ts_sec"
    )
    refs = stream.filter(F.col("_side") == 0).select(
        "user_id", "ts_sec", "value"
    )
    q = (
        stateful_asof_enrich(probes, refs)
        .writeStream.format("memory")
        .queryName("asof_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120) is True
    finally:
        q.stop()
    got = {
        r["event_id"]: (r["asof_ts"], r["asof_value"])
        for r in spark.sql("SELECT * FROM asof_out").collect()
    }
    assert got[10] == (base, 0.5)
    assert got[11] == (base + 200, 0.9)
    assert got[20] == (None, None)


def test_streaming_dsir_score_matches_batch_weights(spark, tmp_path):
    """The stream-side map-literal scorer must reproduce the batch
    dsir_log_weights numbers (logw / n_ngrams) exactly."""
    import json

    from rag_content_spark.operators.selection import dsir_log_weights
    from rag_content_spark.streaming.aggregate import (
        collect_dsir_ratio_map,
        streaming_dsir_score,
    )

    rows = [
        (1, "tgt", "vector index retrieval ranks documents by cosine score"),
        (2, "tgt", "the retrieval index returns top documents by score"),
        (3, "raw", "bananas and oranges are stacked in the market crates"),
        (4, "raw", "crates of bananas ship to the market every morning"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "kind", "text"])
    target = docs.filter(F.col("kind") == "tgt")
    B = 64
    ratio_map = collect_dsir_ratio_map(docs, target, buckets=B)

    expected = {
        r["doc_id"]: round(r["logw"] / r["n_ngrams"], 6)
        for r in dsir_log_weights(docs, target, buckets=B).collect()
    }

    src = tmp_path / "docs_in"
    src.mkdir()
    with open(src / "docs.json", "w") as fh:
        for doc_id, kind, text in rows:
            fh.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    stream = spark.readStream.schema(schema).json(str(src))
    out = streaming_dsir_score(stream, ratio_map, buckets=B)
    q = (
        out.writeStream.format("memory")
        .queryName("dsir_scored")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: r["logw_mean"]
        for r in spark.sql("SELECT * FROM dsir_scored").collect()
    }
    assert set(got) == set(expected)
    for k in expected:
        assert abs(got[k] - expected[k]) < 2e-6, (k, got[k], expected[k])


def test_streaming_dsir_threshold_gates(spark):
    from rag_content_spark.streaming.aggregate import streaming_dsir_score

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], ["doc_id", "text"]
    )
    # hand-built map: make doc 1's ngram buckets positive, others absent
    from rag_content_spark.functions.hashing import stable_hash64
    from rag_content_spark.operators.selection import _ngram_array

    def _buckets(pred):
        return {
            r[0]
            for r in docs.filter(pred)
            .select(F.explode(_ngram_array("text")))
            .select(F.pmod(stable_hash64(F.col("col")), F.lit(64)))
            .collect()
        }

    # +5.0 per ngram for doc 1's buckets, minus any hash-colliding
    # bucket doc 2 also occupies (the test pins gating, not collisions)
    ratio_map = {b: 5_000_000 for b in _buckets("doc_id = 1") - _buckets("doc_id = 2")}
    kept = streaming_dsir_score(docs, ratio_map, buckets=64, threshold=1.0)
    assert [r["doc_id"] for r in kept.collect()] == [1]


def test_streaming_interval_join_attributes_within_bound(spark, tmp_path):
    """Impressions joined to clicks within 1 hour; the 2-hour-later
    click must NOT attribute."""
    import json

    from rag_content_spark.streaming.aggregate import streaming_interval_join

    imp_dir = tmp_path / "imp"
    clk_dir = tmp_path / "clk"
    imp_dir.mkdir(); clk_dir.mkdir()
    with open(imp_dir / "i.json", "w") as fh:
        for i, ts in [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 12:00:00")]:
            fh.write(json.dumps({"ad_id": i, "ts": ts}) + "\n")
    with open(clk_dir / "c.json", "w") as fh:
        for i, ts in [(1, "2024-01-01 10:30:00"),   # within 1h -> joins
                      (2, "2024-01-01 14:30:00")]:  # 2.5h later -> no
            fh.write(json.dumps({"ad_id": i, "ts": ts}) + "\n")
    schema = T.StructType(
        [T.StructField("ad_id", T.LongType()), T.StructField("ts", T.TimestampType())]
    )
    imp = spark.readStream.schema(schema).json(
        str(imp_dir), timestampFormat="yyyy-MM-dd HH:mm:ss"
    )
    clk = spark.readStream.schema(schema).json(
        str(clk_dir), timestampFormat="yyyy-MM-dd HH:mm:ss"
    ).withColumnRenamed("ts", "click_ts")
    out = streaming_interval_join(
        imp, clk, key_col="ad_id", left_ts="ts", right_ts="click_ts"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM attrib").collect()
    assert len(rows) == 1 and rows[0]["ad_id"] == 1


def test_streaming_qsketch_multibatch_merge_lossless(spark, tmp_path):
    import os

    from rag_content_spark.operators.sketches import qsketch, qsketch_merge
    from rag_content_spark.sinks.versioned_table import (
        read_snapshot,
        snapshots,
    )
    from rag_content_spark.streaming.aggregate import start_sketch_stream

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "src")
    docs.repartition(4).write.parquet(os.path.join(src, "documents.parquet"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "documents.parquet"))
        .select("doc_id", "n_chars")
    )
    tbl = str(tmp_path / "tbl")
    q = start_sketch_stream(
        stream, "n_chars", tbl, str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    # one tiny sketch snapshot per micro-batch (4 input files)
    assert len(snapshots(tbl)) == 4
    got = {
        r["bucket"]: r["cnt"]
        for r in qsketch_merge([read_snapshot(spark, tbl)]).collect()
    }
    want = {
        r["bucket"]: r["cnt"] for r in qsketch(docs, "n_chars").collect()
    }
    assert got == want
