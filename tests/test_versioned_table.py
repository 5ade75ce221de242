"""Versioned parquet table (sinks/versioned_table.py): snapshot log,
merge-on-read upsert, time travel, compaction."""

import pytest


def _rows(df):
    return sorted((r["doc_id"], r["text"]) for r in df.collect())


def test_append_and_time_travel(spark, tmp_path):
    from rag_content_spark.sinks.versioned_table import (
        read_snapshot,
        write_snapshot,
    )

    t = str(tmp_path / "tbl")
    v1 = write_snapshot(
        spark.createDataFrame([(1, "a")], ["doc_id", "text"]), t
    )
    v2 = write_snapshot(
        spark.createDataFrame([(2, "b")], ["doc_id", "text"]), t
    )
    assert (v1, v2) == (1, 2)
    assert _rows(read_snapshot(spark, t)) == [(1, "a"), (2, "b")]
    assert _rows(read_snapshot(spark, t, version=1)) == [(1, "a")]


def test_upsert_latest_wins_per_key(spark, tmp_path):
    from rag_content_spark.sinks.versioned_table import (
        read_snapshot,
        write_snapshot,
    )

    t = str(tmp_path / "tbl")
    write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], ["doc_id", "text"]),
        t,
        mode="upsert",
        key_col="doc_id",
    )
    write_snapshot(
        spark.createDataFrame([(2, "b2"), (3, "c")], ["doc_id", "text"]),
        t,
        mode="upsert",
        key_col="doc_id",
    )
    assert _rows(read_snapshot(spark, t)) == [(1, "a"), (2, "b2"), (3, "c")]
    # time travel sees the pre-upsert value
    assert _rows(read_snapshot(spark, t, version=1)) == [(1, "a"), (2, "b")]


def test_overwrite_resets_chain(spark, tmp_path):
    from rag_content_spark.sinks.versioned_table import (
        read_snapshot,
        write_snapshot,
    )

    t = str(tmp_path / "tbl")
    write_snapshot(spark.createDataFrame([(1, "a")], ["doc_id", "text"]), t)
    write_snapshot(
        spark.createDataFrame([(9, "z")], ["doc_id", "text"]), t, mode="overwrite"
    )
    assert _rows(read_snapshot(spark, t)) == [(9, "z")]
    assert _rows(read_snapshot(spark, t, version=1)) == [(1, "a")]


def test_compact_preserves_view_and_history(spark, tmp_path):
    from rag_content_spark.sinks.versioned_table import (
        compact,
        read_snapshot,
        snapshots,
        write_snapshot,
    )

    t = str(tmp_path / "tbl")
    write_snapshot(
        spark.createDataFrame([(1, "a")], ["doc_id", "text"]),
        t, mode="upsert", key_col="doc_id",
    )
    write_snapshot(
        spark.createDataFrame([(1, "a2")], ["doc_id", "text"]),
        t, mode="upsert", key_col="doc_id",
    )
    v3 = compact(spark, t)
    assert snapshots(t)[-1]["mode"] == "overwrite"
    assert _rows(read_snapshot(spark, t)) == [(1, "a2")]
    # post-compaction reads touch ONE live snapshot dir
    from rag_content_spark.sinks.versioned_table import _live_chain

    assert len(_live_chain(snapshots(t), None)) == 1
    # history still resolvable
    assert _rows(read_snapshot(spark, t, version=2)) == [(1, "a2")]
    assert v3 == 3


def test_upsert_key_mismatch_and_missing_version_raise(spark, tmp_path):
    from rag_content_spark.sinks.versioned_table import (
        read_snapshot,
        write_snapshot,
    )

    t = str(tmp_path / "tbl")
    write_snapshot(
        spark.createDataFrame([(1, "a")], ["doc_id", "text"]),
        t, mode="upsert", key_col="doc_id",
    )
    with pytest.raises(ValueError, match="key"):
        write_snapshot(
            spark.createDataFrame([(1, "a")], ["doc_id", "text"]),
            t, mode="upsert", key_col="text",
        )
    with pytest.raises(ValueError, match="version"):
        read_snapshot(spark, t, version=99)


def test_streaming_upserts_into_versioned_table(spark, tmp_path):
    """Two micro-batch rounds of crawl output land as snapshots; the
    re-crawled doc shadows its old version, history stays queryable."""
    import json

    import pyspark.sql.types as T

    from rag_content_spark.sinks.versioned_table import read_snapshot, snapshots
    from rag_content_spark.streaming.ingest import start_table_stream

    src = tmp_path / "in"
    src.mkdir()
    t = str(tmp_path / "tbl")
    ck = str(tmp_path / "ck")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )

    def _run(rows, fname):
        with open(src / fname, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        stream = spark.readStream.schema(schema).json(str(src))
        q = start_table_stream(stream, t, ck)
        q.awaitTermination(120)

    _run([{"doc_id": 1, "text": "a"}, {"doc_id": 2, "text": "b"}], "c1.json")
    _run([{"doc_id": 2, "text": "b2"}], "c2.json")  # re-crawl of doc 2

    assert [s["mode"] for s in snapshots(t)] == ["upsert", "upsert"]
    assert _rows(read_snapshot(spark, t)) == [(1, "a"), (2, "b2")]
    assert _rows(read_snapshot(spark, t, version=1)) == [(1, "a"), (2, "b")]


def test_schema_evolution_additive_column(spark, tmp_path):
    """A column added in a later snapshot reads as NULL for older rows
    (additive evolution); upsert semantics still apply."""
    from rag_content_spark.sinks.versioned_table import (
        read_snapshot,
        write_snapshot,
    )

    t = str(tmp_path / "tbl")
    write_snapshot(
        spark.createDataFrame([(1, "a")], ["doc_id", "text"]),
        t, mode="upsert", key_col="doc_id",
    )
    write_snapshot(
        spark.createDataFrame([(2, "b", "en")], ["doc_id", "text", "lang"]),
        t, mode="upsert", key_col="doc_id",
    )
    got = {r["doc_id"]: r for r in read_snapshot(spark, t).collect()}
    assert got[1]["text"] == "a" and got[1]["lang"] is None
    assert got[2]["lang"] == "en"


def test_batch_id_replay_is_noop(spark, tmp_path):
    # foreachBatch exactly-once: a replayed micro-batch (same batch_id)
    # must NOT mint a phantom snapshot version
    from rag_content_spark.sinks.versioned_table import (
        read_snapshot,
        snapshots,
        write_snapshot,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    v1 = write_snapshot(df, t, mode="upsert", key_col="doc_id", batch_id=0)
    again = write_snapshot(df, t, mode="upsert", key_col="doc_id", batch_id=0)
    assert (v1, again) == (1, 1)
    assert len(snapshots(t)) == 1
    # a genuinely new batch still advances the version
    df2 = spark.createDataFrame([(1, "b")], ["doc_id", "text"])
    v2 = write_snapshot(df2, t, mode="upsert", key_col="doc_id", batch_id=1)
    assert v2 == 2
    assert _rows(read_snapshot(spark, t)) == [(1, "b")]


def test_batch_id_scoped_to_txn_app(spark, tmp_path):
    # checkpoint-recreation scenario: a fresh stream run restarts batch
    # ids at 0, but carries a fresh txn_app_id — its batch 0 must land
    # as a NEW snapshot, not silently no-op against run A's batch 0,
    # while a true replay (same pair) still no-ops
    from rag_content_spark.sinks.versioned_table import (
        snapshots,
        write_snapshot,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    v1 = write_snapshot(
        df, t, mode="upsert", key_col="doc_id", batch_id=0, txn_app_id="runA"
    )
    v2 = write_snapshot(
        df, t, mode="upsert", key_col="doc_id", batch_id=0, txn_app_id="runB"
    )
    assert v2 == v1 + 1
    replay = write_snapshot(
        df, t, mode="upsert", key_col="doc_id", batch_id=0, txn_app_id="runA"
    )
    assert replay == v1
    assert len(snapshots(t)) == 2


def test_delete_tombstones_and_resurrection(spark, tmp_path):
    from rag_content_spark.sinks.versioned_table import (
        read_snapshot,
        write_snapshot,
    )

    t = str(tmp_path / "tbl")
    write_snapshot(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], ["doc_id", "text"]
        ),
        t, mode="upsert", key_col="doc_id",
    )
    # delete accepts full rows but stores only the distinct key list
    write_snapshot(
        spark.createDataFrame([(2, "ignored")], ["doc_id", "text"]),
        t, mode="delete", key_col="doc_id",
    )
    got = {r["doc_id"]: r["text"] for r in read_snapshot(spark, t).collect()}
    assert got == {1: "a", 3: "c"}
    # a later upsert resurrects the key
    write_snapshot(
        spark.createDataFrame([(2, "back")], ["doc_id", "text"]),
        t, mode="upsert", key_col="doc_id",
    )
    got = {r["doc_id"]: r["text"] for r in read_snapshot(spark, t).collect()}
    assert got == {1: "a", 2: "back", 3: "c"}
    # time travel: the view at the delete version still hides key 2
    got_v2 = {r["doc_id"]: r["text"] for r in read_snapshot(spark, t, 2).collect()}
    assert got_v2 == {1: "a", 3: "c"}


def test_vacuum_after_compact(spark, tmp_path):
    from rag_content_spark.sinks.versioned_table import (
        compact,
        read_snapshot,
        snapshots,
        vacuum,
        write_snapshot,
    )

    t = str(tmp_path / "tbl")
    write_snapshot(
        spark.createDataFrame([(1, "a")], ["doc_id", "text"]),
        t, mode="upsert", key_col="doc_id",
    )
    write_snapshot(
        spark.createDataFrame([(1, "a2"), (2, "b")], ["doc_id", "text"]),
        t, mode="upsert", key_col="doc_id",
    )
    assert vacuum(t) == 0  # no overwrite root yet -> nothing removable
    compact(spark, t)
    removed = vacuum(t)
    assert removed == 2
    assert [s["version"] for s in snapshots(t)] == [3]
    got = {r["doc_id"]: r["text"] for r in read_snapshot(spark, t).collect()}
    assert got == {1: "a2", 2: "b"}


def test_concurrent_writers_optimistic_commit(spark, tmp_path):
    # two threads race append snapshots: both must commit (distinct
    # versions), no lost update — the data-dir errorifexists write is
    # the commit token and the loser retries against the new tip
    import threading

    from rag_content_spark.sinks.versioned_table import (
        read_snapshot,
        snapshots,
        write_snapshot,
    )

    t = str(tmp_path / "tbl")
    write_snapshot(
        spark.createDataFrame([(0, "seed")], ["doc_id", "text"]),
        t, mode="upsert", key_col="doc_id",
    )
    results, errors = [], []

    def writer(tag):
        try:
            df = spark.createDataFrame(
                [(tag, f"from-{tag}")], ["doc_id", "text"]
            )
            results.append(
                write_snapshot(df, t, mode="upsert", key_col="doc_id")
            )
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(i,)) for i in (1, 2, 3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert sorted(results) == [2, 3, 4]
    assert [s["version"] for s in snapshots(t)] == [1, 2, 3, 4]
    got = {r["doc_id"]: r["text"] for r in read_snapshot(spark, t).collect()}
    assert got == {0: "seed", 1: "from-1", 2: "from-2", 3: "from-3"}


def test_versions_past_99999_are_read_and_extended(spark, tmp_path):
    """``snap-{v:05d}.json`` grows a sixth digit at version 100000; the
    log must still see that manifest, order it after 99999 and claim
    100001 next. Both manifests are written by hand over two tiny data
    dirs, so no 100k writes."""
    import json
    import os

    from rag_content_spark.sinks.versioned_table import (
        read_snapshot,
        snapshots,
        write_snapshot,
    )

    t = str(tmp_path / "tbl")
    for v, mode, row in ((99999, "overwrite", (1, "a")), (100000, "append", (2, "b"))):
        rel = f"data/s-{v}"
        spark.createDataFrame([row], ["doc_id", "text"]).write.parquet(
            os.path.join(t, rel)
        )
        with open(os.path.join(t, f"snap-{v:05d}.json"), "w") as f:
            json.dump(
                {"version": v, "parent": v - 1, "mode": mode, "key_col": None,
                 "data_dir": rel, "rows": 1, "batch_id": None,
                 "txn_app_id": None},
                f,
            )
    assert [s["version"] for s in snapshots(t)] == [99999, 100000]
    assert _rows(read_snapshot(spark, t)) == [(1, "a"), (2, "b")]
    v = write_snapshot(spark.createDataFrame([(3, "c")], ["doc_id", "text"]), t)
    assert v == 100001
    assert _rows(read_snapshot(spark, t)) == [(1, "a"), (2, "b"), (3, "c")]
