"""Concurrency + crash-safety of the persisted-index commit log
(plans/index_commit.py) — the round-7 verdict's task 4: no lost meta
updates under concurrent adds, no append/compact interleave corruption,
no crash window in compaction."""

import json
import os
import re
import threading

import pytest
from pyspark.sql import functions as F


def _docs(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")


def test_concurrent_text_adds_no_lost_stats(spark, tmp_path):
    """Three threads race add_to_text_index: every add must land
    (distinct commit versions) and the live n_docs/sum_dl must equal a
    single-writer build over the full corpus — the lost-update this
    protocol closes (the old read-modify-write meta.json lost one
    side's stats)."""
    from rag_content_spark.operators.search import bm25_scores
    from rag_content_spark.plans import index_commit as ic
    from rag_content_spark.plans.text_index import (
        build_text_index,
        query_text_index,
    )
    from rag_content_spark.plans.text_index import add_to_text_index

    docs = _docs(spark)
    d = str(tmp_path / "ti")
    build_text_index(docs.filter(F.col("doc_id") % 4 == 0), d, n_buckets=8)
    errors = []

    def adder(residue):
        try:
            add_to_text_index(docs.filter(F.col("doc_id") % 4 == residue), d)
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [
        threading.Thread(target=adder, args=(i,)) for i in (1, 2, 3)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    snaps = ic.commits(d)
    assert [s["version"] for s in snaps] == [1, 2, 3, 4]
    assert [s["kind"] for s in snaps] == ["base", "add", "add", "add"]
    root, adds = ic.live_view(d)
    stats = ic.view_stats(root, adds)
    n = docs.count()
    from rag_content_spark.functions.text import tokens

    dl_sum = docs.select(
        F.sum(F.size(tokens("text"))).alias("s")
    ).collect()[0]["s"]
    assert stats["n_docs"] == n
    # BM25 over the concurrent view is bit-identical to the corpus scan
    terms = ["spark", "join", "merge"]
    got = {
        r["doc_id"]: r["bm25"]
        for r in query_text_index(spark, d, terms).collect()
    }
    ref = {r["doc_id"]: r["bm25"] for r in bm25_scores(docs, terms).collect()}
    assert got == ref and len(got) > 0
    assert stats["sum_dl"] == dl_sum


def test_add_racing_compact_stays_live(spark, tmp_path):
    """An add claimed AFTER compaction reads the live view (but before
    the compact commit) must survive: compact records base_version, and
    readers stack later adds on the compact root."""
    from rag_content_spark.plans import index_commit as ic
    from rag_content_spark.plans.text_index import (
        add_to_text_index,
        build_text_index,
        query_text_index,
    )

    docs = _docs(spark)
    d = str(tmp_path / "ti")
    build_text_index(docs.filter(F.col("doc_id") % 3 == 0), d, n_buckets=8)
    add_to_text_index(docs.filter(F.col("doc_id") % 3 == 1), d)

    # simulate the race by claiming an add between compact's read and
    # its commit: monkeypatch claim to inject the racing add first
    import rag_content_spark.plans.text_index as ti

    real_claim = ic.claim
    injected = {"done": False}

    def racing_claim(index_dir, record):
        if record["kind"] == "compact" and not injected["done"]:
            injected["done"] = True
            add_to_text_index(docs.filter(F.col("doc_id") % 3 == 2), d)
        return real_claim(index_dir, record)

    ti.ic.claim = racing_claim
    try:
        ti.compact_text_index(spark, d)
    finally:
        ti.ic.claim = real_claim

    root, adds = ic.live_view(d)
    assert root["kind"] == "compact"
    # the racing add has version > base_version — still live
    assert len(adds) == 1
    stats = ic.view_stats(root, adds)
    assert stats["n_docs"] == docs.count()
    got = query_text_index(spark, d, ["spark", "join"]).count()
    from rag_content_spark.operators.search import bm25_scores

    assert got == bm25_scores(docs, ["spark", "join"]).count()


def test_compact_crash_leaves_live_view_intact(spark, tmp_path):
    """A crash at ANY point during compaction (before the commit claim)
    leaves the old view fully readable — there are no renames, so the
    round-7 two-rename recovery hole is structurally gone."""
    from rag_content_spark.plans import index_commit as ic
    from rag_content_spark.plans.text_index import (
        add_to_text_index,
        build_text_index,
        query_text_index,
    )
    import rag_content_spark.plans.text_index as ti

    docs = _docs(spark)
    d = str(tmp_path / "ti")
    build_text_index(docs.filter(F.col("doc_id") % 2 == 0), d, n_buckets=8)
    add_to_text_index(docs.filter(F.col("doc_id") % 2 == 1), d)
    terms = ["spark", "join", "merge"]
    before = sorted(
        (r["doc_id"], r["bm25"])
        for r in query_text_index(spark, d, terms).collect()
    )

    real_claim = ic.claim

    def crashing_claim(index_dir, record):
        if record["kind"] == "compact":
            raise RuntimeError("simulated crash before commit claim")
        return real_claim(index_dir, record)

    ti.ic.claim = crashing_claim
    try:
        import pytest

        with pytest.raises(RuntimeError, match="simulated crash"):
            ti.compact_text_index(spark, d)
    finally:
        ti.ic.claim = real_claim

    after = sorted(
        (r["doc_id"], r["bm25"])
        for r in query_text_index(spark, d, terms).collect()
    )
    assert after == before and len(after) > 0
    # the staged-but-unclaimed segment is debris, not corruption; a
    # real compact afterwards still works
    stats = ti.compact_text_index(spark, d)
    assert stats["n_files_after"] <= 8 + 1  # and the length rows' bucket
    final = sorted(
        (r["doc_id"], r["bm25"])
        for r in query_text_index(spark, d, terms).collect()
    )
    assert final == before


def test_vacuum_reclaims_superseded_segments(spark, tmp_path):
    from rag_content_spark.plans import index_commit as ic
    from rag_content_spark.plans.text_index import (
        add_to_text_index,
        build_text_index,
        compact_text_index,
        query_text_index,
    )

    docs = _docs(spark)
    d = str(tmp_path / "ti")
    build_text_index(docs.filter(F.col("doc_id") % 2 == 0), d, n_buckets=8)
    add_to_text_index(docs.filter(F.col("doc_id") % 2 == 1), d)
    compact_text_index(spark, d)
    terms = ["spark", "join"]
    before = sorted(
        (r["doc_id"], r["bm25"])
        for r in query_text_index(spark, d, terms).collect()
    )
    removed = ic.vacuum_index(d)
    # the base and the add segment reclaimed
    assert removed == 2
    assert [s["kind"] for s in ic.commits(d)] == ["compact"]
    after = sorted(
        (r["doc_id"], r["bm25"])
        for r in query_text_index(spark, d, terms).collect()
    )
    assert after == before
    # idempotent
    assert ic.vacuum_index(d) == 0


def test_concurrent_ann_adds_no_lost_count(spark, tmp_path):
    """The ANN sibling: racing adds each claim a commit; n_vectors is
    the exact sum and every added vector is findable."""
    from rag_content_spark.plans import index_commit as ic
    from rag_content_spark.plans.ann_index import (
        add_to_ann_index,
        build_ann_index,
        load_ann_meta,
        query_ann_index,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    d = str(tmp_path / "ann")
    build_ann_index(emb.filter(F.col("vec_id") % 3 == 0), d, nlist=4, m=4, k=16)
    errors = []

    def adder(residue):
        try:
            add_to_ann_index(emb.filter(F.col("vec_id") % 3 == residue), d)
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=adder, args=(i,)) for i in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    meta, _cb = load_ann_meta(d)
    assert meta["n_vectors"] == emb.count()
    assert [s["kind"] for s in ic.commits(d)] == ["base", "add", "add"]
    probe = emb.filter(F.col("vec_id") == 1).collect()[0]
    got = query_ann_index(
        spark, d, list(probe["embedding"]), topk=1, n_probe=4
    ).collect()
    assert got[0]["vec_id"] == 1


def test_ann_meta_records_column_roles(spark, tmp_path):
    """Round-7 ADVICE: a custom embedding column name must not break
    compaction's per-cell sort — id_col/embedding_col are recorded at
    build and used by add/compact/query."""
    from rag_content_spark.plans.ann_index import (
        add_to_ann_index,
        build_ann_index,
        compact_ann_index,
        query_ann_index,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(
            F.col("vec_id").alias("node_id"),
            F.col("embedding").alias("vector"),
        )
    )
    d = str(tmp_path / "ann")
    meta = build_ann_index(
        emb.filter(F.col("node_id") % 2 == 0),
        d,
        nlist=4,
        m=4,
        k=16,
        id_col="node_id",
        embedding_col="vector",
    )
    assert meta["id_col"] == "node_id" and meta["embedding_col"] == "vector"
    with open(os.path.join(d, "meta.json")) as f:
        raw = json.load(f)
    assert raw["id_col"] == "node_id" and raw["embedding_col"] == "vector"
    add_to_ann_index(emb.filter(F.col("node_id") % 2 == 1), d)
    qv = list(emb.filter(F.col("node_id") == 3).collect()[0]["vector"])
    before = [
        (r["node_id"], r["exact"])
        for r in query_ann_index(spark, d, qv, topk=5, n_probe=4).collect()
    ]
    stats = compact_ann_index(spark, d)
    assert stats["n_files_after"] < stats["n_files_before"]
    after = [
        (r["node_id"], r["exact"])
        for r in query_ann_index(spark, d, qv, topk=5, n_probe=4).collect()
    ]
    assert after == before and after[0][0] == 3


def test_text_index_delete_tombstones(spark, tmp_path):
    """delete_from_text_index: BM25 over the surviving view is
    bit-identical to a scan of the surviving corpus; stats deltas are
    exact; absent/duplicate ids are stats no-ops; compaction drops the
    tombstones physically and vacuum reclaims them."""
    from rag_content_spark.operators.search import bm25_scores
    from rag_content_spark.plans import index_commit as ic
    from rag_content_spark.plans.text_index import (
        add_to_text_index,
        build_text_index,
        compact_text_index,
        delete_from_text_index,
        query_text_index,
    )

    docs = _docs(spark)
    d = str(tmp_path / "ti")
    build_text_index(docs.filter(F.col("doc_id") % 2 == 0), d, n_buckets=8)
    add_to_text_index(docs.filter(F.col("doc_id") % 2 == 1), d)
    victims = [r["doc_id"] for r in docs.limit(5).collect()]
    meta = delete_from_text_index(spark, d, victims)
    survivors = docs.join(
        spark.createDataFrame([(v,) for v in victims], ["doc_id"]),
        "doc_id",
        "left_anti",
    )
    assert meta["n_docs"] == survivors.count()
    terms = ["spark", "join", "merge"]
    got = {
        r["doc_id"]: r["bm25"]
        for r in query_text_index(spark, d, terms).collect()
    }
    ref = {
        r["doc_id"]: r["bm25"] for r in bm25_scores(survivors, terms).collect()
    }
    assert got == ref and not any(v in got for v in victims)
    # absent id + re-delete: stats unchanged
    meta2 = delete_from_text_index(spark, d, [victims[0], 999_999_999])
    assert meta2["n_docs"] == meta["n_docs"]
    assert meta2["sum_dl"] == meta["sum_dl"]
    # compaction applies tombstones physically, results identical
    stats = compact_text_index(spark, d)
    root, adds = ic.live_view(d)
    assert root["kind"] == "compact" and adds == []
    after = {
        r["doc_id"]: r["bm25"]
        for r in query_text_index(spark, d, terms).collect()
    }
    assert after == ref
    # the base and the add segment + 2 tombstones
    assert ic.vacuum_index(d) == 4
    assert {
        r["doc_id"] for r in query_text_index(spark, d, terms).collect()
    } == set(ref)


def test_positional_index_delete(spark, tmp_path):
    from rag_content_spark.operators.search import phrase_search
    from rag_content_spark.plans.text_index import (
        build_text_index,
        delete_from_text_index,
        phrase_query_text_index,
    )

    docs = _docs(spark)
    d = str(tmp_path / "pi")
    build_text_index(docs, d, n_buckets=8, positions=True)
    hits = phrase_query_text_index(spark, d, "the spark").collect()
    assert hits
    victim = hits[0]["doc_id"]
    delete_from_text_index(spark, d, [victim])
    after = {
        r["doc_id"]
        for r in phrase_query_text_index(spark, d, "the spark").collect()
    }
    assert victim not in after
    ref = {
        r["doc_id"]
        for r in phrase_search(
            docs.filter(F.col("doc_id") != victim), "the spark"
        ).collect()
    }
    assert after == ref


def test_ann_index_delete(spark, tmp_path):
    from rag_content_spark.plans.ann_index import (
        build_ann_index,
        compact_ann_index,
        delete_from_ann_index,
        query_ann_index,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    d = str(tmp_path / "ann")
    meta0 = build_ann_index(emb, d, nlist=4, m=4, k=16)
    probe = emb.orderBy("vec_id").limit(1).collect()[0]
    top = query_ann_index(
        spark, d, list(probe["embedding"]), topk=1, n_probe=4
    ).collect()
    assert top[0]["vec_id"] == probe["vec_id"]
    meta1 = delete_from_ann_index(spark, d, [int(probe["vec_id"])])
    assert meta1["n_vectors"] == meta0["n_vectors"] - 1
    after = query_ann_index(
        spark, d, list(probe["embedding"]), topk=3, n_probe=4
    ).collect()
    assert all(r["vec_id"] != probe["vec_id"] for r in after)
    stats = compact_ann_index(spark, d)
    assert stats["n_rows"] == meta1["n_vectors"]
    post = query_ann_index(
        spark, d, list(probe["embedding"]), topk=3, n_probe=4
    ).collect()
    assert [r["vec_id"] for r in post] == [r["vec_id"] for r in after]


def _entry_points(spark, d):
    """query/add/delete/compact of both indexes, bound to directory d."""
    from rag_content_spark.plans import ann_index as ai, text_index as ti

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    emb = spark.createDataFrame(
        [(1, [0.0] * 4)], "vec_id long, embedding array<float>"
    )
    return {
        ("text", "query"): lambda: ti.query_text_index(spark, d, ["a"]),
        ("text", "add"): lambda: ti.add_to_text_index(docs, d),
        ("text", "delete"): lambda: ti.delete_from_text_index(spark, d, [1]),
        ("text", "compact"): lambda: ti.compact_text_index(spark, d),
        ("ann", "query"): lambda: ai.query_ann_index(spark, d, [0.0] * 4),
        ("ann", "add"): lambda: ai.add_to_ann_index(emb, d),
        ("ann", "delete"): lambda: ai.delete_from_ann_index(spark, d, [1]),
        ("ann", "compact"): lambda: ai.compact_ann_index(spark, d),
    }


_NO_LOG_META = {
    "text": {"format": "rag-spark-text/1", "n_buckets": 8, "id_col": "doc_id",
             "positions": False, "n_docs": 1, "sum_dl": 2},
    "ann": {"format": "rag-spark-ann/1", "metric": "l2", "dim": 4, "nlist": 1,
            "m": 1, "k": 1, "n_vectors": 1},
}
# formats an earlier version wrote, each with a commit log: text without
# length rows (/3: dl in the postings, /2: dl in lengths only), and ANN
# commits that record no segment schema (/2)
_STALE_FORMATS = {
    "text": ["rag-spark-text/2", "rag-spark-text/3"],
    "ann": ["rag-spark-ann/2"],
}
_STALE_COMMIT = {
    "text": {"kind": "base", "version": 1, "parent": None, "base_version": 1,
             "dirs": {"postings": "data/p-0", "lengths": "data/l-0"},
             "stats": {"n_docs": 1, "sum_dl": 2}},
    "ann": {"kind": "base", "version": 1, "parent": None, "base_version": 1,
            "dirs": {"index": "data/i-0"}, "stats": {"n_vectors": 1}},
}


@pytest.mark.parametrize("kind", ["text", "ann"])
@pytest.mark.parametrize("fn", ["query", "add", "delete", "compact"])
def test_index_without_commit_log_is_rejected(spark, tmp_path, kind, fn):
    """A directory holding ``meta.json`` but no ``commits/`` (no writer
    makes one), or a logged index of a format this version does not
    write, is refused with a ValueError naming it, before any Spark job
    runs and without a file written."""
    import uuid

    d = str(tmp_path / kind)
    os.makedirs(d)
    with open(os.path.join(d, "meta.json"), "w") as f:
        json.dump(_NO_LOG_META[kind], f)
    inputs = [("no log", None)] + [(fmt, fmt) for fmt in _STALE_FORMATS[kind]]
    for name, fmt in inputs:
        if fmt is not None:
            os.makedirs(os.path.join(d, "commits"), exist_ok=True)
            with open(os.path.join(d, "meta.json"), "w") as f:
                json.dump(_NO_LOG_META[kind] | {"format": fmt}, f)
            with open(os.path.join(d, "commits", "snap-00001.json"), "w") as f:
                json.dump(_STALE_COMMIT[kind], f)
        before = sorted(os.listdir(d))
        call = _entry_points(spark, d)[kind, fn]
        sc = spark.sparkContext
        group = f"no-log-{uuid.uuid4().hex[:12]}"
        sc.setJobGroup(group, group)
        try:
            with pytest.raises(ValueError, match=re.escape(d)) as err:
                call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert fmt is None or fmt in str(err.value), name
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name
        assert sorted(os.listdir(d)) == before, name
        if fmt is None:
            assert before == ["meta.json"]


def test_delete_racing_add_keeps_rows_exact(spark, tmp_path):
    """Round-8 verdict task 6 (delete-vs-add): a delete racing an add of
    DISJOINT docs must lose nothing — every commit lands, survivors =
    (base - deleted) + added, the deleted ids never resurface, and the
    stats are exact (the write-skew caveat only applies to OVERLAPPING
    id sets, covered by test_overlapping_deletes_selfheal_at_compact)."""
    from rag_content_spark.operators.search import bm25_scores
    from rag_content_spark.plans import index_commit as ic
    from rag_content_spark.plans.text_index import (
        add_to_text_index,
        build_text_index,
        delete_from_text_index,
        query_text_index,
    )

    docs = _docs(spark)
    base = docs.filter(F.col("doc_id") % 2 == 0)
    extra = docs.filter(F.col("doc_id") % 2 == 1)
    d = str(tmp_path / "ti")
    build_text_index(base, d, n_buckets=8)
    victims = [r["doc_id"] for r in base.limit(4).collect()]
    errors = []

    def do_add():
        try:
            add_to_text_index(extra, d)
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    def do_delete():
        try:
            delete_from_text_index(spark, d, victims)
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [
        threading.Thread(target=do_add),
        threading.Thread(target=do_delete),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    snaps = ic.commits(d)
    assert [s["version"] for s in snaps] == [1, 2, 3]
    assert sorted(s["kind"] for s in snaps[1:]) == ["add", "delete"]
    survivors = docs.join(
        spark.createDataFrame([(v,) for v in victims], ["doc_id"]),
        "doc_id",
        "left_anti",
    )
    terms = ["spark", "join", "merge"]
    got = {
        r["doc_id"]: r["bm25"]
        for r in query_text_index(spark, d, terms).collect()
    }
    ref = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(survivors, terms).collect()
    }
    # disjoint-sets race: rows AND stats must both be exact, so BM25
    # (which folds n_docs/avgdl into every score) is bit-identical
    assert got == ref and not any(v in got for v in victims)
    root, adds = ic.live_view(d)
    assert ic.view_stats(root, adds)["n_docs"] == survivors.count()


def test_delete_racing_compact_no_resurrection(spark, tmp_path):
    """Round-8 verdict task 6 (delete-vs-compact): a delete claimed
    while a compaction runs lands ABOVE base_version, so its tombstone
    stays live on top of the compact root — the deleted rows must NOT
    resurrect through the racing compact, and the next compaction
    applies the tombstone physically."""
    from rag_content_spark.plans import index_commit as ic
    from rag_content_spark.plans.text_index import (
        add_to_text_index,
        build_text_index,
        delete_from_text_index,
        query_text_index,
    )
    import rag_content_spark.plans.text_index as ti

    docs = _docs(spark)
    d = str(tmp_path / "ti")
    build_text_index(docs.filter(F.col("doc_id") % 2 == 0), d, n_buckets=8)
    add_to_text_index(docs.filter(F.col("doc_id") % 2 == 1), d)
    victims = [r["doc_id"] for r in docs.limit(5).collect()]

    real_claim = ic.claim
    injected = {"done": False}

    def racing_claim(index_dir, record):
        # inject the delete between compact's read and its commit claim
        if record["kind"] == "compact" and not injected["done"]:
            injected["done"] = True
            delete_from_text_index(spark, d, victims)
        return real_claim(index_dir, record)

    ti.ic.claim = racing_claim
    try:
        ti.compact_text_index(spark, d)
    finally:
        ti.ic.claim = real_claim

    root, adds = ic.live_view(d)
    assert root["kind"] == "compact"
    assert [a["kind"] for a in adds] == ["delete"]  # still live
    terms = ["spark", "join", "merge"]
    got = {
        r["doc_id"] for r in query_text_index(spark, d, terms).collect()
    }
    assert not (got & set(victims))  # no resurrection
    survivors = docs.join(
        spark.createDataFrame([(v,) for v in victims], ["doc_id"]),
        "doc_id",
        "left_anti",
    )
    stats = ic.view_stats(root, adds)
    assert stats["n_docs"] == survivors.count()
    # second compact absorbs the tombstone physically and recounts
    ti.compact_text_index(spark, d)
    root2, adds2 = ic.live_view(d)
    assert adds2 == []
    assert root2["stats"]["n_docs"] == survivors.count()
    got2 = {
        r["doc_id"] for r in query_text_index(spark, d, terms).collect()
    }
    assert got2 == got


def test_overlapping_deletes_selfheal_at_compact(spark, tmp_path):
    """Two concurrent deletes of OVERLAPPING ids both compute their
    negative stats delta against the same pre-state — the documented
    write-skew: rows stay exact (anti-join is idempotent) but
    n_docs/sum_dl double-decrement. Compaction recomputes stats from the
    materialized survivors, so the drift self-heals (round-8 ADVICE on
    delete_from_text_index)."""
    from rag_content_spark.functions.text import tokens
    from rag_content_spark.plans import index_commit as ic
    from rag_content_spark.plans.text_index import (
        build_text_index,
        delete_from_text_index,
        query_text_index,
    )
    import rag_content_spark.plans.text_index as ti

    docs = _docs(spark)
    d = str(tmp_path / "ti")
    build_text_index(docs, d, n_buckets=8)
    ids = [r["doc_id"] for r in docs.limit(6).collect()]
    set_a, set_b = ids[:4], ids[2:]  # overlap = ids[2:4]

    # deterministic interleave: when delete(A) is about to claim (its
    # delta already computed against the full view), inject delete(B)
    # whole — B's delta is ALSO computed against the full view
    real_claim = ic.claim
    injected = {"done": False}

    def racing_claim(index_dir, record):
        if record["kind"] == "delete" and not injected["done"]:
            injected["done"] = True
            delete_from_text_index(spark, d, set_b)
        return real_claim(index_dir, record)

    ti.ic.claim = racing_claim
    try:
        delete_from_text_index(spark, d, set_a)
    finally:
        ti.ic.claim = real_claim

    survivors = docs.join(
        spark.createDataFrame([(v,) for v in set(ids)], ["doc_id"]),
        "doc_id",
        "left_anti",
    )
    n_true = survivors.count()
    dl_true = survivors.select(
        F.sum(F.size(tokens("text"))).alias("s")
    ).collect()[0]["s"]
    root, adds = ic.live_view(d)
    skewed = ic.view_stats(root, adds)
    # rows exact despite the race
    terms = ["spark", "join", "merge"]
    got = {
        r["doc_id"] for r in query_text_index(spark, d, terms).collect()
    }
    assert not (got & set(ids))
    # the overlap double-decremented: drift is real and equals the
    # overlapping docs' contribution
    assert skewed["n_docs"] == n_true - 2
    assert skewed["sum_dl"] < dl_true
    # compaction recounts the materialized survivors: drift healed
    ti.compact_text_index(spark, d)
    root2, adds2 = ic.live_view(d)
    assert adds2 == []
    assert root2["stats"]["n_docs"] == n_true
    assert root2["stats"]["sum_dl"] == dl_true


def test_ann_delete_racing_compact(spark, tmp_path):
    """ANN sibling of the delete-vs-compact race: the racing tombstone
    stays live over the compact root (no resurrected vectors) and the
    next compaction's recount makes the stats exact."""
    from rag_content_spark.plans import index_commit as ic
    from rag_content_spark.plans.ann_index import (
        build_ann_index,
        delete_from_ann_index,
        query_ann_index,
    )
    import rag_content_spark.plans.ann_index as ai

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    d = str(tmp_path / "ann")
    meta0 = build_ann_index(emb, d, nlist=4, m=4, k=16)
    probe = emb.orderBy("vec_id").limit(1).collect()[0]

    real_claim = ic.claim
    injected = {"done": False}

    def racing_claim(index_dir, record):
        if record["kind"] == "compact" and not injected["done"]:
            injected["done"] = True
            delete_from_ann_index(spark, d, [int(probe["vec_id"])])
        return real_claim(index_dir, record)

    ai.ic.claim = racing_claim
    try:
        ai.compact_ann_index(spark, d)
    finally:
        ai.ic.claim = real_claim

    root, adds = ic.live_view(d)
    assert root["kind"] == "compact"
    assert [a["kind"] for a in adds] == ["delete"]
    res = query_ann_index(
        spark, d, list(probe["embedding"]), topk=3, n_probe=4
    ).collect()
    assert all(r["vec_id"] != probe["vec_id"] for r in res)
    stats = ic.view_stats(root, adds)
    assert stats["n_vectors"] == meta0["n_vectors"] - 1
    ai.compact_ann_index(spark, d)
    root2, adds2 = ic.live_view(d)
    assert adds2 == []
    assert root2["stats"]["n_vectors"] == meta0["n_vectors"] - 1


def _small_index_query(spark, d, kind):
    """The rows a query of the :func:`_small_index` at ``d`` returns,
    sorted, as JSON values."""
    from rag_content_spark.plans import ann_index as ai, text_index as ti

    if kind == "text":
        rows = ti.query_text_index(spark, d, ["common", "w1"]).collect()
    else:
        rows = ai.query_ann_index(spark, d, [1.0, 2.0, 3.0, 4.0], topk=50).collect()
    return sorted(list(r) for r in rows)


def _small_index(spark, d, kind):
    """A 40-row text or ANN index at ``d``; returns its (add, query)
    calls and a frame of 4 more rows."""
    from rag_content_spark.plans import ann_index as ai, text_index as ti

    def query():
        return _small_index_query(spark, d, kind)

    if kind == "text":
        rows = spark.createDataFrame(
            [(i, f"w{i % 5} common w{i % 3}") for i in range(44)],
            "doc_id long, text string",
        )
        ti.build_text_index(rows.filter(F.col("doc_id") < 40), d, n_buckets=4)
        return (
            lambda df: ti.add_to_text_index(df, d),
            query,
            rows.filter(F.col("doc_id") >= 40),
        )
    rows = spark.createDataFrame(
        [(i, [float((i * j) % 7) for j in range(4)]) for i in range(44)],
        "vec_id long, embedding array<float>",
    )
    ai.build_ann_index(rows.filter(F.col("vec_id") < 40), d, nlist=2, m=2, k=4)
    return (
        lambda df: ai.add_to_ann_index(df, d),
        query,
        rows.filter(F.col("vec_id") >= 40),
    )


@pytest.mark.parametrize("kind", ["text", "ann"])
def test_empty_add_claims_nothing(spark, tmp_path, kind):
    """An add of no rows leaves the data dir and the commit log as they
    were; the index then still reads, adds, deletes and compacts (a
    claimed empty segment held no parquet file, and every later read
    failed with UNABLE_TO_INFER_SCHEMA)."""
    d = str(tmp_path / kind)
    add, query, more = _small_index(spark, d, kind)
    calls = _entry_points(spark, d)

    def listing():
        return {x: sorted(os.listdir(os.path.join(d, x))) for x in ("data", "commits")}

    before, first = listing(), query()
    n = add(more.limit(0))["n_docs" if kind == "text" else "n_vectors"]
    assert n == 40
    assert listing() == before
    assert query() == first
    assert add(more)["n_docs" if kind == "text" else "n_vectors"] == 44
    calls[kind, "delete"]()
    calls[kind, "compact"]()
    assert len(query()) >= 40


def test_add_of_blank_docs_adds_length_rows(spark, tmp_path):
    """Documents without a token add their length rows to the one
    segment (its reserved partition, no term bucket), so n_docs counts
    them and reads still run."""
    from rag_content_spark.plans import index_commit as ic, text_index as ti

    d = str(tmp_path / "ti")
    add, query, _more = _small_index(spark, d, "text")
    first = query()
    blank = spark.createDataFrame([(50, ""), (51, "   ")], "doc_id long, text string")
    assert add(blank)["n_docs"] == 42
    seg = ic.live_view(d)[1][-1]
    assert [x for x in os.listdir(os.path.join(d, seg["dir"])) if "=" in x] == [
        "bucket=-1"
    ]
    assert sorted(
        tuple(r) for r in ic.read_union(spark, d, [seg]).select("doc_id", "dl", "token", "tf").collect()
    ) == [(50, 0, None, 1), (51, 0, None, 1)]
    # the scores move with n_docs, the matching documents do not
    assert [r[0] for r in query()] == [r[0] for r in first]
    ti.delete_from_text_index(spark, d, [50])
    assert ti.compact_text_index(spark, d)["n_rows"] > 0
    assert ic.view_stats(*ic.live_view(d))["n_docs"] == 41


_FRESH_QUERY = r"""
import json, sys
from rag_content_spark.session import get_spark
from tests.test_index_commit import _small_index_query

spark = get_spark("fresh-query", master="local[1]", shuffle_partitions=2)
print(json.dumps(_small_index_query(spark, sys.argv[1], sys.argv[2])))
"""


@pytest.mark.parametrize("kind", ["text", "ann"])
def test_compact_of_fully_deleted_index(spark, tmp_path, kind):
    """Compacting an index whose every row is deleted claims a segment
    of no rows: no staged dir is left unclaimed, a query returns no
    rows here and in a fresh process, and a later add is read with exact
    stats (the text case failed with UNABLE_TO_INFER_SCHEMA when a read
    had to infer the empty segment's schema)."""
    import subprocess
    import sys

    from rag_content_spark.plans import index_commit as ic, text_index as ti
    from rag_content_spark.plans import ann_index as ai

    d = str(tmp_path / kind)
    add, query, more = _small_index(spark, d, kind)
    delete = {"text": ti.delete_from_text_index, "ann": ai.delete_from_ann_index}[kind]
    compact = {"text": ti.compact_text_index, "ann": ai.compact_ann_index}[kind]
    delete(spark, d, list(range(40)))
    assert compact(spark, d)["n_rows"] == 0
    root, adds = ic.live_view(d)
    assert root["kind"] == "compact" and adds == []
    assert sorted(os.listdir(os.path.join(d, "data"))) == sorted(
        os.path.basename(s["dir"]) for s in ic.commits(d)
    )
    assert query() == []
    root_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _FRESH_QUERY, d, kind],
        capture_output=True, text=True, cwd=root_dir, timeout=600,
        env=dict(os.environ, SPARK_GRAFT_CPUS="1", PYTHONPATH=root_dir),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == []
    meta = add(more)
    if kind == "text":
        assert (meta["n_docs"], meta["sum_dl"]) == (4, 12)
    else:
        assert meta["n_vectors"] == 4
    assert sorted(r[0] for r in query()) == [40, 41, 42, 43]
