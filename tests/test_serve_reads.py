"""Fixed per-read costs of the serve path: the one-call array literal,
per-read Spark job budgets (counted through statusTracker job groups),
and the segment schemas the index commits record for every read."""

import json
import math
import os
import re
import shutil
import struct
import subprocess
import sys
import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TERMS = ["the", "data"]
WORDS = "the data index query vector segment schema read of to and a".split()


def _docs(spark, n=500):
    """(doc_id, text): seeded prose over a small vocabulary."""
    import random

    rng = random.Random(3)
    rows = [
        (i, " ".join(rng.choice(WORDS) for _ in range(rng.randint(5, 40))))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _emb(spark, n=500, dim=64):
    """(vec_id, embedding ARRAY<FLOAT>): seeded gaussian vectors."""
    import numpy as np

    X = np.random.default_rng(5).standard_normal((n, dim)).astype(np.float32)
    rows = [(i, [float(x) for x in X[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _f32(x: float) -> float:
    return struct.unpack("f", struct.pack("f", x))[0]


SPECIAL = [
    -0.0,
    5e-324,
    1e308,
    0.1 + 0.2,
    _f32(0.1),
    _f32(-1.0 / 3.0),
    float("nan"),
    float("inf"),
    float("-inf"),
]


def _bits(x: float) -> bytes:
    return struct.pack(">d", x)


def _same(got: list, want: list) -> bool:
    return len(got) == len(want) and all(
        (math.isnan(g) and math.isnan(w)) or _bits(g) == _bits(w)
        for g, w in zip(got, want)
    )


@pytest.mark.parametrize("value", SPECIAL, ids=repr)
def test_double_array_lit_round_trips_dim_1(spark, value):
    from rag_content_spark.functions.vector import double_array_lit

    df = spark.range(1).select(
        double_array_lit([value]).alias("new"), F.array(F.lit(value)).alias("old")
    )
    row = df.collect()[0]
    assert _same(row["new"], [value]) and _same(row["old"], [value])
    assert df.schema["new"].dataType == df.schema["old"].dataType


def test_double_array_lit_round_trips_dim_768(spark):
    """Every special value at several positions of a 768-d vector,
    with float32-widened gaussians (what an embedder returns) between
    them: bit-identical to the per-element literal, same type."""
    import numpy as np

    from rag_content_spark.functions.vector import double_array_lit

    rng = np.random.default_rng(7)
    vec = [float(x) for x in rng.standard_normal(768).astype(np.float32)]
    for i, v in enumerate(SPECIAL):
        vec[i] = vec[400 + i] = vec[767 - i] = v
    df = spark.range(1).select(
        double_array_lit(vec).alias("new"),
        F.array(*[F.lit(float(x)) for x in vec]).alias("old"),
    )
    row = df.collect()[0]
    assert _same(row["new"], vec) and _same(row["old"], vec)
    assert df.schema["new"].dataType == df.schema["old"].dataType
    assert not df.schema["new"].dataType.containsNull


def test_double_array_lit_makes_no_per_element_literal(spark, monkeypatch):
    """The helper builds the literal in one parse, never through
    ``F.lit`` (one JVM round trip per element)."""
    from rag_content_spark.functions import vector

    def _no_lit(*_a, **_k):
        raise AssertionError("per-element F.lit")

    monkeypatch.setattr(vector.F, "lit", _no_lit)
    col = vector.double_array_lit([0.5] * 768)
    monkeypatch.undo()
    assert spark.range(1).select(col.alias("v")).collect()[0]["v"] == [0.5] * 768


# ---- per-read job budgets --------------------------------------------------


@contextmanager
def _jobs(spark):
    """Spark job ids run inside the block, via a unique job group."""
    sc = spark.sparkContext
    group = f"serve-reads-{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # the status store fills from the listener bus, asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _stages(spark, job_ids) -> int:
    st = spark.sparkContext.statusTracker()
    return sum(len(st.getJobInfo(j).stageIds) for j in job_ids)


def _chunk_index(spark, tmp_path):
    emb, docs = _emb(spark), _docs(spark)
    path = str(tmp_path / "chunks")
    (
        emb.join(docs, emb["vec_id"] == docs["doc_id"])
        .select(
            F.col("vec_id").cast("string").alias("chunk_id"),
            "text",
            "embedding",
            F.lit("en").alias("lang"),
            (F.col("doc_id") % 7).alias("source"),
        )
        .limit(60)
        .repartition(4)
        .write.parquet(path)
    )
    return spark.read.parquet(path)


def test_query_index_runs_one_job_without_exchange(spark, tmp_path):
    """Exact top-k is one job of one stage: the threshold gate runs on
    the <= k collected rows. An unpartitioned Window on top of the
    top-k would make it shuffle its per-partition winners to one
    partition (a second stage) instead of merging them on the driver."""
    from rag_content_spark.plans.query import query_index

    index = _chunk_index(spark, tmp_path)
    assert index.rdd.getNumPartitions() > 1
    qvec = list(index.orderBy("chunk_id").first()["embedding"])
    query_index(index, "warm", qvec, k=3)
    with _jobs(spark) as ids:
        res = query_index(index, "q", qvec, k=3)
    assert len(res["nodes"]) == 3
    assert len(ids) == 1 and _stages(spark, ids) == 1


def test_query_ann_index_runs_no_job_before_its_action(spark, tmp_path):
    """Building the ANN read — meta, centroids, probe choice, segment
    reads — runs no Spark job once the segments' schemas are known."""
    from rag_content_spark.plans.ann_index import build_ann_index, query_ann_index

    emb = _emb(spark)
    d = str(tmp_path / "ann")
    build_ann_index(emb, d, nlist=4, m=4, k=16)
    q = list(emb.orderBy("vec_id").first()["embedding"])
    first = query_ann_index(spark, d, q, topk=5, n_probe=2).collect()
    with _jobs(spark) as ids:
        plan = query_ann_index(spark, d, q, topk=5, n_probe=2)
    assert ids == []
    assert plan.collect() == first


def test_second_read_of_unchanged_index_runs_no_schema_job(spark, tmp_path):
    from rag_content_spark.plans.text_index import (
        add_to_text_index,
        build_text_index,
        query_text_index,
    )

    docs = _docs(spark)
    d = str(tmp_path / "ti")
    build_text_index(docs.filter(F.col("doc_id") % 2 == 0), d, n_buckets=8)
    add_to_text_index(docs.filter(F.col("doc_id") % 2 == 1), d)
    first = query_text_index(spark, d, TERMS)
    with _jobs(spark) as ids:
        again = query_text_index(spark, d, TERMS)
    assert ids == []
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_query_text_index_plan_has_no_existing_rdd_scan(spark, tmp_path):
    """The (n_docs, avgdl) stats are literals, not a Python-side
    createDataFrame scanned through a Python worker."""
    from rag_content_spark.plans.text_index import build_text_index, query_text_index

    docs = _docs(spark)
    d = str(tmp_path / "ti")
    build_text_index(docs, d, n_buckets=8)
    df = query_text_index(spark, d, ["the"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    assert df.count() > 0


def test_steady_bm25_read_runs_at_most_three_jobs(spark, tmp_path):
    """A repeated BM25 read over a base and an add: the driver-known
    (n_docs, avgdl) are literals in the score, so no stats broadcast
    runs (5 jobs when they were a one-row table joined in), and dl rides
    in the postings, so no lengths join runs (4 jobs with one)."""
    from rag_content_spark.plans.text_index import (
        add_to_text_index,
        build_text_index,
        query_text_index,
    )

    docs = _docs(spark)
    d = str(tmp_path / "ti")
    build_text_index(docs.filter(F.col("doc_id") % 2 == 0), d, n_buckets=8)
    add_to_text_index(docs.filter(F.col("doc_id") % 2 == 1), d)
    first = sorted(query_text_index(spark, d, TERMS).collect())
    with _jobs(spark) as ids:
        again = sorted(query_text_index(spark, d, TERMS).collect())
    assert again == first and len(first) > 0
    assert 1 <= len(ids) <= 3, ids


def test_text_add_runs_at_most_three_jobs(spark, tmp_path):
    """A small add is one write of one segment: the aggregate exchange,
    the bucket exchange (AQE gives it one reducer) and the write, with
    the stats observed on the write (4 jobs when the lengths were a
    second write, 7 when the postings shuffled into a fixed 32 reducers
    and the stats were read back from the staged lengths)."""
    from rag_content_spark.plans.text_index import add_to_text_index, build_text_index

    docs = _docs(spark)
    d = str(tmp_path / "ti")
    build_text_index(docs.filter(F.col("doc_id") >= 4), d)
    with _jobs(spark) as ids:
        meta = add_to_text_index(docs.filter(F.col("doc_id") < 4), d)
    assert meta["n_docs"] == 500
    assert 1 <= len(ids) <= 3, ids


def test_text_build_runs_at_most_three_jobs(spark, tmp_path):
    """A build is the same one segment write as an add (4 jobs when the
    lengths were a second write), with exact stats."""
    from rag_content_spark.functions.text import tokens
    from rag_content_spark.plans.text_index import build_text_index

    docs = _docs(spark)
    with _jobs(spark) as ids:
        meta = build_text_index(docs, str(tmp_path / "ti"), n_buckets=8)
    assert 1 <= len(ids) <= 3, ids
    want = docs.agg(F.count(F.lit(1)), F.sum(F.size(tokens("text")))).first()
    assert (meta["n_docs"], meta["sum_dl"]) == tuple(want)


@pytest.mark.parametrize("positions", [False, True])
def test_segment_write_tokenizes_once(spark, positions):
    """The optimized plan of a segment write splits each document's text
    once: its postings, its dl and its length row share one
    tokenization."""
    from rag_content_spark.plans import text_index as ti

    meta = {"format": ti.FORMAT, "n_buckets": 8, "id_col": "doc_id",
            "positions": positions}
    seg = ti._postings_of(_docs(spark, n=20), meta, "text")
    plan = seg._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan


def _scramble(d, keep):
    """Overwrite every parquet file under index ``d``'s data segments
    whose bucket directory ``keep`` rejects: a scan that opens one
    fails."""
    for root, _dirs, files in os.walk(os.path.join(d, "data")):
        bucket = os.path.basename(root)
        if bucket.startswith("bucket=") and not keep(bucket):
            for fn in files:
                if fn.endswith(".parquet"):
                    with open(os.path.join(root, fn), "wb") as f:
                        f.write(b"not parquet")


def test_term_reads_skip_length_rows_and_delete_stats_read_only_them(
    spark, tmp_path
):
    """BM25, phrase and proximity reads never open the reserved
    ``bucket=-1`` partition of the length rows, and a delete's negative
    stats open nothing else: each still gives its results with the
    other side's files unreadable."""
    from rag_content_spark.plans import text_index as ti

    docs = _docs(spark)
    d = str(tmp_path / "ti")
    ti.build_text_index(
        docs.filter(F.col("doc_id") % 2 == 0), d, n_buckets=8, positions=True
    )
    ti.add_to_text_index(docs.filter(F.col("doc_id") % 2 == 1), d)
    reads = {
        "bm25": lambda: ti.query_text_index(spark, d, TERMS),
        "phrase": lambda: ti.phrase_query_text_index(spark, d, "the data"),
        "proximity": lambda: ti.proximity_query_text_index(
            spark, d, ["index", "read"], 4
        ),
    }
    want = {k: sorted(r().collect()) for k, r in reads.items()}
    assert all(want.values())
    plan = reads["bm25"]()._jdf.queryExecution().executedPlan().toString()
    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert filters and all("bucket" in f and "-1" not in f for f in filters), filters
    intact = str(tmp_path / "intact")
    shutil.copytree(d, intact)
    _scramble(d, keep=lambda b: b != "bucket=-1")
    assert {k: sorted(r().collect()) for k, r in reads.items()} == want
    shutil.rmtree(d)
    shutil.copytree(intact, d)
    _scramble(d, keep=lambda b: b == "bucket=-1")
    victims = [r["doc_id"] for r in docs.filter(F.col("doc_id") < 3).collect()]
    stats = ti.delete_from_text_index(spark, d, victims)
    expect = ti.delete_from_text_index(spark, intact, victims)
    assert stats == expect and stats["n_docs"] == 497


def test_query_ann_index_runs_one_job_with_the_two_step_rows(spark, tmp_path):
    """The ANN refine carries the embedding through the ADC shortlist:
    one scan of the probed cells and one job (two when the shortlist
    was broadcast and joined back to the vectors), with the rows of
    that two-step reference over a base and an add."""
    from rag_content_spark.functions.vector import double_array_lit, euclidean
    from rag_content_spark.plans import index_commit as ic
    from rag_content_spark.plans.ann_index import (
        add_to_ann_index,
        build_ann_index,
        query_ann_index,
    )

    emb = _emb(spark)
    d = str(tmp_path / "ann")
    build_ann_index(emb.filter(F.col("vec_id") % 2 == 0), d, nlist=4, m=4, k=16)
    add_to_ann_index(emb.filter(F.col("vec_id") % 2 == 1), d)
    topk = 5
    for q_id in (3, 10):
        q = list(emb.filter(F.col("vec_id") == q_id).first()["embedding"])
        query_ann_index(spark, d, q, topk=topk, n_probe=2).collect()
        with _jobs(spark) as ids:
            got = query_ann_index(spark, d, q, topk=topk, n_probe=2).collect()
        assert len(ids) == 1, ids
        shortlist = query_ann_index(
            spark, d, q, topk=4 * topk, n_probe=2, refine=False
        )
        vecs = ic.read_live(spark, d, "vec_id").select("vec_id", "embedding")
        want = (
            shortlist.join(vecs, "vec_id")
            .select(
                "vec_id",
                "adc",
                F.round(euclidean(F.col("embedding"), double_array_lit(q)), 6)
                .alias("exact"),
            )
            .orderBy("exact", "vec_id")
            .limit(topk)
            .collect()
        )
        assert got == want and len(got) == topk
        assert got[0]["vec_id"] == q_id and got[0]["exact"] == 0.0


# ---- reads at the default layout -------------------------------------------


def _wide_docs(spark, n=500):
    """(doc_id, text) over a vocabulary wide enough that each of the
    default 32 token buckets holds a term."""
    import random

    rng = random.Random(3)
    vocab = WORDS * 25 + [f"w{i}" for i in range(300)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 40))))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _listing_jobs(spark) -> int:
    """Parallel file-listing jobs run so far in this JVM: Spark lists
    the subdirectories of a read path with a job of its own when there
    are more than
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.HiveCatalogMetrics
    return metrics.METRIC_PARALLEL_LISTING_JOB_COUNT().getCount()


def _partition_dirs(d, segment) -> list[str]:
    root = os.path.join(d, segment["dir"])
    return [x for x in os.listdir(root) if "=" in x]


@pytest.fixture
def default_index(spark, tmp_path):
    """A positional text index at the default 32 buckets over a base
    and an add: each segment holds 33 partition directories, the
    length rows' included."""
    from rag_content_spark.plans import index_commit as ic
    from rag_content_spark.plans import text_index as ti

    docs = _wide_docs(spark)
    d = str(tmp_path / "ti")
    ti.build_text_index(docs.filter(F.col("doc_id") % 2 == 0), d, positions=True)
    ti.add_to_text_index(docs.filter(F.col("doc_id") % 2 == 1), d)
    assert [len(_partition_dirs(d, s)) for s in ic.commits(d)] == [33, 33]
    return d


@pytest.mark.parametrize("read", ["bm25", "phrase"])
def test_default_layout_term_read_runs_at_most_three_jobs(
    spark, default_index, read
):
    """A steady BM25 or phrase read at the default layout names the
    partition directories of its terms, so Spark lists no segment root
    of 33 directories with a job of its own (5 and 4 jobs when each of
    the two segments was listed that way)."""
    from rag_content_spark.plans import text_index as ti

    d = default_index
    run = {
        "bm25": lambda: ti.query_text_index(spark, d, TERMS),
        "phrase": lambda: ti.phrase_query_text_index(spark, d, "the data"),
    }[read]
    first = sorted(run().collect())
    listed = _listing_jobs(spark)
    with _jobs(spark) as ids:
        again = sorted(run().collect())
    assert again == first and len(first) > 0
    assert _listing_jobs(spark) == listed
    assert 1 <= len(ids) <= 3, ids


def test_default_layout_text_delete_runs_no_listing_job(spark, default_index):
    """A delete reads its negative stats from the named ``bucket=-1``
    directories only: no listing job, and the stats a fresh read of the
    surviving rows counts."""
    from rag_content_spark.plans import index_commit as ic
    from rag_content_spark.plans import text_index as ti

    d = default_index
    listed = _listing_jobs(spark)
    with _jobs(spark) as ids:
        stats = ti.delete_from_text_index(spark, d, list(range(0, 500, 7)))
    assert _listing_jobs(spark) == listed
    assert 1 <= len(ids) <= MAINTENANCE_JOBS["delete_from_text_index"], ids
    want = (
        ic.read_live(spark, d, "doc_id")
        .filter(F.col("bucket") == ti.LENGTHS_BUCKET)
        .agg(F.count(F.lit(1)), F.sum("dl"))
        .first()
    )
    assert (stats["n_docs"], stats["sum_dl"]) == tuple(want)
    assert stats["n_docs"] == 500 - len(range(0, 500, 7))


def test_read_of_absent_buckets_runs_no_job(spark, tmp_path):
    """Terms whose buckets no segment holds read no segment: the read is
    an empty relation of the recorded schema, and neither building it
    nor collecting it runs a job, a live tombstone included."""
    from rag_content_spark.plans import index_commit as ic
    from rag_content_spark.plans import text_index as ti

    docs = _docs(spark)
    d = str(tmp_path / "ti")
    ti.build_text_index(docs.filter(F.col("doc_id") % 2 == 0), d, positions=True)
    ti.add_to_text_index(docs.filter(F.col("doc_id") % 2 == 1), d)
    ti.delete_from_text_index(spark, d, [0, 1])
    held = {x for s in ic.commits(d) if s["kind"] != "delete"
            for x in _partition_dirs(d, s)}
    absent = [t for t in (f"zz{i}" for i in range(200))
              if f"bucket={ti._bucket_of(t, 32)}" not in held][:2]
    assert len(held) < 33 and len(absent) == 2
    reads = {
        "bm25": lambda ts: ti.query_text_index(spark, d, ts),
        "phrase": lambda ts: ti.phrase_query_text_index(spark, d, " ".join(ts)),
        "proximity": lambda ts: ti.proximity_query_text_index(spark, d, ts, 4),
    }
    for name, read in reads.items():
        with _jobs(spark) as ids:
            df = read(absent)
            rows = df.collect()
        assert ids == [] and rows == [], name
        assert df.schema == read(TERMS).schema, name


def test_ann_add_counts_during_its_write(spark, tmp_path):
    """An add runs no count() job ahead of its write (3 jobs when it
    did), and its n_vectors stays exact for an empty add."""
    from rag_content_spark.plans.ann_index import add_to_ann_index, build_ann_index

    emb = _emb(spark)
    d = str(tmp_path / "ann")
    build_ann_index(emb.filter(F.col("vec_id") % 3 == 0), d, nlist=4, m=4, k=16)
    add_to_ann_index(emb.filter(F.col("vec_id") % 3 == 1), d)
    with _jobs(spark) as ids:
        meta = add_to_ann_index(emb.filter(F.col("vec_id") % 3 == 2), d)
    assert meta["n_vectors"] == 500
    assert 1 <= len(ids) <= 2, ids
    assert add_to_ann_index(emb.filter(F.col("vec_id") < 0), d)["n_vectors"] == 500


def test_delete_of_no_ids_is_refused_and_changes_nothing(spark, tmp_path):
    """An empty id list raises ValueError before anything is written, as
    it did when the ids were a list-built DataFrame (Spark could not
    infer its schema); the ids of a real delete keep the list-inferred
    type."""
    from rag_content_spark.plans import text_index as ti

    d = str(tmp_path / "ti")
    ti.build_text_index(_docs(spark, n=40), d, n_buckets=4)

    def listing():
        return {x: sorted(os.listdir(os.path.join(d, x))) for x in ("data", "commits")}

    before = listing()
    with pytest.raises(ValueError):
        ti.delete_from_text_index(spark, d, [])
    assert listing() == before
    assert ti.delete_from_text_index(spark, d, [3, 5])["n_docs"] == 38
    (tomb,) = set(listing()["data"]) - set(before["data"])
    tomb = spark.read.parquet(os.path.join(d, "data", tomb))
    assert tomb.schema.simpleString() == "struct<doc_id:bigint>"
    assert sorted(r[0] for r in tomb.collect()) == [3, 5]


# ---- schema reuse invalidation ----------------------------------------------


def _read_state(spark, d):
    """What a reader sees of index ``d``: its BM25 hits, as
    JSON-comparable values."""
    from rag_content_spark.plans.text_index import query_text_index

    return sorted(
        [r["doc_id"], r["bm25"]] for r in query_text_index(spark, d, TERMS).collect()
    )


_FRESH_READ = r"""
import json, sys
from rag_content_spark.session import get_spark
from tests.test_serve_reads import _read_state

spark = get_spark("fresh-read", master="local[1]", shuffle_partitions=2)
print(json.dumps([_read_state(spark, d) for d in json.loads(sys.argv[1])]))
"""


def test_schema_reuse_sees_every_index_change(spark, tmp_path):
    """After a first read, each change is visible to the next read in
    this process, exactly as a fresh process reads it: an add, a delete
    and a compaction."""
    from rag_content_spark.plans.text_index import (
        add_to_text_index,
        build_text_index,
        compact_text_index,
        delete_from_text_index,
    )

    docs = _docs(spark)
    d = str(tmp_path / "ti")
    build_text_index(docs.filter(F.col("doc_id") < 200), d, n_buckets=8)
    steps = [
        ("first read", lambda: None),
        ("add", lambda: add_to_text_index(docs.filter(F.col("doc_id") >= 200), d)),
        ("delete", lambda: delete_from_text_index(spark, d, list(range(0, 500, 7)))),
        ("compact", lambda: compact_text_index(spark, d)),
    ]
    here, snaps = [], []
    for i, (_name, change) in enumerate(steps):
        change()
        here.append(_read_state(spark, d))
        snaps.append(str(tmp_path / f"snap{i}"))
        shutil.copytree(d, snaps[-1])
    # add and delete change what a read returns; compaction moves bytes
    # only
    assert [a != b for a, b in zip(here, here[1:])] == [True, True, False]
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", PYTHONPATH=ROOT)
    proc = subprocess.run(
        [sys.executable, "-c", _FRESH_READ, json.dumps(snaps)],
        capture_output=True, text=True, cwd=ROOT, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    fresh = json.loads(proc.stdout.strip().splitlines()[-1])
    for (name, _), got, want in zip(steps, here, fresh):
        assert got == want, name


def test_written_segments_read_with_the_inferred_schema(spark, tmp_path):
    """Every segment a writer stages (build, add, tombstone, compaction;
    both indexes, positional postings included) records in its commit
    the schema a fresh inference gives, and its read, with that schema,
    runs no inference job."""
    from rag_content_spark.plans import ann_index as ai, index_commit as ic
    from rag_content_spark.plans import text_index as ti

    docs, emb = _docs(spark), _emb(spark)
    t, a = str(tmp_path / "ti"), str(tmp_path / "ann")
    ti.build_text_index(
        docs.filter(F.col("doc_id") % 2 == 0), t, n_buckets=8, positions=True
    )
    ti.add_to_text_index(docs.filter(F.col("doc_id") % 2 == 1), t)
    ti.delete_from_text_index(spark, t, [0, 1])
    ti.compact_text_index(spark, t)
    ti.add_to_text_index(docs.filter(F.col("doc_id") < 4), t)
    ai.build_ann_index(emb.filter(F.col("vec_id") % 2 == 0), a, nlist=4, m=4, k=16)
    ai.add_to_ann_index(emb.filter(F.col("vec_id") % 2 == 1), a)
    ai.delete_from_ann_index(spark, a, [0, 1])
    segments = [(d, s) for d in (t, a) for s in ic.commits(d)]
    assert sorted(
        os.path.join(d, s["dir"]) for d, s in segments
    ) == sorted(
        os.path.join(d, "data", x) for d in (t, a) for x in os.listdir(os.path.join(d, "data"))
    )
    assert len(segments) == 8
    with _jobs(spark) as ids:
        seen = [ic.read_union(spark, d, [s]).schema for d, s in segments]
    assert ids == []
    for (d, s), schema in zip(segments, seen):
        path = os.path.join(d, s["dir"])
        assert StructType.fromJson(s["schema"]) == schema == spark.read.parquet(path).schema, path


# ---- maintenance job budgets ------------------------------------------------

# Jobs each maintenance call ran before delete and compact were shared by
# both indexes (index_commit.delete_ids / compact), on this same sequence;
# the compactions' since each index is one component whose stats are
# observed on the compaction's one write (4 each measured, 11 and 6
# before), with one job of headroom.
MAINTENANCE_JOBS = {
    "delete_from_text_index": 8,
    "compact_text_index": 5,
    "delete_from_ann_index": 10,
    "compact_ann_index": 5,
}


def test_maintenance_runs_no_more_jobs_than_before(spark, tmp_path):
    """Delete and compact of both indexes, over a base and one add, each
    run within the job count of their per-index versions."""
    from rag_content_spark.plans import ann_index as ai, text_index as ti

    docs, emb = _docs(spark), _emb(spark)
    t, a = str(tmp_path / "ti"), str(tmp_path / "ann")
    ti.build_text_index(docs.filter(F.col("doc_id") % 2 == 0), t, n_buckets=8)
    ti.add_to_text_index(docs.filter(F.col("doc_id") % 2 == 1), t)
    ti.query_text_index(spark, t, ["the"]).collect()
    ai.build_ann_index(emb.filter(F.col("vec_id") % 2 == 0), a, nlist=4, m=4, k=16)
    ai.add_to_ann_index(emb.filter(F.col("vec_id") % 2 == 1), a)
    victims = list(range(0, 500, 7))
    calls = {
        "delete_from_text_index": lambda: ti.delete_from_text_index(spark, t, victims),
        "compact_text_index": lambda: ti.compact_text_index(spark, t),
        "delete_from_ann_index": lambda: ai.delete_from_ann_index(spark, a, victims),
        "compact_ann_index": lambda: ai.compact_ann_index(spark, a),
    }
    ran = {}
    for name, call in calls.items():
        with _jobs(spark) as ids:
            call()
        ran[name] = len(ids)
    assert all(ran[k] <= MAINTENANCE_JOBS[k] for k in ran), ran
