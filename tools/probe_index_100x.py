"""Round-9 probe (verdict task 7): the commit-logged POSITIONAL text
index at the 100x replica (500k docs) — build + 3 incremental adds +
lookups + compact + vacuum, PLUS the live-view read-overhead curve as
the commit count grows.

Why the curve: every read assembles the live view by scanning
``commits/`` (O(n_commits) manifest reads + one parquet-dir read per
live segment). The round-8 verdict asked where that starts to matter
and whether snapshot pinning is needed. This probe appends K small adds
one at a time and times a phrase lookup after each, so the per-segment
overhead is measured, not asserted. Each point also records the
Spark jobs and tasks the lookup ran (statusTracker, through a job
group): at 64 buckets a segment holds 65 partition directories, which
Spark lists with a job of its own whenever a read hands it the
segment root.

Usage: python tools/probe_index_100x.py [sf_dir] [out.json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _counted(spark, fn):
    """``(fn(), seconds, jobs, tasks)``: the Spark jobs and tasks
    ``fn`` ran, through a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, group)
    t0 = time.time()
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    elapsed = time.time() - t0
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [st.getStageInfo(s) for j in jobs for s in st.getJobInfo(j).stageIds]
    return out, elapsed, len(jobs), sum(s.numTasks for s in stages if s)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sgraft_sf10"
    out_json = sys.argv[2] if len(sys.argv) > 2 else None
    from pyspark.sql import functions as F

    from rag_content_spark.plans import index_commit as ic
    from rag_content_spark.plans.text_index import (
        add_to_text_index,
        build_text_index,
        compact_text_index,
        delete_from_text_index,
        phrase_query_text_index,
        query_text_index,
    )
    from rag_content_spark.session import get_spark

    spark = get_spark("probe-index-100x", shuffle_partitions=32)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    n = docs.count()
    d = os.path.join(tempfile.mkdtemp(prefix="sgraft_idx100x_"), "ti")
    res: dict = {"sf_dir": sf_dir, "n_docs": n}

    t0 = time.time()
    build_text_index(
        docs.filter(F.col("doc_id") % 4 == 0), d, n_buckets=64, positions=True
    )
    res["build_quarter_s"] = round(time.time() - t0, 2)

    t0 = time.time()
    for r in (1, 2, 3):
        add_to_text_index(docs.filter(F.col("doc_id") % 4 == r), d)
    res["three_adds_s"] = round(time.time() - t0, 2)

    t0 = time.time()
    bm = query_text_index(spark, d, ["spark", "join", "merge"]).count()
    res["bm25_lookup_4seg_s"] = round(time.time() - t0, 2)
    res["bm25_rows"] = bm
    t0 = time.time()
    ph = phrase_query_text_index(spark, d, "the spark").count()
    res["phrase_lookup_4seg_s"] = round(time.time() - t0, 2)
    res["phrase_rows"] = ph

    # read-overhead curve: +1 tiny add per step, lookup after each
    curve = []
    probe_batch = docs.filter(F.col("doc_id") % 4 == 0).limit(200)
    base_id = 1_000_000_000
    for step in range(1, 17):
        batch = probe_batch.select(
            (F.col("doc_id") + base_id + step * 1000).alias("doc_id"),
            "text",
        )
        t0 = time.time()
        add_to_text_index(batch, d)
        t_add = time.time() - t0
        k, t_lookup, jobs, tasks = _counted(
            spark, lambda: phrase_query_text_index(spark, d, "the spark").count()
        )
        n_commits = len(ic.commits(d))
        curve.append(
            {
                "n_commits": n_commits,
                "add_s": round(t_add, 2),
                "lookup_s": round(t_lookup, 2),
                "lookup_jobs": jobs,
                "lookup_tasks": tasks,
                "rows": k,
            }
        )
        print(json.dumps(curve[-1]), flush=True)
    res["add_curve"] = curve

    # delete a slice, compact (physical apply + exact recount), vacuum
    victims = [
        r["doc_id"]
        for r in docs.filter(F.col("doc_id") % 1000 == 7).collect()
    ]
    t0 = time.time()
    delete_from_text_index(spark, d, victims)
    res["delete_s"] = round(time.time() - t0, 2)
    res["n_deleted"] = len(victims)

    t0 = time.time()
    cstats = compact_text_index(spark, d)
    res["compact_s"] = round(time.time() - t0, 2)
    res["compact_files"] = [
        cstats["n_files_before"],
        cstats["n_files_after"],
    ]
    t0 = time.time()
    ph2 = phrase_query_text_index(spark, d, "the spark").count()
    res["phrase_lookup_post_compact_s"] = round(time.time() - t0, 2)
    res["phrase_rows_post_compact"] = ph2
    t0 = time.time()
    res["vacuum_dirs"] = ic.vacuum_index(d)
    res["vacuum_s"] = round(time.time() - t0, 2)

    print(json.dumps(res))
    if out_json:
        with open(out_json, "w") as f:
            json.dump(res, f, indent=1)
    shutil.rmtree(os.path.dirname(d), ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
