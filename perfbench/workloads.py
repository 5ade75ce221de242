"""The benchmark's workloads. Each takes a :class:`common.Run`, sets up
(counted in ``setup_s``), runs its ops in a closed loop for
``run.seconds``, checks every output, and records metrics.

- ``rag_serve``: build an index from a seeded markdown corpus through the
  CLI build path, then serve one client: retrieval rounds (exact top-k,
  ANN top-k, BM25, node lookup) and one ingest (build path -> ANN + text
  add commit) per eight reads.
- ``curate``: ``rag-spark curate --near-dedup`` over seeded parquet
  batches with planted exact and near duplicates.
- ``rag_build``: the CLI build path over seeded 1000-document folders
  (run by hand; README.md says why ``BENCHMARK.json`` leaves it out).

With ``--trace 1`` each workload runs the same loop twice: the first
half of the time untraced, the second half with a span around every
call into the engine, plus one prefix-forcing staircase that splits the
lazy pipeline into per-layer self times.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import time

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from common import mean, median, tree_cpu_s
from spans import force

from rag_content_spark.embedding.mock import mock_embed_udf
from rag_content_spark.plans.build_pipeline import BuildConfig, build_chunks
from rag_content_spark.sinks.exports import build_metadata_json, write_metadata_json
from rag_content_spark.sinks.parquet_sink import write_index
from rag_content_spark.sources.directory import read_text_documents_fast

CFG = BuildConfig()  # markdown-aware, hermetic, 380 / 0, 768-d
BUILD_DOCS = 5000  # sf0.1 document count; five 1000-document folders
SERVE_DOCS = 200
CURATE_DOCS = 3000  # three 1000-document batches, used in turn
EXACT_K = 5
ANN_K = 10
# k-means and PQ training cost ~0.5-1 s per Spark job whatever the data
# size, so the model is as small as the engine allows
ANN_PARAMS = dict(nlist=2, m=1, k=16, kmeans_iterations=0)
ADD_DOCS = 4


def _ms(seconds: float) -> float:
    return seconds * 1000.0


# ---------------------------------------------------------------- build path


def build_folder(run, src_dir: str, out_dir: str, tag) -> tuple[float, float]:
    """The ``rag-spark build`` job over one folder: read -> build_chunks
    (mock-UDF embed) -> write_index + metadata.json. Returns (wall_s,
    plan_s), plan_s being driver time inside the public calls before the
    first action."""
    tr = run.tracer
    t0 = time.perf_counter()
    with tr.span("sources.read_text_documents_fast", op=tag):
        docs = read_text_documents_fast(run.spark, src_dir)
    with tr.span("plans.build_pipeline.build_chunks", op=tag):
        chunks = build_chunks(docs, CFG, embedder=mock_embed_udf()).cache()
    plan_s = time.perf_counter() - t0
    with tr.span("sinks.write_index", op=tag):
        write_index(chunks, os.path.join(out_dir, "index"))
    with tr.span("sinks.metadata_json", op=tag):
        n_docs = chunks.select("document_id").distinct().count()
        write_metadata_json(
            os.path.join(out_dir, "metadata.json"),
            build_metadata_json(
                execution_time_s=int(time.perf_counter() - t0),
                embedding_model=CFG.embedding_model,
                index_id="perfbench",
                vector_db="parquet",
                embedding_dimension=CFG.embedding_dimension,
                chunk=CFG.chunk_size,
                overlap=CFG.chunk_overlap,
                total_embedded_files=n_docs,
            ),
        )
    chunks.unpersist()
    return time.perf_counter() - t0, plan_s


def read_vectors(index_dir: str, columns=("chunk_id", "embedding")):
    """(table, n x 768 matrix) read back with pyarrow."""
    t = pq.read_table(index_dir, columns=list(columns))
    emb = t.column("embedding").combine_chunks()
    lengths = pc.list_value_length(emb)
    if pc.min(lengths).as_py() != CFG.embedding_dimension or pc.max(
        lengths
    ).as_py() != CFG.embedding_dimension:
        raise AssertionError("embedding dimension is not 768 everywhere")
    mat = emb.flatten().to_numpy(zero_copy_only=False).reshape(
        -1, CFG.embedding_dimension
    )
    return t, mat


def check_build(out_dir: str, n_docs: int, n_chunks: int) -> bool:
    """Unique chunk ids, 768-d unit-norm embeddings, the expected chunk
    count, and metadata.json counting every document."""
    t, mat = read_vectors(os.path.join(out_dir, "index"))
    ids = t.column("chunk_id").to_pylist()
    norms = np.linalg.norm(mat, axis=1)
    with open(os.path.join(out_dir, "metadata.json")) as f:
        meta = json.load(f)
    checks = {
        "chunk count": len(ids) == n_chunks,
        "unique ids": len(set(ids)) == len(ids),
        "unit norm": bool(np.all(np.abs(norms - 1.0) < 1e-4)),
        "metadata.json files": meta["total-embedded-files"] == n_docs,
    }
    bad = [k for k, ok in checks.items() if not ok]
    if bad:
        print(f"perfbench: build check failed: {bad} ({len(ids)} vs {n_chunks})", file=sys.stderr)
    return not bad


def _dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(suffix) and not fn.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, fn))
    return n, size


def build_staircase(run, src_dir: str, out_dir: str, n_docs: int, n_chunks: int) -> None:
    """Force each prefix of the build pipeline in order; a layer's self
    time is its prefix's time minus the previous prefix's. ``n_docs``
    and ``n_chunks`` are the folder's counts, which the build check has
    already matched against the engine's output."""
    from rag_content_spark.operators.chunking import split_markdown
    from rag_content_spark.operators.filters import (
        apply_unreachable_policy,
        valid_chunk,
    )
    from rag_content_spark.operators.metadata import populate_metadata

    spark, tr = run.spark, run.tracer

    def docs():
        return read_text_documents_fast(spark, src_dir)

    def meta():
        return apply_unreachable_policy(
            populate_metadata(docs(), hermetic=CFG.hermetic),
            CFG.unreachable_action,
            CFG.ignore_list,
        )

    def split():
        return split_markdown(meta()).withColumnRenamed("section_text", "unit_text")

    def units():
        return split().filter(valid_chunk("unit_text", "doc_type"))

    levels = [
        ("sources", docs),
        ("metadata", meta),
        ("chunking.split", split),
        ("filters", units),
        ("chunking.window", lambda: build_chunks(docs(), CFG)),
        ("embedding", lambda: build_chunks(docs(), CFG, embedder=mock_embed_udf())),
    ]
    cum, phase, tr.phase = {}, tr.phase, "staircase"
    with tr.span("staircase.build"):
        for name, make in levels:
            t = time.perf_counter()
            with tr.span(f"force.{name}"):
                force(make())
            cum[name] = time.perf_counter() - t
        t = time.perf_counter()
        with tr.span("force.sinks"):
            write_index(
                build_chunks(docs(), CFG, embedder=mock_embed_udf()),
                os.path.join(out_dir, "index"),
            )
        cum["sinks"] = time.perf_counter() - t
    tr.phase = phase
    names = [n for n, _ in levels] + ["sinks"]
    self_s = {n: cum[n] - (cum[names[i - 1]] if i else 0.0) for i, n in enumerate(names)}
    kept = split().agg(
        F.count(F.lit(1)).alias("split"),
        F.sum(valid_chunk("unit_text", "doc_type").cast("int")).alias("units"),
    ).collect()[0]
    n_split, n_units = kept["split"], kept["units"]
    files, out_bytes = _dir_bytes(os.path.join(out_dir, "index"), ".parquet")
    _n, in_bytes = _dir_bytes(src_dir, ".md")
    run.layer("sources.self_s", self_s["sources"], "s")
    run.layer("sources.docs", n_docs, "count")
    run.layer("metadata.self_s", self_s["metadata"], "s")
    run.layer("filters.self_s", self_s["filters"], "s")
    run.layer("filters.kept_ratio", n_units / n_split if n_split else 0.0, "ratio")
    run.layer("chunking.self_s", self_s["chunking.split"] + self_s["chunking.window"], "s")
    run.layer("chunking.chunks", n_chunks, "count")
    run.layer("embedding.self_s", self_s["embedding"], "s")
    run.layer("embedding.rows", n_chunks, "count")
    run.layer("sinks.self_s", self_s["sinks"], "s")
    run.layer("sinks.files", files, "count")
    run.layer("sinks.bytes_per_input_byte", out_bytes / in_bytes if in_bytes else 0.0, "ratio")
    run.trace_extra["build_staircase_cumulative_s"] = cum


def _per_op(run, tags) -> dict:
    tot = run.tracer.totals(lambda r: r.get("op") in tags)
    n = max(1, len(tags))
    return {k: tot[k] / n for k in ("jobs", "stages", "tasks", "failed_tasks")}


def _phases(run) -> list[tuple[bool, float]]:
    """(traced, seconds) per measured phase: the traced run spends the
    first half untraced and the second half traced."""
    if run.traced:
        return [(False, run.seconds / 2), (True, run.seconds / 2)]
    return [(False, run.seconds)]


def _more(start: float, seconds: float, done: int, min_ops: int, last: float) -> bool:
    """Whether a closed loop starts another op: always until ``min_ops``
    are done, then only while one more op as long as the last one would
    end within ``seconds`` of ``start``. Each run so does close to the
    same work, and the time it takes is what varies."""
    if done < min_ops:
        return True
    return time.perf_counter() - start + last <= seconds


def _measure_ops(run, one, staircase, min_ops: int) -> list[int]:
    """Closed loop over ``one(i, traced) -> (wall_s, docs, ok)`` for the
    run's seconds (see :func:`_more`). Records the measured figures
    (:meth:`common.Run.measured`) from the untraced ops; in the traced
    run, runs ``staircase()`` first and returns the traced op ids."""
    walls, cpus, tags, n_docs = {False: [], True: []}, [], [], 0
    i = 1
    for traced, seconds in _phases(run):
        run.tracer.enabled, run.tracer.phase = traced, "measure"
        if traced:
            staircase()
        start, last = time.perf_counter(), 0.0
        # the traced phase only compares warm ops with the untraced ones
        need = 1 if traced else min_ops
        while _more(start, seconds, len(walls[traced]), need, last):
            res = {}
            c = tree_cpu_s()

            def step(i=i, traced=traced):
                res["r"] = one(i, traced)
                return res["r"][2]

            run.op(f"{run.args.workload} op {i}", step)
            c = tree_cpu_s() - c
            i += 1
            if "r" not in res:
                break  # the op raised; its failure is already counted
            last = res["r"][0]
            walls[traced].append(last)
            if traced:
                tags.append(i - 1)
            else:
                cpus.append(c)
                n_docs += res["r"][1]
    plain = walls[False]
    if not plain:
        raise RuntimeError("no measured op completed")
    run.measured(
        n_docs / sum(cpus), _ms(mean(cpus)), n_docs / sum(plain), _ms(median(plain))
    )
    if run.traced and walls[True]:
        # the first untraced op runs cold; compare warm ops only
        run.layer(
            "trace.overhead_ratio", median(walls[True]) / median(plain[1:] or plain), "ratio"
        )
    return tags


# ------------------------------------------------------------------ rag_build


def rag_build(run) -> None:
    n = run.args.docs or BUILD_DOCS
    t0 = time.perf_counter()
    docs = gen.make_documents(run.seed, n)
    batches = gen.write_corpus(run.seed, docs, os.path.join(run.work, "corpus"))
    plans = []

    def one(i, traced):
        b = batches[i % len(batches)]
        out = os.path.join(run.work, "build", f"op{i}")
        wall, plan = build_folder(run, b["dir"], out, i if traced else None)
        plans.append(plan)
        ok = check_build(out, b["docs"], b["chunks"])
        shutil.rmtree(out, ignore_errors=True)
        return wall, b["docs"], ok

    # warm-up op: first-use codegen and class loading belong to set-up
    run.op("build warm-up", lambda: one(0, False)[2])
    run.setup_s += time.perf_counter() - t0

    tags = _measure_ops(
        run, one,
        lambda: build_staircase(
            run, batches[0]["dir"], os.path.join(run.work, "stair"),
            batches[0]["docs"], batches[0]["chunks"],
        ),
        min_ops=1,
    )
    if run.traced:
        c = _per_op(run, tags)
        run.layer("build.plan_s", median(plans), "s")
        run.layer("build.jobs", c["jobs"], "count")
        run.layer("build.stages", c["stages"], "count")
        run.layer("build.tasks", c["tasks"], "count")


# ------------------------------------------------------------------ rag_serve


class ServeState:
    """The live index as the client knows it: base vectors for the exact
    check, base + added vectors for the ANN check, texts for lookups."""

    def __init__(self, index_dir: str):
        t, mat = read_vectors(index_dir, ("chunk_id", "text", "embedding"))
        self.ids = t.column("chunk_id").to_pylist()
        self.pos = {c: i for i, c in enumerate(self.ids)}
        self.texts = dict(zip(self.ids, t.column("text").to_pylist()))
        self.base = mat
        self.base_ids = np.array(self.ids)
        self.ann = mat
        self.ann_ids = list(self.ids)
        # query phrases: whole section chunks, so each has an exact match
        self.phrases = [c for c in self.ids if self.texts[c].startswith("## Section")]

    def added(self, rows) -> None:
        self.ann = np.vstack([self.ann, np.array([r["embedding"] for r in rows])])
        self.ann_ids += [r["chunk_id"] for r in rows]
        self.texts.update({r["chunk_id"]: r["text"] for r in rows})


def _exact_ok(st: ServeState, q: np.ndarray, result: dict) -> bool:
    """Top-k scores and ids agree with a numpy scan (ties by id)."""
    scores = np.round(st.base @ q, 6)
    want = scores[np.lexsort((st.base_ids, -scores))[:EXACT_K]]
    got = np.array([n["score"] for n in result["nodes"]])
    if len(got) != len(want) or not np.allclose(got, want, atol=2e-6):
        return False
    return all(
        abs(scores[st.pos[n["id"]]] - n["score"]) <= 2e-6 for n in result["nodes"]
    )


def _ann_recall(st: ServeState, q: np.ndarray, rows) -> float | None:
    """Recall@k against a numpy scan of the live vectors, by distance (so
    ties cannot count as misses). None when nothing came back, a returned
    id is not live, or a returned distance disagrees with numpy."""
    d = np.round(np.sqrt(((st.ann - q) ** 2).sum(axis=1)), 6)
    dk = np.partition(d, ANN_K - 1)[ANN_K - 1]
    pos = {c: i for i, c in enumerate(st.ann_ids)}
    if len(rows) != ANN_K or any(
        r["chunk_id"] not in pos or abs(d[pos[r["chunk_id"]]] - r["exact"]) > 1e-5
        for r in rows
    ):
        return None
    return sum(1 for r in rows if r["exact"] <= dk + 2e-6) / ANN_K


READ_SPANS = {
    "embedding.query",
    "plans.query.query_index",
    "plans.ann_index.query_ann_index",
    "plans.text_index.query_text_index",
    "plans.query.lookup_node",
}


def rag_serve(run) -> None:
    from rag_content_spark.plans import index_commit as ic
    from rag_content_spark.plans.ann_index import (
        add_to_ann_index,
        build_ann_index,
        query_ann_index,
    )
    from rag_content_spark.plans.query import lookup_node, query_index
    from rag_content_spark.plans.text_index import (
        add_to_text_index,
        build_text_index,
        query_text_index,
    )

    spark, tr = run.spark, run.tracer
    n = run.args.docs or SERVE_DOCS
    t0 = time.perf_counter()
    docs = gen.make_documents(run.seed, n)
    corpus = os.path.join(run.work, "corpus")
    batches = gen.write_corpus(run.seed, docs, corpus)
    base = os.path.join(run.work, "base")
    build_s, plan_s = build_folder(run, corpus, base, "setup")
    n_chunks = sum(b["chunks"] for b in batches)
    if not run.op("serve index build", check_build, base, n, n_chunks):
        raise RuntimeError("the serve index did not build correctly")
    index_dir = os.path.join(base, "index")
    st = ServeState(index_dir)
    index = spark.read.parquet(index_dir)
    ann_dir, text_dir = os.path.join(run.work, "ann"), os.path.join(run.work, "text")
    t = time.perf_counter()
    with tr.span("plans.ann_index.build_ann_index"):
        build_ann_index(
            index.select("chunk_id", "embedding"), ann_dir, id_col="chunk_id", **ANN_PARAMS
        )
    ann_build_s = time.perf_counter() - t
    with tr.span("plans.text_index.build_text_index"):
        build_text_index(index.select("chunk_id", "text"), text_dir, id_col="chunk_id")
    run.setup_s += time.perf_counter() - t0
    print(
        f"perfbench: serve set-up: build {build_s:.1f}s, ann {ann_build_s:.1f}s",
        file=sys.stderr,
    )

    embed = mock_embed_udf()
    n_live = {"ann": len(st.ids), "text": len(st.ids)}
    lat: dict[str, list[float]] = {
        k: [] for k in ("embed", "topk", "ann", "text", "lookup", "ann_add", "text_add")
    }
    cpu: dict[str, list[float]] = {k: [] for k in lat}
    recalls: list[float] = []

    def timed(kind, name, fn):
        t, c = time.perf_counter(), tree_cpu_s()
        with tr.span(name):
            out = fn()
        lat[kind].append(time.perf_counter() - t)
        cpu[kind].append(tree_cpu_s() - c)
        return out

    def retrieval_round(phrase) -> bool:
        """One front-end retrieval: embed the phrase on Spark (as the CLI
        does), exact top-k, ANN top-k, BM25 over its terms, then fetch
        the best exact hit by id."""
        v = timed("embed", "embedding.query", lambda: list(
            spark.createDataFrame([(phrase,)], "text string")
            .select(embed(F.col("text")).alias("v"))
            .collect()[0]["v"]
        ))
        exact = timed("topk", "plans.query.query_index",
                      lambda: query_index(index, phrase, v, k=EXACT_K))
        ann = timed("ann", "plans.ann_index.query_ann_index",
                    lambda: query_ann_index(
                        spark, ann_dir, v, topk=ANN_K, n_probe=ANN_PARAMS["nlist"]
                    ).collect())
        terms = sorted(set(phrase.lower().split()) - {"##"})
        bm25 = timed("text", "plans.text_index.query_text_index", lambda: (
            query_text_index(spark, text_dir, terms)
            .orderBy(F.desc("bm25"), F.asc("chunk_id"))
            .limit(10)
            .collect()
        ))
        top = exact["nodes"][0]["id"] if exact["nodes"] else None
        node = timed("lookup", "plans.query.lookup_node", lambda: lookup_node(index, top))
        q = np.array(v)
        recall = _ann_recall(st, q, ann)
        if recall is not None:
            recalls.append(recall)
        checks = {
            "exact": _exact_ok(st, q, exact),
            "ann": recall is not None,
            "bm25": bool(bm25) and all(
                r["chunk_id"] in st.texts
                and set(st.texts[r["chunk_id"]].lower().split()) & set(terms)
                for r in bm25
            ),
            "lookup": node["found"] and node["node"]["text"] == st.texts[top],
        }
        bad = [k for k, ok in checks.items() if not ok]
        if bad:
            print(f"perfbench: round checks failed: {bad}", file=sys.stderr)
        return not bad

    def add(j: int, doc_rows) -> bool:
        """Ingest seed-chosen documents under new ids: render them as new
        markdown files, run them through the build path, and commit the
        chunks to the ANN and text indexes."""
        src = os.path.join(run.work, "adds", f"a{j}")
        os.makedirs(src)
        for k, d in enumerate(doc_rows):
            # the position keeps a document drawn twice in one batch two files
            name = f"add{j}-{k}-{gen.file_name(run.seed, d['doc_id'])}"
            with open(os.path.join(src, name), "w", encoding="utf-8") as f:
                f.write(gen.render_markdown(d))
        with tr.span("ingest.build_chunks"):
            new = build_chunks(
                read_text_documents_fast(spark, src), CFG, embedder=mock_embed_udf()
            ).select("chunk_id", "text", "embedding").cache()
        ann_meta = timed("ann_add", "plans.ann_index.add_to_ann_index",
                         lambda: add_to_ann_index(new.select("chunk_id", "embedding"), ann_dir))
        text_meta = timed("text_add", "plans.text_index.add_to_text_index",
                          lambda: add_to_text_index(new.select("chunk_id", "text"), text_dir))
        rows = new.collect()
        new.unpersist()
        st.added(rows)
        n_live["ann"] += len(rows)
        n_live["text"] += len(rows)
        return (
            len(rows) == sum(gen.expected_chunks(d) for d in doc_rows)
            and ann_meta["n_vectors"] == n_live["ann"]
            and text_meta["n_docs"] == n_live["text"]
        )

    reqs = gen.make_requests(200)
    phrases = gen.pick(run.seed, "phrases", st.phrases, len(reqs))
    add_docs = gen.pick(run.seed, "adds", docs, len(reqs) * ADD_DOCS)
    block = len(gen.SERVE_BLOCK)
    walls = {"round": {False: [], True: []}, "add": {False: [], True: []}}
    round_seq: list[float] = []
    reads: dict[bool, list[float]] = {False: [], True: []}
    reads_cpu: dict[bool, list[float]] = {False: [], True: []}
    blocks_cpu: list[float] = []
    i = 0

    def serve_block(traced: bool) -> None:
        """One block of requests, in order."""
        nonlocal i
        for _ in range(block):
            kind = reqs[i]
            res = {}

            def do(kind=kind, i=i):
                t = time.perf_counter()
                with tr.span(f"serve.{kind}"):
                    if kind == "add":
                        ok = add(i, add_docs[i * ADD_DOCS : (i + 1) * ADD_DOCS])
                    else:
                        ok = retrieval_round(st.texts[phrases[i]])
                res["s"] = time.perf_counter() - t
                return ok

            run.op(f"{kind} request {i}", do)
            if "s" in res:
                walls[kind][traced].append(res["s"])
                if kind == "round":
                    round_seq.append(res["s"])
                    # one latency per read; the exact read includes its
                    # query embed, as the CLI runs them together
                    for per, out in ((lat, reads), (cpu, reads_cpu)):
                        out[traced] += [
                            per["embed"][-1] + per["topk"][-1],
                            per["ann"][-1], per["text"][-1], per["lookup"][-1],
                        ]
            i += 1

    for traced, seconds in _phases(run):
        tr.enabled, tr.phase = traced, "measure"
        start, done, last = time.perf_counter(), 0, 0.0
        # whole blocks only, so every run measures the same request mix
        while _more(start, seconds, done, 1, last):
            t, c = time.perf_counter(), tree_cpu_s()
            serve_block(traced)
            done, last = done + 1, time.perf_counter() - t
            if not traced:
                blocks_cpu.append(tree_cpu_s() - c)
    plain = walls["round"][False] + walls["add"][False]
    n_requests = 4 * len(walls["round"][False]) + len(walls["add"][False])
    run.measured(
        n_requests / sum(blocks_cpu), _ms(mean(reads_cpu[False])),
        n_requests / sum(plain), _ms(median(reads[False])),
    )
    print(
        "perfbench: serve latencies (ms, median of n): "
        + json.dumps({k: [round(_ms(median(v))), len(v)] for k, v in lat.items() if v}),
        file=sys.stderr,
    )
    if not run.traced:
        return
    rounds = tr.totals(lambda r: r.get("phase") == "measure" and r["name"] == "serve.round")
    read_spans = tr.totals(lambda r: r.get("phase") == "measure" and r["name"] in READ_SPANS)
    n_reads = max(1, 4 * rounds["n"])
    tenth = max(1, len(round_seq) // 10)
    run.layer("topk.p50_ms", _ms(median(lat["topk"])), "ms")
    run.layer("lookup.p50_ms", _ms(median(lat["lookup"])), "ms")
    run.layer("embedding.query_ms", _ms(median(lat["embed"])), "ms")
    run.layer("serve.reads", n_reads, "count")
    run.layer("serve.add_p50_ms", _ms(median(walls["add"][False] + walls["add"][True])), "ms")
    run.layer("serve.jobs_per_query", read_spans["jobs"] / n_reads, "count")
    run.layer("serve.tasks_per_query", read_spans["tasks"] / n_reads, "count")
    run.layer("ann.query_p50_ms", _ms(median(lat["ann"])), "ms")
    run.layer("ann.add_p50_ms", _ms(median(lat["ann_add"])), "ms")
    run.layer("ann.recall_at_k", float(np.mean(recalls)) if recalls else 0.0, "ratio")
    run.layer("ann.build_s", ann_build_s, "s")
    run.layer("text.query_p50_ms", _ms(median(lat["text"])), "ms")
    run.layer("text.add_p50_ms", _ms(median(lat["text_add"])), "ms")
    run.layer("commit.live_segments_end", 1 + len(ic.live_view(ann_dir)[1]), "count")
    run.layer(
        "query.p50_first_vs_last_decile",
        median(round_seq[-tenth:]) / median(round_seq[:tenth]),
        "ratio",
    )
    run.layer(
        "trace.overhead_ratio",
        # the first untraced round runs cold; compare warm rounds only
        median(walls["round"][True])
        / median(walls["round"][False][1:] or walls["round"][False]),
        "ratio",
    )
    c = _per_op(run, ["setup"])
    run.layer("build.wall_s", build_s, "s")
    run.layer("build.plan_s", plan_s, "s")
    run.layer("build.jobs", c["jobs"], "count")
    run.layer("build.stages", c["stages"], "count")
    run.layer("build.tasks", c["tasks"], "count")
    build_staircase(run, corpus, os.path.join(run.work, "stair"), n, n_chunks)


# --------------------------------------------------------------------- curate


def _curate_ok(out: str, planted) -> bool:
    """stats.json ``output`` equals the pyarrow row count, no two
    surviving texts are identical, and no planted exact pair survives
    whole (near pairs are left to MinHash-LSH, which may miss some)."""
    t = pq.read_table(os.path.join(out, "curated"), columns=["doc_id", "text"])
    with open(os.path.join(out, "stats.json")) as f:
        stats = json.load(f)
    texts = t.column("text").to_pylist()
    ids = set(t.column("doc_id").to_pylist())
    both = [p for p in planted if p[2] == "exact" and p[0] in ids and p[1] in ids]
    ok = stats["output"] == t.num_rows and len(set(texts)) == len(texts) and not both
    if not ok:
        print(f"perfbench: curate check: rows {t.num_rows} stats {stats['output']} "
              f"dupe texts {len(texts) - len(set(texts))} planted pairs kept {both[:3]}",
              file=sys.stderr)
    return ok


def curate_staircase(run, path: str, out: str, budget: int = 2048) -> None:
    """The curate plan, prefix by prefix, as ``cmd_curate`` composes it."""
    from rag_content_spark.operators.dedup import (
        apply_dedup,
        exact_dedup,
        jaccard_pairs,
        minhash_lsh_candidates,
        minhash_lsh_overflow,
        overflow_summary,
    )
    from rag_content_spark.operators.packing import pack_sequences
    from rag_content_spark.operators.quality import gopher_rules

    spark, tr = run.spark, run.tracer
    cap = 1000

    def docs():
        return spark.read.parquet(path)

    def gated():
        return docs().filter(gopher_rules("text")["keep"])

    def exact():
        g = gated()
        return g.join(exact_dedup(g).select(F.col("keep_id").alias("doc_id")), "doc_id", "leftsemi")

    def cand():
        return minhash_lsh_candidates(exact(), max_bucket_size=cap)

    def pairs():
        return jaccard_pairs(exact(), cand(), threshold=0.7)

    def near():
        return apply_dedup(exact(), pairs())

    def packed():
        d = near()
        return pack_sequences(d, budget=budget).join(
            d.select("doc_id", *[c for c in d.columns if c != "doc_id"]), "doc_id"
        )

    levels = [("read", docs), ("quality", gated), ("dedup.exact", exact),
              ("dedup.near", near), ("packing", packed)]
    cum, phase, tr.phase = {}, tr.phase, "staircase"
    with tr.span("staircase.curate"):
        for name, make in levels:
            t = time.perf_counter()
            with tr.span(f"force.{name}"):
                force(make())
            cum[name] = time.perf_counter() - t
        t = time.perf_counter()
        with tr.span("force.sinks"):
            packed().write.mode("overwrite").partitionBy("shard").parquet(out)
        cum["sinks"] = time.perf_counter() - t
    tr.phase = phase
    names = [n for n, _ in levels] + ["sinks"]
    self_s = {n: cum[n] - (cum[names[i - 1]] if i else 0.0) for i, n in enumerate(names)}
    n_in, n_gated = docs().count(), gated().count()
    n_cand, n_pairs = cand().count(), pairs().count()
    overflow = overflow_summary(minhash_lsh_overflow(exact(), cap)).collect()[0]
    pk = pack_sequences(near(), budget=budget)
    fill = pk.agg(
        F.sum("n_tokens").alias("tok"),
        F.countDistinct("shard", "seq_bucket").alias("seqs"),
    ).collect()[0]
    files, out_bytes = _dir_bytes(out, ".parquet")
    in_bytes = os.path.getsize(path)
    run.layer("quality.self_s", self_s["quality"], "s")
    run.layer("quality.kept_ratio", n_gated / n_in, "ratio")
    run.layer("dedup.exact_self_s", self_s["dedup.exact"], "s")
    run.layer("dedup.near_self_s", self_s["dedup.near"], "s")
    run.layer("dedup.candidate_pairs", n_cand, "count")
    run.layer("dedup.verified_ratio", n_pairs / n_cand if n_cand else 0.0, "ratio")
    run.layer("dedup.overflow_ids", overflow["n_dropped_ids"], "count")
    run.layer("packing.self_s", self_s["packing"], "s")
    run.layer("packing.fill_ratio", fill["tok"] / (fill["seqs"] * budget), "ratio")
    run.layer("sinks.self_s", self_s["sinks"], "s")
    run.layer("sinks.files", files, "count")
    run.layer("sinks.bytes_per_input_byte", out_bytes / in_bytes, "ratio")
    run.trace_extra["curate_staircase_cumulative_s"] = cum


def curate(run) -> None:
    from rag_content_spark import cli

    n = run.args.docs or CURATE_DOCS
    t0 = time.perf_counter()
    docs = gen.make_documents(run.seed, n)
    batches = gen.write_curate_batches(run.seed, docs, os.path.join(run.work, "curate-in"))

    def one(i, traced):
        b = batches[i % len(batches)]
        out = os.path.join(run.work, "curate-out", f"op{i}")
        t = time.perf_counter()
        with run.tracer.span("cli.cmd_curate", op=i), contextlib.redirect_stdout(sys.stderr):
            rc = cli.main(["curate", "-i", b["path"], "-o", out, "--near-dedup"])
        wall = time.perf_counter() - t
        ok = rc == 0 and _curate_ok(out, b["planted"])
        shutil.rmtree(out, ignore_errors=True)
        return wall, b["docs"], ok

    run.setup_s += time.perf_counter() - t0

    # no warm-up op: every `rag-spark curate` call is a fresh process, so
    # the first, cold call is the one users wait for; the second, warm
    # one doubles the work each run averages over
    tags = _measure_ops(
        run, one,
        lambda: curate_staircase(run, batches[0]["path"], os.path.join(run.work, "stair")),
        min_ops=2,
    )
    if run.traced:
        c = _per_op(run, tags)
        run.layer("curate.jobs", c["jobs"], "count")
        run.layer("curate.stages", c["stages"], "count")
        run.layer("curate.tasks", c["tasks"], "count")
        run.layer("curate.failed_tasks", c["failed_tasks"], "count")
