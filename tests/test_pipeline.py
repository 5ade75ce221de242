"""End-to-end build + query pipeline — the marker-string corpus test
(the reference's E2E asserts corpus-unique terms are retrievable,
tests/integration-konflux/pipeline-konflux.sh:181)."""

import math

from pyspark.sql import functions as F

from rag_content_spark.embedding.mock import mock_embedding_expr
from rag_content_spark.plans.build_pipeline import BuildConfig, build_chunks
from rag_content_spark.plans.query import lookup_node, query_index


def _embedder(col):
    return mock_embedding_expr(col, dim=32, normalize=True)


def _build(docs_df):
    cfg = BuildConfig(chunk_size=16, chunk_overlap=0, embedding_dimension=32)
    return build_chunks(docs_df, cfg, embedder=_embedder)


def test_llama_chunker_mode_same_schema_and_budget(docs_df):
    # chunker="llama" swaps in the real-parity SentenceSplitter port;
    # same output schema, every chunk within the token budget
    cfg = BuildConfig(
        chunk_size=16, chunk_overlap=0, embedding_dimension=32, chunker="llama"
    )
    chunks = build_chunks(docs_df, cfg, embedder=_embedder)
    assert set(chunks.columns) == set(_build(docs_df).columns)
    rows = chunks.collect()
    assert rows
    assert all(len(r["text"].split()) <= 16 for r in rows)
    # markdown sections never merge across heading boundaries: a chunk
    # holds at most one '#' heading line
    assert all(
        sum(1 for ln in r["text"].split("\n") if ln.startswith("#")) <= 1
        for r in rows
    )


def test_chunks_schema_and_metadata(docs_df):
    chunks = _build(docs_df)
    cols = set(chunks.columns)
    assert {
        "chunk_id",
        "document_id",
        "source",
        "title",
        "docs_url",
        "url_reachable",
        "text",
        "embedding",
        "embedding_model",
        "embedding_dimension",
    } <= cols
    rows = chunks.collect()
    assert rows
    manual = [r for r in rows if "zyranex" in (r["docs_url"] or "")]
    assert manual and all(
        r["title"] == "Zyranex T7 Manual" and r["url_reachable"] for r in manual
    )
    # frontmatter url wins; fallback doc gets basename url + first-line title
    notes = [r for r in rows if r["docs_url"] == "notes.md"]
    assert notes and notes[0]["title"] == "Operational Notes"


def test_marker_terms_survive_to_chunks(docs_df):
    texts = " ".join(r["text"] for r in _build(docs_df).select("text").collect())
    for marker in ("Zyranex", "ZRX-4401", "quorbitex"):
        assert marker in texts


def test_marker_query_retrieves_manual_chunk(spark, docs_df):
    chunks = _build(docs_df).cache()
    qvec = (
        spark.createDataFrame([("Zyranex T7 error ZRX-4401 quorbitex",)], ["text"])
        .select(_embedder(F.col("text")).alias("v"))
        .first()["v"]
    )
    res = query_index(chunks, "marker query", list(qvec), k=3, threshold=0.0)
    assert res["top_k"] == 3 and len(res["nodes"]) == 3
    scores = [n["score"] for n in res["nodes"]]
    assert scores == sorted(scores, reverse=True)
    assert any("Zyranex" in n["text"] for n in res["nodes"])


def test_high_threshold_returns_empty(spark, docs_df):
    chunks = _build(docs_df)
    qvec = (
        spark.createDataFrame([("totally unrelated query",)], ["text"])
        .select(_embedder(F.col("text")).alias("v"))
        .first()["v"]
    )
    res = query_index(chunks, "q", list(qvec), k=3, threshold=0.999)
    assert res["nodes"] == []
    # the gate is all-or-nothing on the top score, inclusive: a threshold
    # equal to it keeps all k rows, the next double above drops them all
    every = query_index(chunks, "q", list(qvec), k=3, threshold=-math.inf)
    top = every["nodes"][0]["score"]
    assert len(every["nodes"]) == 3
    at = query_index(chunks, "q", list(qvec), k=3, threshold=top)
    assert at["nodes"] == every["nodes"]
    above = query_index(
        chunks, "q", list(qvec), k=3, threshold=math.nextafter(top, math.inf)
    )
    assert above["nodes"] == []


def test_markdown_aware_false_keeps_metadata(docs_df):
    # The non-markdown-aware path must still run populate_metadata (the
    # original bug read the raw input and lost docs_url/title entirely)
    cfg = BuildConfig(
        chunk_size=16, chunk_overlap=0, embedding_dimension=32,
        markdown_aware=False,
    )
    rows = build_chunks(docs_df, cfg, embedder=_embedder).collect()
    assert rows
    manual = [r for r in rows if "zyranex" in (r["docs_url"] or "")]
    assert manual and all(r["title"] == "Zyranex T7 Manual" for r in manual)
    # whole-doc units: every chunk_id has unit index 0
    assert all(r["chunk_id"].split("#")[1] == "0" for r in rows)


def test_markdown_aware_false_unreachable_drop(spark):
    docs = spark.createDataFrame(
        [
            ("/c/a.md", "markdown", "# A\n\nreachable body text here"),
            ("/c/b.md", "markdown", "# B\n\nunreachable body text here"),
        ],
        ["file_path", "doc_type", "text"],
    ).selectExpr("file_path", "doc_type", "md5(file_path) AS doc_id", "text")
    cfg = BuildConfig(
        chunk_size=16, chunk_overlap=0, embedding_dimension=32,
        markdown_aware=False, unreachable_action="drop",
    )
    # hermetic populate marks everything reachable; flip one doc by
    # injecting url_reachable upstream is not possible through the public
    # API, so assert the drop path at least executes and keeps all
    # reachable docs
    rows = build_chunks(docs, cfg, embedder=_embedder).collect()
    assert {r["title"] for r in rows} == {"A", "B"}
    assert all(r["url_reachable"] for r in rows)


def test_node_lookup_roundtrip(docs_df):
    chunks = _build(docs_df)
    some_id = chunks.select("chunk_id").first()["chunk_id"]
    res = lookup_node(chunks, some_id)
    assert res["found"] and res["node"]["chunk_id"] == some_id
    assert not lookup_node(chunks, "missing#0#0")["found"]


def test_warm_python_workers_runs_and_is_idempotent(spark):
    """Session bootstrap helper (session.py): primes the python-worker
    pool + parquet path; must be side-effect-free on results and safe
    to call repeatedly (a session manager may call it per attach)."""
    from rag_content_spark.session import warm_python_workers

    warm_python_workers(spark, partitions=2)
    warm_python_workers(spark, partitions=2)
    # the session still computes correctly afterwards
    assert spark.range(10).count() == 10
