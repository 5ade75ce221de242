"""Command-line surface — drop-in equivalents of the reference's two
entry points so its users can switch engines without relearning flags:

- ``rag-spark build``  ~ scripts/generate_embeddings.py (reference
  utils.py:83-142 flag set: -f/--folder, -o/--output, -i/--index,
  -mn/--model-name, -c/--chunk, -ol/--overlap, -dt/--doc-type,
  unreachable-action, hermetic)
- ``rag-spark query``  ~ scripts/query_rag.py (reference
  query_rag.py:259-290: -d/--db-path, -q/--query, -k/--top-k,
  -t/--threshold, -n/--node-id)

The store is the canonical Parquet index + metadata.json + llama-stack /
lightspeed-stack YAML configs (same artifact set the reference emits,
minus the store-specific binaries which are export-gated). Embedding
uses the real sentence-transformers UDF when a model path is given and
the library exists, else the deterministic mock (same plan shape).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _get_embedder(model_path: str | None, dim: int):
    if model_path:
        try:
            from rag_content_spark.embedding.encoder import sentence_transformer_udf

            udf = sentence_transformer_udf(model_path)
            return lambda c: udf(c)
        except Exception:
            print(
                "warning: sentence-transformers unavailable, using mock embedder",
                file=sys.stderr,
            )
    from rag_content_spark.embedding.mock import mock_embedding_expr

    return lambda c: mock_embedding_expr(c, dim=dim, normalize=True)


def cmd_build(args: argparse.Namespace) -> int:
    from rag_content_spark.plans.build_pipeline import BuildConfig, build_chunks
    from rag_content_spark.session import get_spark
    from rag_content_spark.sinks.exports import (
        Timer,
        build_metadata_json,
        render_lightspeed_stack_yaml,
        render_llama_stack_yaml,
        write_metadata_json,
    )
    from rag_content_spark.sinks.parquet_sink import write_index
    from rag_content_spark.sources.directory import read_text_documents

    spark = get_spark("rag-spark-build")
    cfg = BuildConfig(
        chunk_size=args.chunk,
        chunk_overlap=args.overlap,
        embedding_model=args.model_name,
        embedding_dimension=args.dim,
        unreachable_action=args.unreachable_action,
        hermetic=not args.check_urls,
        chunker=args.chunker,
    )
    docs = read_text_documents(spark, args.folder)
    embedder = _get_embedder(args.model_path, args.dim)
    with Timer() as timer:
        chunks = build_chunks(docs, cfg, embedder=embedder).cache()
        index_dir = os.path.join(args.output, "index")
        write_index(chunks, index_dir)
        n_docs = chunks.select("document_id").distinct().count()
    if args.vector_store == "llamastack-faiss":
        # W4: the reference CLI's DEFAULT artifact (generate_embeddings.py:28,
        # document_processor.py:360-361,739-761). Gated on faiss like W1.
        from rag_content_spark.sinks.llamastack_store import (
            DB_FILENAME,
            write_llamastack_faiss,
        )

        try:
            out = write_llamastack_faiss(
                chunks,
                os.path.join(args.output, DB_FILENAME),
                vector_store_id=f"vs_{args.index}",
                index_name=args.index,
                embedding_model=cfg.embedding_model,
                text_col="text",
            )
            print(json.dumps({"llamastack_faiss": out}), file=sys.stderr)
        except NotImplementedError as exc:
            print(f"warning: skipping faiss_store.db: {exc}", file=sys.stderr)
    elif args.vector_store == "faiss":
        from rag_content_spark.sinks.exports import export_faiss

        try:
            export_faiss(chunks, os.path.join(args.output, "index.faiss"))
        except NotImplementedError as exc:
            print(f"warning: skipping index.faiss: {exc}", file=sys.stderr)
    meta = build_metadata_json(
        execution_time_s=timer.seconds,
        embedding_model=cfg.embedding_model,
        index_id=args.index,
        vector_db=args.vector_store,
        embedding_dimension=cfg.embedding_dimension,
        chunk=cfg.chunk_size,
        overlap=cfg.chunk_overlap,
        total_embedded_files=n_docs,
    )
    write_metadata_json(os.path.join(args.output, "metadata.json"), meta)
    with open(os.path.join(args.output, "llama-stack.yaml"), "w") as fh:
        fh.write(
            render_llama_stack_yaml(
                os.path.join(args.output, "index"),
                cfg.embedding_model,
                cfg.embedding_dimension,
                args.index,
            )
        )
    with open(os.path.join(args.output, "lightspeed-stack.yaml"), "w") as fh:
        fh.write(
            render_lightspeed_stack_yaml(
                os.path.join(args.output, "llama-stack.yaml")
            )
        )
    print(json.dumps(meta))
    return 0


def cmd_query(args: argparse.Namespace) -> int:
    import pyarrow as pa
    from pyspark.sql import functions as F

    from rag_content_spark.plans.query import lookup_node, query_index
    from rag_content_spark.session import get_spark
    from rag_content_spark.sinks.parquet_sink import read_index

    spark = get_spark("rag-spark-query")
    index = read_index(spark, os.path.join(args.db_path, "index"))
    if args.node_id:
        print(json.dumps(lookup_node(index, args.node_id)))
        return 0
    meta = json.load(open(os.path.join(args.db_path, "metadata.json")))
    embedder = _get_embedder(args.model_path, meta["embedding-dimension"])
    query = pa.table({"text": pa.array([args.query], pa.string())})
    qvec = (
        spark.createDataFrame(query)
        .select(embedder(F.col("text")).alias("v"))
        .collect()[0]["v"]
    )
    if args.mode == "vector":
        result = query_index(
            index, args.query, list(qvec), k=args.top_k, threshold=args.threshold
        )
    else:
        # keyword / hybrid modes (reference query_rag.py:190: OGX-only
        # there; first-class here) over the index's chunk text
        from rag_content_spark.operators.search import hybrid_scores, keyword_scores

        terms = [t for t in args.query.lower().split() if t]
        if args.mode == "keyword":
            scored = keyword_scores(index, terms, id_col="chunk_id").withColumnRenamed(
                "kw_score", "score"
            )
        else:
            scored = hybrid_scores(
                index, terms, list(qvec), id_col="chunk_id"
            ).withColumnRenamed("hybrid_score", "score")
        hits = (
            scored.join(index.select("chunk_id", "text"), "chunk_id")
            .orderBy(F.desc("score"), F.asc("chunk_id"))
            .limit(args.top_k)
            .collect()
        )
        # all-or-nothing threshold gate on the TOP score, matching the
        # reference (query_rag.py:81-94) and our vector path (P6)
        if hits and hits[0]["score"] < args.threshold:
            hits = []
        result = {
            "query": args.query,
            "top_k": args.top_k,
            "threshold": args.threshold,
            "mode": args.mode,
            "nodes": [
                {"id": r["chunk_id"], "score": float(r["score"]), "text": r["text"]}
                for r in hits
            ],
        }
    print(json.dumps(result))
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="rag-spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build a vector index from a docs folder")
    b.add_argument("-f", "--folder", required=True)
    b.add_argument("-o", "--output", required=True)
    b.add_argument("-i", "--index", default="index")
    b.add_argument(
        "-mn", "--model-name", default="sentence-transformers/all-mpnet-base-v2"
    )
    b.add_argument("-mp", "--model-path", default=None)
    b.add_argument("-c", "--chunk", type=int, default=380)  # reference utils.py:94
    b.add_argument("-ol", "--overlap", type=int, default=0)  # reference utils.py:95
    b.add_argument("--dim", type=int, default=768)
    b.add_argument(
        "-u",
        "--unreachable-action",
        choices=["warn", "fail", "drop"],
        default="warn",
    )
    b.add_argument("--check-urls", action="store_true")
    b.add_argument(
        "--chunker",
        choices=["fixed", "llama"],
        default="fixed",
        help="token-window chunker (default) or the llama-index "
        "SentenceSplitter real-parity port",
    )
    b.add_argument(
        "--vector-store",
        choices=["parquet", "faiss", "llamastack-faiss"],
        default="llamastack-faiss",  # reference generate_embeddings.py:28
        help="store artifact to export beside the canonical parquet index",
    )
    b.set_defaults(func=cmd_build)

    q = sub.add_parser("query", help="query a built index")
    q.add_argument("-d", "--db-path", required=True)
    q.add_argument("-q", "--query", default="")
    q.add_argument("-k", "--top-k", type=int, default=1)  # reference query_rag.py:269
    q.add_argument("-t", "--threshold", type=float, default=0.0)
    q.add_argument("-n", "--node-id", default=None)
    q.add_argument(
        "-m", "--mode", choices=["vector", "keyword", "hybrid"], default="vector"
    )  # reference query_rag.py:190
    q.add_argument("-mp", "--model-path", default=None)
    q.set_defaults(func=cmd_query)

    e = sub.add_parser("sql", help="run ANSI SQL over a built index and/or parquet tables")
    e.add_argument("-d", "--db-path", default=None, help="registers view 'chunks'")
    e.add_argument("--tables", default=None, help="dir of <name>.parquet files to register as views")
    e.add_argument("-e", "--execute", required=True, help="SQL text")
    e.set_defaults(func=cmd_sql)

    c = sub.add_parser(
        "curate",
        help="training-data curation: quality gate -> dedup -> pack",
    )
    c.add_argument("-i", "--input", required=True, help="documents parquet (doc_id, text[, lang])")
    c.add_argument("-o", "--output", required=True, help="output directory")
    c.add_argument("--near-dedup", action="store_true", help="also MinHash-LSH near-dedup (within batch)")
    c.add_argument("--jaccard", type=float, default=0.7, help="near-dup verify threshold")
    c.add_argument("--max-bucket-size", type=int, default=1000,
                   help="cap LSH band-bucket membership (bounds a degenerate "
                        "bucket at cap^2 pairs); DEFAULT-ON at 1000; pass 0 "
                        "to disable; truncated buckets are counted in "
                        "stats.json, never silent")
    c.add_argument("--mix", default=None, help="target language mix, e.g. en=0.5,es=0.25,fr=0.25")
    c.add_argument("--pack-budget", type=int, default=2048, help="tokens per training sequence")
    c.add_argument("--scrub-passages", action="store_true", help="remove cross-document duplicate passages first")
    c.add_argument("--input-format", choices=("parquet", "warc"), default="parquet",
                   help="parquet documents table or a folder of WARC crawl files")
    c.add_argument("--dsir-target", default=None,
                   help="parquet of target-domain documents: enables DSIR importance resampling after dedup")
    c.add_argument("--dsir-keep", type=int, default=None,
                   help="documents to keep in the DSIR Gumbel top-k resample (default: half the deduped count)")
    c.set_defaults(func=cmd_curate)

    tb = sub.add_parser("table", help="versioned-table snapshot/log/read/compact")
    tb.add_argument(
        "table_cmd",
        choices=("snapshot", "log", "read", "compact", "vacuum"),
    )
    tb.add_argument("-t", "--table", required=True, help="table directory")
    tb.add_argument("-i", "--input", help="parquet to snapshot (snapshot cmd)")
    tb.add_argument("-o", "--output", help="write the view here (read cmd)")
    tb.add_argument(
        "--mode",
        choices=("append", "overwrite", "upsert", "delete"),
        default="append",
    )
    tb.add_argument("--key", default=None, help="upsert key column")
    tb.add_argument("--version", type=int, default=None, help="time-travel version (read cmd)")
    tb.add_argument("--limit", type=int, default=20, help="rows to print (read cmd)")
    tb.set_defaults(func=cmd_table)

    cv = sub.add_parser(
        "convert",
        help="convert ONE html/pdf/asciidoc/markdown file to text/markdown "
             "(driver-side, no Spark; the reference's per-format __main__ "
             "ergonomics)",
    )
    cv.add_argument("-i", "--input", required=True, help="source file")
    cv.add_argument("-o", "--output", default=None, help="output file (default stdout)")
    cv.add_argument(
        "--format",
        choices=("auto", "html", "pdf", "asciidoc", "markdown", "text"),
        default="auto",
        help="source format (auto = by extension)",
    )
    cv.add_argument(
        "--structure",
        action="store_true",
        help="asciidoc only: print the structure dump instead of text",
    )
    cv.set_defaults(func=cmd_convert)

    d = sub.add_parser(
        "datasheet", help="print a one-line JSON corpus datasheet"
    )
    d.add_argument("-i", "--input", required=True, help="documents parquet")
    d.set_defaults(func=cmd_datasheet)

    t = sub.add_parser(
        "tokenize",
        help="learn BPE merges, encode the corpus, write Megatron .bin/.idx shards",
    )
    t.add_argument("-i", "--input", required=True, help="documents parquet (doc_id, text)")
    t.add_argument("-o", "--output", required=True, help="output directory")
    t.add_argument("--merges", type=int, default=200, help="BPE merge count")
    t.add_argument("--shards", type=int, default=8, help="Megatron shard-pair count")
    t.add_argument("--dtype", choices=("int32", "uint16"), default="int32")
    t.set_defaults(func=cmd_tokenize)

    ab = sub.add_parser(
        "ann-build",
        help="build the parquet-native IVFPQ index from an embeddings parquet",
    )
    ab.add_argument("-i", "--input", required=True, help="embeddings parquet (vec_id, embedding)")
    ab.add_argument("-o", "--output", required=True, help="index directory")
    ab.add_argument("--nlist", type=int, default=16)
    ab.add_argument("--m", type=int, default=4, help="PQ subspaces")
    ab.add_argument("--k", type=int, default=16, help="PQ centroids per subspace")
    ab.set_defaults(func=cmd_ann_build)

    ex = sub.add_parser(
        "export",
        help="export a parquet table as an HF parquet dataset or WebDataset tars",
    )
    ex.add_argument("-i", "--input", required=True, help="input parquet")
    ex.add_argument("-o", "--output", required=True, help="output directory")
    ex.add_argument("--format", choices=("hf", "webdataset"), default="hf")
    ex.add_argument("--split", default="train", help="HF split name")
    ex.add_argument("--key", default=None, help="shard/sample key column (default: first)")
    ex.add_argument("--shards", type=int, default=8)
    ex.add_argument(
        "--payload",
        default=None,
        help="webdataset ext=column pairs, comma-separated (e.g. txt=text)",
    )
    ex.set_defaults(func=cmd_export)

    txb = sub.add_parser(
        "text-build",
        help="build the bucket-partitioned inverted text index",
    )
    txb.add_argument("-i", "--input", required=True, help="documents parquet (doc_id, text)")
    txb.add_argument("-o", "--output", required=True, help="index directory")
    txb.add_argument("--buckets", type=int, default=32)
    txb.set_defaults(func=cmd_text_build)

    txa = sub.add_parser(
        "text-add", help="append new documents to a built text index"
    )
    txa.add_argument("-i", "--input", required=True)
    txa.add_argument("-d", "--index-dir", required=True)
    txa.set_defaults(func=cmd_text_add)

    txc = sub.add_parser(
        "text-compact",
        help="compact a text index's postings (one file per bucket)",
    )
    txc.add_argument("-d", "--index-dir", required=True)
    txc.set_defaults(func=cmd_text_compact)

    fi = sub.add_parser(
        "faiss-import",
        help="import a faiss flat-index file (+ .ids.json sidecar) to "
             "parquet (id, embedding)",
    )
    fi.add_argument("-i", "--input", required=True, help="*.faiss file")
    fi.add_argument("-o", "--output", required=True, help="parquet dir")
    fi.add_argument("--id-col", default="chunk_id")
    fi.set_defaults(func=cmd_faiss_import)

    txv = sub.add_parser(
        "index-vacuum",
        help="reclaim text/ANN index segments superseded by compaction",
    )
    txv.add_argument("-d", "--index-dir", required=True)
    txv.set_defaults(func=cmd_index_vacuum)

    txd = sub.add_parser(
        "text-delete",
        help="tombstone-delete documents from a text index by id",
    )
    txd.add_argument("-d", "--index-dir", required=True)
    txd.add_argument("--ids", default=None, help="comma-separated doc ids")
    txd.add_argument("-i", "--input", default=None,
                     help="parquet of ids to delete (first column)")
    txd.set_defaults(func=cmd_text_delete)

    txq = sub.add_parser(
        "text-query", help="BM25 query a built text index (pruned read)"
    )
    txq.add_argument("-d", "--index-dir", required=True)
    txq.add_argument("-q", "--terms", required=True, help="comma-separated terms")
    txq.add_argument("-k", "--top-k", type=int, default=10)
    txq.set_defaults(func=cmd_text_query)

    aa = sub.add_parser(
        "ann-add", help="append new vectors to a built ANN index (frozen model)"
    )
    aa.add_argument("-i", "--input", required=True, help="embeddings parquet to add")
    aa.add_argument("-d", "--index-dir", required=True)
    aa.set_defaults(func=cmd_ann_add)

    ad = sub.add_parser(
        "ann-delete",
        help="tombstone-delete vectors from an ANN index by id",
    )
    ad.add_argument("-d", "--index-dir", required=True)
    ad.add_argument("--ids", default=None, help="comma-separated vec ids")
    ad.add_argument("-i", "--input", default=None,
                    help="parquet of ids to delete (first column)")
    ad.set_defaults(func=cmd_ann_delete)

    ac = sub.add_parser(
        "ann-compact",
        help="compact an ANN index's postings (one file per cell)",
    )
    ac.add_argument("-d", "--index-dir", required=True)
    ac.set_defaults(func=cmd_ann_compact)

    aq = sub.add_parser("ann-query", help="query a built ANN index")
    aq.add_argument("-d", "--index-dir", required=True)
    aq.add_argument("-v", "--vector", default=None, help="comma-separated query floats")
    aq.add_argument("--vec-id", type=int, default=None, help="use this indexed vector as the query")
    aq.add_argument("-k", "--top-k", type=int, default=10)
    aq.add_argument("--n-probe", type=int, default=2)
    aq.add_argument("--no-refine", action="store_true")
    aq.set_defaults(func=cmd_ann_query)

    args = parser.parse_args(argv)
    return args.func(args)


def cmd_export(args: argparse.Namespace) -> int:
    """Export curated parquet to a training-stack handoff format."""
    from rag_content_spark.session import ensure_reader_confs, get_spark

    spark = get_spark("rag-spark-export")
    ensure_reader_confs(spark)
    df = spark.read.parquet(args.input)
    key = args.key or df.columns[0]
    if args.format == "hf":
        from rag_content_spark.sinks.hf_dataset import write_hf_parquet_dataset

        man = write_hf_parquet_dataset(
            df, args.output, split=args.split, key_col=key,
            n_shards=args.shards,
        ).collect()
    else:
        from rag_content_spark.sinks.webdataset import write_webdataset_shards

        payload = dict(
            pair.split("=", 1) for pair in (args.payload or "txt=text").split(",")
        )
        man = write_webdataset_shards(
            df, args.output, key_col=key, payload_cols=payload,
            n_shards=args.shards,
        ).collect()
    for r in man:
        print(json.dumps(r.asDict()))
    return 0


def cmd_text_build(args: argparse.Namespace) -> int:
    from rag_content_spark.plans.text_index import build_text_index
    from rag_content_spark.session import ensure_reader_confs, get_spark

    spark = get_spark("rag-spark-text-build")
    ensure_reader_confs(spark)
    meta = build_text_index(
        spark.read.parquet(args.input), args.output, n_buckets=args.buckets
    )
    print(json.dumps(meta))
    return 0


def cmd_text_add(args: argparse.Namespace) -> int:
    from rag_content_spark.plans.text_index import add_to_text_index
    from rag_content_spark.session import ensure_reader_confs, get_spark

    spark = get_spark("rag-spark-text-add")
    ensure_reader_confs(spark)
    meta = add_to_text_index(spark.read.parquet(args.input), args.index_dir)
    print(json.dumps(meta))
    return 0


def _parse_ids(spec: str) -> list:
    """Comma-separated ids, ints when they all parse."""
    parts = [p.strip() for p in spec.split(",") if p.strip()]
    try:
        return [int(p) for p in parts]
    except ValueError:
        return parts


def cmd_text_delete(args: argparse.Namespace) -> int:
    from rag_content_spark.plans.text_index import delete_from_text_index
    from rag_content_spark.session import ensure_reader_confs, get_spark

    spark = get_spark("rag-spark-text-delete")
    ensure_reader_confs(spark)
    ids = (
        spark.read.parquet(args.input)
        if args.input
        else _parse_ids(args.ids)
    )
    print(json.dumps(delete_from_text_index(spark, args.index_dir, ids)))
    return 0


def cmd_ann_delete(args: argparse.Namespace) -> int:
    from rag_content_spark.plans.ann_index import delete_from_ann_index
    from rag_content_spark.session import ensure_reader_confs, get_spark

    spark = get_spark("rag-spark-ann-delete")
    ensure_reader_confs(spark)
    ids = (
        spark.read.parquet(args.input)
        if args.input
        else _parse_ids(args.ids)
    )
    print(json.dumps(delete_from_ann_index(spark, args.index_dir, ids)))
    return 0


def cmd_text_query(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from rag_content_spark.plans.text_index import query_text_index
    from rag_content_spark.session import ensure_reader_confs, get_spark

    spark = get_spark("rag-spark-text-query")
    ensure_reader_confs(spark)
    terms = [t for t in args.terms.split(",") if t]
    df = query_text_index(spark, args.index_dir, terms)
    for row in (
        df.orderBy(F.desc("bm25"), df.columns[0]).limit(args.top_k)
        .toJSON().collect()
    ):
        print(row)
    return 0


def cmd_text_compact(args: argparse.Namespace) -> int:
    from rag_content_spark.plans.text_index import compact_text_index
    from rag_content_spark.session import ensure_reader_confs, get_spark

    spark = get_spark("rag-spark-text-compact")
    ensure_reader_confs(spark)
    print(json.dumps(compact_text_index(spark, args.index_dir)))
    return 0


def cmd_faiss_import(args: argparse.Namespace) -> int:
    """Switch-over path: a reference-produced faiss.write_index artifact
    (+ optional ids sidecar) -> parquet (id, embedding) that every
    operator here runs against."""
    from rag_content_spark.session import ensure_reader_confs, get_spark
    from rag_content_spark.sinks.faiss_io import import_flat_index

    spark = get_spark("rag-spark-faiss-import")
    ensure_reader_confs(spark)
    df = import_flat_index(spark, args.input, id_col=args.id_col)
    df.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"rows": df.count(), "output": args.output}))
    return 0


def cmd_index_vacuum(args: argparse.Namespace) -> int:
    """Shared text/ANN vacuum: reclaim segments superseded by
    compaction (driver-side directory bookkeeping, no Spark session)."""
    from rag_content_spark.plans.index_commit import vacuum_index

    print(json.dumps({"removed_dirs": vacuum_index(args.index_dir)}))
    return 0


def cmd_ann_compact(args: argparse.Namespace) -> int:
    from rag_content_spark.plans.ann_index import compact_ann_index
    from rag_content_spark.session import ensure_reader_confs, get_spark

    spark = get_spark("rag-spark-ann-compact")
    ensure_reader_confs(spark)
    print(json.dumps(compact_ann_index(spark, args.index_dir)))
    return 0


def cmd_ann_add(args: argparse.Namespace) -> int:
    from rag_content_spark.plans.ann_index import add_to_ann_index
    from rag_content_spark.session import ensure_reader_confs, get_spark

    spark = get_spark("rag-spark-ann-add")
    ensure_reader_confs(spark)
    meta = add_to_ann_index(spark.read.parquet(args.input), args.index_dir)
    print(json.dumps(meta))
    return 0


def cmd_ann_build(args: argparse.Namespace) -> int:
    from rag_content_spark.plans.ann_index import build_ann_index
    from rag_content_spark.session import get_spark

    spark = get_spark("rag-spark-ann-build")
    emb = spark.read.parquet(args.input)
    meta = build_ann_index(
        emb, args.output, nlist=args.nlist, m=args.m, k=args.k
    )
    print(json.dumps(meta))
    return 0


def cmd_ann_query(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from rag_content_spark.plans.ann_index import query_ann_index
    from rag_content_spark.session import get_spark

    spark = get_spark("rag-spark-ann-query")
    if args.vector:
        qv = [float(x) for x in args.vector.split(",")]
    elif args.vec_id is not None:
        from rag_content_spark.plans import index_commit as ic
        from rag_content_spark.plans.ann_index import FORMAT

        meta = ic.read_meta(args.index_dir, FORMAT)
        # live view WITH delete tombstones applied — a deleted vector
        # must not be usable as a query seed (round-8 ADVICE)
        hit = (
            ic.read_live(spark, args.index_dir, meta["id_col"])
            .filter(F.col(meta["id_col"]) == args.vec_id)
            .limit(1)
            .collect()
        )
        if not hit:
            print(
                f"error: --vec-id {args.vec_id} not found in the live "
                f"index (missing or deleted)",
                file=sys.stderr,
            )
            return 2
        qv = list(hit[0][meta["embedding_col"]])
    else:
        print("error: pass -v or --vec-id", file=sys.stderr)
        return 2
    res = query_ann_index(
        spark,
        args.index_dir,
        qv,
        topk=args.top_k,
        n_probe=args.n_probe,
        refine=not args.no_refine,
    )
    for row in res.toJSON().collect():
        print(row)
    return 0


def cmd_curate(args: argparse.Namespace) -> int:
    """Curation pipeline: (optional passage scrub) -> Gopher gate ->
    exact dedup -> (optional MinHash near-dedup) -> (optional DSIR
    select) -> (optional mix rebalance) -> sequence packing ->
    shard-partitioned parquet + a stats.json of per-stage counts.

    Each stage runs once. The plan fans out twice, and each fan-out
    point is ``localCheckpoint(eager=True)``'d once so its consumers
    read the checkpoint instead of recomputing its lineage:

    - the exact-deduped corpus, read by near dedup (or DSIR, packing
      and the join-back when near dedup is off);
    - the near-deduped corpus, read by DSIR, packing and the join-back.

    Near dedup is :func:`~rag_content_spark.operators.dedup.near_duplicate_pairs`:
    one shingling pass checkpointed as a (id, shingles, band hashes)
    table, one band-bucket aggregate, then the broadcast loser
    anti-join of :func:`~rag_content_spark.operators.dedup.apply_dedup`.

    The stats.json values are ``Observation``s
    (:mod:`rag_content_spark.observe`), not ``.count()`` or
    ``collect()`` calls that would each re-run a lineage. ``input``,
    ``after_quality_gate`` and ``after_exact_dedup`` fill during the
    first checkpoint, in time for DSIR's default ``k``;
    ``lsh_overflow`` (taken on the band-bucket aggregate) and
    ``after_near_dedup`` during the second; ``after_dsir_select``,
    ``after_rebalance`` and ``output`` during the final write.
    ``output`` counts the rows written, so an empty result needs no
    read-back of an empty ``partitionBy`` directory."""
    from pyspark.sql import functions as F

    from rag_content_spark.observe import observe_count
    from rag_content_spark.operators.dedup import (
        apply_dedup,
        exact_dedup,
        near_duplicate_pairs,
        remove_crossdoc_passages,
    )
    from rag_content_spark.operators.packing import pack_sequences
    from rag_content_spark.operators.quality import gopher_rules, rebalance_to_mix
    from rag_content_spark.session import ensure_reader_confs, get_spark

    spark = get_spark("rag-spark-curate")
    ensure_reader_confs(spark)
    if getattr(args, "input_format", "parquet") == "warc":
        from rag_content_spark.sources.warc import (
            read_warc_records,
            warc_responses_to_documents,
        )

        docs = warc_responses_to_documents(read_warc_records(spark, args.input))
    else:
        docs = spark.read.parquet(args.input)
    # stage -> count, or the observation's count() until the write
    stats: dict = {}

    def observe(key, df):
        df, stats[key] = observe_count(df, key)
        return df

    docs = observe("input", docs)

    if args.scrub_passages:
        scrubbed = remove_crossdoc_passages(docs)
        docs = docs.drop("text").join(
            scrubbed.select("doc_id", F.col("clean_text").alias("text")),
            "doc_id",
        )

    gated = observe("after_quality_gate", docs.filter(gopher_rules("text")["keep"]))

    survivors = exact_dedup(gated).select(F.col("keep_id").alias("doc_id"))
    deduped = observe(
        "after_exact_dedup", gated.join(survivors, "doc_id", "leftsemi")
    ).localCheckpoint(eager=True)

    if args.near_dedup:
        # exact_dedup above already collapsed identical texts to one
        # representative, so LSH buckets see one member per distinct
        # content — the pre-collapse that keeps boilerplate-heavy crawls
        # from densifying band buckets; the cap is the hard bound on top
        cap = getattr(args, "max_bucket_size", 1000)
        if cap is not None and cap <= 0:
            cap = None  # --max-bucket-size 0 = explicit opt-out
        pairs, overflow = near_duplicate_pairs(
            deduped, threshold=args.jaccard, max_bucket_size=cap
        )
        if overflow is not None:
            stats["lsh_overflow"] = lambda: {
                "max_bucket_size": cap,
                **{k: int(v) for k, v in overflow().items()},
            }
        deduped = observe(
            "after_near_dedup", apply_dedup(deduped, pairs)
        ).localCheckpoint(eager=True)

    if getattr(args, "dsir_target", None):
        from rag_content_spark.operators.selection import dsir_select

        target = spark.read.parquet(args.dsir_target)
        # filled by the checkpoint above
        k = args.dsir_keep or max(1, stats["after_exact_dedup"]() // 2)
        sel = dsir_select(deduped, target, k=k).select("doc_id")
        deduped = observe(
            "after_dsir_select", deduped.join(sel, "doc_id", "leftsemi")
        )

    if args.mix:
        mix = {
            k: float(v)
            for k, v in (kv.split("=") for kv in args.mix.split(","))
        }
        deduped = observe("after_rebalance", rebalance_to_mix(deduped, mix))

    packed = pack_sequences(deduped, budget=args.pack_budget)
    out_cols = [c for c in deduped.columns if c != "doc_id"]
    (
        observe("output", packed.join(deduped.select("doc_id", *out_cols), "doc_id"))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(os.path.join(args.output, "curated"))
    )
    stats = {k: v() if callable(v) else v for k, v in stats.items()}
    with open(os.path.join(args.output, "stats.json"), "w") as f:
        json.dump(stats, f, indent=2)
    print(json.dumps(stats))
    return 0


def cmd_tokenize(args: argparse.Namespace) -> int:
    """Corpus -> learned BPE merges -> integer token ids -> Megatron
    .bin/.idx shard pairs (+ vocab.parquet, merges.json): the
    trains-ready handoff after curation."""
    from rag_content_spark.observe import observe_count
    from rag_content_spark.operators.selection import (
        bpe_encode_corpus,
        bpe_vocab,
        learn_bpe_merges,
    )
    from rag_content_spark.session import ensure_reader_confs, get_spark
    from rag_content_spark.sinks.megatron import write_megatron_shards

    spark = get_spark("rag-spark-tokenize")
    ensure_reader_confs(spark)
    # the docs count fills during the merge-learning collect, the vocab
    # count during the vocab write
    docs, n_docs = observe_count(spark.read.parquet(args.input), "docs")
    # TRUE iterative BPE (count -> merge -> recount) over the
    # vocabulary-sized word-frequency table
    merges = learn_bpe_merges(docs, n_merges=args.merges)
    vocab, vocab_size = observe_count(bpe_vocab(docs, merges), "vocab_size")
    encoded = bpe_encode_corpus(docs, merges, vocab=vocab)
    os.makedirs(args.output, exist_ok=True)
    vocab.write.mode("overwrite").parquet(os.path.join(args.output, "vocab.parquet"))
    with open(os.path.join(args.output, "merges.json"), "w") as f:
        json.dump([list(m) for m in merges], f)
    manifest = write_megatron_shards(
        encoded,
        os.path.join(args.output, "shards"),
        tokens_col="token_ids",
        n_shards=args.shards,
        dtype=args.dtype,
    ).collect()
    stats = {
        "docs": n_docs(),
        "vocab_size": vocab_size(),
        "merges": len(merges),
        "shards": len(manifest),
        "total_tokens": sum(m["n_tokens"] for m in manifest),
    }
    print(json.dumps(stats))
    return 0


def cmd_table(args: argparse.Namespace) -> int:
    """Versioned-table maintenance: snapshot / log / read / compact."""
    from rag_content_spark.session import ensure_reader_confs, get_spark
    from rag_content_spark.sinks.versioned_table import (
        compact,
        read_snapshot,
        snapshots,
        write_snapshot,
    )
    # delete mode rides the normal snapshot path: --mode delete --key k
    # tombstones every key present in --input

    spark = get_spark("rag-spark-table")
    ensure_reader_confs(spark)
    if args.table_cmd == "log":
        for s in snapshots(args.table):
            print(json.dumps(s))
        return 0
    if args.table_cmd == "snapshot":
        df = spark.read.parquet(args.input)
        v = write_snapshot(df, args.table, mode=args.mode, key_col=args.key)
        print(json.dumps({"version": v, "mode": args.mode}))
        return 0
    if args.table_cmd == "read":
        df = read_snapshot(spark, args.table, version=args.version)
        if args.output:
            df.write.mode("overwrite").parquet(args.output)
            print(json.dumps({"rows": spark.read.parquet(args.output).count()}))
        else:
            for row in df.limit(args.limit).toJSON().collect():
                print(row)
        return 0
    if args.table_cmd == "compact":
        v = compact(spark, args.table)
        print(json.dumps({"version": v, "mode": "overwrite"}))
        return 0
    if args.table_cmd == "vacuum":
        from rag_content_spark.sinks.versioned_table import vacuum

        removed = vacuum(args.table)
        print(json.dumps({"removed": removed}))
        return 0
    raise SystemExit(f"unknown table command {args.table_cmd}")


def cmd_convert(args: argparse.Namespace) -> int:
    """One-file conversion ergonomics (the reference ships
    html/__main__.py, pdf/__main__.py and asciidoc/__main__.py for
    exactly this): html/pdf/asciidoc/markdown -> text or markdown on
    stdout or -o, driver-side with no Spark session — the distributed
    twin is the build pipeline's converter stage
    (sources/converters.py). ``--structure`` prints the AsciiDoc
    structure dump (the reference's asciidoc_structure_dumper.rb
    contract) instead of converted text."""
    import pathlib

    src_path = pathlib.Path(args.input)
    fmt = args.format
    if fmt == "auto":
        fmt = {
            ".html": "html",
            ".htm": "html",
            ".pdf": "pdf",
            ".adoc": "asciidoc",
            ".asciidoc": "asciidoc",
            ".md": "markdown",
            ".txt": "text",
        }.get(src_path.suffix.lower(), "text")
    raw = src_path.read_bytes()
    if fmt == "asciidoc" and args.structure:
        from rag_content_spark.sources.asciidoc_structure import dump_structure

        out = dump_structure(raw.decode("utf-8", errors="replace"))
    elif fmt == "asciidoc":
        from rag_content_spark.sources.asciidoc_text import asciidoc_to_text

        out = asciidoc_to_text(raw.decode("utf-8", errors="replace"))
    elif fmt == "html":
        from rag_content_spark.sources.converters import (
            convert_html_string_to_markdown,
        )

        out = convert_html_string_to_markdown(
            raw.decode("utf-8", errors="replace"), document_name=src_path.name
        )
    elif fmt == "pdf":
        from rag_content_spark.sources.converters import (
            SCANNED_PDF_MIN_CHARS,
            _fallback_decode,
            _get_docling,
        )

        try:
            _get_docling("pdf")
        except Exception:
            out = _fallback_decode(raw, "pdf")
        else:  # pragma: no cover - docling not in this container
            import io

            from rag_content_spark.sources.converters import _CONVERTER

            out = _CONVERTER.convert(io.BytesIO(raw)).document.export_to_markdown()
        if len(out) < SCANNED_PDF_MIN_CHARS:
            print(
                "warning: possible scanned PDF: almost no text extracted",
                file=sys.stderr,
            )
    else:  # markdown / text pass-through
        out = raw.decode("utf-8", errors="replace")
    if args.output:
        with open(args.output, "w") as fh:
            fh.write(out)
    else:
        print(out)
    return 0


def cmd_datasheet(args: argparse.Namespace) -> int:
    """One-JSON-line corpus datasheet (sizes, vocab, language-mix
    entropy, dup rate, Gopher keep rate) for a documents parquet."""
    from pyspark.sql import functions as F

    from rag_content_spark.functions.hashing import stable_hash64
    from rag_content_spark.functions.text import tokens
    from rag_content_spark.operators.quality import gopher_rules
    from rag_content_spark.session import ensure_reader_confs, get_spark

    spark = get_spark("rag-spark-datasheet")
    ensure_reader_confs(spark)
    docs = spark.read.parquet(args.input)
    tok = tokens(F.col("text"))
    t = docs.select(
        F.size(tok).alias("n_tok"),
        stable_hash64(F.col("text")).alias("h"),
        gopher_rules("text")["keep"].alias("keep"),
    )
    base = t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.count_distinct("h").alias("n_distinct"),
        F.count_if("keep").alias("n_keep"),
    ).collect()[0]
    vocab = docs.select(F.explode(tok).alias("tk")).agg(
        F.count_distinct("tk").alias("v")
    ).collect()[0]["v"]
    out = {
        "n_docs": base["n_docs"],
        "total_tokens": base["total_tokens"],
        "vocab_size": vocab,
        "mean_doc_tokens": round(base["total_tokens"] / max(base["n_docs"], 1), 2),
        "exact_dup_rate": round(1.0 - base["n_distinct"] / max(base["n_docs"], 1), 6),
        "gopher_keep_rate": round(base["n_keep"] / max(base["n_docs"], 1), 6),
    }
    if "lang" in docs.columns:
        out["langs"] = {
            r["lang"]: r["n"]
            for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
        }
    print(json.dumps(out))
    return 0


def cmd_sql(args: argparse.Namespace) -> int:
    """Raw-SQL entry point: register the index and/or a directory of
    parquet tables as temp views, run one statement, print JSON lines."""
    from rag_content_spark.session import get_spark
    from rag_content_spark.sinks.parquet_sink import read_index

    from rag_content_spark.session import ensure_reader_confs

    spark = get_spark("rag-spark-sql")
    # engine-wide reader policy (nanos timestamps as long) — session.py
    ensure_reader_confs(spark)
    if args.db_path:
        read_index(spark, os.path.join(args.db_path, "index")).createOrReplaceTempView(
            "chunks"
        )
    if args.tables:
        for f in sorted(os.listdir(args.tables)):
            if f.endswith(".parquet"):
                try:
                    spark.read.parquet(
                        os.path.join(args.tables, f)
                    ).createOrReplaceTempView(f[: -len(".parquet")])
                except Exception as exc:
                    print(f"warning: skipping {f}: {exc}", file=sys.stderr)
    for row in spark.sql(args.execute).toJSON().collect():
        print(row)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
