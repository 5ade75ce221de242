"""Query surface (reference scripts/query_rag.py re-expressed).

Produces the reference's JSON result shape (query_rag.py:96-126):
``{query, top_k, threshold, nodes: [{id, score, text, metadata}]}`` with
nodes sorted by score desc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rag_content_spark.operators.similarity import node_lookup, top_k


def query_index(
    index: DataFrame,
    query_text: str,
    query_vec: list[float],
    k: int = 1,  # reference query_rag.py:269 default
    threshold: float = 0.0,  # reference query_rag.py:271
    id_col: str = "chunk_id",
    embedding_col: str = "embedding",
) -> dict:
    """Embed-query → exact top-k → threshold gate → JSON shape.

    The embedding of the query itself happens on the driver (one
    inference — reference query_rag.py:26,66) and arrives here as
    ``query_vec``. The read is one job: a scan feeding
    TakeOrderedAndProject.
    """
    hits = top_k(
        index, query_vec, k=k, metric="ip", embedding_col=embedding_col, id_col=id_col
    )
    meta_cols = [
        c for c in index.columns if c not in (id_col, embedding_col, "text")
    ]
    rows = hits.select(
        F.col(id_col).alias("id"),
        F.col("score"),
        F.col("text"),
        F.to_json(F.struct(*meta_cols)).alias("metadata"),
    ).collect()
    # all-or-nothing gate on the top score (reference query_rag.py:81-94),
    # applied to the <= k collected rows, best first (nulls sort last,
    # so a null top means no score at all); the batch form is
    # operators.filters.score_threshold_gate
    top = rows[0]["score"] if rows else None
    if top is None or top < threshold:
        rows = []
    return {
        "query": query_text,
        "top_k": k,
        "threshold": threshold,
        "nodes": [
            {
                "id": r["id"],
                "score": float(r["score"]),
                "text": r["text"],
                "metadata": r["metadata"],
            }
            for r in rows
        ],
    }


def lookup_node(index: DataFrame, node_id: str, id_col: str = "chunk_id") -> dict:
    """Point lookup result shape (reference query_rag.py:37-64)."""
    rows = node_lookup(index, node_id, id_col=id_col).drop("embedding").collect()
    if not rows:
        return {"id": node_id, "found": False}
    row = rows[0].asDict()
    return {"id": node_id, "found": True, "node": row}


def phrase_retrieval(
    spark,
    phrase: str,
    docs: DataFrame | None = None,
    use_index: str | None = None,
) -> DataFrame:
    """Phrase match with the 100 TB-correct route made the discoverable
    one: pass ``use_index=<positional text index dir>`` (built with
    ``plans.text_index.build_text_index(..., positions=True)``) and the
    lookup reads ONLY the phrase's token buckets (partition-pruned,
    amortized across queries); pass ``docs`` instead for the one-off
    corpus-scan twin (operators/search.phrase_search — re-tokenizes the
    whole corpus per query, fine for ad-hoc analytics only). Results
    are bit-identical between the two routes (pinned in tests)."""
    if (use_index is None) == (docs is None):
        raise ValueError("pass exactly one of docs= or use_index=")
    if use_index is not None:
        from rag_content_spark.plans.text_index import phrase_query_text_index

        return phrase_query_text_index(spark, use_index, phrase)
    from rag_content_spark.operators.search import phrase_search

    return phrase_search(docs, phrase)


def proximity_retrieval(
    spark,
    terms: list[str],
    window: int = 6,
    docs: DataFrame | None = None,
    use_index: str | None = None,
) -> DataFrame:
    """Proximity match, same routing contract as
    :func:`phrase_retrieval`: ``use_index=`` is the scale path
    (bucket-pruned positional postings), ``docs=`` the ad-hoc
    corpus-scan twin."""
    if (use_index is None) == (docs is None):
        raise ValueError("pass exactly one of docs= or use_index=")
    if use_index is not None:
        from rag_content_spark.plans.text_index import (
            proximity_query_text_index,
        )

        return proximity_query_text_index(spark, use_index, terms, window)
    from rag_content_spark.operators.search import proximity_search

    return proximity_search(docs, terms, window)


def detect_store_type(path: str) -> str:
    """Q5 (reference query_rag.py:306-316): pick the store flavor from
    artifacts present in a directory, in the reference's dispatch order:
    POSTGRES_DATABASE env -> llamastack-pgvector, metadata.json ->
    faiss (llama-index), faiss_store.db -> llamastack-faiss. The
    trailing parquet branch is this engine's extension (the canonical
    distributed store has no reference counterpart)."""
    import os

    if os.environ.get("POSTGRES_DATABASE"):
        return "llamastack-pgvector"
    if os.path.exists(os.path.join(path, "metadata.json")):
        return "faiss"
    if os.path.exists(os.path.join(path, "faiss_store.db")):
        return "llamastack-faiss"
    if any(f.endswith(".parquet") for f in os.listdir(path)) or any(
        os.path.isdir(os.path.join(path, f)) for f in os.listdir(path)
    ):
        return "parquet"
    raise ValueError(f"cannot detect store type in {path}")
