"""Query registry: every implemented operator from SURVEY §2 as a
(spark_fn, oracle_sql) pair.

Each entry is a callable ``(spark, sf_dir) -> DataFrame`` plus an exact
DuckDB SQL oracle over the same parquet tables. Operators whose inputs
need structure the synthetic tables lack (frontmatter, TOML blocks,
markdown headings, duplicates) SYNTHESIZE that structure with identical
deterministic expressions on both engines — the operator under test is
the parse/split/filter/join, not the synthesis.

Column-name discipline: every computed column is aliased identically in
Spark and SQL (the driver's compare hashes values under sorted column
names).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from rag_content_spark.embedding.mock import _mock_embed_one, mock_embedding_expr
from rag_content_spark.functions.hashing import stable_hash64, stable_hash64_sql
from rag_content_spark.functions.layout import morton_code_sql
from rag_content_spark.functions.text import (
    basename,
    markdown_to_text_sql,
    first_line_title,
    frontmatter_field,
    normalize_text_sql,
    tokens,
    toml_block,
    toml_scalar,
    toml_string_array,
)
from rag_content_spark.functions.vector import (
    cosine,
    cosine_sql,
    dot,
    dot_sql,
    double_array_lit,
    euclidean,
    euclidean_sql,
)
from rag_content_spark.operators import dedup, text_analysis
from rag_content_spark.operators.chunking import (
    chunk_fixed,
    chunk_sentences,
    section_title,
    split_markdown,
)
from rag_content_spark.operators.filters import (
    has_whitespace,
    markdown_has_content,
    score_threshold_gate,
)
from rag_content_spark.operators.rollup import corpus_counts, group_chunks_by_document
from rag_content_spark.operators.similarity import top_k, top_k_batch

# ---------------------------------------------------------------------------
# shared helpers

# Session-scoped memo of resolved input-table reads. Each
# ``spark.read.parquet(path)`` call re-lists the path and re-reads the
# parquet footer to resolve the schema — warm-measured ~135 ms per call
# on this box — and a query build that touches 7 TPC-H tables paid ~0.9 s
# of pure re-resolution per build (cProfile: 7 DataFrameReader.parquet
# calls = 0.95 s of q_national_market_share's 1.7 s build). A catalog
# deployment never pays this per query (the table's resolved relation
# lives in the metastore/session catalog; Spark itself keeps a session
# file-listing cache for the same reason — guide §6), so the memo
# reproduces catalog behaviour for the fixed input tables: one
# resolution per (session, path), returning the same LAZY DataFrame
# plan node. No data is cached or materialized — every action still
# scans the parquet — and the (mtime_ns, size) stamp re-resolves the
# path if the file ever changes (test corpora written to tmp dirs).
_PQ_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _pq(spark: SparkSession, path: str) -> DataFrame:
    try:
        st = os.stat(path)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        # missing path: let Spark raise its own (clearer) error lazily
        return spark.read.parquet(path)
    try:
        cache = _PQ_CACHE.setdefault(spark, {})
    except TypeError:  # non-weakref-able session stand-in (mocks)
        return spark.read.parquet(path)
    hit = cache.get(path)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    df = spark.read.parquet(path)
    cache[path] = (stamp, df)
    return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NB: no blanket ingest repartition — measured at sf0.1 a 32-way
    # fan-out of 5k rows LOSES ~25% (task overhead + the shuffle) vs
    # single-task narrow chains; the 10x/100x experiments in BASELINE.md
    # show parallelism engaging naturally once inputs have >1 split.
    return _pq(spark, f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pq(spark, f"{sf_dir}/embeddings.parquet")


def _emb_driver(
    sf_dir: str,
    vec_ids: list[int] | None = None,
    mod: int | None = None,
    rem: int = 0,
    max_id: int | None = None,
) -> list[tuple[int, list[float]]]:
    """Driver-side fetch of query vectors / demo centroids straight from
    the embeddings parquet, replacing the per-query Spark collect job
    these bounded fetches used to pay (guide §5: a one-row collect is a
    full job submission + scan; warm-measured 0.13-0.68 s per call at
    sf0.1). Values are bit-identical by construction — the same parquet
    float64 bytes either way (pinned in tests/test_queries_smoke.py).
    ``vec_ids`` pushes an IN filter into the parquet read; ``mod`` keeps
    every ``vec_id % mod == rem`` row (the demo-/IVF-centroid patterns —
    the Spark twin scanned every row for this predicate too), and
    ``max_id`` additionally bounds it to ``vec_id < max_id`` (pushed
    into the parquet read via row-group statistics — keeps the driver
    fetch O(max_id) at any replica scale, the same bound the Spark
    filter carried). Returns (vec_id, embedding) pairs sorted by
    vec_id."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    d = ds.dataset(f"{sf_dir}/embeddings.parquet")
    if mod is None:
        t = d.to_table(
            columns=["vec_id", "embedding"],
            filter=pc.field("vec_id").isin(list(vec_ids or [])),
        )
        pairs = list(
            zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist())
        )
    else:
        # Stream record batches and apply the modulo mask per batch so
        # the driver only ever materializes the KEPT rows (~1/mod of
        # the table) plus one batch — never the whole table (round-11
        # verdict #2: the unbounded `to_table()` here was a full-table
        # driver materialization, a driver OOM at a 100 TB replica;
        # with ``max_id`` the bound additionally pushes into the
        # parquet read via row-group statistics, same as before).
        flt = None if max_id is None else (pc.field("vec_id") < max_id)
        extra = sorted(set(vec_ids or []))
        pairs = []
        for batch in d.to_batches(columns=["vec_id", "embedding"], filter=flt):
            v = batch.column(0).to_numpy(zero_copy_only=False)
            mask = (v % mod) == rem
            if extra:
                mask |= np.isin(v, extra)
            if not mask.any():
                continue
            kept = batch.filter(pa.array(mask))
            pairs.extend(
                zip(
                    kept.column(0).to_pylist(),
                    kept.column(1).to_pylist(),
                )
            )
    pairs.sort(key=lambda p: p[0])
    return pairs


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with `ts` normalized to `ts_sec` (BIGINT epoch
    seconds), robust to the parquet physical timestamp type: the driver
    has shipped both TIMESTAMP(NANOS) (read as bigint nanos under
    spark.sql.legacy.parquet.nanosAsLong) and TIMESTAMP(MICROS) (read as
    TIMESTAMP_NTZ). Naive timestamps mean UTC on both engines — the
    session pins spark.sql.session.timeZone=UTC (session.py) so
    unix_seconds(CAST(ntz AS TIMESTAMP)) equals DuckDB's
    floor(epoch(ts)). All downstream time math is integer-seconds.

    ``ensure_reader_confs`` (session.py) is the documented session-wide
    reader policy — ``get_spark`` sessions already have it; calling it
    here aligns harness-created sessions with the same contract instead
    of hiding a one-off conf mutation in a query helper."""
    from rag_content_spark.session import ensure_reader_confs

    ensure_reader_confs(spark)
    ev = _pq(spark, f"{sf_dir}/events.parquet")
    t = dict(ev.dtypes)["ts"]
    if t in ("bigint", "long"):
        sec = F.expr("ts DIV 1000000000")
    else:
        sec = F.expr("unix_seconds(CAST(ts AS TIMESTAMP))")
    return ev.withColumn("ts_sec", sec.cast("bigint"))


# Synthesized markdown document (deterministic, same in both engines):
# tokens grouped into sections of 40, each prefixed by '## Section j',
# with a '# Doc <id>' H1 on top.
_SEC = 40


def _md_doc_expr():
    tok = tokens(F.col("text"))
    nsec = F.ceil(F.greatest(F.size(tok), F.lit(1)) / F.lit(_SEC)).cast("int")
    sections = F.transform(
        F.sequence(F.lit(0), nsec - 1),
        lambda j: F.concat(
            F.lit("## Section "),
            j.cast("string"),
            F.lit("\n"),
            F.array_join(F.slice(tok, j * _SEC + 1, _SEC), " "),
        ),
    )
    return F.concat(
        F.lit("# Doc "),
        F.col("doc_id").cast("string"),
        F.lit("\n"),
        F.array_join(sections, "\n"),
    )


_MD_DOC_SQL = """
'# Doc ' || doc_id || chr(10) || array_to_string(
  list_transform(
    generate_series(0, CAST(ceil(greatest(len({tok}), 1) / 40.0) AS INT) - 1),
    j -> '## Section ' || j || chr(10) ||
         array_to_string(list_slice({tok}, j * 40 + 1, j * 40 + 40), ' ')
  ), chr(10))
""".strip()

_TOKENS_SQL = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"


def _md_doc_sql() -> str:
    return _MD_DOC_SQL.format(tok=_TOKENS_SQL)


# Array-output serialization: the driver's canonicalizer (pandas
# sort_values) cannot hash list cells (CORRECTNESS_r01: 6 err rows), so
# every query output serializes arrays to canonical strings — identically
# on both engines.
#
# Numeric arrays go through floor(double(x) * 1e6) -> BIGINT: float->double
# widening is exact, both engines run the same double multiply/floor on
# bit-identical inputs, and integers render identically (raw double->string
# formatting does NOT match between the JVM and DuckDB).


def _ser_num_array(col) -> F.Column:
    return F.array_join(
        F.transform(
            col if isinstance(col, F.Column) else F.col(col),
            lambda x: F.floor(x.cast("double") * F.lit(1000000.0)).cast("string"),
        ),
        ",",
    )


def _ser_num_array_sql(expr: str) -> str:
    return (
        f"array_to_string(list_transform({expr}, "
        f"x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)), ',')"
    )


def _ser_int_array(col) -> F.Column:
    return F.array_join(
        F.transform(
            col if isinstance(col, F.Column) else F.col(col),
            lambda x: x.cast("string"),
        ),
        ",",
    )


def _ser_int_array_sql(expr: str) -> str:
    return (
        f"array_to_string(list_transform({expr}, x -> CAST(x AS VARCHAR)), ',')"
    )


# ---------------------------------------------------------------------------
# registry

QUERIES: dict = {}
ORACLES: dict = {}
# Registered queries whose PLAN is deliberately not scale-safe (e.g. an
# all-pairs exact eval baseline kept as the oracle-checked ground truth
# of a registered IVF sibling). Big-replica sweep tooling skips these BY
# CONSTRUCTION (verify_local --scale-safe-only) instead of via per-run
# exclusion lists; the driver's sf0.01 gate still verifies them.
NOT_SCALE_SAFE: set = set()
# Queries whose RESULT is corpus-linear (O(rows) output — 95-150M rows
# at ~sf100): big-replica sweeps verify these with the engine-side
# streaming value-hash (verify_local --stream-hash: each engine folds
# its canonical row strings into commutative 60-bit hash sums, three
# scalars cross the process boundary) instead of materializing both
# sides into pandas.
STREAM_HASH: set = set()


def register(
    name: str, oracle, scale_safe: bool = True, stream_hash: bool = False
):
    """``oracle`` is the DuckDB SQL string, ``None`` (rows-only check),
    or a zero-arg callable returning the SQL — the lazy form lets an
    oracle embed data-derived model constants (eigenvectors, centroids)
    as literals, computed only when the harness asks for the SQL.

    ``scale_safe=False`` marks a deliberate small-SF-only plan (exact
    quadratic eval baseline with a registered scale-safe sibling); the
    sweep tooling skips it above sf0.1 by construction."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if not scale_safe:
            NOT_SCALE_SAFE.add(name)
        if stream_hash:
            STREAM_HASH.add(name)
        return fn

    return deco


def resolve_oracles() -> dict:
    """ORACLES with lazy (callable) entries materialized to SQL strings.

    A lazy oracle that raises (e.g. its parquet input is absent at this
    scale factor) is OMITTED — the harness then records the weaker
    rows-only check for that one query instead of losing ALL oracles to
    one unhandled exception (round-7 ADVICE)."""
    out = {}
    for k, v in ORACLES.items():
        if callable(v):
            try:
                out[k] = v()
            except Exception:
                continue
        else:
            out[k] = v
    return out


# ======================== scalar functions / metadata ======================


@register(
    "doc_titles",
    # F1: first line stripped of '# ' — exercised on synthesized markdown
    f"""
    SELECT doc_id,
           regexp_replace(split_part({_md_doc_sql()}, chr(10), 1), '^[# ]*', '')
             AS title
    FROM documents
    """,
)
def q_doc_titles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", first_line_title(_md_doc_expr()).alias("title")
    )


_FM_DOC_SQL = (
    "'---' || chr(10) || 'title: Doc ' || doc_id || chr(10) || "
    "'url: https://docs.example.com/' || doc_id || chr(10) || '---' || chr(10) || text"
)


def _fm_doc_expr():
    i = F.col("doc_id").cast("string")
    return F.concat(
        F.lit("---\ntitle: Doc "),
        i,
        F.lit("\nurl: https://docs.example.com/"),
        i,
        F.lit("\n---\n"),
        F.col("text"),
    )


@register(
    "frontmatter_parse",
    # S8: YAML frontmatter title/url extraction
    f"""
    WITH d AS (SELECT doc_id, {_FM_DOC_SQL} AS md FROM documents),
    b AS (SELECT doc_id, regexp_extract(md, '(?s)^---\\n(.*?)\\n---', 1) AS blk FROM d)
    SELECT doc_id,
           regexp_extract(blk, '(?m)^title:\\s*"?([^"\\n]*?)"?\\s*$', 1) AS fm_title,
           regexp_extract(blk, '(?m)^url:\\s*"?([^"\\n]*?)"?\\s*$', 1) AS fm_url
    FROM b
    """,
)
def q_frontmatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    md = _fm_doc_expr()
    return _docs(spark, sf_dir).select(
        "doc_id",
        frontmatter_field(md, "title").alias("fm_title"),
        frontmatter_field(md, "url").alias("fm_url"),
    )


@register(
    "metadata_populate",
    # P1 hermetic: docs_url = frontmatter url ▸ basename(source); title =
    # frontmatter title when a frontmatter block opens the doc (NO
    # first-line fallback — reference metadata_processor.py:43-56 yields
    # '' for a block without a title key), else first line stripped of
    # '# '; url_reachable = true (hermetic).
    # doc_id % 3 == 0: full frontmatter; % 3 == 1: frontmatter with url
    # but NO title (title must be ''); else: no frontmatter.
    f"""
    WITH d AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 3 = 0 THEN {_FM_DOC_SQL}
                  WHEN doc_id % 3 = 1 THEN '---' || chr(10) ||
                       'url: https://docs.example.com/' || doc_id || chr(10) ||
                       '---' || chr(10) || text
                  ELSE '# Doc ' || doc_id || chr(10) || text END AS md
      FROM documents
    ),
    b AS (SELECT doc_id, source, md,
                 regexp_extract(md, '(?s)^---\\n(.*?)\\n---', 1) AS blk FROM d)
    SELECT doc_id,
           coalesce(nullif(regexp_extract(blk, '(?m)^url:\\s*"?([^"\\n]*?)"?\\s*$', 1), ''),
                    regexp_extract('path/to/' || source || '/file_' || doc_id || '.md', '([^/]*)$', 1))
             AS docs_url,
           CASE WHEN starts_with(md, '---')
                THEN regexp_extract(blk, '(?m)^title:\\s*"?([^"\\n]*?)"?\\s*$', 1)
                ELSE regexp_replace(split_part(md, chr(10), 1), '^[# ]*', '')
           END AS title,
           true AS url_reachable
    FROM b
    """,
)
def q_metadata_populate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.metadata import populate_metadata

    i = F.col("doc_id").cast("string")
    md = (
        F.when(F.col("doc_id") % 3 == 0, _fm_doc_expr())
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("---\nurl: https://docs.example.com/"),
                i,
                F.lit("\n---\n"),
                F.col("text"),
            ),
        )
        .otherwise(F.concat(F.lit("# Doc "), i, F.lit("\n"), F.col("text")))
    )
    file_path = F.concat(
        F.lit("path/to/"), F.col("source"), F.lit("/file_"), i, F.lit(".md")
    )
    docs = _docs(spark, sf_dir).select(
        "doc_id", file_path.alias("file_path"), md.alias("text")
    )
    return populate_metadata(docs, hermetic=True).select(
        "doc_id", "docs_url", "title", "url_reachable"
    )


_OKP_DOC_SQL = """
'+++' || chr(10) || 'title = "Doc ' || doc_id || '"' || chr(10) ||
CASE WHEN doc_id % 4 <> 1 THEN 'reference_url = "https://portal.example.com/' || doc_id || '"' || chr(10) ELSE '' END ||
'portal_product_names = [' ||
CASE WHEN doc_id % 2 = 0 THEN '"Red Hat OpenStack Platform", "Other Product"'
     ELSE '"Some Unrelated Thing"' END
|| ']' || chr(10) || '+++' || chr(10) || text
""".strip()


@register(
    "okp_filter",
    # S7: TOML block parse + project filter (case-insensitive substring)
    # + url+title required (reference okp.py:28-64). Expect doc_id % 4 == 0
    # or 2 (product match) minus % 4 == 1 (no url) → doc_id even.
    f"""
    WITH d AS (SELECT doc_id, {_OKP_DOC_SQL} AS okp FROM documents),
    b AS (SELECT doc_id,
                 regexp_extract(okp, '(?s)^\\+\\+\\+\\n(.*?)\\n\\+\\+\\+', 1) AS blk
          FROM d),
    m AS (SELECT doc_id,
                 nullif(regexp_extract(blk, '(?m)^title\\s*=\\s*"([^"]*)"', 1), '') AS okp_title,
                 nullif(regexp_extract(blk, '(?m)^reference_url\\s*=\\s*"([^"]*)"', 1), '') AS okp_url,
                 list_filter(list_transform(
                     regexp_split_to_array(regexp_extract(blk, '(?m)^portal_product_names\\s*=\\s*\\[([^\\]]*)\\]', 1), ','),
                     s -> trim(s, ' "')), s -> s <> '') AS portal_product_names
          FROM b)
    SELECT doc_id, okp_title, okp_url,
           array_to_string(portal_product_names, '|') AS portal_product_names
    FROM m
    WHERE okp_url IS NOT NULL AND okp_title IS NOT NULL
      AND len(list_filter(portal_product_names,
              pn -> contains(lower(pn), 'openstack'))) > 0
    """,
)
def q_okp_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    i = F.col("doc_id").cast("string")
    okp = F.concat(
        F.lit('+++\ntitle = "Doc '),
        i,
        F.lit('"\n'),
        F.when(
            F.col("doc_id") % 4 != 1,
            F.concat(
                F.lit('reference_url = "https://portal.example.com/'), i, F.lit('"\n')
            ),
        ).otherwise(F.lit("")),
        F.lit("portal_product_names = ["),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.lit('"Red Hat OpenStack Platform", "Other Product"'),
        ).otherwise(F.lit('"Some Unrelated Thing"')),
        F.lit("]\n+++\n"),
        F.col("text"),
    )
    blk = toml_block(okp)
    df = _docs(spark, sf_dir).select(
        "doc_id",
        F.nullif(toml_scalar(blk, "title"), F.lit("")).alias("okp_title"),
        F.nullif(toml_scalar(blk, "reference_url"), F.lit("")).alias("okp_url"),
        toml_string_array(blk, "portal_product_names").alias(
            "portal_product_names"
        ),
    )
    match = F.exists(
        F.col("portal_product_names"),
        lambda pn: F.lower(pn).contains("openstack"),
    )
    return df.filter(
        F.col("okp_url").isNotNull() & F.col("okp_title").isNotNull() & match
    ).withColumn(
        "portal_product_names", F.array_join("portal_product_names", "|")
    )


# ============================== chunking ===================================


_CHUNK_SQL = """
    WITH t AS (
      SELECT doc_id, {tokens} AS tk FROM documents
    ),
    n AS (
      SELECT doc_id, tk,
             CAST(ceil(greatest(len(tk) - {overlap}, 1) / {stride}.0) AS INT) AS n_chunks
      FROM t
    )
    SELECT doc_id, CAST(r.range AS INT) AS chunk_index,
           array_to_string(list_slice(tk, r.range * {stride} + 1,
                                      r.range * {stride} + {size}), ' ') AS chunk_text,
           CAST(len(list_slice(tk, r.range * {stride} + 1,
                          r.range * {stride} + {size})) AS INT) AS chunk_tokens
    FROM n CROSS JOIN range(0, 10000) r
    WHERE r.range < n.n_chunks
"""


@register(
    "chunk_fixed",
    _CHUNK_SQL.format(tokens=_TOKENS_SQL, size=16, overlap=0, stride=16),
    stream_hash=True,
)
def q_chunk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_fixed(
        _docs(spark, sf_dir).select("doc_id", "text"), size=16, overlap=0
    ).select("doc_id", "chunk_index", "chunk_text", "chunk_tokens")


@register(
    "chunk_overlap",
    _CHUNK_SQL.format(tokens=_TOKENS_SQL, size=16, overlap=4, stride=12),
)
def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_fixed(
        _docs(spark, sf_dir).select("doc_id", "text"), size=16, overlap=4
    ).select("doc_id", "chunk_index", "chunk_text", "chunk_tokens")


# C1 sentence-aware packing (SentenceSplitter semantics). The synthetic
# documents have no punctuation, so both engines first inject '. ' after
# deterministic trigger words; the operator under test is the packing.
# Oracle: the greedy fold is inherently sequential, so the DuckDB twin is
# a recursive CTE advancing every doc one item per iteration, emitting a
# closed chunk's text on the step that closes it and the open chunk at
# the final item.
_CS_SIZE, _CS_OVERLAP = 12, 4

_CHUNK_SENT_SQL = f"""
WITH RECURSIVE d AS (
  SELECT doc_id, regexp_replace(text, '(scan|join|batch) ', '\\1. ', 'g') AS txt
  FROM documents
),
s AS (
  SELECT doc_id,
    list_filter(list_transform(
      string_split(regexp_replace(txt, '([.!?])\\s+', '\\1' || chr(2), 'g'), chr(2)),
      x -> trim(x, ' ' || chr(9) || chr(13) || chr(10))), x -> x <> '') AS ss
  FROM d
),
sents AS (
  SELECT doc_id, CAST(r.range AS INT) AS si, ss[CAST(r.range AS INT) + 1] AS sent
  FROM s CROSS JOIN range(0, 10000) r WHERE r.range < len(ss)
),
stok AS (
  SELECT doc_id, si, list_filter(regexp_split_to_array(sent, '\\s+'), x -> x <> '') AS tk
  FROM sents
),
pieces AS (
  SELECT doc_id, si, CAST(w.range AS INT) AS wi,
         array_to_string(list_slice(tk, CAST(w.range AS INT) * {_CS_SIZE} + 1,
                                    CAST(w.range AS INT) * {_CS_SIZE} + {_CS_SIZE}), ' ') AS t,
         CAST(least({_CS_SIZE}, len(tk) - w.range * {_CS_SIZE}) AS INT) AS k
  FROM stok CROSS JOIN range(0, 1000) w
  WHERE w.range < CAST(ceil(len(tk) / CAST({_CS_SIZE} AS DOUBLE)) AS INT)
),
items AS (
  SELECT doc_id, t, k,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY si, wi) AS INT) AS idx
  FROM pieces
),
ni AS (SELECT doc_id, CAST(max(idx) AS INT) AS n FROM items GROUP BY doc_id),
pack AS (
  SELECT i.doc_id, i.idx, CAST(NULL AS VARCHAR) AS closed, 0 AS closed_no,
         [{{'t': i.t, 'k': i.k}}] AS cur, i.k AS cur_toks, 0 AS nclosed
  FROM items i WHERE i.idx = 1
  UNION ALL
  SELECT doc_id, idx,
         CASE WHEN close THEN array_to_string(list_transform(pcur, y -> y.t), ' ') END AS closed,
         nclosed AS closed_no,
         CASE WHEN close THEN list_concat(tail, [{{'t': it, 'k': ik}}])
              ELSE list_append(pcur, {{'t': it, 'k': ik}}) END AS cur,
         CASE WHEN close THEN CAST(coalesce(list_sum(list_transform(tail, y -> y.k)), 0) + ik AS INT)
              ELSE cur_toks + ik END AS cur_toks,
         nclosed + CASE WHEN close THEN 1 ELSE 0 END AS nclosed
  FROM (
    SELECT p.doc_id, i.idx, i.t AS it, i.k AS ik, p.cur AS pcur, p.cur_toks, p.nclosed,
           (len(p.cur) > 0 AND p.cur_toks + i.k > {_CS_SIZE}) AS close,
           CASE WHEN {_CS_OVERLAP} > 0 THEN
             list_filter(p.cur, (y, j) ->
               coalesce(list_sum(list_transform(p.cur[j:], z -> z.k)), 0) <= {_CS_OVERLAP})
           ELSE CAST([] AS STRUCT(t VARCHAR, k INTEGER)[]) END AS tail
    FROM pack p JOIN items i ON i.doc_id = p.doc_id AND i.idx = p.idx + 1
  )
),
out AS (
  SELECT doc_id, closed_no AS chunk_index, closed AS chunk_text
  FROM pack WHERE closed IS NOT NULL
  UNION ALL
  SELECT p.doc_id, p.nclosed AS chunk_index,
         array_to_string(list_transform(p.cur, y -> y.t), ' ') AS chunk_text
  FROM pack p JOIN ni ON ni.doc_id = p.doc_id AND p.idx = ni.n
  WHERE len(p.cur) > 0
)
SELECT doc_id, chunk_index, chunk_text,
       CAST(len(list_filter(regexp_split_to_array(chunk_text, '\\s+'), x -> x <> '')) AS INT) AS chunk_tokens
FROM out
"""


@register("chunk_sentences", _CHUNK_SENT_SQL, stream_hash=True)
def q_chunk_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _fan(_docs(spark, sf_dir)).select(
        "doc_id",
        F.regexp_replace("text", r"(scan|join|batch) ", "$1. ").alias("text"),
    )
    return chunk_sentences(d, size=_CS_SIZE, overlap=_CS_OVERLAP).select(
        "doc_id", "chunk_index", "chunk_text", "chunk_tokens"
    )


@register(
    "markdown_split",
    # C2 on synthesized markdown: one row per heading section, with title.
    f"""
    WITH d AS (SELECT doc_id, {_md_doc_sql()} AS md FROM documents),
    s AS (
      SELECT doc_id,
             list_filter(list_transform(
               regexp_split_to_array(regexp_replace(md, '(?m)^(#{{1,6}} )', chr(1) || '\\1', 'g'), chr(1)),
               x -> trim(x, ' ' || chr(9) || chr(13) || chr(10))), x -> x <> '') AS secs
      FROM d
    )
    SELECT doc_id, CAST(r.range AS INT) AS section_index,
           secs[CAST(r.range AS INT) + 1] AS section_text,
           regexp_replace(regexp_extract(secs[CAST(r.range AS INT) + 1], '^(#{{1,6}} [^\\n]*)', 1), '^#{{1,6}} ', '')
             AS section_title
    FROM s CROSS JOIN range(0, 10000) r WHERE r.range < len(secs)
    """,
    stream_hash=True,
)
def q_markdown_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _fan: markdown synth + fence-aware split (r11: 0.93 -> 0.79 s)
    d = _fan(_docs(spark, sf_dir)).select("doc_id", _md_doc_expr().alias("text"))
    return split_markdown(d).select(
        "doc_id",
        "section_index",
        "section_text",
        section_title("section_text").alias("section_title"),
    )


# C1 REAL-PARITY chunker: the llama-index SentenceSplitter port
# (operators/llama_chunking.py, golden-tested against hand-executed
# llama-index-core 0.12.x semantics). Oracle: same recursive-CTE greedy
# fold as chunk_sentences, but with the real library's item construction —
# sentence SPANS retain trailing whitespace (Punkt-span extension),
# over-budget spans refine to keep-separator word fragments (leading
# space, possibly zero tokens), chunks join with '' and strip. On this
# corpus the regex-then-separator refinement chain provably equals one
# keep-sep space split of the span (single internal spaces, sentence-final
# '.' only), which is what `pieces` builds.
_CL_SIZE, _CL_OVERLAP = 14, 4
_TRIM_WS = "' ' || chr(9) || chr(13) || chr(10)"

_CHUNK_LLAMA_SQL = f"""
WITH RECURSIVE d AS (
  SELECT doc_id, regexp_replace(text, '(scan|join|batch) ', '\\1. ', 'g') AS txt
  FROM documents
),
s AS (
  SELECT doc_id,
    list_filter(
      string_split(regexp_replace(txt, '([.!?])(\\s+)', '\\1\\2' || chr(2), 'g'), chr(2)),
      x -> x <> '') AS ss
  FROM d
),
spans AS (
  SELECT doc_id, CAST(r.range AS INT) AS si, ss[CAST(r.range AS INT) + 1] AS span
  FROM s CROSS JOIN range(0, 10000) r WHERE r.range < len(ss)
),
sized AS (
  SELECT doc_id, si, span,
         CAST(len(list_filter(regexp_split_to_array(span, '\\s+'), x -> x <> '')) AS INT) AS ntok
  FROM spans
),
pieces AS (
  SELECT doc_id, si, 0 AS wi, span AS t, ntok AS k FROM sized WHERE ntok <= {_CL_SIZE}
  UNION ALL
  SELECT doc_id, si, wi, t,
         CAST(len(list_filter(regexp_split_to_array(t, '\\s+'), x -> x <> '')) AS INT) AS k
  FROM (
    SELECT doc_id, si, CAST(w.range AS INT) AS wi,
           CASE WHEN w.range = 0 THEN parts[1]
                ELSE ' ' || parts[CAST(w.range AS INT) + 1] END AS t
    FROM (SELECT doc_id, si, string_split(span, ' ') AS parts
          FROM sized WHERE ntok > {_CL_SIZE}) pp
    CROSS JOIN range(0, 10000) w
    WHERE w.range < len(parts)
  ) q WHERE t <> ''
),
items AS (
  SELECT doc_id, t, k,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY si, wi) AS INT) AS idx
  FROM pieces
),
ni AS (SELECT doc_id, CAST(max(idx) AS INT) AS n FROM items GROUP BY doc_id),
pack AS (
  SELECT i.doc_id, i.idx, CAST(NULL AS VARCHAR) AS closed, 0 AS closed_no,
         [{{'t': i.t, 'k': i.k}}] AS cur, i.k AS cur_toks, 0 AS nclosed
  FROM items i WHERE i.idx = 1
  UNION ALL
  SELECT doc_id, idx,
         CASE WHEN close THEN array_to_string(list_transform(pcur, y -> y.t), '') END AS closed,
         nclosed AS closed_no,
         CASE WHEN close THEN list_concat(tail, [{{'t': it, 'k': ik}}])
              ELSE list_append(pcur, {{'t': it, 'k': ik}}) END AS cur,
         CASE WHEN close THEN CAST(coalesce(list_sum(list_transform(tail, y -> y.k)), 0) + ik AS INT)
              ELSE cur_toks + ik END AS cur_toks,
         nclosed + CASE WHEN close THEN 1 ELSE 0 END AS nclosed
  FROM (
    SELECT p.doc_id, i.idx, i.t AS it, i.k AS ik, p.cur AS pcur, p.cur_toks, p.nclosed,
           (len(p.cur) > 0 AND p.cur_toks + i.k > {_CL_SIZE}) AS close,
           CASE WHEN {_CL_OVERLAP} > 0 THEN
             list_filter(p.cur, (y, j) ->
               coalesce(list_sum(list_transform(p.cur[j:], z -> z.k)), 0) <= {_CL_OVERLAP})
           ELSE CAST([] AS STRUCT(t VARCHAR, k INTEGER)[]) END AS tail
    FROM pack p JOIN items i ON i.doc_id = p.doc_id AND i.idx = p.idx + 1
  )
),
out AS (
  SELECT doc_id, closed_no AS chunk_index, trim(closed, {_TRIM_WS}) AS chunk_text
  FROM pack WHERE closed IS NOT NULL
  UNION ALL
  SELECT p.doc_id, p.nclosed AS chunk_index,
         trim(array_to_string(list_transform(p.cur, y -> y.t), ''), {_TRIM_WS}) AS chunk_text
  FROM pack p JOIN ni ON ni.doc_id = p.doc_id AND p.idx = ni.n
  WHERE len(p.cur) > 0
)
SELECT doc_id, CAST(chunk_index AS INT) AS chunk_index, chunk_text
FROM out WHERE chunk_text <> ''
"""


@register("chunk_llama", _CHUNK_LLAMA_SQL, stream_hash=True)
def q_chunk_llama(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.llama_chunking import chunk_llama

    d = _fan(_docs(spark, sf_dir)).select(
        "doc_id",
        F.regexp_replace("text", r"(scan|join|batch) ", "$1. ").alias("text"),
    )
    return chunk_llama(
        d, chunk_size=_CL_SIZE, chunk_overlap=_CL_OVERLAP
    ).select("doc_id", "chunk_index", "chunk_text")


# C2 REAL-PARITY markdown parser: MarkdownNodeParser port with ancestor
# header_path metadata. Oracle is constructive — the synthesized markdown
# has a known section layout, so the expected (section, path) rows are
# built directly from the token array.
_MD_LLAMA_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents
),
n AS (
  SELECT doc_id, tk, CAST(ceil(greatest(len(tk), 1) / 40.0) AS INT) AS nsec FROM t
)
SELECT doc_id, CAST(r.range AS INT) AS section_index,
       CASE WHEN r.range = 0 THEN '# Doc ' || doc_id
            ELSE trim('## Section ' || (r.range - 1) || chr(10) ||
                 array_to_string(list_slice(tk, CAST((r.range - 1) * 40 + 1 AS INT),
                                            CAST((r.range - 1) * 40 + 40 AS INT)), ' '),
                 {_TRIM_WS}) END AS section_text,
       CASE WHEN r.range = 0 THEN '/' ELSE '/Doc ' || doc_id || '/' END AS header_path
FROM n CROSS JOIN range(0, 10000) r
WHERE r.range < n.nsec + 1
"""


@register("markdown_llama", _MD_LLAMA_SQL, stream_hash=True)
def q_markdown_llama(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.llama_chunking import (
        split_markdown_llama,
    )

    d = _docs(spark, sf_dir).select("doc_id", _md_doc_expr().alias("text"))
    return split_markdown_llama(d).select(
        "doc_id", "section_index", "section_text", "header_path"
    )


# ============================== filters ====================================


# Degenerate corpus covering the discriminating _got_content cases
# (reference tests/test_document_processor_llama_index.py:118-155):
# no-space ATX headers, setext underlines, fenced code with header-looking
# content, '***' (NOT a =/- horizontal rule), setext-consumes-a-line.
_DEGENERATE_SQL = """
CASE CAST(doc_id % 15 AS INT)
  WHEN 0 THEN '# Only Header'
  WHEN 1 THEN '# H1' || chr(10) || '## H2'
  WHEN 2 THEN '```' || chr(10) || '```'
  WHEN 3 THEN '   ' || chr(10) || chr(9)
  WHEN 4 THEN '# H' || chr(10) || '====' || chr(10) || '---'
  WHEN 5 THEN '#Header1' || chr(10) || '#Header2' || chr(10) || '#Header3'
  WHEN 6 THEN 'Title' || chr(10) || '====='
  WHEN 7 THEN '```' || chr(10) || '# git commit' || chr(10) || '```'
  WHEN 8 THEN '***'
  WHEN 9 THEN '  # Header' || chr(10) || 'Another header' || chr(10) || '===='
              || chr(10) || chr(10) || '===='
  WHEN 10 THEN ' # H' || chr(10) || '    # indented code'
  WHEN 11 THEN 'Title' || chr(13) || '===='
  WHEN 12 THEN 'text' || chr(12) || '===='
  WHEN 13 THEN 'A' || chr(13) || chr(10) || '====' || chr(13) || chr(10)
               || '    code'
  ELSE '# Doc ' || doc_id || chr(10) || text
END
""".strip()


def _degenerate_expr():
    i = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 15
    return (
        F.when(m == 0, F.lit("# Only Header"))
        .when(m == 1, F.lit("# H1\n## H2"))
        .when(m == 2, F.lit("```\n```"))
        .when(m == 3, F.lit("   \n\t"))
        .when(m == 4, F.lit("# H\n====\n---"))
        .when(m == 5, F.lit("#Header1\n#Header2\n#Header3"))
        .when(m == 6, F.lit("Title\n====="))
        .when(m == 7, F.lit("```\n# git commit\n```"))
        .when(m == 8, F.lit("***"))
        .when(m == 9, F.lit("  # Header\nAnother header\n====\n\n===="))
        .when(m == 10, F.lit(" # H\n    # indented code"))
        # splitlines-separator cases: \r-only and \f-only separators
        # must split (setext -> no content); a CRLF corpus must both
        # consume the setext pair and still see indented code
        .when(m == 11, F.lit("Title\r===="))
        .when(m == 12, F.lit("text\f===="))
        .when(m == 13, F.lit("A\r\n====\r\n    code"))
        .otherwise(F.concat(F.lit("# Doc "), i, F.lit("\n"), F.col("text")))
    )


# Python's whitespace set for RE2 (re \s == str.strip(), exact
# enumeration; RE2's \s is ASCII-only) — twin of filters._PY_WS
_PY_WS_SQL = (
    r"\s\x{1C}-\x{1F}\x{85}\x{A0}\x{1680}"
    r"\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}"
)


# DuckDB twin of the exact _got_content fold (operators/filters.py).
#
# DuckDB 1.0.0's list_reduce miscomputes under vectorized execution
# (identical rows in one scan return different results), so the oracle
# uses a STATE-FREE reformulation of the same walk, provably equivalent:
#   * fence state at line i = parity of fence-marker lines before i
#     (markers can never be setext-consumed: a consumed line strips to
#     all-=/-, a marker strips to ```…, disjoint);
#   * the setext skip-two only suppresses a fire on the CONSUMED line,
#     and the only fire a consumed line could produce is the 4-indent
#     rule (rule-C fires require NOT-eq-dash, so never consumable);
#   * consumption cannot chain (the trigger line is never eq-dash).
# A line "fires" content iff A (indented code, not consumed) or B (inside
# a fence) or C (plain content with no setext underline next).


def _has_content_sql(x: str) -> str:
    # normalize the full str.splitlines() separator set first, matching
    # the Spark fold's _LINEBREAK_RE (CRLF counts as one separator)
    brk = r"\r\n|[\r\x0B\x0C\x1C\x1D\x1E\x{0085}\x{2028}\x{2029}]"
    lines = (
        f"regexp_split_to_array(regexp_replace({x}, '{brk}', chr(10), 'g'),"
        " chr(10))"
    )

    def strip(v: str) -> str:
        return (
            f"regexp_replace({v}, '^[{_PY_WS_SQL}]+|[{_PY_WS_SQL}]+$', '', 'g')"
        )

    def eq(v: str) -> str:  # stripped line is a nonempty all-=/- string
        return f"regexp_matches({strip(v)}, '^[=-]+$')"

    fm = (  # fence marker: not blank, not 4-indented, strips to ```…
        "(NOT starts_with(l2, '    ') "
        f"AND starts_with({strip('l2')}, '```'))"
    )
    fence_odd = (
        f"(len(list_filter(list_slice({lines}, 1, i - 1), l2 -> {fm})) % 2 = 1)"
    )
    prev, nxt = f"{lines}[i - 1]", f"{lines}[i + 1]"
    # candidate(prev): prev reached the setext lookahead (non-blank,
    # non-indent, non-marker, outside fence, non-header, non-eq-dash)
    cand_prev = (
        f"({prev} IS NOT NULL AND {strip(prev)} <> '' "
        f"AND NOT starts_with({prev}, '    ') "
        f"AND NOT starts_with({strip(prev)}, '```') "
        f"AND NOT {fence_odd} "
        f"AND NOT starts_with({strip(prev)}, '#') "
        f"AND NOT {eq(prev)})"
    )
    fire = f"""(
      {strip('l')} <> '' AND (
        (starts_with(l, '    ') AND NOT ({eq('l')} AND {cand_prev}))
        OR (NOT starts_with(l, '    ') AND NOT starts_with({strip('l')}, '```')
            AND {fence_odd})
        OR (NOT starts_with(l, '    ') AND NOT starts_with({strip('l')}, '```')
            AND NOT {fence_odd}
            AND NOT starts_with({strip('l')}, '#')
            AND NOT {eq('l')}
            AND NOT ({nxt} IS NOT NULL AND {eq(nxt)}))
      ))"""
    return (
        f"(len(list_filter(list_transform({lines}, (l, i) -> {fire}),"
        f" b -> b)) > 0)"
    )


@register(
    "filter_valid_chunks",
    # P2+P3 over synthesized degenerate markdown docs: emit validity flags.
    f"""
    WITH d AS (SELECT doc_id, {_DEGENERATE_SQL} AS t FROM documents)
    SELECT doc_id,
           regexp_matches(t, '[{_PY_WS_SQL}]') AS got_whitespace,
           {_has_content_sql('t')} AS got_content,
           (regexp_matches(t, '[{_PY_WS_SQL}]') AND {_has_content_sql('t')}) AS valid
    FROM d
    """,
)
def q_filter_valid_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _degenerate_expr()
    return _docs(spark, sf_dir).select(
        "doc_id",
        has_whitespace(t).alias("got_whitespace"),
        markdown_has_content(t).alias("got_content"),
        (has_whitespace(t) & markdown_has_content(t)).alias("valid"),
    )


@register(
    "unreachable_drop",
    # P5 'drop' policy with ignore list: synthetic reachability
    # (doc_id % 7 != 0) and titles 'Doc <id>'; ignore Doc 0 and Doc 7.
    """
    SELECT doc_id, 'Doc ' || doc_id AS title, (doc_id % 7 <> 0) AS url_reachable
    FROM documents
    WHERE (doc_id % 7 <> 0) OR ('Doc ' || doc_id) IN ('Doc 0', 'Doc 7')
    """,
)
def q_unreachable_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.filters import apply_unreachable_policy

    df = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("Doc "), F.col("doc_id").cast("string")).alias("title"),
        (F.col("doc_id") % 7 != 0).alias("url_reachable"),
    )
    return apply_unreachable_policy(df, "drop", ignore_list=["Doc 0", "Doc 7"])


# ========================== rollups / counters =============================


@register(
    "chunk_rollup",
    # A1: chunks grouped back to their document.
    f"""
    WITH c AS ({_CHUNK_SQL.format(tokens=_TOKENS_SQL, size=16, overlap=0, stride=16)})
    SELECT doc_id, count(*) AS n_chunks,
           array_to_string(list_sort(list(doc_id || '#' || chunk_index)), '|')
             AS chunk_ids
    FROM c GROUP BY doc_id
    """,
)
def q_chunk_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = chunk_fixed(
        _docs(spark, sf_dir).select("doc_id", "text"), size=16, overlap=0
    ).select(
        F.col("doc_id"),
        F.concat_ws("#", F.col("doc_id").cast("string"), F.col("chunk_index")).alias(
            "chunk_id"
        ),
    )
    return group_chunks_by_document(chunks, doc_col="doc_id").withColumn(
        "chunk_ids", F.array_join("chunk_ids", "|")
    )


@register(
    "corpus_counts",
    # A2: per-(lang, source) doc counts + reachable split.
    """
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_reachable
    FROM documents GROUP BY lang, source
    """,
)
def q_corpus_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _docs(spark, sf_dir).withColumn(
        "url_reachable", F.col("doc_id") % 7 != 0
    )
    return corpus_counts(df, ["lang", "source"])


# ======================= vector search / query surface =====================


_QVEC_SQL = "(SELECT embedding FROM embeddings WHERE vec_id = 0)"


@register(
    "topk_cosine",
    # Q2 (FAISS IndexFlatIP path): exact top-10 by inner product against
    # the vec_id=0 query vector; deterministic tie-break on vec_id.
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, round({dot_sql('embedding', 'qv')}, 6) AS score
    FROM embeddings, q
    ORDER BY score DESC, vec_id ASC LIMIT 10
    """,
)
def q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    qvec = _emb_driver(sf_dir, vec_ids=[0])[0][1]  # guide §5: no collect job
    return top_k(emb.select("vec_id", "embedding"), list(qvec), k=10).select(
        "vec_id", "score"
    )


@register(
    "topk_l2",
    # Q2 (llama-stack IndexFlatL2 path): 10 nearest by euclidean distance.
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, round({euclidean_sql('embedding', 'qv')}, 6) AS score
    FROM embeddings, q
    ORDER BY score ASC, vec_id ASC LIMIT 10
    """,
)
def q_topk_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    qvec = _emb_driver(sf_dir, vec_ids=[0])[0][1]  # guide §5: no collect job
    return top_k(
        emb.select("vec_id", "embedding"), list(qvec), k=10, metric="l2"
    ).select("vec_id", "score")


@register(
    "topk_batch",
    # Q2 batch-of-queries: top-5 per query for query vectors vec_id < 4.
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 4),
    scored AS (
      SELECT q.query_id, e.vec_id, round({dot_sql('e.embedding', 'q.qv')}, 6) AS score
      FROM embeddings e CROSS JOIN q
    ),
    ranked AS (
      SELECT query_id, vec_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, score, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def q_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return top_k_batch(
        emb.select("vec_id", "embedding"), queries, k=5, dim=64
    ).select("query_id", "vec_id", "score", "rank")


@register(
    "score_threshold",
    # P6 all-or-nothing gate (reference query_rag.py:81-94): keep the
    # top-10 result set only if its best score clears the threshold; the
    # 0.99 threshold empties every query except vec_id=0's self-match.
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 4),
    scored AS (
      SELECT q.query_id, e.vec_id, round({dot_sql('e.embedding', 'q.qv')}, 6) AS score
      FROM embeddings e CROSS JOIN q
    ),
    ranked AS (
      SELECT query_id, vec_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
      FROM scored
    ),
    topk AS (SELECT query_id, vec_id, score FROM ranked WHERE rank <= 10)
    SELECT query_id, vec_id, score FROM topk
    QUALIFY max(score) OVER (PARTITION BY query_id) >= 0.99
    """,
)
def q_score_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    hits = top_k_batch(
        emb.select("vec_id", "embedding"), queries, k=10, dim=64
    ).select("query_id", "vec_id", "score")
    return score_threshold_gate(hits, 0.99, partition_cols=["query_id"])


@register(
    "node_lookup",
    # Q3: point lookup by id (reference query_rag.py:37-64).
    f"""SELECT vec_id, label, {_ser_num_array_sql('embedding')} AS embedding
    FROM embeddings WHERE vec_id = 42""",
)
def q_node_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.similarity import node_lookup

    return node_lookup(_emb(spark, sf_dir), 42, id_col="vec_id").select(
        "vec_id", "label", _ser_num_array("embedding").alias("embedding")
    )


@register(
    "pairwise_distance",
    # Q4 (reference scripts/distance.py:17-38): cosine + euclidean between
    # consecutive vector pairs.
    f"""
    WITH a AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
    b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({cosine_sql('a.embedding', 'b.embedding')}, 6) AS cosine,
           round({euclidean_sql('a.embedding', 'b.embedding')}, 6) AS euclidean
    FROM a JOIN b ON b.vec_id = a.vec_id + 1
    """,
)
def q_pairwise_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    a = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("_ea")
    )
    b = emb.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("_eb")
    )
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select(
            "id_a",
            "id_b",
            F.round(cosine("_ea", "_eb", 64), 6).alias("cosine"),
            F.round(euclidean("_ea", "_eb", 64), 6).alias("euclidean"),
        )
    )


@register(
    "mock_embed",
    # E1 twin: deterministic mock embedding, dim 8 (unnormalized so every
    # value is exactly representable: integers / 1e6).
    f"""
    WITH e AS (
      SELECT doc_id,
             list_transform(generate_series(0, 7),
               i -> ({stable_hash64_sql("(text || ':' || i)")} % 1000000) / 1000000.0 * 2.0 - 1.0)
               AS emb
      FROM documents
    )
    SELECT doc_id, {_ser_num_array_sql('emb')} AS embedding FROM e
    """,
)
def q_mock_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id",
        _ser_num_array(mock_embedding_expr("text", dim=8)).alias("embedding"),
    )


# ================================ dedup ====================================


# Duplicate-corpus synthesis: every doc with doc_id % 25 == 0 gets a
# near-duplicate twin (id + 1000000) with the last 2 tokens dropped.
_DUP_CORPUS_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           array_to_string(list_slice({_TOKENS_SQL}, 1, greatest(len({_TOKENS_SQL}) - 2, 1)), ' ') AS text
    FROM documents WHERE doc_id % 25 = 0
"""


def _fan(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin fan-out BEFORE heavy per-row map work (md5 shingling,
    signature folds, big explodes). Single-file inputs otherwise run the
    whole map side in one task; measured at sf0.1: minhash 3.3 s → 1.9 s,
    top_bigrams 4.2 s → 1.0 s. Narrow cheap chains must NOT do this (the
    blanket-ingest note on _docs: the extra shuffle loses 25%); use it
    only where per-row work dominates. At scale, multi-file inputs make
    this a no-op-shaped cost (one extra small shuffle).

    partitions defaults to the session's defaultParallelism (== the
    core count in local[N], total executor cores on a cluster) so the
    fan-out is scale-adaptive rather than a local-mode constant; row
    values are partitioning-independent everywhere this is used, so
    the result hash does not depend on the choice."""
    if partitions is None:
        partitions = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(partitions)


def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fanned out: every consumer (minhash/jaccard/clusters) does
    # md5-shingle hashing per row — the _fan docstring's measured case
    docs = _fan(_docs(spark, sf_dir).select("doc_id", "text"))
    tok = tokens(F.col("text"))
    twins = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.array_join(
                F.slice(tok, 1, F.greatest(F.size(tok) - 2, F.lit(1))), " "
            ).alias("text"),
        )
    )
    return docs.unionAll(twins)


@register(
    "dedup_exact",
    # Exact dedup over corpus + exact copies (doc_id % 10 == 0 duplicated).
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 10 = 0
    )
    SELECT {stable_hash64_sql('text')} AS content_hash,
           min(doc_id) AS keep_id,
           count(*) AS dup_count
    FROM corpus GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = docs.unionAll(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text"
        )
    )
    return dedup.exact_dedup(corpus)


def _hashed_shingles_from_th_sql(n: int = 3) -> str:
    comb = (
        "(coalesce(th[i+1], 0) * 100003 + coalesce(th[i+2], 0) * 200003 "
        "+ coalesce(th[i+3], 0) * 300007) % 2147483647"
    )
    return f"""list_sort(list_distinct(list_transform(
        generate_series(0, greatest(len(th) - {n}, 0)), i -> {comb})))"""


def _minhash_sig_sql(num_hashes: int = 16, hs: str = "sh") -> str:
    # universal-hash family over base shingle hashes (dedup.minhash_coeffs)
    from rag_content_spark.operators.dedup import minhash_coeffs, MINHASH_P

    parts = ", ".join(
        f"list_min(list_transform({hs}, h -> (h * {a} + {b}) % {MINHASH_P}))"
        for a, b in minhash_coeffs(num_hashes)
    )
    return f"[{parts}]"


def _band_hashes_sql(num_hashes: int = 16, bands: int = 4) -> str:
    rows = num_hashes // bands
    parts = ", ".join(
        "md5(" + " || ',' || ".join(f"sig[{b * rows + r + 1}]" for r in range(rows)) + ")"
        for b in range(bands)
    )
    return f"[{parts}]"


@register(
    "minhash_pairs",
    # MinHash-LSH near-dup candidates verified by true Jaccard >= 0.5 over
    # the duplicate-synthesized corpus.
    f"""
    WITH corpus AS ({_DUP_CORPUS_SQL}),
    toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM corpus),
    th AS (SELECT doc_id, list_transform(tk, t -> {stable_hash64_sql('t')} % 2147483647) AS th FROM toks),
    sh AS (SELECT doc_id, {_hashed_shingles_from_th_sql(3)} AS sh FROM th),
    sig AS (SELECT doc_id, sh, {_minhash_sig_sql(16)} AS sig FROM sh),
    bands AS (
      SELECT doc_id, sh, CAST(r.range AS INT) AS band, bh[CAST(r.range AS INT) + 1] AS band_hash
      FROM (SELECT doc_id, sh, {_band_hashes_sql(16, 4)} AS bh FROM sig)
      CROSS JOIN range(0, 4) r
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(sa.sh || sb.sh)), 6) AS jaccard
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.id_a
    JOIN sh sb ON sb.doc_id = c.id_b
    WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(sa.sh || sb.sh)), 6) >= 0.5
    """,
)
def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    return dedup.near_duplicate_pairs(
        corpus, threshold=0.5, max_bucket_size=None  # oracle replays UNCAPPED pairs
    )[0]


# degenerate-bucket corpus: every 50th doc replicated VERBATIM 5 more
# times (ids + k*1000000) — identical text means identical signatures,
# so each replica cluster lands 6 members into every band bucket it
# touches; the bucket cap binds at max_bucket_size=4
_CAP_CORPUS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + k.range * 1000000 AS doc_id, text
    FROM documents CROSS JOIN range(1, 6) k
    WHERE doc_id % 50 = 0
"""


def _cap_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _fan(_docs(spark, sf_dir).select("doc_id", "text"))
    copies = (
        docs.filter(F.col("doc_id") % 50 == 0)
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(5))).alias("_k"),
            "doc_id",
            "text",
        )
        .select(
            (F.col("doc_id") + F.col("_k") * 1000000).alias("doc_id"), "text"
        )
    )
    return docs.unionAll(copies)


_CAP_BANDS_SQL = f"""
    toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM corpus),
    th AS (SELECT doc_id, list_transform(tk, t -> {stable_hash64_sql('t')} % 2147483647) AS th FROM toks),
    sh AS (SELECT doc_id, {{shingles}} AS sh FROM th),
    sig AS (SELECT doc_id, {{sig}} AS sig FROM sh),
    bands AS (
      SELECT doc_id, CAST(r.range AS INT) AS band, bh[CAST(r.range AS INT) + 1] AS band_hash
      FROM (SELECT doc_id, {{bh}} AS bh FROM sig)
      CROSS JOIN range(0, 4) r
    )
"""


def _cap_bands_sql() -> str:
    return _CAP_BANDS_SQL.format(
        shingles=_hashed_shingles_from_th_sql(3),
        sig=_minhash_sig_sql(16),
        bh=_band_hashes_sql(16, 4),
    )


@register(
    "lsh_bucket_cap",
    # The enforced max_bucket_size guarantee (the round-7 scale-killer
    # fix): candidate pairs with every band bucket truncated to a
    # deterministic hash-ordered sample of 4 members — per-bucket cost
    # is O(cap^2) no matter how degenerate the corpus. The oracle
    # replays the truncation with a row_number window over the same
    # (stable_hash64('cap:'||id), id) order.
    f"""
    WITH corpus AS ({_CAP_CORPUS_SQL}),
    {_cap_bands_sql()},
    capped AS (
      SELECT doc_id, band, band_hash FROM bands
      QUALIFY row_number() OVER (
        PARTITION BY band, band_hash
        ORDER BY {stable_hash64_sql("CAST(doc_id AS VARCHAR)", salt="cap")}, doc_id
      ) <= 4
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    """,
)
def q_lsh_bucket_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _cap_corpus(spark, sf_dir)
    return dedup.minhash_lsh_candidates(
        corpus, num_hashes=16, bands=4, max_bucket_size=4
    )


@register(
    "lsh_overflow",
    # The no-silent-caps report for the same capped run: one row of
    # (n_overflow_buckets, max_bucket_size_seen, n_dropped_ids).
    f"""
    WITH corpus AS ({_CAP_CORPUS_SQL}),
    {_cap_bands_sql()},
    sizes AS (
      SELECT band, band_hash, CAST(count(*) AS BIGINT) AS bucket_size
      FROM bands GROUP BY band, band_hash
    ),
    ov AS (SELECT * FROM sizes WHERE bucket_size > 4)
    SELECT CAST(count(*) AS BIGINT) AS n_overflow_buckets,
           CAST(coalesce(max(bucket_size), 0) AS BIGINT) AS max_bucket_size_seen,
           CAST(coalesce(sum(bucket_size - 4), 0) AS BIGINT) AS n_dropped_ids
    FROM ov
    """,
)
def q_lsh_overflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _cap_corpus(spark, sf_dir)
    return dedup.overflow_summary(dedup.minhash_lsh_overflow(corpus, 4))


@register(
    "dedup_precollapse",
    # Exact-duplicate pre-collapse before LSH (the round-7 densification
    # fix): identical texts collapse to one representative, MinHash-LSH +
    # Jaccard-verify run on representatives only, and the verified rep
    # pairs expand back to member-level duplicate pairs (cross-cluster +
    # intra-cluster). Corpus: docs + near twins (3 tokens shortened,
    # %25) + two exact copies (%50).
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             array_to_string(list_slice({_TOKENS_SQL}, 1, greatest(len({_TOKENS_SQL}) - 2, 1)), ' ') AS text
      FROM documents WHERE doc_id % 25 = 0
      UNION ALL
      SELECT doc_id + k.range * 2000000 AS doc_id, text
      FROM documents CROSS JOIN range(1, 3) k
      WHERE doc_id % 50 = 0
    ),
    chash AS (SELECT doc_id, {stable_hash64_sql('text')} AS ch FROM corpus),
    grp AS (SELECT ch, min(doc_id) AS rep_id FROM chash GROUP BY ch),
    members AS (SELECT g.rep_id, h.doc_id FROM chash h JOIN grp g USING (ch)),
    reps AS (
      SELECT c.doc_id, c.text FROM corpus c JOIN grp g ON g.rep_id = c.doc_id
    ),
    toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM reps),
    th AS (SELECT doc_id, list_transform(tk, t -> {stable_hash64_sql('t')} % 2147483647) AS th FROM toks),
    sh AS (SELECT doc_id, {_hashed_shingles_from_th_sql(3)} AS sh FROM th),
    sig AS (SELECT doc_id, {_minhash_sig_sql(16)} AS sig FROM sh),
    bands AS (
      SELECT doc_id, CAST(r.range AS INT) AS band, bh[CAST(r.range AS INT) + 1] AS band_hash
      FROM (SELECT doc_id, {_band_hashes_sql(16, 4)} AS bh FROM sig)
      CROSS JOIN range(0, 4) r
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ),
    ver AS (
      SELECT c.id_a, c.id_b FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b
      WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
                  / len(list_distinct(sa.sh || sb.sh)), 6) >= 0.5
    ),
    crossx AS (
      SELECT least(ma.doc_id, mb.doc_id) AS id_a,
             greatest(ma.doc_id, mb.doc_id) AS id_b
      FROM ver v
      JOIN members ma ON ma.rep_id = v.id_a
      JOIN members mb ON mb.rep_id = v.id_b
    ),
    intra AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b
      FROM members x JOIN members y
        ON x.rep_id = y.rep_id AND x.doc_id < y.doc_id
    )
    SELECT DISTINCT id_a, id_b
    FROM (SELECT * FROM crossx UNION ALL SELECT * FROM intra)
    """,
)
def q_dedup_precollapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _fan(_docs(spark, sf_dir).select("doc_id", "text"))
    tok = tokens(F.col("text"))
    twins = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(
            F.slice(tok, 1, F.greatest(F.size(tok) - 2, F.lit(1))), " "
        ).alias("text"),
    )
    copies = (
        docs.filter(F.col("doc_id") % 50 == 0)
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(2))).alias("_k"),
            "doc_id",
            "text",
        )
        .select(
            (F.col("doc_id") + F.col("_k") * 2000000).alias("doc_id"), "text"
        )
    )
    # materialized once: the pre-collapse pipeline references the corpus
    # from five places (hash groups, rep semi-join, member join, LSH,
    # jaccard shingles) — without this each reference re-derives the
    # union (at 100 TB: five full corpus scans; with it: one)
    corpus = docs.unionAll(twins).unionAll(copies).localCheckpoint(eager=True)
    # ONE materialized hash-group pass instead of separate reps/members
    # checkpoints (r12): reps is referenced by LSH + verify (2x) and
    # members by the expansion (3x) — all five references now read one
    # combined checkpoint, and deriving it joins the corpus checkpoint
    # once (the previous shape ran a rep semi-join AND a member hash
    # join, each rescanning the corpus, and paid two eager jobs).
    combined = dedup.collapse_exact_table(corpus).localCheckpoint(eager=True)
    reps = combined.filter(F.col("is_rep")).select("doc_id", "text")
    members = combined.select("rep_id", "doc_id", "n_copies")
    ver = dedup.near_duplicate_pairs(
        reps, threshold=0.5, max_bucket_size=None  # oracle replays UNCAPPED pairs
    )[0].select("id_a", "id_b")
    return dedup.expand_rep_pairs(ver, members)


@register(
    "simhash",
    # 16-bit SimHash fingerprint per document.
    f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents)
    SELECT doc_id,
           CAST(list_sum(list_transform(generate_series(0, 15), j ->
             CASE WHEN list_sum(list_transform(tk, t ->
                 CASE WHEN ({stable_hash64_sql('t')} & (1::BIGINT << j)) <> 0 THEN 1 ELSE -1 END)) >= 0
               THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS simhash
    FROM toks
    """,
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _fan: 16 per-token md5 folds per row (measured r11: 5.2 -> 1.4 s)
    return _fan(_docs(spark, sf_dir)).select(
        "doc_id", dedup.simhash("text", bits=16).alias("simhash")
    )


@register(
    "ngram_jaccard",
    # Direct n-gram Jaccard between each doc and its doc_id+1 neighbor.
    f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents),
    th AS (SELECT doc_id, list_transform(tk, t -> {stable_hash64_sql('t')} % 2147483647) AS th FROM toks),
    sh AS (SELECT doc_id, {_hashed_shingles_from_th_sql(3)} AS sh FROM th)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _fan(_docs(spark, sf_dir).select("doc_id", "text"))
    pairs = (
        docs.select(F.col("doc_id").alias("id_a"))
        .join(
            docs.select(F.col("doc_id").alias("id_b")),
            F.col("id_b") == F.col("id_a") + 1,
        )
    )
    return dedup.jaccard_pairs(docs, pairs)


@register(
    "embedding_neardup",
    # Embedding near-dup pairs within label buckets (cheap blocking), with
    # exact cosine >= 0.3 verification.
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({dot_sql('a.embedding', 'b.embedding')}, 6) AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round({dot_sql('a.embedding', 'b.embedding')}, 6) >= 0.3
    """,
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11 optimization: the declarative label self-join evaluated the
    # interpreted 64-d fold dot TWICE per candidate pair (Catalyst folds
    # the rounded-cosine predicate into the join condition — see
    # plans/r11/embedding_neardup_before.txt). blocked_exact_dot_pairs
    # crosses rows (not pairs) into Python once per label block and
    # accumulates the dot dimension-at-a-time in the fold's exact IEEE
    # order, so the raw doubles are bit-identical; the final
    # round/threshold stay in Spark, unchanged (guide §4.2/§4.4).
    from rag_content_spark.operators.similarity import blocked_exact_dot_pairs

    pairs = blocked_exact_dot_pairs(_emb(spark, sf_dir), block_col="label")
    return pairs.select(
        "id_a", "id_b", F.round("_dot", 6).alias("cosine")
    ).filter(F.col("cosine") >= 0.3)


@register(
    "faiss_roundtrip",
    # W1 both directions oracle-gated (round-8 verdict task 8): export
    # the first-2000-by-id embeddings to a FAISS IndexFlatIP file
    # (sinks/faiss_io.write_flat_index — the reference's primary
    # artifact, document_processor.py:266-279), import it back with
    # import_flat_index, and fingerprint every vector. float32 survives
    # the file round trip bit-exactly, so the oracle is the SAME
    # fingerprint computed directly on the source table — any byte-level
    # writer/reader defect (endianness, header offset, row order, f32
    # truncation) breaks the value hash.
    f"""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           round({dot_sql('embedding', 'embedding')}, 6) AS norm_sq
    FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 2000)
    """,
)
def q_faiss_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os
    import tempfile

    import numpy as np

    from rag_content_spark.sinks.faiss_io import (
        import_flat_index,
        write_flat_index,
    )

    # deterministic bounded subset (first 2000 by vec_id) so the
    # driver-side artifact write stays O(1) at any corpus scale — a
    # faiss file is ONE binary blob, written from the driver by design
    # (same shape as the reference W1 path)
    rows = (
        _emb(spark, sf_dir)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(2000)
        .collect()
    )
    mat = np.array([r["embedding"] for r in rows], dtype=np.float32)
    tmpd = tempfile.mkdtemp(prefix="sgraft_faiss_rt_")
    path = os.path.join(tmpd, "roundtrip.faiss")
    write_flat_index(mat, path, metric="ip")
    with open(path + ".ids.json", "w") as fh:
        json.dump(
            {str(i): str(r["vec_id"]) for i, r in enumerate(rows)}, fh
        )
    imported = import_flat_index(spark, path, id_col="vec_id")
    return imported.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.size("embedding").alias("dim"),
        F.round(dot("embedding", "embedding"), 6).alias("norm_sq"),
    )


# ============================ text analysis ================================


@register(
    "token_counts",
    # Whitespace + BPE-ish regex token counts.
    f"""
    SELECT doc_id,
           CAST(len({_TOKENS_SQL}) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS re_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id",
        text_analysis.whitespace_token_count("text").alias("ws_tokens"),
        text_analysis.regex_token_count("text").alias("re_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )


@register(
    "quality_score",
    f"""
    WITH toks AS (SELECT doc_id, text, {_TOKENS_SQL} AS tk FROM documents),
    m AS (
      SELECT doc_id, text, tk,
             list_sum(list_transform(tk, t -> CAST(length(t) AS DOUBLE))) / greatest(len(tk), 1) AS mean_len,
             len(list_filter(tk, t -> lower(t) IN ('the','a','of','and','to','in','is','that','it','for')))::DOUBLE
               / greatest(len(tk), 1) AS sw_ratio,
             length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
               / greatest(length(text), 1) AS non_alnum_ratio
      FROM toks
    )
    SELECT doc_id,
           round(CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN 1.0 ELSE 0.0 END * 0.4
                 + CASE WHEN sw_ratio >= 0.05 THEN 1.0 ELSE 0.0 END * 0.4
                 + (1.0 - least(non_alnum_ratio * 5, 1.0)) * 0.2, 6) AS quality
    FROM m
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", text_analysis.quality_score("text").alias("quality")
    )


def _lang_ratio_sql(lang: str) -> str:
    words = ",".join(f"'{w}'" for w in text_analysis.STOPWORDS[lang])
    return (
        f"round(len(list_filter(tk, t -> lower(t) IN ({words})))::DOUBLE"
        f" / greatest(len(tk), 1), 6)"
    )


@register(
    "lang_id",
    # Stopword-ratio language ID; ties break to lexicographically-last
    # lang (struct max over (score, lang) — same semantics both engines).
    f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents),
    s AS (
      SELECT doc_id,
             {" , ".join(f"{_lang_ratio_sql(lang)} AS score_{lang}" for lang in sorted(text_analysis.STOPWORDS))}
      FROM toks
    )
    SELECT doc_id, score_en,
           list_max([
             {{'score': score_de, 'lang': 'de'}},
             {{'score': score_en, 'lang': 'en'}},
             {{'score': score_es, 'lang': 'es'}},
             {{'score': score_fr, 'lang': 'fr'}},
             {{'score': score_zh, 'lang': 'zh'}}
           ]).lang AS detected
    FROM s
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.round(text_analysis.stopword_ratio("text", "en"), 6).alias("score_en"),
        text_analysis.detected_lang("text").alias("detected"),
    )


@register(
    "fingerprint",
    # Bottom-k (k=8) shingle-hash document fingerprint.
    f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents),
    grams AS (
      SELECT doc_id, list_distinct(list_transform(
          generate_series(0, greatest(len(tk) - 3, 0)),
          i -> array_to_string(list_slice(tk, i + 1, i + 3), ' '))) AS g
      FROM toks
    )
    SELECT doc_id,
           {_ser_int_array_sql(
               "list_slice(list_sort(list_transform(g, s -> "
               + stable_hash64_sql('s') + ")), 1, 8)")}
             AS fingerprint
    FROM grams
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _fan: k=8 minhash folds over 3-shingles per row (r11: 3.8 s -> <1 s)
    return _fan(_docs(spark, sf_dir)).select(
        "doc_id",
        _ser_int_array(
            text_analysis.fingerprint("text", shingle_n=3, k=8)
        ).alias("fingerprint"),
    )


# =================== relational extensions (joins/windows) =================
# The reference has no relational surface (SURVEY §2.5); these prove the
# engine's "for free" capabilities on the TPC-H-ish tables. Money sums go
# through DECIMAL so Spark and DuckDB aggregate bit-identically regardless
# of partial-aggregation order.


@register(
    "pricing_summary",
    # TPC-H Q1 shape over lineitem. Money totals are rendered as
    # FIXED-SCALE DECIMAL STRINGS, not doubles: both engines compute the
    # identical exact decimal sum, but their decimal->double conversions
    # can differ by 1 ulp, and at the ~sf1 sweep's 5e10 magnitudes one
    # ulp (7.6e-6) is below the harness's 6-dp rounding — the round-8
    # 10x sweep caught exactly that on sum_disc_price. A fixed-scale
    # string carries the exact total with no float conversion at all.
    """
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_qty,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_base_price,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DECIMAL(38,8)) AS VARCHAR) AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _pq(spark, f"{sf_dir}/lineitem.parquet")
    d = lambda c: F.col(c).cast("decimal(18,4)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(d("l_quantity")).cast("decimal(38,4)").cast("string").alias("sum_qty"),
        F.sum(d("l_extendedprice")).cast("decimal(38,4)").cast("string").alias("sum_base_price"),
        F.sum(d("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)"))
        .cast("decimal(38,8)")
        .cast("string")
        .alias("sum_disc_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "top_customers",
    # 3-way broadcast join + agg + deterministic top-20.
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spent,
           count(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY total_spent DESC, c_custkey ASC LIMIT 20
    """,
)
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _pq(spark, f"{sf_dir}/orders.parquet")
    c = _pq(spark, f"{sf_dir}/customer.parquet")
    n = _pq(spark, f"{sf_dir}/nation.parquet")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_spent"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.desc("total_spent"), F.asc("c_custkey"))
        .limit(20)
    )


def _ts_sec_col(df: DataFrame, col: str) -> F.Column:
    """Timestamp column -> BIGINT epoch seconds, robust to the parquet
    physical type under the session reader policy (TIMESTAMP(NANOS) read
    as bigint nanos, MICROS as TIMESTAMP_NTZ) — same contract as
    ``_events``."""
    t = dict(df.dtypes)[col]
    if t in ("bigint", "long"):
        return F.expr(f"{col} DIV 1000000000")
    return F.expr(f"unix_seconds(CAST({col} AS TIMESTAMP))")


_Q3_CUTOFF = 896659200  # 1998-06-01 UTC


@register(
    "shipping_priority",
    # TPC-H Q3 shape: segment-filtered customer x orders x lineitem with
    # date predicates on both fact tables, revenue agg, deterministic
    # top-10. Date math on integer epoch seconds (timezone/precision
    # proof); money through DECIMAL.
    f"""
    SELECT l.l_orderkey,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS order_ts
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND floor(epoch(o.o_orderdate)) < {_Q3_CUTOFF}
      AND floor(epoch(l.l_shipdate)) > {_Q3_CUTOFF}
    GROUP BY l.l_orderkey, order_ts
    ORDER BY revenue DESC, l.l_orderkey ASC LIMIT 10
    """,
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.session import ensure_reader_confs

    ensure_reader_confs(spark)
    c = _pq(spark, f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _pq(spark, f"{sf_dir}/orders.parquet")
    o = o.withColumn("order_ts", _ts_sec_col(o, "o_orderdate")).filter(
        F.col("order_ts") < _Q3_CUTOFF
    )
    li = _pq(spark, f"{sf_dir}/lineitem.parquet")
    li = li.filter(_ts_sec_col(li, "l_shipdate") > _Q3_CUTOFF)
    return (
        li.join(
            o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
                "o_orderkey", "order_ts"
            ),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "order_ts")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
            )
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "order_ts")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "local_supplier_volume",
    # TPC-H Q5 shape: revenue by nation for one region where supplier
    # and customer share the nation — a 6-way join whose dimension side
    # (region/nation/customer/supplier) broadcasts; only lineitem x
    # orders shuffles.
    """
    SELECT n.n_name,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _pq(spark, f"{sf_dir}/region.parquet").filter(
        F.col("r_name") == "ASIA"
    )
    n = _pq(spark, f"{sf_dir}/nation.parquet")
    c = _pq(spark, f"{sf_dir}/customer.parquet")
    s = _pq(spark, f"{sf_dir}/supplier.parquet")
    o = _pq(spark, f"{sf_dir}/orders.parquet")
    li = _pq(spark, f"{sf_dir}/lineitem.parquet")
    dims = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("c_custkey", "c_nationkey", "n_name")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(dims), o["o_custkey"] == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (s["s_suppkey"] == li["l_suppkey"])
            & (s["s_nationkey"] == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "promo_revenue",
    # TPC-H Q14 shape: promo-type revenue share — part broadcasts into
    # lineitem; two DECIMAL sums, one final float division from the
    # identical expression both engines evaluate.
    """
    SELECT CAST(count(*) AS BIGINT) AS n_items,
           round(100.0
             * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                      * CAST(1 - l.l_discount AS DECIMAL(18,4))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                        * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE),
             6) AS promo_pct
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    """,
)
def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _pq(spark, f"{sf_dir}/lineitem.parquet")
    p = _pq(spark, f"{sf_dir}/part.parquet")
    disc = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(18,4)")
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(disc).cast("double"),
                6,
            ).alias("promo_pct"),
        )
    )


@register(
    "late_shipment_priority",
    # TPC-H Q4 shape: EXISTS -> LEFT SEMI join; orders with any line
    # shipped > 30 days after the order date, counted by priority.
    """
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND floor(epoch(l.l_shipdate)) > floor(epoch(o.o_orderdate)) + 2592000
    )
    GROUP BY o.o_orderpriority
    """,
)
def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _pq(spark, f"{sf_dir}/orders.parquet")
    o = o.withColumn("_ots", _ts_sec_col(o, "o_orderdate"))
    li = _pq(spark, f"{sf_dir}/lineitem.parquet")
    li = li.select("l_orderkey", _ts_sec_col(li, "l_shipdate").alias("_sts"))
    cond = (li["l_orderkey"] == o["o_orderkey"]) & (
        li["_sts"] > o["_ots"] + 2592000
    )
    return (
        o.join(li, cond, "leftsemi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


_DORMANT_CUTOFF = 978307200  # 2001-01-01 UTC


@register(
    "dormant_customers",
    # NOT EXISTS -> LEFT ANTI join: customers with no order on/after the
    # cutoff (the re-engagement-list shape).
    f"""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND floor(epoch(o.o_orderdate)) >= {_DORMANT_CUTOFF}
    )
    """,
)
def q_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _pq(spark, f"{sf_dir}/customer.parquet")
    o = _pq(spark, f"{sf_dir}/orders.parquet")
    recent = o.filter(_ts_sec_col(o, "o_orderdate") >= _DORMANT_CUTOFF).select(
        "o_custkey"
    )
    return c.join(
        recent, c["c_custkey"] == recent["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "readability",
    # Flesch-style readability over punctuation-injected documents:
    # words / sentence-marks / vowel-group syllable proxy — integer
    # counts into one fixed-literal float formula.
    """
    WITH d AS (
      SELECT doc_id, regexp_replace(text, '(scan|join|batch) ', '\\1. ', 'g') AS txt
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(txt, '\\s+'), x -> x <> '')) AS words,
             greatest(len(regexp_extract_all(txt, '[.!?]+')), 1) AS sentences,
             greatest(len(regexp_extract_all(lower(txt), '[aeiou]+')), 1) AS vgroups
      FROM d
    )
    SELECT doc_id, CAST(words AS BIGINT) AS words, CAST(sentences AS BIGINT) AS sentences,
           round(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
                         - 84.6 * (CAST(vgroups AS DOUBLE) / words), 4) AS flesch
    FROM m WHERE words > 0
    """,
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    txt = F.regexp_replace("text", r"(scan|join|batch) ", "$1. ")
    d = _docs(spark, sf_dir).select("doc_id", txt.alias("txt"))
    words = F.size(tokens(F.col("txt")))
    sentences = F.greatest(F.regexp_count("txt", F.lit(r"[.!?]+")), F.lit(1))
    vgroups = F.greatest(
        F.regexp_count(F.lower("txt"), F.lit(r"[aeiou]+")), F.lit(1)
    )
    return (
        d.select(
            "doc_id",
            words.cast("bigint").alias("words"),
            sentences.cast("bigint").alias("sentences"),
            F.round(
                F.lit(206.835)
                - F.lit(1.015) * (words.cast("double") / sentences)
                - F.lit(84.6) * (vgroups.cast("double") / words),
                4,
            ).alias("flesch"),
        )
        .filter(F.col("words") > 0)
    )


@register(
    "events_windowed",
    # Tumbling 1-hour windows per event_type. All time math on integer
    # epoch seconds so results are timezone- and precision-proof (the
    # parquet stores nanosecond timestamps).
    """
    SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    hour = (F.col("ts_sec") - F.col("ts_sec") % 3600).alias("hour_start")
    return ev.groupBy(hour, "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


@register(
    "sessionize",
    # Gap-based sessionization (30-min inactivity) via window functions —
    # the batch shape of streaming session windows. Second-resolution
    # (integer epoch) semantics on both engines.
    """
    WITH e AS (
      SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events
    ),
    marked AS (
      SELECT user_id, event_id, ts_sec,
             CASE WHEN lag(ts_sec) OVER w IS NULL
                       OR ts_sec - lag(ts_sec) OVER w > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, ts_sec,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           count(*) AS n_events,
           min(ts_sec) AS session_start
    FROM sess GROUP BY user_id, session_no
    """,
    stream_hash=True,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("user_id", "event_id", "ts_sec")
    w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
    marked = ev.select(
        "user_id",
        "event_id",
        "ts_sec",
        F.when(
            F.lag("ts_sec").over(w).isNull()
            | (F.col("ts_sec") - F.lag("ts_sec").over(w) > 1800),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sess = marked.withColumn(
        "session_no",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_sec").alias("session_start"),
    )


# =========================== ANN scale paths ===============================


@register(
    "ann_ivf",
    # IVF: centroids = vectors with vec_id % 50 == 0; assign every vector
    # to its nearest centroid (build step), then search only the query
    # centroid's cell (probe step) for the vec_id=7 query.
    f"""
    WITH cent AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id % 50 = 0),
    acell AS (
      -- streaming struct-min argmin (no window sort carrying embedding
      -- payload — see ivf_pq_topk's oracle note)
      SELECT vec_id, min(struct_pack(d := d, c := centroid_id)).c
               AS centroid_id
      FROM (
        SELECT e.vec_id, c.centroid_id,
               round({euclidean_sql('e.embedding', 'c.cv')}, 6) AS d
        FROM embeddings e CROSS JOIN cent c
      ) GROUP BY vec_id
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
    qcell AS (
      SELECT centroid_id FROM (
        SELECT c.centroid_id,
               row_number() OVER (ORDER BY round({euclidean_sql('q.qv', 'c.cv')}, 6) ASC,
                                  c.centroid_id ASC) AS rk
        FROM cent c, q
      ) WHERE rk = 1
    )
    SELECT a.vec_id, round({dot_sql('e.embedding', 'q.qv')}, 6) AS score
    FROM acell a JOIN embeddings e USING (vec_id), q, qcell
    WHERE a.centroid_id = qcell.centroid_id
    ORDER BY score DESC, vec_id ASC LIMIT 10
    """,
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # vectorized assignment (one numpy distance matmul per Arrow batch)
    # — the 100 TB build shape, equality-pinned vs the exact fold in
    # tests; the interpreted crossJoin twin shuffles ~50 GB at a 100x
    # replica where this streams
    from rag_content_spark.operators.similarity import assign_ivf_cells_np

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    # one driver parquet read for centroids AND the query vector
    # (guide §5: was a per-invocation Spark collect job)
    small = _emb_driver(sf_dir, vec_ids=[7], mod=50)
    centroids = [(v, e) for v, e in small if v % 50 == 0]
    assigned = assign_ivf_cells_np(emb, centroids)
    qv = next(e for v, e in small if v == 7)
    import math

    def _l2(a, b):
        return round(
            math.sqrt(sum((float(x) - float(y)) ** 2 for x, y in zip(a, b))), 6
        )

    qcell = min(centroids, key=lambda c: (_l2(qv, c[1]), c[0]))[0]
    cell = assigned.filter(F.col("centroid_id") == qcell)
    return top_k(cell.select("vec_id", "embedding"), qv, k=10).select(
        "vec_id", "score"
    )


# ===================== keyword / hybrid retrieval (M4) =====================


_KW_TERMS = ["spark", "join", "merge"]
_KW_TERMS_SQL = "('spark', 'join', 'merge')"


@register(
    "keyword_search",
    # Keyword mode (reference query_rag.py:190): inverted-index TF-IDF.
    f"""
    WITH post AS (
      SELECT doc_id, u.token, count(*) AS tf
      FROM (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents) t,
           unnest(t.tk) AS u(token)
      WHERE u.token IN {_KW_TERMS_SQL}
      GROUP BY doc_id, u.token
    ),
    idf AS (
      SELECT token, ln((SELECT count(*) FROM documents)::DOUBLE / count(*)) AS idf
      FROM post GROUP BY token
    )
    SELECT p.doc_id, round(sum(p.tf * i.idf), 6) AS kw_score
    FROM post p JOIN idf i USING (token)
    GROUP BY p.doc_id
    """,
)
def q_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.search import keyword_scores

    return keyword_scores(_docs(spark, sf_dir), _KW_TERMS)


def _mock_embed_sql(expr: str, dim: int = 8) -> str:
    return (
        f"list_transform(generate_series(0, {dim - 1}), "
        f"i -> ({stable_hash64_sql(f'({expr} || :: || i)').replace('::', chr(39) + ':' + chr(39))} % 1000000) / 1000000.0 * 2.0 - 1.0)"
    )


@register(
    "hybrid_search",
    # Hybrid mode: 0.5 * max-normalized keyword + 0.5 * mock-embedding dot.
    f"""
    WITH post AS (
      SELECT doc_id, u.token, count(*) AS tf
      FROM (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents) t,
           unnest(t.tk) AS u(token)
      WHERE u.token IN {_KW_TERMS_SQL}
      GROUP BY doc_id, u.token
    ),
    idf AS (
      SELECT token, ln((SELECT count(*) FROM documents)::DOUBLE / count(*)) AS idf
      FROM post GROUP BY token
    ),
    kw AS (
      SELECT p.doc_id, round(sum(p.tf * i.idf), 9) AS kw_score
      FROM post p JOIN idf i USING (token) GROUP BY p.doc_id
    ),
    kmax AS (SELECT max(kw_score) AS m FROM kw),
    qv AS (SELECT {_mock_embed_sql("'spark join merge'")} AS v),
    vec AS (
      SELECT doc_id,
             round({dot_sql(_mock_embed_sql('text'), 'qv.v')}, 9) AS cos_score
      FROM documents, qv
    )
    -- floor-grid snap, not round(): round() on a boundary-straddling
    -- double differs between engines (Spark rounds the shortest decimal
    -- repr, DuckDB the binary value); floor is exact on binary doubles
    SELECT v.doc_id,
           floor((0.5 * coalesce(k.kw_score, 0.0) / kmax.m + 0.5 * v.cos_score)
                 * 1000000 + 0.5) / 1000000.0
             AS hybrid_score
    FROM vec v LEFT JOIN kw k USING (doc_id), kmax
    """,
)
def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.search import hybrid_scores

    docs = _docs(spark, sf_dir).withColumn(
        "embedding", mock_embedding_expr("text", dim=8)
    )
    # guide §5: the constant query string's embedding is computed
    # driver-side by the expression's documented exact twin (bit-identity
    # pinned in tests/test_mock_embedding.py) instead of a one-row
    # createDataFrame+collect Spark job (~0.55 s warm per call).
    qvec = _mock_embed_one("spark join merge", 8, False).tolist()
    return hybrid_scores(docs, _KW_TERMS, list(qvec))


@register(
    "hybrid_rrf",
    # Reciprocal-rank fusion hybrid — the DEFAULT ranker of the
    # llama-stack runtime behind the reference's OGX hybrid mode
    # (query_rag.py:188-202): rrf(d) = sum_r 1/(60 + rank_r(d)) over the
    # keyword and cosine top-200 lists (Cormack et al. 2009, llama-stack
    # impact_factor=60). Integer ranks -> one correctly-rounded division
    # per side -> bit-identical doubles on both engines, no grid snap.
    f"""
    WITH post AS (
      SELECT doc_id, u.token, count(*) AS tf
      FROM (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents) t,
           unnest(t.tk) AS u(token)
      WHERE u.token IN {_KW_TERMS_SQL}
      GROUP BY doc_id, u.token
    ),
    idf AS (
      SELECT token, ln((SELECT count(*) FROM documents)::DOUBLE / count(*)) AS idf
      FROM post GROUP BY token
    ),
    kw AS (
      SELECT p.doc_id, round(sum(p.tf * i.idf), 9) AS kw_score
      FROM post p JOIN idf i USING (token) GROUP BY p.doc_id
    ),
    kw_ranked AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY kw_score DESC, doc_id) AS kw_rank
      FROM kw
      QUALIFY kw_rank <= 200
    ),
    qv AS (SELECT {_mock_embed_sql("'spark join merge'")} AS v),
    vec AS (
      SELECT doc_id,
             round({dot_sql(_mock_embed_sql('text'), 'qv.v')}, 9) AS cos_score
      FROM documents, qv
    ),
    vec_ranked AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY cos_score DESC, doc_id) AS vec_rank
      FROM vec
      QUALIFY vec_rank <= 200
    )
    SELECT doc_id,
           CAST(v.vec_rank AS INTEGER) AS vec_rank,
           CAST(k.kw_rank AS INTEGER) AS kw_rank,
           coalesce(1.0 / (60.0 + v.vec_rank), 0.0)
             + coalesce(1.0 / (60.0 + k.kw_rank), 0.0) AS rrf_score
    FROM vec_ranked v FULL OUTER JOIN kw_ranked k USING (doc_id)
    """,
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.search import hybrid_scores_rrf

    docs = _docs(spark, sf_dir).withColumn(
        "embedding", mock_embedding_expr("text", dim=8)
    )
    # guide §5: the constant query string's embedding is computed
    # driver-side by the expression's documented exact twin (bit-identity
    # pinned in tests/test_mock_embedding.py) instead of a one-row
    # createDataFrame+collect Spark job (~0.55 s warm per call).
    qvec = _mock_embed_one("spark join merge", 8, False).tolist()
    return hybrid_scores_rrf(
        docs, _KW_TERMS, list(qvec), impact_factor=60.0, top_n=200
    )


@register(
    "keyword_fts5",
    # The scorer behind the llama-stack sqlite-vec provider's keyword
    # mode (the runtime the reference's OGX keyword mode delegates to):
    # SQLite FTS5 bm25() — Okapi BM25 k1=1.2 b=0.75 with FTS5's
    # idf = max(ln((N - df + 0.5)/(df + 0.5)), 1e-6). Score equality
    # against a real in-process FTS5 table is pinned in
    # tests/test_search.py::test_bm25_fts5_matches_sqlite.
    f"""
    WITH lens AS (SELECT doc_id, len({_TOKENS_SQL}) AS dl FROM documents),
    stats AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
    post AS (
      SELECT doc_id, u.token, count(*) AS tf
      FROM (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents) t,
           unnest(t.tk) AS u(token)
      WHERE u.token IN {_KW_TERMS_SQL}
      GROUP BY doc_id, u.token
    ),
    scored AS (
      SELECT p.doc_id,
             CASE WHEN ln((CAST(s.n AS DOUBLE) - count(*) OVER (PARTITION BY p.token) + 0.5)
                          / (count(*) OVER (PARTITION BY p.token) + 0.5)) <= 0.0
                  THEN 0.000001
                  ELSE ln((CAST(s.n AS DOUBLE) - count(*) OVER (PARTITION BY p.token) + 0.5)
                          / (count(*) OVER (PARTITION BY p.token) + 0.5)) END
             * (CAST(p.tf AS DOUBLE) * (1.2 + 1))
               / (CAST(p.tf AS DOUBLE) + 1.2 * ((1 - 0.75) + 0.75 * l.dl / s.avgdl))
               AS term_score
      FROM post p JOIN lens l USING (doc_id), stats s
    )
    SELECT doc_id, round(sum(term_score), 6) AS bm25
    FROM scored GROUP BY doc_id
    """,
)
def q_keyword_fts5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.search import bm25_scores

    return bm25_scores(_docs(spark, sf_dir), _KW_TERMS, idf_variant="fts5")


@register(
    "hybrid_rrf_fts5",
    # The COMPLETE OGX hybrid pin (r10 verdict task 5): RRF k=60 fusion
    # (llama-stack RRFReRanker) over a keyword side ranked by SQLite
    # FTS5 BM25 (idf floored at 1e-6 — the actual scorer behind the
    # sqlite-vec provider's keyword retriever) and a cosine side — both
    # top-200 shortlists. `hybrid_rrf` keeps the TF-IDF keyword ranker
    # for comparison; THIS row is the runtime-exact mode.
    f"""
    WITH lens AS (SELECT doc_id, len({_TOKENS_SQL}) AS dl FROM documents),
    stats AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
    post AS (
      SELECT doc_id, u.token, count(*) AS tf
      FROM (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents) t,
           unnest(t.tk) AS u(token)
      WHERE u.token IN {_KW_TERMS_SQL}
      GROUP BY doc_id, u.token
    ),
    scored AS (
      SELECT p.doc_id,
             CASE WHEN ln((CAST(s.n AS DOUBLE) - count(*) OVER (PARTITION BY p.token) + 0.5)
                          / (count(*) OVER (PARTITION BY p.token) + 0.5)) <= 0.0
                  THEN 0.000001
                  ELSE ln((CAST(s.n AS DOUBLE) - count(*) OVER (PARTITION BY p.token) + 0.5)
                          / (count(*) OVER (PARTITION BY p.token) + 0.5)) END
             * (CAST(p.tf AS DOUBLE) * (1.2 + 1))
               / (CAST(p.tf AS DOUBLE) + 1.2 * ((1 - 0.75) + 0.75 * l.dl / s.avgdl))
               AS term_score
      FROM post p JOIN lens l USING (doc_id), stats s
    ),
    kw AS (
      SELECT doc_id, round(sum(term_score), 9) AS kw_score
      FROM scored GROUP BY doc_id
    ),
    kw_ranked AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY kw_score DESC, doc_id) AS kw_rank
      FROM kw
      QUALIFY kw_rank <= 200
    ),
    qv AS (SELECT {_mock_embed_sql("'spark join merge'")} AS v),
    vec AS (
      SELECT doc_id,
             round({dot_sql(_mock_embed_sql('text'), 'qv.v')}, 9) AS cos_score
      FROM documents, qv
    ),
    vec_ranked AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY cos_score DESC, doc_id) AS vec_rank
      FROM vec
      QUALIFY vec_rank <= 200
    )
    SELECT doc_id,
           CAST(v.vec_rank AS INTEGER) AS vec_rank,
           CAST(k.kw_rank AS INTEGER) AS kw_rank,
           coalesce(1.0 / (60.0 + v.vec_rank), 0.0)
             + coalesce(1.0 / (60.0 + k.kw_rank), 0.0) AS rrf_score
    FROM vec_ranked v FULL OUTER JOIN kw_ranked k USING (doc_id)
    """,
)
def q_hybrid_rrf_fts5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.search import hybrid_scores_rrf

    docs = _docs(spark, sf_dir).withColumn(
        "embedding", mock_embedding_expr("text", dim=8)
    )
    # guide §5: the constant query string's embedding is computed
    # driver-side by the expression's documented exact twin (bit-identity
    # pinned in tests/test_mock_embedding.py) instead of a one-row
    # createDataFrame+collect Spark job (~0.55 s warm per call).
    qvec = _mock_embed_one("spark join merge", 8, False).tolist()
    return hybrid_scores_rrf(
        docs, _KW_TERMS, list(qvec), impact_factor=60.0, top_n=200,
        keyword_ranker="fts5",
    )


# ==================== end-to-end build pipeline (M0) =======================


_WS_TRIM = "' ' || chr(9) || chr(13) || chr(10)"


@register(
    "build_pipeline",
    # The full DocumentProcessor.process equivalent (reference
    # document_processor.py:828-901) over a synthesized markdown corpus:
    # frontmatter metadata -> heading split -> P2/P3 validity -> token
    # chunking (size 16) -> mock embedding (dim 8). Every stage mirrored.
    f"""
    WITH src AS (
      SELECT doc_id AS orig_id, source, text,
             'path/to/' || source || '/file_' || doc_id || '.md' AS file_path,
             CASE WHEN doc_id % 3 = 0
                  THEN '---' || chr(10) || 'title: Doc ' || doc_id || chr(10) ||
                       'url: https://docs.example.com/' || doc_id || chr(10) ||
                       '---' || chr(10)
                  ELSE '' END || {_md_doc_sql()} AS md
      FROM documents
    ),
    meta AS (
      SELECT md5(file_path) AS document_id, file_path, md,
             regexp_extract(md, '(?s)^---\\n(.*?)\\n---', 1) AS blk
      FROM src
    ),
    meta2 AS (
      SELECT document_id, md,
             coalesce(nullif(regexp_extract(blk, '(?m)^url:\\s*"?([^"\\n]*?)"?\\s*$', 1), ''),
                      regexp_extract(file_path, '([^/]*)$', 1)) AS docs_url,
             coalesce(nullif(regexp_extract(blk, '(?m)^title:\\s*"?([^"\\n]*?)"?\\s*$', 1), ''),
                      regexp_replace(split_part(md, chr(10), 1), '^#+\\s*', '')) AS title
      FROM meta
    ),
    secs AS (
      SELECT document_id, docs_url, title,
             list_filter(list_transform(
               regexp_split_to_array(
                 regexp_replace(md, '(?m)^(#{{1,6}} )', chr(1) || '\\1', 'g'), chr(1)),
               x -> trim(x, {_WS_TRIM})), x -> x <> '') AS secs
      FROM meta2
    ),
    units AS (
      SELECT document_id, docs_url, title, CAST(r.range AS INT) AS unit_index,
             secs[CAST(r.range AS INT) + 1] AS unit_text
      FROM secs CROSS JOIN range(0, 10000) r WHERE r.range < len(secs)
    ),
    valid AS (
      SELECT * FROM units
      WHERE regexp_matches(unit_text, '[{_PY_WS_SQL}]')
        AND {_has_content_sql('unit_text')}
    ),
    toks AS (
      SELECT document_id, docs_url, title, unit_index,
             list_filter(regexp_split_to_array(unit_text, '\\s+'), t -> t <> '') AS tk
      FROM valid
    ),
    chunks AS (
      SELECT document_id, docs_url, title, unit_index,
             CAST(r.range AS INT) AS chunk_index,
             array_to_string(list_slice(tk, r.range * 16 + 1, r.range * 16 + 16), ' ') AS text
      FROM toks CROSS JOIN range(0, 10000) r
      WHERE r.range < CAST(ceil(greatest(len(tk) - 0, 1) / 16.0) AS INT)
    )
    SELECT document_id || '#' || unit_index || '#' || chunk_index AS chunk_id,
           document_id,
           coalesce(docs_url, title) AS source,
           title, docs_url, true AS url_reachable, text,
           {_ser_num_array_sql(_mock_embed_sql('text'))} AS embedding
    FROM chunks
    WHERE regexp_matches(text, '[{_PY_WS_SQL}]')
    """,
)
def q_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.plans.build_pipeline import BuildConfig, build_chunks

    i = F.col("doc_id").cast("string")
    fm = F.concat(
        F.lit("---\ntitle: Doc "),
        i,
        F.lit("\nurl: https://docs.example.com/"),
        i,
        F.lit("\n---\n"),
    )
    md = F.concat(
        F.when(F.col("doc_id") % 3 == 0, fm).otherwise(F.lit("")), _md_doc_expr()
    )
    file_path = F.concat(
        F.lit("path/to/"), F.col("source"), F.lit("/file_"), i, F.lit(".md")
    )
    # _fan: the whole pipeline (markdown split + regex filters + chunk
    # explode + md5 embed) is narrow, so a single-split input runs it
    # all in one task (measured r11: 3.6 s -> 1.5 s fanned at sf0.1)
    documents = _fan(_docs(spark, sf_dir)).select(
        file_path.alias("file_path"),
        F.lit("markdown").alias("doc_type"),
        F.md5(file_path).alias("doc_id"),
        md.alias("text"),
    )
    cfg = BuildConfig(chunk_size=16, chunk_overlap=0, markdown_aware=True)
    return build_chunks(
        documents, cfg, embedder=lambda c: mock_embedding_expr(c, dim=8)
    ).select(
        "chunk_id",
        "document_id",
        "source",
        "title",
        "docs_url",
        "url_reachable",
        "text",
        _ser_num_array("embedding").alias("embedding"),
    )


@register(
    "json_props",
    # Semi-structured extraction (F8-adjacent: JSON shaping): pull props.k,
    # aggregate per event_type — the open-metadata escape hatch of the
    # chunks schema (MAP/JSON columns) exercised on events.props.
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(count(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) > 50
                           THEN 1 END) AS BIGINT) AS n_high
    FROM events GROUP BY event_type
    """,
)
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(F.when(k > 50, 1)).alias("n_high"),
    )


@register(
    "lsh_buckets",
    # The ANN LSH bucket assignment itself (scale path of Q2): 8-bit sign
    # random projection per vector; bucket sizes per signature.
    f"""
    WITH planes AS (
      SELECT j, list_transform(generate_series(0, 63),
               i -> ({stable_hash64_sql("('srp' || j || ':' || i)")} % 2000001) / 1000000.0 - 1.0) AS r
      FROM (SELECT unnest(generate_series(0, 7)) AS j)
    ),
    sigs AS (
      SELECT e.vec_id,
             CAST(sum(CASE WHEN {dot_sql('e.embedding', 'p.r')} >= 0
                           THEN (1::BIGINT << p.j) ELSE 0 END) AS BIGINT) AS bucket
      FROM embeddings e CROSS JOIN planes p
      GROUP BY e.vec_id
    )
    SELECT bucket, count(*) AS n_vectors,
           min(vec_id) AS min_vec_id
    FROM sigs GROUP BY bucket
    """,
)
def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.similarity import lsh_signature_exact_np

    emb = _emb(spark, sf_dir)
    # bit-exact numpy twin of the 8 x 64 interpreted per-bit folds (r11)
    return (
        lsh_signature_exact_np(
            emb.select("vec_id", "embedding"), bits=8, dim=64, seed="srp"
        )
        .select("vec_id", "bucket")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
        )
    )


@register(
    "distance_score",
    # Q4 full parity (reference scripts/distance.py:17-38): cosine distance,
    # euclidean, length penalty, combined score between consecutive docs'
    # mock embeddings. len_score is the exact rational |na-nb|/(na+nb)*0.1
    # rounded to 6 decimals via INTEGER half-up on both engines —
    # float round(x, 6) flips on exact .5-micro boundaries (sf0.1 hit
    # one: docs 686/687 at 0.0653125, Spark HALF_UP vs DuckDB even).
    f"""
    WITH e AS (
      SELECT doc_id, length(text) AS n, {_mock_embed_sql('text')} AS v FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(1.0 - {cosine_sql('a.v', 'b.v')}, 6) AS cos_dist,
           round({euclidean_sql('a.v', 'b.v')}, 6) AS euc_dist,
           CAST((2 * abs(a.n - b.n) * 100000 + (a.n + b.n)) // (2 * (a.n + b.n)) AS DOUBLE)
             / 1000000 AS len_score,
           round(abs(CAST(a.n AS DOUBLE) - b.n) / (CAST(a.n AS DOUBLE) + b.n) * 0.1
                 + ((1.0 - {cosine_sql('a.v', 'b.v')}) + {euclidean_sql('a.v', 'b.v')}) / 2.0, 6)
             AS final_score
    FROM e a JOIN e b ON b.doc_id = a.doc_id + 1
    """,
)
def q_distance_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.functions.vector import (
        euclidean as euc,
        response_distance_score,
    )

    e = _docs(spark, sf_dir).select(
        "doc_id",
        F.length("text").alias("n"),
        mock_embedding_expr("text", dim=8).alias("v"),
    )
    a = e.select(
        F.col("doc_id").alias("id_a"), F.col("n").alias("_na"), F.col("v").alias("_va")
    )
    b = e.select(
        F.col("doc_id").alias("id_b"), F.col("n").alias("_nb"), F.col("v").alias("_vb")
    )
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select(
            "id_a",
            "id_b",
            F.round(F.lit(1.0) - cosine("_va", "_vb", 8), 6).alias("cos_dist"),
            F.round(euc("_va", "_vb", 8), 6).alias("euc_dist"),
            (
                F.expr(
                    "(2 * abs(_na - _nb) * 100000L + (_na + _nb))"
                    " div (2 * (_na + _nb))"
                ).cast("double")
                / 1_000_000
            ).alias("len_score"),
            F.round(
                response_distance_score("_va", "_vb", "_na", "_nb", dim=8), 6
            ).alias("final_score"),
        )
    )


@register(
    "sales_rollup",
    # Multi-level aggregation (ROLLUP) — the grouping-sets surface the
    # reference lacks entirely (SURVEY §2 'not present').
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _pq(spark, f"{sf_dir}/lineitem.parquet")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


@register(
    "set_ops",
    # Set operations (SURVEY §2.5 'none in the reference'): customers with
    # orders intersect/except high-balance customers.
    """
    WITH with_orders AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
    rich AS (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000)
    SELECT custkey, 'both' AS tag FROM (SELECT custkey FROM with_orders INTERSECT SELECT custkey FROM rich)
    UNION ALL
    SELECT custkey, 'orders_only' AS tag FROM (SELECT custkey FROM with_orders EXCEPT SELECT custkey FROM rich)
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _pq(spark, f"{sf_dir}/orders.parquet")
    customer = _pq(spark, f"{sf_dir}/customer.parquet")
    with_orders = orders.select(F.col("o_custkey").alias("custkey")).distinct()
    rich = customer.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("custkey")
    )
    both = with_orders.intersect(rich).withColumn("tag", F.lit("both"))
    only = with_orders.exceptAll(rich).withColumn("tag", F.lit("orders_only"))
    return both.unionAll(only)


@register(
    "bm25_search",
    # Okapi BM25 (retrieval extension beyond the reference's TF-IDF-less
    # keyword mode): exact-integer corpus stats, window df_t.
    f"""
    WITH lens AS (SELECT doc_id, len({_TOKENS_SQL}) AS dl FROM documents),
    stats AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
    post AS (
      SELECT doc_id, u.token, count(*) AS tf
      FROM (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents) t,
           unnest(t.tk) AS u(token)
      WHERE u.token IN {_KW_TERMS_SQL}
      GROUP BY doc_id, u.token
    ),
    scored AS (
      SELECT p.doc_id,
             ln(1.0 + (CAST(s.n AS DOUBLE) - count(*) OVER (PARTITION BY p.token) + 0.5)
                      / (count(*) OVER (PARTITION BY p.token) + 0.5))
             * (CAST(p.tf AS DOUBLE) * (1.2 + 1))
               / (CAST(p.tf AS DOUBLE) + 1.2 * ((1 - 0.75) + 0.75 * l.dl / s.avgdl))
               AS term_score
      FROM post p JOIN lens l USING (doc_id), stats s
    )
    SELECT doc_id, round(sum(term_score), 6) AS bm25
    FROM scored GROUP BY doc_id
    """,
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.search import bm25_scores

    return bm25_scores(_docs(spark, sf_dir), _KW_TERMS)


@register(
    "doc_keywords",
    # Per-document top-3 TF-IDF keywords (operators/search.doc_top_keywords):
    # smooth idf ln((N+1)/(df+1)), rank ties broken on rounded score then
    # token so ordering is engine-stable at 6 decimals.
    f"""
    WITH tok AS (
      SELECT doc_id, u.token
      FROM (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents) t,
           unnest(t.tk) AS u(token)
    ),
    post AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
    stats AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, token,
             round(CAST(tf AS DOUBLE)
                   * ln((CAST(s.n_docs AS DOUBLE) + 1)
                        / (count(*) OVER (PARTITION BY token) + 1)), 6) AS tfidf6
      FROM post, stats s
    ),
    ranked AS (
      SELECT doc_id, token, tfidf6,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf6 DESC, token) AS kw_rank
      FROM scored
    )
    SELECT doc_id, CAST(kw_rank AS BIGINT) AS kw_rank, token, tfidf6
    FROM ranked WHERE kw_rank <= 3
    """,
)
def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.search import doc_top_keywords

    # _fan: tokenize + per-term TF work ahead of the idf join
    # (r11: 0.93 -> 0.79 s)
    return doc_top_keywords(_fan(_docs(spark, sf_dir)), k=3).withColumn(
        "kw_rank", F.col("kw_rank").cast("bigint")
    )


_PHRASE = "stream table hash"


@register(
    "phrase_search",
    # Positional phrase retrieval (operators/search.phrase_search):
    # exact consecutive-token match via intersection of offset-shifted
    # per-term position sets. The oracle slides a window over the token
    # list (the repo's bounded CROSS JOIN range pattern).
    f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM toks CROSS JOIN range(0, 100000) r
    WHERE r.range <= len(tk) - 3
      AND array_to_string(
            list_slice(tk, CAST(r.range + 1 AS INT), CAST(r.range + 3 AS INT)),
            ' ') = '{_PHRASE}'
    GROUP BY doc_id
    """,
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.search import phrase_search

    return phrase_search(_docs(spark, sf_dir), _PHRASE)


@register(
    "proximity_search",
    # Unordered proximity retrieval (operators/search.proximity_search):
    # windows of width 6 containing BOTH terms; counts distinct window
    # starts per doc. Oracle slides the window directly.
    f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows
    FROM toks CROSS JOIN range(0, 100000) r
    WHERE r.range <= len(tk) - 6
      AND list_contains(list_slice(tk, CAST(r.range + 1 AS INT), CAST(r.range + 6 AS INT)), 'spark')
      AND list_contains(list_slice(tk, CAST(r.range + 1 AS INT), CAST(r.range + 6 AS INT)), 'stream')
    GROUP BY doc_id
    """,
)
def q_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.search import proximity_search

    return proximity_search(
        _docs(spark, sf_dir), ["spark", "stream"], window=6
    )


_TEXT_INDEX_POS_MEMO: dict = {}


def _memo_positional_index(spark: SparkSession, sf_dir: str) -> str:
    """Positional text index built once per sf_dir (separate from the
    tf-only _memo_text_index so the existing lookup artifacts are
    untouched)."""
    import tempfile

    from rag_content_spark.plans.text_index import build_text_index

    d = _TEXT_INDEX_POS_MEMO.get(sf_dir)
    if d is None or not os.path.exists(os.path.join(d, "meta.json")):
        d = tempfile.mkdtemp(prefix="sgraft_text_index_pos_")
        build_text_index(_docs(spark, sf_dir), d, n_buckets=32, positions=True)
        _TEXT_INDEX_POS_MEMO[sf_dir] = d
    return d


@register(
    "phrase_index_lookup",
    # Index-served phrase match (plans/text_index.phrase_query_text_index):
    # bucket-pruned positional postings, same intersection algebra and —
    # by construction — the same oracle as the corpus-scan phrase_search.
    f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM toks CROSS JOIN range(0, 100000) r
    WHERE r.range <= len(tk) - 3
      AND array_to_string(
            list_slice(tk, CAST(r.range + 1 AS INT), CAST(r.range + 3 AS INT)),
            ' ') = '{_PHRASE}'
    GROUP BY doc_id
    """,
)
def q_phrase_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.plans.text_index import phrase_query_text_index

    d = _memo_positional_index(spark, sf_dir)
    return phrase_query_text_index(spark, d, _PHRASE)


@register(
    "proximity_index_lookup",
    # Index-served proximity match (plans/text_index.
    # proximity_query_text_index) — same oracle as proximity_search.
    f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows
    FROM toks CROSS JOIN range(0, 100000) r
    WHERE r.range <= len(tk) - 6
      AND list_contains(list_slice(tk, CAST(r.range + 1 AS INT), CAST(r.range + 6 AS INT)), 'spark')
      AND list_contains(list_slice(tk, CAST(r.range + 1 AS INT), CAST(r.range + 6 AS INT)), 'stream')
    GROUP BY doc_id
    """,
)
def q_proximity_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.plans.text_index import proximity_query_text_index

    d = _memo_positional_index(spark, sf_dir)
    return proximity_query_text_index(spark, d, ["spark", "stream"], window=6)


@register(
    "distinct_counts",
    # Exact distinct aggregation (the count-distinct shuffle shape).
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "price_quantiles",
    # Exact linear-interpolation percentiles (sort-based — deterministic
    # regardless of partial-agg order, unlike float sums).
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
           round(CAST(min(l_extendedprice) AS DOUBLE), 4) AS min_price,
           round(CAST(max(l_extendedprice) AS DOUBLE), 4) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _pq(spark, f"{sf_dir}/lineitem.parquet")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95"),
        F.round(F.min("l_extendedprice"), 4).alias("min_price"),
        F.round(F.max("l_extendedprice"), 4).alias("max_price"),
    )


@register(
    "salted_counts",
    # Skew-resistant two-phase aggregation — same RESULT as a plain
    # groupBy (the oracle), different shuffle shape (salt spreads hot
    # keys; aggregation skew isn't covered by AQE).
    """
    SELECT o_orderpriority,
           count(*) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_salted_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.rollup import salted_aggregate

    orders = _pq(spark, f"{sf_dir}/orders.parquet")
    return salted_aggregate(orders, "o_orderpriority", "o_totalprice")


@register(
    "zscore_lengths",
    # Grouped-map pandas UDF (applyInPandas) vs a pure-SQL window oracle:
    # population z-score of doc length per source.
    # identical integer-sum variance formula on both sides (stddev_pop
    # uses Welford internally — different float path, can drift at 1ulp)
    """
    WITH s AS (
      SELECT source, count(*) AS n,
             CAST(sum(n_chars) AS DOUBLE) AS s1,
             CAST(sum(n_chars * n_chars) AS DOUBLE) AS s2
      FROM documents GROUP BY source
    )
    SELECT d.doc_id, d.source, d.n_chars,
           round(CASE WHEN s2 / n - (s1 / n) * (s1 / n) > 0
                      THEN (d.n_chars - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n))
                      ELSE 0.0 END, 6) AS z
    FROM documents d JOIN s USING (source)
    """,
)
def q_zscore_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.text_analysis import zscore_lengths_grouped

    return zscore_lengths_grouped(_docs(spark, sf_dir), "source")


@register(
    "dedup_apply",
    # Anti-join application of the minhash near-dup pairs: corpus minus
    # every greater-id member of a pair.
    f"""
    WITH corpus AS ({_DUP_CORPUS_SQL}),
    toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM corpus),
    th AS (SELECT doc_id, list_transform(tk, t -> {stable_hash64_sql('t')} % 2147483647) AS th FROM toks),
    sh AS (SELECT doc_id, {_hashed_shingles_from_th_sql(3)} AS sh FROM th),
    sig AS (SELECT doc_id, sh, {_minhash_sig_sql(16)} AS sig FROM sh),
    bands AS (
      SELECT doc_id, sh, CAST(r.range AS INT) AS band, bh[CAST(r.range AS INT) + 1] AS band_hash
      FROM (SELECT doc_id, sh, {_band_hashes_sql(16, 4)} AS bh FROM sig)
      CROSS JOIN range(0, 4) r
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b
      WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(sa.sh || sb.sh)), 6) >= 0.5
    )
    SELECT doc_id FROM corpus
    WHERE doc_id NOT IN (SELECT id_b FROM verified)
    """,
)
def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    pairs = dedup.near_duplicate_pairs(
        corpus, threshold=0.5, max_bucket_size=None  # oracle replays UNCAPPED pairs
    )[0]
    return dedup.apply_dedup(corpus, pairs).select("doc_id")


@register(
    "index_upsert",
    # Incremental index maintenance: new-version rows replace same-id
    # rows, others survive (anti-join + union — the parquet-index upsert).
    """
    WITH existing AS (SELECT doc_id, text, 1 AS version FROM documents WHERE doc_id < 400),
    incoming AS (SELECT doc_id, text || ' v2' AS text, 2 AS version FROM documents
                 WHERE doc_id >= 350 AND doc_id < 450)
    SELECT doc_id, text, version FROM incoming
    UNION ALL
    SELECT e.doc_id, e.text, e.version FROM existing e
    WHERE e.doc_id NOT IN (SELECT doc_id FROM incoming)
    """,
)
def q_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    existing = docs.filter(F.col("doc_id") < 400).select(
        "doc_id", "text", F.lit(1).alias("version")
    )
    incoming = docs.filter((F.col("doc_id") >= 350) & (F.col("doc_id") < 450)).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" v2")).alias("text"),
        F.lit(2).alias("version"),
    )
    survivors = existing.join(incoming.select("doc_id"), "doc_id", "left_anti")
    return incoming.unionAll(survivors)


_QUANT_SQL = """
      SELECT vec_id,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / (list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0), 0) AS TINYINT)) AS q
      FROM embeddings
"""


@register(
    "quantized_topk",
    # Int8-quantized index scan: score = dot(dequantized, query) — the 4x
    # smaller scan path; exact same top-k contract as Q2.
    f"""
    WITH quant AS ({_QUANT_SQL}),
    deq AS (
      SELECT vec_id, list_transform(q, v -> CAST(v AS DOUBLE) * scale) AS dq FROM quant
    ),
    qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0)
    SELECT d.vec_id, round({dot_sql('d.dq', 'qv.v')}, 6) AS score
    FROM deq d, qv
    ORDER BY score DESC, vec_id ASC LIMIT 10
    """,
)
def q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.functions.vector import quantized_query_scores_np

    emb = _emb(spark, sf_dir)
    qvec = _emb_driver(sf_dir, vec_ids=[0])[0][1]  # guide §5: no collect job
    # bit-exact vectorized twin of quantize -> dequantize -> dot
    # (r11: the ~3*dim interpreted transform/fold steps per row move to
    # one numpy pass; round/ordering unchanged in Spark)
    scored = quantized_query_scores_np(emb, list(qvec))
    return (
        scored.select("vec_id", F.round("_qscore", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "sql_api_topk",
    # The raw-SQL entry point (spark.sql over registered views) — proof
    # the engine's surface includes plain ANSI SQL, not just DataFrames.
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1)
    SELECT vec_id, round({dot_sql('embedding', 'qv')}, 6) AS score
    FROM embeddings, q
    ORDER BY score DESC, vec_id ASC LIMIT 5
    """,
)
def q_sql_api_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _emb(spark, sf_dir).createOrReplaceTempView("embeddings_v")
    return spark.sql(
        """
        WITH q AS (SELECT embedding AS qv FROM embeddings_v WHERE vec_id = 1)
        SELECT vec_id,
               round(aggregate(zip_with(embedding, qv,
                     (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                     CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), 6) AS score
        FROM embeddings_v, q
        ORDER BY score DESC, vec_id ASC LIMIT 5
        """
    )


# ===================== training-data quality operators =====================


_PII_DOC_SQL = """
CASE WHEN doc_id % 5 = 0
     THEN text || ' contact: user' || doc_id || '@example.com or +1 555 01' || doc_id || ' at 10.0.0.' || (doc_id % 255)
     ELSE text END
""".strip()


def _pii_doc_expr():
    i = F.col("doc_id").cast("string")
    return F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact: user"),
            i,
            F.lit("@example.com or +1 555 01"),
            i,
            F.lit(" at 10.0.0."),
            (F.col("doc_id") % 255).cast("string"),
        ),
    ).otherwise(F.col("text"))


@register(
    "pii_scrub",
    # PII detection + redaction over synthesized contaminated docs.
    f"""
    WITH d AS (SELECT doc_id, {_PII_DOC_SQL} AS t FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS INT) AS email,
           CAST(len(regexp_extract_all(t, '\\+?[0-9][0-9() -]{{7,}}[0-9]')) AS INT) AS phone,
           CAST(len(regexp_extract_all(t, '[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}')) AS INT) AS ipv4,
           regexp_replace(regexp_replace(regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
               '\\+?[0-9][0-9() -]{{7,}}[0-9]', '[PHONE]', 'g'),
               '[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}', '[IPV4]', 'g') AS scrubbed
    FROM d
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.quality import pii_counts, scrub_pii

    t = _pii_doc_expr()
    counts = pii_counts(t)
    # _fan: several regex passes per row (r11: 0.6 -> 0.25 s)
    return _fan(_docs(spark, sf_dir)).select(
        "doc_id",
        counts["email"].alias("email"),
        counts["phone"].alias("phone"),
        counts["ipv4"].alias("ipv4"),
        scrub_pii(t).alias("scrubbed"),
    )


@register(
    "repetition_stats",
    # Gopher-style repetition measures via exploded bigram histogram.
    f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents),
    base AS (
      SELECT doc_id,
             round(1.0 - len(list_distinct(tk))::DOUBLE / greatest(len(tk), 1), 6)
               AS dup_token_frac
      FROM toks
    ),
    bigrams AS (
      SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS bigram
      FROM toks CROSS JOIN range(1, 100000) r(i) WHERE i < len(tk)
    ),
    hist AS (SELECT doc_id, bigram, count(*) AS cnt FROM bigrams GROUP BY doc_id, bigram),
    top AS (
      SELECT doc_id, round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 6) AS top_bigram_frac
      FROM hist GROUP BY doc_id
    )
    SELECT b.doc_id, b.dup_token_frac, coalesce(t.top_bigram_frac, 0.0) AS top_bigram_frac
    FROM base b LEFT JOIN top t USING (doc_id)
    """,
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.quality import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


@register(
    "dup_ngrams",
    # The rest of the Gopher repetition family (Rae et al. 2021 Table A1):
    # top-3-gram token fraction + duplicated-5-gram token mass, both via
    # exploded gram histograms (the shuffle-even shape).
    f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents),
    base AS (SELECT doc_id, len(tk) AS n_tok FROM toks),
    g3 AS (
      SELECT doc_id, array_to_string(list_slice(tk, CAST(r.range + 1 AS INT), CAST(r.range + 3 AS INT)), ' ') AS gram
      FROM toks CROSS JOIN range(0, 100000) r WHERE r.range < len(tk) - 2
    ),
    h3 AS (SELECT doc_id, gram, count(*) AS cnt FROM g3 GROUP BY doc_id, gram),
    a3 AS (SELECT doc_id, max(cnt) AS top3 FROM h3 GROUP BY doc_id),
    g5 AS (
      SELECT doc_id, array_to_string(list_slice(tk, CAST(r.range + 1 AS INT), CAST(r.range + 5 AS INT)), ' ') AS gram
      FROM toks CROSS JOIN range(0, 100000) r WHERE r.range < len(tk) - 4
    ),
    h5 AS (SELECT doc_id, gram, count(*) AS cnt FROM g5 GROUP BY doc_id, gram),
    a5 AS (SELECT doc_id, sum(cnt) FILTER (WHERE cnt >= 2) AS dupmass5 FROM h5 GROUP BY doc_id)
    SELECT b.doc_id,
           round(coalesce(a3.top3, 0) * 3.0 / greatest(b.n_tok, 1), 6) AS top3_frac,
           round(coalesce(a5.dupmass5, 0) * 5.0 / greatest(b.n_tok, 1), 6) AS dup5_frac
    FROM base b LEFT JOIN a3 USING (doc_id) LEFT JOIN a5 USING (doc_id)
    """,
)
def q_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.quality import dup_ngram_fracs

    # _fan: per-position ngram hashing for two n-gram orders
    # (measured r11: 4.0 s -> see OPTIMIZATION_r11.md)
    return dup_ngram_fracs(_fan(_docs(spark, sf_dir)), top_n=3, dup_n=5)


# Deterministic messy-URL synthesis (same construction both engines; the
# operator under test is the NORMALIZATION, implemented independently as
# Spark parse_url expressions vs DuckDB regexes).
_RAW_URL_SQL = """
CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN 'HTTPS://' || upper(source) || '.Example.COM:443/Docs/' || doc_id || '/?utm_source=feed&b=2&a=1#frag'
  WHEN 1 THEN 'http://' || source || '.example.com:80/docs/' || doc_id
  WHEN 2 THEN 'https://www.' || source || '.example.com/docs/' || doc_id || '/index.html?z=1&y=2'
  ELSE 'http://' || source || '.example.com:8080/api?q=' || doc_id || '&utm_medium=x'
END
"""

_URL_NORM_SQL_BODY = """
    norm AS (
      SELECT doc_id,
             lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS proto,
             regexp_extract(u, '://([^#]*)', 1) AS rest
      FROM raw
    ),
    parts AS (
      SELECT doc_id, proto,
             regexp_extract(rest, '^([^/?]+)', 1) AS authhost,
             regexp_extract(rest, '^[^/?]+(/[^?]*)', 1) AS rawpath,
             regexp_extract(rest, '\\?(.*)$', 1) AS rawq
      FROM norm
    ),
    built AS (
      SELECT doc_id, proto,
             lower(regexp_extract(authhost, '^([^:]+)', 1)) AS host,
             regexp_extract(authhost, ':([0-9]+)$', 1) AS port,
             regexp_replace(rawpath, '/+$', '') AS path,
             list_sort(list_filter(string_split(rawq, '&'),
               p -> p <> '' AND NOT starts_with(lower(p), 'utm_'))) AS params
      FROM parts
    )
"""


def _messy_url() -> F.Column:
    c = (F.col("doc_id") % 4).cast("int")
    sid = F.col("doc_id").cast("string")
    return (
        F.when(
            c == 0,
            F.concat(
                F.lit("HTTPS://"),
                F.upper("source"),
                F.lit(".Example.COM:443/Docs/"),
                sid,
                F.lit("/?utm_source=feed&b=2&a=1#frag"),
            ),
        )
        .when(
            c == 1,
            F.concat(
                F.lit("http://"),
                F.col("source"),
                F.lit(".example.com:80/docs/"),
                sid,
            ),
        )
        .when(
            c == 2,
            F.concat(
                F.lit("https://www."),
                F.col("source"),
                F.lit(".example.com/docs/"),
                sid,
                F.lit("/index.html?z=1&y=2"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://"),
                F.col("source"),
                F.lit(".example.com:8080/api?q="),
                sid,
                F.lit("&utm_medium=x"),
            )
        )
    )


@register(
    "url_normalize",
    # URL canonicalization (functions/url.py contract): lowercase
    # scheme/host, drop fragment + default ports + utm_* params, sort
    # remaining params, strip trailing slashes.
    f"""
    WITH raw AS (SELECT doc_id, {_RAW_URL_SQL} AS u FROM documents),
    {_URL_NORM_SQL_BODY}
    SELECT doc_id,
           proto || '://' || host ||
           CASE WHEN port <> '' AND NOT ((proto = 'http' AND port = '80')
                                         OR (proto = 'https' AND port = '443'))
                THEN ':' || port ELSE '' END ||
           path ||
           CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&')
                ELSE '' END AS url_norm,
           regexp_replace(host, '^www\\.', '') AS domain
    FROM built
    """,
)
def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.functions.url import url_domain, url_normalize

    raw = _docs(spark, sf_dir).select("doc_id", _messy_url().alias("u"))
    return raw.select(
        "doc_id",
        url_normalize("u").alias("url_norm"),
        url_domain("u").alias("domain"),
    )


@register(
    "domain_counts",
    # Per-domain corpus stats with a blocklist — the web-pipeline
    # pre-dedup grouping (drop blocked domains, count docs + chars).
    f"""
    WITH raw AS (SELECT doc_id, n_chars, {_RAW_URL_SQL} AS u FROM documents),
    d AS (
      SELECT n_chars,
             regexp_replace(
               lower(regexp_extract(regexp_extract(u, '://([^#]*)', 1), '^([^:/?]+)', 1)),
               '^www\\.', '') AS domain
      FROM raw
    )
    SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM d WHERE domain <> 'src0.example.com'
    GROUP BY domain
    """,
)
def q_domain_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.functions.url import url_domain

    raw = _docs(spark, sf_dir).select("n_chars", _messy_url().alias("u"))
    return (
        raw.select(url_domain("u").alias("domain"), "n_chars")
        .filter(F.col("domain") != "src0.example.com")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@register(
    "events_asof",
    # As-of join: each purchase picks up the latest prior-or-same click
    # per user (operators/temporal.py asof_join — union + one window,
    # one key shuffle). Oracle: DuckDB's NATIVE ASOF LEFT JOIN.
    """
    WITH e AS (
      SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
             event_type, value
      FROM events
    ),
    p AS (SELECT event_id, user_id, ts_sec FROM e WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts_sec, value FROM e WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts_sec,
           c.ts_sec AS asof_ts,
           round(c.value, 6) AS click_value,
           p.ts_sec - c.ts_sec AS gap
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_sec >= c.ts_sec
    """,
)
def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.temporal import asof_join

    ev = _events(spark, sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_sec"
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts_sec", "value"
    )
    return asof_join(p, c, on="user_id", ts="ts_sec", right_cols=("value",)).select(
        "event_id",
        "user_id",
        "ts_sec",
        "asof_ts",
        F.round("value", 6).alias("click_value"),
        (F.col("ts_sec") - F.col("asof_ts")).alias("gap"),
    )


@register(
    "events_range",
    # Banded range join: clicks within the 30 min before each purchase,
    # aggregated per purchase (operators/temporal.py range_join — bucket
    # banding, equi-shuffle on (user, bucket), never an inequality cross
    # join). Oracle: plain inequality join in DuckDB.
    """
    WITH e AS (
      SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
             event_type, value
      FROM events
    ),
    p AS (SELECT event_id, user_id, ts_sec FROM e WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts_sec, value FROM e WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts_sec,
           CAST(count(*) AS BIGINT) AS n_clicks,
           round(max(c.value), 6) AS max_click
    FROM p JOIN c ON p.user_id = c.user_id
                 AND c.ts_sec BETWEEN p.ts_sec - 1800 AND p.ts_sec
    GROUP BY 1, 2, 3
    """,
)
def q_events_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.temporal import range_join

    ev = _events(spark, sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_sec"
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts_sec", "value"
    )
    pairs = range_join(
        p, c, on="user_id", ts="ts_sec", lo=-1800, hi=0, right_cols=("value",)
    )
    return pairs.groupBy("event_id", "user_id", "ts_sec").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.round(F.max("r_value"), 6).alias("max_click"),
    )


@register(
    "temperature_mix",
    # alpha=0.5 temperature flattening of the language mix
    # (operators/quality.py temperature_rebalance): keep_p uses only
    # integer counts + sqrt + one multiply — bit-deterministic floats.
    f"""
    WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang),
    mx AS (SELECT max(n) AS n_max FROM c),
    r AS (
      SELECT lang, least(1.0, 0.3 * sqrt(CAST(n_max AS DOUBLE) / n)) AS keep_p
      FROM c, mx
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN r USING (lang)
    WHERE ({stable_hash64_sql("CAST(doc_id AS VARCHAR)", salt="tmix")} % 1000000)
          < CAST(floor(keep_p * 1000000) AS BIGINT)
    """,
)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.quality import temperature_rebalance

    return temperature_rebalance(
        _docs(spark, sf_dir).select("doc_id", "lang")
    ).select("doc_id", "lang")


def _hll_const(p: int = 8) -> float:
    m = 1 << p
    return (0.7213 / (1.0 + 1.079 / m)) * m * m * float(1 << (60 - p + 1))


@register(
    "hll_distinct",
    # Deterministic cross-engine HyperLogLog over corpus shingle hashes
    # (operators/sketches.py): integer register table + integer harmonic
    # sum (order-independent), ONE final float division from identical
    # literals; small-range branch uses ln (rounded output absorbs libm
    # ulp differences). Exact distinct alongside for comparison.
    f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents),
    th AS (SELECT doc_id, list_transform(tk, t -> {stable_hash64_sql('t')} % 2147483647) AS th FROM toks),
    sh AS (SELECT doc_id, {_hashed_shingles_from_th_sql(3)} AS sh FROM th),
    -- shingle hashes are 31-bit (mod P); re-hash to the full 60-bit
    -- space the register/rank split assumes
    vals AS (SELECT {stable_hash64_sql("CAST(u.s AS VARCHAR)")} AS h
             FROM sh, unnest(sh.sh) AS u(s)),
    regs AS (
      SELECT h & 255 AS reg,
             max(CASE WHEN (h >> 8) > 0 THEN 53 - length(bin(h >> 8)) ELSE 53 END) AS max_rank
      FROM vals GROUP BY 1
    ),
    agg AS (
      SELECT count(*) AS n_regs,
             CAST(sum(1::BIGINT << (53 - max_rank)) AS BIGINT) AS s_data
      FROM regs
    ),
    ex AS (SELECT CAST(count(DISTINCT h) AS BIGINT) AS exact FROM vals),
    calc AS (
      SELECT CAST(256 - n_regs AS BIGINT) AS n_zero,
             {_hll_const(8)!r} / CAST(s_data + (256 - n_regs) * (1::BIGINT << 53) AS DOUBLE) AS raw
      FROM agg
    )
    SELECT 256 AS m, n_zero,
           round(CASE WHEN n_zero > 0 AND raw <= 640.0
                      THEN 256.0 * ln(256.0 / n_zero) ELSE raw END, 2) AS est,
           exact
    FROM calc, ex
    """,
)
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.dedup import hashed_shingles
    from rag_content_spark.operators.sketches import hll_estimate

    vals = _docs(spark, sf_dir).select(
        F.explode(hashed_shingles("text", n=3)).alias("sh31")
    ).select(stable_hash64(F.col("sh31").cast("string")).alias("h"))
    est = hll_estimate(vals, "h", p=8)
    exact = vals.agg(F.countDistinct("h").cast("bigint").alias("exact"))
    return est.crossJoin(exact)


@register(
    "contamination",
    # Shingle containment against a benchmark subset (doc_id % 100 == 0).
    f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents),
    th AS (SELECT doc_id, list_transform(tk, t -> {stable_hash64_sql('t')} % 2147483647) AS th FROM toks),
    sh AS (SELECT doc_id, {_hashed_shingles_from_th_sql(3)} AS sh FROM th),
    doc_sh AS (SELECT doc_id, u.s FROM sh, unnest(sh.sh) AS u(s)),
    bench AS (SELECT DISTINCT u.s FROM sh, unnest(sh.sh) AS u(s) WHERE sh.doc_id % 100 = 0),
    totals AS (SELECT doc_id, count(*) AS total FROM doc_sh GROUP BY doc_id),
    hits AS (
      SELECT d.doc_id, count(*) AS hits
      FROM doc_sh d JOIN bench b ON d.s = b.s
      GROUP BY d.doc_id
    )
    SELECT t.doc_id,
           round(coalesce(h.hits, 0)::DOUBLE / t.total, 6) AS contamination
    FROM totals t LEFT JOIN hits h USING (doc_id)
    """,
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.quality import contamination

    # _fan: shingle hashing on both sides (r11: 1.3 -> 0.95 s)
    docs = _fan(_docs(spark, sf_dir)).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 100 == 0)
    return contamination(docs, bench)


@register(
    "stratified_sample",
    # Deterministic hash-based stratified sampling by language.
    f"""
    SELECT doc_id, lang FROM documents
    WHERE {stable_hash64_sql("('samp:' || doc_id)")} % 10000 <
          CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500
                    WHEN 'fr' THEN 1000 ELSE 0 END
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.quality import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir).select("doc_id", "lang", F.lit("x").alias("_pad")),
        {"en": 0.5, "de": 0.25, "fr": 0.1},
        stratum_col="lang",
    ).select("doc_id", "lang")


def _trigram_doc_sql() -> str:
    return (
        "list_distinct(list_transform("
        "generate_series(1, greatest(length(lower(substr(text, 1, 200))) - 2, 1)), "
        "i -> lower(substr(text, 1, 200))[i:i+2]))"
    )


def _trigram_score_sql(lang: str) -> str:
    from rag_content_spark.operators.text_analysis import lang_trigram_profile

    profile = ", ".join(f"'{g}'" for g in lang_trigram_profile(lang))
    return (
        f"round(len(list_intersect(tri, [{profile}]))::DOUBLE"
        f" / greatest(len(tri), 1), 6)"
    )


@register(
    "lang_id_trigram",
    # Char-trigram language ID (profile = trigrams of each language's
    # stopword list); argmax with lexicographically-last tie-break.
    f"""
    WITH t AS (SELECT doc_id, {_trigram_doc_sql()} AS tri FROM documents),
    s AS (
      SELECT doc_id,
             {" , ".join(f"{_trigram_score_sql(lang)} AS score_{lang}" for lang in sorted(text_analysis.STOPWORDS))}
      FROM t
    )
    SELECT doc_id, score_en, score_de,
           list_max([
             {{'score': score_de, 'lang': 'de'}},
             {{'score': score_en, 'lang': 'en'}},
             {{'score': score_es, 'lang': 'es'}},
             {{'score': score_fr, 'lang': 'fr'}},
             {{'score': score_zh, 'lang': 'zh'}}
           ]).lang AS detected
    FROM s
    """,
)
def q_lang_id_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.text_analysis import trigram_lang_score

    scores = {
        lang: trigram_lang_score("text", lang)
        for lang in sorted(text_analysis.STOPWORDS)
    }
    best = F.array_max(
        F.array(
            *[
                F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang"))
                for lang in sorted(text_analysis.STOPWORDS)
            ]
        )
    )
    # _fan: N-language trigram profiles per row (r11: 2.4 -> 0.6 s)
    return _fan(_docs(spark, sf_dir)).select(
        "doc_id",
        scores["en"].alias("score_en"),
        scores["de"].alias("score_de"),
        best["lang"].alias("detected"),
    )


@register(
    "conversion_funnel",
    # Ordered-sequence funnel over events: view -> click -> purchase per
    # user (integer epoch-second semantics).
    """
    WITH steps AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(CASE WHEN t_view IS NOT NULL THEN 1 END) AS n_view,
           count(CASE WHEN t_view IS NOT NULL AND t_click > t_view THEN 1 END) AS n_view_click,
           count(CASE WHEN t_view IS NOT NULL AND t_click > t_view AND t_purchase > t_click THEN 1 END) AS n_full_funnel
    FROM steps
    """,
)
def q_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts_sec")
    steps = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts_sec"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts_sec"))).alias(
            "t_click"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts_sec"))
        ).alias("t_purchase"),
    )
    return steps.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n_view"),
        F.count(
            F.when(F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view")), 1)
        ).alias("n_view_click"),
        F.count(
            F.when(
                F.col("t_view").isNotNull()
                & (F.col("t_click") > F.col("t_view"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            )
        ).alias("n_full_funnel"),
    )


@register(
    "label_centroids",
    # Per-label element-wise embedding mean (the k-means re-center shape,
    # SURVEY-extension), ENTIRELY on the 1e-6 fixed-point integer grid:
    # coordinates snap to BIGINT micros (the covariance _x6 grid), the
    # group mean is exact integer round-half-up floor((2*S6+n)/(2n)) in
    # 128-bit, and ONE int->double conversion ends the pipeline. The r11
    # value-magnitude probe killed two successive DOUBLE formulations
    # here: round(sum/n, 6) diverged at a .5e-6 boundary (Spark rounds
    # the shortest repr, DuckDB the binary), and even a floor-snap on
    # CAST(DECIMAL AS DOUBLE)/n diverged 1 ulp BEFORE the snap — DuckDB
    # converts decimals as I * (double)1e-10 (two roundings, and 1e-10
    # is itself inexact) while Spark's BigDecimal cast rounds once.
    # Integer rails have no such channel.
    """
    WITH c AS (
      SELECT label, CAST(r.range AS INT) AS dim,
             CAST(round(CAST(embedding[CAST(r.range AS INT) + 1] AS DOUBLE)
                        * 1000000) AS BIGINT) AS x6
      FROM embeddings CROSS JOIN range(0, 64) r
    ),
    g AS (
      SELECT label, dim, CAST(sum(x6) AS HUGEINT) AS s6,
             CAST(count(*) AS HUGEINT) AS n
      FROM c GROUP BY label, dim
    ),
    q AS (
      -- FLOOR division, spelled out: DuckDB's // TRUNCATES toward zero
      -- on negatives (caught live: spark -9123 vs duck -9122 on a
      -- negative mean), so subtract the non-negative pmod first — the
      -- remaining quotient is exact and truncation == floor
      SELECT label, dim, 2 * s6 + n AS a, 2 * n AS b FROM g
    )
    SELECT label, dim,
           CAST((a - ((a % b) + b) % b) // b AS DOUBLE) / 1000000 AS mean_val
    FROM q
    """,
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    x6 = F.round(F.col("v").cast("double") * F.lit(1_000_000)).cast("bigint")
    dec = "decimal(38,0)"
    g = (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            F.sum(x6.cast(dec)).alias("s6"),
            F.count(F.lit(1)).cast(dec).alias("n"),
        )
    )
    a = F.lit(2).cast(dec) * F.col("s6") + F.col("n")
    b = F.lit(2).cast(dec) * F.col("n")
    # exact floor division in decimal: (a - pmod(a,b)) is divisible, so
    # the decimal divide has no rounding; pmod >= 0 makes it FLOOR (not
    # truncation), matching DuckDB's // on negatives
    mean6 = ((a - F.pmod(a, b)) / b).cast(dec)
    return g.select(
        "label",
        "dim",
        (mean6.cast("double") / F.lit(1e6)).alias("mean_val"),
    )


@register(
    "dedup_clusters",
    # Connected components over the minhash near-dup pairs. The Spark
    # operator is iterative min-label propagation; the oracle reaches the
    # same fixpoint declaratively — component(id) = min(reachable ids)
    # via a recursive transitive-closure CTE over the symmetric edge set
    # (set-semantics UNION terminates it; the pair CTEs are the
    # minhash_pairs oracle verbatim). Returns (id, component).
    f"""
    WITH RECURSIVE corpus AS ({_DUP_CORPUS_SQL}),
    toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM corpus),
    th AS (SELECT doc_id, list_transform(tk, t -> {stable_hash64_sql('t')} % 2147483647) AS th FROM toks),
    sh AS (SELECT doc_id, {_hashed_shingles_from_th_sql(3)} AS sh FROM th),
    sig AS (SELECT doc_id, sh, {_minhash_sig_sql(16)} AS sig FROM sh),
    bands AS (
      SELECT doc_id, sh, CAST(r.range AS INT) AS band, bh[CAST(r.range AS INT) + 1] AS band_hash
      FROM (SELECT doc_id, sh, {_band_hashes_sql(16, 4)} AS bh FROM sig)
      CROSS JOIN range(0, 4) r
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b
      WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(sa.sh || sb.sh)), 6) >= 0.5
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b AS a, id_a AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach AS (
      SELECT id, id AS r FROM nodes
      UNION
      SELECT reach.id, e.b AS r FROM reach JOIN edges e ON e.a = reach.r
    )
    SELECT id, min(r) AS component FROM reach GROUP BY id
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    pairs = dedup.near_duplicate_pairs(
        corpus, threshold=0.5, max_bucket_size=None  # oracle replays UNCAPPED pairs
    )[0].select("id_a", "id_b")
    return dedup.connected_components(pairs)


@register(
    "novelty_scan",
    # Dataset growth curve: per-doc fraction of shingles UNSEEN in any
    # lower-id doc — "how much new content does each batch add", the
    # diminishing-returns signal crawl curation watches. One shuffle on
    # the shingle hash (first-occurrence = groupBy-min, never a window);
    # docs shorter than the shingle width contribute their (single)
    # degenerate shingle like the dedup family does.
    f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents),
    th AS (SELECT doc_id, list_transform(tk, t -> {stable_hash64_sql('t')} % 2147483647) AS th FROM toks),
    sh AS (SELECT doc_id, {_hashed_shingles_from_th_sql(3)} AS sh FROM th),
    ex AS (SELECT doc_id, u.s FROM sh, unnest(sh.sh) AS u(s)),
    first AS (SELECT s, min(doc_id) AS first_doc FROM ex GROUP BY s)
    SELECT e.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           round(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS novelty
    FROM ex e JOIN first f USING (s)
    GROUP BY e.doc_id
    """,
)
def q_novelty_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = (
        _fan(_docs(spark, sf_dir).select("doc_id", "text"))
        .select(
            "doc_id",
            F.explode(dedup.hashed_shingles("text", n=3)).alias("s"),
        )
    )
    first = ex.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        ex.join(first, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            F.round(
                F.sum(novel).cast("double") / F.count(F.lit(1)), 6
            ).alias("novelty"),
        )
    )


_CONTAIN_CORPUS_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id,
           array_to_string(list_slice({_TOKENS_SQL}, 1,
             greatest(len({_TOKENS_SQL}) // 2, 1)), ' ') AS text
    FROM documents WHERE doc_id % 20 = 0
"""


def _contain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _fan(_docs(spark, sf_dir).select("doc_id", "text"))
    tok = tokens(F.col("text"))
    halves = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.array_join(
            F.slice(
                tok,
                1,
                F.greatest((F.size(tok) / 2).cast("int"), F.lit(1)),
            ),
            " ",
        ).alias("text"),
    )
    return docs.unionAll(halves)


@register(
    "containment_dedup",
    # ASYMMETRIC near-dup: shingle containment |AnB|/|A| vs |AnB|/|B| —
    # the quote/subset signal symmetric Jaccard misses (planted
    # half-prefix docs have J ~ 0.5 but containment ~ 1.0). Candidates
    # from the same LSH bands; verification bounded to candidates.
    f"""
    WITH corpus AS ({_CONTAIN_CORPUS_SQL}),
    toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM corpus),
    th AS (SELECT doc_id, list_transform(tk, t -> {stable_hash64_sql('t')} % 2147483647) AS th FROM toks),
    sh AS (SELECT doc_id, {_hashed_shingles_from_th_sql(3)} AS sh FROM th),
    sig AS (SELECT doc_id, sh, {_minhash_sig_sql(16)} AS sig FROM sh),
    bands AS (
      SELECT doc_id, sh, CAST(r.range AS INT) AS band, bh[CAST(r.range AS INT) + 1] AS band_hash
      FROM (SELECT doc_id, sh, {_band_hashes_sql(16, 4)} AS bh FROM sig)
      CROSS JOIN range(0, 4) r
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(sa.sh), 6) AS contain_a,
           round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(sb.sh), 6) AS contain_b
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.id_a
    JOIN sh sb ON sb.doc_id = c.id_b
    WHERE greatest(
            round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(sa.sh), 6),
            round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(sb.sh), 6)
          ) >= 0.9
    """,
)
def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _contain_corpus(spark, sf_dir)
    cand = dedup.minhash_lsh_candidates(
        corpus, num_hashes=16, bands=4, max_bucket_size=None  # oracle replays UNCAPPED pairs
    )
    return dedup.containment_pairs(corpus, cand).filter(
        F.greatest("contain_a", "contain_b") >= 0.9
    )


@register(
    "cluster_representatives",
    # The dedup END step: for every near-dup cluster keep the
    # highest-quality member (tie -> lowest id); singletons represent
    # themselves. Composes the dedup_clusters transitive closure with
    # the quality_score formula — both oracle fragments verbatim.
    f"""
    WITH RECURSIVE corpus AS ({_DUP_CORPUS_SQL}),
    toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM corpus),
    th AS (SELECT doc_id, list_transform(tk, t -> {stable_hash64_sql('t')} % 2147483647) AS th FROM toks),
    sh AS (SELECT doc_id, {_hashed_shingles_from_th_sql(3)} AS sh FROM th),
    sig AS (SELECT doc_id, sh, {_minhash_sig_sql(16)} AS sig FROM sh),
    bands AS (
      SELECT doc_id, sh, CAST(r.range AS INT) AS band, bh[CAST(r.range AS INT) + 1] AS band_hash
      FROM (SELECT doc_id, sh, {_band_hashes_sql(16, 4)} AS bh FROM sig)
      CROSS JOIN range(0, 4) r
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b
      WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(sa.sh || sb.sh)), 6) >= 0.5
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b AS a, id_a AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach AS (
      SELECT id, id AS r FROM nodes
      UNION
      SELECT reach.id, e.b AS r FROM reach JOIN edges e ON e.a = reach.r
    ),
    comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
    qual AS (
      SELECT doc_id AS id,
             round(CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN 1.0 ELSE 0.0 END * 0.4
                   + CASE WHEN sw_ratio >= 0.05 THEN 1.0 ELSE 0.0 END * 0.4
                   + (1.0 - least(non_alnum_ratio * 5, 1.0)) * 0.2, 6) AS quality
      FROM (
        SELECT doc_id,
               list_sum(list_transform(tk, t -> CAST(length(t) AS DOUBLE))) / greatest(len(tk), 1) AS mean_len,
               len(list_filter(tk, t -> lower(t) IN ('the','a','of','and','to','in','is','that','it','for')))::DOUBLE
                 / greatest(len(tk), 1) AS sw_ratio,
               length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
                 / greatest(length(text), 1) AS non_alnum_ratio
        FROM (SELECT doc_id, text, {_TOKENS_SQL} AS tk FROM corpus)
      )
    ),
    member AS (
      SELECT q.id, coalesce(c.component, q.id) AS component, q.quality
      FROM qual q LEFT JOIN comp c USING (id)
    )
    SELECT component, id AS rep_id, n_members, best_quality FROM (
      SELECT component, id, quality,
             row_number() OVER (PARTITION BY component
                                ORDER BY quality DESC, id) AS rk,
             CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS n_members,
             max(quality) OVER (PARTITION BY component) AS best_quality
      FROM member
    ) WHERE rk = 1
    """,
)
def q_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    pairs = dedup.near_duplicate_pairs(
        corpus, threshold=0.5, max_bucket_size=None  # oracle replays UNCAPPED pairs
    )[0].select("id_a", "id_b")
    comp = dedup.connected_components(pairs)
    qual = corpus.select(
        F.col("doc_id").alias("id"),
        text_analysis.quality_score("text").alias("quality"),
    )
    member = qual.join(comp, "id", "left").withColumn(
        "component", F.coalesce("component", F.col("id"))
    )
    # argmax quality, tie -> min id: lexicographic struct max over
    # (quality, -id) — one map-side-combining aggregate, no per-cluster
    # window (cluster count is corpus-scale)
    best = member.groupBy("component").agg(
        F.max(
            F.struct(F.col("quality"), (-F.col("id")).alias("negid"))
        ).alias("b"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
    )
    return best.select(
        "component",
        (-F.col("b.negid")).cast("bigint").alias("rep_id"),
        "n_members",
        (F.round(F.col("b.quality"), 6) + F.lit(0.0)).alias("best_quality"),
    )


# ===================== round-2 curation operators ==========================


_GOPHER_STOP_SQL = "('the','be','to','of','and','that','have','with')"


@register(
    "gopher_quality",
    # Gopher quality-rule booleans (operators/quality.py gopher_rules) —
    # integer aggregates + one double division per rule, identical math.
    f"""
    WITH t AS (SELECT doc_id, text, {_TOKENS_SQL} AS tok FROM documents)
    SELECT doc_id,
      (len(tok) >= 50 AND len(tok) <= 100000) AS word_count_ok,
      (CAST(list_sum(list_transform(tok, x -> length(x))) AS DOUBLE) / len(tok) >= 3.0
       AND CAST(list_sum(list_transform(tok, x -> length(x))) AS DOUBLE) / len(tok) <= 10.0)
        AS mean_word_len_ok,
      (CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) / len(tok) <= 0.1)
        AS symbol_ratio_ok,
      (CAST(len(list_filter(tok, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(tok) >= 0.8)
        AS alpha_ratio_ok,
      (len(list_filter(tok, x -> lower(x) IN {_GOPHER_STOP_SQL})) >= 2) AS stopword_ok,
      ((len(tok) >= 50 AND len(tok) <= 100000)
       AND (CAST(list_sum(list_transform(tok, x -> length(x))) AS DOUBLE) / len(tok) >= 3.0
            AND CAST(list_sum(list_transform(tok, x -> length(x))) AS DOUBLE) / len(tok) <= 10.0)
       AND (CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) / len(tok) <= 0.1)
       AND (CAST(len(list_filter(tok, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(tok) >= 0.8)
       AND (len(list_filter(tok, x -> lower(x) IN {_GOPHER_STOP_SQL})) >= 2)) AS keep
    FROM t
    """,
)
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.quality import gopher_rules

    rules = gopher_rules("text")
    return _docs(spark, sf_dir).select(
        "doc_id", *[c.alias(name) for name, c in rules.items()]
    )


_MIX = {"en": 0.4, "es": 0.2, "fr": 0.2, "de": 0.1, "zh": 0.1}
_MIX_CASE_SQL = (
    "CASE lang "
    + " ".join(f"WHEN '{s}' THEN {r}" for s, r in _MIX.items())
    + " ELSE NULL END"
)


@register(
    "rebalance_mix",
    # Language-mix rebalancing (operators/quality.py rebalance_to_mix):
    # counts -> most-constrained scale -> per-stratum keep rate ->
    # deterministic hash-mod selection.
    f"""
    WITH counts AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n, {_MIX_CASE_SQL} AS share
      FROM documents GROUP BY lang
    ),
    eligible AS (SELECT * FROM counts WHERE share IS NOT NULL),
    scale AS (SELECT min(CAST(n AS DOUBLE) / share) AS s FROM eligible),
    rates AS (
      SELECT lang, share * (SELECT s FROM scale) / n AS rate FROM eligible
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN rates r USING (lang)
    WHERE {stable_hash64_sql("CAST(d.doc_id AS VARCHAR)", salt="mix")} % 10000
          < r.rate * 10000
    """,
)
def q_rebalance_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.quality import rebalance_to_mix

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return rebalance_to_mix(docs, _MIX).select("doc_id", "lang")


@register(
    "paragraph_dedup",
    # Corpus-wide first-occurrence paragraph dedup over the synthesized
    # markdown docs ('## Section j' headers repeat across every doc and
    # get dropped after their first appearance; content lines survive).
    f"""
    WITH m AS (SELECT doc_id, {_md_doc_sql()} AS md FROM documents),
    ls AS (SELECT doc_id, string_split(md, chr(10)) AS parts FROM m),
    p AS (
      SELECT doc_id, CAST(r.range AS INT) AS pos,
             parts[CAST(r.range AS INT) + 1] AS para
      FROM ls CROSS JOIN range(0, 100000) r WHERE r.range < len(parts)
    ),
    nz AS (SELECT * FROM p WHERE para <> ''),
    kept AS (
      SELECT doc_id, pos, para FROM nz
      QUALIFY row_number() OVER (
        PARTITION BY {stable_hash64_sql("para")} ORDER BY doc_id, pos
      ) = 1
    )
    SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS dedup_text
    FROM kept GROUP BY doc_id
    """,
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _fan: markdown synth + per-paragraph md5s (r11: 1.3 -> 0.7 s)
    md = _fan(_docs(spark, sf_dir)).select("doc_id", _md_doc_expr().alias("md"))
    return dedup.dedup_paragraphs(md, id_col="doc_id", text_col="md", sep="\n")


@register(
    "top_bigrams",
    # Corpus top-100 bigrams; total order (freq desc, ngram asc) makes
    # the limit boundary engine-deterministic.
    f"""
    WITH t AS (SELECT {_TOKENS_SQL} AS tok FROM documents),
    g AS (
      SELECT array_to_string(
               list_slice(tok, CAST(r.range AS INT) + 1, CAST(r.range AS INT) + 2), ' ')
             AS ngram
      FROM t CROSS JOIN range(0, 100000) r
      WHERE len(tok) >= 2 AND r.range <= len(tok) - 2
    )
    SELECT ngram, CAST(count(*) AS BIGINT) AS freq
    FROM g GROUP BY ngram
    ORDER BY freq DESC, ngram ASC LIMIT 100
    """,
)
def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.text_analysis import top_ngrams

    # 300x explode amplification: the _fan case (4.2 s -> 1.0 s at sf0.1)
    return top_ngrams(_fan(_docs(spark, sf_dir)), n=2, k=100)


@register(
    "seq_packing",
    # Sequence packing (operators/packing.py): per-shard token cumsum ->
    # contiguous greedy bucket assignment; integer window arithmetic.
    f"""
    WITH t AS (
      SELECT doc_id,
             {stable_hash64_sql("CAST(doc_id AS VARCHAR)", salt="pack")} % 4 AS shard,
             CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, shard, n_tokens,
      CAST(floor(
        (CAST(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         - n_tokens) / 500.0) AS BIGINT) AS seq_bucket
    FROM t
    """,
)
def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), budget=500, shards=4)


# PQ: 64-d embeddings -> m=4 subspaces x k=8 codes; ADC top-10 for a
# deterministic query vector. Codebook + distance table are Python-exact
# literals injected into BOTH engines; the fold order in pq_encode
# matches the SQL '+' chain bit-for-bit.
_PQ_M, _PQ_K, _PQ_SUB = 4, 8, 16
_PQ_QUERY = [((i * 7) % 13 - 6) / 6.0 for i in range(64)]


def _pq_code_cols_sql(cb, emb: str = "embedding") -> str:
    """``expr AS c0, …`` — PQ sub-code SQL (argmin centroid per subspace,
    same '+'-chain summation order as the Spark fold)."""
    sub = len(cb[0][0])

    def dist_expr(s: int, j: int) -> str:
        terms = [
            f"(CAST({emb}[{s * sub + d + 1}] AS DOUBLE) - ({cb[s][j][d]!r}))"
            f" * (CAST({emb}[{s * sub + d + 1}] AS DOUBLE) - ({cb[s][j][d]!r}))"
            for d in range(sub)
        ]
        return " + ".join(terms)

    cols = []
    for s in range(len(cb)):
        dists = ", ".join(dist_expr(s, j) for j in range(len(cb[s])))
        cols.append(
            f"CAST(list_indexof(list_value({dists}), "
            f"list_aggregate(list_value({dists}), 'min')) - 1 AS INT) AS c{s}"
        )
    return ", ".join(cols)


def _pq_adc_sql(table) -> str:
    """ADC score SQL: m lookup-table indexings summed (tables are
    Python-exact literals, same on both engines)."""
    luts = [
        "list_value(" + ", ".join(repr(v) for v in row) + ")" for row in table
    ]
    return " + ".join(f"{luts[s]}[c{s} + 1]" for s in range(len(table)))


def _pq_sql() -> str:
    from rag_content_spark.functions.vector import pq_adc_table, pq_demo_codebook

    cb = pq_demo_codebook(_PQ_M, _PQ_K, _PQ_SUB)
    table = pq_adc_table(_PQ_QUERY, cb)
    codes_list = ", ".join(f"c{s}" for s in range(_PQ_M))
    return f"""
    WITH c AS (SELECT vec_id, {_pq_code_cols_sql(cb)} FROM embeddings)
    SELECT vec_id,
           array_to_string(list_transform([{codes_list}], x -> CAST(x AS VARCHAR)), ',') AS codes,
           round({_pq_adc_sql(table)}, 6) AS adc
    FROM c ORDER BY adc ASC, vec_id ASC LIMIT 10
    """


@register("pq_topk", _pq_sql())
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.functions.vector import (
        pq_adc_scan_exact_np,
        pq_adc_table,
        pq_demo_codebook,
    )

    cb = pq_demo_codebook(_PQ_M, _PQ_K, _PQ_SUB)
    table = pq_adc_table(_PQ_QUERY, cb)
    emb = _emb(spark, sf_dir)
    # r11: vectorized encode+ADC pass (bit-identical to the
    # pq_encode/pq_adc_score folds; guide §4.2)
    return (
        pq_adc_scan_exact_np(emb, cb, table)
        .select(
            "vec_id",
            _ser_int_array("_codes").alias("codes"),
            F.round("_adc", 6).alias("adc"),
        )
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(10)
    )


def _ivf_pq_sql() -> str:
    from rag_content_spark.functions.vector import pq_adc_table, pq_demo_codebook

    cb = pq_demo_codebook(_PQ_M, _PQ_K, _PQ_SUB)
    table = pq_adc_table(_PQ_QUERY, cb)
    qlit = "list_value(" + ", ".join(repr(v) for v in _PQ_QUERY) + ")"
    return f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS cv
      FROM embeddings WHERE vec_id % 50 = 0
    ),
    acell AS (
      -- STREAMING assignment: a window's ORDER BY is evaluated inside
      -- the window operator, so a row_number form materializes the raw
      -- embedding columns through the partition sort — an 800M-row
      -- x ~300B spill at a 100x replica. min over a (distance, id)
      -- struct is the identical argmin (struct comparison is
      -- lexicographic, ties break on centroid_id ASC exactly like the
      -- ORDER BY) and streams through a corpus-sized hash aggregate
      SELECT vec_id, min(struct_pack(d := d, cid := centroid_id)).cid
               AS centroid_id
      FROM (
        SELECT e.vec_id, c.centroid_id,
               round({euclidean_sql('e.embedding', 'c.cv')}, 6) AS d
        FROM embeddings e CROSS JOIN cent c
      ) GROUP BY vec_id
    ),
    qcells AS (
      SELECT centroid_id FROM (
        SELECT c.centroid_id,
               row_number() OVER (ORDER BY round({euclidean_sql(qlit, 'c.cv')}, 6) ASC,
                                  c.centroid_id ASC) AS rk
        FROM cent c
      ) WHERE rk <= 2
    ),
    coded AS (
      SELECT a.vec_id, a.centroid_id, {_pq_code_cols_sql(cb)}
      FROM acell a JOIN embeddings USING (vec_id)
      WHERE a.centroid_id IN (SELECT centroid_id FROM qcells)
    )
    SELECT vec_id, centroid_id, round({_pq_adc_sql(table)}, 6) AS adc
    FROM coded ORDER BY adc ASC, vec_id ASC LIMIT 10
    """


@register("ivf_pq_topk", _ivf_pq_sql())
def q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ combined ANN (FAISS IVFPQ shape): data-derived coarse
    centroids (every 50th vector), demo PQ codebook, literal query —
    probe 2 cells, ADC-score candidates, exact top-10 on the codes.

    Runs the VECTORIZED assignment path (assign_ivf_cells_np: one numpy
    distance matmul per Arrow batch) — the 100 TB build shape. The
    interpreted exact fold stays as the oracle twin, equality-pinned in
    tests/test_curation_ops.py::test_assign_ivf_cells_np_matches_exact
    (measured 96 s -> <2 s at the 10x corpus, BASELINE.md)."""
    from rag_content_spark.functions.vector import pq_demo_codebook
    from rag_content_spark.operators.similarity import ivf_pq_topk

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    centroids = _emb_driver(sf_dir, mod=50)  # guide §5: no collect job
    cb = pq_demo_codebook(_PQ_M, _PQ_K, _PQ_SUB)
    return ivf_pq_topk(
        emb, centroids, cb, _PQ_QUERY, k=10, n_probe=2, vectorized_assign=True
    )


def _pq_rerank_sql() -> str:
    from rag_content_spark.functions.vector import pq_adc_table, pq_demo_codebook

    cb = pq_demo_codebook(_PQ_M, _PQ_K, _PQ_SUB)
    table = pq_adc_table(_PQ_QUERY, cb)
    qlit = "list_value(" + ", ".join(repr(v) for v in _PQ_QUERY) + ")"
    return f"""
    WITH c AS (SELECT vec_id, {_pq_code_cols_sql(cb)} FROM embeddings),
    short AS (
      SELECT vec_id, round({_pq_adc_sql(table)}, 6) AS adc
      FROM c ORDER BY adc ASC, vec_id ASC LIMIT 40
    )
    SELECT s.vec_id, s.adc, round({euclidean_sql('e.embedding', qlit)}, 6) AS exact
    FROM short s JOIN embeddings e ON e.vec_id = s.vec_id
    ORDER BY exact ASC, s.vec_id ASC LIMIT 10
    """


@register("pq_rerank", _pq_rerank_sql())
def q_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN: PQ ADC shortlist (40) -> exact re-rank to top-10
    (FAISS IndexRefineFlat shape; operators/similarity.py pq_rerank_topk
    docstring has the 100 TB scan/shuffle analysis)."""
    from rag_content_spark.functions.vector import pq_demo_codebook
    from rag_content_spark.operators.similarity import pq_rerank_topk

    cb = pq_demo_codebook(_PQ_M, _PQ_K, _PQ_SUB)
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    return pq_rerank_topk(emb, cb, _PQ_QUERY, k=10, shortlist_factor=4)


def _pq_rerank_recall_sql() -> str:
    from rag_content_spark.functions.vector import pq_adc_table, pq_demo_codebook

    cb = pq_demo_codebook(_PQ_M, _PQ_K, _PQ_SUB)
    table = pq_adc_table(_PQ_QUERY, cb)
    qlit = "list_value(" + ", ".join(repr(v) for v in _PQ_QUERY) + ")"
    return f"""
    WITH c AS (SELECT vec_id, {_pq_code_cols_sql(cb)} FROM embeddings),
    short AS (
      SELECT vec_id, round({_pq_adc_sql(table)}, 6) AS adc
      FROM c ORDER BY adc ASC, vec_id ASC LIMIT 40
    ),
    refined AS (
      SELECT s.vec_id FROM short s JOIN embeddings e ON e.vec_id = s.vec_id
      ORDER BY round({euclidean_sql('e.embedding', qlit)}, 6) ASC, s.vec_id ASC LIMIT 10
    ),
    exact AS (
      SELECT vec_id FROM embeddings
      ORDER BY round({euclidean_sql('embedding', qlit)}, 6) ASC, vec_id ASC LIMIT 10
    )
    SELECT 10 AS k,
      CAST((SELECT count(*) FROM refined WHERE vec_id IN (SELECT vec_id FROM exact)) AS BIGINT) AS n_hits,
      round((SELECT count(*) FROM refined WHERE vec_id IN (SELECT vec_id FROM exact)) / 10.0, 6) AS recall
    """


@register("pq_rerank_recall", _pq_rerank_recall_sql())
def q_pq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the ADC-shortlist + exact-refine path vs the exact
    scan — the metric that sizes shortlist_factor (quantization error
    only costs recall through shortlist membership).

    NB: the registered run uses the UNTRAINED demo codebook (the oracle
    must be a static SQL string, so it cannot embed a data-trained one),
    and its low recall is the eval working as intended — quantifying how
    bad an untrained quantizer's shortlists are.
    tests/test_ann.py::test_trained_codebook_improves_rerank_recall shows
    train_pq_codebook lifting the same metric on the same data."""
    from rag_content_spark.functions.vector import pq_demo_codebook
    from rag_content_spark.operators.similarity import pq_rerank_topk

    cb = pq_demo_codebook(_PQ_M, _PQ_K, _PQ_SUB)
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    refined = pq_rerank_topk(
        emb, cb, _PQ_QUERY, k=10, shortlist_factor=4
    ).select("vec_id")
    exact = top_k(emb, _PQ_QUERY, k=10, metric="l2").select("vec_id")
    hits = refined.join(exact, "vec_id")
    return hits.agg(
        F.lit(10).alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
        F.round(F.count(F.lit(1)) / 10.0, 6).alias("recall"),
    )


@register(
    "ann_recall",
    # ANN quality evaluation: recall@10 of the single-probe IVF scan vs
    # the exact brute-force top-10 (same vec_id=7 query as ann_ivf).
    # One row: (k, n_hits, recall).
    f"""
    WITH cent AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id % 50 = 0),
    acell AS (
      -- streaming struct-min argmin (no window sort carrying embedding
      -- payload — see ivf_pq_topk's oracle note)
      SELECT vec_id, min(struct_pack(d := d, c := centroid_id)).c
               AS centroid_id
      FROM (
        SELECT e.vec_id, c.centroid_id,
               round({euclidean_sql('e.embedding', 'c.cv')}, 6) AS d
        FROM embeddings e CROSS JOIN cent c
      ) GROUP BY vec_id
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
    qcell AS (
      SELECT centroid_id FROM (
        SELECT c.centroid_id,
               row_number() OVER (ORDER BY round({euclidean_sql('q.qv', 'c.cv')}, 6) ASC,
                                  c.centroid_id ASC) AS rk
        FROM cent c, q
      ) WHERE rk = 1
    ),
    approx AS (
      SELECT a.vec_id FROM acell a JOIN embeddings e USING (vec_id), q, qcell
      WHERE a.centroid_id = qcell.centroid_id
      ORDER BY round({dot_sql('e.embedding', 'q.qv')}, 6) DESC, a.vec_id ASC LIMIT 10
    ),
    exact AS (
      SELECT e.vec_id FROM embeddings e, q
      ORDER BY round({dot_sql('e.embedding', 'q.qv')}, 6) DESC, e.vec_id ASC LIMIT 10
    )
    SELECT 10 AS k,
           CAST((SELECT count(*) FROM approx WHERE vec_id IN (SELECT vec_id FROM exact)) AS BIGINT) AS n_hits,
           round((SELECT count(*) FROM approx WHERE vec_id IN (SELECT vec_id FROM exact)) / 10.0, 6) AS recall
    """,
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of single-probe IVF vs exact scan — the metric that
    decides n_probe/nlist at scale (recall/latency tradeoff curve)."""
    # vectorized assignment — see q_ann_ivf's note
    from rag_content_spark.operators.similarity import assign_ivf_cells_np

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    # guide §5: one driver parquet read instead of a Spark collect job
    small = _emb_driver(sf_dir, vec_ids=[7], mod=50)
    centroids = [(v, e) for v, e in small if v % 50 == 0]
    qv = next(e for v, e in small if v == 7)
    import math

    def _l2(a, b):
        return round(
            math.sqrt(sum((float(x) - float(y)) ** 2 for x, y in zip(a, b))), 6
        )

    qcell = min(centroids, key=lambda c: (_l2(qv, c[1]), c[0]))[0]
    assigned = assign_ivf_cells_np(emb, centroids)
    approx = top_k(
        assigned.filter(F.col("centroid_id") == qcell).select("vec_id", "embedding"),
        qv,
        k=10,
    ).select("vec_id")
    exact = top_k(emb, qv, k=10).select("vec_id")
    # one lazy plan: the leftsemi intersection aggregates to the metric row
    return approx.join(exact, "vec_id", "leftsemi").agg(
        F.lit(10).alias("k"),
        F.count(F.lit(1)).alias("n_hits"),
        F.round(F.count(F.lit(1)) / 10.0, 6).alias("recall"),
    )


@register(
    "incremental_dedup",
    # Incremental ingest dedup: a synthetic "daily batch" (near-dup twins
    # of corpus docs % 20 == 0 with the last 2 tokens dropped, plus fresh
    # docs % 20 == 10 with reversed token order) deduped AGAINST the
    # existing corpus via the band-table equi-join + Jaccard verify.
    # Near-dups drop; fresh docs survive.
    f"""
    WITH newb AS (
      SELECT doc_id + 3000000 AS doc_id,
             array_to_string(list_slice(tk, 1, greatest(len(tk) - 2, 1)), ' ') AS text
      FROM (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents) WHERE doc_id % 20 = 0
      UNION ALL
      SELECT doc_id + 4000000 AS doc_id, array_to_string(list_reverse(tk), ' ') AS text
      FROM (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents) WHERE doc_id % 20 = 10
    ),
    allb AS (
      SELECT doc_id, text FROM newb UNION ALL SELECT doc_id, text FROM documents
    ),
    toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM allb),
    th AS (SELECT doc_id, list_transform(tk, t -> {stable_hash64_sql('t')} % 2147483647) AS th FROM toks),
    sh AS (SELECT doc_id, {_hashed_shingles_from_th_sql(3)} AS sh FROM th),
    sig AS (SELECT doc_id, sh, {_minhash_sig_sql(16)} AS sig FROM sh),
    bands AS (
      SELECT doc_id, CAST(r.range AS INT) AS band, bh[CAST(r.range AS INT) + 1] AS band_hash
      FROM (SELECT doc_id, {_band_hashes_sql(16, 4)} AS bh FROM sig)
      CROSS JOIN range(0, 4) r
    ),
    cand AS (
      SELECT DISTINCT n.doc_id AS id_a, c.doc_id AS id_b
      FROM bands n JOIN bands c ON n.band = c.band AND n.band_hash = c.band_hash
      -- classify by SET MEMBERSHIP, not id range: the Spark side splits
      -- new-batch vs corpus by DataFrame identity, and an id threshold
      -- only mimics that while corpus ids stay below the twin offset
      -- (true at sf0.01/sf0.1; false at the 100x replica where corpus
      -- doc_ids reach 990M — the r9 ~sf10 sweep caught exactly this)
      WHERE n.doc_id IN (SELECT doc_id FROM newb)
        AND c.doc_id IN (SELECT doc_id FROM documents)
    ),
    dups AS (
      SELECT DISTINCT c.id_a
      FROM cand c JOIN sh sa ON sa.doc_id = c.id_a JOIN sh sb ON sb.doc_id = c.id_b
      WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
                  / len(list_distinct(sa.sh || sb.sh)), 6) >= 0.5
    )
    SELECT doc_id FROM newb WHERE doc_id NOT IN (SELECT id_a FROM dups)
    """,
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _fan(_docs(spark, sf_dir).select("doc_id", "text"))
    tok = tokens(F.col("text"))
    near = corpus.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.array_join(
            F.slice(tok, 1, F.greatest(F.size(tok) - 2, F.lit(1))), " "
        ).alias("text"),
    )
    fresh = corpus.filter(F.col("doc_id") % 20 == 10).select(
        (F.col("doc_id") + 4000000).alias("doc_id"),
        F.array_join(F.reverse(tok), " ").alias("text"),
    )
    kept = dedup.dedup_against_corpus(
        near.unionAll(fresh),
        corpus,
        threshold=0.5,
        max_bucket_size=None,  # oracle replays UNCAPPED candidates
    )
    return kept.select("doc_id")


@register(
    "curation_pipeline",
    # End-to-end training-data curation: Gopher quality gate -> exact
    # dedup (survivor = min doc_id per content hash) -> language-mix
    # rebalance -> sequence packing. One lazy plan, every stage from the
    # curation operator set.
    f"""
    WITH gated AS (
      SELECT doc_id, lang, text FROM (
        SELECT doc_id, lang, text, {_TOKENS_SQL} AS tok FROM documents
      )
      WHERE (len(tok) >= 50 AND len(tok) <= 100000)
        AND (CAST(list_sum(list_transform(tok, x -> length(x))) AS DOUBLE) / len(tok) >= 3.0
             AND CAST(list_sum(list_transform(tok, x -> length(x))) AS DOUBLE) / len(tok) <= 10.0)
        AND (CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) / len(tok) <= 0.1)
        AND (CAST(len(list_filter(tok, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(tok) >= 0.8)
        AND (len(list_filter(tok, x -> lower(x) IN {_GOPHER_STOP_SQL})) >= 2)
    ),
    deduped AS (
      SELECT doc_id, lang, text FROM gated
      QUALIFY row_number() OVER (
        PARTITION BY {stable_hash64_sql('text')} ORDER BY doc_id
      ) = 1
    ),
    counts AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n, {_MIX_CASE_SQL} AS share
      FROM deduped GROUP BY lang
    ),
    eligible AS (SELECT * FROM counts WHERE share IS NOT NULL),
    scale AS (SELECT min(CAST(n AS DOUBLE) / share) AS s FROM eligible),
    rates AS (SELECT lang, share * (SELECT s FROM scale) / n AS rate FROM eligible),
    balanced AS (
      SELECT d.doc_id, d.lang, d.text
      FROM deduped d JOIN rates r USING (lang)
      WHERE {stable_hash64_sql("CAST(d.doc_id AS VARCHAR)", salt="mix")} % 10000
            < r.rate * 10000
    ),
    packed AS (
      SELECT doc_id, lang,
             {stable_hash64_sql("CAST(doc_id AS VARCHAR)", salt="pack")} % 4 AS shard,
             CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
      FROM balanced
    )
    SELECT doc_id, lang, shard, n_tokens,
      CAST(floor(
        (CAST(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         - n_tokens) / 500.0) AS BIGINT) AS seq_bucket
    FROM packed
    """,
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data curation flagship: every stage is one of the
    curation operators, composed as a single lazy plan (filter ->
    hash-window dedup -> broadcast-rate sampling -> windowed packing)."""
    from rag_content_spark.operators.packing import pack_sequences
    from rag_content_spark.operators.quality import gopher_rules, rebalance_to_mix

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    # r11 continuation: the fully-lazy composition re-derived the
    # gopher gate (tokenize + regex scoring over the corpus) ~6x — the
    # static plan references gated via exact_dedup, the semi-join, and
    # rebalance's counts/scale/join, and packed + the final join-back
    # each replay the whole chain. Materialize the two reused stages
    # (the dedup_precollapse corpus-checkpoint argument: N full corpus
    # derivations -> 1 + a bounded materialization).
    gated = docs.filter(gopher_rules("text")["keep"]).localCheckpoint(
        eager=True
    )
    # survivor selection via the exact_dedup aggregate (map-side combine,
    # AQE-splittable join) rather than a hash-partitioned window — a
    # boilerplate text repeated 10^9 times would serialize a window
    survivors = dedup.exact_dedup(gated).select(
        F.col("keep_id").alias("doc_id")
    )
    deduped = gated.join(survivors, "doc_id", "leftsemi")
    balanced = rebalance_to_mix(deduped, _MIX).localCheckpoint(eager=True)
    packed = pack_sequences(balanced, budget=500, shards=4)
    return packed.join(
        balanced.select("doc_id", "lang"), "doc_id"
    ).select("doc_id", "lang", "shard", "n_tokens", "seq_bucket")


@register(
    "doc_entropy",
    # Unigram-LM cross-entropy per document (perplexity proxy): the LM
    # is estimated in-plan from the same corpus; xent = avg -ln p(token).
    f"""
    WITH ex AS (
      SELECT doc_id, u.token
      FROM (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents) t,
           unnest(t.tk) AS u(token)
    ),
    counts AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM ex GROUP BY token),
    total AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM counts),
    probs AS (SELECT token, CAST(c AS DOUBLE) / (SELECT total FROM total) AS p FROM counts)
    SELECT ex.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(-ln(p.p)), 6) AS xent
    FROM ex JOIN probs p USING (token)
    GROUP BY ex.doc_id
    """,
)
def q_doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.text_analysis import unigram_logloss

    return unigram_logloss(_docs(spark, sf_dir))


@register(
    "dedup_recall",
    # Dedup quality evaluation (the MinHash twin of ann_recall): recall
    # of the LSH+Jaccard pipeline on the PLANTED near-dup pairs
    # (id, id+1000000) in the synthesized corpus. One row:
    # (planted, found_planted, recall, extra_pairs).
    f"""
    WITH corpus AS ({_DUP_CORPUS_SQL}),
    toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM corpus),
    th AS (SELECT doc_id, list_transform(tk, t -> {stable_hash64_sql('t')} % 2147483647) AS th FROM toks),
    sh AS (SELECT doc_id, {_hashed_shingles_from_th_sql(3)} AS sh FROM th),
    sig AS (SELECT doc_id, sh, {_minhash_sig_sql(16)} AS sig FROM sh),
    bands AS (
      SELECT doc_id, sh, CAST(r.range AS INT) AS band, bh[CAST(r.range AS INT) + 1] AS band_hash
      FROM (SELECT doc_id, sh, {_band_hashes_sql(16, 4)} AS bh FROM sig)
      CROSS JOIN range(0, 4) r
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ),
    found AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b
      WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
                  / len(list_distinct(sa.sh || sb.sh)), 6) >= 0.5
    ),
    planted AS (
      SELECT doc_id AS id_a, doc_id + 1000000 AS id_b
      FROM documents WHERE doc_id % 25 = 0
    )
    SELECT CAST((SELECT count(*) FROM planted) AS BIGINT) AS planted,
           CAST((SELECT count(*) FROM found f
                 WHERE EXISTS (SELECT 1 FROM planted p
                               WHERE p.id_a = f.id_a AND p.id_b = f.id_b)) AS BIGINT)
             AS found_planted,
           round((SELECT count(*) FROM found f
                  WHERE EXISTS (SELECT 1 FROM planted p
                                WHERE p.id_a = f.id_a AND p.id_b = f.id_b))
                 / CAST((SELECT count(*) FROM planted) AS DOUBLE), 6) AS recall,
           CAST((SELECT count(*) FROM found f
                 WHERE NOT EXISTS (SELECT 1 FROM planted p
                                   WHERE p.id_a = f.id_a AND p.id_b = f.id_b)) AS BIGINT)
             AS extra_pairs
    """,
)
def q_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the MinHash-LSH pipeline on planted near-dup pairs —
    the measurement that tunes (num_hashes, bands) at scale."""
    corpus = _dup_corpus(spark, sf_dir)
    found = dedup.near_duplicate_pairs(
        corpus, threshold=0.5, max_bucket_size=None  # oracle replays UNCAPPED pairs
    )[0].select("id_a", "id_b")
    planted = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % 25 == 0)
        .select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 1000000).alias("id_b"),
        )
    )
    # one left join + one aggregate instead of a leftsemi AND a
    # left_anti over the same `found` subtree (r12): the verify-join
    # tail of the LSH pipeline was evaluated twice — found pairs are
    # unique and planted pairs are unique, so a match flag partitions
    # `found` exactly and extra_pairs = n_found - found_planted.
    flagged = found.join(
        planted.withColumn("_p", F.lit(1)), ["id_a", "id_b"], "left"
    )
    counts = flagged.agg(
        F.count(F.lit(1)).alias("_n_found"),
        F.count("_p").alias("found_planted"),
    )
    n_planted = planted.agg(F.count(F.lit(1)).alias("planted"))
    return n_planted.join(F.broadcast(counts)).select(
        "planted",
        "found_planted",
        F.round(
            F.col("found_planted") / F.col("planted").cast("double"), 6
        ).alias("recall"),
        (F.col("_n_found") - F.col("found_planted")).alias("extra_pairs"),
    )


def _multiprobe_sql() -> str:
    """Driver-side probe selection for the literal query vector — the
    same srp_plane family the Spark side uses, so both engines filter
    the same literal bucket list."""
    from rag_content_spark.operators.similarity import probe_sequence, srp_plane

    bits, dim, n_probes = 8, 64, 4
    qbucket = 0
    for j in range(bits):
        plane = srp_plane("srp", j, dim)
        proj = sum(q * r for q, r in zip(_PQ_QUERY, plane))
        if proj >= 0:
            qbucket |= 1 << j
    probes = probe_sequence(qbucket, bits, n_probes)
    probes_sql = ", ".join(str(p) for p in probes)
    qlit = "list_value(" + ", ".join(repr(v) for v in _PQ_QUERY) + ")"
    return f"""
    WITH planes AS (
      SELECT j, list_transform(generate_series(0, 63),
               i -> ({stable_hash64_sql("('srp' || j || ':' || i)")} % 2000001) / 1000000.0 - 1.0) AS r
      FROM (SELECT unnest(generate_series(0, 7)) AS j)
    ),
    sigs AS (
      SELECT e.vec_id, e.embedding,
             CAST(sum(CASE WHEN {dot_sql('e.embedding', 'p.r')} >= 0
                           THEN (1::BIGINT << p.j) ELSE 0 END) AS BIGINT) AS bucket
      FROM embeddings e CROSS JOIN planes p
      GROUP BY e.vec_id, e.embedding
    )
    SELECT vec_id, bucket,
           round({dot_sql('embedding', qlit)}, 6) AS score
    FROM sigs
    WHERE bucket IN ({probes_sql})
    ORDER BY score DESC, vec_id ASC LIMIT 10
    """


@register("ann_multiprobe", _multiprobe_sql())
def q_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SRP-LSH search (the partition-pruned 100 TB read
    path): probe the query's bucket + Hamming-1 neighbors, exact top-10
    within the probed buckets."""
    from rag_content_spark.operators.similarity import (
        probe_sequence,
        srp_plane,
    )

    bits, dim, n_probes = 8, 64, 4
    qbucket = 0
    for j in range(bits):
        plane = srp_plane("srp", j, dim)
        proj = sum(q * r for q, r in zip(_PQ_QUERY, plane))
        if proj >= 0:
            qbucket |= 1 << j
    probes = probe_sequence(qbucket, bits, n_probes)

    from rag_content_spark.operators.similarity import lsh_signature_exact_np

    # bit-exact numpy twin of the bits x dim interpreted folds (r11)
    emb = lsh_signature_exact_np(
        _emb(spark, sf_dir).select("vec_id", "embedding"),
        bits=bits,
        dim=dim,
        seed="srp",
        out_col="bucket",
    )
    qv = double_array_lit(_PQ_QUERY)
    return (
        emb.filter(F.col("bucket").isin(probes))
        .select(
            "vec_id",
            "bucket",
            F.round(dot(F.col("embedding"), qv, dim), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "chunk_bpe",
    # Tokenizer-pluggable chunking (C1 swap point) with the BPE-ish
    # regex tokenizer: the pandas-UDF tokenizer on the Spark side must
    # produce the same windows as regexp_extract_all in DuckDB.
    """
    WITH t AS (
      SELECT doc_id,
             regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') AS tk
      FROM documents
    ),
    n AS (
      SELECT doc_id, tk,
             CAST(ceil(greatest(len(tk), 1) / 24.0) AS INT) AS n_chunks
      FROM t
    )
    SELECT doc_id, CAST(r.range AS INT) AS chunk_index,
           array_to_string(list_slice(tk, r.range * 24 + 1, r.range * 24 + 24), ' ') AS chunk_text,
           CAST(len(list_slice(tk, r.range * 24 + 1, r.range * 24 + 24)) AS INT) AS chunk_tokens
    FROM n CROSS JOIN range(0, 10000) r
    WHERE r.range < n.n_chunks
    """,
    stream_hash=True,
)
def q_chunk_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re

    from rag_content_spark.operators.chunking import chunk_with_tokenizer
    from rag_content_spark.operators.text_analysis import TOKEN_REGEX

    pat = re.compile(TOKEN_REGEX)

    return chunk_with_tokenizer(
        _docs(spark, sf_dir).select("doc_id", "text"),
        tokenizer=pat.findall,
        size=24,
        overlap=0,
    ).select("doc_id", "chunk_index", "chunk_text", "chunk_tokens")


@register(
    "cohort_retention",
    # Cohort retention over events: users grouped by first-active week,
    # distinct actives per (cohort, week offset). Integer epoch-week
    # math on both engines.
    """
    WITH e AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT)
               - CAST(floor(epoch(ts)) AS BIGINT) % 604800 AS week
      FROM events
    ),
    cohorts AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id)
    SELECT c.cohort_week,
           CAST((e.week - c.cohort_week) / 604800 AS BIGINT) AS week_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM e JOIN cohorts c USING (user_id)
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    week = (F.col("ts_sec") - F.col("ts_sec") % 604800).alias("week")
    e = ev.select("user_id", week)
    cohorts = e.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        e.join(cohorts, "user_id")
        .groupBy(
            "cohort_week",
            ((F.col("week") - F.col("cohort_week")) / 604800)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "leakage_split",
    # Leakage-safe train/val split over the exact-dup-synthesized corpus:
    # split key = content hash, so duplicates never straddle the split.
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 10 = 0
    )
    SELECT doc_id,
           CASE WHEN {stable_hash64_sql(
               "CAST(" + stable_hash64_sql('text') + " AS VARCHAR)", salt="split"
           )} % 10000 < 1000
                THEN 'val' ELSE 'train' END AS split
    FROM corpus
    """,
)
def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.quality import leakage_safe_split

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = docs.unionAll(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text"
        )
    )
    return leakage_safe_split(corpus, val_fraction=0.1).select(
        "doc_id", "split"
    )


def _srp_rerank_sql() -> str:
    from rag_content_spark.operators.similarity import srp_plane

    out_dim, dim = 16, 64
    planes = [
        "list_value(" + ", ".join(repr(v) for v in srp_plane("red", j, dim)) + ")"
        for j in range(out_dim)
    ]
    # query reduced components from the SAME parquet floats Spark collects
    rq = ", ".join(f"({dot_sql('embedding', p)}) AS r{j}" for j, p in enumerate(planes))
    rscore = " + ".join(
        f"({dot_sql('e.embedding', p)}) * q.r{j}" for j, p in enumerate(planes)
    )
    return f"""
    WITH q AS (SELECT {rq}, embedding AS qv FROM embeddings WHERE vec_id = 0),
    red AS (
      SELECT e.vec_id, e.embedding, round({rscore}, 6) AS rscore
      FROM embeddings e CROSS JOIN q
    ),
    short AS (
      SELECT vec_id, embedding FROM red
      ORDER BY rscore DESC, vec_id ASC LIMIT 100
    )
    SELECT s.vec_id, round({dot_sql('s.embedding', 'q.qv')}, 6) AS score
    FROM short s CROSS JOIN q ORDER BY score DESC, vec_id ASC LIMIT 10
    """


@register("srp_rerank", _srp_rerank_sql())
def q_srp_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection (JL) shortlist -> exact re-rank: a 16-dim
    reduced scan shortlists 100 candidates, the 64-dim dot runs only on
    those (operators/similarity.py srp_reduce / srp_rerank_topk).
    Measured on sf0.01 with the vec_id-0 query: shortlist recall@10 =
    7/10 at (16, 100), 10/10 at (24, 200) — the out_dim/shortlist knobs
    trade first-pass scan cost against recall; PQ/IVF remain the
    production ANN paths, this is the model-free cheap-scan variant."""
    from rag_content_spark.operators.similarity import srp_rerank_topk

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    qvec = _emb_driver(sf_dir, vec_ids=[0])[0][1]  # guide §5: no collect job
    return srp_rerank_topk(emb, qvec, k=10, shortlist=100, out_dim=16)


@register(
    "crossdoc_dup",
    # Cross-document duplicate-passage fraction (operators/dedup.py
    # crossdoc_dup_stats): per doc, share of its 8-token shingle
    # positions whose shingle occurs in >=1 OTHER document.
    f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS tok FROM documents),
    g AS (
      SELECT doc_id,
             {stable_hash64_sql(
                 "array_to_string(list_slice(tok, CAST(r.range AS INT) + 1,"
                 " CAST(r.range AS INT) + 8), ' ')"
             )} AS sh
      FROM t CROSS JOIN range(0, 100000) r
      WHERE len(tok) >= 8 AND r.range <= len(tok) - 8
    ),
    pairs AS (
      SELECT doc_id, sh, CAST(count(*) AS BIGINT) AS n_occ
      FROM g GROUP BY doc_id, sh
    ),
    freq AS (SELECT sh, count(*) AS n_docs FROM pairs GROUP BY sh),
    s AS (
      SELECT p.doc_id,
             CAST(sum(p.n_occ) AS BIGINT) AS n_shingles,
             round(sum(CASE WHEN f.n_docs > 1 THEN p.n_occ ELSE 0 END)
                   / CAST(sum(p.n_occ) AS DOUBLE), 6) AS crossdoc_dup_frac
      FROM pairs p JOIN freq f USING (sh) GROUP BY p.doc_id
    )
    SELECT d.doc_id,
           coalesce(s.n_shingles, 0) AS n_shingles,
           coalesce(s.crossdoc_dup_frac, 0.0) AS crossdoc_dup_frac
    FROM documents d LEFT JOIN s USING (doc_id)
    """,
)
def q_crossdoc_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.dedup import crossdoc_dup_stats

    # _fan: per-position 8-shingle md5s (measured r11: 5.0 -> 2.0 s)
    return crossdoc_dup_stats(_fan(_docs(spark, sf_dir)), n=8)


@register(
    "hard_negatives",
    # Contrastive-pair mining (operators/search.py
    # mine_contrastive_pairs): per anchor the 3 nearest same-label
    # positives and 3 nearest different-label hard negatives.
    # scale_safe=False: DELIBERATE exact all-pairs baseline — the
    # ground truth that equality-pins the registered scale path
    # hard_negatives_ivf (green at 100x); sweeps above sf0.1 skip it
    # by construction instead of by per-run exclusion list.
    f"""
    WITH a AS (
      SELECT vec_id AS anchor_id, embedding AS av, label AS anchor_label
      FROM embeddings WHERE vec_id % 50 = 2
    ),
    scored AS (
      SELECT a.anchor_id, e.vec_id,
             round({dot_sql('e.embedding', 'a.av')}, 6) AS score,
             CASE WHEN e.label = a.anchor_label THEN 'pos' ELSE 'neg' END AS kind
      FROM embeddings e CROSS JOIN a
      WHERE e.vec_id <> a.anchor_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY anchor_id, kind ORDER BY score DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT anchor_id, vec_id, score, kind, CAST(rank AS BIGINT) AS rank
    FROM ranked
    WHERE (kind = 'pos' AND rank <= 3) OR (kind = 'neg' AND rank <= 3)
    """,
    scale_safe=False,
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.search import mine_contrastive_pairs

    emb = _emb(spark, sf_dir)
    anchors = emb.filter(F.col("vec_id") % 50 == 2).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("anchor_vec"),
        F.col("label").alias("anchor_label"),
    )
    out = mine_contrastive_pairs(emb, anchors, n_pos=3, n_neg=3)
    return out.select(
        "anchor_id", "vec_id", "score", "kind", F.col("rank").cast("bigint").alias("rank")
    )


def _score_drift_sql() -> str:
    quality = ORACLES["quality_score"]
    return f"""
    WITH scores AS ({quality}),
    a AS (SELECT quality AS score FROM scores WHERE doc_id < 250),
    b AS (SELECT quality AS score FROM scores WHERE doc_id >= 250),
    ca AS (
      SELECT least(9, greatest(0, CAST(floor(score * 10) AS INT))) AS bin,
             CAST(count(*) AS BIGINT) AS ca
      FROM a GROUP BY 1
    ),
    cb AS (
      SELECT least(9, greatest(0, CAST(floor(score * 10) AS INT))) AS bin,
             CAST(count(*) AS BIGINT) AS cb
      FROM b GROUP BY 1
    ),
    grid AS (
      SELECT coalesce(ca.bin, cb.bin) AS bin,
             coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
      FROM ca FULL OUTER JOIN cb ON ca.bin = cb.bin
    ),
    n AS (SELECT (SELECT count(*) FROM a) AS na, (SELECT count(*) FROM b) AS nb)
    SELECT
      round(sum(((2 * ca + 1) / CAST(2 * na + 10 AS DOUBLE)
                 - (2 * cb + 1) / CAST(2 * nb + 10 AS DOUBLE))
                * ln(((2 * ca + 1) / CAST(2 * na + 10 AS DOUBLE))
                     / ((2 * cb + 1) / CAST(2 * nb + 10 AS DOUBLE)))), 6)
        AS psi,
      CAST(max(na) AS BIGINT) AS n_a,
      CAST(max(nb) AS BIGINT) AS n_b
    FROM grid CROSS JOIN n
    """


@register("score_drift", _score_drift_sql())
def q_score_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift between the quality-score distributions of two corpus
    halves (operators/quality.py psi_drift)."""
    from rag_content_spark.operators import text_analysis
    from rag_content_spark.operators.quality import psi_drift

    scored = _docs(spark, sf_dir).select(
        "doc_id", text_analysis.quality_score("text").alias("score")
    )
    return psi_drift(
        scored.filter(F.col("doc_id") < 250),
        scored.filter(F.col("doc_id") >= 250),
        bins=10,
    )


@register(
    "retrieval_metrics",
    # IR eval of the index (operators/search.py retrieval_eval):
    # per-query MRR and NDCG@10 of the exact IP ranking, same-label
    # relevance, self-match excluded, IDCG capped at k.
    # scale_safe=False: exact all-pairs ground truth for the registered
    # scale path retrieval_metrics_ivf; skipped above sf0.1 by tier.
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv, label AS query_label
      FROM embeddings WHERE vec_id % 20 = 1
    ),
    scored AS (
      SELECT q.query_id, q.query_label, e.vec_id, e.label,
             round({dot_sql('e.embedding', 'q.qv')}, 6) AS score
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
      FROM scored
    ),
    top AS (SELECT * FROM ranked WHERE rank <= 10),
    perq AS (
      SELECT query_id,
             min(CASE WHEN label = query_label THEN rank END) AS first_rel,
             sum(CASE WHEN label = query_label
                      THEN 1.0 / log2(rank + 1) ELSE 0.0 END) AS dcg
      FROM top GROUP BY query_id
    ),
    nrel AS (
      SELECT q.query_id, least(count(*), 10) AS m
      FROM embeddings e
      JOIN q ON e.label = q.query_label AND e.vec_id <> q.query_id
      GROUP BY q.query_id
    )
    SELECT p.query_id,
           round(coalesce(1.0 / first_rel, 0.0), 6) AS mrr,
           round(CASE WHEN coalesce(n.m, 0) > 0
                      THEN p.dcg / list_sum(list_transform(
                             generate_series(1, n.m),
                             x -> 1.0 / log2(x + 1)))
                      ELSE 0.0 END, 6) AS ndcg
    FROM perq p LEFT JOIN nrel n USING (query_id)
    """,
    scale_safe=False,
)
def q_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.search import retrieval_eval

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 20 == 1).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    return retrieval_eval(emb, queries, k=10)


# shared CTE prefix for the IVF-shortlist eval twins: a BOUNDED centroid
# set (vec_id % 50 = 1 AND vec_id < 100000 — nlist is a model artifact
# and must NOT grow linearly with the corpus; the cap keeps the oracle's
# corpus x centroids assignment linear at any replica scale) + the
# nearest-cell assignment both queries share.
def _ivf_eval_prefix_sql() -> str:
    return f"""
    cent AS (
      SELECT vec_id AS cid, embedding AS cv FROM embeddings
      WHERE vec_id % 50 = 1 AND vec_id < 100000
    ),
    assigned AS (
      SELECT vec_id, embedding, label, cid FROM (
        SELECT e.vec_id, e.embedding, e.label, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY round({euclidean_sql('e.embedding', 'c.cv')}, 6) ASC,
                                           c.cid ASC) AS rk
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rk = 1
    )"""


@register(
    "hard_negatives_ivf",
    # IVF-shortlist contrastive mining (operators/search.py
    # mine_contrastive_pairs_ivf) — the scale path of hard_negatives,
    # whose anchors x corpus brute force is quadratic by design. Anchors
    # probe their 3 nearest cells; positives/negatives rank over the
    # probed shortlist only. The oracle replays the cell assignment,
    # probe set, fixed-point scores, and both rank windows exactly.
    f"""
    WITH {_ivf_eval_prefix_sql()},
    a AS (
      SELECT vec_id AS anchor_id, embedding AS av, label AS anchor_label
      FROM embeddings WHERE vec_id % 50 = 2
    ),
    probes AS (
      SELECT anchor_id, av, anchor_label, cid FROM (
        SELECT a.anchor_id, a.av, a.anchor_label, c.cid,
               row_number() OVER (PARTITION BY a.anchor_id
                                  ORDER BY round({euclidean_sql('a.av', 'c.cv')}, 6) ASC,
                                           c.cid ASC) AS rk
        FROM a CROSS JOIN cent c
      ) WHERE rk <= 3
    ),
    scored AS (
      SELECT p.anchor_id, t.vec_id,
             CAST(round({dot_sql('t.embedding', 'p.av')} * 1000000) AS BIGINT) AS s6,
             CASE WHEN t.label = p.anchor_label THEN 'pos' ELSE 'neg' END AS kind
      FROM probes p JOIN assigned t ON p.cid = t.cid
      WHERE t.vec_id <> p.anchor_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY anchor_id, kind ORDER BY s6 DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT anchor_id, vec_id,
           round(CAST(s6 AS DOUBLE) / 1000000, 6) AS score,
           kind, CAST(rank AS BIGINT) AS rank
    FROM ranked
    WHERE (kind = 'pos' AND rank <= 3) OR (kind = 'neg' AND rank <= 3)
    """,
)
def q_hard_negatives_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.search import mine_contrastive_pairs_ivf

    emb = _emb(spark, sf_dir)
    anchors = emb.filter(F.col("vec_id") % 50 == 2).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("anchor_vec"),
        F.col("label").alias("anchor_label"),
    )
    # guide §5: no collect job — driver-side pyarrow read of the same
    # bounded centroid sample (r11 continuation; bit-identical, pinned
    # in tests/test_embedding.py::test_emb_driver_mod_rem_max_id)
    centroids = [
        (vid, list(e))
        for vid, e in _emb_driver(sf_dir, mod=50, rem=1, max_id=100000)
    ]
    out = mine_contrastive_pairs_ivf(
        emb, anchors, centroids, n_pos=3, n_neg=3, nprobe=3
    )
    return out.select(
        "anchor_id", "vec_id", "score", "kind",
        F.col("rank").cast("bigint").alias("rank"),
    )


@register(
    "retrieval_metrics_ivf",
    # IVF-approximate IR eval (operators/search.py retrieval_eval_ivf) —
    # the scale path of retrieval_metrics: MRR/NDCG@10 of the ranking
    # over each query's 3 probed cells, IDCG from the TRUE same-label
    # count (one linear label-count aggregate) capped at 10, so the
    # metric prices IVF recall loss against the ideal ranking.
    f"""
    WITH {_ivf_eval_prefix_sql()},
    q AS (
      SELECT vec_id AS query_id, embedding AS qv, label AS query_label
      FROM embeddings WHERE vec_id % 100 = 1
    ),
    probes AS (
      SELECT query_id, qv, query_label, cid FROM (
        SELECT q.query_id, q.qv, q.query_label, c.cid,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY round({euclidean_sql('q.qv', 'c.cv')}, 6) ASC,
                                           c.cid ASC) AS rk
        FROM q CROSS JOIN cent c
      ) WHERE rk <= 3
    ),
    scored AS (
      SELECT p.query_id, p.query_label, t.vec_id, t.label,
             CAST(round({dot_sql('t.embedding', 'p.qv')} * 1000000) AS BIGINT) AS s6
      FROM probes p JOIN assigned t ON p.cid = t.cid
      WHERE t.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY s6 DESC, vec_id ASC) AS rank
      FROM scored
    ),
    top AS (SELECT * FROM ranked WHERE rank <= 10),
    perq AS (
      SELECT query_id,
             min(CASE WHEN label = query_label THEN rank END) AS first_rel,
             sum(CASE WHEN label = query_label
                      THEN 1.0 / log2(rank + 1) ELSE 0.0 END) AS dcg
      FROM top GROUP BY query_id
    ),
    lc AS (SELECT label, count(*) AS nl FROM embeddings GROUP BY label),
    nrel AS (
      SELECT q.query_id, least(coalesce(lc.nl, 1) - 1, 10) AS m
      FROM q LEFT JOIN lc ON lc.label = q.query_label
    )
    SELECT p.query_id,
           round(coalesce(1.0 / first_rel, 0.0), 6) AS mrr,
           round(CASE WHEN coalesce(n.m, 0) > 0
                      THEN p.dcg / list_sum(list_transform(
                             generate_series(1, n.m),
                             x -> 1.0 / log2(x + 1)))
                      ELSE 0.0 END, 6) AS ndcg
    FROM perq p LEFT JOIN nrel n USING (query_id)
    """,
)
def q_retrieval_metrics_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.search import retrieval_eval_ivf

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 1).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    # guide §5: no collect job — driver-side pyarrow read of the same
    # bounded centroid sample (r11 continuation; bit-identical, pinned
    # in tests/test_embedding.py::test_emb_driver_mod_rem_max_id)
    centroids = [
        (vid, list(e))
        for vid, e in _emb_driver(sf_dir, mod=50, rem=1, max_id=100000)
    ]
    return retrieval_eval_ivf(emb, queries, centroids, k=10, nprobe=3)


@register(
    "snapshot_diff",
    # Crawl-to-crawl change set (operators/rollup.py snapshot_diff):
    # old = doc_id < 450, new = doc_id >= 50 with every 7th doc edited.
    f"""
    WITH old AS (
      SELECT doc_id, {stable_hash64_sql('text')} AS old_hash
      FROM documents WHERE doc_id < 450
    ),
    new AS (
      SELECT doc_id,
             {stable_hash64_sql(
                 "CASE WHEN doc_id % 7 = 0 THEN text || ' (edited)' ELSE text END"
             )} AS new_hash
      FROM documents WHERE doc_id >= 50
    )
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.old_hash = n.new_hash THEN 'unchanged'
                ELSE 'changed' END AS status,
           o.old_hash, n.new_hash
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.rollup import snapshot_diff

    docs = _docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") < 450).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") >= 50).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" (edited)"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return snapshot_diff(old, new)


def _cdc_sql() -> str:
    from rag_content_spark.operators.dedup import _CDC_COEFFS, MINHASH_P

    c0, c1, c2, c3 = _CDC_COEFFS
    g = (
        f"((th[r.range + 1] * {c0} + th[r.range + 2] * {c1} + "
        f"th[r.range + 3] * {c2} + th[r.range + 4] * {c3}) % {MINHASH_P})"
    )
    return f"""
    WITH t0 AS (SELECT doc_id, {_TOKENS_SQL} AS tok FROM documents),
    t AS (SELECT * FROM t0 WHERE len(tok) > 0),
    h AS (
      SELECT doc_id, tok,
             list_transform(tok, x -> {stable_hash64_sql('x')} % {MINHASH_P}) AS th
      FROM t
    ),
    b AS (
      SELECT doc_id, CAST(r.range AS INT) AS i
      FROM h CROSS JOIN range(1, 100000) r
      WHERE r.range <= len(tok) - 4 AND {g} % 64 = 0
    ),
    tokpos AS (
      SELECT doc_id, CAST(r.range AS INT) AS i,
             tok[CAST(r.range AS INT) + 1] AS token
      FROM h CROSS JOIN range(0, 100000) r
      WHERE r.range < len(tok)
    ),
    marked AS (
      SELECT tp.doc_id, tp.i, tp.token,
             SUM(CASE WHEN b.i IS NULL THEN 0 ELSE 1 END) OVER (
               PARTITION BY tp.doc_id ORDER BY tp.i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_idx
      FROM tokpos tp LEFT JOIN b ON b.doc_id = tp.doc_id AND b.i = tp.i
    )
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(min(i) AS BIGINT) AS start,
           CAST(count(*) AS BIGINT) AS n_tokens,
           {stable_hash64_sql("string_agg(token, ' ' ORDER BY i)")} AS chunk_hash
    FROM marked GROUP BY doc_id, chunk_idx
    """


@register("cdc_chunks", _cdc_sql())
def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (operators/dedup.py cdc_chunks):
    rolling-hash boundaries, insertion-robust chunk hashes."""
    from rag_content_spark.operators.dedup import cdc_chunks

    # _fan: per-row rolling-hash over every byte — the _fan docstring's
    # heavy-map case (measured r11: 1.4 s -> 0.4 s at sf0.1)
    return cdc_chunks(_fan(_docs(spark, sf_dir)), mask=64)


@register(
    "training_manifest",
    # Weighted-interleave data-mixing manifest (operators/packing.py
    # interleave_manifest): src0 at weight 3.0, src1 at 1.0, src2 at
    # 0.5 — position order interleaves sources at those ratios.
    """
    WITH kept AS (
      SELECT doc_id, source,
             CASE source WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 1.0
                         WHEN 'src2' THEN 0.5 END AS w,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents WHERE source IN ('src0', 'src1', 'src2')
    )
    SELECT row_number() OVER (
             ORDER BY CAST(rn AS DOUBLE) / w, source, doc_id
           ) AS position,
           doc_id, source
    FROM kept
    """,
)
def q_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.packing import interleave_manifest

    return interleave_manifest(
        _docs(spark, sf_dir), {"src0": 3.0, "src1": 1.0, "src2": 0.5}
    )


@register(
    "crossdoc_scrub",
    # Passage scrubbing (operators/dedup.py remove_crossdoc_passages):
    # drop every token position covered by a cross-document duplicate
    # 8-shingle; clean_text = kept tokens joined by ' '.
    f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS tok FROM documents),
    g AS (
      SELECT doc_id, CAST(r.range AS INT) AS p,
             {stable_hash64_sql(
                 "array_to_string(list_slice(tok, CAST(r.range AS INT) + 1,"
                 " CAST(r.range AS INT) + 8), ' ')"
             )} AS sh
      FROM t CROSS JOIN range(0, 100000) r
      WHERE len(tok) >= 8 AND r.range <= len(tok) - 8
    ),
    dup AS (
      SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM g)
      GROUP BY sh HAVING count(*) > 1
    ),
    ds AS (SELECT g.doc_id, g.p FROM g JOIN dup USING (sh)),
    tokpos AS (
      SELECT doc_id, CAST(r.range AS INT) AS i,
             tok[CAST(r.range AS INT) + 1] AS token
      FROM t CROSS JOIN range(0, 100000) r
      WHERE r.range < len(tok)
    ),
    kept AS (
      SELECT tp.doc_id, tp.i, tp.token FROM tokpos tp
      WHERE NOT EXISTS (
        SELECT 1 FROM ds
        WHERE ds.doc_id = tp.doc_id AND ds.p <= tp.i AND tp.i <= ds.p + 7
      )
    ),
    agg AS (
      SELECT doc_id, string_agg(token, ' ' ORDER BY i) AS clean_text,
             CAST(count(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(a.clean_text, '') AS clean_text,
           CAST(len(t.tok) AS BIGINT) AS n_tokens,
           CAST(len(t.tok) AS BIGINT) - coalesce(a.n_kept, 0) AS n_removed
    FROM t LEFT JOIN agg a USING (doc_id)
    """,
)
def q_crossdoc_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.dedup import remove_crossdoc_passages

    # _fan: shingle md5s + token-position rebuild (r11: 9.2 -> 1.5 s)
    return remove_crossdoc_passages(_fan(_docs(spark, sf_dir)), n=8)


_CMS_CELL_SQL = (
    "CAST(('0x' || substr(md5('cms' || CAST(r.range AS VARCHAR) || ':' || token),"
    " 1, 15)) AS BIGINT) % 256"
)


@register(
    "cms_heavy_hitters",
    # Count-min sketch (operators/sketches.py): deterministic 4x256
    # sketch over the corpus token stream; the registered result pins
    # both the exact top-20 and the sketch's (overestimating) answers.
    f"""
    WITH t AS (SELECT {_TOKENS_SQL} AS tok FROM documents),
    tk AS (SELECT unnest(tok) AS token FROM t),
    cells AS (
      SELECT token, r.range AS r, {_CMS_CELL_SQL} AS c
      FROM tk CROSS JOIN range(0, 4) r
    ),
    sketch AS (SELECT r, c, CAST(count(*) AS BIGINT) AS cnt
               FROM cells GROUP BY r, c),
    exact AS (SELECT token, CAST(count(*) AS BIGINT) AS freq
              FROM tk GROUP BY token
              ORDER BY freq DESC, token ASC LIMIT 20),
    cand AS (
      SELECT token, r.range AS r, {_CMS_CELL_SQL} AS c
      FROM exact CROSS JOIN range(0, 4) r
    ),
    est AS (
      SELECT cand.token, min(coalesce(s.cnt, 0)) AS est
      FROM cand LEFT JOIN sketch s USING (r, c) GROUP BY cand.token
    )
    SELECT e.token, e.freq, est.est
    FROM exact e JOIN est USING (token)
    ORDER BY e.freq DESC, e.token ASC
    """,
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.sketches import cms_estimate, cms_sketch
    from rag_content_spark.functions.text import tokens

    # _fan: the sketch side computes 4 salted md5s per token and the
    # input is single-split (see q_cms_merge, r11)
    tok = _fan(_docs(spark, sf_dir)).select(
        F.explode(tokens("text")).alias("token")
    )
    sketch = cms_sketch(tok, "token", depth=4, width=256)
    exact = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(20)
    )
    est = cms_estimate(sketch, exact.select("token"), "token", depth=4, width=256)
    return exact.join(est, "token").orderBy(F.desc("freq"), F.asc("token"))


@register(
    "bloom_prune",
    # Bloom-filter semi-join pruning (operators/sketches.py): build the
    # filter from urgent-order customer keys, probe all customers; the
    # one-row result pins probe size, bloom passes, true members and
    # the (deterministic) false-positive count.
    f"""
    WITH keys AS (
      SELECT DISTINCT o_custkey AS key FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ),
    bits AS (
      SELECT DISTINCT
        {stable_hash64_sql(
            "('bf' || CAST(i.range AS VARCHAR) || ':' || CAST(key AS VARCHAR))"
        )} % 4096 AS bit
      FROM keys CROSS JOIN range(0, 5) i
    ),
    probe AS (SELECT DISTINCT c_custkey AS key FROM customer),
    pb AS (
      SELECT key,
        {stable_hash64_sql(
            "('bf' || CAST(i.range AS VARCHAR) || ':' || CAST(key AS VARCHAR))"
        )} % 4096 AS bit
      FROM probe CROSS JOIN range(0, 5) i
    ),
    hits AS (
      SELECT pb.key, count(b.bit) AS nb
      FROM pb LEFT JOIN bits b USING (bit) GROUP BY pb.key
    )
    SELECT
      CAST((SELECT count(*) FROM probe) AS BIGINT) AS n_probe,
      CAST((SELECT count(*) FROM hits WHERE nb = 5) AS BIGINT) AS n_pass,
      CAST((SELECT count(*) FROM probe WHERE key IN (SELECT key FROM keys))
           AS BIGINT) AS n_true,
      CAST((SELECT count(*) FROM hits WHERE nb = 5) AS BIGINT)
        - CAST((SELECT count(*) FROM probe WHERE key IN (SELECT key FROM keys))
               AS BIGINT) AS n_false_pos
    """,
)
def q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.sketches import bloom_bits, bloom_member

    orders = _pq(spark, f"{sf_dir}/orders.parquet")
    customer = _pq(spark, f"{sf_dir}/customer.parquet")
    keys = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )
    bits = bloom_bits(keys, "key", m=4096, k=5)
    member = bloom_member(
        customer.select(F.col("c_custkey").alias("key")), "key", bits, m=4096, k=5
    )
    truth = customer.select(F.col("c_custkey").alias("key")).distinct().join(
        keys, "key", "left_semi"
    )
    return (
        member.agg(
            F.count(F.lit(1)).alias("n_probe"),
            F.sum(F.col("bloom_pass").cast("bigint")).alias("n_pass"),
        )
        .join(F.broadcast(truth.agg(F.count(F.lit(1)).alias("n_true"))))
        .select(
            "n_probe",
            "n_pass",
            "n_true",
            (F.col("n_pass") - F.col("n_true")).alias("n_false_pos"),
        )
    )


# ===================== data-selection operators (DSIR / BPE) ==============

_DSIR_B = 4096


def _dsir_weights_sql(
    buckets: int = _DSIR_B,
    raw_rel: str = "documents",
    tgt_filter: str = "lang = 'en'",
) -> str:
    """Shared CTE body computing per-doc DSIR log-weights (raw =
    ``raw_rel``, target = its ``tgt_filter`` subset) — the fixed-point
    integer-sum twin of operators/selection.dsir_log_weights."""
    ng = (
        "tk || list_transform(generate_series(1, len(tk) - 1), "
        "i -> tk[i] || ' ' || tk[i + 1])"
    )
    bucket = f"{stable_hash64_sql('u.g')} % {buckets}"
    return f"""
    rawt AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM {raw_rel}),
    tgtt AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM {raw_rel} WHERE {tgt_filter}),
    rng AS (SELECT doc_id, {ng} AS ng FROM rawt),
    tng AS (SELECT doc_id, {ng} AS ng FROM tgtt),
    rex AS (SELECT doc_id, {bucket} AS bucket FROM rng, unnest(rng.ng) AS u(g)),
    tex AS (SELECT {bucket} AS bucket FROM tng, unnest(tng.ng) AS u(g)),
    rc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM rex GROUP BY bucket),
    tc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM tex GROUP BY bucket),
    rt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM rc),
    tt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM tc),
    lr AS (
      SELECT rc.bucket,
        CAST(round((ln((coalesce(tc.c, 0) + 1)::DOUBLE
                       / ((SELECT t FROM tt) + {buckets}))
                  - ln((rc.c + 1)::DOUBLE
                       / ((SELECT t FROM rt) + {buckets}))) * 1000000) AS BIGINT)
          AS lr
      FROM rc LEFT JOIN tc USING (bucket)
    ),
    weights AS (
      -- per-occurrence sum, not a (doc, bucket) rollup first: sum of
      -- cnt*lr over rolled-up rows == sum of lr over raw occurrences
      -- (exact integers), and skipping the corpus-sized 700M-group
      -- feats aggregation is what lets this oracle fit the probe box
      -- at the keep-vocab 1000x replica (it spilled the disk dry with
      -- the rollup; lr is a 4096-row join side)
      SELECT r.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
             round(CAST(sum(l.lr) AS DOUBLE) / 1000000, 6) AS logw
      FROM rex r JOIN lr l USING (bucket)
      GROUP BY r.doc_id
    )"""


def _dsir_frames(spark: SparkSession, sf_dir: str):
    # _fan: the feature extraction (md5 per distinct ngram, bincount
    # per doc — hashed_ngram_buckets_np) is heavy per-row map work and
    # the single-file input would otherwise run it in ONE task (the
    # _fan docstring's measured case; guide §2.5 input-skew rule)
    docs = _fan(_docs(spark, sf_dir).select("doc_id", "lang", "text"))
    return docs, docs.filter(F.col("lang") == "en")


@register(
    "dsir_weights",
    # DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    # buckets, add-1-smoothed target/raw distributions, per-doc weight
    # as an EXACT integer sum of fixed-point log-ratios (order-free,
    # engine-free) descaled once at the end.
    f"WITH {_dsir_weights_sql()} SELECT doc_id, n_ngrams, logw FROM weights",
    stream_hash=True,
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.selection import dsir_log_weights

    # target_flag: the en-slice target distribution comes out of the
    # SAME feature pass as the raw one (flag carried through the numpy
    # twin; one fused bucket aggregate) instead of a second
    # tokenize+hash pass over the slice — identical integer counts,
    # equality-pinned in tests/test_selection.py (r11 continuation).
    raw, tgt = _dsir_frames(spark, sf_dir)
    return dsir_log_weights(
        raw, tgt, buckets=_DSIR_B, target_flag=F.col("lang") == "en"
    )


@register(
    "dsir_select",
    # Gumbel top-k resample over the DSIR weights: noise is
    # -ln(-ln(u)) with u drawn from stable_hash64(doc_id) — the
    # resample is deterministic and layout-independent; ties broken by
    # doc_id.
    f"""
    WITH {_dsir_weights_sql()},
    keyed AS (
      SELECT doc_id, logw,
             round(logw - ln(-ln(
               ({stable_hash64_sql("CAST(doc_id AS VARCHAR)", salt="dsir")}
                  % 1000000000 + 0.5) / 1000000000.0)), 6) AS key
      FROM weights
    )
    SELECT doc_id, logw, key FROM keyed
    ORDER BY key DESC, doc_id LIMIT 100
    """,
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.selection import dsir_select

    raw, tgt = _dsir_frames(spark, sf_dir)
    return dsir_select(
        raw, tgt, k=100, buckets=_DSIR_B, target_flag=F.col("lang") == "en"
    )


@register(
    "bigram_entropy",
    # CCNet-style perplexity proxy, one order up from doc_entropy:
    # per-doc cross-entropy under the corpus add-1 bigram LM
    # p(w2|w1) = (c12+1)/(c1+V). Docs with < 2 tokens have no bigrams
    # and drop out on both engines.
    f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents),
    big AS (
      SELECT doc_id, tk[g.i] AS w1, tk[g.i + 1] AS w2
      FROM t, unnest(generate_series(1, len(tk) - 1)) AS g(i)
    ),
    c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM big GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM big GROUP BY w1),
    v AS (SELECT CAST(count(DISTINCT u.token) AS BIGINT) AS v
          FROM t, unnest(t.tk) AS u(token))
    SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(-ln((c12.c12 + 1)::DOUBLE / (c1.c1 + (SELECT v FROM v)))), 6)
             AS xent2
    FROM big b JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
    GROUP BY b.doc_id
    """,
    stream_hash=True,
)
def q_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.selection import bigram_logloss

    # _fan: tokenize + bigram explode ahead of the LM joins
    # (r11: 1.4 -> 1.0 s)
    return bigram_logloss(_fan(_docs(spark, sf_dir)))


@register(
    "bigram_entropy_salted",
    # Identical semantics to bigram_entropy — same oracle — through the
    # SALTED plan (salt=8: corpus side keyed by hash(doc_id)%8, model
    # tables replicated 8x). The explicit Zipf-head mitigation for the
    # 100 TB regime, registered so the driver's oracle gate pins the
    # salted join plan cross-engine, not just the pytest equality test:
    # the r11 structural probe showed AQE's skew split can NEVER fire
    # on a join against an in-plan aggregate (BASELINE.md round-11).
    lambda: ORACLES["bigram_entropy"],
    stream_hash=True,
)
def q_bigram_entropy_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.selection import bigram_logloss

    return bigram_logloss(_docs(spark, sf_dir), salt=8)


@register(
    "kn_bigram_xent",
    # Interpolated Kneser-Ney bigram cross-entropy (Kneser & Ney 1995;
    # Chen & Goodman 1999 eq. 4.25), D = 0.75: the strongest count-based
    # smoother, scored over the corpus under its own LM (c12 >= 1 so
    # p > 0). The float expression mirrors the Spark operator term by
    # term so both engines evaluate the identical IEEE tree.
    f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents),
    big AS (
      SELECT doc_id, tk[g.i] AS w1, tk[g.i + 1] AS w2
      FROM t, unnest(generate_series(1, len(tk) - 1)) AS g(i)
    ),
    c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM big GROUP BY w1, w2),
    ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                   CAST(count(*) AS BIGINT) AS fanout
            FROM c12 GROUP BY w1),
    cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_left FROM c12 GROUP BY w2),
    ty AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM c12)
    SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(-ln(
             greatest(c12.c12 - 0.75, 0.0) / ctx.c1
             + (0.75 * ctx.fanout / ctx.c1)
               * (cont.n_left::DOUBLE / (SELECT n_types FROM ty))
           )), 6) AS kn_xent
    FROM big b JOIN c12 USING (w1, w2) JOIN ctx USING (w1) JOIN cont USING (w2)
    GROUP BY b.doc_id
    """,
    stream_hash=True,
)
def q_kn_bigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.selection import kneser_ney_logloss

    return kneser_ney_logloss(_docs(spark, sf_dir))


_DOREMI_BIG_SQL = (
    f"SELECT doc_id, tk[g.i] AS w1, tk[g.i + 1] AS w2 "
    f"FROM (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents) t, "
    f"unnest(generate_series(1, len(tk) - 1)) AS g(i)"
)


@register(
    "doremi_weights",
    # DoReMi-style domain reweighting (Xie et al. 2023): per-domain
    # excess bigram-LM loss drives a 10-round linear multiplicative-
    # weights update — ALL fixed-point integer math (exact sums,
    # truncating divisions), so the recursive CTE reproduces the Spark
    # fold bit for bit. See operators/selection.py doremi_domain_weights
    # for the documented deviations from the paper.
    # NB oracle structure: only the 11-row iteration table may live in
    # the WITH RECURSIVE block — DuckDB MATERIALIZES every CTE of a
    # recursive WITH, and the corpus-sized bigram table spilled >52 GB
    # at the keep-vocab 1000x replica; as nested subqueries the bigram
    # passes stream exactly like the (green) plain-WITH bigram_entropy
    # oracle, trading two recomputes for O(1) spill.
    f"""
    WITH RECURSIVE e AS (
      SELECT domain, n_docs, loss6,
             CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
                  ELSE ((loss6 - lo) * 1000000) // (hi - lo) END AS ex6
      FROM (
        SELECT domain, n_docs, loss6,
               min(loss6) OVER () AS lo, max(loss6) OVER () AS hi
        FROM (
          SELECT domain, n_docs, s6 // n_docs AS loss6
          FROM (
            SELECT d.lang AS domain, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CAST(round(x.xent2 * 1000000) AS BIGINT)) AS BIGINT) AS s6
            FROM documents d JOIN (
              SELECT b.doc_id,
                     round(avg(-ln((c.c12 + 1)::DOUBLE / (c1.c1 + vv.v))), 6)
                       AS xent2
              FROM ({_DOREMI_BIG_SQL}) b
              JOIN (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                    FROM ({_DOREMI_BIG_SQL}) GROUP BY w1, w2) c USING (w1, w2)
              JOIN (SELECT w1, CAST(count(*) AS BIGINT) AS c1
                    FROM ({_DOREMI_BIG_SQL}) GROUP BY w1) c1 USING (w1)
              CROSS JOIN (SELECT CAST(count(DISTINCT u.token) AS BIGINT) AS v
                          FROM (SELECT {_TOKENS_SQL} AS tk FROM documents) t2,
                               unnest(t2.tk) AS u(token)) vv
              GROUP BY b.doc_id
            ) x USING (doc_id) GROUP BY d.lang
          ) dom
        ) l
      ) lm
    ),
    it AS (
      SELECT domain, n_docs, loss6,
             1000000 + (200000 * ex6) // 1000000 AS mult,
             CAST(1000000 AS BIGINT) AS w, 0 AS i FROM e
      UNION ALL
      SELECT domain, n_docs, loss6, mult, (w * mult) // 1000000, i + 1
      FROM it WHERE i < 10
    ),
    fin AS (SELECT domain, n_docs, loss6, w FROM it WHERE i = 10)
    SELECT domain, n_docs, loss6,
           round(w * 1.0 / (SELECT sum(w) FROM fin), 6) AS weight
    FROM fin
    """,
)
def q_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.selection import doremi_domain_weights

    return doremi_domain_weights(_docs(spark, sf_dir))


# shared CTE text: corpus word-frequency table -> char symbols (</w>
# marker on the last) -> adjacent pairs, weighted by word frequency
_BPE_BASE_SQL = f"""
    w AS (
      SELECT u.word AS word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT {_TOKENS_SQL} AS tk FROM documents) t, unnest(t.tk) AS u(word)
      GROUP BY u.word
    ),
    sym AS (
      SELECT word, freq,
             list_transform(generate_series(1, length(word)),
               i -> CASE WHEN i = length(word)
                         THEN substr(word, CAST(i AS INT), 1) || '</w>'
                         ELSE substr(word, CAST(i AS INT), 1) END) AS s
      FROM w
    ),
    pairs AS (
      SELECT freq, s[g.i] AS lhs, s[g.i + 1] AS rhs
      FROM sym, unnest(generate_series(1, len(s) - 1)) AS g(i)
    )"""


@register(
    "bpe_pairs",
    # One round of BPE tokenizer induction (Sennrich et al. 2016):
    # corpus-weighted adjacent symbol-pair counts over the
    # word-frequency table, chars + '</w>' end-of-word marker, top 50
    # by (cnt DESC, pair ASC).
    f"""
    WITH {_BPE_BASE_SQL}
    SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS cnt
    FROM pairs GROUP BY lhs, rhs
    ORDER BY cnt DESC, lhs, rhs LIMIT 50
    """,
)
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.selection import bpe_pair_counts

    return bpe_pair_counts(_docs(spark, sf_dir), top_n=50)


_BPE_SENTINEL = 9223372036854775807  # "no merge applies" rank

# the BPE-apply recursive machinery (shared by bpe_tokenize and
# bpe_fertility): learn 50 ranked merges from `pairs`, replay the
# greedy lowest-rank-leftmost loop per vocabulary word, end at `vocab`
# = (word, n_bpe)
_BPE_APPLY_CTES = f"""merges AS (
      SELECT lhs, rhs,
             row_number() OVER (ORDER BY cnt DESC, lhs, rhs) AS rank
      FROM (
        SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS cnt
        FROM pairs GROUP BY lhs, rhs
        ORDER BY cnt DESC, lhs, rhs LIMIT 50
      )
    ),
    mp AS (SELECT map(list(lhs || chr(1) || rhs), list(rank)) AS m FROM merges),
    step(word, s) AS (
      SELECT word, s FROM sym
      UNION ALL
      SELECT word, s[1:pos-1] || [s[pos] || s[pos+1]] || s[pos+2:]
      FROM (
        SELECT word, s, list_position(rk, list_min(rk)) AS pos,
               list_min(rk) AS mn
        FROM (
          SELECT st.word, st.s,
            list_transform(generate_series(1, len(st.s) - 1),
              i -> coalesce(map_extract(mp.m, st.s[i] || chr(1) || st.s[i+1])[1],
                            {_BPE_SENTINEL})) AS rk
          FROM step st, mp
        )
      )
      WHERE mn < {_BPE_SENTINEL}
    ),
    final AS (
      SELECT st.word, len(st.s) AS n_bpe,
        list_min(list_transform(generate_series(1, len(st.s) - 1),
          i -> coalesce(map_extract(mp.m, st.s[i] || chr(1) || st.s[i+1])[1],
                        {_BPE_SENTINEL}))) AS mn
      FROM step st, mp
    ),
    vocab AS (SELECT word, CAST(n_bpe AS BIGINT) AS n_bpe FROM final
              WHERE mn IS NULL OR mn = {_BPE_SENTINEL}),
    docwc AS (
      SELECT doc_id, u.word AS word, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents) t,
           unnest(t.tk) AS u(word)
      GROUP BY doc_id, u.word
    )"""


@register(
    "bpe_tokenize",
    # Apply the 50 learned merges to the corpus — tiktoken/GPT-2
    # encode-time semantics (merge the lowest-ranked pair, leftmost
    # occurrence first, one at a time, re-evaluating after each). The
    # oracle replays the same greedy loop as a recursive CTE over the
    # vocabulary: each step rewrites one word's symbol list; a word is
    # final when no learned pair occurs in it. Ranks are ordinal under
    # the same total order (cnt DESC, lhs, rhs) on both engines.
    f"""
    WITH RECURSIVE {_BPE_BASE_SQL},
    {_BPE_APPLY_CTES}
    SELECT d.doc_id, CAST(sum(d.cnt) AS BIGINT) AS n_tokens,
           CAST(sum(d.cnt * v.n_bpe) AS BIGINT) AS n_bpe,
           round(CAST(sum(d.cnt * v.n_bpe) AS DOUBLE)
                 / CAST(sum(d.cnt) AS DOUBLE), 6) AS compression
    FROM docwc d JOIN vocab v USING (word)
    GROUP BY d.doc_id
    """,
    stream_hash=True,
)
def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.selection import (
        bpe_pair_counts,
        bpe_token_stats,
    )

    docs = _docs(spark, sf_dir)
    # 50-row driver collect: the merge list is the broadcast-tiny model
    # artifact (same pattern as the k-means centroids)
    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe_pair_counts(docs, top_n=50).collect()
    ]
    return bpe_token_stats(docs, merges)


@register(
    "zorder_layout",
    # Morton (z-order) codes over two synthetic filter dimensions —
    # the write-time clustering key that makes parquet row-group
    # min/max stats selective on both columns at once. Pure integer
    # bit math, identical on both engines.
    f"""
    SELECT doc_id,
           doc_id % 256 AS x,
           n_chars % 256 AS y,
           {morton_code_sql('(doc_id % 256)', '(n_chars % 256)', 8)} AS zcode
    FROM documents
    """,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.functions.layout import morton_code

    docs = _docs(spark, sf_dir)
    x = (F.col("doc_id") % 256).alias("x")
    y = (F.col("n_chars") % 256).alias("y")
    return docs.select(
        "doc_id", x, y, morton_code(F.col("doc_id") % 256, F.col("n_chars") % 256, 8).alias("zcode")
    )


_Q10_START = 881971200  # 1997-12-13 UTC; window = 90 days
_Q10_END = _Q10_START + 90 * 86400


@register(
    "returned_items",
    # TPC-H Q10 shape: returned-item reporting — customers whose
    # returned lineitems ('R') in a 90-day order window lost the most
    # revenue; customer x nation broadcast, money through DECIMAL,
    # deterministic top-20.
    f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(c.c_acctbal AS DOUBLE) AS acctbal,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND floor(epoch(o.o_orderdate)) >= {_Q10_START}
      AND floor(epoch(o.o_orderdate)) < {_Q10_END}
    GROUP BY c.c_custkey, c.c_name, n.n_name, acctbal
    ORDER BY revenue DESC, c.c_custkey LIMIT 20
    """,
)
def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.session import ensure_reader_confs

    ensure_reader_confs(spark)
    c = _pq(spark, f"{sf_dir}/customer.parquet")
    n = _pq(spark, f"{sf_dir}/nation.parquet")
    o = _pq(spark, f"{sf_dir}/orders.parquet")
    o = o.withColumn("_ots", _ts_sec_col(o, "o_orderdate")).filter(
        (F.col("_ots") >= _Q10_START) & (F.col("_ots") < _Q10_END)
    )
    li = _pq(spark, f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        li.join(o.select("o_orderkey", "o_custkey"),
                li["l_orderkey"] == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            "c_custkey",
            "c_name",
            "n_name",
            c["c_acctbal"].cast("double").alias("acctbal"),
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "bpe_fertility",
    # Tokenizer fertility by language (BPE pieces per whitespace word)
    # — the standard multilingual tokenizer-equity metric: a shared
    # vocabulary over-segments under-represented languages, and this
    # surfaces it per lang. Same recursive BPE-apply machinery as
    # bpe_tokenize, aggregated by documents.lang.
    f"""
    WITH RECURSIVE {_BPE_BASE_SQL},
    {_BPE_APPLY_CTES},
    langs AS (SELECT doc_id, lang FROM documents)
    SELECT l.lang,
           CAST(count(DISTINCT d.doc_id) AS BIGINT) AS n_docs,
           CAST(sum(d.cnt) AS BIGINT) AS n_tokens,
           CAST(sum(d.cnt * v.n_bpe) AS BIGINT) AS n_bpe,
           round(CAST(sum(d.cnt * v.n_bpe) AS DOUBLE)
                 / CAST(sum(d.cnt) AS DOUBLE), 6) AS fertility
    FROM docwc d JOIN vocab v USING (word) JOIN langs l USING (doc_id)
    GROUP BY l.lang
    """,
)
def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.selection import (
        bpe_pair_counts,
        bpe_token_stats,
    )

    docs = _docs(spark, sf_dir)
    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe_pair_counts(docs, top_n=50).collect()
    ]
    stats = bpe_token_stats(docs, merges)
    return (
        stats.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_bpe").alias("n_bpe"),
            F.round(
                F.sum("n_bpe").cast("double") / F.sum("n_tokens").cast("double"),
                6,
            ).alias("fertility"),
        )
    )


@register(
    "ccnet_buckets",
    # CCNet's head/middle/tail split (Wenzek et al. 2020): tertiles of
    # the per-doc LM cross-entropy (doc_entropy's unigram proxy), most
    # fluent third = head. ntile over a total order is rank-exact on
    # both engines; at 100 TB the same split uses approx tertile
    # boundaries broadcast into a map-side comparison instead of a
    # global window.
    f"""
    WITH ex AS (
      SELECT doc_id, u.token
      FROM (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents) t,
           unnest(t.tk) AS u(token)
    ),
    counts AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM ex GROUP BY token),
    total AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM counts),
    probs AS (SELECT token, CAST(c AS DOUBLE) / (SELECT total FROM total) AS p FROM counts),
    xents AS (
      SELECT ex.doc_id, round(avg(-ln(p.p)), 6) AS xent
      FROM ex JOIN probs p USING (token) GROUP BY ex.doc_id
    )
    SELECT doc_id, xent,
      CASE ntile(3) OVER (ORDER BY xent, doc_id)
        WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
    FROM xents
    """,
)
def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.ranking import exact_ntile
    from rag_content_spark.operators.text_analysis import unigram_logloss

    x = unigram_logloss(_docs(spark, sf_dir)).select("doc_id", "xent")
    # exact ntile(3) WITHOUT a corpus-sized unpartitioned window: range
    # repartition + per-slice ranks + broadcast offsets (operators/
    # ranking.py) — identical output to the oracle's global ntile
    b = exact_ntile(x, ["xent", "doc_id"], n=3, bucket_col="_b")
    return b.select(
        "doc_id",
        "xent",
        F.when(F.col("_b") == 1, "head")
        .when(F.col("_b") == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


_HTML_STRIP_SPARK = [
    (r"(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>", " "),
    (r"(?s)<[^>]+>", " "),
]
# identical passes; RE2-safe (alternation, not the backreference form
# sources/warc.py can use under Java regex)
_HTML_STRIP_SQL = [
    ("(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>", " "),
    ("(?s)<[^>]+>", " "),
]


@register(
    "hourly_profile",
    # Hour-of-day seasonality per event type — pure integer epoch
    # arithmetic (no calendar functions, whose timezone/DST rules are
    # the classic cross-engine divergence).
    """
    SELECT (CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600 AS hour,
           event_type,
           count(*) AS n
    FROM events GROUP BY hour, event_type
    """,
)
def q_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.select(
            F.expr("(ts_sec % 86400) DIV 3600").alias("hour"), "event_type"
        )
        .groupBy("hour", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "id_gaps",
    # Gaps-and-islands complement: ranges missing from the event_id
    # sequence (every 7th id filtered out deterministically so gaps
    # exist) — lead() over the surviving ids, pure integer bounds.
    """
    WITH e AS (SELECT event_id FROM events WHERE event_id % 7 <> 0),
    n AS (SELECT event_id, lead(event_id) OVER (ORDER BY event_id) AS nxt FROM e)
    SELECT event_id + 1 AS gap_start, nxt - 1 AS gap_end,
           CAST(nxt - event_id - 1 AS BIGINT) AS gap_len
    FROM n WHERE nxt - event_id > 1
    """,
)
def q_id_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.ranking import exact_global_lead

    ev = _events(spark, sf_dir).filter(F.col("event_id") % 7 != 0)
    # distributed lead: range slices + boundary stitch (operators/
    # ranking.py) — no corpus-sized single-partition window
    n = exact_global_lead(
        ev.select("event_id"), "event_id", lead_col="nxt"
    )
    return n.filter(F.col("nxt") - F.col("event_id") > 1).select(
        (F.col("event_id") + 1).alias("gap_start"),
        (F.col("nxt") - 1).alias("gap_end"),
        (F.col("nxt") - F.col("event_id") - 1).cast("bigint").alias("gap_len"),
    )


@register(
    "locf_values",
    # Last-observation-carried-forward: error events get their value
    # nulled (deterministic synthesis), then each row carries the most
    # recent non-null value per user — IGNORE NULLS window semantics,
    # values copied not computed (no float arithmetic to diverge).
    """
    WITH e AS (
      SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      FROM events
    )
    SELECT user_id, event_id, ts_sec, v,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts_sec, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS v_filled
    FROM e
    """,
    stream_hash=True,
)
def q_locf_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "user_id",
        "event_id",
        "ts_sec",
        F.when(F.col("event_type") == "error", F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts_sec",
        "v",
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
    )


@register(
    "weekly_growth",
    # Week-over-week growth: epoch-week bucketing (integer division),
    # lag window, ratio rounded once — the reporting shape on top of
    # the event stream.
    """
    WITH w AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week,
             count(*) AS n
      FROM events GROUP BY week
    )
    SELECT week, CAST(n AS BIGINT) AS n,
           CAST(lag(n) OVER (ORDER BY week) AS BIGINT) AS prev_n,
           round(CAST(n - lag(n) OVER (ORDER BY week) AS DOUBLE)
                 / lag(n) OVER (ORDER BY week), 6) AS wow_growth
    FROM w
    """,
)
def q_weekly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = (
        ev.select(F.expr("ts_sec DIV 604800").alias("week"))
        .groupBy("week")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    win = Window.orderBy("week")
    prev = F.lag("n").over(win)
    return w.select(
        "week",
        F.col("n").cast("bigint").alias("n"),
        prev.cast("bigint").alias("prev_n"),
        F.round((F.col("n") - prev).cast("double") / prev, 6).alias(
            "wow_growth"
        ),
    )


@register(
    "median_latency",
    # EXACT median of the conversion latencies by rank selection (the
    # two middle BIGINTs averaged) — engine-built-in medians interpolate
    # with float math that need not agree cross-engine; picking ranked
    # integers does. One row: n, median_latency_sec.
    """
    WITH e AS (
      SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
      FROM events WHERE event_type IN ('signup', 'purchase')
    ),
    s AS (SELECT user_id, min(ts_sec) AS signup_ts FROM e
          WHERE event_type = 'signup' GROUP BY user_id),
    p AS (
      SELECT e.user_id, min(e.ts_sec) AS purchase_ts
      FROM e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts_sec >= s.signup_ts
      GROUP BY e.user_id
    ),
    lat AS (
      SELECT (p.purchase_ts - s.signup_ts) AS latency_sec
      FROM s JOIN p ON p.user_id = s.user_id
    ),
    ranked AS (
      SELECT latency_sec,
             row_number() OVER (ORDER BY latency_sec) AS rn,
             count(*) OVER () AS n
      FROM lat
    )
    SELECT CAST(max(n) AS BIGINT) AS n,
           round(avg(CAST(latency_sec AS DOUBLE)), 6) AS median_latency_sec
    FROM ranked
    WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
    """,
)
def q_median_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.ranking import ranked_with_total

    lat = q_conversion_latency(spark, sf_dir).select("latency_sec")
    # exact rank-selected median WITHOUT the single-partition
    # row_number/count() OVER () pair: distributed ranks + the total
    # from the rank computation's own offsets (operators/ranking.py).
    # Ties in latency_sec get arbitrary consecutive ranks — the SELECTED
    # VALUES at the two middle positions are order-independent.
    ranked, total = ranked_with_total(
        lat, ["latency_sec"], "rn", num_partitions=None
    )
    mid = ranked.filter(
        F.col("rn").isin((total + 1) // 2, (total + 2) // 2)
    )
    return mid.agg(
        F.lit(total).cast("bigint").alias("n"),
        F.round(F.avg(F.col("latency_sec").cast("double")), 6).alias(
            "median_latency_sec"
        ),
    )


@register(
    "html_plain",
    # The crawl-scale HTML -> text pass (warc_responses_to_documents'
    # cheap extractor) with an exact oracle: synthesized HTML wrapping
    # of the corpus, script/style dropped (RE2-safe alternation — no
    # backreferences), tags to spaces, whitespace collapsed.
    f"""
    WITH h AS (
      SELECT doc_id,
        '<html><head><script>var x=1;</script><style>p{{{{}}}}</style></head>'
        || '<body><h1>Doc ' || doc_id || '</h1><p>' || text || '</p></body></html>'
          AS html
      FROM documents
    )
    SELECT doc_id,
      trim(regexp_replace(
        {''.join('')}regexp_replace(regexp_replace(html,
          '{_HTML_STRIP_SQL[0][0]}', ' ', 'g'),
          '{_HTML_STRIP_SQL[1][0]}', ' ', 'g'),
        '\\s+', ' ', 'g')) AS plain
    FROM h
    """,
)
def q_html_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    html = F.concat(
        F.lit(
            "<html><head><script>var x=1;</script><style>p{}</style></head>"
            "<body><h1>Doc "
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p></body></html>"),
    )
    c = html
    for pat, rep in _HTML_STRIP_SPARK:
        c = F.regexp_replace(c, pat, rep)
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return docs.select("doc_id", c.alias("plain"))


@register(
    "md_plain",
    # Markdown -> plain training text: the synthesized md corpus gets
    # deterministic literal markup injected (bold around 'value', a
    # link around 'table'), then markdown_to_text strips headings,
    # emphasis, links, inline code — same regex subset (no lookarounds)
    # rendering identically under Java regex and RE2.
    f"""
    WITH md AS (SELECT doc_id, {_md_doc_sql()} AS m FROM documents),
    marked AS (
      SELECT doc_id,
        replace(replace(m, 'value', '**value**'),
                'table', '[table](http://t)') AS m
      FROM md
    )
    SELECT doc_id, {markdown_to_text_sql('m')} AS plain
    FROM marked
    """,
)
def q_md_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.functions.text import markdown_to_text

    md = _docs(spark, sf_dir).select("doc_id", _md_doc_expr().alias("m"))
    marked = md.select(
        "doc_id",
        F.replace(
            F.replace(F.col("m"), F.lit("value"), F.lit("**value**")),
            F.lit("table"),
            F.lit("[table](http://t)"),
        ).alias("m"),
    )
    return marked.select("doc_id", markdown_to_text("m").alias("plain"))


@register(
    "conversion_latency",
    # Time-to-conversion: per user, seconds from first signup to the
    # first purchase AT OR AFTER it (purchases before signup don't
    # count) — exact integer event-time math, the product-analytics
    # companion of conversion_funnel.
    """
    WITH e AS (
      SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
      FROM events WHERE event_type IN ('signup', 'purchase')
    ),
    s AS (SELECT user_id, min(ts_sec) AS signup_ts FROM e
          WHERE event_type = 'signup' GROUP BY user_id),
    p AS (
      SELECT e.user_id, min(e.ts_sec) AS purchase_ts
      FROM e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts_sec >= s.signup_ts
      GROUP BY e.user_id
    )
    SELECT s.user_id, s.signup_ts,
           p.purchase_ts,
           (p.purchase_ts - s.signup_ts) AS latency_sec
    FROM s JOIN p ON p.user_id = s.user_id
    """,
)
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).filter(
        F.col("event_type").isin("signup", "purchase")
    ).select("user_id", "event_type", "ts_sec")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_sec").alias("signup_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts_sec") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts_sec").alias("purchase_ts"))
    )
    return s.join(p, "user_id").select(
        "user_id",
        "signup_ts",
        "purchase_ts",
        (F.col("purchase_ts") - F.col("signup_ts")).alias("latency_sec"),
    )


@register(
    "small_quantity_revenue",
    # TPC-H Q17 shape: revenue from lineitems whose quantity is below
    # 20% of their part's average — the correlated-scalar-subquery
    # pattern, decorrelated to a per-part aggregate + join (what the
    # optimizer does; written explicitly so the join is broadcastable).
    # Threshold compare on DECIMAL; avg_yearly in exact integer
    # MICRO-units (floor(sum * 1e6 / 7)) — the double form's conversion
    # ulp falls below the 6-dp comparison granularity past 10x (the
    # pricing_summary scale-boundary class).
    """
    WITH avg_qty AS (
      SELECT l_partkey,
             CAST(avg(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS aq
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_small,
           -- the *100 runs in HUGEINT: at ~sf1000 money magnitudes the
           -- BIGINT intermediate (sum_micro * 100 ~ 3e18+) overflowed
           -- int64 on BOTH engines (caught by the r10 magnitude probe);
           -- the RESULT is rendered as a decimal string (volume_shipping
           -- pattern, r10 advice) — a final BIGINT cast kept an int64
           -- ceiling ~20x above the probed magnitude where the engines
           -- diverge in failure mode (DuckDB raises, Spark nulls)
           CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) * 10000
                     AS HUGEINT) * 100 // 7 AS VARCHAR) AS avg_yearly_micro
    FROM lineitem l JOIN avg_qty a ON l.l_partkey = a.l_partkey
    WHERE CAST(l.l_quantity AS DECIMAL(18,6)) < CAST(0.2 AS DECIMAL(18,6)) * a.aq
    """,
)
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _pq(spark, f"{sf_dir}/lineitem.parquet")
    avg_qty = li.groupBy("l_partkey").agg(
        F.avg(F.col("l_quantity").cast("decimal(18,6)"))
        .cast("decimal(18,6)")
        .alias("aq")
    )
    return (
        li.join(avg_qty, "l_partkey")
        .filter(
            F.col("l_quantity").cast("decimal(18,6)")
            < F.lit(0.2).cast("decimal(18,6)") * F.col("aq")
        )
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            # sum has scale 4, so sum*10000 is an exact integer; the
            # *100 DIV 7 must run in DECIMAL(38,0)/HUGEINT — at ~sf1000
            # money magnitudes _s4*100 (~3e18+) overflowed BIGINT on
            # both engines (r10 magnitude-probe find)
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
                * F.lit(10000)
            )
            .cast("decimal(38,0)")
            .alias("_s4"),
        )
        .select(
            "n_small",
            # floor division kept entirely in DECIMAL(38,0): Spark's DIV
            # returns LONG, which re-imposed the int64 ceiling on the
            # QUOTIENT (r10 advice) — (n - n%7)/7 is exact and the /7 of
            # an exactly-divisible decimal has no rounding; rendered as
            # a string like the oracle's HUGEINT
            F.expr(
                "CAST(CAST((_s4 * CAST(100 AS DECIMAL(38,0))"
                " - pmod(_s4 * CAST(100 AS DECIMAL(38,0)), 7)) / 7"
                " AS DECIMAL(38,0)) AS STRING)"
            ).alias("avg_yearly_micro"),
        )
    )


@register(
    "rolling_30min",
    # RANGE-frame window: per event, the count and value-sum of the
    # trailing 30 minutes (value-based frame incl. peers — a ROWS frame
    # cannot express this). Values sum as fixed-point BIGINT micros so
    # the windowed sum is order-exact on both engines.
    """
    WITH e AS (
      SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
             CAST(round(value * 1000000) AS BIGINT) AS v6
      FROM events
    )
    SELECT user_id, event_id, ts_sec,
           CAST(count(*) OVER w AS BIGINT) AS n_30min,
           round(CAST(sum(v6) OVER w AS DOUBLE) / 1000000, 6) AS sum_value_30min
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
                 RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW)
    """,
    stream_hash=True,
)
def q_rolling_30min(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "user_id",
        "event_id",
        "ts_sec",
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("v6"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec")
        .rangeBetween(-1800, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts_sec",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_30min"),
        F.round(F.sum("v6").over(w).cast("double") / 1_000_000, 6).alias(
            "sum_value_30min"
        ),
    )


@register(
    "session_window_native",
    # Spark's BUILT-IN session_window aggregation (the declarative twin
    # of the custom stateful sessionizer): merged-window semantics — a
    # new session starts only when the gap is STRICTLY > 30 min. Spark
    # merges an event whose start equals the current session end
    # (UpdatingSessionsIterator merges on start <= end, so a gap of
    # exactly 1800 s stays one session — sf0.1 user 511 pins this), and
    # session_end = last event + gap. The oracle replicates exactly
    # those semantics.
    """
    WITH e AS (
      SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events
    ),
    marked AS (
      SELECT user_id, ts_sec,
             CASE WHEN lag(ts_sec) OVER w IS NULL
                       OR ts_sec - lag(ts_sec) OVER w > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
    ),
    sess AS (
      SELECT user_id, ts_sec,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_sec
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           min(ts_sec) AS session_start,
           max(ts_sec) + 1800 AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    stream_hash=True,
)
def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "user_id", F.timestamp_seconds(F.col("ts_sec")).alias("ts")
    )
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_seconds(F.col("session_window.start")).alias("session_start"),
            F.unix_seconds(F.col("session_window.end")).alias("session_end"),
            "n_events",
        )
    )


@register(
    "events_pivot",
    # Pivot (long -> wide): per-user event-type counts as columns. The
    # pivot value list is EXPLICIT — with an inferred list Spark runs a
    # distinct scan first and the column set drifts with the data.
    f"""
    SELECT user_id,
      {', '.join(f"CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS n_{t}" for t in _EVENT_TYPES)}
    FROM events GROUP BY user_id
    """,
)
def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    pivoted = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    )


@register(
    "events_unpivot",
    # Unpivot (wide -> long, the melt inverse of events_pivot): the
    # per-user count columns stack back to (user_id, event_type, n),
    # zero rows dropped — round-trips to the plain groupBy counts.
    f"""
    WITH wide AS (
      SELECT user_id,
        {', '.join(f"CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS n_{t}" for t in _EVENT_TYPES)}
      FROM events GROUP BY user_id
    )
    SELECT user_id, event_type, n FROM (
      {' UNION ALL '.join(f"SELECT user_id, '{t}' AS event_type, n_{t} AS n FROM wide" for t in _EVENT_TYPES)}
    ) WHERE n > 0
    """,
)
def q_events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = q_events_pivot(spark, sf_dir)
    long = wide.unpivot(
        "user_id",
        [f"n_{t}" for t in _EVENT_TYPES],
        "event_type",
        "n",
    ).select(
        "user_id",
        F.expr("substring(event_type, 3)").alias("event_type"),
        "n",
    )
    return long.filter(F.col("n") > 0)


@register(
    "sales_cube",
    # CUBE: all four grouping combinations with GROUPING() markers —
    # the marker distinguishes a subtotal row from a genuine NULL key
    # (the correctness detail coalesce-to-'ALL' schemes get wrong).
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _pq(spark, f"{sf_dir}/lineitem.parquet")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            # grouping() must be computed INSIDE the cube aggregate —
            # a downstream select can no longer see the grouping id
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "g_flag",
            "g_status",
            "sum_qty",
            "n_rows",
        )
    )


_RRF_TERMS_B = ["table", "scan", "hash"]
_RRF_TERMS_B_SQL = "('table', 'scan', 'hash')"


_RRF_SHORTLIST = 100  # per-side top-N fused; N >= the fused k bound (20)


def _rrf_side_sql(terms_sql: str) -> str:
    # mirror of the Spark shortlist: each side contributes ranks only
    # inside its top-N by (score desc, id) — the standard RRF deployment
    # (fuse bounded retrieval lists, not corpus-wide rankings)
    return f"""(
      SELECT doc_id, rank FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY kw_score DESC, doc_id) AS rank
        FROM (
          WITH post AS (
            SELECT doc_id, u.token, count(*) AS tf
            FROM (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents) t,
                 unnest(t.tk) AS u(token)
            WHERE u.token IN {terms_sql}
            GROUP BY doc_id, u.token
          ),
          idf AS (
            SELECT token, ln((SELECT count(*) FROM documents)::DOUBLE / count(*)) AS idf
            FROM post GROUP BY token
          )
          SELECT p.doc_id, round(sum(p.tf * i.idf), 6) AS kw_score
          FROM post p JOIN idf i USING (token)
          GROUP BY p.doc_id
        )
      ) WHERE rank <= {_RRF_SHORTLIST}
    )"""


@register(
    "rrf_hybrid",
    # Reciprocal Rank Fusion (Cormack et al. 2009; the Elastic/Vespa
    # hybrid default, k=60): fuse two query formulations' TF-IDF
    # rankings by sum 1/(60+rank) — rank-based, so no score
    # normalization and the fusion is exact given exact ranks.
    f"""
    WITH a AS {_rrf_side_sql(_KW_TERMS_SQL)},
    b AS {_rrf_side_sql(_RRF_TERMS_B_SQL)},
    parts AS (
      SELECT doc_id, 1.0 / (60 + rank) AS c FROM a
      UNION ALL
      SELECT doc_id, 1.0 / (60 + rank) AS c FROM b
    )
    SELECT doc_id, round(sum(c), 6) AS rrf_score
    FROM parts GROUP BY doc_id
    ORDER BY rrf_score DESC, doc_id LIMIT 20
    """,
)
def q_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.search import (
        keyword_scores,
        rrf_fuse,
        shortlist_ranks,
    )

    docs = _docs(spark, sf_dir)

    def _ranked(terms):
        # per-side top-N via TakeOrdered (parallel), ranks computed over
        # the <=N-row shortlist — no corpus-sized unpartitioned window
        return shortlist_ranks(
            keyword_scores(docs, terms),
            n=_RRF_SHORTLIST,
            score_col="kw_score",
            id_col="doc_id",
        )

    return rrf_fuse(
        [_ranked(_KW_TERMS), _ranked(_RRF_TERMS_B)], top_n=20
    )


@register(
    "mmr_rerank",
    # MMR diversity re-ranking (Carbonell & Goldstein 1998): greedy
    # lam*rel - (1-lam)*max-sim-to-selected over the top-30 shortlist,
    # lambda=0.7, k=10. Fixed-point integer scores make the greedy
    # selection engine-exact; the oracle replays it as a single-row
    # recursive CTE whose state is the selected-id list.
    f"""
    WITH RECURSIVE
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT vec_id AS id, embedding,
             CAST(round({cosine_sql('embedding', 'qv')} * 1000000) AS BIGINT)
               AS rel6
      FROM embeddings, q
    ),
    cands AS (SELECT id, embedding, rel6 FROM scored
              ORDER BY rel6 DESC, id LIMIT 30),
    sims AS (
      SELECT a.id AS ia, b.id AS ib,
             CAST(round({cosine_sql('a.embedding', 'b.embedding')} * 1000000)
                  AS BIGINT) AS s6
      FROM cands a, cands b WHERE a.id <> b.id
    ),
    mp AS (SELECT map(list(ia || '|' || ib), list(s6)) AS m FROM sims),
    state(step, sel) AS (
      SELECT 1, [(SELECT id FROM cands ORDER BY rel6 DESC, id LIMIT 1)]
      UNION ALL
      SELECT s.step + 1,
        s.sel || [(
          SELECT c.id FROM cands c, mp
          WHERE NOT list_contains(s.sel, c.id)
          ORDER BY 70 * c.rel6 - 30 * list_max(list_transform(s.sel,
                    x -> coalesce(map_extract(mp.m, c.id || '|' || x)[1], 0)))
                   DESC,
                   c.id
          LIMIT 1)]
      FROM state s WHERE s.step < 10
    )
    SELECT g.i AS rank, t.sel[g.i] AS vec_id,
           (SELECT round(CAST(c.rel6 AS DOUBLE) / 1000000, 6)
            FROM cands c WHERE c.id = t.sel[g.i]) AS rel
    FROM (SELECT sel FROM state WHERE step = 10) t,
         unnest(generate_series(1, len(t.sel))) AS g(i)
    """,
)
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.search import mmr_rerank

    emb = _emb(spark, sf_dir)
    qvec = _emb_driver(sf_dir, vec_ids=[0])[0][1]  # guide §5: no collect job
    return mmr_rerank(emb, list(qvec), k=10, shortlist=30, lam_pct=70)


@register(
    "pagerank",
    # Fixed-point PageRank over a synthesized domain link graph (ring +
    # doc-derived edges, so every node has in- and out-links): 10 exact
    # integer power iterations — floor-divided BIGINT ranks make the
    # iterative algorithm value-hash checkable, the weighted-propagation
    # extension of the dedup connected-components trick.
    """
    WITH RECURSIVE
    ring AS (SELECT 'd' || r.range AS src, 'd' || ((r.range + 1) % 7) AS dst
             FROM range(0, 7) r),
    docedges AS (SELECT 'd' || (doc_id % 7) AS src,
                        'd' || ((doc_id * 3 + 1) % 7) AS dst
                 FROM documents),
    edges AS (SELECT src, dst FROM ring UNION ALL SELECT src, dst FROM docedges),
    nodes AS (SELECT DISTINCT node
              FROM (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
    outdeg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS out
               FROM edges GROUP BY src),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    pr(it, node, r) AS (
      SELECT 0, node, CAST((SELECT CAST(1000000000 AS BIGINT) // n FROM nn) AS BIGINT)
      FROM nodes
      UNION ALL
      SELECT c.it + 1, c.node,
             CAST((SELECT CAST(15 AS BIGINT) * 1000000000 // 100 // n FROM nn)
                  + CAST(85 AS BIGINT) * c.contrib // 100 AS BIGINT)
      FROM (
        SELECT p.it, e.dst AS node, CAST(sum(p.r // o.out) AS BIGINT) AS contrib
        FROM pr p JOIN edges e ON e.src = p.node JOIN outdeg o ON o.node = p.node
        GROUP BY p.it, e.dst
      ) c
      WHERE c.it < 10
    )
    SELECT node, round(CAST(r AS DOUBLE) / 1000000000, 6) AS rank6
    FROM pr WHERE it = 10
    """,
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.graph import pagerank_fixed

    ring = spark.range(7).select(
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("src"),
        F.concat(F.lit("d"), ((F.col("id") + 1) % 7).cast("string")).alias("dst"),
    )
    docedges = _docs(spark, sf_dir).select(
        F.concat(F.lit("d"), (F.col("doc_id") % 7).cast("string")).alias("src"),
        F.concat(
            F.lit("d"), ((F.col("doc_id") * 3 + 1) % 7).cast("string")
        ).alias("dst"),
    )
    # toy-graph instantiation: single-partition edges keep the
    # 10-iteration DAG at one task per stage (the operator itself is
    # partitioning-agnostic — real edge tables arrive partitioned)
    return pagerank_fixed(ring.unionAll(docedges).coalesce(1), iters=10)


@register(
    "bitext_margin",
    # Margin-based bitext mining (Artetxe & Schwenk 2019): even vec_ids
    # are the "source language", odd the "target"; best target per
    # source by cosine, margin = best/mean(top-4) over fixed-point
    # scores (integer top-k sum -> engine-exact), keep margin >= 1.05.
    # scale_safe=False: exact all-pairs ground truth for the registered
    # scale path bitext_margin_ivf; skipped above sf0.1 by tier.
    f"""
    WITH a AS (SELECT vec_id AS id_a, embedding AS ea FROM embeddings WHERE vec_id % 2 = 0),
    b AS (SELECT vec_id AS id_b, embedding AS eb FROM embeddings WHERE vec_id % 2 = 1),
    scored AS (
      SELECT id_a, id_b,
             CAST(round({cosine_sql('ea', 'eb')} * 1000000) AS BIGINT) AS s6
      FROM a, b
    ),
    ranked AS (
      SELECT id_a, id_b, s6,
             row_number() OVER (PARTITION BY id_a ORDER BY s6 DESC, id_b) AS rn
      FROM scored
    ),
    agg AS (
      SELECT id_a,
             arg_min(id_b, rn) AS id_b,
             CAST(max(s6) AS BIGINT) AS best6,
             CAST(sum(s6) AS BIGINT) AS sum6,
             CAST(count(*) AS BIGINT) AS nk
      FROM ranked WHERE rn <= 4 GROUP BY id_a
    )
    SELECT id_a, id_b,
           round(CAST(best6 AS DOUBLE) / 1000000, 6) AS score,
           round(CAST(best6 AS DOUBLE) * nk / sum6, 6) AS margin
    FROM agg
    WHERE round(CAST(best6 AS DOUBLE) * nk / sum6, 6) >= 1.05
    """,
    scale_safe=False,
)
def q_bitext_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    # registered path = the vectorized twin (numpy cosine matrix per
    # Arrow batch; 25 s -> ~1 s at sf0.1) — equality-pinned against the
    # exact declarative mine_bitext in tests, same ivf_pq_topk pattern
    from rag_content_spark.operators.search import mine_bitext_np

    emb = _emb(spark, sf_dir)
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    return mine_bitext_np(src, tgt, k=4, margin_threshold=1.05)


@register(
    "bitext_margin_ivf",
    # The beyond-memory bitext path: targets bucketed into IVF cells
    # (centroids = base-id-range target vectors with vec_id % 50 == 1 —
    # deterministic, SQL-expressible, and BOUNDED: nlist is a model
    # artifact, not corpus-linear, same seeding as hard_negatives_ivf /
    # retrieval_metrics_ivf), sources probe their 3 nearest cells,
    # margin ranked over the probed shortlist only. The oracle
    # replicates the cell assignment, the probe set, and the
    # actual-top-width margin exactly.
    f"""
    WITH a AS (SELECT vec_id AS id_a, embedding AS ea FROM embeddings WHERE vec_id % 2 = 0),
    b AS (SELECT vec_id AS id_b, embedding AS eb FROM embeddings WHERE vec_id % 2 = 1),
    cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
             WHERE vec_id % 50 = 1 AND vec_id < 100000),
    assigned AS (
      SELECT id_b, eb, cid FROM (
        SELECT b.id_b, b.eb, c.cid,
               row_number() OVER (PARTITION BY b.id_b
                                  ORDER BY round({euclidean_sql('b.eb', 'c.cv')}, 6) ASC,
                                           c.cid ASC) AS rk
        FROM b CROSS JOIN cent c
      ) WHERE rk = 1
    ),
    probes AS (
      SELECT id_a, ea, cid FROM (
        SELECT a.id_a, a.ea, c.cid,
               row_number() OVER (PARTITION BY a.id_a
                                  ORDER BY round({euclidean_sql('a.ea', 'c.cv')}, 6) ASC,
                                           c.cid ASC) AS rk
        FROM a CROSS JOIN cent c
      ) WHERE rk <= 3
    ),
    scored AS (
      SELECT p.id_a, t.id_b,
             CAST(round({cosine_sql('p.ea', 't.eb')} * 1000000) AS BIGINT) AS s6
      FROM probes p JOIN assigned t ON p.cid = t.cid
    ),
    ranked AS (
      SELECT id_a, id_b, s6,
             row_number() OVER (PARTITION BY id_a ORDER BY s6 DESC, id_b) AS rn
      FROM scored
    ),
    agg AS (
      SELECT id_a,
             arg_min(id_b, rn) AS id_b,
             CAST(max(s6) AS BIGINT) AS best6,
             CAST(sum(s6) AS BIGINT) AS sum6,
             CAST(count(*) AS BIGINT) AS nk
      FROM ranked WHERE rn <= 4 GROUP BY id_a
    )
    SELECT id_a, id_b,
           round(CAST(best6 AS DOUBLE) / 1000000, 6) AS score,
           round(CAST(best6 AS DOUBLE) * nk / sum6, 6) AS margin
    FROM agg
    WHERE round(CAST(best6 AS DOUBLE) * nk / sum6, 6) >= 1.05
    """,
)
def q_bitext_margin_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.search import mine_bitext_ivf

    emb = _emb(spark, sf_dir)
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    # centroids: one driver collect of a deterministic BOUNDED sample of
    # target vectors (nlist = model artifact, not corpus-linear — the
    # base-id-range bound keeps the oracle's assignment replay linear at
    # any replica scale, same seeding as the other IVF eval siblings)
    # guide §5: no collect job — driver-side pyarrow read of the same
    # bounded centroid sample (r11 continuation; bit-identical, pinned
    # in tests/test_embedding.py::test_emb_driver_mod_rem_max_id)
    centroids = [
        (vid, list(e))
        for vid, e in _emb_driver(sf_dir, mod=50, rem=1, max_id=100000)
    ]
    return mine_bitext_ivf(
        src, tgt, centroids, k=4, nprobe=3, margin_threshold=1.05
    )


@register(
    "c4_clean",
    # C4 line-cleaning rules (Raffel et al. 2020) over the synthesized
    # markdown corpus with '.' appended to every 3rd line (so the
    # terminal-punctuation rule actually partitions): keep lines ending
    # in terminal punct with >= 3 words and no junk markers; keep docs
    # with >= 3 surviving lines. NB DuckDB lambda indices are 1-based,
    # Spark's 0-based — the (i-1) below aligns them.
    f"""
    WITH md AS (SELECT doc_id, {_md_doc_sql()} AS m FROM documents),
    pert AS (
      SELECT doc_id,
        array_to_string(list_transform(string_split(m, chr(10)),
          (l, i) -> CASE WHEN (i - 1) % 3 = 0 THEN l || '.' ELSE l END),
          chr(10)) AS t
      FROM md
    ),
    l AS (
      SELECT doc_id,
        list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)),
                    x -> x <> '') AS lines
      FROM pert
    ),
    k AS (
      SELECT doc_id, lines,
        list_filter(lines, x ->
          right(x, 1) IN ('.', '!', '?', '"')
          AND len(list_filter(regexp_split_to_array(x, '\\s+'), w -> w <> '')) >= 3
          AND NOT contains(lower(x), 'javascript')
          AND NOT contains(lower(x), 'lorem ipsum')
          AND NOT contains(x, '{{')) AS kept
      FROM l
    )
    SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text,
           CAST(len(kept) AS BIGINT) AS n_kept,
           CAST(len(lines) - len(kept) AS BIGINT) AS n_dropped,
           (len(kept) >= 3) AS keep
    FROM k
    """,
    stream_hash=True,
)
def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.quality import c4_line_filter

    # _fan: markdown synth + per-line C4 rules (r11: 0.7 -> 0.4 s)
    md = _fan(_docs(spark, sf_dir)).select("doc_id", _md_doc_expr().alias("_md"))
    pert = md.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.split("_md", "\n"),
                lambda l, i: F.when(i % 3 == 0, F.concat(l, F.lit("."))).otherwise(l),
            ),
            "\n",
        ).alias("text"),
    )
    return c4_line_filter(pert)


_ROBOTS_STAR_SQL = (
    "'# policy' || chr(10) || 'User-agent: googlebot' || chr(10) || "
    "'Disallow: /google-only' || chr(10) || 'User-agent: *' || chr(10) || "
    "'Disallow: /tmp/' || chr(10) || 'Allow: /tmp/pub' || chr(10) || "
    "'Disallow:' || chr(10) || 'Crawl-delay: 10' || chr(10) || "
    "'User-agent: other' || chr(10) || 'Disallow: /'"
)
_ROBOTS_BOT_SQL = "'User-agent: bot' || chr(10) || 'Disallow: /'"


@register(
    "robots_filter",
    # robots.txt politeness gate over a synthesized crawl frontier:
    # parse the 'User-agent: *' section (plain-prefix Allow/Disallow),
    # longest-prefix match with Allow winning length ties; no matching
    # rule or no robots file means allowed. Both engines parse the same
    # bytes with the same line/section walk.
    f"""
    WITH urls AS (
      SELECT doc_id, 'd' || (doc_id % 5) || '.com' AS domain,
        CASE doc_id % 4
          WHEN 0 THEN '/tmp/x' || doc_id
          WHEN 1 THEN '/tmp/pub/' || doc_id
          WHEN 2 THEN '/home/' || doc_id
          ELSE '/tmp/pub' END AS path
      FROM documents
    ),
    robots AS (
      SELECT 'd' || r.range || '.com' AS domain,
        CASE WHEN r.range < 3 THEN {_ROBOTS_STAR_SQL}
             ELSE {_ROBOTS_BOT_SQL} END AS rt
      FROM range(0, 4) r
    ),
    kvt AS (
      SELECT domain,
        list_transform(string_split(rt, chr(10)), l -> {{
          'k': lower(trim(split_part(l, ':', 1))),
          'v': CASE WHEN contains(l, ':')
                    THEN trim(regexp_replace(regexp_replace(l, '^[^:]*:', ''), '#.*$', ''))
                    ELSE '' END
        }}) AS kv
      FROM robots
    ),
    bounds AS (
      SELECT domain, kv,
        list_filter(generate_series(1, len(kv)),
                    i -> kv[i].k = 'user-agent' AND kv[i].v = '*')[1] AS star
      FROM kvt
    ),
    sec AS (
      SELECT domain,
        kv[star + 1 :
           coalesce(list_filter(generate_series(1, len(kv)),
                    i -> kv[i].k = 'user-agent' AND i > star)[1],
                    len(kv) + 1) - 1] AS section
      FROM bounds WHERE star IS NOT NULL
    ),
    rules AS (
      SELECT domain, (r.k = 'allow') AS allow, r.v AS prefix
      FROM sec,
        unnest(list_filter(section, s -> s.k IN ('allow','disallow') AND s.v <> '')) AS u(r)
    ),
    matched AS (
      SELECT u.domain, u.path,
             arg_max(rl.allow, length(rl.prefix) * 2 + CAST(rl.allow AS INT)) AS verdict
      FROM urls u JOIN rules rl ON u.domain = rl.domain
      WHERE starts_with(u.path, rl.prefix)
      GROUP BY u.domain, u.path
    )
    SELECT u.doc_id, u.domain, u.path,
           coalesce(m.verdict, TRUE) AS allowed
    FROM urls u LEFT JOIN matched m ON u.domain = m.domain AND u.path = m.path
    """,
)
def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.robots import (
        filter_allowed_urls,
        parse_robots_rules,
    )

    docs = _docs(spark, sf_dir)
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("d"), (F.col("doc_id") % 5).cast("string"), F.lit(".com")).alias(
            "domain"
        ),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("/tmp/x"), F.col("doc_id").cast("string")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("/tmp/pub/"), F.col("doc_id").cast("string")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("/home/"), F.col("doc_id").cast("string")),
        )
        .otherwise(F.lit("/tmp/pub"))
        .alias("path"),
    )
    star = (
        "# policy\nUser-agent: googlebot\nDisallow: /google-only\n"
        "User-agent: *\nDisallow: /tmp/\nAllow: /tmp/pub\nDisallow:\n"
        "Crawl-delay: 10\nUser-agent: other\nDisallow: /"
    )
    bot = "User-agent: bot\nDisallow: /"
    robots = spark.range(4).select(
        F.concat(F.lit("d"), F.col("id").cast("string"), F.lit(".com")).alias(
            "domain"
        ),
        F.when(F.col("id") < 3, F.lit(star)).otherwise(F.lit(bot)).alias(
            "robots_txt"
        ),
    )
    rules = parse_robots_rules(robots)
    return filter_allowed_urls(urls, rules).select(
        "doc_id", "domain", "path", "allowed"
    )


@register(
    "text_normalize",
    # Canonical normalization for matching/dedup keys: the corpus is
    # deterministically perturbed (accents / case / doubled spaces by
    # doc_id mod 3), then normalized; variants of the same doc collapse
    # to one key. Accent folding is a SHARED translate table, not ICU —
    # that is what makes it hash-matchable cross-engine.
    f"""
    WITH perturbed AS (
      SELECT doc_id,
        CASE doc_id % 3
          WHEN 0 THEN translate(text, 'aeiou', 'áéíóú')
          WHEN 1 THEN upper(text)
          ELSE replace(text, ' ', '  ')
        END AS vtext,
        text
      FROM documents
    )
    SELECT doc_id,
           {normalize_text_sql('vtext')} AS norm,
           ({normalize_text_sql('vtext')} = {normalize_text_sql('text')}) AS collapses
    FROM perturbed
    """,
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.functions.text import normalize_text

    docs = _docs(spark, sf_dir)
    vtext = (
        F.when(F.col("doc_id") % 3 == 0, F.translate("text", "aeiou", "áéíóú"))
        .when(F.col("doc_id") % 3 == 1, F.upper("text"))
        .otherwise(F.regexp_replace("text", " ", "  "))
    )
    p = docs.select("doc_id", vtext.alias("vtext"), "text")
    return p.select(
        "doc_id",
        normalize_text("vtext").alias("norm"),
        (normalize_text("vtext") == normalize_text("text")).alias("collapses"),
    )


@register(
    "corpus_datasheet",
    # One-row corpus datasheet (Gebru et al., "Datasheets for
    # Datasets"): size, token totals, vocabulary, language-mix entropy,
    # exact-dup rate, Gopher keep rate. Every term is a count or an
    # integer-derived ratio rounded once.
    f"""
    WITH t AS (
      SELECT doc_id, lang, text, len({_TOKENS_SQL}) AS n_tok,
             {stable_hash64_sql('text')} AS h
      FROM documents
    ),
    base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS total_tokens,
             CAST(count(DISTINCT h) AS BIGINT) AS n_distinct
      FROM t
    ),
    voc AS (
      SELECT CAST(count(DISTINCT u.token) AS BIGINT) AS vocab_size
      FROM (SELECT {_TOKENS_SQL} AS tk FROM documents) d, unnest(d.tk) AS u(token)
    ),
    lent AS (
      SELECT round(sum(-p * ln(p)), 6) AS lang_entropy
      FROM (
        SELECT CAST(count(*) AS DOUBLE)
               / (SELECT CAST(count(*) AS DOUBLE) FROM t) AS p
        FROM t GROUP BY lang
      )
    ),
    keep AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keep
      FROM (SELECT doc_id FROM (SELECT doc_id, text, {_TOKENS_SQL} AS tok FROM documents)
        WHERE (len(tok) >= 50 AND len(tok) <= 100000)
          AND (CAST(list_sum(list_transform(tok, x -> length(x))) AS DOUBLE) / len(tok) >= 3.0
               AND CAST(list_sum(list_transform(tok, x -> length(x))) AS DOUBLE) / len(tok) <= 10.0)
          AND (CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) / len(tok) <= 0.1)
          AND (CAST(len(list_filter(tok, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(tok) >= 0.8)
          AND (len(list_filter(tok, x -> lower(x) IN {_GOPHER_STOP_SQL})) >= 2))
    )
    SELECT b.n_docs, b.total_tokens, v.vocab_size,
           round(CAST(b.total_tokens AS DOUBLE) / b.n_docs, 6) AS mean_doc_tokens,
           l.lang_entropy,
           round(1.0 - CAST(b.n_distinct AS DOUBLE) / b.n_docs, 6) AS exact_dup_rate,
           round(CAST(k.n_keep AS DOUBLE) / b.n_docs, 6) AS gopher_keep_rate
    FROM base b, voc v, lent l, keep k
    """,
)
def q_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.functions.hashing import stable_hash64
    from rag_content_spark.operators.quality import gopher_rules

    docs = _docs(spark, sf_dir)
    tok = tokens(F.col("text"))
    t = docs.select(
        "doc_id",
        "lang",
        "text",
        F.size(tok).alias("n_tok"),
        stable_hash64(F.col("text")).alias("h"),
    )
    base = t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.count_distinct("h").alias("n_distinct"),
    )
    voc = docs.select(F.explode(tok).alias("token")).agg(
        F.count_distinct("token").alias("vocab_size")
    )
    n_total = t.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    lent = (
        t.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("_c"))
        .join(F.broadcast(n_total))
        .select((F.col("_c").cast("double") / F.col("_n")).alias("p"))
        .agg(F.round(F.sum(-F.col("p") * F.log("p")), 6).alias("lang_entropy"))
    )
    keep = docs.filter(gopher_rules("text")["keep"]).agg(
        F.count(F.lit(1)).alias("n_keep")
    )
    return (
        base.join(F.broadcast(voc))
        .join(F.broadcast(lent))
        .join(F.broadcast(keep))
        .select(
            "n_docs",
            "total_tokens",
            "vocab_size",
            F.round(
                F.col("total_tokens").cast("double") / F.col("n_docs"), 6
            ).alias("mean_doc_tokens"),
            "lang_entropy",
            F.round(
                F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_docs"), 6
            ).alias("exact_dup_rate"),
            F.round(
                F.col("n_keep").cast("double") / F.col("n_docs"), 6
            ).alias("gopher_keep_rate"),
        )
    )


@register(
    "line_stats",
    # Dolma/RedPajama-style per-line quality tagger over the
    # synthesized markdown corpus (has real line structure): non-empty
    # trimmed lines -> count / mean length / end-punct / dup-line /
    # bullet fractions.
    f"""
    WITH md AS (SELECT doc_id, {_md_doc_sql()} AS t FROM documents),
    l AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)),
                         x -> x <> '') AS lines
      FROM md
    )
    SELECT doc_id,
      CAST(len(lines) AS BIGINT) AS n_lines,
      -- coalesce: list_sum([]) is NULL in DuckDB but the Spark fold
      -- yields 0 for zero-non-empty-line docs — both sides must say 0.0
      round(CAST(coalesce(list_sum(list_transform(lines, x -> length(x))), 0) AS DOUBLE)
            / greatest(len(lines), 1), 6) AS mean_line_chars,
      round(CAST(len(list_filter(lines, x -> right(x, 1) IN ('.', '!', '?', '"'))) AS DOUBLE)
            / greatest(len(lines), 1), 6) AS frac_end_punct,
      round(1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)
            / greatest(len(lines), 1), 6) AS frac_dup_lines,
      round(CAST(len(list_filter(lines, x -> starts_with(x, '- ')
                                          OR starts_with(x, '* '))) AS DOUBLE)
            / greatest(len(lines), 1), 6) AS frac_bullet
    FROM l
    """,
)
def q_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.quality import line_stats

    md = _docs(spark, sf_dir).select("doc_id", _md_doc_expr().alias("text"))
    return line_stats(md)


@register(
    "selection_pipeline",
    # End-to-end TARGETED curation: Gopher quality gate -> DSIR
    # importance weights (raw = gated corpus, target = its English
    # subset) -> deterministic Gumbel top-200 resample -> sequence
    # packing. The selection twin of curation_pipeline: same gate and
    # packing stages, importance resampling instead of dedup+rebalance.
    f"""
    WITH gated AS (
      SELECT doc_id, lang, text FROM (
        SELECT doc_id, lang, text, {_TOKENS_SQL} AS tok FROM documents
      )
      WHERE (len(tok) >= 50 AND len(tok) <= 100000)
        AND (CAST(list_sum(list_transform(tok, x -> length(x))) AS DOUBLE) / len(tok) >= 3.0
             AND CAST(list_sum(list_transform(tok, x -> length(x))) AS DOUBLE) / len(tok) <= 10.0)
        AND (CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) / len(tok) <= 0.1)
        AND (CAST(len(list_filter(tok, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(tok) >= 0.8)
        AND (len(list_filter(tok, x -> lower(x) IN {_GOPHER_STOP_SQL})) >= 2)
    ),
    {_dsir_weights_sql(raw_rel="gated")},
    keyed AS (
      SELECT doc_id, logw,
             round(logw - ln(-ln(
               ({stable_hash64_sql("CAST(doc_id AS VARCHAR)", salt="dsir")}
                  % 1000000000 + 0.5) / 1000000000.0)), 6) AS key
      FROM weights
    ),
    selected AS (
      SELECT doc_id, logw FROM keyed ORDER BY key DESC, doc_id LIMIT 200
    ),
    packed AS (
      SELECT s.doc_id, g.lang, s.logw,
             {stable_hash64_sql("CAST(s.doc_id AS VARCHAR)", salt="pack")} % 4 AS shard,
             CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
      FROM selected s JOIN gated g ON g.doc_id = s.doc_id
    )
    SELECT doc_id, lang, logw, shard, n_tokens,
      CAST(floor(
        (CAST(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         - n_tokens) / 500.0) AS BIGINT) AS seq_bucket
    FROM packed
    """,
)
def q_selection_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The targeted-selection flagship: gate -> DSIR resample -> pack.

    The gated corpus is materialized ONCE (localCheckpoint): the plan
    references it four times (target slice, DSIR raw side, the kept
    join, the final stamp-back), and the DSIR feature table inside
    dsir_select is checkpointed too (materialize=True default), so the
    whole pipeline reads `documents` exactly once — previously 16
    scans. target_subset_of_raw=True derives the target distribution
    from the checkpointed feature table via a semi-join instead of
    re-tokenizing the slice (identical integer counts, equality-pinned
    in tests/test_selection.py).
    """
    from rag_content_spark.operators.packing import pack_sequences
    from rag_content_spark.operators.quality import gopher_rules
    from rag_content_spark.operators.selection import dsir_select

    # NO _fan here (r11 attribution): the gate shrinks the corpus, so a
    # pre-gate fan leaves every downstream stage of this multi-stage
    # pipeline scheduling 32 near-empty tasks — measured net-negative
    # (nofan+vectorized-feats was the best variant; OPTIMIZATION_r11.md)
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    gated = docs.filter(gopher_rules("text")["keep"]).localCheckpoint(eager=True)
    target = gated.filter(F.col("lang") == "en")
    # target_flag supersedes the r11 semi-join derivation: the en-slice
    # distribution comes out of the one feature pass (flag carried
    # through the twin), dropping the tids distinct + semi-join and two
    # serialized distribution checkpoints. Same integer counts.
    sel = dsir_select(
        gated, target, k=200, buckets=_DSIR_B,
        target_flag=F.col("lang") == "en",
    ).select("doc_id", "logw")
    kept = gated.join(sel, "doc_id")
    packed = pack_sequences(kept, budget=500, shards=4)
    return packed.join(
        kept.select("doc_id", "lang", "logw"), "doc_id"
    ).select("doc_id", "lang", "logw", "shard", "n_tokens", "seq_bucket")


@register(
    "customer_order_distribution",
    # TPC-H Q13 shape: LEFT OUTER join with a join-condition filter
    # (orders of one priority class excluded IN THE ON CLAUSE, so
    # customers keep their row at count 0), per-customer order count,
    # then the count-of-counts distribution.
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _pq(spark, f"{sf_dir}/customer.parquet").select("c_custkey")
    o = (
        _pq(spark, f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@register(
    "disjunctive_revenue",
    # TPC-H Q19 shape: revenue under an OR-of-ANDs predicate spanning
    # both join sides (brand x size-band x quantity-band) — the classic
    # pushdown/join-planning stress. part broadcasts; money through
    # DECIMAL.
    """
    SELECT CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DECIMAL(38,8)) AS VARCHAR)
             AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#2'  AND p.p_size BETWEEN 1  AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#4'  AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 35)
       OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 25 AND 50)
    """,
)
def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _pq(spark, f"{sf_dir}/lineitem.parquet")
    p = _pq(spark, f"{sf_dir}/part.parquet")
    cond = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#4")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 35)
    ) | (
        (F.col("p_brand") == "Brand#19")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(25, 50)
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            # exact fixed-scale decimal string, not double: at 10x-100x
            # the sum's magnitude puts one double-conversion ulp below
            # the 6-dp comparison granularity (the pricing_summary
            # scale-boundary find from the round-8 ~sf1 sweep)
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
            )
            .cast("decimal(38,8)")
            .cast("string")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_Q21_LATE_GAP = 60 * 86400  # ship more than 60 days after order date


@register(
    "waiting_suppliers",
    # TPC-H Q21 shape (the EXISTS + NOT-EXISTS anti-join stress):
    # suppliers who shipped late on a multi-supplier order where EVERY
    # OTHER supplier shipped on time — the sole blocker. Late = shipped
    # > 60 days after the order date (integer epoch seconds).
    f"""
    WITH lo AS (
      SELECT DISTINCT l.l_orderkey AS ok, l.l_suppkey AS sk,
             (floor(epoch(l.l_shipdate)) - floor(epoch(o.o_orderdate))
               > {_Q21_LATE_GAP}) AS late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    pairs AS (SELECT ok, sk FROM lo GROUP BY ok, sk),
    late_pairs AS (SELECT DISTINCT ok, sk FROM lo WHERE late)
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM late_pairs l1
    JOIN supplier s ON s.s_suppkey = l1.sk
    WHERE EXISTS (SELECT 1 FROM pairs p2
                  WHERE p2.ok = l1.ok AND p2.sk <> l1.sk)
      AND NOT EXISTS (SELECT 1 FROM late_pairs l3
                      WHERE l3.ok = l1.ok AND l3.sk <> l1.sk)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name LIMIT 20
    """,
)
def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.session import ensure_reader_confs

    ensure_reader_confs(spark)
    li = _pq(spark, f"{sf_dir}/lineitem.parquet")
    o = _pq(spark, f"{sf_dir}/orders.parquet")
    s = _pq(spark, f"{sf_dir}/supplier.parquet")
    lo = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_suppkey").alias("sk"),
        (
            _ts_sec_col(li, "l_shipdate") - _ts_sec_col(o, "o_orderdate")
            > _Q21_LATE_GAP
        ).alias("late"),
    )
    # guide §2.3/§2.4: the EXISTS/NOT-EXISTS pair-level self-joins are
    # equivalent to per-order counts — a late pair survives iff its order
    # has >=2 distinct suppliers (some other supplier exists) and exactly
    # 1 distinct LATE supplier (no other late one), in which case that
    # unique late supplier is the sole member of the late set. One
    # derivation of the li-orders join instead of three and no semi/anti
    # self-joins (the old plan ran the join+distinct subtree 3x:
    # plans/r11/waiting_suppliers_before.txt).
    # r12: ONE exchange via collect_set partial aggregation instead of
    # the r11 two-level (ok, sk) → (ok) aggregate — (ok, sk) keys are
    # nearly distinct (TPC-H orders have ≤7 suppliers), so the first
    # level's partial agg reduced almost nothing while shuffling ~every
    # join-output row; per-order supplier sets are bounded the same way,
    # so the collect_set state is O(7) per key at any scale (measured
    # 1.35 → 1.17 s; Exchange 2 → 1 on the aggregate path; r11 had
    # already measured the multi-distinct Expand variant 1.4x slower)
    g = lo.groupBy("ok").agg(
        F.collect_set("sk").alias("_all"),
        F.collect_set(F.when(F.col("late"), F.col("sk"))).alias("_late"),
    )
    cand = g.filter((F.size("_all") >= 2) & (F.size("_late") == 1)).select(
        "ok", F.col("_late")[0].alias("sk")
    )
    return (
        cand.join(F.broadcast(s), cand["sk"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@register(
    "sales_opportunity",
    # TPC-H Q22 shape: customers with above-average positive balance and
    # no RECENT order (every synthetic customer has some order, so the
    # anti-join uses the dormancy window — same two-shape composition:
    # scalar-subquery threshold + NOT EXISTS), grouped by nation. The
    # average threshold compares CROSS-MULTIPLIED decimals
    # (c_acctbal * n_pos > total_pos) so both engines decide boundaries
    # with exact arithmetic — no double-avg ulp drift.
    f"""
    WITH pos AS (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS total,
             CAST(count(*) AS BIGINT) AS cnt
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
    FROM customer c, pos
    WHERE CAST(c.c_acctbal AS DECIMAL(18,4)) * pos.cnt > pos.total
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND floor(epoch(o.o_orderdate)) >= {_DORMANT_CUTOFF})
    GROUP BY c.c_nationkey
    """,
)
def q_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.session import ensure_reader_confs

    ensure_reader_confs(spark)
    c = _pq(spark, f"{sf_dir}/customer.parquet")
    o = _pq(spark, f"{sf_dir}/orders.parquet")
    recent = o.filter(_ts_sec_col(o, "o_orderdate") >= _DORMANT_CUTOFF).select(
        "o_custkey"
    )
    pos = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,4)"))
        .cast("decimal(38,4)")
        .alias("total"),
        F.count(F.lit(1)).alias("cnt"),
    )
    rich = c.join(F.broadcast(pos)).filter(
        F.col("c_acctbal").cast("decimal(18,4)") * F.col("cnt") > F.col("total")
    )
    dormant_rich = rich.join(
        recent, rich["c_custkey"] == recent["o_custkey"], "left_anti"
    )
    return dormant_rich.groupBy(
        F.col("c_nationkey").cast("bigint").alias("nationkey")
    ).agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(F.col("c_acctbal").cast("decimal(18,4)"))
        .cast("double")
        .alias("totacctbal"),
    )


@register(
    "k_anonymity",
    # Privacy gate for training-data release: group sizes over the
    # quasi-identifier tuple (nation, market segment, balance sign) —
    # a record is k-anonymous iff its equivalence class has >= k
    # members; classes below k must be suppressed or generalized
    # before export (Sweeney 2002). Output: one row per class with
    # its size and the release verdict.
    """
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           c_mktsegment AS segment,
           (c_acctbal >= 0.0) AS positive_balance,
           CAST(count(*) AS BIGINT) AS class_n,
           (count(*) >= 10) AS releasable
    FROM customer
    GROUP BY c_nationkey, c_mktsegment, positive_balance
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _pq(spark, f"{sf_dir}/customer.parquet")
    return (
        c.select(
            F.col("c_nationkey").cast("bigint").alias("nationkey"),
            F.col("c_mktsegment").alias("segment"),
            (F.col("c_acctbal") >= 0.0).alias("positive_balance"),
        )
        .groupBy("nationkey", "segment", "positive_balance")
        .agg(F.count(F.lit(1)).alias("class_n"))
        .withColumn("releasable", F.col("class_n") >= 10)
    )


@register(
    "running_revenue",
    # ROWS-frame cumulative window: per-customer running order total in
    # order-date order (ties by orderkey) — the complement of the
    # RANGE-frame rolling_30min. Money through DECIMAL so the running
    # sum is exact at any position.
    """
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
                OVER (PARTITION BY o_custkey
                      ORDER BY floor(epoch(o_orderdate)), o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS running_total,
           CAST(row_number()
                OVER (PARTITION BY o_custkey
                      ORDER BY floor(epoch(o_orderdate)), o_orderkey)
             AS BIGINT) AS order_seq
    FROM orders
    """,
    stream_hash=True,
)
def q_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.session import ensure_reader_confs

    ensure_reader_confs(spark)
    o = _pq(spark, f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        _ts_sec_col(o, "o_orderdate"), "o_orderkey"
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("running_total"),
        F.row_number().over(w).cast("bigint").alias("order_seq"),
    )


@register(
    "forecast_revenue",
    # TPC-H Q6 shape: the canonical tight-filter scan-and-sum — revenue
    # delta from a hypothetical discount change (date band + discount
    # band + quantity cap). No joins: the query IS the pushdown test.
    # Revenue renders as a fixed-scale decimal string (see
    # pricing_summary): the ~sf100 probe caught the decimal->double
    # 1-ulp divergence here at a ~3.2e10 sum, the same rail the six
    # large money aggregates were moved off in round 8.
    f"""
    SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                         * CAST(l_discount AS DECIMAL(18,4)))
                AS DECIMAL(38,8)) AS VARCHAR) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE floor(epoch(l_shipdate)) >= {_DORMANT_CUTOFF}
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24.0
    """,
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.session import ensure_reader_confs

    ensure_reader_confs(spark)
    li = _pq(spark, f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(
            (_ts_sec_col(li, "l_shipdate") >= _DORMANT_CUTOFF)
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * F.col("l_discount").cast("decimal(18,4)")
            )
            .cast("decimal(38,8)")
            .cast("string")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "balance_rank_profile",
    # Rank-function breadth over one total order (acctbal, custkey):
    # percent_rank / cume_dist / ntile(4) — the distribution-profile
    # window trio. All three are rank-derived rationals of identical
    # integer inputs, so doubles match bit-for-bit; rounded to 6 anyway.
    """
    SELECT c_custkey,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cum_dist,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    """,
)
def q_balance_rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.ranking import ranked_with_total

    c = _pq(spark, f"{sf_dir}/customer.parquet")
    # (c_acctbal, c_custkey) is a strict total order, so all three rank
    # functions are pure arithmetic over the exact distributed rank:
    # percent_rank = (rank-1)/(n-1), cume_dist = rank/n (no equal keys),
    # ntile(4) = the cumulative-bound CASE — no corpus-sized window
    ranked, n = ranked_with_total(
        c.select("c_custkey", "c_acctbal"),
        ["c_acctbal", "c_custkey"],
        "_rk",
        num_partitions=None,
    )
    q, r = divmod(int(n), 4)
    bounds = [b * q + min(b, r) for b in range(1, 5)]
    quart = F.lit(4)
    for b in range(3, 0, -1):
        quart = F.when(F.col("_rk") <= F.lit(bounds[b - 1]), F.lit(b)).otherwise(
            quart
        )
    return ranked.select(
        "c_custkey",
        F.round(
            (F.col("_rk") - 1).cast("double") / F.lit(float(max(n - 1, 1))), 6
        ).alias("pct_rank"),
        F.round(F.col("_rk").cast("double") / F.lit(float(n)), 6).alias(
            "cum_dist"
        ),
        quart.cast("bigint").alias("quartile"),
    )


@register(
    "doc_embedding_pool",
    # Chunk -> embed -> POOL: the document-embedding build step (mean of
    # chunk embeddings, the llama-index/SBERT document-vector recipe).
    # Exactness: mock-embedding values x 1e6 are integers by
    # construction, so the per-dimension mean is an exact BIGINT sum
    # over an exact count; floor(sum/count) serializes without float
    # drift. One narrow explode + two partial-agg shuffles.
    f"""
    WITH ch AS ({{chunks}}),
    e AS (
      SELECT doc_id, g.i AS dim,
             CAST(round((({stable_hash64_sql("(chunk_text || ':' || g.i)")} % 1000000)
                         / 1000000.0 * 2.0 - 1.0) * 1000000) AS BIGINT) AS v6
      FROM ch, unnest(generate_series(0, 7)) AS g(i)
    ),
    agg AS (
      SELECT doc_id, dim,
             CAST(sum(v6) AS BIGINT) AS s6,
             CAST(count(*) AS BIGINT) AS cnt
      FROM e GROUP BY doc_id, dim
    )
    SELECT doc_id,
           array_to_string(
             list(CAST(floor(CAST(s6 AS DOUBLE) / cnt) AS BIGINT) ORDER BY dim),
             ',') AS doc_embedding,
           CAST(max(cnt) AS BIGINT) AS n_chunks
    FROM agg GROUP BY doc_id
    """.format(
        chunks=_CHUNK_SQL.format(tokens=_TOKENS_SQL, size=16, overlap=0, stride=16)
    ),
)
def q_doc_embedding_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _fan: chunk explode + per-chunk md5 embed on a single-split input
    # otherwise runs in one task (measured r11: 2.1 s -> 0.9 s)
    chunks = chunk_fixed(
        _fan(_docs(spark, sf_dir)).select("doc_id", "text"), size=16, overlap=0
    ).select(
        "doc_id",
        mock_embedding_expr("chunk_text", dim=8).alias("_emb"),
    )
    per_dim = (
        chunks.select(
            "doc_id", F.posexplode(F.col("_emb")).alias("dim", "_v")
        )
        .select(
            "doc_id",
            "dim",
            F.round(F.col("_v") * F.lit(1_000_000)).cast("bigint").alias("v6"),
        )
        .groupBy("doc_id", "dim")
        .agg(
            F.sum("v6").alias("s6"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    return per_dim.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("dim"),
                            F.floor(
                                F.col("s6").cast("double") / F.col("cnt")
                            ).cast("bigint").alias("mfp"),
                        )
                    )
                ),
                lambda s: s["mfp"].cast("string"),
            ),
            ",",
        ).alias("doc_embedding"),
        F.max("cnt").alias("n_chunks"),
    )


_SEMDEDUP_T6 = 950_000  # cosine >= 0.95, fixed-point 1e-6


@register(
    "semdedup",
    # SemDeDup (Abbas et al. 2023): embedding-space semantic dedup —
    # cluster the embedding table (IVF cells; centroids = vec_id % 50
    # == 0, SQL-expressible like ann_ivf), compare pairs ONLY within a
    # cell, drop every vector that is >= 0.95-cosine-similar to a
    # lower-id cell-mate. The cell partitioning bounds the pairwise
    # blow-up (the paper's trick: within-cluster quadratic, never
    # corpus quadratic).
    f"""
    WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % 50 = 0),
    acell AS (
      -- streaming struct-min argmin (no window sort carrying embedding
      -- payload — see ivf_pq_topk's oracle note)
      SELECT vec_id, min(struct_pack(d := d, c := cid)).c AS cid
      FROM (
        SELECT e.vec_id, c.cid,
               round({euclidean_sql('e.embedding', 'c.cv')}, 6) AS d
        FROM embeddings e CROSS JOIN cent c
      ) GROUP BY vec_id
    ),
    assigned AS (
      SELECT a.vec_id, e.embedding, a.cid
      FROM acell a JOIN embeddings e USING (vec_id)
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM assigned a JOIN assigned b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE CAST(round({cosine_sql('a.embedding', 'b.embedding')} * 1000000) AS BIGINT)
              >= {_SEMDEDUP_T6}
    ),
    dropped AS (SELECT DISTINCT id_b FROM pairs)
    SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cell,
           (d.id_b IS NULL) AS keep
    FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.id_b
    """,
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.dedup import semdedup, semdedup_dropped_np
    from rag_content_spark.operators.similarity import assign_ivf_cells_np

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    centroids = _emb_driver(sf_dir, mod=50)  # guide §5: no collect job
    # vectorized cell assignment AND within-cell compare (numpy per
    # Arrow batch / per cell) — all paths round to the 1e-6 grid before
    # deciding, so the oracle stays exact; equality vs the declarative
    # twins is pinned in tests/test_dedup_similarity.py
    return semdedup(
        emb,
        centroids,
        threshold6=_SEMDEDUP_T6,
        assign_fn=assign_ivf_cells_np,
        pairwise_fn=semdedup_dropped_np,
    )


@register(
    "streaming_ingest_parity",
    # Batch-equivalence of the Structured Streaming ingest path: an
    # availableNow file-source stream over the documents parquet runs a
    # narrow projection and lands via foreachBatch -> versioned-table
    # upserts (exactly-once via batch_id manifests); the query returns
    # the MATERIALIZED table, which must hash-equal the plain batch
    # projection the oracle computes. doc_ids are unique, so the
    # upsert view is exactly the input set.
    f"""
    SELECT doc_id, lang,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
    FROM documents
    """,
)
def q_streaming_ingest_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from rag_content_spark.sinks.versioned_table import read_snapshot
    from rag_content_spark.streaming.ingest import start_table_stream

    schema = _docs(spark, sf_dir).schema
    table = f"{sf_dir}/documents.parquet"
    if os.path.isdir(table):
        # multi-file table (e.g. scale-probe replicas): the dir IS a
        # valid stream basePath
        reader = spark.readStream.schema(schema)
        src_path = table
    else:
        # single-file testdata: the file source needs a DIRECTORY
        # basePath, so stream the parent dir with a glob pinned to it
        reader = spark.readStream.schema(schema).option(
            "pathGlobFilter", "documents.parquet"
        )
        src_path = sf_dir
    stream = (
        reader.parquet(src_path)
        .select(
            "doc_id",
            "lang",
            F.length("text").cast("bigint").alias("n_chars"),
            F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
        )
    )
    base = tempfile.mkdtemp(prefix="sgraft_stream_parity_")
    q = start_table_stream(
        stream,
        os.path.join(base, "tbl"),
        os.path.join(base, "ckpt"),
        key_col="doc_id",
        available_now=True,
    )
    q.awaitTermination()
    return read_snapshot(spark, os.path.join(base, "tbl"))


# ---------------------------------------------------------------------------

# Shared CTE prefix for the duplicate-span family (Lee et al. 2022
# ExactSubstr, word-aligned fixed-k windows; see operators/dedup.py
# duplicate_span_positions for the scale analysis). k=5, min_count=2.
_DUPSPAN_CTES = f"""
    toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents),
    grams AS (
      SELECT doc_id, CAST(r.range AS BIGINT) AS pos,
             {stable_hash64_sql("array_to_string(list_slice(tk, CAST(r.range + 1 AS INT), CAST(r.range + 5 AS INT)), ' ')")} AS gh
      FROM toks CROSS JOIN range(0, 100000) r WHERE r.range <= len(tk) - 5
    ),
    dup AS (SELECT gh FROM grams GROUP BY gh HAVING count(*) >= 2),
    covered AS (
      SELECT DISTINCT g.doc_id, g.pos + o.range AS tok_idx
      FROM grams g JOIN dup USING (gh) CROSS JOIN range(0, 5) o
    )
"""


@register(
    "dup_spans",
    # Per-doc duplicate-span profile: a token position is duplicated when
    # any 5-token window covering it occurs >= 2 times corpus-wide;
    # n_spans counts maximal runs (gaps-and-islands over covered idx).
    f"""
    WITH {_DUPSPAN_CTES},
    isl AS (SELECT doc_id, tok_idx,
                   tok_idx - row_number() OVER (PARTITION BY doc_id ORDER BY tok_idx) AS grp
            FROM covered),
    per AS (SELECT doc_id, count(*) AS dup_tokens, count(DISTINCT grp) AS n_spans
            FROM isl GROUP BY doc_id),
    base AS (SELECT doc_id, len(tk) AS n_tokens FROM toks)
    SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
           round(coalesce(p.dup_tokens, 0) * 1.0 / greatest(b.n_tokens, 1), 6) AS dup_ratio
    FROM base b LEFT JOIN per p USING (doc_id)
    """,
)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.dedup import duplicate_span_stats

    # _fan: per-position 5-window shingle md5s (measured r11: 8.3 -> 1.9 s)
    return duplicate_span_stats(_fan(_docs(spark, sf_dir)), k=5, min_count=2)


@register(
    "dup_span_scrub",
    # ExactSubstr-cut: rebuild each document from the tokens NOT covered
    # by a duplicated 5-window. Zero-token docs vanish on both engines
    # (no token rows); fully-duplicated docs survive with clean_text=''.
    f"""
    WITH {_DUPSPAN_CTES},
    tokpos AS (
      SELECT doc_id, CAST(r.range AS BIGINT) AS tok_idx, tk[CAST(r.range + 1 AS INT)] AS tok
      FROM toks CROSS JOIN range(0, 100000) r WHERE r.range < len(tk)
    )
    SELECT t.doc_id,
           coalesce(string_agg(t.tok, ' ' ORDER BY t.tok_idx)
                    FILTER (WHERE c.tok_idx IS NULL), '') AS clean_text,
           CAST(count(c.tok_idx) AS BIGINT) AS n_removed,
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM tokpos t LEFT JOIN covered c
      ON t.doc_id = c.doc_id AND t.tok_idx = c.tok_idx
    GROUP BY t.doc_id
    """,
)
def q_dup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.dedup import scrub_duplicate_spans

    # _fan: same shingle work as dup_spans plus the rebuild
    # (measured r11: 9.5 -> 2.2 s)
    return scrub_duplicate_spans(_fan(_docs(spark, sf_dir)), k=5, min_count=2)


# ====================== TPC-H shapes, round 6 ==============================
# The remaining shapes expressible over the available tables (no partsupp
# in the testdata, no l_shipmode/l_commitdate/l_receiptdate columns —
# Q2/Q9/Q11/Q16/Q20 need partsupp and true Q4/Q12 need commit/receipt
# dates, so Q4/Q12 keep the reference join/agg SHAPE with the late-ship
# gap standing in for the commit-date predicate and l_returnflag for
# l_shipmode). Dates stay integer epoch seconds; years are the
# deterministic 365-day epoch bucket (pure integer math, identical on
# both engines, timezone-proof); money goes through DECIMAL.

_EPOCH_1996 = 820454400       # 1996-01-01 UTC
_EPOCH_1996_10 = 844128000    # 1996-10-01 UTC
_EPOCH_YEAR = 31536000        # 365-day bucket


@register(
    "order_priority_check",
    # TPC-H Q4 shape: count orders per priority in a quarter window
    # where EXISTS a late lineitem -> de-correlated distinct-key
    # left-semi join, then a tiny groupBy.
    f"""
    WITH late AS (
      SELECT DISTINCT l.l_orderkey AS ok
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE floor(epoch(l.l_shipdate)) - floor(epoch(o.o_orderdate))
            > {_Q21_LATE_GAP}
    )
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS order_count
    FROM orders o JOIN late ON o.o_orderkey = late.ok
    WHERE floor(epoch(o.o_orderdate)) >= {_EPOCH_1996}
      AND floor(epoch(o.o_orderdate)) < {_EPOCH_1996_10}
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.session import ensure_reader_confs

    ensure_reader_confs(spark)
    li = _pq(spark, f"{sf_dir}/lineitem.parquet")
    o = _pq(spark, f"{sf_dir}/orders.parquet")
    osec = _ts_sec_col(o, "o_orderdate")
    # guide §3.2: only window orders can survive the outer semi-join, so
    # the date filter applies to the late-derivation's orders side too —
    # the li-orders join builds/streams ~8x fewer order rows
    ow = o.filter((osec >= _EPOCH_1996) & (osec < _EPOCH_1996_10))
    late = (
        li.join(ow, li["l_orderkey"] == ow["o_orderkey"])
        .filter(
            _ts_sec_col(li, "l_shipdate") - _ts_sec_col(ow, "o_orderdate")
            > _Q21_LATE_GAP
        )
        .select(F.col("l_orderkey").alias("ok"))
        # no distinct: the only consumer is a LEFT SEMI join, which is
        # duplicate-insensitive (r12)
    )
    return (
        ow
        .join(late, o["o_orderkey"] == late["ok"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "volume_shipping",
    # TPC-H Q7 shape: bidirectional nation-pair trade volume by year —
    # the two-role nation join (supplier's nation x customer's nation)
    # with an OR of the two directed pairs, grouped by (n1, n2, year).
    f"""
    SELECT ns.n_name AS supp_nation,
           nc.n_name AS cust_nation,
           CAST(floor(epoch(l.l_shipdate)) AS BIGINT) // {_EPOCH_YEAR}
             AS epoch_year,
           CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DECIMAL(38,8))
                AS VARCHAR)
             AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
    JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
    WHERE (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
       OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')
    GROUP BY supp_nation, cust_nation, epoch_year
    ORDER BY supp_nation, cust_nation, epoch_year
    """,
)
def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.session import ensure_reader_confs

    ensure_reader_confs(spark)
    li = _pq(spark, f"{sf_dir}/lineitem.parquet")
    o = _pq(spark, f"{sf_dir}/orders.parquet")
    c = _pq(spark, f"{sf_dir}/customer.parquet")
    s = _pq(spark, f"{sf_dir}/supplier.parquet")
    n = _pq(spark, f"{sf_dir}/nation.parquet")
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        # epochs are non-negative here, so floor-div == DIV on both engines
        li.withColumn(
            "epoch_year",
            F.floor(_ts_sec_col(li, "l_shipdate") / _EPOCH_YEAR).cast("bigint"),
        )
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.groupBy("supp_nation", "cust_nation", "epoch_year")
        .agg(
            # exact-decimal string, not DOUBLE: decimal->double casting
            # differs by 1 ulp across engines once the sum's significand
            # passes 2^53 (DuckDB double-rounds hugeint*10^-s) — caught
            # by the r10 money-magnitude probe at ~6e10 revenue, same
            # class as the r9 forecast_revenue find
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
            )
            .cast("decimal(38,8)")
            .cast("string")
            .alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "epoch_year")
    )


@register(
    "national_market_share",
    # TPC-H Q8 shape: one nation's share of a region's market for one
    # part type, by year — conditional-sum ratio over the 6-way join
    # with the region rollup on the CUSTOMER side.
    f"""
    WITH vol AS (
      SELECT CAST(floor(epoch(o.o_orderdate)) AS BIGINT) // {_EPOCH_YEAR}
               AS epoch_year,
             CAST(CAST(l.l_extendedprice AS DECIMAL(18,4))
                  * CAST(1 - l.l_discount AS DECIMAL(18,4)) AS DECIMAL(18,4))
               AS volume,
             ns.n_name AS supp_nation
      FROM lineitem l
      JOIN part p     ON l.l_partkey = p.p_partkey
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
      JOIN region r   ON nc.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
    )
    SELECT epoch_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_1'
                               THEN volume ELSE CAST(0 AS DECIMAL(18,4)) END)
                      AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share,
           CAST(CAST(sum(volume) AS DECIMAL(38,4)) AS VARCHAR) AS total_volume
    FROM vol GROUP BY epoch_year ORDER BY epoch_year
    """,
)
def q_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.session import ensure_reader_confs

    ensure_reader_confs(spark)
    li = _pq(spark, f"{sf_dir}/lineitem.parquet")
    o = _pq(spark, f"{sf_dir}/orders.parquet")
    c = _pq(spark, f"{sf_dir}/customer.parquet")
    s = _pq(spark, f"{sf_dir}/supplier.parquet")
    p = _pq(spark, f"{sf_dir}/part.parquet")
    n = _pq(spark, f"{sf_dir}/nation.parquet")
    r = _pq(spark, f"{sf_dir}/region.parquet")
    nc = n.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    vol = (
        li.join(F.broadcast(p.filter(F.col("p_type") == "ECONOMY")),
                li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")),
              F.col("nc_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .select(
            F.floor(_ts_sec_col(o, "o_orderdate") / _EPOCH_YEAR)
            .cast("bigint")
            .alias("epoch_year"),
            (
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
            ).cast("decimal(18,4)").alias("volume"),
            "supp_nation",
        )
    )
    return (
        vol.groupBy("epoch_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_1", F.col("volume"))
                    .otherwise(F.lit(0).cast("decimal(18,4)"))
                ).cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share"),
            # exact decimal string (see disjunctive_revenue note); the
            # mkt_share RATIO stays a rounded double — relative ulp
            # error cancels in the division
            F.sum("volume").cast("decimal(38,4)").cast("string").alias(
                "total_volume"
            ),
        )
        .orderBy("epoch_year")
    )


@register(
    "returnflag_priority",
    # TPC-H Q12 shape (l_returnflag standing in for the absent
    # l_shipmode): per flag, counts of high- vs low-priority orders
    # among late-shipped lineitems — the CASE-conditional dual count
    # over one fact join.
    f"""
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE floor(epoch(l.l_shipdate)) - floor(epoch(o.o_orderdate))
          > {_Q21_LATE_GAP}
    GROUP BY l.l_returnflag ORDER BY l.l_returnflag
    """,
)
def q_returnflag_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.session import ensure_reader_confs

    ensure_reader_confs(spark)
    li = _pq(spark, f"{sf_dir}/lineitem.parquet")
    o = _pq(spark, f"{sf_dir}/orders.parquet")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(
            _ts_sec_col(li, "l_shipdate") - _ts_sec_col(o, "o_orderdate")
            > _Q21_LATE_GAP
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias(
                "high_line_count"
            ),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias(
                "low_line_count"
            ),
        )
        .orderBy("l_returnflag")
    )


@register(
    "top_supplier",
    # TPC-H Q15 shape: revenue-per-supplier over a quarter, keep the
    # supplier(s) AT the maximum — the scalar-subquery-max pattern as a
    # broadcast one-row join; DECIMAL sums so the max boundary is exact.
    f"""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                      * CAST(1 - l_discount AS DECIMAL(18,4)))
                  AS DECIMAL(38,8)) AS total_rev
      FROM lineitem
      WHERE floor(epoch(l_shipdate)) >= {_EPOCH_1996}
        AND floor(epoch(l_shipdate)) < {_EPOCH_1996_10}
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(r.total_rev AS DOUBLE) AS total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.session import ensure_reader_confs

    ensure_reader_confs(spark)
    li = _pq(spark, f"{sf_dir}/lineitem.parquet")
    s = _pq(spark, f"{sf_dir}/supplier.parquet")
    lsec = _ts_sec_col(li, "l_shipdate")
    rev = (
        li.filter((lsec >= _EPOCH_1996) & (lsec < _EPOCH_1996_10))
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
            )
            .cast("decimal(38,8)")
            .alias("total_rev")
        )
    )
    mx = rev.agg(F.max("total_rev").alias("_mx"))
    return (
        rev.join(F.broadcast(mx), rev["total_rev"] == mx["_mx"], "left_semi")
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .select(
            "s_suppkey", "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


_Q18_QTY = 300  # large-volume threshold (max per-order qty in data ~458)


@register(
    "large_volume_customers",
    # TPC-H Q18 shape: orders whose total quantity crosses a HAVING
    # threshold, joined back to customer — group-then-filter-then-join,
    # deterministic top-100. Quantities are integer-valued doubles, so
    # BIGINT sums are exact on both engines.
    f"""
    WITH big AS (
      SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
               AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS BIGINT)) > {_Q18_QTY}
    )
    SELECT c.c_name, CAST(c.c_custkey AS BIGINT) AS c_custkey,
           CAST(o.o_orderkey AS BIGINT) AS o_orderkey,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           b.total_qty
    FROM big b
    JOIN orders o   ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100
    """,
)
def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.session import ensure_reader_confs

    ensure_reader_confs(spark)
    li = _pq(spark, f"{sf_dir}/lineitem.parquet")
    o = _pq(spark, f"{sf_dir}/orders.parquet")
    c = _pq(spark, f"{sf_dir}/customer.parquet")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"))
        .filter(F.col("total_qty") > _Q18_QTY)
    )
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            F.col("c_custkey").cast("bigint").alias("c_custkey"),
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


# ============================ PCA / spectral ===============================


@register(
    "embedding_covariance",
    # Exact fixed-point covariance of the embedding coordinates
    # (operators/pca.py): identical integer sums on both engines —
    # coordinates rounded to the 1e-6 grid as BIGINTs, cov from
    # (n*S_ij - S_i*S_j) integer arithmetic, one final descale. The
    # WHOLE rail is 128-bit: S_ij and S_k stay HUGEINT (Spark twin:
    # DECIMAL(38,0)) — at 200k vectors S_i*S_j reaches ~4e22 (round-9
    # sf10 find), and at 1000x VALUES (r11 magnitude probe) S_ij itself
    # reaches ~7e23, past the old intermediate BIGINT cast.
    """
    WITH c AS (
      SELECT vec_id AS id, CAST(r.range AS INT) AS i,
             CAST(round(CAST(embedding[CAST(r.range + 1 AS INT)] AS DOUBLE)
                        * 1000000) AS BIGINT) AS x6
      FROM embeddings CROSS JOIN range(0, 10000) r
      WHERE r.range < len(embedding)
    ),
    p AS (
      SELECT a.i, b.i AS j,
             sum(CAST(a.x6 AS HUGEINT) * b.x6) AS s_ij,
             CAST(count(*) AS BIGINT) AS n
      FROM c a JOIN c b ON a.id = b.id AND a.i <= b.i
      GROUP BY a.i, b.i
    ),
    s AS (SELECT i AS k, CAST(sum(x6) AS HUGEINT) AS s_k FROM c GROUP BY i)
    SELECT p.i, p.j,
           round(CAST(CAST(p.n AS HUGEINT) * p.s_ij
                      - sa.s_k * sb.s_k
                      AS DOUBLE)
                 / CAST(p.n * p.n AS DOUBLE) / 1e12, 6) + 0.0 AS cov6
    FROM p JOIN s sa ON p.i = sa.k JOIN s sb ON p.j = sb.k
    """,
)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.pca import embedding_covariance_np

    # the registered path is the one-pass numpy Gram twin; bit-identical
    # to the explode/self-join SQL shape (equality-pinned in tests)
    return embedding_covariance_np(_emb(spark, sf_dir))


def _pca_literal_components(sf_dir: str, q: int = 8) -> list:
    """The top-q eigencomponents derived from the DUCKDB covariance (the
    already-hash-green ``embedding_covariance`` oracle SQL) + the same
    driver eigh — bit-identical to what the Spark query derives, because
    the fixed-point cov6 values are integer-exact on both engines and
    eigh runs on the same d x d matrix."""
    import duckdb

    from rag_content_spark.operators.pca import pca_components

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    cov = con.execute(ORACLES["embedding_covariance"]).fetchall()
    con.close()
    return pca_components(
        [(int(r[0]), int(r[1]), float(r[2])) for r in cov], q=q
    )


_PCA_ORACLE_MEMO: dict = {}


def _pca_project_oracle() -> str:
    """Lazy oracle: eigendecomposition itself is not SQL-expressible, but
    the projection GIVEN literal components is plain arithmetic — embed
    the eigh output as double literals (the ann_ivf centroid pattern) and
    mirror the Spark fold's left-to-right summation order exactly.
    Memoized per sf_dir (the cov pass costs seconds; oracle_sql() may be
    called more than once)."""
    import os as _os

    # precedence: the verifier's explicit oracle pin, then the harness's
    # general SF dir, then the driver's correctness SF (round-7 ADVICE:
    # a caller running at a different scale factor must not silently get
    # eigenvector literals computed from sf0.01)
    sf_dir = _os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR") or _os.environ.get(
        "SPARK_GRAFT_SF_DIR") or "/root/testdata/sf0.01"
    if sf_dir in _PCA_ORACLE_MEMO:
        return _PCA_ORACLE_MEMO[sf_dir]
    selects = []
    for rank, _eigval, vec in _pca_literal_components(sf_dir, q=8):
        # left-assoc + chain == Spark's F.aggregate left fold, so the
        # IEEE summation order (and hence every bit) is identical
        terms = " + ".join(
            f"(CAST(embedding[{k + 1}] AS DOUBLE) * {v!r})"
            for k, v in enumerate(vec)
        )
        selects.append(
            f"SELECT vec_id, {rank} AS component,"
            f" round(0.0 + {terms}, 6) + 0.0 AS val6 FROM embeddings"
        )
    _PCA_ORACLE_MEMO[sf_dir] = "\nUNION ALL\n".join(selects)
    return _PCA_ORACLE_MEMO[sf_dir]


@register("pca_project", _pca_project_oracle)
def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.pca import (
        embedding_covariance_np,
        pca_components,
        pca_project,
    )

    emb = _emb(spark, sf_dir)
    cov = [
        (r["i"], r["j"], r["cov6"])
        for r in embedding_covariance_np(emb).collect()
    ]
    comps = pca_components(cov, q=8)
    # scalar-ized registry shape: one row per (vector, component) — the
    # harness canonicalizer hashes scalars, not array<double> cells; the
    # DataFrame API (pca_project) keeps the array form
    return pca_project(emb, comps).select(
        "vec_id",
        F.posexplode("proj").alias("component", "val6"),
    )


# ========================== SFT / FIM shaping ==============================


# Synthesized chat corpus covering every validation class (same
# degenerate-corpus trick as the P2/P3 filters): cases 0-1 valid, then
# one case per violation, and case 7 derives turn bodies from the
# document text so content parsing sees real tokens.
_CHAT_SQL = f"""
CASE CAST(doc_id % 8 AS INT)
  WHEN 0 THEN 'user: hi there' || chr(10) || 'assistant: hello back'
  WHEN 1 THEN 'system: be nice' || chr(10) || 'user: hi' || chr(10)
              || 'assistant: yo'
  WHEN 2 THEN 'assistant: hi' || chr(10) || 'user: yo'
  WHEN 3 THEN 'user: hi' || chr(10) || 'user: again' || chr(10)
              || 'assistant: ok'
  WHEN 4 THEN 'user: hi' || chr(10) || 'assistant: ok' || chr(10)
              || 'user: more'
  WHEN 5 THEN 'user: hi' || chr(10) || 'assistant:'
  WHEN 6 THEN 'user: hi' || chr(10) || 'no role marker here' || chr(10)
              || 'assistant: ok'
  ELSE 'user: ' || array_to_string(list_slice({{tk}}, 1, 8), ' ')
       || chr(10) || 'assistant: '
       || coalesce(nullif(array_to_string(list_slice({{tk}}, 9, 16), ' '), ''),
                   'ok then')
END
""".strip().replace("{tk}", "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')")


def _chat_expr():
    tk = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    m = F.col("doc_id") % 8
    return (
        F.when(m == 0, F.lit("user: hi there\nassistant: hello back"))
        .when(m == 1, F.lit("system: be nice\nuser: hi\nassistant: yo"))
        .when(m == 2, F.lit("assistant: hi\nuser: yo"))
        .when(m == 3, F.lit("user: hi\nuser: again\nassistant: ok"))
        .when(m == 4, F.lit("user: hi\nassistant: ok\nuser: more"))
        .when(m == 5, F.lit("user: hi\nassistant:"))
        .when(m == 6, F.lit("user: hi\nno role marker here\nassistant: ok"))
        .otherwise(
            F.concat(
                F.lit("user: "),
                F.array_join(F.slice(tk, 1, 8), " "),
                F.lit("\nassistant: "),
                F.coalesce(
                    F.nullif(F.array_join(F.slice(tk, 9, 8), " "), F.lit("")),
                    F.lit("ok then"),
                ),
            )
        )
    )


_CHAT_TURNS_ORACLE = f"""
    WITH d AS (SELECT doc_id, {_CHAT_SQL} AS t FROM documents),
    lines AS (
      SELECT doc_id, CAST(r.range AS INT) AS turn_index,
             list_filter(string_split(t, chr(10)), x -> x <> '')
               [CAST(r.range + 1 AS INT)] AS line
      FROM d CROSS JOIN range(0, 100) r
      WHERE r.range < len(list_filter(string_split(t, chr(10)), x -> x <> ''))
    ),
    parsed AS (
      SELECT doc_id, turn_index,
             regexp_extract(line, '^(\\w+):', 1) AS role_raw,
             line
      FROM lines
    )
    SELECT doc_id, turn_index,
           CASE WHEN lower(role_raw) IN ('system', 'user', 'assistant')
                THEN lower(role_raw) END AS role,
           CASE WHEN lower(role_raw) IN ('system', 'user', 'assistant')
                THEN ltrim(substr(line, length(role_raw) + 2), ' ')
                ELSE line END AS content,
           CAST(len(list_filter(regexp_split_to_array(
                 CASE WHEN lower(role_raw) IN ('system', 'user', 'assistant')
                      THEN ltrim(substr(line, length(role_raw) + 2), ' ')
                      ELSE line END, '\\s+'), x -> x <> '')) AS BIGINT)
             AS n_tokens
    FROM parsed
"""


@register("chat_turns", _CHAT_TURNS_ORACLE)
def q_chat_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.sft import parse_chat_turns

    d = _docs(spark, sf_dir).select("doc_id", _chat_expr().alias("text"))
    return parse_chat_turns(d)


@register(
    "chat_valid",
    # per-dialog SFT gate: the violation-priority CASE over turn
    # aggregates mirrors operators/sft.validate_dialogs exactly
    f"""
    WITH turns AS ({_CHAT_TURNS_ORACLE}),
    base AS (
      SELECT doc_id,
             min(CASE WHEN role <> 'system' OR role IS NULL
                      THEN turn_index END) AS b
      FROM turns GROUP BY doc_id
    ),
    agg AS (
      SELECT t.doc_id,
             CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_user,
             CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_assistant,
             sum(CASE WHEN role IS NULL THEN 1 ELSE 0 END) AS n_norole,
             sum(CASE WHEN role = 'system' AND turn_index > 0
                      THEN 1 ELSE 0 END) AS n_latesys,
             sum(CASE WHEN trim(content) = '' THEN 1 ELSE 0 END) AS n_empty,
             max(CASE WHEN turn_index = 0 THEN role END) AS first_role,
             max(CASE WHEN turn_index = 1 THEN role END) AS second_role,
             max_by(role, turn_index) AS last_role,
             sum(CASE WHEN role IN ('user', 'assistant') AND (
                   ((turn_index - b.b) % 2 = 0 AND role <> 'user')
                   OR ((turn_index - b.b) % 2 = 1 AND role <> 'assistant'))
                 THEN 1 ELSE 0 END) AS n_bad_alt
      FROM turns t JOIN base b ON t.doc_id = b.doc_id
      GROUP BY t.doc_id
    )
    SELECT doc_id,
           n_user + n_assistant AS n_turns,
           n_user, n_assistant,
           (CASE
              WHEN n_norole > 0 OR n_latesys > 0 THEN 'unknown_role'
              WHEN n_empty > 0 THEN 'empty_turn'
              WHEN n_user + n_assistant < 2 THEN 'too_short'
              WHEN coalesce((CASE WHEN first_role = 'system'
                                  THEN second_role ELSE first_role END)
                            <> 'user', true) THEN 'bad_start'
              WHEN n_bad_alt > 0 THEN 'bad_alternation'
              WHEN last_role <> 'assistant' THEN 'bad_end'
            END) IS NULL AS valid,
           CASE
             WHEN n_norole > 0 OR n_latesys > 0 THEN 'unknown_role'
             WHEN n_empty > 0 THEN 'empty_turn'
             WHEN n_user + n_assistant < 2 THEN 'too_short'
             WHEN coalesce((CASE WHEN first_role = 'system'
                                 THEN second_role ELSE first_role END)
                           <> 'user', true) THEN 'bad_start'
             WHEN n_bad_alt > 0 THEN 'bad_alternation'
             WHEN last_role <> 'assistant' THEN 'bad_end'
           END AS first_violation
    FROM agg
    """,
)
def q_chat_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.sft import parse_chat_turns, validate_dialogs

    d = _docs(spark, sf_dir).select("doc_id", _chat_expr().alias("text"))
    return validate_dialogs(parse_chat_turns(d))


@register(
    "fim_split",
    # FIM (Bavarian et al. 2022) PSM re-serialization with
    # token-boundary cuts from the 60-bit doc-id hash — pure integer
    # math, identical spans on both engines. CASE guards keep the
    # modulos off the short-doc rows.
    f"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS tk
      FROM documents
    ),
    c AS (
      SELECT doc_id, text, tk, len(tk) AS n,
             {stable_hash64_sql("CAST(doc_id AS VARCHAR)", salt="fimr")} % 100
               AS h_apply,
             {stable_hash64_sql("CAST(doc_id AS VARCHAR)", salt="fim1")} AS h1,
             {stable_hash64_sql("CAST(doc_id AS VARCHAR)", salt="fim2")} AS h2
      FROM t
    ),
    cuts AS (
      SELECT doc_id, text, tk, n,
             (n >= 8 AND h_apply < 50) AS apply_fim,
             CASE WHEN n >= 8 THEN (h1 % (n - 2)) + 1 END AS cut1,
             CASE WHEN n >= 8
                  THEN (h1 % (n - 2)) + 2 + (h2 % (n - 2 - (h1 % (n - 2)))) END
               AS cut2
      FROM c
    )
    SELECT doc_id,
           CASE WHEN apply_fim THEN
             '<fim_prefix>' || array_to_string(list_slice(tk, 1, cut1), ' ')
             || '<fim_suffix>'
             || array_to_string(list_slice(tk, cut2 + 1, n), ' ')
             || '<fim_middle>'
             || array_to_string(list_slice(tk, cut1 + 1, cut2), ' ')
           ELSE text END AS fim_text,
           apply_fim AS fim_applied,
           CASE WHEN apply_fim THEN cut1 END AS n_prefix,
           CASE WHEN apply_fim THEN cut2 - cut1 END AS n_middle,
           CASE WHEN apply_fim THEN n - cut2 END AS n_suffix
    FROM cuts
    """,
)
def q_fim_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.sft import fim_transform

    return fim_transform(_docs(spark, sf_dir))


# ====================== code-corpus extraction =============================


_FENCE_DOC_SQL = """
CASE CAST(doc_id % 5 AS INT)
  WHEN 0 THEN '# T' || chr(10) || 'intro text' || chr(10) || '```python'
              || chr(10) || 'x = 1' || chr(10) || 'print(x)' || chr(10)
              || '```' || chr(10) || 'outro'
  WHEN 1 THEN '```' || chr(10) || 'plain block' || chr(10) || '```'
              || chr(10) || 'between' || chr(10) || '```sql' || chr(10)
              || 'SELECT 1;' || chr(10) || '```'
  WHEN 2 THEN 'just text no fences'
  WHEN 3 THEN 'a line' || chr(10) || '```js' || chr(10) || 'dangling()'
  ELSE '```txt' || chr(10)
       || array_to_string(list_slice({tok}, 1, 20), ' ') || chr(10) || '```'
END
""".strip().replace("{tok}", "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')")


def _fence_doc_expr():
    tk = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    m = F.col("doc_id") % 5
    return (
        F.when(
            m == 0,
            F.lit("# T\nintro text\n```python\nx = 1\nprint(x)\n```\noutro"),
        )
        .when(
            m == 1,
            F.lit("```\nplain block\n```\nbetween\n```sql\nSELECT 1;\n```"),
        )
        .when(m == 2, F.lit("just text no fences"))
        .when(m == 3, F.lit("a line\n```js\ndangling()"))
        .otherwise(
            F.concat(
                F.lit("```txt\n"),
                F.array_join(F.slice(tk, 1, 20), " "),
                F.lit("\n```"),
            )
        )
    )


@register(
    "code_blocks",
    # Markdown fence extraction (code-corpus building): running marker
    # parity per document via a cumulative window, opening tag rides
    # last(ignore nulls); unclosed trailing fences keep their lines.
    f"""
    WITH d AS (SELECT doc_id, {_FENCE_DOC_SQL} AS t FROM documents),
    l AS (
      SELECT doc_id, CAST(r.range AS INT) AS idx,
             string_split(t, chr(10))[CAST(r.range + 1 AS INT)] AS line
      FROM d CROSS JOIN range(0, 1000) r
      WHERE r.range < len(string_split(t, chr(10)))
    ),
    m AS (
      SELECT doc_id, idx, line,
             starts_with(regexp_replace(line, '^\\s+|\\s+$', '', 'g'), '```')
               AS mk,
             regexp_replace(line, '^\\s+|\\s+$', '', 'g') AS s
      FROM l
    ),
    wn AS (
      SELECT doc_id, idx, line, mk,
             sum(CASE WHEN mk THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY idx
                     ROWS UNBOUNDED PRECEDING) AS cum,
             last_value(CASE WHEN mk THEN trim(substr(s, 4)) END IGNORE NULLS)
               OVER (PARTITION BY doc_id ORDER BY idx
                     ROWS UNBOUNDED PRECEDING) AS lang
      FROM m
    )
    SELECT doc_id, CAST((cum - 1) // 2 AS BIGINT) AS block_index,
           max(lang) AS lang,
           string_agg(line, chr(10) ORDER BY idx) AS code,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM wn WHERE NOT mk AND cum % 2 = 1
    GROUP BY doc_id, block_index
    """,
)
def q_code_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.text_analysis import extract_code_blocks

    d = _docs(spark, sf_dir).select("doc_id", _fence_doc_expr().alias("text"))
    return extract_code_blocks(d)


# =================== script profiling / skew diagnostics ===================


_MULTI_SCRIPT_SQL = """
CASE CAST(doc_id % 6 AS INT)
  WHEN 0 THEN text
  WHEN 1 THEN '统计 数据 处理 引擎 ' || text
  WHEN 2 THEN 'Привет мир обработка данных ' || text
  WHEN 3 THEN 'مرحبا بيانات معالجة ' || substr(text, 1, 10)
  WHEN 4 THEN 'αβγ δεδομένα επεξεργασία ' || substr(text, 1, 10)
  ELSE '12345 67890 ' || substr(text, 1, 6)
END
""".strip()


def _multi_script_expr():
    m = F.col("doc_id") % 6
    t = F.col("text")
    return (
        F.when(m == 0, t)
        .when(m == 1, F.concat(F.lit("统计 数据 处理 引擎 "), t))
        .when(m == 2, F.concat(F.lit("Привет мир обработка данных "), t))
        .when(m == 3, F.concat(F.lit("مرحبا بيانات معالجة "), F.substring(t, 1, 10)))
        .when(m == 4, F.concat(F.lit("αβγ δεδομένα επεξεργασία "), F.substring(t, 1, 10)))
        .otherwise(F.concat(F.lit("12345 67890 "), F.substring(t, 1, 6)))
    )


def _script_count_sql(x: str, rng: str) -> str:
    return (
        f"CAST(length(regexp_replace({x}, '[^{rng}]', '', 'g')) AS BIGINT)"
    )


@register(
    "script_profile",
    # Unicode script profiling over a synthesized multilingual corpus:
    # per-script char counts (literal-character classes — identical in
    # Java regex and RE2) + deterministic argmax.
    f"""
    WITH d AS (SELECT doc_id, {_MULTI_SCRIPT_SQL} AS t FROM documents),
    c AS (
      SELECT doc_id,
             {_script_count_sql('t', 'A-Za-z')} AS latin,
             {_script_count_sql('t', '0-9')} AS digit,
             {_script_count_sql('t', '一-鿿぀-ヿ가-힯')} AS cjk,
             {_script_count_sql('t', 'Ѐ-ӿ')} AS cyrillic,
             {_script_count_sql('t', '؀-ۿ')} AS arabic,
             {_script_count_sql('t', 'Ͱ-Ͽ')} AS greek
      FROM d
    )
    SELECT doc_id, latin, digit, cjk, cyrillic, arabic, greek,
           CASE WHEN greatest(latin, digit, cjk, cyrillic, arabic, greek) = 0
                THEN 'none'
                WHEN latin = greatest(latin, digit, cjk, cyrillic, arabic, greek) THEN 'latin'
                WHEN digit = greatest(latin, digit, cjk, cyrillic, arabic, greek) THEN 'digit'
                WHEN cjk = greatest(latin, digit, cjk, cyrillic, arabic, greek) THEN 'cjk'
                WHEN cyrillic = greatest(latin, digit, cjk, cyrillic, arabic, greek) THEN 'cyrillic'
                WHEN arabic = greatest(latin, digit, cjk, cyrillic, arabic, greek) THEN 'arabic'
                ELSE 'greek'
           END AS script
    FROM c
    """,
)
def q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.text_analysis import (
        dominant_script,
        script_counts,
    )

    d = _docs(spark, sf_dir).select("doc_id", _multi_script_expr().alias("t"))
    s = script_counts("t")
    return d.select(
        "doc_id",
        s["latin"].alias("latin"),
        s["digit"].alias("digit"),
        s["cjk"].alias("cjk"),
        s["cyrillic"].alias("cyrillic"),
        s["arabic"].alias("arabic"),
        s["greek"].alias("greek"),
        dominant_script("t").alias("script"),
    )


@register(
    "skew_report",
    # Key-skew pre-flight over events.user_id: per-key counts, exact
    # rank-selected p50/p99, integer-ratio skew, top-5 serialization.
    """
    WITH c AS (
      SELECT CAST(user_id AS VARCHAR) AS k, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    ranked AS (
      SELECT k, c, row_number() OVER (ORDER BY c DESC, k) AS rn,
             row_number() OVER (ORDER BY c, k) AS ra
      FROM c
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
                 CAST(sum(c) AS BIGINT) AS total FROM c)
    SELECT n.n_keys,
           n.total AS total_rows,
           (SELECT max(c) FROM c) AS max_count,
           round(CAST((SELECT max(c) FROM c) AS DOUBLE) * n.n_keys
                 / n.total, 6) AS skew_ratio,
           (SELECT c FROM ranked, n
             WHERE ra = greatest(1, CAST(ceil(n.n_keys * 50 / 100.0) AS BIGINT)))
             AS p50_count,
           (SELECT c FROM ranked, n
             WHERE ra = greatest(1, CAST(ceil(n.n_keys * 99 / 100.0) AS BIGINT)))
             AS p99_count,
           (SELECT string_agg(k || ':' || c, '|' ORDER BY rn)
              FROM ranked WHERE rn <= 5) AS top_keys
    FROM n
    """,
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.rollup import skew_report

    return skew_report(_events(spark, sf_dir), "user_id")


# ========================= mergeable-sketch proof ==========================


@register(
    "hll_merge",
    # HLL mergeability: sketch each half of the corpus independently,
    # merge registers (max), estimate — must EQUAL the whole-corpus
    # sketch's estimate exactly (max is associative/commutative), which
    # is the 100 TB operating mode: sketch per ingest batch, merge on
    # demand, never re-scan.
    f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents),
    th AS (SELECT doc_id, list_transform(tk, t -> {stable_hash64_sql('t')} % 2147483647) AS th FROM toks),
    sh AS (SELECT doc_id, {_hashed_shingles_from_th_sql(3)} AS sh FROM th),
    vals AS (SELECT doc_id, {stable_hash64_sql("CAST(u.s AS VARCHAR)")} AS h
             FROM sh, unnest(sh.sh) AS u(s)),
    rank AS (
      SELECT doc_id, h & 255 AS reg,
             CASE WHEN (h >> 8) > 0 THEN 53 - length(bin(h >> 8)) ELSE 53 END AS rk
      FROM vals
    ),
    ra AS (SELECT reg, max(rk) AS max_rank FROM rank WHERE doc_id % 2 = 0 GROUP BY reg),
    rb AS (SELECT reg, max(rk) AS max_rank FROM rank WHERE doc_id % 2 = 1 GROUP BY reg),
    merged AS (
      SELECT reg, max(max_rank) AS max_rank
      FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY reg
    ),
    whole AS (SELECT reg, max(rk) AS max_rank FROM rank GROUP BY reg),
    em AS (
      SELECT CAST(256 - count(*) AS BIGINT) AS n_zero,
             {_hll_const(8)!r} / CAST(CAST(sum(1::BIGINT << (53 - max_rank)) AS BIGINT)
                 + (256 - count(*)) * (1::BIGINT << 53) AS DOUBLE) AS raw
      FROM merged
    ),
    ew AS (
      SELECT CAST(256 - count(*) AS BIGINT) AS n_zero,
             {_hll_const(8)!r} / CAST(CAST(sum(1::BIGINT << (53 - max_rank)) AS BIGINT)
                 + (256 - count(*)) * (1::BIGINT << 53) AS DOUBLE) AS raw
      FROM whole
    )
    SELECT 256 AS m,
           round(CASE WHEN em.n_zero > 0 AND em.raw <= 640.0
                      THEN 256.0 * ln(256.0 / em.n_zero) ELSE em.raw END, 2)
             AS est_merged,
           round(CASE WHEN ew.n_zero > 0 AND ew.raw <= 640.0
                      THEN 256.0 * ln(256.0 / ew.n_zero) ELSE ew.raw END, 2)
             AS est_whole,
           (round(CASE WHEN em.n_zero > 0 AND em.raw <= 640.0
                       THEN 256.0 * ln(256.0 / em.n_zero) ELSE em.raw END, 2)
            = round(CASE WHEN ew.n_zero > 0 AND ew.raw <= 640.0
                         THEN 256.0 * ln(256.0 / ew.n_zero) ELSE ew.raw END, 2))
             AS sketch_lossless
    FROM em, ew
    """,
)
def q_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.dedup import hashed_shingles
    from rag_content_spark.operators.sketches import (
        hll_estimate_from_registers,
        hll_merge,
        hll_registers,
    )

    vals = (
        # _fan: shingle-hashing + the downstream register builds are
        # md5-heavy and the input is single-split (see q_cms_merge)
        _fan(_docs(spark, sf_dir))
        .select(
            "doc_id", F.explode(hashed_shingles("text", n=3)).alias("sh31")
        )
        .select(
            "doc_id", stable_hash64(F.col("sh31").cast("string")).alias("h")
        )
        # three register builds below — sketch-per-batch shape, one scan
        .localCheckpoint(eager=True)
    )
    # r12: BOTH half-corpus register tables come out of ONE aggregation
    # pass (groupBy (half, reg)) instead of one filtered pass each —
    # same per-half (reg, max_rank) rows, one fewer scan of the hashed
    # stream; the merge (max over halves) is unchanged. The whole-corpus
    # sketch below stays an independent aggregation, mirroring the
    # oracle's `whole` CTE, so the lossless check is not circular.
    halves = hll_registers(
        vals.withColumn("_half", F.col("doc_id") % 2), "h",
        extra_cols=("_half",),
    ).drop("_half")
    em = hll_estimate_from_registers(hll_merge([halves])).select(
        F.col("m"), F.col("est").alias("est_merged")
    )
    ew = hll_estimate_from_registers(hll_registers(vals, "h")).select(
        F.col("est").alias("est_whole")
    )
    return em.crossJoin(F.broadcast(ew)).select(
        "m",
        "est_merged",
        "est_whole",
        (F.col("est_merged") == F.col("est_whole")).alias("sketch_lossless"),
    )


# ========================= semantic chunking ===============================


@register(
    "chunk_semantic",
    # Semantic chunking: sentence-ify the corpus (6-token sentences so
    # boundaries exist), embed each sentence with the mock twin, break
    # where the adjacent cosine (fixed-point 1e-6) goes negative,
    # segment id = cumulative boundary sum.
    f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents),
    d AS (
      SELECT doc_id,
             array_to_string(list_transform(
               generate_series(0, CAST(ceil(greatest(len(tk), 1) / 6.0) AS INT) - 1),
               j -> array_to_string(list_slice(tk, j * 6 + 1, j * 6 + 6), ' ')),
               '. ') || '.' AS t
      FROM toks
    ),
    sarrs AS (
      SELECT doc_id,
             list_filter(list_transform(
               string_split(regexp_replace(t, '([.!?])\\s+', '\\1' || chr(2), 'g'),
                            chr(2)),
               x -> trim(x, ' ' || chr(9) || chr(13) || chr(10))),
               x -> x <> '') AS sarr
      FROM d
    ),
    sents AS (
      SELECT doc_id, CAST(r.range AS INT) AS si,
             sarr[CAST(r.range + 1 AS INT)] AS sent
      FROM sarrs CROSS JOIN range(0, 10000) r WHERE r.range < len(sarr)
    ),
    emb AS (SELECT doc_id, si, sent, {_mock_embed_sql('sent')} AS e FROM sents),
    lagd AS (
      SELECT doc_id, si, sent, e,
             lag(e) OVER (PARTITION BY doc_id ORDER BY si) AS pe
      FROM emb
    ),
    bd AS (
      SELECT doc_id, si, sent,
             CASE WHEN pe IS NULL THEN 1
                  WHEN CAST(round({cosine_sql('e', 'pe')} * 1000000) AS BIGINT) < 0
                  THEN 1 ELSE 0 END AS b
      FROM lagd
    ),
    segd AS (
      SELECT doc_id, si, sent,
             sum(b) OVER (PARTITION BY doc_id ORDER BY si
                          ROWS UNBOUNDED PRECEDING) - 1 AS seg
      FROM bd
    )
    SELECT doc_id, CAST(seg AS BIGINT) AS segment_index,
           string_agg(sent, ' ' ORDER BY si) AS seg_text,
           CAST(count(*) AS BIGINT) AS n_sentences
    FROM segd GROUP BY doc_id, seg
    """,
)
def q_chunk_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.chunking import chunk_semantic

    tk = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    n_sent = F.ceil(F.greatest(F.size(tk), F.lit(1)) / 6.0).cast("int")
    sentenceified = F.concat(
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), n_sent - 1),
                lambda j: F.array_join(F.slice(tk, j * 6 + 1, 6), " "),
            ),
            ". ",
        ),
        F.lit("."),
    )
    # _fan: sentence-ify + per-sentence md5 embeddings + the semantic
    # merge are all narrow per-doc work (measured r11: 1.7 s -> 0.8 s)
    d = _fan(_docs(spark, sf_dir)).select(
        "doc_id", sentenceified.alias("text")
    )
    return chunk_semantic(d, threshold6=0, dim=8)


# ==================== streaming chunk-pipeline twin ========================


@register(
    "streaming_chunk_parity",
    # Streaming twin of the MAIN docs->chunks pipeline stage: an
    # availableNow file stream chunks documents as they arrive (the
    # explode is a stateless narrow op, streaming-legal) and lands via
    # foreachBatch versioned-table upserts keyed by chunk id. The
    # materialized table must hash-equal the batch chunker the oracle
    # computes.
    "SELECT doc_id || '#' || chunk_index AS chunk_id, doc_id, chunk_index,"
    " chunk_text, chunk_tokens FROM ("
    + _CHUNK_SQL.format(tokens=_TOKENS_SQL, size=16, overlap=0, stride=16)
    + ")",
)
def q_streaming_chunk_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from rag_content_spark.operators.chunking import chunk_fixed
    from rag_content_spark.sinks.versioned_table import read_snapshot
    from rag_content_spark.streaming.ingest import start_table_stream

    schema = _docs(spark, sf_dir).schema
    table = f"{sf_dir}/documents.parquet"
    if os.path.isdir(table):
        reader = spark.readStream.schema(schema)
        src_path = table
    else:
        reader = spark.readStream.schema(schema).option(
            "pathGlobFilter", "documents.parquet"
        )
        src_path = sf_dir
    docs = reader.parquet(src_path).select("doc_id", "text")
    chunks = chunk_fixed(docs, size=16, overlap=0).select(
        F.concat_ws("#", "doc_id", "chunk_index").alias("chunk_id"),
        "doc_id",
        "chunk_index",
        "chunk_text",
        "chunk_tokens",
    )
    base = tempfile.mkdtemp(prefix="sgraft_stream_chunks_")
    q = start_table_stream(
        chunks,
        os.path.join(base, "tbl"),
        os.path.join(base, "ckpt"),
        key_col="chunk_id",
        available_now=True,
    )
    q.awaitTermination()
    return read_snapshot(spark, os.path.join(base, "tbl"))


# cms_merge: cell-wise-sum mergeability proof, sibling of hll_merge —
# the merged half-sketches must be CELL-IDENTICAL to the whole-corpus
# sketch (counts are linear), so the oracle compares tables, not just
# estimates.
@register(
    "cms_merge",
    f"""
    WITH toks AS (
      SELECT doc_id, u.token
      FROM (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents) t,
           unnest(t.tk) AS u(token)
    ),
    cells AS (
      SELECT doc_id, r.range AS r,
             CASE r.range
               WHEN 0 THEN {stable_hash64_sql('token', salt='cms0')} % 256
               WHEN 1 THEN {stable_hash64_sql('token', salt='cms1')} % 256
               WHEN 2 THEN {stable_hash64_sql('token', salt='cms2')} % 256
               ELSE {stable_hash64_sql('token', salt='cms3')} % 256
             END AS c
      FROM toks CROSS JOIN range(0, 4) r
    ),
    halves AS (
      SELECT CAST(r AS INT) AS r, CAST(c AS INT) AS c,
             CAST(count(*) FILTER (WHERE doc_id % 2 = 0) AS BIGINT) AS cnt_a,
             CAST(count(*) FILTER (WHERE doc_id % 2 = 1) AS BIGINT) AS cnt_b,
             CAST(count(*) AS BIGINT) AS cnt_whole
      FROM cells GROUP BY r, c
    )
    SELECT r, c, cnt_a + cnt_b AS cnt_merged, cnt_whole,
           (cnt_a + cnt_b = cnt_whole) AS lossless
    FROM halves
    """,
)
def q_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.sketches import (
        cms_cells,
        cms_from_cells,
        cms_merge,
    )

    # _fan before the explode: the single-split input otherwise runs
    # the tokenize AND the downstream sketch aggregates in ONE task
    # (the checkpoint inherits the input's partitioning) — the _fan
    # docstring's measured case (r11). The checkpoint carries the
    # exploded CELLS, not raw tokens: the three sketch builds share one
    # salted-md5 hashing pass instead of re-hashing the stream each
    # (4 md5s per occurrence once, not three times).
    cells = (
        _fan(_docs(spark, sf_dir))
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .select("doc_id", F.explode(cms_cells("token")).alias("cell"))
        .select("doc_id", "cell.r", "cell.c")
        .localCheckpoint(eager=True)
    )
    # r12: both half-corpus sketches from ONE aggregation pass
    # (groupBy (half, r, c)) instead of one filtered pass each; the
    # merge (cell-wise sum over halves) is unchanged, and the
    # whole-corpus sketch stays an independent pass so the lossless
    # check is not circular (same fusion as q_hll_merge).
    halves = (
        cells.groupBy((F.col("doc_id") % 2).alias("_half"), "r", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .drop("_half")
    )
    merged = cms_merge([halves]).select(
        "r", "c", F.col("cnt").alias("cnt_merged")
    )
    whole = cms_from_cells(cells).select(
        "r", "c", F.col("cnt").alias("cnt_whole")
    )
    return merged.join(whole, ["r", "c"]).select(
        "r",
        "c",
        "cnt_merged",
        "cnt_whole",
        (F.col("cnt_merged") == F.col("cnt_whole")).alias("lossless"),
    )


# deterministic per-group inspection sample: N rows per group, chosen
# by hash order (stable across runs/engines) — the "show me 3 docs per
# language" triage query every curation review loop runs.
@register(
    "group_sample",
    f"""
    WITH ranked AS (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {stable_hash64_sql("CAST(doc_id AS VARCHAR)", salt="gs")},
                        doc_id
             ) AS rn
      FROM documents
    )
    SELECT lang, doc_id, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 3
    """,
)
def q_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(
        stable_hash64(F.col("doc_id").cast("string"), salt="gs"), "doc_id"
    )
    return (
        _docs(spark, sf_dir)
        .select("lang", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
        .select("lang", "doc_id", F.col("rn").cast("bigint").alias("rn"))
    )


# persisted inverted-index twin of bm25_search: build the token-bucket
# partitioned postings index, query it partition-pruned — scores must
# hash-match the on-the-fly scorer's oracle (shared bm25_from_postings).
_TEXT_INDEX_LOOKUP_ORACLE = f"""
    WITH lens AS (SELECT doc_id, len({_TOKENS_SQL}) AS dl FROM documents),
    stats AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
    post AS (
      SELECT doc_id, u.token, count(*) AS tf
      FROM (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents) t,
           unnest(t.tk) AS u(token)
      WHERE u.token IN {_KW_TERMS_SQL}
      GROUP BY doc_id, u.token
    ),
    scored AS (
      SELECT p.doc_id,
             ln(1.0 + (CAST(s.n AS DOUBLE) - count(*) OVER (PARTITION BY p.token) + 0.5)
                      / (count(*) OVER (PARTITION BY p.token) + 0.5))
             * (CAST(p.tf AS DOUBLE) * (1.2 + 1))
               / (CAST(p.tf AS DOUBLE) + 1.2 * ((1 - 0.75) + 0.75 * l.dl / s.avgdl))
               AS term_score
      FROM post p JOIN lens l USING (doc_id), stats s
    )
    SELECT doc_id, round(sum(term_score), 6) AS bm25
    FROM scored GROUP BY doc_id
    """

# build-once fixture: at scale the index is built once and queried many
# times, so bench splits build (text_index_build) from the amortized
# partition-pruned lookup (text_index_lookup, memoized build).
_TEXT_INDEX_MEMO: dict = {}


def _memo_text_index(spark: SparkSession, sf_dir: str) -> str:
    import tempfile

    from rag_content_spark.plans.text_index import build_text_index

    d = _TEXT_INDEX_MEMO.get(sf_dir)
    if d is None or not os.path.exists(os.path.join(d, "meta.json")):
        d = tempfile.mkdtemp(prefix="sgraft_text_index_")
        build_text_index(_docs(spark, sf_dir), d, n_buckets=32)
        _TEXT_INDEX_MEMO[sf_dir] = d
    return d


@register("text_index_search", _TEXT_INDEX_LOOKUP_ORACLE)
def q_text_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from rag_content_spark.plans.text_index import (
        build_text_index,
        query_text_index,
    )

    d = tempfile.mkdtemp(prefix="sgraft_text_index_")
    build_text_index(_docs(spark, sf_dir), d, n_buckets=32)
    return query_text_index(spark, d, _KW_TERMS)


@register(
    "text_index_build",
    # the build step in isolation: per-bucket postings manifest read
    # back from the written artifact — the oracle recomputes the same
    # (bucket, token stats) partitioning from the raw corpus
    f"""
    WITH post AS (
      SELECT doc_id, u.token, count(*) AS tf
      FROM (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents) t,
           unnest(t.tk) AS u(token)
      GROUP BY doc_id, u.token
    )
    SELECT CAST({stable_hash64_sql('token', salt='ti')} % 32 AS INT) AS bucket,
           CAST(count(DISTINCT token) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_postings,
           CAST(sum(tf) AS BIGINT) AS total_tf
    FROM post GROUP BY 1
    """,
)
def q_text_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from rag_content_spark.plans.text_index import build_text_index, live_postings

    d = tempfile.mkdtemp(prefix="sgraft_text_index_")
    build_text_index(_docs(spark, sf_dir), d, n_buckets=32)
    _TEXT_INDEX_MEMO[sf_dir] = d  # lookups amortize against this build
    return (
        live_postings(spark, d)
        .groupBy("bucket")
        .agg(
            F.count_distinct("token").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_postings"),
            F.sum("tf").cast("bigint").alias("total_tf"),
        )
    )


@register("text_index_lookup", _TEXT_INDEX_LOOKUP_ORACLE)
def q_text_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.plans.text_index import query_text_index

    return query_text_index(spark, _memo_text_index(spark, sf_dir), _KW_TERMS)


# --- the five remaining TPC-H decorrelation shapes (Q2/Q9/Q11/Q16/Q20) ---
# The synthetic schema has no partsupp table; the part-supplier relation
# is emulated from lineitem's distinct (l_partkey, l_suppkey) pairs with
# per-pair DECIMAL aggregates (min price = supply cost, summed quantity =
# stock). Each query keeps its TPC-H decorrelation shape — that is what's
# under test, not the retail semantics.


@register(
    "min_cost_supplier",
    # TPC-H Q2 shape: correlated scalar MIN subquery — for each part,
    # the European supplier(s) matching the region-wide minimum supply
    # cost. Decorrelated Spark-side as groupBy-min + equi-join back
    # (the classic rewrite Catalyst applies to the subquery form).
    """
    WITH ps AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             min(CAST(l_extendedprice AS DECIMAL(18,4))) AS supplycost
      FROM lineitem GROUP BY 1, 2
    ),
    eur AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    )
    SELECT e.s_acctbal, e.s_name, e.n_name,
           CAST(p.p_partkey AS BIGINT) AS partkey,
           CAST(ps.supplycost AS DOUBLE) AS supplycost
    FROM part p JOIN ps ON ps.pk = p.p_partkey
    JOIN eur e ON e.s_suppkey = ps.sk
    WHERE p.p_size <= 10 AND p.p_type = 'SMALL'
      AND ps.supplycost = (SELECT min(ps2.supplycost)
                           FROM ps ps2 JOIN eur e2 ON e2.s_suppkey = ps2.sk
                           WHERE ps2.pk = p.p_partkey)
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, partkey LIMIT 100
    """,
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale shape: both dim filters (qualifying parts, European
    # suppliers) are broadcast-SEMI-joined into the fact scan BEFORE the
    # pair aggregation — the correlated min only needs pairs that can
    # appear in the output, so the agg runs on the pruned fact. The
    # correlated MIN itself is one window over pk on the already
    # (pk, sk)-aggregated pair table: ONE lineitem scan, no self-join.
    li = _pq(spark, f"{sf_dir}/lineitem.parquet")
    p = _pq(spark, f"{sf_dir}/part.parquet")
    s = _pq(spark, f"{sf_dir}/supplier.parquet")
    n = _pq(spark, f"{sf_dir}/nation.parquet")
    r = _pq(spark, f"{sf_dir}/region.parquet")
    eur = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    pf = p.filter((F.col("p_size") <= 10) & (F.col("p_type") == "SMALL"))
    pruned = li.join(
        F.broadcast(pf.select("p_partkey")),
        li["l_partkey"] == F.col("p_partkey"),
        "left_semi",
    ).join(
        F.broadcast(eur.select("s_suppkey")),
        li["l_suppkey"] == F.col("s_suppkey"),
        "left_semi",
    )
    ps = pruned.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(
        F.min(F.col("l_extendedprice").cast("decimal(18,4)")).alias(
            "supplycost"
        )
    )
    w = Window.partitionBy("pk")
    best = ps.withColumn("mincost", F.min("supplycost").over(w)).filter(
        F.col("supplycost") == F.col("mincost")
    )
    return (
        best.join(F.broadcast(eur), best["sk"] == eur["s_suppkey"])
        .join(F.broadcast(pf), F.col("pk") == pf["p_partkey"])
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("p_partkey").cast("bigint").alias("partkey"),
            F.col("supplycost").cast("double").alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "partkey")
        .limit(100)
    )


@register(
    "product_type_profit",
    # TPC-H Q9 shape: profit by (nation, ship-year) over a 5-table join
    # with a LIKE part filter. Supply cost is emulated as 10% of
    # p_retailprice x quantity; the whole computation stays DECIMAL —
    # profit = (10 x gross - retail_qty) x 0.1 rendered as a
    # fixed-scale decimal string (0.1 is DECIMAL(2,1), so the multiply
    # is exact; a double cast here is 1-ulp-divergent at 100x — the
    # pricing_summary scale-boundary class).
    f"""
    SELECT n.n_name AS nation,
           CAST(floor(epoch(l.l_shipdate)) AS BIGINT) // {_EPOCH_YEAR}
             AS ship_year,
           CAST(CAST((10 * CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                              * CAST(1 - l.l_discount AS DECIMAL(18,4)))
                          AS DECIMAL(38,8))
                - CAST(sum(CAST(p.p_retailprice AS DECIMAL(18,4))
                           * CAST(l.l_quantity AS DECIMAL(18,4)))
                       AS DECIMAL(38,8)))
                * CAST(0.1 AS DECIMAL(2,1)) AS DECIMAL(38,9)) AS VARCHAR)
             AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%g%'
    GROUP BY nation, ship_year
    """,
)
def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.session import ensure_reader_confs

    ensure_reader_confs(spark)
    li = _pq(spark, f"{sf_dir}/lineitem.parquet")
    p = _pq(spark, f"{sf_dir}/part.parquet").filter(
        F.col("p_name").like("%g%")
    )
    s = _pq(spark, f"{sf_dir}/supplier.parquet")
    n = _pq(spark, f"{sf_dir}/nation.parquet")
    gross = F.sum(
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
    ).cast("decimal(38,8)")
    retail_qty = F.sum(
        F.col("p_retailprice").cast("decimal(18,4)")
        * F.col("l_quantity").cast("decimal(18,4)")
    ).cast("decimal(38,8)")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.floor(_ts_sec_col(li, "l_shipdate") / _EPOCH_YEAR)
            .cast("bigint")
            .alias("ship_year"),
        )
        .agg(
            (
                (F.lit(10) * gross - retail_qty)
                * F.lit(0.1).cast("decimal(2,1)")
            )
            .cast("decimal(38,9)")
            .cast("string")
            .alias("profit")
        )
    )


@register(
    "important_stock",
    # TPC-H Q11 shape: per-part value held by ONE nation's suppliers,
    # kept only when it exceeds a threshold from a scalar subquery over
    # the same relation. The fraction is SCALE-INVARIANT — keep parts
    # holding more than 2x the mean per-part share (TPC-H scales its
    # fraction by 1/SF for the same reason; a fixed 0.1% empties out
    # once every part has rows). Cross-multiplied DECIMAL compare, no
    # double-fraction drift.
    """
    WITH natps AS (
      SELECT l.l_partkey AS pk,
             CAST(l.l_extendedprice AS DECIMAL(18,4)) AS v
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_3'
    ),
    tot AS (SELECT CAST(sum(v) AS DECIMAL(38,4)) AS total,
                   CAST(count(DISTINCT pk) AS BIGINT) AS nparts
            FROM natps)
    SELECT CAST(pk AS BIGINT) AS partkey,
           CAST(sum(v) AS DOUBLE) AS value
    FROM natps, tot
    GROUP BY pk, tot.total, tot.nparts
    HAVING CAST(sum(v) AS DECIMAL(38,4)) * tot.nparts > 2 * tot.total
    """,
)
def q_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _pq(spark, f"{sf_dir}/lineitem.parquet")
    s = _pq(spark, f"{sf_dir}/supplier.parquet")
    n = _pq(spark, f"{sf_dir}/nation.parquet")
    nat_sup = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .filter(F.col("n_name") == "NATION_3")
        .select("s_suppkey")
    )
    natps = li.join(
        F.broadcast(nat_sup), li["l_suppkey"] == nat_sup["s_suppkey"]
    ).select(
        F.col("l_partkey").alias("pk"),
        F.col("l_extendedprice").cast("decimal(18,4)").alias("v"),
    )
    per_part = natps.groupBy("pk").agg(
        F.sum("v").cast("decimal(38,4)").alias("val")
    )
    # the per-part table is part-cardinality-sized (corpus-scale), so
    # total/nparts come from a ONE-ROW aggregate broadcast back in —
    # not a single-partition window over every part. localCheckpoint
    # pins the aggregated table so lineitem is still scanned once.
    per_part = per_part.localCheckpoint(eager=False)
    totals = per_part.agg(
        F.sum("val").cast("decimal(38,4)").alias("total"),
        F.count(F.lit(1)).alias("nparts"),
    )
    return (
        per_part.crossJoin(F.broadcast(totals))
        .filter(F.col("val") * F.col("nparts") > 2 * F.col("total"))
        .select(
            F.col("pk").cast("bigint").alias("partkey"),
            F.col("val").cast("double").alias("value"),
        )
    )


@register(
    "supplier_part_types",
    # TPC-H Q16 shape: distinct-supplier counts per (brand, type, size)
    # with exclusion filters AND a NOT-IN subquery (suppliers in bad
    # standing) — the anti-join + count-distinct composition.
    """
    SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS size,
           CAST(count(DISTINCT ps.sk) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
          FROM lineitem) ps
    JOIN part p ON p.p_partkey = ps.pk
    WHERE p.p_brand <> 'Brand#2'
      AND p.p_type <> 'ECONOMY'
      AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND ps.sk NOT IN (SELECT s_suppkey FROM supplier
                        WHERE s_acctbal < 0.0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q_supplier_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _pq(spark, f"{sf_dir}/lineitem.parquet")
    p = _pq(spark, f"{sf_dir}/part.parquet")
    s = _pq(spark, f"{sf_dir}/supplier.parquet")
    # no pre-distinct on the (pk, sk) pairs: the final aggregate counts
    # DISTINCT sk per group, which is invariant to duplicate pairs, so
    # the distinct was a full lineitem-sized exchange whose only effect
    # was shrinking the (broadcast) part join's probe input (r12)
    pairs = li.select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    )
    bad = s.filter(F.col("s_acctbal") < 0.0).select("s_suppkey")
    pf = p.filter(
        (F.col("p_brand") != "Brand#2")
        & (F.col("p_type") != "ECONOMY")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    return (
        pairs.join(F.broadcast(bad), pairs["sk"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(pf), F.col("pk") == pf["p_partkey"])
        .groupBy("p_brand", "p_type", F.col("p_size").cast("bigint").alias("size"))
        .agg(F.countDistinct("sk").alias("supplier_cnt"))
    )


@register(
    "part_promotion",
    # TPC-H Q20 shape: suppliers holding excess stock of LIKE-filtered
    # parts — the nested IN-subquery whose inner predicate compares a
    # pair aggregate against a correlated half-sum over a date window.
    # Emulated stock = pair's all-time shipped quantity; the pair
    # qualifies when all-time > 2 x recent (cross-multiplied DECIMALs,
    # recent > 0 keeps the correlated compare binding).
    f"""
    WITH pairq AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4))
               AS total_qty,
             CAST(sum(CASE WHEN floor(epoch(l_shipdate)) >= {_DORMANT_CUTOFF}
                           THEN CAST(l_quantity AS DECIMAL(18,4))
                           ELSE CAST(0 AS DECIMAL(18,4)) END)
                  AS DECIMAL(38,4)) AS recent_qty
      FROM lineitem GROUP BY 1, 2
    )
    SELECT s.s_name, n.n_name
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (
      SELECT pq.sk FROM pairq pq JOIN part p ON p.p_partkey = pq.pk
      WHERE p.p_name LIKE '%o%'
        AND pq.recent_qty > 0 AND pq.total_qty > 2 * pq.recent_qty)
    ORDER BY s.s_name, n.n_name
    """,
)
def q_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.session import ensure_reader_confs

    ensure_reader_confs(spark)
    li = _pq(spark, f"{sf_dir}/lineitem.parquet")
    p = _pq(spark, f"{sf_dir}/part.parquet")
    s = _pq(spark, f"{sf_dir}/supplier.parquet")
    n = _pq(spark, f"{sf_dir}/nation.parquet")
    qdec = F.col("l_quantity").cast("decimal(18,4)")
    zero = F.lit(0).cast("decimal(18,4)")
    promo_parts = p.filter(F.col("p_name").like("%o%")).select("p_partkey")
    # guide §3.2: the promo semi-join commutes with the (pk, sk) groupBy
    # (its key is a grouping key), so applying it BELOW the aggregation
    # drops ~39% of lineitem rows from the shuffle; Catalyst does not
    # push LeftSemi through Aggregate itself (plans/r11/part_promotion_*)
    li_promo = li.join(
        F.broadcast(promo_parts),
        li["l_partkey"] == promo_parts["p_partkey"],
        "left_semi",
    )
    pairq = li_promo.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(
        F.sum(qdec).cast("decimal(38,4)").alias("total_qty"),
        F.sum(
            F.when(_ts_sec_col(li_promo, "l_shipdate") >= _DORMANT_CUTOFF, qdec)
            .otherwise(zero)
        )
        .cast("decimal(38,4)")
        .alias("recent_qty"),
    )
    # no distinct: the only consumer is a LEFT SEMI join (duplicate-
    # insensitive), so the distinct was an extra exchange + aggregate
    # of the supplier keys (r12)
    excess_sks = pairq.filter(
        (F.col("recent_qty") > 0)
        & (F.col("total_qty") > 2 * F.col("recent_qty"))
    ).select("sk")
    return (
        s.join(F.broadcast(excess_sks), s["s_suppkey"] == excess_sks["sk"], "left_semi")
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select("s_name", "n_name")
        .orderBy("s_name", "n_name")
    )


_MAXSIM_TERMS = ["spark", "join", "merge", "window"]
_MAXSIM_DIM = 8


def _maxsim_qvec(term: str) -> list:
    import hashlib as _hl

    return [
        int(_hl.md5(f"{term}:{i}".encode()).hexdigest()[:15], 16)
        % 1_000_000
        * 2
        - 1_000_000
        for i in range(_MAXSIM_DIM)
    ]


def _maxsim_oracle() -> str:
    # dot_j(token) as pure SQL: one h60 per (token, dim), same integer
    # space as operators/search.token_vec_int
    def dot(qv):
        terms = [
            f"((CAST(('0x' || substr(md5(token || ':{i}'), 1, 15)) AS BIGINT)"
            f" % 1000000) * 2 - 1000000) * ({qv[i]})"
            for i in range(_MAXSIM_DIM)
        ]
        return " + ".join(terms)

    maxes = [
        f"max({dot(_maxsim_qvec(t))}) AS m{j}"
        for j, t in enumerate(_MAXSIM_TERMS)
    ]
    total = " + ".join(f"m{j}" for j in range(len(_MAXSIM_TERMS)))
    return f"""
    WITH tok AS (
      SELECT doc_id, u.token
      FROM (SELECT doc_id, list_distinct({_TOKENS_SQL}) AS tk
            FROM documents WHERE len({_TOKENS_SQL}) > 0) t,
           unnest(t.tk) AS u(token)
    ),
    dots AS (
      SELECT doc_id, {', '.join(maxes)}
      FROM tok GROUP BY doc_id
    )
    SELECT doc_id, CAST({total} AS BIGINT) AS maxsim6
    FROM dots ORDER BY maxsim6 DESC, doc_id LIMIT 20
    """


# shared DuckDB rendering of operators/sketches.loglin_bucket over
# documents.n_chars: octave from the binary-string length, linear
# sub-bucket via exact power-of-two integer division
_QSK_CTE = """
    b AS (
      SELECT doc_id,
             CAST(n_chars AS BIGINT) AS v,
             (length(bin(CAST(n_chars AS BIGINT))) - 1) AS m
      FROM documents
    ),
    bk AS (
      SELECT doc_id,
             CAST(m * 8
                  + ((v - v % CAST(pow(2, greatest(m - 3, 0)) AS BIGINT))
                     // CAST(pow(2, greatest(m - 3, 0)) AS BIGINT)) % 8
                  AS BIGINT) AS bucket
      FROM b
    )
"""


@register(
    "quantile_sketch",
    # DDSketch-style log-linear quantile sketch (Masson et al., VLDB
    # 2019) with a PURE-INTEGER bucket mapping (no float log — both
    # engines bucket bit-identically): p50/p90/p99 of documents.n_chars
    # as (pct, bucket, bucket lower bound). The sketch is one map-side
    # combining agg (<= 512 rows) — distributed quantiles with no
    # global sort.
    f"""
    WITH {_QSK_CTE},
    sk AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt
           FROM bk GROUP BY bucket),
    cum AS (
      SELECT bucket, cnt,
             CAST(sum(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum,
             CAST(sum(cnt) OVER () AS BIGINT) AS n
      FROM sk
    ),
    p AS (SELECT * FROM (VALUES (50), (90), (99)) AS t(pct)),
    hit AS (
      SELECT CAST(p.pct AS BIGINT) AS pct,
             CAST(min(c.bucket) AS BIGINT) AS bucket
      FROM p JOIN cum c ON c.cum >= (c.n * p.pct + 99) // 100
      GROUP BY p.pct
    )
    SELECT pct, bucket,
           CAST(CASE WHEN bucket // 8 < 3 THEN bucket % 8
                ELSE (8 + bucket % 8)
                     * CAST(pow(2, bucket // 8 - 3) AS BIGINT)
                END AS BIGINT) AS value_lo
    FROM hit
    """,
)
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.sketches import (
        qsketch,
        qsketch_quantiles,
    )

    sk = qsketch(_docs(spark, sf_dir), "n_chars")
    return qsketch_quantiles(sk, [50, 90, 99])


@register(
    "qsketch_merge",
    # Mergeability proof for the quantile sketch (the cms_merge /
    # hll_merge contract): sketch each half of the corpus, bucket-sum
    # merge, compare against the whole-corpus sketch — counts are
    # linear, so the merge is lossless cell by cell.
    f"""
    WITH {_QSK_CTE},
    halves AS (
      SELECT bucket,
             CAST(count(*) FILTER (WHERE doc_id % 2 = 0) AS BIGINT) AS cnt_a,
             CAST(count(*) FILTER (WHERE doc_id % 2 = 1) AS BIGINT) AS cnt_b,
             CAST(count(*) AS BIGINT) AS cnt_whole
      FROM bk GROUP BY bucket
    )
    SELECT bucket, cnt_a + cnt_b AS cnt_merged, cnt_whole,
           (cnt_a + cnt_b = cnt_whole) AS lossless
    FROM halves
    """,
)
def q_qsketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.sketches import qsketch, qsketch_merge

    from rag_content_spark.operators.sketches import loglin_bucket

    docs = _docs(spark, sf_dir).select("doc_id", "n_chars").localCheckpoint(
        eager=True
    )  # two sketch passes, one scan
    # r12: both half-corpus sketches from ONE aggregation pass (groupBy
    # (half, bucket)); the merge (bucket-wise sum over halves) and the
    # independent whole-corpus pass are unchanged (same fusion as
    # q_hll_merge / q_cms_merge).
    halves = (
        docs.groupBy(
            (F.col("doc_id") % 2).alias("_half"), loglin_bucket("n_chars")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .drop("_half")
    )
    merged = qsketch_merge([halves]).select(
        "bucket", F.col("cnt").alias("cnt_merged")
    )
    whole = qsketch(docs, "n_chars").select(
        "bucket", F.col("cnt").alias("cnt_whole")
    )
    return merged.join(whole, ["bucket"]).select(
        "bucket",
        "cnt_merged",
        "cnt_whole",
        (F.col("cnt_merged") == F.col("cnt_whole")).alias("lossless"),
    )


@register(
    "streaming_qsketch",
    # Streaming twin of the quantile sketch: an availableNow stream
    # (maxFilesPerTrigger=1, so multi-file inputs exercise real
    # multi-batch merging) appends one tiny per-batch sketch per
    # micro-batch to a versioned table; the result is the bucket-sum
    # merge over the table — which must equal the batch sketch of the
    # whole corpus (counts are linear; the sketch is the state).
    f"""
    WITH {_QSK_CTE}
    SELECT bucket, CAST(count(*) AS BIGINT) AS cnt
    FROM bk GROUP BY bucket
    """,
)
def q_streaming_qsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from rag_content_spark.operators.sketches import qsketch_merge
    from rag_content_spark.sinks.versioned_table import read_snapshot
    from rag_content_spark.streaming.aggregate import start_sketch_stream

    schema = _docs(spark, sf_dir).schema
    table = f"{sf_dir}/documents.parquet"
    if os.path.isdir(table):
        reader = spark.readStream.schema(schema)
        src_path = table
    else:
        reader = spark.readStream.schema(schema).option(
            "pathGlobFilter", "documents.parquet"
        )
        src_path = sf_dir
    stream = (
        reader.option("maxFilesPerTrigger", 1)
        .parquet(src_path)
        .select("doc_id", "n_chars")
    )
    base = tempfile.mkdtemp(prefix="sgraft_stream_qsk_")
    q = start_sketch_stream(
        stream,
        "n_chars",
        os.path.join(base, "tbl"),
        os.path.join(base, "ckpt"),
    )
    q.awaitTermination()
    return qsketch_merge([read_snapshot(spark, os.path.join(base, "tbl"))])


@register(
    "sketch_saturation",
    # Insert-decade saturation probe for ALL THREE mergeable sketches in
    # one pass: a deterministic synthetic stream of 60 x count(events)
    # distinct keys (event_id*60+j, j<60 — data-derived on BOTH engines,
    # so it needs only DISTINCT event_ids, not dense ones: the ~sf100
    # replica's ids are sparse 0..9.99e9 and the stream is still 6B
    # distinct inserts; 600k at sf0.01) feeds, from ONE md5 pass,
    #   - the HLL register table (reg = low 8 bits, rank from the high
    #     52 — operators/sketches.py hll_registers math inlined so the
    #     CMS cells reuse the same hash),
    #   - 4 CMS rows via disjoint 8-bit slices of the same 60-bit hash
    #     (Kirsch-Mitzenmacher-style derived hash family — the decade
    #     rail under test is the BIGINT cell counters and the harmonic
    #     sum, not the salt family),
    # plus a hash-free qsketch pass over the raw ids. Each sketch is
    # built PER HALF (i%2) and combined with the real merge operators
    # (hll_merge / cms_merge / qsketch_merge), so the mergeable state
    # path is what's exercised. One result row carries the saturation
    # rails: the HLL harmonic sum (BIGINT, must stay < 2^63 — bounded by
    # m*2^53 ~ 2.3e18 by construction), max register rank (grows ~log2
    # of inserts/m), CMS counter extremes, and the qsketch bucket count
    # and p50/p99 lower bounds (relative error <= 12.5% by bucket
    # construction).
    f"""
    WITH ids AS NOT MATERIALIZED (
      -- referenced twice (hash pass + qsketch pass); DuckDB's default
      -- CTE materialization would spill the full 60N-row id stream to
      -- disk at the 6B-insert replica — NOT MATERIALIZED keeps both
      -- consumers streaming over a re-evaluated generate_series
      SELECT e.event_id * 60 + u.j AS i
      FROM events e, unnest(generate_series(0, 59)) AS u(j)
    ),
    hx AS (
      SELECT {stable_hash64_sql('CAST(i AS VARCHAR)')} AS h,
             i % 2 AS half
      FROM ids
    ),
    keyed AS (
      -- the lateral struct-unnest form of this expansion DELIM-joins
      -- (materializes the hashed stream: ~8 GB spill per 60M inserts,
      -- disk death at 6B) and the SELECT-list unnest streams but runs
      -- ~600k rows/s; GROUPING SETS keeps ONE streaming scan feeding
      -- five native hash tables (measured 2.1M inserts/s, zero spill
      -- under a 4 GB cap)
      SELECT half,
             h & 255 AS k0, (h >> 8) & 255 AS k1, (h >> 18) & 255 AS k2,
             (h >> 28) & 255 AS k3, (h >> 38) & 255 AS k4,
             CASE WHEN (h >> 8) > 0
                  THEN 53 - length(bin(h >> 8)) ELSE 53 END AS rk
      FROM hx
    ),
    gs AS (
      SELECT half, k0, k1, k2, k3, k4, count(*) AS cnt, max(rk) AS mrk,
             GROUPING(k0, k1, k2, k3, k4) AS gid
      FROM keyed
      GROUP BY GROUPING SETS ((half, k0), (half, k1), (half, k2),
                              (half, k3), (half, k4))
    ),
    state AS (
      SELECT CASE gid WHEN 15 THEN 0 WHEN 23 THEN 1 WHEN 27 THEN 2
                      WHEN 29 THEN 3 WHEN 30 THEN 4 END AS kind,
             coalesce(k0, k1, k2, k3, k4) AS key, half, cnt, mrk
      FROM gs
    ),
    hreg AS (SELECT key AS reg, max(mrk) AS max_rank
             FROM state WHERE kind = 0 GROUP BY 1),
    hagg AS (
      SELECT count(*) AS nregs,
             sum(1::BIGINT << (53 - max_rank)) AS s_data,
             max(max_rank) AS hmax
      FROM hreg
    ),
    hest AS (
      SELECT CAST(256 - nregs AS BIGINT) AS n_zero,
             CAST(s_data + (256 - nregs) * (1::BIGINT << 53) AS BIGINT)
               AS harmonic_sum,
             CAST(hmax AS BIGINT) AS hmax,
             {_hll_const(8)!r}
               / CAST(s_data + (256 - nregs) * (1::BIGINT << 53) AS DOUBLE)
               AS raw
      FROM hagg
    ),
    cms AS (SELECT kind - 1 AS r, key AS c, sum(cnt) AS cnt
            FROM state WHERE kind >= 1 GROUP BY 1, 2),
    cagg AS (
      SELECT CAST(sum(CASE WHEN r = 0 THEN cnt END) AS BIGINT) AS cms_total,
             CAST(max(cnt) AS BIGINT) AS cms_max_cnt,
             CAST(min(cnt) AS BIGINT) AS cms_min_cnt
      FROM cms
    ),
    qb AS (
      SELECT CAST((length(bin(i)) - 1) * 8
               + ((i - i % CAST(pow(2, greatest(length(bin(i)) - 1 - 3, 0))
                               AS BIGINT))
                  // CAST(pow(2, greatest(length(bin(i)) - 1 - 3, 0))
                          AS BIGINT)) % 8
             AS BIGINT) AS bucket
      FROM ids
    ),
    qsk AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt
            FROM qb GROUP BY 1),
    qcum AS (
      SELECT bucket, cnt,
             CAST(sum(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum,
             CAST(sum(cnt) OVER () AS BIGINT) AS n
      FROM qsk
    ),
    qhit AS (
      SELECT p.pct, CAST(min(c.bucket) AS BIGINT) AS bucket
      FROM (VALUES (50), (99)) AS p(pct)
      JOIN qcum c ON c.cum >= (c.n * p.pct + 99) // 100
      GROUP BY 1
    ),
    qlo AS (
      SELECT
        max(CASE WHEN pct = 50 THEN vlo END) AS qsk_p50_lo,
        max(CASE WHEN pct = 99 THEN vlo END) AS qsk_p99_lo
      FROM (SELECT pct,
                   CAST(CASE WHEN bucket // 8 < 3 THEN bucket % 8
                        ELSE (8 + bucket % 8)
                             * CAST(pow(2, bucket // 8 - 3) AS BIGINT)
                        END AS BIGINT) AS vlo
            FROM qhit)
    ),
    qagg AS (SELECT CAST(count(*) AS BIGINT) AS qsk_buckets,
                    CAST(max(cnt) AS BIGINT) AS qsk_max_cnt FROM qsk)
    SELECT CAST((SELECT count(*) * 60 FROM events) AS BIGINT) AS n_inserts,
           CAST(256 AS INT) AS hll_m,
           h.n_zero AS hll_n_zero,
           round(CASE WHEN h.n_zero > 0 AND h.raw <= 640.0
                      THEN 256.0 * ln(256.0 / h.n_zero) ELSE h.raw END, 2)
             AS hll_est,
           h.hmax AS hll_max_rank,
           h.harmonic_sum AS hll_harmonic_sum,
           c.cms_total, c.cms_max_cnt, c.cms_min_cnt,
           q.qsk_buckets, q.qsk_max_cnt, l.qsk_p50_lo, l.qsk_p99_lo
    FROM hest h, cagg c, qagg q, qlo l
    """,
)
def q_sketch_saturation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.sketches import (
        cms_merge,
        hll_estimate_from_registers,
        hll_merge,
        qsketch,
        qsketch_merge,
        qsketch_quantiles,
    )

    ev = _pq(spark, f"{sf_dir}/events.parquet").select("event_id")
    # n is only the n_inserts output literal: read the exact row count
    # from the parquet footer driver-side (the _emb_driver pattern,
    # guide §5) instead of paying a Spark count() job per query build.
    # parquet metadata num_rows is the same exact count the scan returns.
    import pyarrow.parquet as pp

    n_ev = pp.ParquetFile(f"{sf_dir}/events.parquet").metadata.num_rows
    n = 60 * n_ev
    # the insert stream is DATA-DERIVED (event_id*60+j), matching the
    # oracle exactly — a spark.range(60*N) twin diverges the moment
    # event_ids are distinct-but-sparse (the 1000x replica generator
    # offsets them to ~1e10), which the first 6B run caught as a
    # full-row value-hash mismatch
    # _fan before the explode: events.parquet is single-split locally,
    # so the 60N md5 hash pass otherwise runs in ONE task (measured
    # r11: 12.8 s -> ~1.6 s at sf0.1's 6M inserts)
    ids = _fan(ev).select(
        "event_id",
        F.explode(F.sequence(F.lit(0), F.lit(59))).alias("j"),
    ).select((F.col("event_id") * 60 + F.col("j")).alias("id"))
    h = F.col("h")
    w = F.shiftright(h, 8)
    # one md5 per key, exploded into the HLL register cell + 4 CMS cells
    # (disjoint 8-bit slices of the same hash); the 5x explode collapses
    # map-side to <= 5*256*2 groups per partition, so the single shuffle
    # carries a few KB regardless of insert count — the 100 TB shape.
    cells = F.array(
        F.struct(
            F.lit(0).alias("kind"),
            h.bitwiseAND(F.lit(255)).cast("bigint").alias("key"),
            F.when(w > 0, F.lit(53) - F.length(F.bin(w)))
            .otherwise(F.lit(53))
            .cast("int")
            .alias("rk"),
        ),
        *[
            F.struct(
                F.lit(j + 1).alias("kind"),
                F.shiftright(h, 8 + 10 * j)
                .bitwiseAND(F.lit(255))
                .cast("bigint")
                .alias("key"),
                F.lit(0).cast("int").alias("rk"),
            )
            for j in range(4)
        ],
    )
    state = (
        ids.select(
            (F.col("id") % 2).alias("half"),
            stable_hash64(F.col("id").cast("string")).alias("h"),
        )
        .select("half", F.explode(cells).alias("c"))
        .select("half", "c.kind", "c.key", "c.rk")
        .groupBy("kind", "key", "half")
        .agg(F.count(F.lit(1)).alias("cnt"), F.max("rk").alias("mrk"))
        # <= 2560 rows; checkpoint so the three sketch consumers below
        # don't each replay the 60N-row hash pass
        .localCheckpoint(eager=True)
    )

    def _hll_half(half: int) -> DataFrame:
        return state.filter(
            (F.col("kind") == 0) & (F.col("half") == half)
        ).select(F.col("key").alias("reg"), F.col("mrk").alias("max_rank"))

    merged_regs = hll_merge([_hll_half(0), _hll_half(1)]).localCheckpoint(
        eager=True
    )
    est = hll_estimate_from_registers(merged_regs)
    rail = merged_regs.agg(
        F.max("max_rank").cast("bigint").alias("hll_max_rank"),
        (
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - max_rank)"))
            + (F.lit(256) - F.count(F.lit(1)))
            * F.lit(1 << 53).cast("bigint")
        )
        .cast("bigint")
        .alias("hll_harmonic_sum"),
    )

    def _cms_half(half: int) -> DataFrame:
        return state.filter(
            (F.col("kind") >= 1) & (F.col("half") == half)
        ).select(
            (F.col("kind") - 1).alias("r"),
            F.col("key").alias("c"),
            F.col("cnt"),
        )

    cms = cms_merge([_cms_half(0), _cms_half(1)])
    cagg = cms.agg(
        F.sum(F.when(F.col("r") == 0, F.col("cnt")))
        .cast("bigint")
        .alias("cms_total"),
        F.max("cnt").cast("bigint").alias("cms_max_cnt"),
        F.min("cnt").cast("bigint").alias("cms_min_cnt"),
    )

    # hash-free second pass: quantile sketch over the raw ids
    qsk = qsketch_merge(
        [
            qsketch(ids.filter(F.col("id") % 2 == 0), "id"),
            qsketch(ids.filter(F.col("id") % 2 == 1), "id"),
        ]
    ).localCheckpoint(eager=True)
    qagg = qsk.agg(
        F.count(F.lit(1)).alias("qsk_buckets"),
        F.max("cnt").cast("bigint").alias("qsk_max_cnt"),
    )
    qq = qsketch_quantiles(qsk, [50, 99]).agg(
        F.max(F.when(F.col("pct") == 50, F.col("value_lo")))
        .cast("bigint")
        .alias("qsk_p50_lo"),
        F.max(F.when(F.col("pct") == 99, F.col("value_lo")))
        .cast("bigint")
        .alias("qsk_p99_lo"),
    )
    return (
        est.crossJoin(F.broadcast(rail))
        .crossJoin(F.broadcast(cagg))
        .crossJoin(F.broadcast(qagg))
        .crossJoin(F.broadcast(qq))
        .select(
            F.lit(n).cast("bigint").alias("n_inserts"),
            F.col("m").alias("hll_m"),
            F.col("n_zero").cast("bigint").alias("hll_n_zero"),
            F.col("est").alias("hll_est"),
            "hll_max_rank",
            "hll_harmonic_sum",
            "cms_total",
            "cms_max_cnt",
            "cms_min_cnt",
            F.col("qsk_buckets").cast("bigint").alias("qsk_buckets"),
            "qsk_max_cnt",
            "qsk_p50_lo",
            "qsk_p99_lo",
        )
    )


@register(
    "kmv_set_ops",
    # KMV / theta sketch set algebra (Bar-Yossef et al. 2002; the
    # theta-sketch framing of Apache DataSketches): distinct-count,
    # union AND INTERSECTION estimates of the two corpus halves' token
    # vocabularies from k=256-row mergeable states — the set operation
    # HLL cannot do, and the cheap 100 TB path for "how much new
    # vocabulary does corpus B add beyond A?" (the exact answer is a
    # corpus-sized distinct join). States are the k smallest distinct
    # 60-bit hashes; theta = the kth value when saturated else 2^60;
    # estimates are one double division from identical integers, so the
    # oracle matches to the bit. Exact counts reported alongside (the
    # hll_distinct convention) — at sf0.01 the estimates land within
    # the ~1/sqrt(k-2) = 6.3% design error.
    f"""
    WITH tok AS (
      SELECT doc_id % 2 AS side, u.token AS token
      FROM (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents) t,
           unnest(t.tk) AS u(token)
    ),
    dt AS (SELECT DISTINCT side, token FROM tok),
    hv AS (SELECT DISTINCT side, {stable_hash64_sql('token')} AS h FROM dt),
    sa AS (SELECT h FROM hv WHERE side = 0 ORDER BY h LIMIT 256),
    sb AS (SELECT h FROM hv WHERE side = 1 ORDER BY h LIMIT 256),
    su AS (SELECT DISTINCT h FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb)
           ORDER BY h LIMIT 256),
    ta AS (SELECT count(*) AS n,
                  CASE WHEN count(*) >= 256 THEN max(h)
                       ELSE 1152921504606846976 END AS theta FROM sa),
    tb AS (SELECT count(*) AS n,
                  CASE WHEN count(*) >= 256 THEN max(h)
                       ELSE 1152921504606846976 END AS theta FROM sb),
    tu AS (SELECT count(*) AS n,
                  CASE WHEN count(*) >= 256 THEN max(h)
                       ELSE 1152921504606846976 END AS theta FROM su),
    ti AS (SELECT least(ta.theta, tb.theta) AS theta FROM ta, tb),
    ic AS (SELECT count(*) AS n_common
           FROM sa JOIN sb USING (h), ti WHERE h < ti.theta),
    stats AS (SELECT token, count(DISTINCT side) AS ns, min(side) AS ms
              FROM dt GROUP BY token),
    ex AS (
      SELECT CAST(count(*) AS BIGINT) AS exact_union,
             CAST(count(*) FILTER (WHERE ns = 2) AS BIGINT) AS exact_inter,
             CAST(count(*) FILTER (WHERE ns = 2 OR ms = 0) AS BIGINT) AS exact_a,
             CAST(count(*) FILTER (WHERE ns = 2 OR ms = 1) AS BIGINT) AS exact_b
      FROM stats
    )
    SELECT CAST(256 AS INT) AS k,
           CASE WHEN ta.n >= 256
                THEN round((255.0 * 1152921504606846976.0)
                           / CAST(ta.theta AS DOUBLE), 2)
                ELSE CAST(ta.n AS DOUBLE) END AS est_a,
           CASE WHEN tb.n >= 256
                THEN round((255.0 * 1152921504606846976.0)
                           / CAST(tb.theta AS DOUBLE), 2)
                ELSE CAST(tb.n AS DOUBLE) END AS est_b,
           CASE WHEN tu.n >= 256
                THEN round((255.0 * 1152921504606846976.0)
                           / CAST(tu.theta AS DOUBLE), 2)
                ELSE CAST(tu.n AS DOUBLE) END AS est_union,
           CASE WHEN ti.theta < 1152921504606846976
                THEN round(CAST(ic.n_common AS DOUBLE)
                           * 1152921504606846976.0
                           / CAST(ti.theta AS DOUBLE), 2)
                ELSE CAST(ic.n_common AS DOUBLE) END AS est_inter,
           ex.exact_a, ex.exact_b, ex.exact_union, ex.exact_inter
    FROM ta, tb, tu, ti, ic, ex
    """,
)
def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.sketches import (
        kmv_estimate,
        kmv_intersect_estimate,
        kmv_state,
        kmv_union,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    dt = (
        docs.select(
            (F.col("doc_id") % 2).alias("side"),
            F.explode(tokens("text")).alias("token"),
        )
        .distinct()
        # reused by the three state builds AND the exact stats — one
        # corpus tokenization
        .localCheckpoint(eager=True)
    )
    hv = dt.select(
        "side", stable_hash64("token").alias("h")
    ).localCheckpoint(eager=True)
    sa = kmv_state(hv.filter(F.col("side") == 0), "h")
    sb = kmv_state(hv.filter(F.col("side") == 1), "h")
    su = kmv_union([sa, sb])
    ea = kmv_estimate(sa).select(F.col("est").alias("est_a"))
    eb = kmv_estimate(sb).select(F.col("est").alias("est_b"))
    eu = kmv_estimate(su).select(F.col("est").alias("est_union"))
    ei = kmv_intersect_estimate(sa, sb).select(
        F.col("est").alias("est_inter")
    )
    stats = dt.groupBy("token").agg(
        F.countDistinct("side").alias("ns"), F.min("side").alias("ms")
    )
    ex = stats.agg(
        F.count(F.lit(1)).alias("exact_union"),
        F.count(F.when(F.col("ns") == 2, 1)).alias("exact_inter"),
        F.count(
            F.when((F.col("ns") == 2) | (F.col("ms") == 0), 1)
        ).alias("exact_a"),
        F.count(
            F.when((F.col("ns") == 2) | (F.col("ms") == 1), 1)
        ).alias("exact_b"),
    )
    return (
        ea.crossJoin(F.broadcast(eb))
        .crossJoin(F.broadcast(eu))
        .crossJoin(F.broadcast(ei))
        .crossJoin(F.broadcast(ex))
        .select(
            F.lit(256).alias("k"),
            "est_a",
            "est_b",
            "est_union",
            "est_inter",
            "exact_a",
            "exact_b",
            "exact_union",
            "exact_inter",
        )
    )


@register(
    "maxsim_search",
    # ColBERT-style late interaction (Khattab & Zaharia, SIGIR 2020):
    # score = sum over query tokens of max over doc tokens of
    # dot(E(q), E(t)), integer token embeddings -> engine-exact BIGINT
    # scores. Spark side is one narrow projection + TakeOrdered (zero
    # exchanges); the oracle unnests tokens and replicates the md5
    # integer vectors per dimension.
    _maxsim_oracle(),
)
def q_maxsim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11: vectorized integer scorer (maxsim_scores_np) — exact by
    # int64-ness, one md5 per distinct (token, dim) per task instead of
    # per occurrence; ordering/limit unchanged (guide §4.2).
    from rag_content_spark.operators.search import maxsim_scores_np

    return (
        maxsim_scores_np(_docs(spark, sf_dir), _MAXSIM_TERMS, dim=_MAXSIM_DIM)
        .orderBy(F.desc("maxsim6"), "doc_id")
        .limit(20)
    )


@register(
    "triangle_count",
    # Per-node triangle counts (the clustering-coefficient numerator)
    # over a synthesized dense 25-node doc graph: canonical u<v edges, wedges
    # a<b<c closed against the edge set — pure set algebra, so the
    # oracle is the identical three-join SQL.
    """
    WITH raw AS (
      SELECT CAST(doc_id % 25 AS BIGINT) AS s,
             CAST((doc_id * 7 + 3) % 25 AS BIGINT) AS d
      FROM documents
      UNION ALL
      SELECT CAST(doc_id % 25 AS BIGINT) AS s,
             CAST((doc_id * 13 + 5) % 25 AS BIGINT) AS d
      FROM documents
    ),
    e AS (
      SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v
      FROM raw WHERE s <> d
    ),
    tri AS (
      SELECT ab.u AS a, ab.v AS b, bc.v AS c
      FROM e ab JOIN e bc ON ab.v = bc.u
                JOIN e ac ON ac.u = ab.u AND ac.v = bc.v
    ),
    nodes AS (
      SELECT a AS node FROM tri UNION ALL
      SELECT b FROM tri UNION ALL
      SELECT c FROM tri
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM nodes GROUP BY node
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.graph import triangle_counts

    docs = _docs(spark, sf_dir)
    e1 = docs.select(
        (F.col("doc_id") % 25).alias("src"),
        ((F.col("doc_id") * 7 + 3) % 25).alias("dst"),
    )
    e2 = docs.select(
        (F.col("doc_id") % 25).alias("src"),
        ((F.col("doc_id") * 13 + 5) % 25).alias("dst"),
    )
    return triangle_counts(e1.unionAll(e2))


@register(
    "equi_depth_hist",
    # Equi-depth (equal-frequency) histogram of line-item prices: the
    # ANALYZE-style statistics build every CBO needs. Buckets come from
    # the distributed exact rank (operators/ranking.py exact_ntile — no
    # corpus-sized window); the oracle is the rank-exact global ntile
    # over the same strict total order.
    """
    WITH t AS (
      SELECT l_extendedprice AS p,
             ntile(8) OVER (ORDER BY l_extendedprice, l_orderkey,
                            l_linenumber) AS bucket
      FROM lineitem
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(p) AS DOUBLE) AS lo,
           CAST(max(p) AS DOUBLE) AS hi,
           CAST(sum(CAST(p AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM t GROUP BY 1
    """,
)
def q_equi_depth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_content_spark.operators.ranking import exact_ntile

    li = _pq(spark, f"{sf_dir}/lineitem.parquet").select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    b = exact_ntile(
        li,
        ["l_extendedprice", "l_orderkey", "l_linenumber"],
        n=8,
        bucket_col="bucket",
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("l_extendedprice").cast("double").alias("lo"),
        F.max("l_extendedprice").cast("double").alias("hi"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("total"),
    )


# registry ordering: the driver's correctness gate samples a prefix of the
# registry, so the ordering policy is computed — not hardcoded — each
# import:
#   1. queries whose code changed since their last driver sample (the
#      current-round diff: this round's edits must re-enter the gate),
#   2. then ascending by last-sampled round (never-sampled first, then
#      longest-unsampled), registration order within ties.
# "Changed" is detected from git: files touched since the commit that
# recorded the newest CORRECTNESS_r*.json, mapped to queries via (a) a
# function-level AST diff of this file and (b) the import-symbol map for
# changed rag_content_spark modules. Everything is best-effort — any
# failure degrades to the pure recency ordering, and that to
# registration order.


def _row_green(row: object) -> bool:
    """A driver row counts as VERIFIED only if it actually passed: an
    err row or a rows/hash mismatch must leave the query ranked as
    unverified, or a query that has only ever errored (pca_project
    r01-r06) keeps sorting to the back of the sample prefix exactly
    because the harness kept recording its failures."""
    if not isinstance(row, dict):
        return True
    if row.get("err"):
        return False
    return row.get("rows_match") is not False and row.get("hash_match") is not False


def _last_sampled_rounds() -> dict[str, int]:
    """query name -> highest round whose CORRECTNESS_r*.json has a
    GREEN row (see _row_green)."""
    import glob as _glob
    import json as _json
    import re as _re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last: dict[str, int] = {}
    for path in _glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = _json.load(f)
        except Exception:
            continue
        for name, row in rows.items():
            if _row_green(row):
                last[name] = max(last.get(name, -1), rnd)
    return last


def _changed_queries() -> tuple[set[str], set[str]]:
    """(direct, transitive) names of registered queries whose code
    changed since the newest CORRECTNESS snapshot commit — ``direct`` is
    queries whose own def/oracle changed, ``transitive`` additionally
    includes those flagged via a changed shared helper (function-level
    for this file, module-level via imported symbols for the rest of
    the package)."""
    import ast as _ast
    import glob as _glob
    import subprocess as _sp

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    snaps = sorted(_glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    if not snaps:
        return set(), set()

    def _git(*args: str) -> str:
        return _sp.run(
            ["git", *args], cwd=root, capture_output=True, text=True, timeout=20
        ).stdout

    base = _git("log", "-1", "--format=%H", "--", snaps[-1]).strip()
    if not base:
        return set(), set()
    # base vs WORKING TREE: includes this round's committed and
    # uncommitted edits alike
    changed_files = {p for p in _git("diff", "--name-only", base).splitlines() if p}
    if not changed_files:
        return set(), set()

    this_file = os.path.abspath(__file__)
    rel_this = os.path.relpath(this_file, root)
    with open(this_file) as f:
        cur_src = f.read()

    def _fn_sources(src: str) -> dict[str, str]:
        """Top-level symbol -> source text (functions WITH decorators —
        @register(ORACLE_SQL) changes are query changes even when the
        def body is untouched — plus classes and plain assignments, so
        an edited module constant flags its users)."""
        try:
            tree = _ast.parse(src)
        except SyntaxError:
            return {}
        lines = src.splitlines()
        out = {}
        for n in tree.body:
            if isinstance(
                n, (_ast.FunctionDef, _ast.AsyncFunctionDef, _ast.ClassDef)
            ):
                start = min(
                    [n.lineno] + [d.lineno for d in n.decorator_list]
                )
                out[n.name] = "\n".join(lines[start - 1 : n.end_lineno])
            elif isinstance(n, (_ast.Assign, _ast.AnnAssign)):
                targets = n.targets if isinstance(n, _ast.Assign) else [n.target]
                for t in targets:
                    if isinstance(t, _ast.Name):
                        out[t.id] = "\n".join(lines[n.lineno - 1 : n.end_lineno])
        return out

    def _module_changed_syms(rel_path: str) -> set[str]:
        """Symbol-level diff of a changed package module: the top-level
        defs whose SOURCE differs vs the base revision — appending one
        new operator to a module must not flag every query that imports
        its neighbors — PLUS transitive intra-module dependents: an edit
        to a private helper (e.g. ``_smoothed``) must flag the public
        operators whose bodies reference it even though their own text
        is unchanged (round-5 ADVICE)."""
        try:
            with open(os.path.join(root, rel_path)) as fh:
                cur = _fn_sources(fh.read())
        except OSError:
            return set()
        base_m = _fn_sources(_git("show", f"{base}:{rel_path}"))
        changed = {name for name in cur if base_m.get(name) != cur[name]}
        # fixed-point closure over "body references a changed symbol"
        import re as _re

        while True:
            pat = _re.compile(
                r"\b(?:" + "|".join(_re.escape(s) for s in sorted(changed)) + r")\b"
            ) if changed else None
            grew = False
            if pat is not None:
                for name, src in cur.items():
                    if name not in changed and pat.search(src):
                        changed.add(name)
                        grew = True
            if not grew:
                return changed

    changed_syms: set[str] = set()

    # (a) function-level diff of this file against the base revision
    if rel_this in changed_files:
        base_src = _git("show", f"{base}:{rel_this}")
        cur_fns, base_fns = _fn_sources(cur_src), _fn_sources(base_src)
        changed_syms |= {
            name
            for name in cur_fns
            if base_fns.get(name) != cur_fns[name]
        }

    # (b) symbols imported here from changed rag_content_spark modules —
    # walk the WHOLE tree (most query fns import their operator locally)
    # and keep a symbol only if ITS definition changed in the module
    mod_syms: dict[str, set[str]] = {}
    for f in changed_files:
        if f.startswith("rag_content_spark/") and f.endswith(".py"):
            mod_syms[f] = _module_changed_syms(f)
    try:
        tree = _ast.parse(cur_src)
    except SyntaxError:
        return set(), set()
    # module-alias imports (`from pkg import mod`): flag `alias.sym`
    # attribute uses of changed symbols
    mod_alias_pats: list[str] = []
    for node in _ast.walk(tree):
        if isinstance(node, _ast.ImportFrom) and node.module:
            pkg = node.module.replace(".", "/")
            for a in node.names:
                syms = mod_syms.get(pkg + ".py")
                if syms is not None and a.name in syms:
                    changed_syms.add(a.asname or a.name)
                msyms = mod_syms.get(f"{pkg}/{a.name}.py")
                if msyms:
                    alias = a.asname or a.name
                    mod_alias_pats.extend(
                        rf"{alias}\.{s}\b" for s in sorted(msyms)
                    )

    if not changed_syms and not mod_alias_pats:
        return set(), set()

    # a query is changed if its own def changed or its body references a
    # changed helper/operator symbol (directly or as alias.sym)
    import re as _re

    parts = [
        r"\b(?:" + "|".join(_re.escape(s) for s in sorted(changed_syms)) + r")\b"
    ] if changed_syms else []
    parts.extend(mod_alias_pats)
    pat = _re.compile("|".join(parts))
    fns = _fn_sources(cur_src)
    reg = {fn.__name__: name for name, fn in QUERIES.items()}
    direct: set[str] = set()
    out: set[str] = set()
    for fn_name, q_name in reg.items():
        src = fns.get(fn_name, "")
        if fn_name in changed_syms:
            # the query's OWN def (incl. its @register oracle) changed
            direct.add(q_name)
            out.add(q_name)
        elif pat.search(src):
            out.add(q_name)
    return direct, out


def _row_counts() -> dict[str, int]:
    """query name -> number of rounds with a GREEN driver row.
    Tie-breaker: among equally-stale queries, the
    least-historically-verified drains first, so a query repeatedly
    bumped off the end of a full tie group (e.g. 53 stale vs a 50-slot
    prefix) gains priority instead of losing the same
    registration-order tie every round."""
    import glob as _glob
    import json as _json

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    counts: dict[str, int] = {}
    for path in _glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        try:
            with open(path) as f:
                rows = _json.load(f)
        except Exception:
            continue
        for name, row in rows.items():
            if _row_green(row):
                counts[name] = counts.get(name, 0) + 1
    return counts


def _sample_order(names: list[str]) -> list[str]:
    """Least-verified-first: (1) queries whose OWN def/oracle changed
    since the last driver snapshot, (2) queries OVERDUE under the
    rotation bound (last sampled more than ceil(N/50)-1 rounds ago —
    the round-5 verdict guarantee pinned by
    tests/test_registry_order.py), (3) queries transitively flagged by
    a changed shared helper, then within each tier by oldest green
    verification (never-green first) and fewest green rounds. The
    direct/transitive split matters when an infra symbol (e.g.
    ``register``) changes and the transitive closure flags the whole
    registry — the handful of genuinely edited queries must still land
    inside the driver's ~50-query sample prefix. Overdue outranks the
    TRANSITIVE tier because a busy editing round (18 direct + 24
    transitive in round 9) would otherwise push rotation-due queries
    past the prefix and break the staleness bound."""
    try:
        last = _last_sampled_rounds()
    except Exception:
        last = {}
    try:
        direct, changed = _changed_queries()
    except Exception:
        direct, changed = set(), set()
    try:
        counts = _row_counts()
    except Exception:
        counts = {}
    if last:
        newest = max(last.values())
        period = -(-len(names) // 50)  # ceil(N/50)
        # never-sampled (no row at all) is the most overdue of all
        overdue = {
            n for n in names if last.get(n, -(10**9)) <= newest - period
        }
    else:
        overdue = set()
    idx = {n: i for i, n in enumerate(names)}
    ranked = sorted(
        names,
        key=lambda n: (
            n not in direct,
            n not in overdue,
            n not in changed,
            last.get(n, -1),
            counts.get(n, 0),
            idx[n],
        ),
    )
    # Rotation-fairness cap (round-11 verdict #1): a round that edits
    # queries.py broadly can flag more than 50 queries as directly
    # changed, and the changed-first tier then evicts rotation-overdue
    # queries from the driver's 50-slot prefix — the exact starvation
    # that left 24 queries >5 rounds unsampled after round 11. When
    # that happens, promote the evicted overdue entries into the prefix
    # (preserving their oldest-first drain order) by demoting the
    # lowest-ranked non-overdue prefix entries; those are always
    # changed-tier queries (the overdue tier outranks everything else
    # non-changed), so the oldest-first drain invariant over unchanged
    # queries is untouched.
    evicted = [n for n in ranked[50:] if n in overdue]
    if not evicted:
        return ranked
    head, tail = ranked[:50], ranked[50:]
    demoted: list[str] = []
    for n in reversed(head):
        if len(demoted) == len(evicted):
            break
        if n not in overdue:
            demoted.append(n)
    dset, eset = set(demoted), set(evicted)
    pos = {n: i for i, n in enumerate(ranked)}
    return (
        [n for n in head if n not in dset]
        + evicted
        + sorted(demoted, key=pos.__getitem__)
        + [n for n in tail if n not in eset]
    )


def _rotate_front(d: dict, front: list[str]) -> dict:
    head = {k: d[k] for k in front if k in d}
    return head | {k: v for k, v in d.items() if k not in head}


_ORDERED = _sample_order(list(QUERIES))
QUERIES = _rotate_front(QUERIES, _ORDERED)
ORACLES = _rotate_front(ORACLES, _ORDERED)
