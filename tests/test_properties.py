"""Property-based invariants (hypothesis) for the semantic core.

One Spark job per example is slow, so properties are checked in BATCH:
generate N examples, run them through one DataFrame, assert per-row.
"""

import re

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from rag_content_spark.operators.chunking import chunk_fixed
from rag_content_spark.operators.filters import has_whitespace, markdown_has_content

TEXTS = st.text(
    alphabet=st.sampled_from("ab #\n\t`~=-"), min_size=0, max_size=60
)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.text(alphabet="abcde", min_size=1, max_size=5), min_size=1, max_size=50),
       st.integers(min_value=1, max_value=20))
def test_chunker_partitions_tokens_exactly(spark, tokens_list, size):
    """No-overlap chunking is a partition: concatenating chunk tokens in
    order reproduces the token stream exactly; every chunk except the
    last is full."""
    text = " ".join(tokens_list)
    rows = (
        chunk_fixed(spark.createDataFrame([(text,)], ["text"]), size=size, overlap=0)
        .orderBy("chunk_index")
        .collect()
    )
    rebuilt = " ".join(r["chunk_text"] for r in rows)
    assert rebuilt == text
    sizes = [r["chunk_tokens"] for r in rows]
    assert all(s == size for s in sizes[:-1])
    assert 1 <= sizes[-1] <= size


@settings(max_examples=20, deadline=None)
@given(st.lists(st.text(alphabet="xyz", min_size=1, max_size=4), min_size=2, max_size=40),
       st.integers(min_value=2, max_value=10), st.integers(min_value=1, max_value=9))
def test_chunker_overlap_windows(spark, tokens_list, size, overlap_raw):
    """With overlap, consecutive chunks share exactly `overlap` tokens
    (except possibly the truncated last chunk)."""
    overlap = min(overlap_raw, size - 1)
    text = " ".join(tokens_list)
    rows = (
        chunk_fixed(
            spark.createDataFrame([(text,)], ["text"]), size=size, overlap=overlap
        )
        .orderBy("chunk_index")
        .collect()
    )
    toks = text.split()
    stride = size - overlap
    for r in rows:
        start = r["chunk_index"] * stride
        assert r["chunk_text"] == " ".join(toks[start : start + size])


def test_filter_predicates_agree_with_python_model(spark):
    """Batch-check P2/P3 against the Python twin (got_content_py, which
    test_filters.py pins to the reference's parametrized _got_content
    cases) on a grid of generated texts — the JVM aggregate fold and the
    Python state machine must agree everywhere."""
    import itertools

    from rag_content_spark.operators.filters import got_content_py

    pieces = ["# h", "## ", "body", "", "```", "   ", "====", "\tind"]
    texts = [
        "\n".join(c)
        for n in (1, 2, 3)
        for c in itertools.product(pieces, repeat=n)
    ]
    # every str.splitlines() separator the reference's state walk sees:
    # the fold must normalize them before its "\n" split (CRLF as ONE)
    seps = ["\r\n", "\r", "\x0b", "\x0c", "\x85", "\u2028", "\u2029"]
    pieces2 = pieces + ["    code"]
    texts += [
        s.join(c) for s in seps for c in itertools.product(pieces2, repeat=2)
    ]
    texts += ["A\r\n====\r\n    code", "Title\r====", "body\n====\r\n# h"]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = df.select(
        "text",
        has_whitespace("text").alias("ws"),
        markdown_has_content("text").alias("content"),
    ).collect()

    def model_ws(t):
        return bool(re.search(r"\s", t))

    for r in got:
        assert r["ws"] == model_ws(r["text"]), repr(r["text"])
        assert r["content"] == got_content_py(r["text"]), repr(r["text"])


def test_pack_sequences_budget_property(spark):
    """Packing invariants on a randomized corpus: within every shard,
    buckets are contiguous from 0, and a bucket's token total only
    exceeds the budget by (at most) its last document's overflow —
    greedy start-offset packing never leaves a gap."""
    import random

    rng = random.Random(7)
    budget = 64
    rows = [
        (f"d{i:03d}", "w " * rng.randint(1, 40)) for i in range(100)
    ]
    from rag_content_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pack_sequences(df, budget=budget, shards=4).collect()
    by_shard: dict = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r["doc_id"])
        buckets = sorted({r["seq_bucket"] for r in rs})
        assert buckets == list(range(len(buckets))), (shard, buckets)
        totals: dict = {}
        last_doc: dict = {}
        for r in rs:
            totals[r["seq_bucket"]] = totals.get(r["seq_bucket"], 0) + r["n_tokens"]
            last_doc[r["seq_bucket"]] = r["n_tokens"]
        for b, tot in totals.items():
            # each doc STARTS inside its bucket; only the final doc may
            # run past the boundary
            assert tot - last_doc[b] < budget, (shard, b, tot)


# pure-Python properties of the llama-index SentenceSplitter port — no
# Spark job per example, so these run with full hypothesis budgets
LLAMA_TEXTS = st.text(
    alphabet=st.sampled_from("abc .!?,\n"), min_size=0, max_size=200
)
# the characters CHUNKING_REGEX cannot start a match on
FINDALL_PUNCT = ",.;。？！"


def _flag_droppable(text):
    """Non-space characters of ``text``, each paired with whether the
    findall-drop quirk (llama_chunking.py module docstring) may drop it:
    a FINDALL_PUNCT character with no other character before it in its
    sentence, or right after another FINDALL_PUNCT character. Whether it
    is dropped depends on the budget: only sentences refined by the
    secondary regex lose it."""
    from rag_content_spark.operators.llama_chunking import split_by_sentence_spans

    starts, pos = set(), 0
    for sentence in split_by_sentence_spans(text):
        starts.add(pos)
        pos += len(sentence)
    return [
        (ch, ch in FINDALL_PUNCT and (i in starts or text[i - 1] in FINDALL_PUNCT))
        for i, ch in enumerate(text)
        if not ch.isspace()
    ]


def _drops_only(flagged, out, run=False):
    """Whether ``out`` is the ``flagged`` characters (with ``run``: one
    contiguous run of them) less some of the droppable ones."""
    reach = {0}  # lengths of the prefixes of ``out`` matched so far
    for ch, droppable in flagged:
        if run and len(out) in reach:
            return True
        nxt = {j + 1 for j in reach if j < len(out) and out[j] == ch}
        if droppable:
            nxt |= reach
        reach = nxt | {0} if run else nxt
    return len(out) in reach


@settings(max_examples=200, deadline=None)
@given(LLAMA_TEXTS, st.integers(min_value=1, max_value=12))
def test_llama_splitter_budget_no_overlap(text, size):
    """With overlap=0 every emitted chunk fits the token budget and the
    whitespace-collapsed concatenation loses no content but what the
    findall-drop quirk may drop."""
    from rag_content_spark.operators.llama_chunking import (
        sentence_splitter,
        whitespace_tokenizer,
    )

    chunks = sentence_splitter(size, 0)(text)
    for c in chunks:
        assert len(whitespace_tokenizer(c)) <= size
    # whitespace-insensitive: the char-level fallback may cut INSIDE a
    # token (real llama-index behavior), so compare non-space characters
    strip = lambda s: "".join(s.split())  # noqa: E731
    assert _drops_only(_flag_droppable(text), "".join(strip(c) for c in chunks))


def test_llama_splitter_findall_drop_quirk():
    """Pin the upstream quirk itself: consecutive punctuation below
    sentence granularity loses the unmatched characters (re.findall in
    split_by_regex), exactly like llama-index."""
    from rag_content_spark.operators.llama_chunking import sentence_splitter

    assert sentence_splitter(1, 0)("?., ?") == ["?.", "?"]
    # a sentence that opens with punctuation loses it the same way
    assert sentence_splitter(1, 0)("a? , .a") == ["a?", ".", "a"]


@settings(max_examples=100, deadline=None)
@given(LLAMA_TEXTS, st.integers(min_value=2, max_value=12))
def test_llama_splitter_overlap_is_suffix_of_previous(text, size):
    """Overlap seeds repeat trailing content of the previous chunk: every
    chunk's tokens minus the previous chunk's tokens appear in original
    order (no fabricated tokens)."""
    from rag_content_spark.operators.llama_chunking import (
        sentence_splitter,
        whitespace_tokenizer,
    )

    overlap = size // 2
    chunks = sentence_splitter(size, overlap)(text)
    flagged = _flag_droppable(text)
    strip = lambda s: "".join(s.split())  # noqa: E731
    for c in chunks:
        # every chunk (overlap seed included) is a contiguous run of the
        # original's non-space characters, less what the findall-drop
        # quirk may drop — nothing fabricated
        assert _drops_only(flagged, strip(c), run=True)
        assert len(whitespace_tokenizer(c)) <= size + overlap


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=st.sampled_from("ab#` \n"), min_size=0, max_size=150))
def test_llama_markdown_sections_cover_content(text):
    """Section texts preserve all non-blank lines outside of nothing —
    the parser only regroups lines, never drops non-whitespace ones."""
    from rag_content_spark.operators.llama_chunking import markdown_sections

    sections = markdown_sections(text)
    sec_lines = [
        ln.strip() for s, _ in sections for ln in s.split("\n") if ln.strip()
    ]
    orig_lines = [ln.strip() for ln in text.split("\n") if ln.strip()]
    assert sorted(sec_lines) == sorted(orig_lines)


@given(
    st.text(alphabet="abcd", min_size=1, max_size=12),
    st.lists(
        st.tuples(st.text(alphabet="abcd", min_size=1, max_size=3),
                  st.text(alphabet="abcd", min_size=1, max_size=3)),
        max_size=8,
    ),
)
@settings(max_examples=200, deadline=None)
def test_bpe_encode_preserves_content(word, merge_pairs):
    """Any merge list: the encoded pieces concatenate back to the
    word + '</w>' marker, every step strictly shrinks, and encoding is
    deterministic."""
    from rag_content_spark.operators.selection import bpe_encode_word

    ranks = {}
    for pair in merge_pairs:
        ranks.setdefault(pair, len(ranks))
    out = bpe_encode_word(word, ranks)
    assert "".join(out) == word + "</w>"
    assert 1 <= len(out) <= len(word)
    assert out == bpe_encode_word(word, ranks)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.sampled_from(["user", "assistant", "system", None]),
        min_size=1,
        max_size=8,
    ),
    st.lists(st.text(alphabet="abc ", min_size=0, max_size=6), min_size=8, max_size=8),
)
def test_validate_dialogs_matches_python_model(spark, roles, bodies):
    """validate_dialogs agrees with a straightforward Python re-model on
    random role sequences (including unmarked lines and empty turns)."""
    from rag_content_spark.operators.sft import parse_chat_turns, validate_dialogs

    lines = []
    for i, role in enumerate(roles):
        body = bodies[i % len(bodies)].strip()
        if role is None:
            lines.append(body or "freeform")
        else:
            lines.append(f"{role}: {body}")
    text = "\n".join(lines)
    got = validate_dialogs(
        parse_chat_turns(
            spark.createDataFrame([(1, text)], ["doc_id", "text"])
        )
    ).collect()[0]

    # python model over the same non-empty lines
    parsed = []
    for ln in [l for l in text.split("\n") if l != ""]:
        m = re.match(r"^(\w+):", ln)
        if m and m.group(1).lower() in ("system", "user", "assistant"):
            parsed.append((m.group(1).lower(), ln[len(m.group(1)) + 1 :].lstrip(" ")))
        else:
            parsed.append((None, ln))

    def model():
        if any(r is None for r, _ in parsed):
            return "unknown_role"
        if any(r == "system" and i > 0 for i, (r, _) in enumerate(parsed)):
            return "unknown_role"
        if any(c.strip() == "" for _, c in parsed):
            return "empty_turn"
        conv = [(i, r) for i, (r, _) in enumerate(parsed) if r != "system"]
        if len(conv) < 2:
            return "too_short"
        if conv[0][1] != "user":
            return "bad_start"
        base = conv[0][0]
        for i, r in conv:
            want = "user" if (i - base) % 2 == 0 else "assistant"
            if r != want:
                return "bad_alternation"
        if conv[-1][1] != "assistant":
            return "bad_end"
        return None

    expected = model()
    assert got["first_violation"] == expected, (text, got.asDict())
    assert got["valid"] == (expected is None)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(st.text(alphabet="xyz", min_size=1, max_size=4), min_size=8, max_size=60),
    st.integers(min_value=0, max_value=100),
)
def test_fim_reassembly_property(spark, tokens_list, pct):
    """Whenever FIM applies, PSM parts reassemble the exact token
    stream and the three spans are nonempty."""
    from rag_content_spark.operators.sft import (
        FIM_MIDDLE,
        FIM_PREFIX,
        FIM_SUFFIX,
        fim_transform,
    )

    text = " ".join(tokens_list)
    rows = fim_transform(
        spark.createDataFrame([(7, text)], ["doc_id", "text"]), fim_pct=pct
    ).collect()
    r = rows[0]
    if not r["fim_applied"]:
        assert r["fim_text"] == text
        return
    body = r["fim_text"]
    p = body[len(FIM_PREFIX): body.index(FIM_SUFFIX)]
    s = body[body.index(FIM_SUFFIX) + len(FIM_SUFFIX): body.index(FIM_MIDDLE)]
    m = body[body.index(FIM_MIDDLE) + len(FIM_MIDDLE):]
    assert (p + " " + m + " " + s).split() == text.split()
    assert r["n_prefix"] >= 1 and r["n_middle"] >= 1 and r["n_suffix"] >= 1


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=80),
    st.integers(min_value=1, max_value=9),
)
def test_exact_global_rank_property(spark, keys, parts):
    """Distributed rank == unpartitioned-window rank on any multiset of
    keys (id tie-break makes the order strict) and any partition count."""
    from pyspark.sql import Window

    from rag_content_spark.operators.ranking import exact_global_rank

    df = spark.createDataFrame(
        [(i, k) for i, k in enumerate(keys)], ["id", "k"]
    )
    got = {
        r["id"]: r["rank"]
        for r in exact_global_rank(
            df, ["k", "id"], num_partitions=parts
        ).collect()
    }
    want = {
        r["id"]: r["rank"]
        for r in df.select(
            "id", F.row_number().over(Window.orderBy("k", "id")).alias("rank")
        ).collect()
    }
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-100, max_value=100),
        min_size=1,
        max_size=60,
        unique=True,
    ),
    st.integers(min_value=1, max_value=7),
)
def test_exact_global_lead_property(spark, keys, parts):
    from pyspark.sql import Window

    from rag_content_spark.operators.ranking import exact_global_lead

    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    got = {
        r["k"]: r["nxt"]
        for r in exact_global_lead(df, "k", num_partitions=parts).collect()
    }
    want = {
        r["k"]: r["nxt"]
        for r in df.select(
            "k", F.lead("k").over(Window.orderBy("k")).alias("nxt")
        ).collect()
    }
    assert got == want


@settings(max_examples=15, deadline=None)
@given(
    st.lists(  # corpus: several docs over a tiny alphabet
        st.lists(st.sampled_from("abc"), min_size=0, max_size=12),
        min_size=1,
        max_size=6,
    ),
    st.lists(st.sampled_from("abc"), min_size=1, max_size=3),  # phrase
)
def test_phrase_search_equals_naive_scan(spark, corpus, phrase_toks):
    """phrase_search == a naive python sliding-window count on every
    random corpus (covers repeats, overlaps, absent terms, 1-token
    phrases)."""
    from rag_content_spark.operators.search import phrase_search

    phrase = " ".join(phrase_toks)
    rows = [(f"d{i}", " ".join(toks)) for i, toks in enumerate(corpus)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_search(df, phrase).collect()
    }
    want = {}
    k = len(phrase_toks)
    for doc_id, toks in ((f"d{i}", t) for i, t in enumerate(corpus)):
        n = sum(
            1
            for s in range(len(toks) - k + 1)
            if toks[s : s + k] == phrase_toks
        )
        if n > 0:
            want[doc_id] = n
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcd"), min_size=1, max_size=10),
        min_size=1,
        max_size=5,
    )
)
def test_doc_keywords_equals_python_tfidf(spark, corpus):
    """doc_top_keywords == a python re-model of smooth TF-IDF with the
    same rounded-score/token tiebreak, on every random corpus."""
    import math
    from collections import Counter

    from rag_content_spark.operators.search import doc_top_keywords

    rows = [(f"d{i}", " ".join(toks)) for i, toks in enumerate(corpus)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {}
    for r in doc_top_keywords(df, k=2).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["kw_rank"], r["token"], r["tfidf6"])
        )
    for v in got.values():
        v.sort()
    n_docs = len(corpus)
    dfreq = Counter()
    for toks in corpus:
        for t in set(toks):
            dfreq[t] += 1
    want = {}
    for i, toks in enumerate(corpus):
        tf = Counter(toks)
        scored = sorted(
            (
                (round(c * math.log((n_docs + 1) / (dfreq[t] + 1)), 6), t)
                for t, c in tf.items()
            ),
            key=lambda x: (-x[0], x[1]),
        )[:2]
        want[f"d{i}"] = [
            (j + 1, t, s) for j, (s, t) in enumerate(scored)
        ]
    assert got == want


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abc"), min_size=0, max_size=12),
        min_size=1,
        max_size=5,
    ),
    st.integers(min_value=1, max_value=5),  # window
)
def test_proximity_search_equals_naive_windows(spark, corpus, window):
    """proximity_search == a naive python window scan on every random
    corpus (terms fixed to {a, b}; covers absent terms, short docs,
    every window width)."""
    from rag_content_spark.operators.search import proximity_search

    rows = [(f"d{i}", " ".join(toks)) for i, toks in enumerate(corpus)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["n_windows"]
        for r in proximity_search(df, ["a", "b"], window=window).collect()
    }
    want = {}
    for i, toks in enumerate(corpus):
        n = sum(
            1
            for s in range(len(toks) - window + 1)
            if "a" in toks[s : s + window] and "b" in toks[s : s + window]
        )
        if n > 0:
            want[f"d{i}"] = n
    assert got == want


def test_small_quantity_revenue_survives_sf1000_money_magnitudes(
    spark, tmp_path
):
    """r10 magnitude-probe find, pinned at small SF: the Q17-shape
    avg_yearly computation multiplied the micro-unit revenue sum by 100
    in BIGINT; at ~sf1000 money magnitudes (sum_micro ~ 3e16+) that
    intermediate crosses int64 and Spark threw ARITHMETIC_OVERFLOW (the
    DuckDB oracle's BIGINT '*100' would have failed identically). The
    fix runs the step in DECIMAL(38,0)/HUGEINT, and (r10 advice) renders
    the QUOTIENT as a decimal string too — Spark's DIV returns LONG, so
    a result past int64 would diverge in failure mode (DuckDB raises,
    Spark nulls). This synthesizes a tiny lineitem whose SELECTED
    revenue sum (1e13) makes _s4*100 = 1e19 > 2^63, and checks Spark
    and the DuckDB oracle still agree."""
    import duckdb

    from rag_content_spark import queries as Q

    rows = []
    for pk in (1, 2):
        # qty-1 rows fall under 0.2 * avg(qty) = 0.2 * 50.5 = 10.1
        rows.append((pk, 1.0, 5.0e12))
        rows.append((pk, 100.0, 1000.0))
    df = spark.createDataFrame(
        rows, ["l_partkey", "l_quantity", "l_extendedprice"]
    ).selectExpr(
        "CAST(l_partkey AS BIGINT) l_partkey",
        "CAST(l_quantity AS DOUBLE) l_quantity",
        "CAST(l_extendedprice AS DOUBLE) l_extendedprice",
    )
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/lineitem.parquet")
    got = Q.QUERIES["small_quantity_revenue"](spark, sf).collect()[0]
    assert got["n_small"] == 2
    # 2 * 5e12 revenue -> micro-sum 1e19 before DIV 7: over int64
    assert got["avg_yearly_micro"] == str(
        (2 * 5_000_000_000_000 * 1_000_000) // 7
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{sf}/lineitem.parquet/*.parquet'"
    )
    want = con.execute(Q.resolve_oracles()["small_quantity_revenue"]).fetchone()
    assert (got["n_small"], got["avg_yearly_micro"]) == want


def test_embedding_covariance_survives_value_magnitudes(spark, tmp_path):
    """r11 value-magnitude-probe find, pinned at small SF: with
    coordinates ~2000 (x6 ~ 2e9) a 4-row batch's int64 Gram partial is
    ~1.6e19 > 2^63 — the numpy twin's whole-batch matmul WRAPPED
    silently and the declarative twin's long sum raised
    ARITHMETIC_OVERFLOW. The rail is now 128-bit end to end (chunked
    exact Gram + DECIMAL(38,0) sums; oracle HUGEINT). Both twins must
    agree with the DuckDB oracle bit-for-bit at this magnitude."""
    import duckdb

    from rag_content_spark import queries as Q
    from rag_content_spark.operators.pca import (
        embedding_covariance,
        embedding_covariance_np,
    )

    rows = [
        (1, [2000.25, -1999.75]),
        (2, [-2000.5, 2000.0]),
        (3, [1999.0, 1998.5]),
        (4, [-1998.25, -2000.75]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).selectExpr(
        "CAST(vec_id AS BIGINT) vec_id",
        "CAST(embedding AS ARRAY<FLOAT>) embedding",
        "CAST(0 AS INT) label",
    )
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/embeddings.parquet")
    got_np = sorted(
        map(tuple, embedding_covariance_np(df.select("vec_id", "embedding")).collect())
    )
    got_sql = sorted(
        map(tuple, embedding_covariance(df.select("vec_id", "embedding")).collect())
    )
    assert got_np == got_sql
    # magnitude sanity: S_ij ~ 1.6e19 really did cross int64
    x6 = [[round(v * 1e6) for v in e] for _, e in rows]
    s00 = sum(x[0] * x[0] for x in x6)
    assert s00 > 2**63
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet/*.parquet'"
    )
    want = sorted(map(tuple, con.execute(
        Q.resolve_oracles()["embedding_covariance"]
    ).fetchall()))
    assert got_np == want


def test_label_centroids_negative_mean_floor_semantics(spark, tmp_path):
    """r11 value-magnitude-probe find, pinned at small SF: the centroid
    mean is now exact integer round-half-up on the 1e-6 grid. Two
    divergence channels died here: DuckDB converts DECIMAL->DOUBLE as
    I * (double)1e-10 (1 ulp off Spark's single-rounding BigDecimal
    cast, enough to flip a .5e-6-boundary round), and DuckDB's `//`
    TRUNCATES toward zero while the Spark twin floors — a negative
    non-half mean (-9122.72 micro here) split them by one micro-unit.
    Both engines must produce floor(-9122.72 + 0.5)/1e6 = -0.009123."""
    import duckdb

    from rag_content_spark import queries as Q

    base = [0.0] * 64
    vecs = []
    for v in (-0.009122, -0.009123, -0.009123):
        e = list(base)
        e[0] = v
        vecs.append(e)
    rows = [(i + 1, vecs[i], 0) for i in range(3)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"]).selectExpr(
        "CAST(vec_id AS BIGINT) vec_id",
        "CAST(embedding AS ARRAY<FLOAT>) embedding",
        "CAST(label AS INT) label",
    )
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/embeddings.parquet")
    got = {
        (r["label"], r["dim"]): r["mean_val"]
        for r in Q.QUERIES["label_centroids"](spark, sf).collect()
    }
    # float32 storage shifts the micro values by <1e-9; the mean of
    # (-9122, -9123, -9123) micros is -9122.67 -> half-up -> -9123
    assert got[(0, 0)] == -0.009123
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet/*.parquet'"
    )
    want = {
        (r[0], r[1]): r[2]
        for r in con.execute(Q.resolve_oracles()["label_centroids"]).fetchall()
    }
    assert got == want
