"""Training-data quality operators (north-star extension): PII scrubbing,
intra-document repetition, benchmark contamination, deterministic
stratified sampling. All declarative (no UDFs), all oracle-checkable.

These are the standard large-corpus curation steps (dedup lives in
operators/dedup.py); each is designed as a narrow map or a single
hash-key shuffle so it composes into a 100 TB curation run.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from rag_content_spark.functions.hashing import stable_hash64
from rag_content_spark.functions.text import tokens

# Conservative public patterns (emails / international-ish phone runs /
# IPv4). RE2-compatible: no lookarounds, usable verbatim in DuckDB.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9() -]{7,}[0-9]",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def pii_counts(text_col: Column | str = "text") -> dict[str, Column]:
    """Per-kind PII match counts (regexp_extract_all size)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return {
        kind: F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
        for kind, pat in PII_PATTERNS.items()
    }


def scrub_pii(text_col: Column | str = "text") -> Column:
    """Redact all PII patterns with [<KIND>] placeholders. Email runs
    first so its digits/dots aren't half-eaten by phone/ip patterns."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    for kind in ("email", "phone", "ipv4"):
        c = F.regexp_replace(c, PII_PATTERNS[kind], f"[{kind.upper()}]")
    return c


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Intra-document repetition measures (Gopher-style quality rules):

    - dup_token_frac   : 1 - distinct/total whitespace tokens
    - top_bigram_frac  : occurrences of the most frequent bigram / total
                         bigrams (computed via explode + groupBy — the
                         shape that scales; an in-array histogram is
                         O(n^2) per row)
    """
    tok = tokens(text_col)
    base = docs.select(
        F.col(id_col),
        F.size(tok).alias("_n_tok"),
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(tok)) / F.greatest(F.size(tok), F.lit(1)),
            6,
        ).alias("dup_token_frac"),
    )
    # slice BOTH sides to n-1: zip_with pads the shorter array with nulls,
    # which would fabricate a degenerate trailing "bigram"
    n_minus_1 = F.greatest(F.size(tok) - 1, F.lit(0))
    bigram = docs.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice(tok, 1, n_minus_1),
                F.slice(tok, 2, n_minus_1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram"),
    )
    top = (
        bigram.groupBy(id_col, "bigram")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .groupBy(id_col)
        .agg(
            F.max("_cnt").alias("_top"),
            F.sum("_cnt").alias("_total"),
        )
        .select(
            F.col(id_col),
            F.round(F.col("_top") / F.col("_total"), 6).alias("top_bigram_frac"),
        )
    )
    return base.join(top, id_col, "left").select(
        id_col, "dup_token_frac", F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac")
    )


def line_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Dolma/RedPajama-style per-LINE quality signals (the rule family
    their taggers run before model-based filters):

    - n_lines          : non-empty lines
    - mean_line_chars  : mean trimmed length of non-empty lines
    - frac_end_punct   : fraction ending in . ! ? or a double quote
                         (boilerplate/navigation lines rarely do)
    - frac_dup_lines   : 1 - distinct/total (repeated header/footer
                         lines are the classic crawl artifact)
    - frac_bullet      : fraction starting with "- " or "* "

    All narrow Column expressions over one materialized line-array
    projection (CollapseProject keeps a non-cheap multi-use alias as its
    own projection, so the split runs once per row) — no shuffle,
    whole-stage codegen, O(lines) per row.
    """
    # NB: F.transform passes (element, index) to 2-arg callables and
    # F.trim's 2nd arg is the trim-CHARACTER set — passing F.trim bare
    # would strip str(index) chars off line index i. Single-arg lambda.
    nonempty = F.filter(
        F.transform(
            F.split(F.col(text_col) if isinstance(text_col, str) else text_col, "\n"),
            lambda x: F.trim(x),
        ),
        lambda x: x != "",
    )
    bound = docs.select(F.col(id_col), nonempty.alias("_lines"))
    lines = F.col("_lines")
    n = F.size(lines)
    safe_n = F.greatest(n, F.lit(1))
    total_chars = F.aggregate(
        lines, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
    )
    end_punct = F.size(
        F.filter(lines, lambda x: F.substring(x, -1, 1).isin(".", "!", "?", '"'))
    )
    bullets = F.size(
        F.filter(lines, lambda x: x.startswith("- ") | x.startswith("* "))
    )
    return bound.select(
        F.col(id_col),
        n.cast("bigint").alias("n_lines"),
        F.round(total_chars.cast("double") / safe_n, 6).alias("mean_line_chars"),
        F.round(end_punct.cast("double") / safe_n, 6).alias("frac_end_punct"),
        F.round(
            F.lit(1.0) - F.size(F.array_distinct(lines)) / safe_n.cast("double"), 6
        ).alias("frac_dup_lines"),
        F.round(bullets.cast("double") / safe_n, 6).alias("frac_bullet"),
    )


def c4_line_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 3,
    min_lines: int = 3,
) -> DataFrame:
    """C4-style line cleaning (Raffel et al. 2020, the public C4 rules):
    keep a line only if it ends in terminal punctuation, has at least
    ``min_words`` words, and carries none of the junk markers
    (``javascript``, ``lorem ipsum``, ``{``); keep the DOCUMENT only if
    at least ``min_lines`` lines survive.

    Returns (id, clean_text, n_kept, n_dropped, keep). Narrow
    expressions over one materialized line-array projection.
    """
    nonempty = F.filter(
        F.transform(
            F.split(F.col(text_col) if isinstance(text_col, str) else text_col, "\n"),
            lambda x: F.trim(x),
        ),
        lambda x: x != "",
    )
    bound = docs.select(F.col(id_col), nonempty.alias("_lines"))
    lines = F.col("_lines")

    def _good(x: Column) -> Column:
        low = F.lower(x)
        return (
            F.substring(x, -1, 1).isin(".", "!", "?", '"')
            & (F.size(F.split(x, r"\s+")) >= min_words)
            & ~low.contains("javascript")
            & ~low.contains("lorem ipsum")
            & ~x.contains("{")
        )

    kept = bound.select(F.col(id_col), F.filter(lines, _good).alias("_kept"), lines)
    return kept.select(
        F.col(id_col),
        F.array_join("_kept", "\n").alias("clean_text"),
        F.size("_kept").cast("bigint").alias("n_kept"),
        (F.size("_lines") - F.size("_kept")).cast("bigint").alias("n_dropped"),
        (F.size("_kept") >= min_lines).alias("keep"),
    )


def dup_ngram_fracs(
    docs: DataFrame,
    top_n: int = 3,
    dup_n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The rest of the Gopher repetition-rule family (Rae et al. 2021,
    Table A1): per document,

    - ``top{top_n}_frac``: occurrences of the most frequent top_n-gram x
      top_n / token count (Gopher gates n=2..4 on this),
    - ``dup{dup_n}_frac``: token mass inside dup_n-grams that occur more
      than once (sum of counts over duplicated grams x dup_n / tokens,
      Gopher gates n=5..10).

    Shape: one explode + (id, gram) groupBy per n — the per-doc histogram
    computed with a shuffle that partitions evenly by (doc, gram), never
    an O(len^2) in-array scan. Fractions can exceed 1 for pathological
    repetition (overlapping grams) exactly as in the paper's definition.
    """
    tok = tokens(text_col)
    base = docs.select(F.col(id_col), F.size(tok).alias("_n_tok"))

    def _gram_counts(n: int, out: str) -> DataFrame:
        m = F.size(tok) - (n - 1)
        # sequence(1, 0) would run DESCENDING ([1, 0]); guard short docs
        grams = F.when(
            m >= 1,
            F.transform(
                F.sequence(F.lit(1), m),
                lambda i: F.array_join(F.slice(tok, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
        exploded = docs.select(
            F.col(id_col), F.explode(grams).alias("_gram")
        )
        return (
            exploded.groupBy(id_col, "_gram")
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .groupBy(id_col)
            .agg(
                F.max("_cnt").alias(f"_top{n}"),
                F.sum(F.when(F.col("_cnt") >= 2, F.col("_cnt"))).alias(
                    f"_dupmass{n}"
                ),
            )
        )
    t = _gram_counts(top_n, "top")
    d = _gram_counts(dup_n, "dup")
    return (
        base.join(t, id_col, "left")
        .join(d, id_col, "left")
        .select(
            F.col(id_col),
            F.round(
                F.coalesce(F.col(f"_top{top_n}"), F.lit(0))
                * top_n
                / F.greatest(F.col("_n_tok"), F.lit(1)),
                6,
            ).alias(f"top{top_n}_frac"),
            F.round(
                F.coalesce(F.col(f"_dupmass{dup_n}"), F.lit(0))
                * dup_n
                / F.greatest(F.col("_n_tok"), F.lit(1)),
                6,
            ).alias(f"dup{dup_n}_frac"),
        )
    )


def contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    max_broadcast_rows: int = 100_000,
) -> DataFrame:
    """Benchmark-contamination score: fraction of a document's distinct
    shingles that appear anywhere in the benchmark set.

    Shape: explode doc shingles -> left SEMI join the deduplicated
    benchmark shingle set -> per-doc ratio. Real benchmarks are small, so
    the semi join broadcasts — but a forced broadcast of an arbitrarily
    large "benchmark" OOMs every executor, so the hint is applied only
    when the benchmark has at most ``max_broadcast_rows`` rows (one cheap
    count); above that the semi join shuffles on the shingle key (AQE can
    still pick broadcast at runtime if the built side turns out tiny).
    """
    from rag_content_spark.operators.dedup import hashed_shingles

    doc_sh = docs.select(
        F.col(id_col), F.explode(hashed_shingles(text_col, n=shingle_n)).alias("sh")
    )
    bench_sh = (
        benchmark.select(
            F.explode(hashed_shingles(text_col, n=shingle_n)).alias("sh")
        )
        .distinct()
    )
    if benchmark.count() <= max_broadcast_rows:
        bench_sh = F.broadcast(bench_sh)
    totals = doc_sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("_total"))
    hits = (
        doc_sh.join(bench_sh, "sh", "leftsemi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    return (
        totals.join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.round(
                F.coalesce(F.col("_hits"), F.lit(0)) / F.col("_total"), 6
            ).alias("contamination"),
        )
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "samp",
) -> DataFrame:
    """Deterministic hash-based stratified sampling: keep a row iff
    stable_hash64(salt:id) % 10000 < rate[stratum] * 10000.

    Unlike ``df.sample`` this is reproducible across runs/engines and
    exactly restartable — the property a curation pipeline needs.
    """
    bucket = stable_hash64(F.col(id_col).cast("string"), salt=salt) % 10000
    rate = F.lit(None).cast("double")
    expr = None
    for stratum, r in rates.items():
        cond = F.col(stratum_col) == stratum
        expr = F.when(cond, F.lit(r)) if expr is None else expr.when(cond, F.lit(r))
    rate = expr.otherwise(F.lit(0.0))
    return df.filter(bucket < rate * 10000)


# ---------------------------------------------------------------------------
# Gopher-style quality rules (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", appendix A —
# public heuristics widely used for pretraining-corpus filtering).

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_WORD_RATIO = 0.8
GOPHER_MIN_STOPWORD_HITS = 2

# the Gopher "stop word presence" list (the paper's example set)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(text_col: Column | str = "text") -> dict[str, Column]:
    """Per-document Gopher rule booleans + the conjunction ``keep``.

    All pure Column expressions (one narrow map, no shuffle): word-count
    bounds, mean word length bounds, symbol-to-word ratio (``#``/``...``),
    alphabetic-word ratio, and stopword presence. Integer aggregates +
    one double division each, so the booleans are engine-reproducible.

    A document with no tokens gets ``keep = false`` (it fails the word
    count) and NULL ratio rules, as DuckDB's x/0 gives; its divisor is
    NULL rather than 0, which ANSI mode would raise DIVIDE_BY_ZERO on.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    tok = tokens(c)
    n = F.size(tok)
    nd = F.when(n > 0, n.cast("double"))

    char_sum = F.aggregate(
        tok, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    )
    mean_len = char_sum.cast("double") / nd

    symbol_hits = F.size(F.regexp_extract_all(c, F.lit(r"#|\.\.\."), F.lit(0)))
    alpha_words = F.size(F.filter(tok, lambda t: t.rlike("[A-Za-z]")))
    stop_hits = F.size(
        F.filter(tok, lambda t: F.lower(t).isin(*GOPHER_STOPWORDS))
    )

    rules = {
        "word_count_ok": (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS),
        "mean_word_len_ok": (mean_len >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_len <= GOPHER_MAX_MEAN_WORD_LEN),
        "symbol_ratio_ok": symbol_hits.cast("double") / nd
        <= GOPHER_MAX_SYMBOL_RATIO,
        "alpha_ratio_ok": alpha_words.cast("double") / nd
        >= GOPHER_MIN_ALPHA_WORD_RATIO,
        "stopword_ok": stop_hits >= GOPHER_MIN_STOPWORD_HITS,
    }
    keep = None
    for col in rules.values():
        keep = col if keep is None else keep & col
    rules["keep"] = keep
    return rules


def rebalance_to_mix(
    df: DataFrame,
    mix: dict[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Downsample strata so the kept corpus matches a target mix.

    The most-constrained stratum (smallest count_s / share_s) is kept in
    full; every other stratum's keep-rate is scaled so expected kept
    counts are proportional to ``mix``. Selection is deterministic
    hash-mod (restartable, engine-portable, same as stratified_sample);
    strata absent from ``mix`` are dropped.

    One groupBy for counts + a broadcast join of the per-stratum rate —
    no driver round-trip, so at 100 TB the rate table is computed and
    joined in-plan (or supplied from a materialized stats snapshot).
    """
    share = None
    for stratum, s in mix.items():
        cond = F.col(stratum_col) == stratum
        share = (
            F.when(cond, F.lit(float(s)))
            if share is None
            else share.when(cond, F.lit(float(s)))
        )
    share = share.otherwise(F.lit(None))

    counts = (
        df.groupBy(stratum_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_share", share)
        .filter(F.col("_share").isNotNull())
    )
    scale = counts.agg(
        F.min(F.col("_n").cast("double") / F.col("_share")).alias("_scale")
    )
    rates = (
        counts.join(F.broadcast(scale))
        .select(
            stratum_col,
            (F.col("_share") * F.col("_scale") / F.col("_n")).alias("_rate"),
        )
    )
    bucket = stable_hash64(F.col(id_col).cast("string"), salt=salt) % 10000
    return (
        df.join(F.broadcast(rates), stratum_col)
        .filter(bucket < F.col("_rate") * 10000)
        .drop("_rate")
    )


def temperature_rebalance(
    df: DataFrame,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    base: float = 0.3,
    salt: str = "tmix",
) -> DataFrame:
    """Temperature-flattened stratum sampling (the multilingual-mix
    move: downweight head languages toward sqrt parity, alpha = 0.5).

    keep_p(s) = min(1, base * sqrt(n_max / n_s)) — rare strata keep more
    of their mass, the largest keeps ``base``. The rate uses only the
    integer counts, one sqrt and one multiply, so it is bit-deterministic
    across engines (no cross-stratum float SUM, whose accumulation order
    Spark does not fix). Selection is the usual hash-mod; same
    one-groupBy + broadcast-rate-join shape as :func:`rebalance_to_mix`.
    """
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("_n"))
    n_max = counts.agg(F.max("_n").alias("_n_max"))
    rates = counts.join(F.broadcast(n_max)).select(
        stratum_col,
        F.least(
            F.lit(1.0),
            F.lit(base)
            * F.sqrt(F.col("_n_max").cast("double") / F.col("_n")),
        ).alias("_keep_p"),
    )
    bucket = stable_hash64(F.col(id_col).cast("string"), salt=salt) % 1000000
    return (
        df.join(F.broadcast(rates), stratum_col)
        .filter(bucket < F.floor(F.col("_keep_p") * 1000000))
        .drop("_keep_p")
    )


def leakage_safe_split(
    df: DataFrame,
    val_fraction: float = 0.1,
    text_col: str = "text",
    id_col: str = "doc_id",
    dup_pairs: DataFrame | None = None,
    salt: str = "split",
) -> DataFrame:
    """Train/validation split that never separates duplicates (the
    split-level contamination guard: a near-dup of a training doc in the
    validation set inflates eval).

    The split key is the document's CLUSTER representative, not the
    document: exact duplicates share a content hash; when near-dup
    ``dup_pairs`` (id_a, id_b) are supplied, connected components give
    every near-dup cluster one representative. All members then hash to
    the same side. Deterministic hash-mod selection, engine-portable.

    Adds a ``split`` column ('train' | 'val').
    """
    if dup_pairs is None:
        rep = stable_hash64(F.col(text_col)).cast("string")
        keyed = df.withColumn("_rep", rep)
    else:
        from rag_content_spark.operators.dedup import connected_components

        comps = connected_components(dup_pairs).withColumnsRenamed(
            {"id": id_col, "component": "_comp"}
        )
        keyed = df.join(comps, id_col, "left").withColumn(
            "_rep",
            F.coalesce(F.col("_comp"), F.col(id_col)).cast("string"),
        ).drop("_comp")
    bucket = stable_hash64(F.col("_rep"), salt=salt) % 10000
    return keyed.withColumn(
        "split",
        F.when(bucket < int(val_fraction * 10000), F.lit("val")).otherwise(
            F.lit("train")
        ),
    ).drop("_rep")


def psi_drift(
    a,
    b,
    score_col: str = "score",
    bins: int = 10,
    lo: float = 0.0,
    hi: float = 1.0,
):
    """Population Stability Index between two score distributions — the
    standard production-monitoring alarm for feature/score drift
    between corpus snapshots (rule of thumb: < 0.1 stable, 0.1–0.25
    shifting, > 0.25 drifted).

    Scores bucket into ``bins`` fixed-width bins over [lo, hi]
    (clamped); bin fractions are Laplace-smoothed with integer
    arithmetic — (2*cnt + 1) / (2*n + bins) — so no bin is empty and
    the whole computation up to the final ln/sum is exact. One tiny
    aggregate per side (<= bins rows), broadcast-joined: at 100 TB the
    shuffle carries <= bins rows per partition per side.

    Returns one row: (psi, n_a, n_b).
    """
    from pyspark.sql import DataFrame  # noqa: F401

    def _bins(df, cnt_name):
        s = F.col(score_col).cast("double")
        bin_ = F.least(
            F.lit(bins - 1),
            F.greatest(
                F.lit(0),
                F.floor((s - lo) / (hi - lo) * bins).cast("int"),
            ),
        )
        return df.select(bin_.alias("bin")).groupBy("bin").agg(
            F.count(F.lit(1)).alias(cnt_name)
        )

    ca, cb = _bins(a, "ca"), _bins(b, "cb")
    na = a.agg(F.count(F.lit(1)).alias("na"))
    nb = b.agg(F.count(F.lit(1)).alias("nb"))
    grid = ca.join(cb, "bin", "full_outer").select(
        "bin",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    pa = (2 * F.col("ca") + 1).cast("double") / (2 * F.col("na") + bins)
    pb = (2 * F.col("cb") + 1).cast("double") / (2 * F.col("nb") + bins)
    return (
        grid.join(F.broadcast(na))
        .join(F.broadcast(nb))
        .agg(
            F.round(F.sum((pa - pb) * F.log(pa / pb)), 6).alias("psi"),
            F.max("na").alias("n_a"),
            F.max("nb").alias("n_b"),
        )
    )
