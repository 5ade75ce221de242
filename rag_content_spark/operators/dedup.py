"""Deduplication operators (north-star extension: LLM training-data
pipeline dedup at 100 TB).

Not present in the reference (it trusts file identity); these follow the
standard public designs — MinHash/shingling per Broder (1997, "On the
resemblance and containment of documents") with the banding analysis of
Mining of Massive Datasets ch.3 (Leskovec/Rajaraman/Ullman); SimHash per
Charikar (2002); the dedup pipeline shape follows what large-corpus
curation reports (e.g. RefinedWeb, Gopher) describe:

- exact          : group by content hash, keep min id. One shuffle on a
                   64-bit key; AQE handles skew (empty/boilerplate docs).
- MinHash + LSH  : shingle → K minhashes → B bands; candidate pairs come
                   from one groupBy on (band, band_hash) — never O(n^2).
                   Verify candidates with true Jaccard over shingle sets.
                   :func:`near_duplicate_pairs` is the one-pass form a
                   pipeline calls: each document is shingled once, the
                   cap's overflow report rides the bucket aggregate, and
                   :func:`apply_dedup` drops the losers through a
                   broadcast anti-join. The two-step
                   :func:`minhash_lsh_candidates` + :func:`jaccard_pairs`
                   returns the same pairs and stays as its reference.
- SimHash        : 16-bit sign-sum fingerprint; near-dups share a bucket.
- n-gram Jaccard : the verify stage exposed standalone.
- embedding cos  : LSH-bucketed (sign random projection) candidate pairs
                   verified by exact cosine.

Every hash is the cross-engine stable_hash64, so each operator has an
exact DuckDB oracle.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window, functions as F

from rag_content_spark.functions.hashing import stable_hash64
from rag_content_spark.functions.text import tokens
from rag_content_spark.functions.vector import dot
from rag_content_spark.observe import observe
from rag_content_spark.operators.similarity import lsh_signature

#: Default LSH bucket cap — DEFAULT-ON (round-8 verdict: an opt-in cap
#: in front of a correct mechanism is a policy hole; the default-path
#: user hitting a near-identical boilerplate flood — templated pages
#: differing by a timestamp — got the uncapped O(k²) path). 1000 bounds
#: any degenerate band bucket at ≤ 499,500 pairs from one task while
#: sitting orders of magnitude above organic bucket sizes (the measured
#: degenerate-corpus probe: uncapped 10k-identical-docs = 50.7M pairs /
#: 245 s; capped = flat seconds). The cap is NEVER silent — pair
#: enumeration callers report truncation via
#: :func:`bucket_overflow_report` / :func:`overflow_summary`, and
#: ``max_bucket_size=None`` is the explicit opt-out.
DEFAULT_MAX_BUCKET_SIZE = 1000

#: Verified-pair-count bound under which connected components run as
#: one-task union-find (~32 MB of id pairs) instead of iterative
#: min-label propagation — a row-count bound, not a local-core
#: constant; see :func:`connected_components`.
_CC_SINGLE_TASK_MAX_PAIRS = 2_000_000


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: one surviving (min-id) row per distinct content hash,
    with the duplicate count. Map-side partial agg + one shuffle."""
    return (
        df.select(
            stable_hash64(F.col(text_col)).alias("content_hash"), F.col(id_col)
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def shingles(text_col: Column | str = "text", n: int = 3) -> Column:
    """Distinct word n-gram shingle strings of a document, sorted (sorted
    so set semantics are engine-order-independent).

    DuckDB: list_sort(list_distinct(list_transform(range,...)))
    """
    tok = tokens(text_col)
    idx = F.sequence(F.lit(0), F.greatest(F.size(tok) - n, F.lit(0)))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(tok, i + 1, n), " "))
    return F.array_sort(F.array_distinct(grams))


# Coefficients for combining consecutive token hashes into a shingle hash
# ((c0*h0 + c1*h1 + c2*h2) mod P): token hash < P=2^31, coeff < 2^19, so
# each product < 2^50 and the 3-term sum < 2^52 — no int64 overflow.
_SHINGLE_COEFFS = (100003, 200003, 300007)


def hashed_shingles(text_col: Column | str = "text", n: int = 3) -> Column:
    """Distinct word-n-gram shingle HASHES (sorted ARRAY<BIGINT>).

    One md5 per TOKEN (not per shingle) — each shingle hash is an integer
    combination of the n consecutive token hashes. Skips shingle string
    construction entirely: ~4x cheaper than hashing string n-grams and
    the basis for MinHash/Jaccard at scale. Out-of-range positions (docs
    shorter than n tokens) contribute 0.

    DuckDB mirror (0-based get == 1-based [] index):
      th: list_transform(tk, t -> h60(t) % P)
      sh: list_sort(list_distinct(list_transform(
            generate_series(0, greatest(len(th)-n, 0)),
            i -> (coalesce(th[i+1],0)*c0 + ... ) % P)))
    """
    assert n == len(_SHINGLE_COEFFS), "n=3 supported"
    tok = tokens(text_col)
    th = F.transform(tok, lambda t: stable_hash64(t) % MINHASH_P)
    return let(
        th,
        lambda h: F.array_sort(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(F.size(h) - n, F.lit(0))),
                    lambda i: (
                        F.coalesce(F.get(h, i), F.lit(0)) * _SHINGLE_COEFFS[0]
                        + F.coalesce(F.get(h, i + 1), F.lit(0)) * _SHINGLE_COEFFS[1]
                        + F.coalesce(F.get(h, i + 2), F.lit(0)) * _SHINGLE_COEFFS[2]
                    )
                    % MINHASH_P,
                )
            )
        ),
    )


# Universal-hash MinHash family over a prime field: each shingle is
# md5-hashed ONCE (the expensive step), then the K family members are
# (a_i * h + b_i) mod P — integer-only, so 16 hashes cost ~1 md5 instead
# of 16. P = 2^31 - 1 keeps a_i * h < 2^62 (no int64 overflow), and the
# same arithmetic renders exactly in DuckDB.
MINHASH_P = 2147483647


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    return [
        ((i * 1000003 + 12345) % MINHASH_P, (i * 999331 + 67891) % MINHASH_P)
        for i in range(num_hashes)
    ]


def minhash_signature(hashes_col: Column | str, num_hashes: int = 16) -> Column:
    """MinHash signature over an ARRAY<BIGINT> of shingle hashes (see
    :func:`hashed_shingles`): ARRAY<BIGINT> of length num_hashes; entry i
    is min over shingles of the i-th universal hash.

    ONE fold over the hash array with an array accumulator — building
    ``array(min_0, ..., min_15)`` from 16 separate ``array_min`` exprs
    duplicates the (expensive) shingle subtree 16× per row because
    Catalyst neither CSEs across lambda trees nor keeps the projection
    boundary (measured 60+ s vs <1 s at sf0.1).

    Coefficients MUST match :func:`minhash_coeffs` (the oracle renders
    the same family as 16 independent list_min expressions).
    """
    hashes = F.col(hashes_col) if isinstance(hashes_col, str) else hashes_col
    init = F.array_repeat(F.lit(MINHASH_P).cast("bigint"), num_hashes)
    idx = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    return F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc,
            idx,
            lambda m, i: F.least(
                m,
                (
                    h * ((i.cast("bigint") * 1000003 + 12345) % MINHASH_P)
                    + (i.cast("bigint") * 999331 + 67891) % MINHASH_P
                )
                % MINHASH_P,
            ),
        ),
    )


def let(bound: Column, body) -> Column:
    """Evaluate ``bound`` once and pass it to ``body`` — a let-binding via
    a single-element-array transform. Use whenever an expensive expression
    would otherwise be textually duplicated (Catalyst re-evaluates each
    copy; there is no cross-expression CSE for lambda subtrees)."""
    return F.get(F.transform(F.array(bound), body), 0)


def minhash_band_hashes(
    hashes_col: Column | str, num_hashes: int = 16, bands: int = 4
) -> Column:
    """ARRAY<STRING> of ``bands`` LSH band hashes: md5 over the
    comma-joined signature rows of each band. The signature is computed
    once (let-bound), not once per band."""
    rows = num_hashes // bands
    return let(
        minhash_signature(hashes_col, num_hashes),
        lambda sig: F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.md5(
                F.array_join(
                    F.transform(
                        F.slice(sig, b * rows + 1, rows),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ),
        ),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    Pipeline: shingle → signature → explode into ``bands`` band-hashes →
    one groupBy on (band, band_hash) → distinct (a < b) pairs.
    The only shuffles are the band-hash groupBy and the final distinct;
    both scale linearly with corpus size for non-pathological band sizes
    — and ``max_bucket_size`` bounds the pathological ones, DEFAULT-ON at
    :data:`DEFAULT_MAX_BUCKET_SIZE` (pass ``None`` to explicitly
    opt out; see :func:`bucket_pairs`; :func:`minhash_lsh_overflow`
    reports what a binding cap truncated). At 100 TB pair this with
    :func:`collapse_exact_before_lsh` so a boilerplate page repeated
    10^6 times is ONE bucket member, not 10^6. A caller that also
    verifies the candidates and reports the overflow should use
    :func:`near_duplicate_pairs`, which shingles each document once for
    all three.
    """
    return bucket_pairs(
        minhash_band_table(df, text_col, id_col, num_hashes, bands, shingle_n),
        id_col,
        ["band", "band_hash"],
        max_bucket_size=max_bucket_size,
    )


def minhash_lsh_overflow(
    df: DataFrame,
    max_bucket_size: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Overflow report for ``minhash_lsh_candidates(max_bucket_size=)``:
    (band, band_hash, bucket_size, n_dropped) per truncated bucket."""
    return bucket_overflow_report(
        minhash_band_table(df, text_col, id_col, num_hashes, bands, shingle_n),
        ["band", "band_hash"],
        max_bucket_size,
    )


def collapse_exact_before_lsh(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """Exact-duplicate pre-collapse for the near-dup pipeline: returns
    ``(reps, members)`` where ``reps`` is one surviving row (the min-id
    representative) per distinct content hash and ``members`` maps every
    id to its representative (rep_id, doc_id, n_copies).

    Why this precedes MinHash/LSH at scale: identical documents have
    identical signatures, so a page repeated k times puts k members into
    EVERY band bucket it touches — the k² pair blowup measured in the
    round-7 100× containment/cluster probes (replicated-corpus
    densification) and the single-task OOM a boilerplate-heavy crawl
    causes. Collapsing first makes each exact-dup cluster one bucket
    member; near-dup pairs found between representatives extend to the
    members transitively (an exact dup of A is near-dup of whatever A
    is), which :func:`expand_rep_pairs` materializes when needed.
    One content-hash shuffle + one leftsemi join — both linear.

    Both frames are projections of ONE hash-group join
    (:func:`collapse_exact_table`) — a caller that consumes reps AND
    members should checkpoint that table once instead of each
    projection separately (r12; one corpus⨝groups pass instead of a
    semi-join + a hash-join, one materialization job instead of two).
    The returned ``reps`` feeds at least two more consumers (LSH +
    verify) — persist/checkpoint ``df`` and the combined table when
    the source is not a cheap columnar scan.
    """
    combined = collapse_exact_table(df, text_col, id_col)
    reps = combined.filter(F.col("is_rep")).select(*df.columns)
    members = combined.select("rep_id", F.col(id_col), "n_copies")
    return reps, members


def collapse_exact_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The single-pass form of :func:`collapse_exact_before_lsh`: every
    input row with its exact-dup cluster columns attached —
    (*df columns*, rep_id, n_copies, is_rep) where rep_id is the min-id
    member of the row's content-hash group and is_rep marks the
    surviving representative.

    One aggregation (map-side partial, skew-safe for degenerate
    boilerplate clusters) + one hash join keyed on content_hash (AQE
    skew-join eligible) — versus the two joins (rep leftsemi + member
    hash) the pair-of-frames view needs when materialized separately.
    Deliberately NOT a window over content_hash: a window materializes
    a whole hash group in one task, which is exactly the degenerate-
    cluster blowup this operator exists to bound.
    """
    groups = exact_dedup(df, text_col, id_col)
    return (
        df.withColumn("_ch", stable_hash64(F.col(text_col)))
        .join(
            groups.select(
                F.col("content_hash").alias("_ch"),
                F.col("keep_id").alias("rep_id"),
                F.col("dup_count").alias("n_copies"),
            ),
            "_ch",
        )
        .select(
            *df.columns,
            "rep_id",
            "n_copies",
            (F.col(id_col) == F.col("rep_id")).alias("is_rep"),
        )
    )


def expand_rep_pairs(
    rep_pairs: DataFrame, members: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Expand representative-level near-dup pairs back to member level:
    every (member of rep_a, member of rep_b) pair, plus the intra-cluster
    exact-dup pairs (members sharing a representative), as (id_a < id_b).
    Output size is the TRUE duplicate-pair count — call it on the
    (small) verified pair set, never on raw candidates."""
    ma = members.select(
        F.col("rep_id").alias("id_a"), F.col(id_col).alias("_ma")
    )
    mb = members.select(
        F.col("rep_id").alias("id_b"), F.col(id_col).alias("_mb")
    )
    cross = (
        rep_pairs.select("id_a", "id_b")
        .join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
        )
    )
    # intra-cluster pairs via one groupBy + in-cluster enumeration (the
    # bucket_pairs shape) instead of a rep_id self-join: the members
    # subtree is evaluated once, not twice, and one shuffle replaces the
    # join's two (r12; same (id_a < id_b) rows — members are unique per
    # (rep_id, id) so sorted-prefix enumeration IS the x < y filter)
    ids = (
        members.groupBy("rep_id")
        .agg(F.array_sort(F.collect_list(id_col)).alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("_ids"),
            lambda x, i: F.transform(
                F.slice(F.col("_ids"), i + 2, F.size(F.col("_ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    intra = ids.select(F.explode(pair_structs).alias("p")).select(
        F.col("p.id_a"), F.col("p.id_b")
    )
    return cross.unionByName(intra).distinct()


def _cap_ids(ids_col: Column, max_bucket_size: int) -> Column:
    """Deterministic hash-ordered truncation of a bucket's id list to
    ``max_bucket_size`` members: sort by (stable_hash64(id), id) and
    keep the first ``max_bucket_size``. Hash order — not the plain id
    order — so the survivors are an unbiased pseudo-random sample of the
    bucket (prefix truncation of sorted ids would permanently exclude
    lexicographically-large ids from candidacy in every overflowing
    bucket).

    DuckDB twin: QUALIFY row_number() OVER (PARTITION BY bucket
    ORDER BY h60('cap:' || id), id) <= cap.
    """
    keyed = F.array_sort(
        F.transform(
            ids_col,
            lambda x: F.struct(
                stable_hash64(x.cast("string"), salt="cap").alias("h"),
                x.alias("id"),
            ),
        )
    )
    return F.transform(
        F.slice(keyed, 1, max_bucket_size), lambda s: s["id"]
    )


def bucket_pairs(
    banded: DataFrame,
    id_col: str,
    bucket_cols: list[str],
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs of ids sharing a bucket.

    groupBy + collect_list + in-bucket pair enumeration instead of a
    self-join: the (expensive) bucket-key expression is evaluated ONCE
    (a self-join recomputes it for both sides — no exchange reuse under a
    broadcast join), and the only shuffle is the groupBy.

    Pathological buckets (a band hash shared by k docs) cost O(k²) pairs
    in one task — same output as the join, but concentrated.
    ``max_bucket_size`` ENFORCES the bound: each overflowing bucket's id
    list is truncated to a deterministic hash-ordered sample of
    ``max_bucket_size`` members before pair enumeration, so per-bucket
    cost is O(cap²) regardless of corpus degeneracy (the
    boilerplate-heavy-crawl case: millions of near-identical pages
    sharing a band hash). The cap is NEVER silent — pair it with
    :func:`bucket_overflow_report` over the same banded frame to count
    and size the truncated buckets, and collapse exact duplicates first
    (:func:`collapse_exact_before_lsh`) so identical docs contribute one
    representative instead of inflating buckets. The per-bucket
    collect_list itself is linear in bucket size (ids only, not text);
    the quadratic pair emission is what the cap bounds.
    """
    _check_cap(max_bucket_size)
    ids = banded.groupBy(*bucket_cols).agg(
        F.array_sort(F.collect_list(id_col)).alias("_ids")
    )
    return _pairs_in_buckets(ids, max_bucket_size)


def _check_cap(max_bucket_size: int | None) -> None:
    if max_bucket_size is not None and max_bucket_size < 2:
        raise ValueError("max_bucket_size must be >= 2")


def _pairs_in_buckets(ids: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Distinct (id_a < id_b) pairs from one row per bucket holding its
    sorted id list ``_ids``: each list capped (:func:`_cap_ids`), its
    pairs enumerated in-array, then one ``distinct`` across buckets."""
    ids = ids.filter(F.size("_ids") > 1)
    if max_bucket_size is not None:
        ids = ids.withColumn(
            "_ids", F.array_sort(_cap_ids(F.col("_ids"), max_bucket_size))
        )
    pair_structs = F.flatten(
        F.transform(
            F.col("_ids"),
            lambda x, i: F.transform(
                F.slice(F.col("_ids"), i + 2, F.size(F.col("_ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        ids.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )


def bucket_overflow_report(
    banded: DataFrame,
    bucket_cols: list[str],
    max_bucket_size: int,
) -> DataFrame:
    """The no-silent-caps companion of ``bucket_pairs(max_bucket_size=)``:
    one row per TRUNCATED bucket — (bucket_cols..., bucket_size,
    n_dropped) with n_dropped = bucket_size - max_bucket_size — plus the
    caller can aggregate it to a one-line summary
    (:func:`overflow_summary`). Runs the same groupBy the pair
    enumeration runs (a count, not a collect), so it costs one cheap
    aggregate over the banded frame."""
    return (
        banded.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket_size)
        .withColumn(
            "n_dropped", F.col("bucket_size") - F.lit(max_bucket_size)
        )
    )


def overflow_summary(report: DataFrame) -> DataFrame:
    """One row: (n_overflow_buckets, max_bucket_size_seen, n_dropped_ids)
    over a :func:`bucket_overflow_report` frame — the line a pipeline
    logs so a binding cap is visible in every run report."""
    return report.agg(
        F.count(F.lit(1)).alias("n_overflow_buckets"),
        F.coalesce(F.max("bucket_size"), F.lit(0)).alias(
            "max_bucket_size_seen"
        ),
        F.coalesce(F.sum("n_dropped"), F.lit(0)).alias("n_dropped_ids"),
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.0,
    round_to: int = 6,
) -> DataFrame:
    """Verify candidate pairs with true n-gram Jaccard similarity.

    Only candidates are joined back to shingle sets — the expensive set
    math runs on |candidates| rows, not |corpus|^2 — and shingles are
    only computed for documents that appear in a candidate pair
    (leftsemi prune before the shingle expression).

    The candidate DataFrame is materialized once (localCheckpoint): it is
    referenced three times below (two shingle joins + the id-set union)
    and is tiny relative to the corpus — without materialization the
    whole LSH pipeline re-runs per reference (measured 3x slowdown; plain
    persist() keeps the non-AQE cached plan and is ~2x slower than
    checkpointing here). On a real cluster prefer reliable checkpoints if
    executor loss must not trigger a full recompute.
    """
    pairs = pairs.localCheckpoint(eager=True)
    # no distinct on the id set: it only feeds a LEFTSEMI join, which is
    # duplicate-insensitive — the distinct was a full extra shuffle of
    # the pair ids for nothing (r12)
    cand_ids = pairs.select(F.col("id_a").alias(id_col)).union(
        pairs.select(F.col("id_b").alias(id_col))
    )
    sh = (
        df.join(cand_ids, on=id_col, how="leftsemi")
        .select(
            F.col(id_col), hashed_shingles(text_col, n=shingle_n).alias("_sh")
        )
        # r11: the shingle table is joined TWICE below (id_a and id_b
        # sides) — without materialization each side re-scans the
        # corpus and re-shingles the candidate docs (2x the per-doc
        # md5/shingle work at any scale). Candidate-bounded, so the
        # checkpoint is small by construction.
        .localCheckpoint(eager=True)
    )
    return _verify_jaccard(pairs, sh, id_col, threshold, round_to)


def _verify_jaccard(
    pairs: DataFrame,
    sh: DataFrame,
    id_col: str,
    threshold: float,
    round_to: int,
) -> DataFrame:
    """``pairs`` plus ``jaccard``, the rounded shingle-set Jaccard of
    (id_a, id_b), read from the (id_col, _sh) shingle table ``sh``;
    pairs below ``threshold`` are dropped."""
    sa = sh.select(F.col(id_col).alias("_ida"), F.col("_sh").alias("_sa"))
    sb = sh.select(F.col(id_col).alias("_idb"), F.col("_sh").alias("_sb"))
    out = (
        pairs.join(sa, F.col("id_a") == F.col("_ida"))
        .join(sb, F.col("id_b") == F.col("_idb"))
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("_sa", "_sb"))
                / F.size(F.array_union("_sa", "_sb")),
                round_to,
            ),
        )
        .drop("_ida", "_idb", "_sa", "_sb")
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def near_duplicate_pairs(
    df: DataFrame,
    threshold: float = 0.0,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, Callable[[], dict] | None]:
    """MinHash-LSH near dedup in one pass over ``df``: the rows of
    ``jaccard_pairs(df, minhash_lsh_candidates(df, max_bucket_size=),
    threshold=)`` and the summary of ``minhash_lsh_overflow(df,
    max_bucket_size)``, at their default shingle size, hash count and
    bands, from one shingling of each document.

    Returns ``(pairs, overflow)``. ``pairs`` is (id_a, id_b, jaccard).
    ``overflow`` is None when ``max_bucket_size`` is None; otherwise
    ``overflow()`` returns the :func:`overflow_summary` row as a dict
    (n_overflow_buckets, max_bucket_size_seen, n_dropped_ids) once an
    action that consumes every row of ``pairs`` has run.

    1. One table (id, shingle hashes, band hashes) is computed and
       ``localCheckpoint``ed: the one job this call runs.
    2. One groupBy on (band, band_hash) over ids gives each bucket's
       id list. The overflow summary is an ``Observation`` on that
       aggregate (:func:`rag_content_spark.observe.observe`), with an
       exact re-aggregation as its fallback.
    3. Each list is capped, its pairs enumerated in-array, and one
       ``distinct`` merges the buckets (:func:`bucket_pairs`).
    4. Jaccard is verified from the checkpointed shingle hashes.
    """
    _check_cap(max_bucket_size)
    table = (
        df.select(F.col(id_col), hashed_shingles(text_col).alias("_sh"))
        .select(id_col, "_sh", minhash_band_hashes("_sh").alias("_bh"))
        .localCheckpoint(eager=True)
    )
    ids = (
        table.select(id_col, F.posexplode("_bh").alias("band", "band_hash"))
        .groupBy("band", "band_hash")
        .agg(F.array_sort(F.collect_list(id_col)).alias("_ids"))
    )
    overflow = None
    if max_bucket_size is not None:
        size = F.size("_ids")
        over = size > max_bucket_size
        ids, overflow = observe(
            ids,
            F.count(F.when(over, 1)).alias("n_overflow_buckets"),
            F.coalesce(F.max(F.when(over, size)), F.lit(0)).alias(
                "max_bucket_size_seen"
            ),
            F.coalesce(
                F.sum(F.when(over, size - max_bucket_size)), F.lit(0)
            ).alias("n_dropped_ids"),
        )
    pairs = _verify_jaccard(
        _pairs_in_buckets(ids, max_bucket_size), table, id_col, threshold, 6
    )
    return pairs, overflow


def containment_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """Verify candidate pairs with ASYMMETRIC shingle containment:
    ``contain_a = |A n B| / |A|`` and ``contain_b = |A n B| / |B|`` —
    the quote/subset-duplication signal symmetric Jaccard misses (a
    short doc fully embedded in a long one has J ~ |A|/|B| but
    contain_a = 1). Same candidate-bounded shape as
    :func:`jaccard_pairs`: shingles only for docs in a candidate pair,
    set math on |candidates| rows.
    """
    pairs = pairs.localCheckpoint(eager=True)
    # duplicate-insensitive LEFTSEMI consumer: no distinct (see
    # jaccard_pairs)
    cand_ids = pairs.select(F.col("id_a").alias(id_col)).union(
        pairs.select(F.col("id_b").alias(id_col))
    )
    sh = (
        df.join(cand_ids, on=id_col, how="leftsemi")
        .select(
            F.col(id_col),
            hashed_shingles(text_col, n=shingle_n).alias("_shingles"),
        )
        # r11: joined twice below — materialize once (see jaccard_pairs)
        .localCheckpoint(eager=True)
    )
    inter = F.size(F.array_intersect("_sa", "_sb"))
    return (
        pairs.join(
            sh.withColumnRenamed("_shingles", "_sa"),
            pairs["id_a"] == sh[id_col],
        )
        .drop(id_col)
        .join(
            sh.withColumnRenamed("_shingles", "_sb"),
            F.col("id_b") == sh[id_col],
        )
        .drop(id_col)
        .select(
            "id_a",
            "id_b",
            F.round(inter / F.size("_sa"), round_to).alias("contain_a"),
            F.round(inter / F.size("_sb"), round_to).alias("contain_b"),
        )
    )


def simhash(text_col: Column | str = "text", bits: int = 16) -> Column:
    """SimHash fingerprint: bit j is set iff sum over tokens of
    (+1 if bit j of stable_hash64(token) else -1) >= 0.

    Unrolled per-bit (no nested lambdas) so the same shape renders in
    DuckDB SQL.
    """
    tok = tokens(text_col)

    def _voter(j: int):
        # single-arg lambda (see _hasher note in minhash_signature)
        return lambda t: F.when(
            stable_hash64(t).bitwiseAND(F.lit(1 << j)) != 0, F.lit(1)
        ).otherwise(F.lit(-1))

    total = F.lit(0).cast("bigint")
    for j in range(bits):
        ballot = F.aggregate(F.transform(tok, _voter(j)), F.lit(0), lambda a, x: a + x)
        total = total + F.when(ballot >= 0, F.lit(1 << j).cast("bigint")).otherwise(0)
    return total


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    threshold: float = 0.9,
    bits: int = 8,
    bands: int = 2,
    dim: int = 64,
    vectorized_signatures: bool = True,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: sign-random-projection LSH
    with OR-amplification (a pair is a candidate if ANY of ``bands``
    independent ``bits``-bit signatures matches), then exact-cosine verify
    on the candidates only.

    Vectors are assumed L2-normalized (dot == cosine). At 100 TB the
    band-bucket join is the only shuffle; raise ``bits`` to shrink
    buckets, raise ``bands`` to raise recall; ``max_bucket_size``
    (DEFAULT-ON at :data:`DEFAULT_MAX_BUCKET_SIZE`, ``None`` to opt
    out) bounds degenerate buckets (zero vectors, mass-duplicated
    embeddings) at O(cap²) per bucket — see :func:`bucket_pairs`. ``vectorized_signatures``
    (the default — the 100 TB build shape) swaps the interpreted per-bit
    folds for the numpy-matmul twin (lsh_signature_np); pass False for
    the exact-fold twin that oracle queries and the equality tests pin
    against.
    """
    if vectorized_signatures:
        from rag_content_spark.operators.similarity import lsh_signature_np

        sigs = emb
        for b in range(bands):
            sigs = lsh_signature_np(
                sigs,
                bits=bits,
                dim=dim,
                seed=f"srp{b}",
                embedding_col=embedding_col,
                out_col=f"_sig{b}",
            )
        banded = sigs.select(
            F.col(id_col),
            F.posexplode(
                F.array(*[F.col(f"_sig{b}") for b in range(bands)])
            ).alias("band", "bucket"),
        )
    else:
        banded = emb.select(
            F.col(id_col),
            F.posexplode(
                F.array(
                    *[
                        lsh_signature(embedding_col, bits=bits, dim=dim, seed=f"srp{b}")
                        for b in range(bands)
                    ]
                )
            ).alias("band", "bucket"),
        )
    cand = bucket_pairs(
        banded, id_col, ["band", "bucket"], max_bucket_size=max_bucket_size
    )
    va = emb.select(F.col(id_col).alias("id_a"), F.col(embedding_col).alias("_va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(embedding_col).alias("_vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(dot("_va", "_vb", dim), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def apply_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply near-duplicate pairs to a corpus: drop every row that appears
    as the GREATER id of a pair (keep-the-smaller policy, transitive
    enough for LSH outputs where clusters share their minimum).

    One anti-join on the (small) loser set — the standard final step of a
    dedup pipeline at scale. The loser set is broadcast from the start,
    so the corpus side is never shuffled for it: it holds at most one
    id per verified pair, and verified pairs are a subset of the LSH
    candidates, whose count the bucket cap bounds.
    """
    # no distinct: LEFT ANTI is duplicate-insensitive, and the distinct
    # was a full extra shuffle of the loser ids (r12)
    losers = pairs.select(F.col("id_b").alias(id_col))
    return df.join(F.broadcast(losers), on=id_col, how="left_anti")


def _cc_single_task(p: DataFrame) -> DataFrame:
    """Exact connected components of a SINGLE-TASK-sized edge list via
    union-find: coalesce the (src, dst) pairs into one partition and
    label every node with the minimum id of its component inside one
    ``mapInPandas`` task. Identical fixpoint to the iterative min-label
    propagation (component = min reachable id); used by
    :func:`connected_components` when the materialized pair set is
    bounded. Output schema matches the iterative path: (id, component)
    with the src column's type."""
    t = dict(p.dtypes)["src"]

    def _uf(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by min: the smaller root stays root, so the
                    # final root of every set IS its minimum id
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
        ids = list(parent)
        yield pd.DataFrame(
            {"id": ids, "component": [find(x) for x in ids]}
        )

    return p.coalesce(1).mapInPandas(_uf, f"id {t}, component {t}")


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over near-duplicate pairs → (id, component)
    with component = the minimum id reachable from ``id``.

    Pairwise dedup output is edges; the unit of removal is the CLUSTER
    (A~B, B~C must collapse to one survivor even if (A,C) was never a
    candidate pair). Iterative min-label propagation: each round joins
    current labels across edges and keeps the per-node minimum,
    terminating when no label changes. Rounds are O(log n) for typical
    near-dup clusters (small diameter); each round is two hash joins +
    an aggregation, and labels are localCheckpoint'ed so the plan does
    not grow with iterations (the lineage-explosion trap of iterative
    DataFrame algorithms). Min-label propagation is confluent — every
    schedule reaches the same fixpoint (min reachable id) — so the
    r12 round-structure changes below cannot change the result.

    r12 orchestration (guide §2.2, §5): (a) the first round is FUSED
    into label initialization — with labels == ids, round one reduces
    to ``least(src, min(dst))`` per src, one shuffle instead of a
    distinct + two joins + an aggregation, and one checkpoint instead
    of two; (b) because ``edges`` is materialized before the loop, its
    row count is known, and the eager per-iteration jobs run under a
    shuffle-partition count derived from that size (~100k edges per
    reducer) instead of the session default — a 594-edge local graph
    ran every iteration shuffle as 32 near-empty reducer tasks (the
    round-11 profile's per-stage floor), while a 100 TB replica's edge
    set still fans out to the session parallelism.
    """
    # materialize the directed pair set ONCE (the incoming plan is often
    # an expensive lazy verify pipeline; the old symmetric-union-distinct
    # executed it twice and paid a full-width shuffle for a distinct the
    # fixpoint does not need — duplicate edges are idempotent under the
    # min aggregation), then derive the symmetric edge set as a NARROW
    # union over the checkpoint
    p = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).localCheckpoint(eager=True)
    spark = p.sparkSession
    n_pairs = p.count()  # cheap: counts the materialized checkpoint
    if n_pairs <= _CC_SINGLE_TASK_MAX_PAIRS:
        # The verified pair set fits ONE task (≤ ~32 MB of id pairs):
        # run exact union-find inside a single Arrow task instead of
        # 2+ eager join-iteration jobs — guide §8's "use what you know
        # that the optimizer does not": the edge list is bounded by the
        # candidate-verify stage, and min-root union-find reaches the
        # identical fixpoint (component = min reachable id) in one
        # pass. The threshold is a row count, not a local-core
        # constant; a 100 TB replica's billion-edge graph takes the
        # iterative path below unchanged.
        return _cc_single_task(p)
    edges = p.unionAll(
        p.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    n_edges = 2 * n_pairs
    par = spark.sparkContext.defaultParallelism
    n_part = max(1, min(par, n_edges // 100_000 + 1))
    conf = spark.conf
    old_parts = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", str(n_part))
    try:
        # round 1 fused into init: labels start equal to ids, so the
        # neighbor-min join degenerates to an aggregation over edges
        # (every node appears as src in the symmetric edge set). Left
        # LAZY: the first loop iteration's checkpoint materializes
        # rounds 1+2 in one job, and the duplicated init subtree inside
        # that plan collapses to a ReusedExchange.
        labels = (
            edges.groupBy("src")
            .agg(F.min("dst").alias("_m"))
            .select(
                F.col("src").alias("id"),
                F.least(F.col("src"), F.col("_m")).alias("component"),
            )
        )
        for _ in range(max_iterations - 1):
            neighbor_min = (
                edges.join(labels, edges["dst"] == labels["id"])
                .groupBy("src")
                .agg(F.min("component").alias("n_comp"))
            )
            # the convergence flag rides the same select, so each round is
            # ONE materialization (the checkpoint) + a cheap count over it —
            # not a second old-vs-new join
            stepped = (
                labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"), F.coalesce(F.col("n_comp"), F.col("component"))
                    ).alias("component"),
                    (
                        F.coalesce(F.col("n_comp"), F.col("component"))
                        < F.col("component")
                    ).alias("_changed"),
                )
                .localCheckpoint(eager=True)
            )
            changed = stepped.filter(F.col("_changed")).limit(1).count()
            labels = stepped.drop("_changed")
            if changed == 0:
                break
    finally:
        conf.set("spark.sql.shuffle.partitions", old_parts)
    return labels


def resolve_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    quality_col: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Collapse each near-duplicate CLUSTER to one survivor: the
    highest-``quality_col`` member (ties → lowest id), or the lowest id
    when no quality column is given. Rows in no cluster pass through."""
    comp = connected_components(pairs)
    tagged = df.join(comp, df[id_col] == comp["id"], "left").drop("id")
    in_cluster = tagged.filter(F.col("component").isNotNull())
    solo = tagged.filter(F.col("component").isNull()).drop("component")
    if quality_col:
        order_key = F.struct(
            (-F.col(quality_col)).alias("q"), F.col(id_col).alias("i")
        )
    else:
        order_key = F.struct(F.col(id_col).alias("i"))
    winners = (
        in_cluster.groupBy("component")
        .agg(F.min_by(id_col, order_key).alias("_keep"))
        .select(F.col("_keep").alias(id_col))
    )
    kept = in_cluster.join(winners, id_col, "leftsemi").drop("component")
    return solo.unionByName(kept)


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (boilerplate removal).

    Splits each document on ``sep``, keeps only the globally-first
    occurrence of every distinct paragraph (first = lowest (id, position)
    — deterministic), and reassembles documents from their surviving
    paragraphs in original order. Documents whose every paragraph was
    seen earlier disappear (fully-boilerplate docs).

    Scale shape: explode (narrow) → groupBy-min on the paragraph hash
    (NOT a window: a boilerplate paragraph repeated 10^9 times would put
    all its rows in one window partition, while the aggregate combines
    map-side and AQE can split the skewed join) → semi-join back → one
    shuffle on id (the rebuild). Paragraph text never leaves the row;
    only its 60-bit hash is the shuffle key.
    """
    paras = df.select(
        F.col(id_col), F.posexplode(F.split(text_col, sep)).alias("pos", "para")
    ).filter(F.col("para") != "")
    h = stable_hash64(F.col("para"))
    firsts = (
        paras.select(h.alias("_h"), F.struct(id_col, "pos").alias("_at"))
        .groupBy("_h")
        .agg(F.min("_at").alias("_first"))
    )
    kept = (
        paras.join(
            firsts,
            (h == F.col("_h"))
            & (F.struct(id_col, "pos") == F.col("_first")),
        )
        .drop("_h", "_first")
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "para"))
                    ),
                    lambda x: x["para"],
                ),
                sep,
            ).alias("dedup_text")
        )
    )


def minhash_band_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, band_hash) — the materialized LSH index of a corpus
    snapshot. At 100 TB this is written once per snapshot, partitioned
    (or bucketed) by (band, band_hash); incremental batches then probe
    it without touching corpus text. ``minhash_lsh_candidates`` is the
    self-join flavor of the same table."""
    return df.select(
        F.col(id_col),
        F.posexplode(
            minhash_band_hashes(
                hashed_shingles(text_col, n=shingle_n), num_hashes, bands
            )
        ).alias("band", "band_hash"),
    )


def dedup_against_corpus(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
    corpus_bands: DataFrame | None = None,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Incremental near-dup dedup: drop new docs that duplicate the
    EXISTING corpus (the daily-ingest path — new data never re-scans
    history beyond one equi-join against the stored band table).

    Candidates come from a band-hash equi-join of the new batch's band
    table against the corpus's (supply ``corpus_bands`` from the
    materialized snapshot to skip recomputing it); verification runs
    n-gram Jaccard on candidate pairs only; survivors are the anti-join.
    Requires disjoint id spaces between batch and corpus.
    ``max_bucket_size`` bounds a degenerate band bucket's join output at
    cap² (each side truncated to a deterministic hash-ordered sample of
    ``cap`` members per (band, band_hash) — the same guarantee as
    :func:`bucket_pairs`); a new doc whose corpus twin was sampled out
    of one bucket usually survives in another band, and the drop is
    reportable via :func:`bucket_overflow_report` on either band table.
    """
    nb = minhash_band_table(
        new_docs, text_col, id_col, num_hashes, bands, shingle_n
    )
    cb = (
        corpus_bands
        if corpus_bands is not None
        else minhash_band_table(
            corpus_docs, text_col, id_col, num_hashes, bands, shingle_n
        )
    )
    if max_bucket_size is not None:
        if max_bucket_size < 1:
            raise ValueError("max_bucket_size must be >= 1")

        def _capped(side: DataFrame) -> DataFrame:
            return (
                side.groupBy("band", "band_hash")
                .agg(F.collect_list(id_col).alias("_ids"))
                .withColumn("_ids", _cap_ids(F.col("_ids"), max_bucket_size))
                .select(
                    "band", "band_hash", F.explode("_ids").alias(id_col)
                )
            )

        nb, cb = _capped(nb), _capped(cb)
    cand = (
        nb.join(
            cb.withColumnRenamed(id_col, "_corpus_id"),
            ["band", "band_hash"],
        )
        .select(
            F.col(id_col).alias("id_a"), F.col("_corpus_id").alias("id_b")
        )
        .distinct()
    )
    both = new_docs.select(id_col, text_col).unionAll(
        corpus_docs.select(id_col, text_col)
    )
    # no distinct: LEFT ANTI is duplicate-insensitive (r12)
    dup_new_ids = jaccard_pairs(
        both, cand, text_col, id_col, shingle_n, threshold
    ).select(F.col("id_a").alias(id_col))
    return new_docs.join(dup_new_ids, id_col, "left_anti")


def crossdoc_dup_stats(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document duplicate-passage signal: per document, the
    fraction of its n-token shingle positions whose shingle also occurs
    in at least one OTHER document.

    This is the boilerplate / copied-passage detector of large-corpus
    curation (the passage-level complement of ``dup_ngram_fracs``, which
    measures WITHIN-document repetition): headers, license blocks and
    syndicated text show up as long runs of cross-document shingles, and
    pipelines drop or trim documents above a dup-fraction threshold.

    Shape at 100 TB: explode to positions, collapse to distinct
    (doc, shingle) pairs with their occurrence counts (map-side partial
    agg), count docs per shingle (partial agg on the shingle hash), one
    shuffle join back on the shingle hash, then a per-doc aggregate.
    Everything before the final division is integer arithmetic, so the
    result is bit-deterministic and oracle-checkable. Never all-pairs.
    """
    tok = tokens(text_col)
    grams = F.when(
        F.size(tok) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(tok) - n),
            lambda i: F.array_join(F.slice(tok, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos = docs.select(F.col(id_col), F.explode(grams).alias("shingle")).select(
        id_col, stable_hash64("shingle").alias("sh")
    )
    pairs = pos.groupBy(id_col, "sh").agg(F.count(F.lit(1)).alias("n_occ"))
    freq = pairs.groupBy("sh").agg(F.count(F.lit(1)).alias("n_docs"))
    joined = pairs.join(freq, "sh")
    stats = joined.groupBy(id_col).agg(
        F.sum("n_occ").alias("n_shingles"),
        F.round(
            F.sum(F.when(F.col("n_docs") > 1, F.col("n_occ")).otherwise(0))
            / F.sum("n_occ").cast("double"),
            6,
        ).alias("crossdoc_dup_frac"),
    )
    return docs.select(id_col).join(stats, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_shingles"), F.lit(0).cast("bigint")).alias(
            "n_shingles"
        ),
        F.coalesce(F.col("crossdoc_dup_frac"), F.lit(0.0)).alias(
            "crossdoc_dup_frac"
        ),
    )


def remove_crossdoc_passages(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The transform counterpart of :func:`crossdoc_dup_stats`: REMOVE
    every token position covered by a cross-document duplicate n-shingle
    (boilerplate scrubbing — headers, license blocks, syndicated
    passages get cut while unique prose stays).

    A token at position i is dropped iff some duplicate shingle starts
    in [i-n+1, i]. Returns (id, clean_text, n_tokens, n_removed);
    clean_text is the kept tokens joined by single spaces (whitespace is
    normalized — the tokenizer's view is what downstream chunking and
    dedup see anyway).

    Scale shape: the duplicated-start positions per doc come back as ONE
    small collect_set per document (dup starts are rare by definition —
    a doc that is mostly duplicate should be dropped by the
    crossdoc_dup_frac gate instead); the rebuild is then a narrow
    filter-with-index over the token array, no second explode.
    """
    tok = tokens(text_col)
    grams = F.when(
        F.size(tok) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(tok) - n),
            lambda i: F.array_join(F.slice(tok, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos = docs.select(
        F.col(id_col), F.posexplode(grams).alias("p", "shingle")
    ).select(id_col, "p", stable_hash64("shingle").alias("sh"))
    dup = (
        pos.select(id_col, "sh")
        .distinct()
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )
    covered = (
        pos.join(dup.select("sh"), "sh")
        .groupBy(id_col)
        .agg(F.collect_set("p").alias("_cov"))
    )
    cov = F.coalesce(F.col("_cov"), F.array().cast("array<int>"))
    kept = F.filter(
        tok,
        lambda t, i: ~F.exists(
            cov, lambda p: (p <= i) & (i <= p + F.lit(n - 1))
        ),
    )
    return (
        docs.join(covered, id_col, "left")
        .select(
            F.col(id_col),
            F.array_join(kept, " ").alias("clean_text"),
            F.size(tok).cast("bigint").alias("n_tokens"),
            (F.size(tok) - F.size(kept)).cast("bigint").alias("n_removed"),
        )
    )


# Rolling-window coefficients for content-defined chunking: 4 coeffs
# < 2^19 over token hashes < P=2^31 keep every product < 2^50 and the
# 4-term sum < 2^52 — no int64 overflow, same bound argument as
# _SHINGLE_COEFFS.
_CDC_COEFFS = (131071, 262139, 524287, 65599)
_CDC_W = 4


def cdc_chunks(
    docs: DataFrame,
    mask: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS boundary trick, token
    granularity): a chunk boundary opens at position i whenever the
    rolling hash of tokens [i, i+4) satisfies ``g % mask == 0`` —
    boundaries follow CONTENT, not offsets, so inserting a paragraph
    shifts every byte offset but leaves all other chunk hashes intact.
    That makes ``chunk_hash`` the dedup key for partially-edited /
    shifted documents (delta storage, CDC-level near-dedup), where
    fixed-offset chunking would see every chunk change.

    Expected chunk length == mask tokens. Everything is a narrow
    Column expression (token hash -> rolling hash -> boundary list ->
    slice per span) — one explode, no shuffle, and the same integer
    arithmetic renders exactly in DuckDB.

    Output: ``id, chunk_idx, start, n_tokens, chunk_hash`` (hash of the
    space-joined chunk tokens).
    """
    tok = tokens(text_col)
    th = F.transform(tok, lambda t: stable_hash64(t) % MINHASH_P)
    base = docs.filter(F.size(tok) > 0).select(
        F.col(id_col), tok.alias("_tok"), th.alias("_th")
    )
    h = F.col("_th")
    n = F.size("_tok")
    g = lambda i: (  # noqa: E731 - rolling hash of the window at i
        F.get(h, i) * _CDC_COEFFS[0]
        + F.get(h, i + 1) * _CDC_COEFFS[1]
        + F.get(h, i + 2) * _CDC_COEFFS[2]
        + F.get(h, i + 3) * _CDC_COEFFS[3]
    ) % MINHASH_P
    # boundary candidates: i in [1, n - W]; bounds = [0, *boundaries, n]
    bpos = F.when(
        n >= _CDC_W + 1,
        F.filter(
            F.sequence(F.lit(1), n - _CDC_W),
            lambda i: g(i) % mask == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    bounds = F.concat(F.array(F.lit(0)), bpos, F.array(n))
    spans = F.transform(
        F.sequence(F.lit(0), F.size(bounds) - 2),
        lambda c: F.struct(
            c.alias("chunk_idx"),
            F.get(bounds, c).alias("start"),
            (F.get(bounds, c + 1) - F.get(bounds, c)).alias("n_tokens"),
        ),
    )
    exploded = base.select(
        id_col, "_tok", F.explode(spans).alias("_s")
    ).select(
        F.col(id_col),
        F.col("_s.chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("_s.start").cast("bigint").alias("start"),
        F.col("_s.n_tokens").cast("bigint").alias("n_tokens"),
        F.array_join(
            F.slice("_tok", F.col("_s.start") + 1, F.col("_s.n_tokens")), " "
        ).alias("_chunk"),
    )
    return exploded.select(
        id_col,
        "chunk_idx",
        "start",
        "n_tokens",
        stable_hash64("_chunk").alias("chunk_hash"),
    )


def semdedup(
    emb: DataFrame,
    centroids: list,
    threshold6: int = 950_000,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    materialize: bool = True,
    assign_fn=None,
    pairwise_fn=None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup in
    embedding space. Cluster the corpus into IVF cells, compare pairs
    ONLY within a cell, and drop every vector whose cosine to a
    LOWER-id cell-mate reaches ``threshold6`` (fixed-point 1e-6).
    Returns (id, cell, keep).

    ``materialize=True`` localCheckpoints the assignment table: the plan
    references it three times (both self-join sides + the final keep
    join), and centroid assignment is the expensive distributed step —
    without materialization it runs three times per query.

    Scale shape: the cell partitioning is the paper's central trick —
    pairwise work is quadratic within a cell but the equi-join on cell
    keeps it linear in the corpus (cells are capacity-bounded by the
    centroid count). Assignment is the exact declarative
    :func:`~rag_content_spark.operators.similarity.assign_ivf_cells`
    (oracle-parity path; swap in ``assign_ivf_cells_np`` on a build
    path, same contract). The lower-id-survives rule makes the keep
    set deterministic on any engine and partitioning — no iterative
    clustering needed, unlike connected-components dedup, because
    SemDeDup's drop rule is per-pair, not transitive.

    ``assign_fn`` swaps the assignment implementation: pass
    :func:`~rag_content_spark.operators.similarity.assign_ivf_cells_np`
    for the vectorized build path (numpy matmul per Arrow batch, ~50x
    on wide centroid sets — both paths round distances to 1e-6 before
    the argmin, so assignments agree; equality-pinned in
    tests/test_dedup_similarity.py).

    ``pairwise_fn`` swaps the within-cell compare the same way: pass
    :func:`semdedup_dropped_np` for the vectorized build path (one
    numpy gram matrix per cell via applyInPandas, row-blocked — the
    within-cell quadratic is the dominant cost at build scale and the
    interpreted zip_with cosine is ~100x slower per pair). Both paths
    round to the 1e-6 fixed-point grid before comparing, so drop sets
    agree; equality-pinned in tests.
    """
    from rag_content_spark.functions.vector import cosine
    from rag_content_spark.operators.similarity import assign_ivf_cells

    assigned = (assign_fn or assign_ivf_cells)(
        emb.select(id_col, embedding_col), centroids,
        embedding_col=embedding_col, id_col=id_col,
    )
    if materialize:
        assigned = assigned.localCheckpoint(eager=True)
    if pairwise_fn is not None:
        dropped = pairwise_fn(assigned, threshold6, id_col, embedding_col)
    else:
        a = assigned.select(
            F.col(id_col).alias("_ida"),
            F.col(embedding_col).alias("_ea"),
            F.col("centroid_id").alias("_cell"),
        )
        b = assigned.select(
            F.col(id_col).alias("_idb"),
            F.col(embedding_col).alias("_eb"),
            F.col("centroid_id").alias("_cell"),
        )
        dropped = (
            a.join(b, "_cell")
            .filter(F.col("_ida") < F.col("_idb"))
            .filter(
                F.round(cosine("_ea", "_eb") * F.lit(1_000_000)).cast("bigint")
                >= F.lit(threshold6)
            )
            .select(F.col("_idb").alias("_drop"))
            .distinct()
        )
    return (
        assigned.join(
            dropped, assigned[id_col] == dropped["_drop"], "left"
        )
        .select(
            F.col(id_col),
            F.col("centroid_id").cast("bigint").alias("cell"),
            F.col("_drop").isNull().alias("keep"),
        )
    )


def semdedup_dropped_np(
    assigned: DataFrame,
    threshold6: int,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    block: int = 1024,
) -> DataFrame:
    """Vectorized within-cell SemDeDup compare: one applyInPandas per
    IVF cell computing the cell's cosine gram matrix in numpy (row
    blocks of ``block`` against the full cell, so memory is
    block x |cell| not |cell|^2) and emitting the ids dropped by the
    lower-id-survives rule. Same 1e-6 half-away-from-zero fixed-point
    grid as the declarative path (:func:`semdedup` default), so the
    drop sets agree — equality-pinned in tests.

    Scale shape: the shuffle is the single groupBy(cell); per-cell work
    is a BLAS matmul. Cells are capacity-bounded by the centroid count,
    which the caller sizes ~sqrt(N) (the paper's configuration), so no
    cell's gram block exceeds executor memory.
    """
    import numpy as np
    import pandas as pd

    import pyspark.sql.types as T

    from rag_content_spark.operators.search import _round_half_away

    out_schema = T.StructType(
        [T.StructField("_drop", assigned.schema[id_col].dataType)]
    )

    def _cell(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"_drop": pdf[id_col].to_numpy()[:0]})
        pdf = pdf.sort_values(id_col)  # lower-id survives
        X = np.array(pdf[embedding_col].tolist(), dtype=np.float64)
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
        m = len(pdf)
        col = np.arange(m)
        drop = np.zeros(m, dtype=bool)
        for b0 in range(0, m, block):
            b1 = min(b0 + block, m)
            s6 = _round_half_away(Xn[b0:b1] @ Xn.T * 1_000_000).astype(np.int64)
            earlier = col[None, :] < (b0 + np.arange(b1 - b0))[:, None]
            drop[b0:b1] = ((s6 >= threshold6) & earlier).any(axis=1)
        return pd.DataFrame({"_drop": pdf[id_col].to_numpy()[drop]})

    return (
        assigned.select(id_col, embedding_col, "centroid_id")
        .groupBy("centroid_id")
        .applyInPandas(_cell, schema=out_schema)
    )


def _gram_positions(
    docs: DataFrame, k: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, pos, gh) for every k-token window of every document; ``pos``
    is the 0-based start-token index and ``gh`` the 60-bit cross-engine
    hash of the space-joined window text."""
    tok = tokens(text_col)
    m = F.size(tok) - (k - 1)
    # sequence(0, -1) would run DESCENDING; guard docs shorter than k
    idx = F.when(m >= 1, F.sequence(F.lit(0), m - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return docs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                idx, lambda i: F.array_join(F.slice(tok, i + 1, k), " ")
            )
        ).alias("pos", "_gram"),
    ).select(id_col, "pos", stable_hash64("_gram").alias("gh"))


def duplicate_span_positions(
    docs: DataFrame,
    k: int = 5,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplicate detection at word granularity, the
    distributed shape of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better", arXiv:2107.06499): a token position
    is DUPLICATED when any k-token window covering it occurs at least
    ``min_count`` times corpus-wide (the paper's suffix-array criterion,
    restricted to word-aligned windows of one fixed length so it
    distributes as plain relational algebra). Returns distinct
    (id, tok_idx) covered positions.

    Scale shape (100 TB): one explode to ~n_tokens (id, pos, hash) rows;
    duplicated hashes found by a map-side-combinable count on the 64-bit
    gram hash (never the gram text — the shuffle carries 20 bytes/row);
    hits come back via an equi-join on the hash; coverage explodes only
    the DUPLICATED windows (x k) before a (id, idx) distinct. No
    driver-side state, no O(n^2) pair scan, and no suffix array — the
    fixed-k window trades the paper's variable-length matches for a
    shuffle-even plan (windows longer than k are caught as runs of
    overlapping duplicated k-windows and merge into one span).
    60-bit gram-hash collisions can mark a false duplicate position at
    corpus scale; acceptable for scrubbing (Lee et al.'s Bloom variants
    accept the same), and the identical hash runs in the DuckDB oracle.
    """
    grams = _gram_positions(docs, k, id_col, text_col)
    dup = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.col("_cnt") >= min_count)
        .select("gh")
    )
    return (
        grams.join(dup, "gh")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (k - 1))
            ).alias("tok_idx"),
        )
        .distinct()
    )


def duplicate_span_stats(
    docs: DataFrame,
    k: int = 5,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicate-span profile over
    :func:`duplicate_span_positions`: token count, duplicated-token
    count, number of maximal duplicated runs (gaps-and-islands over the
    covered positions), and the duplicated fraction."""
    covered = duplicate_span_positions(docs, k, min_count, id_col, text_col)
    w = Window.partitionBy(id_col).orderBy("tok_idx")
    per = (
        covered.withColumn(
            "_grp", F.col("tok_idx") - F.row_number().over(w)
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("dup_tokens"),
            F.countDistinct("_grp").alias("n_spans"),
        )
    )
    base = docs.select(
        F.col(id_col), F.size(tokens(text_col)).cast("bigint").alias("n_tokens")
    )
    return base.join(per, id_col, "left").select(
        F.col(id_col),
        "n_tokens",
        F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("bigint").alias("dup_tokens"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
        F.round(
            F.coalesce(F.col("dup_tokens"), F.lit(0))
            / F.greatest(F.col("n_tokens"), F.lit(1)),
            6,
        ).alias("dup_ratio"),
    )


def scrub_duplicate_spans(
    docs: DataFrame,
    k: int = 5,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove every duplicated span (Lee et al. 2022's ExactSubstr-cut):
    rebuild each document from the tokens NOT covered by a duplicated
    k-window. Documents with zero tokens disappear (no token rows on
    either engine); fully-duplicated documents survive with
    ``clean_text = ''``. Per-doc reassembly is a collect_list bounded by
    document length — the standard per-key bound, never corpus-sized."""
    covered = duplicate_span_positions(docs, k, min_count, id_col, text_col)
    toks = docs.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("tok_idx", "_tok")
    )
    joined = toks.join(
        covered.withColumn("_dup", F.lit(True)), [id_col, "tok_idx"], "left"
    ).select(
        id_col,
        "tok_idx",
        "_tok",
        F.coalesce(F.col("_dup"), F.lit(False)).alias("_dup"),
    )
    return joined.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("tok_idx", "_dup", "_tok"))
                    ),
                    lambda s: ~s["_dup"],
                ),
                lambda s: s["_tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.sum(F.when(F.col("_dup"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed"),
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
    )
