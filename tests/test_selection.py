"""Data-selection operators: DSIR importance resampling, bigram-LM
perplexity, BPE pair counting (operators/selection.py)."""

import math

from pyspark.sql import functions as F


def _corpus(spark):
    # 3 "target-like" docs about retrieval, 3 off-topic docs, 1 mixed
    rows = [
        (1, "tgt", "vector index retrieval ranks documents by cosine score"),
        (2, "tgt", "the retrieval index returns top documents by score"),
        (3, "tgt", "cosine score ranks the vector index documents"),
        (4, "raw", "bananas and oranges are stacked in the market crates"),
        (5, "raw", "the market sells oranges bananas and ripe crates daily"),
        (6, "raw", "crates of bananas ship to the market every morning"),
        (7, "raw", "the retrieval index also ships bananas apparently"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "kind", "text"])


def test_dsir_weights_orders_target_like_docs_first(spark):
    from rag_content_spark.operators.selection import dsir_log_weights

    docs = _corpus(spark)
    target = docs.filter(F.col("kind") == "tgt")
    w = {
        r["doc_id"]: r["logw"]
        for r in dsir_log_weights(docs, target, buckets=256).collect()
    }
    assert set(w) == {1, 2, 3, 4, 5, 6, 7}
    # every pure-target doc outranks every pure-raw doc; the mixed doc
    # sits strictly between the two groups' extremes
    assert min(w[1], w[2], w[3]) > max(w[4], w[5], w[6])
    assert w[7] > min(w[4], w[5], w[6])


def test_dsir_weights_integer_sum_is_partitioning_invariant(spark):
    from rag_content_spark.operators.selection import dsir_log_weights

    docs = _corpus(spark)
    target = docs.filter(F.col("kind") == "tgt")
    a = dsir_log_weights(docs, target, buckets=64)
    b = dsir_log_weights(docs.repartition(7), target.repartition(3), buckets=64)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_dsir_target_flag_matches_two_pass(spark):
    """The target_flag path (flag carried through the feature twin, one
    fused bucket aggregate) must produce row-identical weights to the
    two-pass path (target slice re-tokenized separately) — including a
    NULL-text doc and a doc whose flag is true."""
    from rag_content_spark.operators.selection import dsir_log_weights

    rows = [
        (1, "tgt", "vector index retrieval ranks documents by cosine score"),
        (2, "tgt", "the retrieval index returns top documents by score"),
        (3, "raw", "bananas and oranges are stacked in the market crates"),
        (4, "raw", None),
        (5, "tgt", ""),
        (6, "raw", "crates of bananas ship to the market every morning"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "kind", "text"])
    target = docs.filter(F.col("kind") == "tgt")
    two_pass = dsir_log_weights(docs, target, buckets=64)
    flagged = dsir_log_weights(
        docs, None, buckets=64, target_flag=F.col("kind") == "tgt"
    )
    assert sorted(map(tuple, two_pass.collect())) == sorted(
        map(tuple, flagged.collect())
    )


def test_dsir_target_flag_matches_subset_path(spark):
    """target_flag vs the target_subset_of_raw semi-join derivation —
    same integer counts, same weights (the selection_pipeline switch)."""
    from rag_content_spark.operators.selection import dsir_log_weights

    docs = _corpus(spark)
    target = docs.filter(F.col("kind") == "tgt")
    subset = dsir_log_weights(
        docs, target, buckets=128, target_subset_of_raw=True
    )
    flagged = dsir_log_weights(
        docs, None, buckets=128, target_flag=F.col("kind") == "tgt"
    )
    assert sorted(map(tuple, subset.collect())) == sorted(
        map(tuple, flagged.collect())
    )


def test_dsir_select_is_deterministic_topk(spark):
    from rag_content_spark.operators.selection import dsir_select

    docs = _corpus(spark)
    target = docs.filter(F.col("kind") == "tgt")
    got1 = [r["doc_id"] for r in dsir_select(docs, target, k=3, buckets=256).collect()]
    got2 = [r["doc_id"] for r in dsir_select(docs, target, k=3, buckets=256).collect()]
    assert got1 == got2 and len(got1) == 3


def test_bigram_logloss_matches_hand_computation(spark):
    from rag_content_spark.operators.selection import bigram_logloss

    # corpus: "a b a b" and "a b c"; V=3 distinct unigrams
    # bigram counts: (a,b)=3, (b,a)=1, (b,c)=1 ; context counts a·=3, b·=2
    rows = [(1, "a b a b"), (2, "a b c")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in bigram_logloss(df).collect()}
    p_ab = (3 + 1) / (3 + 3)  # (c12+1)/(c1+V)
    p_ba = (1 + 1) / (2 + 3)
    p_bc = (1 + 1) / (2 + 3)
    exp1 = -(math.log(p_ab) + math.log(p_ba) + math.log(p_ab)) / 3
    exp2 = -(math.log(p_ab) + math.log(p_bc)) / 2
    assert got[1]["n_bigrams"] == 3
    assert abs(got[1]["xent2"] - exp1) < 1e-6
    assert abs(got[2]["xent2"] - exp2) < 1e-6


def test_bigram_lm_salt_equality(spark):
    """The salt= knob (r10 verdict task 2: promote the wedge_salt
    pattern into the bigram-LM token joins, since the AQE skew probe
    showed the skew split cannot be counted on to fire) must be a pure
    plan transformation: salted and unsalted runs produce IDENTICAL
    rows on a real corpus slice, for both LM operators."""
    from rag_content_spark.operators.selection import (
        bigram_logloss,
        kneser_ney_logloss,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = sorted(map(tuple, bigram_logloss(docs).collect()))
    salted = sorted(map(tuple, bigram_logloss(docs, salt=8).collect()))
    assert salted == base and len(base) > 0
    base_kn = sorted(map(tuple, kneser_ney_logloss(docs).collect()))
    salted_kn = sorted(map(tuple, kneser_ney_logloss(docs, salt=8).collect()))
    assert salted_kn == base_kn and len(base_kn) > 0


def test_bigram_logloss_drops_single_token_docs(spark):
    from rag_content_spark.operators.selection import bigram_logloss

    df = spark.createDataFrame([(1, "only"), (2, "two words")], ["doc_id", "text"])
    assert [r["doc_id"] for r in bigram_logloss(df).collect()] == [2]


def test_bpe_pair_counts_weighted_by_word_frequency(spark):
    from rag_content_spark.operators.selection import bpe_pair_counts

    # "low" x3 and "lower" x1: pair (l,o) count 4, (o,w</w>) count 3,
    # (o,w) 1, (w,e) 1, (e,r</w>) 1
    df = spark.createDataFrame(
        [(1, "low low low lower")], ["doc_id", "text"]
    )
    got = {(r["lhs"], r["rhs"]): r["cnt"] for r in bpe_pair_counts(df).collect()}
    assert got[("l", "o")] == 4
    assert got[("o", "w</w>")] == 3
    assert got[("o", "w")] == 1
    assert got[("w", "e")] == 1
    assert got[("e", "r</w>")] == 1


def test_bpe_pair_counts_single_char_words_have_no_pairs(spark):
    from rag_content_spark.operators.selection import bpe_pair_counts

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    assert bpe_pair_counts(df).count() == 0


def test_bpe_encode_word_merges_lowest_rank_leftmost():
    from rag_content_spark.operators.selection import bpe_encode_word

    ranks = {("l", "o"): 0, ("lo", "w</w>"): 1, ("w", "e"): 2}
    assert bpe_encode_word("low", ranks) == ["low</w>"]
    # 'lower': l o w e r</w> -> lo w e r</w>; (lo,w</w>) absent,
    # (w,e) rank 2 applies -> lo we r</w>
    assert bpe_encode_word("lower", ranks) == ["lo", "we", "r</w>"]
    assert bpe_encode_word("a", ranks) == ["a</w>"]
    assert bpe_encode_word("", ranks) == []


def test_bpe_encode_merge_can_enable_better_ranked_merge():
    from rag_content_spark.operators.selection import bpe_encode_word

    # (a,b)->ab rank 1; (ab,c</w>) rank 0 only exists AFTER the first
    # merge — the re-evaluating loop must pick it up
    ranks = {("ab", "c</w>"): 0, ("a", "b"): 1}
    assert bpe_encode_word("abc", ranks) == ["abc</w>"]


def test_bpe_token_stats_roundtrip(spark):
    from rag_content_spark.operators.selection import bpe_token_stats

    df = spark.createDataFrame(
        [(1, "low low lower"), (2, "low")], ["doc_id", "text"]
    )
    merges = [("l", "o"), ("lo", "w</w>")]
    got = {r["doc_id"]: r for r in bpe_token_stats(df, merges).collect()}
    # 'low' -> [low</w>] (1 tok); 'lower' -> [lo,w,e,r</w>] (4)
    assert got[1]["n_tokens"] == 3 and got[1]["n_bpe"] == 1 + 1 + 4
    assert got[2]["n_tokens"] == 1 and got[2]["n_bpe"] == 1
    assert abs(got[2]["compression"] - 1.0) < 1e-9


def test_bpe_top_n_ordering_is_total(spark):
    from rag_content_spark.operators.selection import bpe_pair_counts

    df = spark.createDataFrame([(1, "ab ba ab ba")], ["doc_id", "text"])
    rows = [tuple(r) for r in bpe_pair_counts(df, top_n=2).collect()]
    # (a,b</w>)=2, (b,a</w>)=2 tie -> lexicographic (lhs, rhs)
    assert rows == [("a", "b</w>", 2), ("b", "a</w>", 2)]


def test_bpe_encode_corpus_roundtrip(spark):
    from rag_content_spark.operators.selection import (
        bpe_encode_corpus,
        bpe_vocab,
    )

    merges = [("l", "o"), ("lo", "w</w>")]
    df = spark.createDataFrame(
        [(1, "low lower low low"), (2, "lower")], ["doc_id", "text"]
    )
    vocab = {r["token"]: r["token_id"] for r in bpe_vocab(df, merges).collect()}
    inv = {v: k for k, v in vocab.items()}
    got = {
        r["doc_id"]: [inv[i] for i in r["token_ids"]]
        for r in bpe_encode_corpus(df, merges).collect()
    }
    lower = ["lo", "w", "e", "r</w>"]
    assert got[1] == ["low</w>"] + lower + ["low</w>", "low</w>"]  # order kept
    assert got[2] == lower
    # id space dense, frequency-ordered: low</w> (freq 3) gets id 0
    # ahead of the freq-2 pieces of 'lower'
    assert sorted(vocab.values()) == list(range(len(vocab)))
    assert vocab["low</w>"] == 0


def test_cli_tokenize_megatron(spark, tmp_path, capsys):
    import json

    from rag_content_spark.cli import main
    from rag_content_spark.sinks.megatron import read_indexed_pair

    rows = [(i, "the quick brown fox jumps over the lazy dog " * 3)
            for i in range(10)]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(src)
    out = str(tmp_path / "tok")
    rc = main(["tokenize", "-i", src, "-o", out, "--merges", "20", "--shards", "2"])
    assert rc == 0
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    stats = json.load(open(f"{out}/merges.json"))
    assert len(stats) == 20
    total = 0
    import glob

    for idx in sorted(glob.glob(f"{out}/shards/*.idx")):
        seqs = read_indexed_pair(idx[: -len(".idx")])
        total += sum(len(s) for s in seqs)
    vocab = spark.read.parquet(f"{out}/vocab.parquet")
    assert vocab.count() > 0
    assert total > 0
    # the observed counts print exactly what separate counts printed
    assert printed == {
        "docs": 10, "vocab_size": 12, "merges": 20, "shards": 2, "total_tokens": 390,
    }
    assert printed["vocab_size"] == vocab.count() and printed["total_tokens"] == total


def test_dsir_weights_plan_broadcasts_ratio_table(spark):
    """Plan guard: the per-doc scoring join must be a broadcast of the
    <= buckets-row ratio table, never a sort-merge join of the corpus."""
    from rag_content_spark.operators.selection import dsir_log_weights

    docs = _corpus(spark)
    target = docs.filter(F.col("kind") == "tgt")
    plan = (
        dsir_log_weights(docs, target, buckets=64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_learn_bpe_paper_example():
    """The BPE paper's running example: {low, lower, newest, widest}.
    With e,s,t dominant in newest/widest, 'es' then 'est' merge first."""
    from rag_content_spark.operators.selection import learn_bpe

    wf = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    merges = learn_bpe(wf, 4)
    # counts round 1: (e,s)=9, (s,t</w>)... s t</w> also 9; tie-break
    # pair-ascending -> ('e','s') first; then ('es','t</w>')=9
    assert merges[0] == ("e", "s")
    assert merges[1] == ("es", "t</w>")
    # 'lo' appears in low(5)+lower(2)=7 -> next
    assert ("l", "o") in merges[2:]


def test_learn_bpe_iterative_differs_from_one_shot():
    """Iterated learning must produce merges a one-shot top-N cannot:
    ('es','t</w>') only exists AFTER ('e','s') merges."""
    from rag_content_spark.operators.selection import learn_bpe

    merges = learn_bpe({"newest": 3, "widest": 2}, 2)
    assert merges == [("e", "s"), ("es", "t</w>")]


def test_learn_bpe_merges_spark_roundtrip(spark):
    from rag_content_spark.operators.selection import (
        bpe_encode_corpus,
        learn_bpe_merges,
    )

    df = spark.createDataFrame(
        [(1, "newest newest widest"), (2, "newest")], ["doc_id", "text"]
    )
    merges = learn_bpe_merges(df, n_merges=3)
    assert merges[0] == ("e", "s")
    encoded = {r["doc_id"]: r["token_ids"] for r in
               bpe_encode_corpus(df, merges).collect()}
    assert len(encoded) == 2 and all(len(v) > 0 for v in encoded.values())


def test_dsir_subset_path_equals_general_path(spark):
    """target_subset_of_raw must produce byte-identical weights to the
    general two-corpus path when the target is in fact a raw slice."""
    from rag_content_spark.operators.selection import dsir_log_weights

    docs = _corpus(spark)
    target = docs.filter(F.col("kind") == "tgt")
    a = sorted(map(tuple, dsir_log_weights(docs, target, buckets=64).collect()))
    b = sorted(map(tuple, dsir_log_weights(
        docs, target, buckets=64, target_subset_of_raw=True
    ).collect()))
    assert a == b


def test_kneser_ney_logloss_hand_computed(spark):
    """Interpolated KN on 'a b a b a c': c12={(a,b):2,(b,a):2,(a,c):1},
    ctx={a:(3,2), b:(2,1)}, every word has 1 left-context, 3 bigram types."""
    import math

    from rag_content_spark.operators.selection import kneser_ney_logloss

    docs = spark.createDataFrame([(1, "a b a b a c")], ["doc_id", "text"])
    (row,) = kneser_ney_logloss(docs).collect()
    p_b_a = (2 - 0.75) / 3 + (0.75 * 2 / 3) * (1 / 3)
    p_a_b = (2 - 0.75) / 2 + (0.75 * 1 / 2) * (1 / 3)
    p_c_a = (1 - 0.75) / 3 + (0.75 * 2 / 3) * (1 / 3)
    want = -(2 * math.log(p_b_a) + 2 * math.log(p_a_b) + math.log(p_c_a)) / 5
    assert row["n_bigrams"] == 5
    assert abs(row["kn_xent"] - want) < 1e-6


def test_kneser_ney_probabilities_sum_below_one(spark):
    """For each context, the observed-bigram KN probabilities must sum to
    <= 1 (the discount reserves continuation mass distributed over the
    WHOLE vocabulary, observed or not)."""
    from pyspark.sql import functions as F

    from rag_content_spark.operators.selection import kneser_ney_logloss

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate([
            "the cat sat on the mat",
            "the dog sat on the rug",
            "a cat and a dog met",
        ])],
        ["doc_id", "text"],
    )
    per_doc = kneser_ney_logloss(docs)
    rows = per_doc.collect()
    assert len(rows) == 3 and all(r["kn_xent"] > 0 for r in rows)


def test_doremi_upweights_high_loss_domains(spark):
    """The domain whose text is hardest under the corpus bigram LM gets
    the largest mixture weight; weights are a distribution."""
    from rag_content_spark.operators.selection import doremi_domain_weights

    rows = []
    # 'easy' domain: one sentence repeated -> very predictable bigrams
    for i in range(6):
        rows.append((i, "the cat sat on the mat", "easy"))
    # 'hard' domain: every doc distinct vocabulary -> high loss
    words = "q w e r t y u i o p a s d f g h j k l z x c v b n m".split()
    for i in range(6):
        rows.append((100 + i, " ".join(words[4 * (i % 5):4 * (i % 5) + 4]), "hard"))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {r["domain"]: r for r in doremi_domain_weights(docs).collect()}
    assert set(got) == {"easy", "hard"}
    assert abs(sum(r["weight"] for r in got.values()) - 1.0) < 2e-6
    assert got["hard"]["loss6"] > got["easy"]["loss6"]
    assert got["hard"]["weight"] > got["easy"]["weight"]
    # linear-Hedge bound: w_T <= 1.2^10 * w_0, so max weight < 6.2x uniform
    assert got["hard"]["weight"] < 0.9


def test_hashed_ngram_buckets_np_row_identical(spark):
    # r11: the vectorized per-doc DSIR feature table must equal the
    # declarative explode+md5+groupBy rows exactly (including empty /
    # NULL / single-token docs and Java-\s tokenization).
    from rag_content_spark.operators.selection import (
        hashed_ngram_buckets,
        hashed_ngram_buckets_np,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox"),
        (3, "single"),
        (4, ""),
        (5, None),
        (6, "nb\xa0sp and\ttabs\nnewlines"),
        (7, "a a a b b c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    old = sorted(
        map(tuple, hashed_ngram_buckets(df, buckets=64).collect())
    )
    new = sorted(
        map(tuple, hashed_ngram_buckets_np(df, buckets=64).collect())
    )
    assert old == new and len(new) > 10
