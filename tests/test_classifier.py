"""Linear quality classifier (operators/classifier.py): trains on
trusted-vs-crawl labels, separates held-out docs."""

from pyspark.sql import functions as F


def _corpora(spark):
    goodish = (
        "the retrieval engine ranks documents by relevance score and "
        "returns precise results for the user query with low latency "
    )
    junky = "click here buy now menu login subscribe win prize free offer "
    pos = spark.createDataFrame(
        [(i, goodish + f"variant {i}") for i in range(30)], ["doc_id", "text"]
    )
    neg = spark.createDataFrame(
        [(100 + i, junky + f"promo {i}") for i in range(30)], ["doc_id", "text"]
    )
    return pos, neg


def test_classifier_separates_held_out_docs(spark):
    from rag_content_spark.operators.classifier import (
        score_quality,
        train_quality_classifier,
    )

    pos, neg = _corpora(spark)
    model = train_quality_classifier(pos, neg, buckets=512)
    held_out = spark.createDataFrame(
        [
            (1, "the engine returns relevance results for the query"),
            (2, "click here subscribe free offer win prize now"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["quality_prob"] for r in score_quality(
        held_out, model, buckets=512
    ).collect()}
    assert got[1] > 0.8 > 0.2 > got[2]


def test_classifier_scores_after_an_observation(spark):
    """An Observation run earlier in the session leaves scoring able to
    serialize its task (the model carries no session-holding summary)."""
    from rag_content_spark.observe import observe_count
    from rag_content_spark.operators.classifier import (
        score_quality,
        train_quality_classifier,
    )

    observed, n = observe_count(spark.range(5))
    observed.write.format("noop").mode("overwrite").save()
    assert n() == 5
    pos, neg = _corpora(spark)
    model = train_quality_classifier(pos, neg, buckets=512)
    assert not model.hasSummary
    assert score_quality(pos, model, buckets=512).count() == 30


def test_classifier_scores_are_probabilities(spark):
    from rag_content_spark.operators.classifier import (
        score_quality,
        train_quality_classifier,
    )

    pos, neg = _corpora(spark)
    model = train_quality_classifier(pos, neg, buckets=512)
    scored = score_quality(pos.unionByName(neg), model, buckets=512)
    rows = scored.collect()
    assert len(rows) == 60
    assert all(0.0 <= r["quality_prob"] <= 1.0 for r in rows)
    # training data itself separates
    mean_pos = scored.filter(F.col("doc_id") < 100).agg(
        F.avg("quality_prob")
    ).collect()[0][0]
    mean_neg = scored.filter(F.col("doc_id") >= 100).agg(
        F.avg("quality_prob")
    ).collect()[0][0]
    assert mean_pos > 0.9 > 0.1 > mean_neg
