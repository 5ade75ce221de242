"""Quality classifier: the GPT-3/LLaMA-style "looks like the reference
corpus" filter — a linear classifier over hashed n-gram features,
trained on (positive = trusted corpus, negative = raw crawl) and used
to score every crawl document.

Idiomatic Spark ML: `HashingTF` (the same hashed bag-of-ngrams feature
space DSIR uses, JVM-side) into `LogisticRegression` (distributed
L-BFGS). Training is iterative and optimizer-dependent, so this
operator is test-verified (separation/accuracy on labeled data), not
oracle-hashed — the deterministic scoring twin for oracle purposes is
DSIR (operators/selection.py), which shares the feature space.

Scale: featurization is a narrow map; each L-BFGS iteration is one
tree-aggregated gradient pass (MLlib's standard shape); scoring is a
broadcast of the coefficient vector. Train on a SAMPLE (a classifier
needs ~10^5-10^6 docs, not the corpus), score everything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rag_content_spark.functions.text import tokens


def _featurize(docs: DataFrame, text_col: str, buckets: int) -> DataFrame:
    from pyspark.ml.feature import HashingTF

    with_tokens = docs.withColumn("_tok", tokens(text_col))
    tf = HashingTF(inputCol="_tok", outputCol="features", numFeatures=buckets)
    return tf.transform(with_tokens).drop("_tok")


def train_quality_classifier(
    positive: DataFrame,
    negative: DataFrame,
    text_col: str = "text",
    buckets: int = 4096,
    max_iter: int = 50,
    reg_param: float = 1e-3,
):
    """Fit the linear quality classifier; returns the fitted
    LogisticRegressionModel (coefficients broadcast at scoring time),
    without its training summary.

    Scoring ships the model to the executors inside a UDF closure, and
    a training summary holds the SparkSession. Once the session has run
    an ``Observation`` (:mod:`rag_content_spark.observe`), the session
    no longer serializes (Spark 4.1's ``ObservationManager``), and
    scoring a model that keeps its summary fails with "Task not
    serializable"."""
    from pyspark.ml.classification import LogisticRegression

    train = _featurize(
        positive.select(F.col(text_col), F.lit(1.0).alias("label")).unionByName(
            negative.select(F.col(text_col), F.lit(0.0).alias("label"))
        ),
        text_col,
        buckets,
    )
    lr = LogisticRegression(
        featuresCol="features",
        labelCol="label",
        maxIter=max_iter,
        regParam=reg_param,
    )
    model = lr.fit(train)
    # setSummary is package-private in Scala, public to py4j
    jvm = train.sparkSession.sparkContext._jvm
    model._java_obj.setSummary(jvm.scala.Option.empty())
    return model


def score_quality(
    docs: DataFrame,
    model,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
) -> DataFrame:
    """(id, quality_prob) — P(doc looks like the trusted corpus).

    The GPT-3 recipe then keeps a doc if
    ``quality_prob > 1 - np.random.pareto(alpha)`` (stochastic keep that
    retains some low-scoring docs); a deterministic variant uses the
    Gumbel machinery from dsir_select with quality_prob as the weight.
    """
    from pyspark.ml.functions import vector_to_array

    feats = _featurize(docs.select(id_col, text_col), text_col, buckets)
    scored = model.transform(feats)
    prob1 = F.element_at(vector_to_array(F.col("probability")), 2)
    return scored.select(F.col(id_col), prob1.alias("quality_prob"))
