"""SparkSession factory with scale-oriented defaults.

The reference has no session concept (process-global llama-index Settings,
reference document_processor.py:107-129). Here all run configuration is
explicit; these defaults are what we would ship to a 1000-executor cluster
(AQE on, skew-join handling on), shrunk only by ``shuffle_partitions`` for
local testing.

Python workers fork from this package's own daemon,
:mod:`rag_content_spark.pyworker`, set as ``spark.python.daemon.module``.
It is PySpark's daemon plus one guard: before every task PySpark calls
``importlib.invalidate_caches()``, which before Python 3.13 makes each
``zipimporter`` over ``pyspark.zip`` re-read the whole archive
directory, ~200 ms of worker CPU per task however small the task. The
guard keeps the directory of an archive that has not changed. Python
3.13 re-reads lazily on its own; once the engine runs only on 3.13 or
later, the daemon module and its conf line can go. The workers find the
daemon module, and the functions this package ships to them, through
the package's parent directory, put on their ``PYTHONPATH``, so a
driver may run from any cwd.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

import rag_content_spark

_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(rag_content_spark.__file__))
)


def get_spark(
    app_name: str = "rag-content-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    AQE handles runtime coalescing and skew joins; the static shuffle
    partition count is only the upper bound AQE works under.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true). r11 tried
        # false (the Spark-docs recommendation for large batch jobs):
        # a single-query microbench improved (minhash_pairs warm median
        # 2.15 -> 1.65 s), but the full-suite interleaved A/B showed a
        # median 1.14x REGRESSION across untouched queries — with
        # advisory-sized coalescing, small shuffles collapse to one
        # reducer and every aggregation/window with non-trivial
        # reduce-side compute serializes. At 100 TB shuffle bytes dwarf
        # the advisory size so the flag is near-moot there; locally the
        # parallelism-first default wins. See OPTIMIZATION_r11.md.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r11: PySpark's DataFrame-debugging origin capture wraps every
        # DataFrame/Column API call with getActiveSession + a JVM
        # PySparkCurrentOrigin.set/clear round-trip pair + a Python
        # stack capture — pure per-call driver overhead (guide §5: the
        # driver should do almost no work; cProfile showed plan
        # CONSTRUCTION at ~55% of the warm suite, hundreds of py4j
        # round-trips per query build). Disabling it only drops the
        # user-code call-site line from error messages; Spark's own
        # error classes and stack traces are unchanged.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # naive timestamps mean UTC everywhere (parquet TIMESTAMP_NTZ ->
        # epoch math must not depend on the machine's zone)
        .config("spark.sql.session.timeZone", "UTC")
        # parquet TIMESTAMP(NANOS) columns read as BIGINT nanos instead of
        # erroring — session-wide reader policy (see ensure_reader_confs)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # file sources: one task per ~128MB split at scale
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Python workers fork from this package's daemon (see the module
        # docstring); the daemon imports from the package's parent
        # directory, whatever the driver's cwd
        .config("spark.python.daemon.module", "rag_content_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def warm_python_workers(spark: SparkSession, partitions: int | None = None) -> None:
    """Prime the Python-worker pool: start the pyspark daemon, fork one
    worker per core, and pre-import pandas/pyarrow/numpy plus this
    package inside each worker.

    On a real cluster this cost is paid once per long-lived executor,
    not per job — local[N] pays it on the FIRST Python-stage job of a
    fresh session instead (measured on a 4-CPU box, local[4]: ~3.6 s of
    wall and ~9 s of CPU for a trivial 32-partition mapInPandas, then
    ~0.7 s for the first 4-row embed stage; 4.7-5.5 s, 14-18 s and
    0.9-1.0 s before the workers kept pyspark.zip's directory, see
    :mod:`rag_content_spark.pyworker`). Calling this at session-bootstrap
    time moves that one-time cost out of per-job measurements, mirroring the
    steady-state a 1000-executor deployment actually runs in. The warm
    plan chains a mapInPandas eval with a pandas-UDF eval so BOTH
    worker slots of a chained-Python-stage task are forked and warmed.
    """
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    sc = spark.sparkContext
    n = partitions or sc.defaultParallelism

    def _w(batches):
        import rag_content_spark.embedding.mock  # noqa: F401 (warm the package in the worker)

        for pdf in batches:
            yield pdf

    def _id_fn(v):
        import rag_content_spark.embedding.mock  # noqa: F401

        return v

    # real type objects, not strings: `from __future__ import
    # annotations` would leave inline hints unresolvable for pandas_udf
    _id_fn.__annotations__ = {"v": pd.Series, "return": pd.Series}
    _id = pandas_udf(_id_fn, "long")

    (
        spark.range(n * 4, numPartitions=n)
        .mapInPandas(_w, "id long")
        .select(_id("id"))
        .count()
    )

    # warm the parquet write/read path too (output committer, zstd
    # codec native load, vectorized reader init — measured ~0.7 s of
    # one-time class-loading on this box)
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="spark_warm_")
    try:
        p = os.path.join(tmp, "warm.parquet")
        spark.range(1000).withColumn("v", F.rand(7)).write.mode(
            "overwrite"
        ).parquet(p)
        spark.read.parquet(p).agg(
            F.count(F.lit(1)), F.count_distinct("id")
        ).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def ensure_reader_confs(spark: SparkSession) -> None:
    """Apply this engine's session-wide reader policy to a session NOT
    built by :func:`get_spark` (e.g. a harness-created one).

    Policy (same values the builder sets, documented here as THE place
    they live): parquet TIMESTAMP(NANOS) columns are read as BIGINT
    nanoseconds (``spark.sql.legacy.parquet.nanosAsLong``) — every
    reader in this package normalizes time to integer epoch seconds, so
    the bigint representation is the one our time math expects. This is
    an explicit engine-level contract, not a per-query side effect: any
    code sharing the session reads nanos-timestamp parquet under the
    same rule.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
