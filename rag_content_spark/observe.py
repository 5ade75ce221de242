"""Pipeline metrics taken during actions a pipeline already runs.

``DataFrame.observe`` attaches aggregates to a plan, and Spark fills
them while the first action over that plan executes. A stage's row
count or a bucket-size summary then costs no job of its own, where a
``.count()`` or a ``collect()`` of a side aggregate would run the
stage's lineage again.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Observation, functions as F


def observe(
    df: DataFrame, *aggs: Column, name: str | None = None
) -> tuple[DataFrame, Callable[[], dict[str, Any]]]:
    """Compute the aggregate columns ``aggs`` over ``df``'s rows during
    the first action that runs it.

    Returns ``(observed, get)``. ``observed`` must replace ``df`` in the
    plan. ``get()`` returns ``{alias: value}`` once an action over
    ``observed`` has finished; before that it blocks. The action must
    consume every row (a write, an aggregate, an eager checkpoint, a
    broadcast build), never a ``limit``.

    Exact fallback: when a join side comes back empty, AQE can replace
    the subtree holding the observation by an empty relation. Spark then
    has no metrics row for it, and reading the observation fails with an
    ``AssertionError`` from ``toPyRow``. ``get()`` then computes the same
    aggregates with ``df.agg(*aggs)``: one job over ``df``'s lineage.
    """
    from py4j.protocol import Py4JJavaError

    obs = Observation(name) if name else Observation()
    observed = df.observe(obs, *aggs)

    def get() -> dict[str, Any]:
        try:
            return dict(obs.get)
        except Py4JJavaError as exc:
            if exc.java_exception.getClass().getName() != "java.lang.AssertionError":
                raise
            return df.agg(*aggs).collect()[0].asDict()

    return observed, get


def observe_count(
    df: DataFrame, name: str | None = None
) -> tuple[DataFrame, Callable[[], int]]:
    """:func:`observe` of ``df``'s row count: ``(observed, count)``,
    where ``count()`` is exact like ``df.count()``."""
    observed, get = observe(df, F.count(F.lit(1)).alias("n"), name=name)
    return observed, lambda: get()["n"]
