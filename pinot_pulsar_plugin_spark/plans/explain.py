"""Physical-plan inspection helpers.

Used by tests (and humans) to assert the plans we *want* at scale, not
just plans that pass: filters pushed to the parquet scan, dims
broadcast, shuffle counts bounded. This encodes the 100 TB design
review into CI — a regression that turns a broadcast join into a
sort-merge join or loses a pushed filter fails a test, not a cluster.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def n_shuffles(df: DataFrame) -> int:
    """Count exchange operators in the physical plan (pre-AQE)."""
    return len(re.findall(r"^\(\d+\) Exchange", formatted_plan(df), re.MULTILINE))


def codegen_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "codegen"
    )


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section of the scan node(s)."""
    return "\n".join(re.findall(r"PushedFilters: \[[^\]]*\]", formatted_plan(df)))


def codegen_compiles(spark) -> int:
    """Generated-code classes Spark has compiled in this JVM so far.

    Reads the count of Spark's codegen compile-time histogram, which
    grows by one per class compiled and not per cache hit, so the
    difference across a run is that run's recompilation; a warm
    session whose working set fits the class cache adds 0.
    """
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
