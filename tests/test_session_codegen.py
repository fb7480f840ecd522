"""A warm session must not recompile generated code it already compiled.

Spark keeps generated classes in one LRU per JVM, sized by the static
conf ``spark.sql.codegen.cache.maxEntries``. At Spark's default of 100
entries a working set larger than that (the ``query_mix`` benchmark
needs about 275 classes a round) is evicted and recompiled on every
pass. ``session.get_spark`` sizes the cache to the engine's working set.
"""

from __future__ import annotations

from pinot_pulsar_plugin_spark.plans.explain import codegen_compiles
from pinot_pulsar_plugin_spark.session import CODEGEN_CACHE_ENTRIES, get_spark

# Each projection compiles two classes (the whole-stage class and its
# output projection), so 80 of them need 160 entries: more than the
# default bound, far fewer than the engine's.
_N_PROJECTIONS = 80


def _projection_pass(spark) -> int:
    before = codegen_compiles(spark)
    for i in range(_N_PROJECTIONS):
        spark.range(8).selectExpr(f"id * {i} + {i + 1} AS x").write.format(
            "noop"
        ).mode("overwrite").save()
    return codegen_compiles(spark) - before


def test_second_pass_compiles_nothing(spark):
    first = _projection_pass(spark)
    second = _projection_pass(spark)
    assert first > 0  # the counter does count this session's compiles
    assert second == 0, f"warm pass recompiled {second} classes (first pass {first})"


def test_second_get_spark_keeps_session_and_bound(spark):
    again = get_spark()
    assert again is spark
    assert again.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
