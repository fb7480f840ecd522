"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads,
single JVM); the configuration below is nonetheless written for a real
multi-executor cluster at ~100 TB:

- AQE on (runtime shuffle coalescing, skew-join splitting) so the same
  declarative plans survive a 1000× scale-up without hand-tuned partition
  counts.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster AQE's coalescing makes the initial number a ceiling, not a
  commitment.
- Session timezone pinned to UTC so results are comparable with the
  DuckDB oracle (and portable across clusters).
- Arrow enabled for every Python<->JVM hop (pandas UDFs, toPandas).
- Spark's generated-code class cache (one LRU per JVM) holds 2048
  classes instead of Spark's default 100, which is smaller than the
  engine's working set. Measured on 4 cores: one round of the 13
  ``perfbench`` ``query_mix`` queries compiles 274 classes, so at 100
  entries every warm round recompiled about 240 of them (8-9 s a
  round, against 6-8 s with the larger bound and 0-16 compiles). The
  107 headline queries at sf0.01 compile about 1,800 classes in a
  first pass; a second pass in the same session recompiled 1,930 at
  100 entries and 143 at 2048 (66 s vs 40 s). 2048 holds that set and
  is still a bound, so a session that runs the whole registry evicts
  instead of piling classes up. Metaspace after the headline pass was
  the same at either bound (196 vs 194 MB). The conf is static and
  read once per JVM, at the first compile; a second ``get_spark`` in
  the same process reuses the session and keeps it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Generated-code classes kept per JVM (module docstring).
CODEGEN_CACHE_ENTRIES = 2048


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "pinot_pulsar_plugin_spark",
    *,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``driver_memory`` only takes effect if the JVM is not yet started.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Joins (optimization guide §3.1): let the planner pick
        # shuffled-hash over sort-merge when its size conditions hold
        # (skips the per-partition sorts), and let AQE rewrite a
        # planned sort-merge to shuffled-hash at runtime when every
        # post-shuffle partition is under the threshold. Both knobs are
        # env-parameterised: SHJ trades the sort for a per-partition
        # hash build, so a cluster with lean executor memory can set
        # SPARK_GRAFT_PREFER_SORTMERGE=true /
        # SPARK_GRAFT_SHJ_THRESHOLD=0 to restore the spill-graceful
        # default. Local A/B at sf0.1 in OPTIMIZATION_r13.md.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SORTMERGE", "false"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "64m"),
        )
        # r13 (guide §7.3 driver-side serial overhead): the PySpark
        # DataFrame-debugging origin capture does ~3 py4j round trips
        # per DataFrame method (conf.get + PySparkCurrentOrigin
        # set/clear) purely to decorate error messages with the Python
        # call site. Measured over the 107 headline builds at sf0.1:
        # 16.4 s → 11.7 s of per-sample construction time. Diagnostic
        # only — no query result or plan depends on it; flip
        # SPARK_GRAFT_DF_DEBUG=true to restore call-site-annotated
        # errors when developing.
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            os.environ.get("SPARK_GRAFT_DF_DEBUG", "false"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.ts is parquet TIMESTAMP(NANOS); read as long then convert
        # (catalog.load_table) — Spark has no nanos timestamp type.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # testdata timestamp columns are micros with no tz flag; read them
        # as TimestampType (UTC instants — session tz is pinned UTC, so
        # wall-clocks match the DuckDB oracle's naive timestamps), not
        # TIMESTAMP_NTZ, which unix_micros/window() reject.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
        # managed tables (bucketed-join tests, scratch marts) land in
        # tmp, never the repo
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if driver_memory:
        builder = builder.config("spark.driver.memory", driver_memory)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
