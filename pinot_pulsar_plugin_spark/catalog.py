"""Catalog: load the driver's testdata parquet tables as DataFrames/views.

Tables (see TESTDATA.md / FIXTURES.md): region nation customer supplier
part orders lineitem events documents embeddings — one parquet per table
under an ``sf_dir`` such as ``/root/testdata/sf0.01``.

Reads are plain ``spark.read.parquet`` so Catalyst gets predicate
pushdown, column pruning and partition pruning for free; at 100 TB the
same call simply points at a partitioned directory tree.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir, name: str) -> str:
    # str() so callers may pass pathlib.Path (spark.read wants str)
    return os.path.join(str(sf_dir), f"{name}.parquet")


# (applicationId, sf_dir, table) -> DataFrame. Memoizes the PLAN HANDLE
# only — ``spark.read.parquet`` re-reads the parquet footers for schema
# inference on every call (~90 ms/table measured warm at sf0.1), and the
# engine's queries call load_table 1-5× each, every time they are built.
# The cached object is an unexecuted DataFrame: every action against it
# still scans the parquet files, so no data or results are ever reused —
# this is the same lifetime a register_views()/catalog-table setup gives
# the schema, applied to the path-based API. At 100 TB the saved work is
# the driver-side footer/listing pass per query build (guide §6: file
# listing is driver work; table formats cache it for exactly this
# reason). Keyed by applicationId so a restarted JVM never serves stale
# handles; the memo resets when the application changes. (State lives on
# a class, not a module-level dict: the impl-hash ledger content-hashes
# module-level literals of infra modules, and a mutating cache would
# destabilize the digest.)
#
# ASSUMPTION (ADVICE r13 #3): an sf_dir is immutable for the lifetime of
# one application. spark.read.parquet resolves the file listing at
# DataFrame creation, so regenerating the parquet under a memoized
# sf_dir within one application would read stale/deleted files. No
# engine path rewrites testdata in-session; a fixture that must do so
# should call invalidate_plan_memo() after rewriting.
class _PlanMemo:
    by_key: dict = {}  # (appId, sf_dir, table) -> DataFrame
    app: str | None = None


def invalidate_plan_memo() -> None:
    """Forget every memoized table handle, so the next load_table call
    re-lists and re-reads the parquet footers."""
    _PlanMemo.by_key.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    app = spark.sparkContext.applicationId
    if _PlanMemo.app != app:
        invalidate_plan_memo()
        _PlanMemo.app = app
    key = (app, str(sf_dir), name)
    got = _PlanMemo.by_key.get(key)
    if got is not None:
        return got
    if name == "events":
        # events.ts was parquet TIMESTAMP(NANOS) in early testdata drops,
        # which Spark rejects unless nanos are read as long. Runtime-
        # settable SQL conf, so set it here too — the caller's session
        # (e.g. the verify driver's) may not have gone through
        # session.get_spark().
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Time columns carry no tz flag; read them as TimestampType (UTC
    # instants — the session tz is pinned UTC, so wall-clocks match the
    # DuckDB oracle's naive timestamps), never TIMESTAMP_NTZ, which
    # unix_micros()/window() reject.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # parquet TIMESTAMP(NANOS) read as nanos-since-epoch long (see
        # session.py nanosAsLong); truncate to micros — the same thing
        # DuckDB's ts::TIMESTAMP cast does — and restore TimestampType.
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    _PlanMemo.by_key[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view; return the frames."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
