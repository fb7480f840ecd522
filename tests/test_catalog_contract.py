"""Catalog schema contract: the dtypes every operator assumes, pinned
across all three scale factors.

The r5 testdata regeneration silently changed the parquet time columns
(TIMESTAMP(NANOS) → micros with no tz flag), which a default session
reads as TIMESTAMP_NTZ — breaking unix_micros()/window() in a dozen
operators. This contract catches the NEXT type drift at collection
time instead of deep inside an operator stack trace.
"""

from __future__ import annotations

import os

import pytest

from pinot_pulsar_plugin_spark.catalog import TABLES, load_table

_SF_DIRS = [
    d for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    if os.path.isdir(d)
]

# column → required Spark dtype, per table (subset every operator relies on)
_CONTRACT = {
    "events": {"ts": "timestamp", "event_id": "bigint", "user_id": "bigint",
               "value": "double"},
    "orders": {"o_orderdate": "timestamp", "o_orderkey": "bigint",
               "o_totalprice": "double"},
    "lineitem": {"l_shipdate": "timestamp", "l_quantity": "double",
                 "l_extendedprice": "double"},
    "documents": {"doc_id": "bigint", "text": "string", "lang": "string"},
    "embeddings": {"vec_id": "bigint", "embedding": "array<float>"},
}


@pytest.mark.parametrize("sf_dir", _SF_DIRS)
def test_catalog_dtypes_match_contract(spark, sf_dir):
    for table, cols in _CONTRACT.items():
        dtypes = dict(load_table(spark, sf_dir, table).dtypes)
        for col, want in cols.items():
            got = dtypes.get(col)
            assert got == want, (
                f"{sf_dir}/{table}.{col}: dtype {got!r}, contract wants {want!r} "
                "— testdata regenerated with a different physical type? "
                "See catalog.load_table's NTZ/nanos handling."
            )


@pytest.mark.parametrize("sf_dir", _SF_DIRS)
def test_all_tables_loadable_nonempty(spark, sf_dir):
    for name in TABLES:
        assert load_table(spark, sf_dir, name).limit(1).count() == 1, (
            f"{sf_dir}/{name} unreadable or empty"
        )


def test_invalidate_plan_memo_forgets_table_handles(spark):
    """load_table memoizes one DataFrame per (app, sf_dir, table);
    invalidate_plan_memo() is the hook a fixture calls after rewriting
    testdata, so the next load builds a fresh handle."""
    from pinot_pulsar_plugin_spark.catalog import invalidate_plan_memo

    sf_dir = "/root/testdata/sf0.001"
    first = load_table(spark, sf_dir, "region")
    assert load_table(spark, sf_dir, "region") is first
    invalidate_plan_memo()
    again = load_table(spark, sf_dir, "region")
    assert again is not first
    assert load_table(spark, sf_dir, "region") is again
