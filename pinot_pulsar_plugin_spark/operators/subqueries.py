"""Correlated scalar subquery, LATERAL join, grouping_id — the last
subquery/grouping-set surface (Catalyst rewrites all three to joins or
expand nodes; no iterative per-row execution anywhere).
"""

from __future__ import annotations

from pinot_pulsar_plugin_spark.caching import persist_once

from pyspark.sql import DataFrame, SparkSession

from pinot_pulsar_plugin_spark.operators.common import make_registry, t

QUERIES, ORACLE, query = make_registry()

_Q62 = """
    SELECT c.c_custkey, c.c_name,
           (SELECT MAX(o.o_totalprice) FROM orders o
            WHERE o.o_custkey = c.c_custkey) AS max_order
    FROM customer c
"""


@query("q62_correlated_scalar_subquery", _Q62)
def q62_correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — Catalyst de-correlates it into a
    left outer aggregate join (one shuffle on the key), so per-row
    re-execution never happens at any scale."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q62)


_Q63 = """
    SELECT c.c_custkey, top2.o_orderkey, top2.o_totalprice
    FROM customer c
    JOIN LATERAL (
      SELECT o.o_orderkey, o.o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o.o_totalprice DESC, o.o_orderkey
      LIMIT 2
    ) AS top2 ON true
"""


@query("q63_lateral_topk", _Q63)
def q63_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT (top-2 orders
    per customer) — the SQL spelling of q25's window top-k."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q63)


_Q64 = """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@query("q64_grouping_id", _Q64)
def q64_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() indicators distinguish real NULL keys from rollup
    subtotal rows — required for correct OLAP subtotal rendering."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q64)


_Q97 = """
    SELECT s.s_suppkey, s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s.s_suppkey, s.s_name
"""


@query("q97_blocking_supplier", _Q97)
def q97_blocking_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers-who-kept-orders-waiting) on the
    available columns: for finalized multi-supplier orders, count per
    supplier the lineitems where ANOTHER supplier participated (EXISTS)
    but NOBODY shipped later than this supplier (NOT EXISTS) — i.e.
    this supplier closed the order. The value of the query is the
    plan: TWO correlated existential subqueries over the SAME fact
    table that Catalyst must decorrelate into a left-semi and a
    left-anti join on l_orderkey — no per-row re-execution at any
    scale. The three lineitem consumers all touch the same THREE
    columns, so the projection is persisted once
    (MEMORY_AND_DISK — spills, never OOMs) instead of scanning the
    fact parquet three times: measured 1.65s → 0.74s at sf0.1, and at
    100 TB the cached projection is the narrow (orderkey, suppkey,
    shipdate) sliver, the same recompute-avoidance trade d44/m60
    make. The projection registers under a DEDICATED view name — a
    narrowed relation under the canonical "lineitem" would poison any
    later/concurrent query in the same session that trusts the name;
    the Spark-side SQL text is rewritten to it, the oracle keeps the
    canonical table."""
    li = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .transform(persist_once)
    )
    li.createOrReplaceTempView("lineitem_q97proj")
    for name in ("supplier", "orders"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q97.replace(" lineitem l", " lineitem_q97proj l"))


# >15% share of a part's shipped volume (integral-double sums are
# exact, so the 0.15*total comparison is deterministic cross-engine)
_Q98 = """
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_type LIKE 'PROMO%'
      GROUP BY l.l_suppkey, l.l_partkey
      HAVING SUM(l.l_quantity) > (
         SELECT 0.15 * SUM(l2.l_quantity) FROM lineitem l2
         WHERE l2.l_partkey = l.l_partkey))
"""


@query("q98_dominant_part_supplier", _Q98)
def q98_dominant_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers holding a dominant (>15%) share of
    any PROMO part's shipped volume — an IN subquery whose HAVING
    clause contains a correlated scalar AGGREGATE over the fact table,
    correlated on the inner GROUP BY key. The decorrelation stress
    case: Catalyst rewrites the scalar subquery into a per-partkey
    aggregate joined back on the group key, then the IN into a
    left-semi join — three hash aggregates and zero nested loops.
    Quantity sums are integral doubles (exact at any order), so the
    share threshold compares identically on both engines.

    Scale shape: shuffles only on l_partkey, l_suppkey and s_suppkey."""
    for name in ("supplier", "lineitem", "part"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q98)


_Q102 = """
    SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice * 10000) AS BIGINT)) AS DOUBLE)
             / 10000.0 / 7.0 AS avg_weekly_revenue,
           COUNT(*) AS n_small_lots
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#4'
      AND l.l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey)
"""


@query("q102_small_lot_revenue", _Q102)
def q102_small_lot_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): a correlated
    scalar AVG against the same fact table gates the outer rows —
    Catalyst decorrelates it into a per-partkey average joined back on
    the key, so the fact table is read twice and joined once, never
    probed per row. Quantities are integral doubles (exact AVG at any
    sum order) and revenue is a fixed-point sum, so the single output
    row is bit-equal cross-engine."""
    for name in ("lineitem", "part"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q102)


# TPC-H Q22 shape on the available columns: nation keys play the
# phone-prefix country filter. The threshold average is fixed-pointed
# BEFORE comparison — balances become exact cents (ROUND of a
# near-integer double is stable cross-engine) and the predicate
# `bal_cents * n > sum_cents` is pure integer arithmetic, so the
# boundary customers cannot flip on a last-ulp AVG difference between
# engines (the hazard the audit in test_registry_priority exists for).
_Q104_NATION_KEYS = (1, 3, 5, 7, 9, 11, 13)
_Q104_NATIONS = "(" + ", ".join(str(k) for k in _Q104_NATION_KEYS) + ")"

_Q104 = f"""
    WITH eligible AS (
      SELECT c_custkey, c_nationkey,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer WHERE c_nationkey IN {_Q104_NATIONS}),
    thr AS (
      SELECT SUM(bal_cents) AS sum_cents, COUNT(*) AS n_pos
      FROM eligible WHERE bal_cents > 0)
    SELECT e.c_nationkey,
           COUNT(*) AS numcust,
           CAST(SUM(e.bal_cents) AS DOUBLE) / 100.0 AS totacctbal
    FROM eligible e CROSS JOIN thr
    WHERE e.bal_cents * thr.n_pos > thr.sum_cents
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = e.c_custkey)
    GROUP BY e.c_nationkey
"""


@query("q104_inactive_high_balance", _Q104)
def q104_inactive_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers from a
    nation set whose balance beats the positive-balance average but who
    have never ordered — an UNcorrelated scalar-aggregate threshold plus
    a NOT EXISTS anti join, grouped per nation.

    Scale shape: the threshold is a one-row aggregate broadcast into the
    filter (a bounded product, never data x data); the anti join is the
    only customer-cardinality shuffle and orders is projected to its
    join key before exchanging; the final per-nation aggregate is
    map-side combinable. Reference parity: the filter -> aggregate ->
    anti-join composition the reference's Pinot layer answers with a
    star-tree + inverted index is expressed declaratively and lowered by
    Catalyst to broadcast + shuffled-hash joins."""
    from pyspark.sql import functions as F

    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    eligible = cust.filter(
        F.col("c_nationkey").isin(list(_Q104_NATION_KEYS))
    ).select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    thr = eligible.filter(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").alias("sum_cents"), F.count(F.lit(1)).alias("n_pos")
    )
    rich = eligible.crossJoin(F.broadcast(thr)).filter(
        F.col("bal_cents") * F.col("n_pos") > F.col("sum_cents")
    )
    inactive = rich.join(
        orders.select("o_custkey"),
        rich["c_custkey"] == F.col("o_custkey"),
        "left_anti",
    )
    return inactive.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        (F.sum("bal_cents").cast("double") / 100.0).alias("totacctbal"),
    )


_Q103 = """
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
           o.o_totalprice,
           CAST(SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
      SELECT l2.l_orderkey FROM lineitem l2
      GROUP BY l2.l_orderkey
      HAVING SUM(l2.l_quantity) > 180)
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
"""


@query("q103_large_volume_customers", _Q103)
def q103_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): an IN subquery whose
    HAVING aggregates the fact table — rewritten to an aggregate +
    semi join on l_orderkey, then the customer/order enrichment joins.
    The qty-sum threshold compares exact integral sums, so membership
    is deterministic cross-engine (timestamps normalize identically
    in the driver compare)."""
    for name in ("customer", "orders", "lineitem"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q103)


# --- q114: TPC-H Q15 shape (top supplier with ties) -----------------
_Q114_LO, _Q114_HI = "1996-01-01 00:00:00", "1996-04-01 00:00:00"

_Q114 = f"""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000)
                           AS BIGINT)) AS BIGINT) AS rev_fp
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '{_Q114_LO}'
        AND l_shipdate <  TIMESTAMP '{_Q114_HI}'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name,
           CAST(r.rev_fp AS DOUBLE) / 10000.0 AS total_revenue
    FROM supplier s JOIN rev r ON r.l_suppkey = s.s_suppkey
    WHERE r.rev_fp = (SELECT MAX(rev_fp) FROM rev)
"""


@query("q114_top_revenue_supplier", _Q114)
def q114_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier over a shipping quarter, ties
    kept): the view-with-scalar-MAX form, not LIMIT 1 — equal-revenue
    suppliers must all surface, and because per-supplier revenue is an
    integer fixed-point sum the equality against the max is exact on
    both engines (a double revenue could tie on one engine and not the
    other).

    Scale shape: the quarter filter pushes to the scan; the revenue
    aggregate is map-side combinable on l_suppkey; the MAX is a one-row
    broadcast back onto the aggregate (never a second fact scan); the
    supplier join broadcasts the dim. The per-supplier aggregate
    (#suppliers rows, tiny at any scale) is persisted so the fact table
    scans ONCE — the DataFrame API builds two consumers of ``rev``
    (the max and the join) and without materialization each would
    re-scan the fact (the d44 persist rationale applied to a scan)."""
    from pyspark.sql import functions as F

    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(_Q114_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_Q114_HI).cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
            ).cast("long")
        ).alias("rev_fp")
    ).transform(persist_once)
    best = rev.agg(F.max("rev_fp").alias("max_fp"))
    top = rev.crossJoin(F.broadcast(best)).filter(
        F.col("rev_fp") == F.col("max_fp")
    )
    sup = t(spark, sf_dir, "supplier")
    return top.join(
        F.broadcast(sup), top["l_suppkey"] == sup["s_suppkey"], "inner"
    ).select(
        "s_suppkey",
        "s_name",
        (F.col("rev_fp").cast("double") / 10000.0).alias("total_revenue"),
    )


# --- q124: TPC-H Q2 shape (min-cost supplier) -----------------------
# lineitem's integer-cents unit price stands in for partsupp
# supplycost (the testdata has no partsupp table). The unit price is
# exact-cents FLOOR-DIVIDED by the integral quantity — pure integer
# arithmetic on both engines (the t63 rule; a ROUND around the
# quotient would be a cross-engine half-boundary hazard), so the
# correlated MIN equality cannot flip.
_Q124 = """
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 // CAST(ROUND(l_quantity) AS BIGINT)) AS unit_cents
      FROM lineitem
      GROUP BY l_partkey, l_suppkey)
    SELECT p.p_partkey, p.p_brand, s.s_name, n.n_name, c.unit_cents
    FROM part p
    JOIN cost c ON c.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_size BETWEEN 40 AND 45 AND p.p_type LIKE 'PROMO%'
      AND c.unit_cents = (
        SELECT MIN(c2.unit_cents) FROM cost c2
        WHERE c2.l_partkey = p.p_partkey)
"""


@query("q124_min_cost_supplier", _Q124)
def q124_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for each qualifying
    part, the supplier(s) achieving the MINIMUM unit price, with the
    supplier's nation joined on — a correlated scalar MIN over a
    DERIVED relation (the cost CTE), the decorrelation stress Q17's
    q102 doesn't cover (there the correlation targets a base table).
    Catalyst rewrites the subquery into a per-partkey min aggregate of
    the same CTE joined back on the key; ties (two suppliers at the
    same minimum) all surface, and integer cents make the equality
    exact.

    Scale shape: cost is #part×supplier-pairs-sized (bounded by
    distinct pairs, far under lineitem); part's size/type filters push
    to its scan; supplier and nation broadcast."""
    from pyspark.sql import functions as F

    li = t(spark, sf_dir, "lineitem")
    cost = li.select(
        "l_partkey",
        "l_suppkey",
        F.expr(
            "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
            " div CAST(ROUND(l_quantity) AS BIGINT)"
        ).alias("uc"),
    ).groupBy(
        F.col("l_partkey"), F.col("l_suppkey")
    ).agg(F.min("uc").alias("unit_cents")).transform(persist_once)
    best = cost.groupBy(F.col("l_partkey").alias("bp")).agg(
        F.min("unit_cents").alias("best_cents")
    )
    p = t(spark, sf_dir, "part").filter(
        F.col("p_size").between(40, 45) & F.col("p_type").like("PROMO%")
    )
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    out = (
        p.join(cost, cost["l_partkey"] == p["p_partkey"])
        .join(
            best,
            (F.col("bp") == F.col("p_partkey"))
            & (F.col("unit_cents") == F.col("best_cents")),
        )
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
    )
    return out.select("p_partkey", "p_brand", "s_name", "n_name", "unit_cents")
