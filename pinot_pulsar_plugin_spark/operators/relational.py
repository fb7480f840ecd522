"""Core relational operators: scan/filter/project, joins, aggregations.

Spark-first: every query is a declarative DataFrame plan so Catalyst
applies predicate pushdown, column pruning, join selection (broadcast
for small dims), partial+final aggregation and AQE. Nothing here drops
to RDDs or Python UDFs.

Scale notes (100 TB design point):
- Dim tables (region/nation/customer/supplier/part) are broadcast-joined
  — no shuffle of the fact side. Catalyst picks this automatically under
  ``autoBroadcastJoinThreshold``; we hint explicitly where the dim is
  guaranteed small.
- Fact-fact joins (orders⋈lineitem) shuffle on the join key; AQE
  coalesces/splits post-shuffle partitions at runtime.
- Aggregates use map-side partial aggregation (Catalyst default), so
  shuffle volume is #groups × #partitions, not #rows.

The reference's only analog of this layer is the decode-time projection
(`fieldsToRead`, PulsarJSONMessageDecoder.java:48) — everything else is
engine scope per SURVEY.md §2.B.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pinot_pulsar_plugin_spark.functions.exact import (
    exact_avg,
    exact_avg_sql,
    exact_avg_wide,
    exact_sum,
    exact_sum_sql,
    exact_sum_wide,
)
from pinot_pulsar_plugin_spark.operators.common import make_registry, t

QUERIES, ORACLE, query = make_registry()

_DISC_PRICE = "l_extendedprice * (1 - l_discount)"
_CHARGE = "l_extendedprice * (1 - l_discount) * (1 + l_tax)"


@query(
    "q01_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {exact_sum_sql("l_quantity", "sum_qty")},
           {exact_sum_sql("l_extendedprice", "sum_base_price")},
           {exact_sum_sql(_DISC_PRICE, "sum_disc_price")},
           {exact_sum_sql(_CHARGE, "sum_charge")},
           {exact_avg_sql("l_quantity", "avg_qty")},
           {exact_avg_sql("l_extendedprice", "avg_price")},
           {exact_avg_sql("l_discount", "avg_disc")},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary (flagship; SURVEY.md §7 phase 1).

    Scan → pushed-down timestamp filter → hash agg (partial+final) →
    sort. One shuffle (by the 2 group keys), one tiny sort.

    100-TB arithmetic (r11 audit, SCALING.md §7): the 6 groups are
    FIXED grain, so each holds ~1e11 rows at the design point —
    sum_base_price measures ~3.6e19 in d=4 fixed point, past int64.
    All sums/avgs use the DECIMAL(38,0) wide accumulator; values are
    identical wherever the long form doesn't overflow.

    Scale shape: the shipdate predicate reaches PushedFilters with a
    pruned ReadSchema, and the partial aggregate combines map-side, so
    the one data shuffle is #groups·#partitions rows. At 100 TB only
    the scan parallelism grows.
    """
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum_wide(F.col("l_quantity"), "sum_qty"),
            exact_sum_wide(F.col("l_extendedprice"), "sum_base_price"),
            exact_sum_wide(disc_price, "sum_disc_price"),
            exact_sum_wide(charge, "sum_charge"),
            exact_avg_wide(F.col("l_quantity"), "avg_qty"),
            exact_avg_wide(F.col("l_extendedprice"), "avg_price"),
            exact_avg_wide(F.col("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q02_filter_predicates",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderstatus IN ('F', 'P')
      AND o_totalprice BETWEEN 50000 AND 300000
      AND (o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%')
      AND NOT (o_custkey = 0)
      AND o_orderdate IS NOT NULL
    """,
)
def q02_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicates: IN / BETWEEN / LIKE / NOT / IS NULL — all
    pushed to the parquet scan by Catalyst (check PushedFilters)."""
    o = t(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("F", "P")
        & F.col("o_totalprice").between(50000, 300000)
        & (F.col("o_orderpriority").like("1-%") | F.col("o_orderpriority").like("2-%"))
        & ~(F.col("o_custkey") == 0)
        & F.col("o_orderdate").isNotNull()
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


@query(
    "q03_json_project",
    """
    SELECT event_id, event_type,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    WHERE value > 100.0 AND CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50
    """,
)
def q03_json_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload projection — the engine-side analog of the reference
    decoder's parse+project (PulsarJSONMessageDecoder.java:62-73 restricts
    extraction to `fieldsToRead`; here Catalyst prunes the same way)."""
    e = t(spark, sf_dir, "events")
    k_str = F.get_json_object("props", "$.k")
    return (
        e.withColumn("k_str", k_str)
        .withColumn("k", k_str.cast("int"))
        .filter((F.col("value") > 100.0) & (F.col("k") >= 50))
        .select("event_id", "event_type", "k_str", "k")
    )


@query(
    "q04_join_inner",
    """
    SELECT o.o_orderkey, c.c_name, c.c_mktsegment, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    """,
)
def q04_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join, dim side broadcast (no fact shuffle)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_name", "c_mktsegment", "o_totalprice"
    )


@query(
    "q05_join_left_agg",
    f"""
    SELECT c.c_custkey, c.c_name,
           COUNT(o.o_orderkey) AS n_orders,
           COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) / 100.0, 0.0)
             AS total_spend
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def q05_join_left_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders, then agg.
    COUNT(col) counts non-null (unmatched rows contribute 0)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0,
                F.lit(0.0),
            ).alias("total_spend"),
        )
    )


@query(
    "q06_join_semi",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def q06_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join ≡ EXISTS: emits each customer at most once."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "q07_join_anti",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q07_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join ≡ NOT EXISTS."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "q08_join_broadcast_agg",
    f"""
    SELECT p.p_brand,
           {exact_sum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def q08_join_broadcast_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim with explicit broadcast hint: at 100 TB the `part` dim
    ships to every executor once; the lineitem side never shuffles for
    the join (only the tiny per-brand agg shuffles). Brand is FIXED
    grain (~25 values → ~8e18 per group in d=4 fixed point at 100 TB),
    so the sum takes the wide accumulator (r11 audit)."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            exact_sum_wide(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q09_join_multiway",
    f"""
    SELECT r.r_name, n.n_name,
           {exact_sum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY r.r_name, n.n_name
    """,
)
def q09_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped 5-way star join: dims broadcast down the chain;
    the single big shuffle is orders⋈lineitem on orderkey (AQE handles
    skew). Catalyst reorders the joins; we still write dims-first.

    Scale shape: region→nation→customer collapse into one broadcast
    dim; orders⋈lineitem is the single shuffle join (AQE splits skewed
    partitions at runtime); the aggregation is partial+final."""
    r = t(spark, sf_dir, "region")
    n = t(spark, sf_dir, "nation")
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    cust_dim = c.join(F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
                      F.col("c_nationkey") == F.col("n_nationkey"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust_dim), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("r_name", "n_name")
        # (region, nation) is FIXED grain — ~2.3e18 per group in d=4
        # fixed point at 100 TB → wide accumulator (r11 audit)
        .agg(
            exact_sum_wide(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
    )


@query(
    "q10_join_theta",
    """
    SELECT s.s_suppkey, s.s_name, COUNT(*) AS n_richer_customers
    FROM supplier s JOIN customer c
      ON s.s_nationkey = c.c_nationkey AND c.c_acctbal > s.s_acctbal
    GROUP BY s.s_suppkey, s.s_name
    """,
)
def q10_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + theta (range) join condition: Catalyst equi-joins on
    nationkey and applies the inequality as a post-join filter — the
    scalable shape for mixed conditions (never a raw cross join)."""
    s = t(spark, sf_dir, "supplier")
    c = t(spark, sf_dir, "customer")
    return (
        s.join(
            c,
            (s.s_nationkey == c.c_nationkey) & (c.c_acctbal > s.s_acctbal),
        )
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_richer_customers"))
    )


@query(
    "q11_agg_global",
    f"""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty,
           {exact_sum_sql("l_extendedprice", "sum_price", 2)},
           {exact_avg_sql("l_discount", "avg_disc", 4)}
    FROM lineitem
    """,
)
def q11_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no-group) aggregate: min/max/count/distinct/sum/avg.
    The single group IS the corpus (~2.2e18 in d=2 fixed point at
    100 TB) → wide accumulators (r11 audit)."""
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        exact_sum_wide(F.col("l_extendedprice"), "sum_price", 2),
        exact_avg_wide(F.col("l_discount"), "avg_disc", 4),
    )


@query(
    "q12_agg_distinct_by_group",
    """
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def q12_agg_distinct_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per group — Catalyst expands to a two-phase
    distinct aggregate (partial dedup before shuffle)."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query("q13_agg_approx_distinct")  # no SQL oracle: HLL sketch is engine-specific
def q13_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the Pinot-style sketch
    aggregate. Sketches merge associatively, so this scales to 100 TB
    with constant memory per group. No DuckDB oracle (different sketch);
    driver does the rows-only check, and tests assert ±5% vs exact."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
    )


@query(
    "q14_agg_rollup",
    f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           {exact_sum_sql("l_quantity", "sum_qty")}
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q14_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy: (flag,status) → (flag) → () with NULL fill.
    The () grand total spans the corpus (~1.5e17 in d=4 fixed point
    at 100 TB) → wide accumulator (r11 audit)."""
    li = t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum_wide(F.col("l_quantity"), "sum_qty"),
    )


@query(
    "q15_agg_cube",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           {exact_sum_sql("o_totalprice", "sum_price", 2)}
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q15_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping-set combinations. The () cell spans all
    orders (~2.2e18 in d=2 fixed point at 100 TB) → wide accumulator
    (r11 audit)."""
    o = t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum_wide(F.col("o_totalprice"), "sum_price", 2),
    )


_GROUPING_SETS_SQL = """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@query("q16_grouping_sets", _GROUPING_SETS_SQL)
def q16_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL API (same Catalyst plan as the
    DataFrame rollup/cube expansions)."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_GROUPING_SETS_SQL)


@query(
    "q17_having",
    """
    SELECT c_nationkey, COUNT(*) AS n_customers,
           SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) / 100.0 AS sum_bal
    FROM customer
    GROUP BY c_nationkey
    HAVING COUNT(*) >= 3
    """,
)
def q17_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter)."""
    c = t(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum(F.round(F.col("c_acctbal") * 100).cast("long")) / 100.0).alias(
                "sum_bal"
            ),
        )
        .filter(F.col("n_customers") >= 3)
    )


@query(
    "q18_distinct",
    "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def q18_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT ≡ group-by-all-columns (map-side partial dedup)."""
    return t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


@query(
    "q19_scalar_subquery",
    """
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
    """,
)
def q19_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (broadcast single-row cross join)."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_acctbal FROM customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
        """
    )


@query(
    "q20_in_subquery",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_custkey IN (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
      AND o_orderstatus = 'O'
    """,
)
def q20_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery → Catalyst rewrites to a left-semi join."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_custkey IN (
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
          AND o_orderstatus = 'O'
        """
    )


# --- q113: TPC-H Q19 shape (disjunctive pushdown) -------------------
_Q113_CLAUSES = (
    ("Brand#1", 1, 10, 1, 15),
    ("Brand#2", 10, 25, 10, 25),
    ("Brand#3", 20, 40, 20, 35),
)
_Q113_PRED = " OR ".join(
    f"(p.p_brand = '{b}' AND p.p_size BETWEEN {s0} AND {s1} "
    f"AND l.l_quantity BETWEEN {q0} AND {q1})"
    for b, s0, s1, q0, q1 in _Q113_CLAUSES
)
_Q113 = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
           {exact_sum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE {_Q113_PRED}
"""


@query("q113_disjunctive_revenue", _Q113)
def q113_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue under an OR of conjunctive
    brand/size/quantity clauses) — the classic disjunctive-predicate
    stress: a naive engine evaluates the whole OR post-join; Catalyst
    extracts the common-key equi-join, pushes the per-side residues of
    the disjunction beneath it (``p_brand IN (…)`` + size bounds prune
    part; the union of quantity ranges prunes lineitem BEFORE the
    join), and leaves only the cross-clause residual on the join. The
    part side stays broadcast-sized after pruning; revenue is the
    fixed-point presum so the single output row is bit-equal
    cross-engine.

    100-TB arithmetic bound (r11 audit): the single group is post-
    filter — Q19's conjunctive clauses select ~2e-5 of the fact, so
    the d=4 sum measures ~4e15 at the design point, 2000× inside
    int64; the long accumulator stays.

    Scale shape: both per-side residues reach PushedFilters, so the
    broadcast join probes only candidate rows; the cross-clause
    residual evaluates post-join inside codegen."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    clause = None
    for b, s0, s1, q0, q1 in _Q113_CLAUSES:
        c = (
            (p["p_brand"] == b)
            & p["p_size"].between(s0, s1)
            & li["l_quantity"].between(q0, q1)
        )
        clause = c if clause is None else (clause | c)
    joined = li.join(
        F.broadcast(p), li["l_partkey"] == p["p_partkey"], "inner"
    ).filter(clause)
    return joined.agg(
        F.count(F.lit(1)).alias("n_items"),
        exact_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
        ),
    )


# --- q117: TPC-H Q13 shape (aggregate of an aggregate) --------------
_Q117 = """
    SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey) per_cust
    GROUP BY n_orders
"""


@query("q117_order_count_distribution", _Q117)
def q117_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer distribution): how many customers
    placed exactly N qualifying orders — a LEFT join whose filter lives
    in the JOIN CONDITION (a WHERE would silently drop the zero-order
    customers Q13 exists to count), then an aggregate OF an aggregate.

    Scale shape: the inner count shuffles once on custkey with
    COUNT(col) partial-aggregated map-side; the outer histogram groups
    on the count value itself — #distinct-counts keys, a tiny second
    exchange. The zero bucket rides the null-extended join rows, not a
    separate anti-join pass."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


# --- q118: TPC-H Q7 shape (nation-pair volume, dim aliased twice) ---
_Q118 = f"""
    SELECT supp_nation, cust_nation, l_year,
           {exact_sum_sql("volume", "revenue")}
    FROM (
      SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
      JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
      WHERE ((ns.n_name = 'NATION_12' AND nc.n_name = 'NATION_10')
          OR (ns.n_name = 'NATION_10' AND nc.n_name = 'NATION_12'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00') shipping
    GROUP BY supp_nation, cust_nation, l_year
"""


@query("q118_nation_pair_volume", _Q118)
def q118_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping between two nations by year):
    the same dim table participates TWICE under different aliases
    (supplier's nation and customer's nation) with a symmetric
    pair predicate. All four dims broadcast, so the only fact
    exchanges are the orders⋈lineitem join and the final small
    aggregate; the disjunctive pair filter evaluates after the
    broadcasts where both nation names are in hand. Year extraction
    and fixed-point revenue keep the handful of output rows bit-equal
    cross-engine.

    Scale shape: the shipdate bounds push to the scan; the fact pays
    only the orders join exchange plus the tiny final aggregate."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_12") & (F.col("cust_nation") == "NATION_10")
    ) | (
        (F.col("supp_nation") == "NATION_10") & (F.col("cust_nation") == "NATION_12")
    )
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), s["s_nationkey"] == F.col("ns_key"))
        .join(F.broadcast(nc), c["c_nationkey"] == F.col("nc_key"))
        .filter(pair)
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        # (nation, nation, year) is FIXED grain — ~5e16 per group in
        # d=4 fixed point at 100 TB → wide accumulator (r11 audit)
        .agg(exact_sum_wide(F.col("volume"), "revenue"))
    )
