"""Advanced relational surface: percentiles, deterministic sampling,
TPC-H-Q3 shape, Arrow-vectorized UDF, full-outer/cross joins,
quantified subqueries, FILTER-clause aggregates, ordered string_agg.
"""

from __future__ import annotations

from pinot_pulsar_plugin_spark.caching import persist_once

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pinot_pulsar_plugin_spark.functions.exact import (
    exact_sum,
    exact_sum_sql,
    exact_sum_wide,
)
from pinot_pulsar_plugin_spark.functions.hashing import knuth_bucket
from pinot_pulsar_plugin_spark.functions.shingles import in_row_pairs
from pinot_pulsar_plugin_spark.operators.common import make_registry, t

QUERIES, ORACLE, query = make_registry()


@query(
    "q43_percentiles",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
           ROUND(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
           ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95_price,
           MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q43_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``, both linear interpolation). The streaming/
    approximate twin is ``percentile_approx`` (see q13's rows-only
    pattern for sketch aggregates)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50_qty"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 6).alias("p90_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 6).alias("p95_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


@query(
    "q44_deterministic_sample",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE ((o_orderkey % 100) * 2654435761) % 100 < 10
    """,
)
def q44_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic hash sample (Knuth multiplicative hash on the
    key) — reproducible across engines and runs, unlike TABLESAMPLE.
    At 100 TB this is a scan-side filter: no shuffle, prunes early.

    r11 audit: the key ring-reduces BEFORE the multiply
    (functions/hashing.py) — ((k % B)·M) % B ≡ (k·M) % B exactly,
    where the raw product overflows int64 past k ~ 3.47e9 on BOTH
    engines (DuckDB's BIGINT multiply is overflow-checked too — no
    int128 promotion for products — so the oracle carries the same
    reduction)."""
    o = t(spark, sf_dir, "orders")
    return o.filter(knuth_bucket(F.col("o_orderkey"), 100) < 10).select(
        "o_orderkey", "o_totalprice"
    )


@query(
    "q45_shipping_priority",
    f"""
    SELECT l.l_orderkey,
           {exact_sum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q45_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped shipping priority: filtered star join → grouped
    revenue → global top-10. Customer dim broadcasts; exact-cents
    revenue makes the LIMIT deterministic cross-engine.

    Scale shape: both timestamp filters reach PushedFilters, and
    TakeOrderedAndProject replaces a global sort — each task keeps 10
    rows, the driver merges."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q46_pandas_udf_scalar",
    """
    SELECT doc_id,
           replace(lower(source), 'src', 'source-') AS source_slug,
           CAST(length(text) AS INTEGER) AS n_chars
    FROM documents
    """,
)
def q46_pandas_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas UDF (the sanctioned slow path:
    one Arrow batch per invocation, ~10-100× row-at-a-time UDFs). The
    oracle replays the same transform in SQL, verifying the Arrow
    round-trip byte-for-byte. Defined as a closure → pickled by value
    (executors need no installed package)."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def slugify(s):  # type: ignore[no-untyped-def]
        return s.str.lower().str.replace("src", "source-", regex=False)

    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        slugify(F.col("source")).alias("source_slug"),
        F.length("text").alias("n_chars"),
    )


@query(
    "q47_join_full_outer",
    """
    SELECT n.n_nationkey, n.n_name, s.s_suppkey, s.s_name
    FROM nation n FULL OUTER JOIN supplier s ON n.n_nationkey = s.s_nationkey
    """,
)
def q47_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer equi-join (null-extended on both sides)."""
    n = t(spark, sf_dir, "nation")
    s = t(spark, sf_dir, "supplier")
    return n.join(s, n.n_nationkey == s.s_nationkey, "full_outer").select(
        "n_nationkey", "n_name", "s_suppkey", "s_name"
    )


@query(
    "q48_cross_join",
    """
    SELECT r.r_name, st.o_orderstatus
    FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) st
    """,
)
def q48_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join of two tiny inputs (the only sane cross join
    shape at scale: both sides bounded, result |A|x|B| known small)."""
    r = t(spark, sf_dir, "region").select("r_name")
    st = t(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(st)


@query(
    "q49_quantified_subquery",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice > (SELECT MAX(o_totalprice) * 0.95 FROM orders)
    """,
)
def q49_quantified_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """> ALL(...) expressed as > MAX(...) (Spark SQL's supported form of
    quantified comparison; identical semantics on non-null data)."""
    for name in ("orders",):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice > (SELECT MAX(o_totalprice) * 0.95 FROM orders)
        """
    )


@query(
    "q50_filter_clause_agg",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n_all,
           COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
           COUNT(*) FILTER (WHERE o_orderpriority LIKE '1-%') AS n_urgent
    FROM orders GROUP BY o_orderstatus
    """,
)
def q50_filter_clause_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation via the FILTER clause (one scan, many
    predicated counts — the OLAP dashboard staple)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus,
               COUNT(*) AS n_all,
               COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
               COUNT(*) FILTER (WHERE o_orderpriority LIKE '1-%') AS n_urgent
        FROM orders GROUP BY o_orderstatus
        """
    )


@query(
    "q51_string_agg_ordered",
    """
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey
    """,
)
def q51_string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: collect_list is unordered in a
    distributed engine, so determinism requires an explicit sort —
    array_sort(collect_list(...)) ≡ string_agg(... ORDER BY)."""
    n = t(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
    )


@query(
    "q84_bloom_semi_prune",
    """
    SELECT l_suppkey,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem
    WHERE l_suppkey IN (
      SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_7')
    GROUP BY l_suppkey
    """,
)
def q84_bloom_semi_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join accelerated by a broadcast Bloom prefilter
    (functions/bloom.py) — the runtime-filter / DPP analog Spark's
    Python API doesn't expose. The build side (suppliers of one
    nation) reduces to an 8192-bit bitset via a distributed bit_or
    aggregate; the probe is a pure-JVM literal-bitset predicate applied
    AT THE FACT SCAN, so at 100 TB ~96% of lineitem rows (24/25
    nations) are dropped inside whole-stage codegen before the join
    shuffle ever sees them. False positives (~0.4%) are removed by the
    real broadcast semi join that follows, so the result — and the
    oracle — is exactly the plain semi join."""
    from pinot_pulsar_plugin_spark.functions.bloom import build_bloom, might_contain

    n = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    s = (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    bits = build_bloom(s, "s_suppkey")
    li = t(spark, sf_dir, "lineitem").filter(might_contain(bits, "l_suppkey"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey, "semi")
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
        )
    )


@query(
    "q87_bloom_subquery_prune",
    f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           {exact_sum_sql("o_totalprice", "total_price")}
    FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    GROUP BY o_orderpriority
    """,
)
def q87_bloom_subquery_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q84's big sibling: the SCALABLE Bloom path. q84's literal probe
    embeds the bitset in the expression tree, which caps m_bits at
    ~8192 before plan text/compile time blows up; a 100 TB runtime
    filter wants millions of bits. Here the bitset is built fully
    distributed (``build_bloom_df`` — zero driver collect) and probed
    through a scalar subquery (``might_contain_subquery``), the exact
    shape Catalyst's InjectRuntimeFilter emits: the plan carries only a
    subquery node, Spark evaluates the one-row bitset relation once and
    broadcasts the value into the codegen'd scan filter. m_bits=2^20
    here — 128× past the literal cap — and the plan stays compact
    (gated in tests/test_plan_quality.py). False positives are removed
    by the real broadcast semi join, so the oracle is the plain semi
    join."""
    from pinot_pulsar_plugin_spark.functions.bloom import (
        build_bloom_df,
        might_contain_subquery,
    )

    m_bits = 1 << 20
    c = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    bloom = build_bloom_df(c, "c_custkey", m_bits)
    o = t(spark, sf_dir, "orders").filter(
        might_contain_subquery(bloom, "o_custkey", m_bits)
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "semi")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # priority is FIXED grain (5 values) — ~4.5e19 per group
            # in d=4 fixed point at 100 TB → wide accumulator (r11)
            exact_sum_wide(F.col("o_totalprice"), "total_price"),
        )
    )


def _audit_branch(child: DataFrame, parent: DataFrame, on, label: str) -> DataFrame:
    return (
        child.join(parent, on, "anti")
        .agg(F.count(F.lit(1)).alias("n_bad"))
        .select(F.lit(label).alias("check"), "n_bad")
    )


@query(
    "q85_referential_audit",
    """
    SELECT 'lineitem_orphan_order' AS check, (SELECT COUNT(*) FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_bad
    UNION ALL
    SELECT 'lineitem_orphan_part', (SELECT COUNT(*) FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem_orphan_supplier', (SELECT COUNT(*) FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'order_orphan_customer', (SELECT COUNT(*) FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer_no_orders', (SELECT COUNT(*) FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
    UNION ALL
    SELECT 'part_never_ordered', (SELECT COUNT(*) FROM part p
      WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey))
    UNION ALL
    SELECT 'supplier_never_used', (SELECT COUNT(*) FROM supplier s
      WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey))
    """,
)
def q85_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphaned children (FK rows whose
    parent is missing) and childless parents (dims never referenced) as
    one summary table — the data-quality gate a warehouse runs after
    every load. Each branch is an anti join; the distinct-key side
    broadcasts where small, and every count is a partial-aggregated
    scalar.

    Scan economics (audited r8): the plan shows one scan per BRANCH,
    not per table (lineitem 5×, orders 3×) — but each is a
    column-pruned single-key read, and that is the cheaper shape at
    100 TB: a fused single-pass form (one fact read chained through
    three joins carrying all flags) would ship the full fact through
    three differently-keyed exchanges, while the per-branch form
    shuffles only the 8-byte key column per check. Pruned re-reads are
    cheaper than wide re-shuffles; deliberate, kept."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    p = t(spark, sf_dir, "part")
    s = t(spark, sf_dir, "supplier")
    branches = [
        _audit_branch(li, o, li.l_orderkey == o.o_orderkey, "lineitem_orphan_order"),
        _audit_branch(li, p, li.l_partkey == p.p_partkey, "lineitem_orphan_part"),
        _audit_branch(li, s, li.l_suppkey == s.s_suppkey, "lineitem_orphan_supplier"),
        _audit_branch(o, c, o.o_custkey == c.c_custkey, "order_orphan_customer"),
        _audit_branch(c, o, c.c_custkey == o.o_custkey, "customer_no_orders"),
        _audit_branch(p, li, p.p_partkey == li.l_partkey, "part_never_ordered"),
        _audit_branch(s, li, s.s_suppkey == li.l_suppkey, "supplier_never_used"),
    ]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionAll(b)
    return out


# ---------------------------------------------------------------------------
# q109: market-basket brand co-occurrence (association mining)
# ---------------------------------------------------------------------------

_BASKET_MIN_BOTH = 5  # support floor: pairs seen in >= 5 orders


@query(
    "q109_basket_cooccurrence",
    f"""
    WITH basket AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    n AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM basket),
    item AS (SELECT brand, COUNT(*) AS n_item FROM basket GROUP BY brand),
    pair AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS n_both
      FROM basket a JOIN basket b
        ON a.okey = b.okey AND a.brand < b.brand
      GROUP BY a.brand, b.brand
      HAVING COUNT(*) >= {_BASKET_MIN_BOTH})
    SELECT p.brand_a, p.brand_b, p.n_both, ia.n_item AS n_a, ib.n_item AS n_b,
           CAST(p.n_both * 1000000 // n.n_orders AS BIGINT) AS support_micro,
           CAST(p.n_both * 1000000 // ia.n_item AS BIGINT) AS conf_a_to_b_micro,
           CAST(p.n_both * 1000000 // ib.n_item AS BIGINT) AS conf_b_to_a_micro
    FROM pair p
    JOIN item ia ON ia.brand = p.brand_a
    JOIN item ib ON ib.brand = p.brand_b
    CROSS JOIN n
    """,
)
def q109_basket_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining at brand granularity: for every
    brand pair, how many orders contain BOTH (support) and the
    conditional attach rates (confidence both directions) — the
    classic recommender/assortment signal. All rates are exact integer
    micro-units (count·1e6 div denominator), so output is
    bit-deterministic.

    Scale shape (r13 rewrite): the basket collapses to ONE row per
    order carrying its sorted distinct brand set — a single
    order-keyed exchange — and candidate pairs are generated IN-ROW
    from that array (explode of the (brands per order choose 2)
    combinations, ≤13² here, single digits in any real basket), never
    a basket self-join. The r12 form self-joined the (order, brand)
    table on the order key: same pair fanout, but it shuffled the
    basket twice more (both join legs) and paid a join for what is a
    per-row array expansion. Marginals (brand counts) and the order
    total come from the same cached per-order relation. Cost still
    tracks co-occurrence, not the catalog square; a pathological
    giant order is bounded by its own lineitem count either way."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    bset = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy(F.col("l_orderkey").alias("okey"))
        .agg(F.sort_array(F.collect_set(F.col("p_brand"))).alias("brands"))
        .transform(persist_once)
    )
    n = bset.agg(F.count(F.lit(1)).alias("n_orders"))
    item = (
        bset.select(F.explode("brands").alias("brand"))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    # all ordered pairs (brand_a < brand_b) of the sorted distinct set,
    # generated in-row
    pair = (
        bset.select(F.explode(F.expr(in_row_pairs("brands", "brand_a", "brand_b"))).alias("p"))
        .select(F.col("p.brand_a").alias("brand_a"), F.col("p.brand_b").alias("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= _BASKET_MIN_BOTH)
    )
    ia = item.select(F.col("brand").alias("brand_a"), F.col("n_item").alias("n_a"))
    ib = item.select(F.col("brand").alias("brand_b"), F.col("n_item").alias("n_b"))
    return (
        pair.join(F.broadcast(ia), "brand_a")
        .join(F.broadcast(ib), "brand_b")
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            "n_both",
            "n_a",
            "n_b",
            F.expr("CAST(n_both * 1000000 div n_orders AS BIGINT)").alias(
                "support_micro"
            ),
            F.expr("CAST(n_both * 1000000 div n_a AS BIGINT)").alias(
                "conf_a_to_b_micro"
            ),
            F.expr("CAST(n_both * 1000000 div n_b AS BIGINT)").alias(
                "conf_b_to_a_micro"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q110: pointwise mutual information between two categorical columns
# ---------------------------------------------------------------------------


@query(
    "q110_pmi_association",
    """
    WITH cell AS (
      SELECT c_mktsegment AS seg, c_nationkey AS nat, COUNT(*) AS n_xy
      FROM customer GROUP BY 1, 2),
    mx AS (SELECT seg, SUM(n_xy) AS n_x FROM cell GROUP BY seg),
    my AS (SELECT nat, SUM(n_xy) AS n_y FROM cell GROUP BY nat),
    tot AS (SELECT SUM(n_xy) AS n FROM cell)
    SELECT c.seg, c.nat, CAST(c.n_xy AS BIGINT) AS n_xy,
           CAST(mx.n_x AS BIGINT) AS n_x, CAST(my.n_y AS BIGINT) AS n_y,
           CAST(ROUND(ln(CAST(tot.n AS DOUBLE) * c.n_xy / (mx.n_x * my.n_y))
                      * 1000000) AS BIGINT) AS pmi_micro
    FROM cell c
    JOIN mx ON mx.seg = c.seg
    JOIN my ON my.nat = c.nat
    CROSS JOIN tot
    """,
)
def q110_pmi_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between market segment and nation —
    the categorical-association signal feature selection and
    drift-vs-independence audits run (PMI > 0: the pair co-occurs more
    than independence predicts). Per-cell PMI is fixed-pointed with the
    t61 presum pattern; the ln argument is the identical double
    expression on both engines (N·n_xy / (n_x·n_y), integers into IEEE
    ops in one order), so every cell is bit-deterministic.

    Scale shape: one combinable (x, y) cell count — the only
    data-volume exchange — then the marginals are sums OVER THE CELL
    TABLE (never a second scan), broadcast back onto it along with the
    one-row total. Cost: one scan + one #cells-sized shuffle,
    regardless of row count."""
    cust = t(spark, sf_dir, "customer")
    cell = (
        cust.groupBy(
            F.col("c_mktsegment").alias("seg"), F.col("c_nationkey").alias("nat")
        )
        .agg(F.count(F.lit(1)).alias("n_xy"))
        .transform(persist_once)
    )
    mx = cell.groupBy("seg").agg(F.sum("n_xy").alias("n_x"))
    my = cell.groupBy("nat").agg(F.sum("n_xy").alias("n_y"))
    tot = cell.agg(F.sum("n_xy").alias("n"))
    # r11 audit: the marginal product n_x·n_y runs in DECIMAL(38,0) —
    # with customers past 1e10 a dominant (segment, nation) pair puts
    # the long product over int64; DECIMAL→double is the same
    # correctly-rounded conversion as the oracle's int128→double, so
    # the ln argument is bit-identical.
    pmi = F.round(
        F.log(
            F.col("n").cast("double")
            * F.col("n_xy")
            / (
                F.col("n_x").cast("decimal(38,0)") * F.col("n_y")
            ).cast("double")
        )
        * 1000000
    ).cast("long")
    return (
        cell.join(F.broadcast(mx), "seg")
        .join(F.broadcast(my), "nat")
        .crossJoin(F.broadcast(tot))
        .select(
            "seg",
            "nat",
            F.col("n_xy").cast("long").alias("n_xy"),
            F.col("n_x").cast("long").alias("n_x"),
            F.col("n_y").cast("long").alias("n_y"),
            pmi.alias("pmi_micro"),
        )
    )


# --- q111: z-order layout audit -------------------------------------
# The DuckDB oracle replays the Morton spread as 5 nested mask-shift
# rounds per dimension (pure int64 bitwise SQL; every intermediate
# stays positive, shifts <= 16 per the <<63 portability rule).
def _morton_oracle_sql(shift_out: int) -> str:
    from pinot_pulsar_plugin_spark.functions.zorder import _SPREAD

    sql = (
        "SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS cents "
        "FROM events"
    )
    sql = (
        "SELECT user_id, cents, (user_id & 2147483647) AS xa, "
        f"(cents & 2147483647) AS xb FROM ({sql})"
    )
    for sh, mask in _SPREAD:
        sql = (
            f"SELECT user_id, cents, ((xa | (xa << {sh})) & {mask}) AS xa, "
            f"((xb | (xb << {sh})) & {mask}) AS xb FROM ({sql})"
        )
    sql = f"SELECT user_id, cents, (xa | (xb << 1)) AS z FROM ({sql})"
    return f"""
        SELECT (z >> {shift_out}) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(user_id) AS u_min, MAX(user_id) AS u_max,
               MIN(cents) AS c_min, MAX(cents) AS c_max
        FROM ({sql}) GROUP BY 1
    """


_Q111_SHIFT = 24


@query("q111_zorder_layout_audit", _morton_oracle_sql(_Q111_SHIFT))
def q111_zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering audit: assign every event to the
    z-order file bucket a ``OPTIMIZE ZORDER BY (user_id, value)`` write
    would place it in (``functions/zorder.zorder2`` — the branch-free
    mask-shift spread, all inside whole-stage codegen) and report each
    bucket's 2-D bounding box. Tight per-bucket min/max on BOTH
    dimensions is exactly the property parquet row-group pruning feeds
    on — ``tests/test_scale_patterns.py`` proves the skip-rate on a real
    write, this query scores the arithmetic itself against a DuckDB
    replay of the spread.

    Scale shape: the Morton code is a pure per-row expression (zero
    exchanges); the only shuffle is the combinable bucket aggregate. At
    100 TB this is the audit you run AFTER a z-ordered write to verify
    clustering health before relying on data skipping."""
    from pinot_pulsar_plugin_spark.functions.zorder import zorder2

    ev = t(spark, sf_dir, "events").select(
        "user_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    z = zorder2(F.col("user_id"), F.col("cents"))
    return (
        ev.withColumn("bucket", F.shiftright(z, _Q111_SHIFT))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("user_id").alias("u_min"),
            F.max("user_id").alias("u_max"),
            F.min("cents").alias("c_min"),
            F.max("cents").alias("c_max"),
        )
    )


_Q112 = f"""
    SELECT s.s_name,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {exact_sum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
    GROUP BY s.s_name
"""


@query("q112_salted_supplier_revenue", _Q112)
def q112_salted_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier revenue through ``functions/skew.salted_join``: the big
    side carries a deterministic 8-way salt, the supplier side is
    replicated once per salt, and the join runs on ``(suppkey, salt)``
    so a pathological hot supplier (one key = 30% of 100 TB) spreads
    across 8 tasks instead of melting one. The oracle is the PLAIN
    unsalted join — salting must be row-invisible, and the driver's
    hash compare proves it on real data (the same invariant
    ``tests/test_scale_patterns.py`` pins on crafted skew).

    The small side takes a SHUFFLE_HASH hint: under the default
    broadcast both sides would skip the exchange entirely and the salt
    would be decorative — the hint forces the shuffled shape this
    operator exists for, which is the honest demo of the
    beyond-broadcast-size regime. Revenue is the fixed-point presum, so
    the regrouped sum order cannot shift a bit."""
    from pinot_pulsar_plugin_spark.functions.skew import salted_join

    li = t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    sup = (
        t(spark, sf_dir, "supplier")
        .select(F.col("s_suppkey").alias("l_suppkey"), "s_name")
        .hint("shuffle_hash")
    )
    joined = salted_join(li, sup, "l_suppkey", n_salts=8)
    # r11 audit (review finding): this operator's PREMISE is the
    # unbounded hot key — a 30%-of-corpus supplier re-accumulates
    # ~6.6e19 d=4 fixed point in the final regroup, past int64 — so
    # the scaling-key exemption does not apply and the sum is wide.
    return joined.groupBy("s_name").agg(
        F.count(F.lit(1)).alias("n_items"),
        exact_sum_wide(F.col("rev"), "revenue"),
    )
