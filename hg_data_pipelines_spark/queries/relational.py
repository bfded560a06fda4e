"""Relational operator queries (SURVEY.md §2.2-2.8) over the TPC-H-ish tables.

Each query exercises one inventory row (P/J/A/W/O/F ids in the names) as a
declarative DataFrame plan — Catalyst gets pushdown/pruning/broadcast for
free — with a DuckDB oracle proving value-level equivalence.

Scale notes are attached per query: what the plan shuffles, what broadcasts,
and why it would survive 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..session import cut_lineage
from .common import davg, dsum, load, query, sql_davg, sql_dsum

# --------------------------------------------------------------------------
# A7: TPC-H Q1-style pricing summary — the flagship aggregation.
# Reference analogue: per-group aggregate reporting (A2/A4,
# street_level_grouping.py:94, MeshWallExtractror.py:74-88), generalized to
# a fact table. One shuffle on a tiny group key; partial aggregation
# (map-side combine) does almost all the work — the 100 TB plan is identical.
# --------------------------------------------------------------------------


@query(
    "A7_q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           {sql_dsum('l_extendedprice', 'sum_base_price')},
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
           {sql_davg('l_quantity', 'avg_qty')},
           {sql_davg('l_extendedprice', 'avg_price')},
           {sql_davg('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    # scan_parallel: q1's map side is compute-dense (8 DECIMAL(38,6)
    # accumulations per row) — the one extra round-robin exchange buys a
    # 32x map side on the single-row-group fixture scan (measured 2.36s
    # -> 1.39s at sf0.1); size-gated no-op on real multi-split tables.
    li = load(spark, sf_dir, "lineitem", scan_parallel=True)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# P1 + P5: projection & predicate filter; both reach the parquet scan
# (PushedFilters / ReadSchema — only 4 of 11 lineitem columns are read).
# Reference: column select street_level_grouping.py:209; score filter :323.
# --------------------------------------------------------------------------


@query(
    "P1_P5_project_filter",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity > 45 AND l_discount < 0.05
    """,
)
def project_filter(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") > 45) & (F.col("l_discount") < 0.05)).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


# --------------------------------------------------------------------------
# P8: string key normalization (split/first-token), P2-style derived label.
# Reference: file-stem split street_level_grouping.py:184.
# --------------------------------------------------------------------------


@query(
    "P8_string_normalize",
    """
    SELECT string_split(p_type, ' ')[1] AS type_head, COUNT(*) AS n,
           COUNT(DISTINCT p_brand) AS n_brands
    FROM part GROUP BY 1
    """,
)
def string_normalize(spark, sf_dir):
    part = load(spark, sf_dir, "part")
    return (
        part.withColumn("type_head", F.split("p_type", " ").getItem(0))
        .groupBy("type_head")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("p_brand").alias("n_brands"))
    )


# --------------------------------------------------------------------------
# P9: derived numeric columns — pure row-local double arithmetic is
# bit-identical across engines, no rounding needed.
# Reference: deg→rad + offsets street_level_grouping.py:185-188.
# --------------------------------------------------------------------------


@query(
    "P9_derived_numeric",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
           radians(l_quantity) AS qty_rad
    FROM lineitem WHERE l_orderkey < 500
    """,
)
def derived_numeric(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.filter(F.col("l_orderkey") < 500).select(
        "l_orderkey",
        "l_linenumber",
        rev.alias("revenue"),
        (rev * (1 + F.col("l_tax"))).alias("charge"),
        F.radians("l_quantity").alias("qty_rad"),
    )


# --------------------------------------------------------------------------
# P2 + J2: dim lookup via broadcast join chain (customer→nation→region) —
# the Spark-native replacement for the reference's per-row dict apply
# (street_level_grouping.py:91). Both dims broadcast; zero fact shuffles
# before the final small-key aggregation.
# --------------------------------------------------------------------------


@query(
    "P2_J2_dim_lookup_chain",
    f"""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           COUNT(*) AS n_customers, {sql_dsum('c.c_acctbal', 'sum_acctbal')}
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
)
def dim_lookup_chain(spark, sf_dir):
    cust, nation, region = load(spark, sf_dir, "customer", "nation", "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(F.count(F.lit(1)).alias("n_customers"), dsum("c_acctbal", "sum_acctbal"))
    )


# --------------------------------------------------------------------------
# J1: fact→dim equi join (orders ⋈ customer) — customer broadcasts at this
# scale; at 100 TB orders/customer would both be bucketed on custkey and the
# join stays co-located (no fact shuffle either way).
# --------------------------------------------------------------------------


@query(
    "J1_orders_customer_revenue",
    f"""
    SELECT c.c_mktsegment AS mktsegment, COUNT(*) AS n_orders,
           {sql_dsum('o.o_totalprice', 'revenue')}
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def orders_customer_revenue(spark, sf_dir):
    orders, cust = load(spark, sf_dir, "orders", "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "revenue"))
    )


# --------------------------------------------------------------------------
# J1 multiway (TPC-H Q5 shape): region→nation→(customer ⋈ orders ⋈ lineitem
# ⋈ supplier) with the customer-nation == supplier-nation constraint.
# Dims broadcast; the lineitem⋈orders equi join is the only big shuffle.
# --------------------------------------------------------------------------


@query(
    "J1_q5_local_supplier_revenue",
    f"""
    SELECT n.n_name AS nation_name,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1
    """,
)
def q5_local_supplier_revenue(spark, sf_dir):
    li, orders, cust, supp, nation, region = load(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation", "region"
    )
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1998-01-01").cast("timestamp_ntz")
    return (
        li.join(
            orders.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)),
            li.l_orderkey == orders.o_orderkey,
        )
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == supp.s_suppkey)
            & (F.col("c_nationkey") == supp.s_nationkey),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# --------------------------------------------------------------------------
# EXT-J5: anti & semi joins ("new rows only" dedup support).
# --------------------------------------------------------------------------


@query(
    "J5_anti_customers_without_orders",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderpriority = '1-URGENT'
    )
    """,
)
def anti_customers_without_orders(spark, sf_dir):
    # every fixture customer has at least one order, so the anti-join is
    # scoped to urgent orders — ~13% of customers qualify (non-trivial
    # evidence at every SF, unlike the vacuous all-orders form)
    cust, orders = load(spark, sf_dir, "customer", "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "J5_semi_active_customers",
    """
    SELECT c.c_mktsegment AS mktsegment, COUNT(*) AS n_active
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
    )
    GROUP BY 1
    """,
)
def semi_active_customers(spark, sf_dir):
    cust, orders = load(spark, sf_dir, "customer", "orders")
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz")
    )
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_semi")
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


# --------------------------------------------------------------------------
# A2: frequency count (the reference's value_counts,
# street_level_grouping.py:94) + O1 sort.
# --------------------------------------------------------------------------


@query(
    "A2_value_counts",
    """
    SELECT o_orderpriority AS priority, COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
)
def value_counts(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "priority")
    )


# --------------------------------------------------------------------------
# A4: per-group min/max/avg (reference: per-cluster summarization,
# MeshWallExtractror.py:74-88).
# --------------------------------------------------------------------------


@query(
    "A4_group_stats",
    f"""
    SELECT n.n_name AS nation_name,
           MIN(c.c_acctbal) AS min_bal, MAX(c.c_acctbal) AS max_bal,
           {sql_davg('c.c_acctbal', 'avg_bal')}, COUNT(*) AS n
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    """,
)
def group_stats(spark, sf_dir):
    cust, nation = load(spark, sf_dir, "customer", "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
            davg("c_acctbal", "avg_bal"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------------
# A5 + A6: distinct and counts. Reference: unique() street_level_grouping.py:316.
# --------------------------------------------------------------------------


@query(
    "A5_distinct_flags",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_flags(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


@query(
    "A6_counts",
    """
    SELECT COUNT(*) AS n_rows, COUNT(DISTINCT l_orderkey) AS n_orders,
           COUNT(DISTINCT l_partkey) AS n_parts
    FROM lineitem
    """,
)
def counts(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


# --------------------------------------------------------------------------
# EXT-A8: rollup and cube (grouping sets). Partial aggregation expands the
# grouping-set rows map-side; still a single shuffle.
# --------------------------------------------------------------------------


@query(
    "A8_rollup_region_nation",
    f"""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           COUNT(*) AS n_customers, {sql_dsum('c.c_acctbal', 'sum_bal')}
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def rollup_region_nation(spark, sf_dir):
    cust, nation, region = load(spark, sf_dir, "customer", "nation", "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
            "c_acctbal",
        )
        .rollup("region_name", "nation_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), dsum("c_acctbal", "sum_bal"))
    )


@query(
    "A8_cube_status_priority",
    f"""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           COUNT(*) AS n, {sql_dsum('o_totalprice', 'sum_price')}
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    return (
        orders.select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            "o_totalprice",
        )
        .cube("status", "priority")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "sum_price"))
    )


_GROUPING_SETS_SQL = f"""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           GROUPING(o_orderstatus) AS g_status,
           GROUPING(o_orderpriority) AS g_priority,
           COUNT(*) AS n, {sql_dsum('o_totalprice', 'sum_price')}
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """


@query("A8_grouping_sets", _GROUPING_SETS_SQL)
def grouping_sets_status_priority(spark, sf_dir):
    """EXT-A8: explicit GROUPING SETS with GROUPING() indicators — the
    general form rollup/cube specialize. Identical SQL text runs on both
    engines (the spark.sql surface, SURVEY §2: no parser needed)."""
    orders = load(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders")
    return spark.sql(_GROUPING_SETS_SQL)


# --------------------------------------------------------------------------
# EXT-A9: approximate distinct count (HyperLogLog++). No DuckDB oracle —
# different sketch implementations — so the driver records the weaker
# rows-only check; the exact-count twin lives in A6_counts.
# --------------------------------------------------------------------------


@query("A9_approx_count_distinct")
def approx_count_distinct(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
    )


# --------------------------------------------------------------------------
# W1: argmax-row-per-group — the reference's idxmax best-detection pick
# (street_level_grouping.py:157) with an explicit total-order tiebreak.
# --------------------------------------------------------------------------


@query(
    "W1_best_order_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
    ) = 1
    """,
)
def best_order_per_customer(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


# --------------------------------------------------------------------------
# EXT-W2: ranking family over a total order (tiebreak on key).
# --------------------------------------------------------------------------


@query(
    "W2_rank_family",
    """
    SELECT c_nationkey, c_custkey,
           CAST(RANK() OVER w AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
           CAST(NTILE(4) OVER w AS INTEGER) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def rank_family(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), "c_custkey")
    return cust.select(
        "c_nationkey",
        "c_custkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


# --------------------------------------------------------------------------
# EXT-O4: deterministic top-K (global sort + limit; Spark executes as
# TakeOrderedAndProject — no full sort at scale).
# --------------------------------------------------------------------------


@query(
    "O4_topk_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def topk_orders(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


# --------------------------------------------------------------------------
# EXT-O5: set operations.
# --------------------------------------------------------------------------


@query(
    "O5_intersect_buyers",
    """
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
    INTERSECT
    SELECT o_custkey AS custkey FROM orders
    """,
)
def intersect_buyers(spark, sf_dir):
    cust, orders = load(spark, sf_dir, "customer", "orders")
    rich = cust.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("custkey")
    )
    buyers = orders.select(F.col("o_custkey").alias("custkey"))
    return rich.intersect(buyers)


@query(
    "O5_except_never_ordered",
    """
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def except_never_ordered(spark, sf_dir):
    # scoped to urgent orders: the unscoped difference is vacuously empty
    # on this fixture (every customer has an order) — see J5 anti note
    cust, orders = load(spark, sf_dir, "customer", "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return cust.select(F.col("c_custkey").alias("custkey")).exceptAll(
        urgent.select(F.col("o_custkey").alias("custkey"))
    ).distinct()


# --------------------------------------------------------------------------
# EXT-O6: Pareto skyline (non-dominated frontier) — the per-brand
# cheapest-and-smallest parts. Dominance: x dominates y iff x is <= y on
# both price and size and strictly < on at least one. The naive form is a
# quadratic NOT EXISTS self-join (the oracle); the distributed form
# decomposes it: a row survives iff (a) its size is the MIN within its
# price group, and (b) that group-min is strictly below the running min
# over all STRICTLY CHEAPER price groups — a grouped aggregation plus a
# distributed prefix-min scan (operators/scale.global_running_min), no
# self-join, no unpartitioned window. At 100 TB: one shuffle on price,
# one range-partitioned scan over the (distinct-price-sized) group
# table, one equi-join back — linear, vs the O(n²) definitional form.
# --------------------------------------------------------------------------


@query(
    "O6_pareto_skyline",
    """
    SELECT y.p_partkey, y.p_retailprice, y.p_size
    FROM part y
    WHERE y.p_brand = 'Brand#23' AND NOT EXISTS (
        SELECT 1 FROM part x
        WHERE x.p_brand = 'Brand#23'
          AND x.p_retailprice <= y.p_retailprice
          AND x.p_size <= y.p_size
          AND (x.p_retailprice < y.p_retailprice OR x.p_size < y.p_size)
    )
    """,
)
def pareto_skyline(spark, sf_dir):
    from ..operators.scale import global_running_min

    part = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    # one row per distinct price: min size in the group (no ties for the
    # prefix scan's order key by construction)
    per_price = part.groupBy("p_retailprice").agg(F.min("p_size").alias("_gmin"))
    frontier = global_running_min(
        per_price, ["p_retailprice"], "_gmin", "_pmin", exclusive=True
    )
    # survive iff no strictly-cheaper group reaches this size (NULL prefix
    # = cheapest group overall); within the group, only min-size rows
    keep = frontier.filter(
        F.col("_pmin").isNull() | (F.col("_gmin") < F.col("_pmin"))
    )
    return (
        part.join(keep, "p_retailprice")
        .filter(F.col("p_size") == F.col("_gmin"))
        .select("p_partkey", "p_retailprice", "p_size")
    )


# --------------------------------------------------------------------------
# O3: union of heterogeneous subsets (reference: pd.concat of per-group
# results, street_level_grouping.py:129,193).
# --------------------------------------------------------------------------


@query(
    "O3_union_tagged",
    """
    SELECT src, COUNT(*) AS n FROM (
        SELECT 'high_value' AS src, o_orderkey FROM orders WHERE o_totalprice > 100000
        UNION ALL
        SELECT 'urgent' AS src, o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
    ) GROUP BY 1
    """,
)
def union_tagged(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    hi = orders.filter(F.col("o_totalprice") > 100000).select(
        F.lit("high_value").alias("src"), "o_orderkey"
    )
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.lit("urgent").alias("src"), "o_orderkey"
    )
    return hi.unionByName(urgent).groupBy("src").agg(F.count(F.lit(1)).alias("n"))


# --------------------------------------------------------------------------
# §2.8 scalar surface: strings, math, dates, conditionals.
# --------------------------------------------------------------------------


@query(
    "F_string_funcs",
    """
    SELECT p_partkey,
           upper(p_brand) AS brand_u,
           lower(p_name) AS name_l,
           substring(p_name, 1, 12) AS name_head,
           CAST(length(p_name) AS INTEGER) AS name_len,
           trim(concat(p_brand, ' ')) AS brand_trim,
           regexp_replace(p_type, ' ', '_', 'g') AS type_snake,
           CAST(p_type LIKE '%BRASS%' AS INTEGER) AS is_brass
    FROM part WHERE p_partkey < 500
    """,
)
def string_funcs(spark, sf_dir):
    part = load(spark, sf_dir, "part")
    return part.filter(F.col("p_partkey") < 500).select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.lower("p_name").alias("name_l"),
        F.substring("p_name", 1, 12).alias("name_head"),
        F.length("p_name").cast("int").alias("name_len"),
        F.trim(F.concat(F.col("p_brand"), F.lit(" "))).alias("brand_trim"),
        F.regexp_replace("p_type", " ", "_").alias("type_snake"),
        F.col("p_type").like("%BRASS%").cast("int").alias("is_brass"),
    )


@query(
    "F_math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           abs(l_extendedprice - 1000.0) AS abs_diff,
           round(l_extendedprice, 1) AS price_r1,
           CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
           CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
           sqrt(l_quantity) AS qty_sqrt,
           l_quantity * l_quantity AS qty_sq,
           l_orderkey % 7 AS key_mod,
           round(sin(radians(l_quantity)), 6) AS qty_sin,
           round(ln(l_extendedprice), 6) AS price_ln
    FROM lineitem WHERE l_orderkey < 300
    """,
)
def math_funcs(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") < 300).select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_extendedprice") - 1000.0).alias("abs_diff"),
        F.round("l_extendedprice", 1).alias("price_r1"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        (F.col("l_quantity") * F.col("l_quantity")).alias("qty_sq"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        F.round(F.sin(F.radians("l_quantity")), 6).alias("qty_sin"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
    )


@query(
    "F_date_funcs",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(month(o_orderdate) AS INTEGER) AS order_month,
           CAST(day(o_orderdate) AS INTEGER) AS order_day,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER)
               AS days_since_epoch_start
    FROM orders WHERE o_orderkey < 1000
    """,
)
def date_funcs(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") < 1000).select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("int").alias("order_day"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("int")
        .alias("days_since_epoch_start"),
    )


@query(
    "F_conditional_tiers",
    f"""
    SELECT CASE WHEN o_totalprice >= 200000 THEN 'platinum'
                WHEN o_totalprice >= 100000 THEN 'gold'
                WHEN o_totalprice >= 50000 THEN 'silver'
                ELSE 'bronze' END AS tier,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_label,
           COUNT(*) AS n, {sql_dsum('o_totalprice', 'sum_price')}
    FROM orders GROUP BY 1, 2
    """,
)
def conditional_tiers(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    tier = (
        F.when(F.col("o_totalprice") >= 200000, "platinum")
        .when(F.col("o_totalprice") >= 100000, "gold")
        .when(F.col("o_totalprice") >= 50000, "silver")
        .otherwise("bronze")
    )
    status = F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN"))
    return (
        orders.select(tier.alias("tier"), status.alias("status_label"), "o_totalprice")
        .groupBy("tier", "status_label")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "sum_price"))
    )


# --------------------------------------------------------------------------
# N2 + N1: nest → unnest roundtrip. collect_list into array-of-structs
# (sorted for determinism), then explode back to rows — proves both
# directions of the reference's most load-bearing ops
# (street_level_grouping.py:67-78 build; :90 normalize).
# --------------------------------------------------------------------------


@query(
    "N2_N1_nest_unnest_roundtrip",
    "SELECT o_custkey, o_orderkey, o_totalprice FROM orders",
)
def nest_unnest_roundtrip(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    nested = orders.groupBy("o_custkey").agg(
        F.array_sort(
            F.collect_list(F.struct("o_orderkey", "o_totalprice"))
        ).alias("orders_arr")
    )
    return nested.select(
        "o_custkey", F.explode("orders_arr").alias("o")
    ).select("o_custkey", "o.o_orderkey", "o.o_totalprice")


# --------------------------------------------------------------------------
# EXT: TPC-H Q6-style revenue-change filter-aggregate. The entire predicate
# set reaches the parquet scan (PushedFilters on shipdate/discount/quantity)
# — at 100 TB with date-partitioned lineitem this prunes partitions too.
# --------------------------------------------------------------------------


@query(
    "A7_q6_forecast_revenue",
    f"""
    SELECT {sql_dsum('l_extendedprice * l_discount', 'revenue')},
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.04 AND 0.08
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.08)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------------
# EXT: TPC-H Q3-style shipping-priority top-K: fact⋈fact join + group +
# global top-10. Orders joins on o_orderkey (shuffle), customer broadcasts;
# the final top-K is a tiny global sort after aggregation.
# --------------------------------------------------------------------------


@query(
    "A7_q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    cust, orders, li = load(spark, sf_dir, "customer", "orders", "lineitem")
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp_ntz"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# EXT: TPC-H Q18-style large-volume customers — semi-join against an
# aggregated subquery (the only subquery shape the engine needs; Spark
# plans it as agg → join, no correlated execution).
# --------------------------------------------------------------------------


@query(
    "A7_q18_large_orders",
    f"""
    WITH big AS (
        SELECT l_orderkey FROM lineitem
        GROUP BY 1 HAVING SUM(l_quantity) > 150
    )
    SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
           {sql_dsum('l_quantity', 'total_qty')}
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
    """,
)
def q18_large_orders(spark, sf_dir):
    cust, orders, li = load(spark, sf_dir, "customer", "orders", "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 150)
        .select("l_orderkey")
    )
    return (
        orders.join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity", "total_qty"))
    )


# --------------------------------------------------------------------------
# EXT-W5: distribution window family — percent_rank / cume_dist. Values
# depend only on the sort KEY (ties collapse to equal ranks), so the
# result is deterministic without a tiebreak column; both engines use the
# ANSI definitions ((rank-1)/(n-1) and ties-high cumulative fraction).
# --------------------------------------------------------------------------


@query(
    "W5_distribution_ranks",
    """
    SELECT c_nationkey, c_custkey,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal)
    """,
)
def distribution_ranks(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal")
    return cust.select(
        "c_nationkey",
        "c_custkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# --------------------------------------------------------------------------
# §2.8 widening: bitwise scalar surface (partition-id math, bloom/bitmap
# membership, salt extraction all reduce to these). Pure codegen
# expressions on both engines.
# --------------------------------------------------------------------------


@query(
    "F_bitwise_funcs",
    """
    SELECT o_orderkey,
           o_orderkey & 1023 AS salt_bucket,
           o_orderkey | 1 AS forced_odd,
           xor(o_orderkey, o_custkey) AS key_mix,
           o_custkey << 4 AS shifted,
           o_orderkey >> 2 AS quartered,
           bit_count(o_orderkey) AS popcount
    FROM orders WHERE o_orderkey <= 4096
    """,
)
def bitwise_funcs(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    k, c = F.col("o_orderkey"), F.col("o_custkey")
    return orders.filter(k <= 4096).select(
        "o_orderkey",
        k.bitwiseAND(F.lit(1023)).alias("salt_bucket"),
        k.bitwiseOR(F.lit(1)).alias("forced_odd"),
        k.bitwiseXOR(c).alias("key_mix"),
        F.shiftleft(c, 4).alias("shifted"),
        F.shiftright(k, 2).alias("quartered"),
        F.bit_count(k).alias("popcount"),
    )


# --------------------------------------------------------------------------
# EXT-W6: SCD2 interval build — an order history becomes a slowly-changing
# dimension: each row valid from its date until the customer's next order
# (NULL = current). One window on the natural partition key; the standard
# warehouse dimension-build op.
# --------------------------------------------------------------------------


@query(
    "W6_scd2_intervals",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER w AS valid_to,
           (lead(o_orderdate) OVER w IS NULL) AS is_current
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def scd2_intervals(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderdate").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# --------------------------------------------------------------------------
# EXT-A15: ordered string aggregation + conditional/boolean aggregates.
# listagg WITHIN GROUP (ORDER BY) needs the tiebreak-free total order of
# its own input to be cross-engine deterministic — n_name is unique per
# region, so the concatenation is a total order. The conditional and
# boolean aggregates are expressed as SUM/MIN/MAX over CASE 0/1 flags
# cast to BIGINT: semantically identical to count_if/bool_and/bool_or,
# map-side combinable, and comparator-robust across engine versions
# (no engine-specific boolean/HUGEINT output types in the result).
# --------------------------------------------------------------------------


@query(
    "A15_agg_extras",
    """
    SELECT r.r_name,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations_csv,
           CAST(SUM(CASE WHEN n.n_nationkey % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_even,
           CAST(MIN(CASE WHEN n.n_nationkey >= 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS all_nonneg,
           CAST(MAX(CASE WHEN n.n_name LIKE 'A%' THEN 1 ELSE 0 END)
                AS BIGINT) AS any_a
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def agg_extras(spark, sf_dir):
    nation, region = load(spark, sf_dir, "nation", "region")
    j = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    even_flag = F.when(F.col("n_nationkey") % 2 == 0, F.lit(1)).otherwise(F.lit(0))
    nonneg_flag = F.when(F.col("n_nationkey") >= 0, F.lit(1)).otherwise(F.lit(0))
    a_flag = F.when(F.col("n_name").like("A%"), F.lit(1)).otherwise(F.lit(0))
    return j.groupBy("r_name").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
            "nations_csv"
        ),
        F.sum(even_flag).cast("bigint").alias("n_even"),
        F.min(nonneg_flag).cast("bigint").alias("all_nonneg"),
        F.max(a_flag).cast("bigint").alias("any_a"),
    )


# --------------------------------------------------------------------------
# SQL surface: LATERAL correlated subquery — per-nation top-2 customers by
# balance. The lateral derived table re-executes per outer row (Catalyst
# decorrelates it into a ranked join), the idiomatic SQL form of
# "top-N per group" without a window over the full table. The identical
# SQL text runs on both engines.
# --------------------------------------------------------------------------

_LATERAL_SQL = """
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM nation n, LATERAL (
        SELECT c_name, c_acctbal FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_name LIMIT 2
    ) t
"""


@query("SQL_lateral_topn_per_group", _LATERAL_SQL)
def sql_lateral_topn(spark, sf_dir):
    load(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_LATERAL_SQL)


# --------------------------------------------------------------------------
# §2.8 map-typed functions: build a priority→count map per order status
# (map_from_entries), double the values (transform_values), drop small
# entries (map_filter), then explode map_entries back to rows so the
# oracle compares plain relational output (DuckDB MAP canonicalizes
# differently in the comparator, so maps stay an internal representation
# — which is also the realistic shape: maps as in-flight state, rows at
# the boundary).
# --------------------------------------------------------------------------


@query(
    "F_map_funcs",
    """
    SELECT o_orderstatus, o_orderpriority AS priority,
           cnt * 2 AS doubled_count
    FROM (SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
          FROM orders GROUP BY 1, 2)
    WHERE cnt * 2 >= 100
    """,
)
def map_funcs(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    per = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    mapped = per.groupBy("o_orderstatus").agg(
        F.map_from_entries(
            F.collect_list(F.struct("o_orderpriority", "cnt"))
        ).alias("prio_counts")
    )
    transformed = mapped.select(
        "o_orderstatus",
        F.map_filter(
            F.transform_values("prio_counts", lambda _, v: v * 2),
            lambda _, v: v >= 100,
        ).alias("m"),
    )
    return transformed.select(
        "o_orderstatus", F.explode("m").alias("priority", "doubled_count")
    )


# --------------------------------------------------------------------------
# J5 full outer: presence-flag reconciliation across two fact slices —
# which users appear in clicks, purchases, or both. The outer join's
# NULL-key rows become explicit presence flags, the reconciliation-report
# shape (COALESCE key, counts on both sides).
# --------------------------------------------------------------------------


@query(
    "J5_full_outer_presence",
    """
    WITH c AS (
        SELECT user_id, COUNT(*) AS n_clicks FROM events
        WHERE event_type = 'click' GROUP BY user_id
    ), p AS (
        SELECT user_id, COUNT(*) AS n_purchases FROM events
        WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT COALESCE(c.user_id, p.user_id) AS user_id,
           COALESCE(n_clicks, 0) AS n_clicks,
           COALESCE(n_purchases, 0) AS n_purchases,
           (c.user_id IS NOT NULL AND p.user_id IS NOT NULL) AS in_both
    FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
    """,
)
def full_outer_presence(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    c = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.col("user_id").alias("c_user"))
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("p_user"))
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    joined = c.join(p, c["c_user"] == p["p_user"], "full_outer")
    return joined.select(
        F.coalesce("c_user", "p_user").alias("user_id"),
        F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        (F.col("c_user").isNotNull() & F.col("p_user").isNotNull()).alias("in_both"),
    )


# --------------------------------------------------------------------------
# SQL surface: scalar subquery — each status's share of total revenue,
# the canonical "divide by a scalar aggregate" shape. Identical SQL text
# on both engines; decimal-exact numerator and denominator.
# --------------------------------------------------------------------------

_SCALAR_SHARE_SQL = """
    SELECT o_orderstatus,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           round(
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               / (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                  FROM {orders}),
               6) AS share
    FROM {orders} GROUP BY o_orderstatus
"""


@query("SQL_scalar_subquery_share", _SCALAR_SHARE_SQL.format(orders="orders"))
def scalar_subquery_share(spark, sf_dir):
    load(spark, sf_dir, "orders").createOrReplaceTempView("_ss_orders")
    return spark.sql(_SCALAR_SHARE_SQL.format(orders="_ss_orders"))


# --------------------------------------------------------------------------
# EXT-W10: value-navigation window functions — first/last/nth value over
# an explicit full-partition frame (the default frame stops at CURRENT
# ROW for last_value, the classic window trap; both engines agree once the
# frame is explicit).
# --------------------------------------------------------------------------


@query(
    "W10_first_last_nth",
    """
    SELECT c_nationkey, c_custkey,
           first_value(c_custkey) OVER w AS richest_key,
           last_value(c_custkey) OVER w AS poorest_key,
           nth_value(c_custkey, 2) OVER w AS second_key
    FROM customer
    WINDOW w AS (
        PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
)
def first_last_nth(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.desc("c_acctbal"), "c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return cust.select(
        "c_nationkey",
        "c_custkey",
        F.first("c_custkey").over(w).alias("richest_key"),
        F.last("c_custkey").over(w).alias("poorest_key"),
        F.nth_value("c_custkey", 2).over(w).alias("second_key"),
    )


# --------------------------------------------------------------------------
# A17: conditional-aggregation surface — ANSI FILTER clause plus the
# count_if/bool_and/bool_or semantics restated as SUM/MIN/MAX over CASE
# 0/1 flags (identical one-pass conditional aggregates, map-side
# combinable) so every output column is a comparator-robust BIGINT, and
# a weighted average (sum(w·x)/sum(w)) emitted as floor-truncated
# integer micro-units: the two SUMs are exact DECIMAL(38,6), their
# ratio is one IEEE binary64 division (bit-identical on any engine),
# and floor(ratio·1e6) avoids engine-version round() tie behavior.
# --------------------------------------------------------------------------

_A17_SQL = """
    SELECT o_orderstatus,
           COUNT(*) FILTER (WHERE o_totalprice > 100000) AS n_large,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_urgent,
           CAST(MIN(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS all_positive,
           CAST(MAX(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
                AS BIGINT) AS any_low_priority,
           CAST(FLOOR(
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))
                        * CAST(o_custkey % 3 + 1 AS DECIMAL(38,6))) AS DOUBLE)
               / CAST(SUM(CAST(o_custkey % 3 + 1 AS DECIMAL(38,6))) AS DOUBLE)
               * 1000000) AS BIGINT) AS weighted_avg_price_micros
    FROM {orders} GROUP BY o_orderstatus
"""


@query("A17_conditional_aggs", _A17_SQL.format(orders="orders"))
def conditional_aggs(spark, sf_dir):
    load(spark, sf_dir, "orders").createOrReplaceTempView("_a17_orders")
    return spark.sql(_A17_SQL.format(orders="_a17_orders"))


# --------------------------------------------------------------------------
# SQL surface: GROUP BY ALL — the modern grouping sugar both engines
# implement identically (every non-aggregate select item groups).
# Identical text on both engines.
# --------------------------------------------------------------------------

_GBA_SQL = """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM {orders} GROUP BY ALL
"""


@query("SQL_group_by_all", _GBA_SQL.format(orders="orders"))
def group_by_all(spark, sf_dir):
    load(spark, sf_dir, "orders").createOrReplaceTempView("_gba_orders")
    return spark.sql(_GBA_SQL.format(orders="_gba_orders"))


# --------------------------------------------------------------------------
# §2.8 higher-order (lambda) functions: exists / forall / filter /
# aggregate (fold) / zip_with over per-order quantity arrays — all
# JVM-side Catalyst lambda expressions, no Python. The array is the
# sorted multiset of an order's line quantities (sorted → deterministic
# regardless of shuffle order; never empty — every lineitem order has a
# line). DuckDB states the identical semantics with list_filter /
# list_reduce / a list comprehension for the positional zip; integer
# arithmetic end-to-end keeps every output comparator-safe.
# --------------------------------------------------------------------------


@query(
    "F_lambda_funcs",
    """
    WITH arrs AS (
        SELECT l_orderkey,
               list_sort(list(CAST(l_quantity AS INT))) AS arr
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           len(list_filter(arr, x -> x > 45)) > 0 AS has_large,
           len(list_filter(arr, x -> NOT (x <= 30))) = 0 AS all_small,
           CAST(list_reduce(arr, (a, b) -> a + b) AS BIGINT) AS total_qty,
           CAST(len(list_filter(arr, x -> x > 20)) AS BIGINT) AS n_over_20,
           CAST(list_sum([arr[i] * arr[len(arr) - i + 1]
                          for i in range(1, len(arr) + 1)]) AS BIGINT)
               AS dot_reversed
    FROM arrs
    """,
)
def lambda_funcs(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    arrs = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list(F.col("l_quantity").cast("int"))).alias("arr")
    )
    return arrs.select(
        "l_orderkey",
        F.exists("arr", lambda x: x > 45).alias("has_large"),
        F.forall("arr", lambda x: x <= 30).alias("all_small"),
        F.aggregate(
            "arr", F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).alias("total_qty"),
        F.size(F.filter("arr", lambda x: x > 20)).cast("bigint").alias("n_over_20"),
        F.aggregate(
            F.zip_with("arr", F.reverse("arr"), lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("dot_reversed"),
    )


# --------------------------------------------------------------------------
# EXT-W11: ratio-to-report — each row's share of its partition total, the
# percent-of-total window everyone reports with. The partition total is
# an exact decimal window sum; the share is ONE double division on exact
# operands (bit-identical IEEE), so no rounding discipline is needed.
# --------------------------------------------------------------------------


@query(
    "W11_ratio_to_report",
    """
    SELECT o_custkey, o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(38,6)) AS DOUBLE)
           / CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
                 PARTITION BY o_custkey
             ) AS DOUBLE) AS share_of_customer
    FROM orders
    """,
)
def ratio_to_report(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    total = F.sum(F.col("o_totalprice").cast("decimal(38,6)")).over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (
            F.col("o_totalprice").cast("decimal(38,6)").cast("double")
            / total.cast("double")
        ).alias("share_of_customer"),
    )


# --------------------------------------------------------------------------
# EXT-A21: median absolute deviation — the robust dispersion statistic
# (outlier-resistant scale estimate). Two exact medians per group
# (percentile at 0.5 == percentile_cont), both engines interpolate
# identically; group count is 3 flags so the per-group sort is bounded.
# --------------------------------------------------------------------------


@query(
    "A21_median_absolute_deviation",
    """
    WITH med AS (
        SELECT l_returnflag,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice)
                   AS m
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           ANY_VALUE(m.m) AS median_price,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(l.l_extendedprice - m.m))
               AS mad
    FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
    GROUP BY l.l_returnflag
    """,
)
def median_absolute_deviation(spark, sf_dir):
    from ..operators.scale import case_by_group, percentile_cont_exact_grouped

    li = load(spark, sf_dir, "lineitem")
    # Scan-bounded grouped medians (bit-identical to percentile_cont)
    # instead of two sort-based F.percentile aggregates over a
    # near-continuous column — see DQ5_mad_outliers for the rationale
    # and for why the r12 revert no longer applies (≤ 2 jobs per call).
    med = percentile_cont_exact_grouped(
        li, "l_returnflag", "l_extendedprice", [0.5]
    )
    m_expr = case_by_group("l_returnflag", {g: v for g, (v,) in med.items()})
    dev_df = li.select(
        "l_returnflag",
        F.abs(F.col("l_extendedprice") - m_expr).alias("dev"),
    )
    mad = percentile_cont_exact_grouped(dev_df, "l_returnflag", "dev", [0.5])
    mad_expr = case_by_group("l_returnflag", {g: v for g, (v,) in mad.items()})
    return (
        li.select("l_returnflag")
        .distinct()
        .select(
            "l_returnflag",
            m_expr.alias("median_price"),
            mad_expr.alias("mad"),
        )
    )


# --------------------------------------------------------------------------
# S13: incremental aggregate maintenance — the materialized-view refresh
# pattern: history is aggregated once, each new delta is aggregated alone
# and FOLDED into the previous state (operators/scale.py::
# merge_algebraic_aggregates), so refresh cost tracks the delta, not the
# table. The oracle is the direct one-shot aggregate over everything:
# algebraic measures folded in exact DECIMAL must equal it bit-for-bit
# (the cast to double happens once, after the merge).
# --------------------------------------------------------------------------


@query(
    "S13_incremental_agg_merge",
    """
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS revenue
    FROM orders GROUP BY o_orderstatus
    """,
)
def incremental_agg_merge(spark, sf_dir):
    from ..operators.scale import merge_algebraic_aggregates

    orders = load(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("timestamp_ntz")

    def partial(df):
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("revenue"),
        )

    prev = partial(orders.filter(F.col("o_orderdate") < cutoff))
    delta = partial(orders.filter(F.col("o_orderdate") >= cutoff))
    merged = merge_algebraic_aggregates(prev, delta, keys=["o_orderstatus"])
    return merged.select(
        "o_orderstatus",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("revenue").cast("double").alias("revenue"),
    )


# --------------------------------------------------------------------------
# SQL surface: optimizer hints — BROADCAST on the dim and a REPARTITION
# (DISTRIBUTE BY) on the output. Hints change the physical plan, never
# the result set, so the oracle is the same query without them (DuckDB
# has no hint syntax — the point is precisely that results are
# plan-invariant).
# --------------------------------------------------------------------------

_HINTED_SQL = """
    SELECT /*+ BROADCAST(n), REPARTITION(8) */
           n.n_name AS nation_name, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
               AS sum_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
"""


@query(
    "SQL_join_hints",
    """
    SELECT n.n_name AS nation_name, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
               AS sum_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def sql_join_hints(spark, sf_dir):
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(_HINTED_SQL)


# --------------------------------------------------------------------------
# EXT-O5 (cont.): MULTISET set operations — INTERSECT ALL keeps
# min(n_left, n_right) copies per value, EXCEPT ALL subtracts
# occurrence counts. Spark plans both as aggregate-count + generate
# (one shuffle on the value), the same shape as the distinct forms.
# --------------------------------------------------------------------------


@query(
    "O5_intersect_all_repeat_buyers",
    """
    (SELECT o_custkey AS custkey FROM orders
     WHERE o_orderdate < TIMESTAMP '1998-01-01')
    INTERSECT ALL
    (SELECT o_custkey AS custkey FROM orders
     WHERE o_orderdate >= TIMESTAMP '1998-01-01')
    """,
)
def intersect_all_repeat_buyers(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    early = orders.filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("custkey"))
    late = orders.filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("custkey"))
    return early.intersectAll(late)


@query(
    "O5_except_all_surplus_orders",
    """
    (SELECT o_custkey AS custkey FROM orders
     WHERE o_orderdate < TIMESTAMP '1998-01-01')
    EXCEPT ALL
    (SELECT o_custkey AS custkey FROM orders
     WHERE o_orderdate >= TIMESTAMP '1998-01-01')
    """,
)
def except_all_surplus_orders(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    early = orders.filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("custkey"))
    late = orders.filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("custkey"))
    return early.exceptAll(late)


# --------------------------------------------------------------------------
# W6 (cont.): INCREMENTAL SCD2 maintenance — the same interval table W6
# rebuilds with one window pass, produced instead by folding three
# time-ordered batches through ``operators/scd.py::scd2_apply`` (close
# touched current rows, chain the in-batch window, append). The oracle
# is W6's rebuild SQL verbatim, so the hash match proves
# fold(b1..b3) ≡ rebuild(b1 ∪ b2 ∪ b3) — the cost-∝-delta maintenance
# contract a 100 TB dimension table needs.
# --------------------------------------------------------------------------


@query(
    "W6_scd2_incremental_fold",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER w AS valid_to,
           (lead(o_orderdate) OVER w IS NULL) AS is_current
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def scd2_incremental_fold(spark, sf_dir):
    from ..operators.scd import scd2_apply, scd2_init

    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice", "o_orderdate"
    )
    cuts = ["1997-01-01", "1999-01-01"]
    b1 = orders.filter(F.col("o_orderdate") < F.lit(cuts[0]).cast("timestamp"))
    b2 = orders.filter(
        (F.col("o_orderdate") >= F.lit(cuts[0]).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(cuts[1]).cast("timestamp"))
    )
    b3 = orders.filter(F.col("o_orderdate") >= F.lit(cuts[1]).cast("timestamp"))
    dim = scd2_init(b1, ["o_custkey"], "o_orderdate", ["o_orderkey"])
    for batch in (b2, b3):
        dim = scd2_apply(
            dim, batch, ["o_custkey"], "o_orderdate", ["o_orderkey"]
        )
    return dim.select(
        "o_custkey", "o_orderkey", "o_totalprice",
        F.col("o_orderdate").alias("valid_from"), "valid_to", "is_current",
    )


# --------------------------------------------------------------------------
# §2.8 widening: error-safe `try_*` scalar surface — the ANSI-mode
# escape hatches a production pipeline uses instead of letting one
# malformed row kill a 100 TB job. Each try_* returns NULL where the
# strict form would raise; the oracle states the same null-on-error
# semantics with guards DuckDB evaluates identically.
# --------------------------------------------------------------------------


@query(
    "F_try_funcs",
    """
    SELECT p_partkey,
           CASE WHEN p_size = 0 THEN NULL
                ELSE CAST(p_retailprice AS DOUBLE) / p_size END AS price_per_size,
           TRY_CAST(p_brand AS BIGINT) AS brand_as_int,
           TRY_CAST(substr(p_name, 1, 3) AS BIGINT) AS name_prefix_int,
           CASE WHEN length(string_split(p_name, ' ')) >= 9
                THEN string_split(p_name, ' ')[9] END AS ninth_token
    FROM part WHERE p_partkey <= 1000
    """,
)
def try_funcs(spark, sf_dir):
    part = load(spark, sf_dir, "part")
    toks = F.split(F.col("p_name"), " ")
    return part.filter(F.col("p_partkey") <= 1000).select(
        "p_partkey",
        F.try_divide(
            F.col("p_retailprice").cast("double"), F.col("p_size")
        ).alias("price_per_size"),
        F.try_to_number(F.col("p_brand"), F.lit("999999")).cast("bigint")
        .alias("brand_as_int"),
        F.try_to_number(F.substring("p_name", 1, 3), F.lit("999"))
        .cast("bigint")
        .alias("name_prefix_int"),
        F.try_element_at(toks, F.lit(9)).alias("ninth_token"),
    )


# --------------------------------------------------------------------------
# §2.8 widening: URL parsing — parse_url(HOST/PATH/QUERY[, key]), the
# web-corpus normalization primitive (canonical host/path extraction for
# URL-level dedup). URLs are synthesized deterministically from fixture
# columns; the oracle mirrors each component with an anchored regexp, so
# the hash match pins Spark's parse_url component semantics exactly.
# --------------------------------------------------------------------------


@query(
    "F_url_funcs",
    """
    WITH u AS (
        SELECT doc_id,
               'https://' || source || '.example.org/docs/' || doc_id
                   || '?lang=' || lang || '&n=' || n_chars AS url
        FROM documents WHERE doc_id < 500
    )
    SELECT doc_id,
           regexp_extract(url, 'https://([^/]+)/', 1) AS host,
           regexp_extract(url, '://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, '[?&]lang=([^&]*)', 1) AS lang_param,
           regexp_extract(url, '[?&]n=([^&]*)', 1) AS n_param
    FROM u
    """,
)
def url_funcs(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.org/docs/"),
        F.col("doc_id"), F.lit("?lang="), F.col("lang"),
        F.lit("&n="), F.col("n_chars"),
    )
    with_u = docs.select("doc_id", url.alias("url"))
    return with_u.select(
        "doc_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        F.parse_url("url", F.lit("QUERY"), F.lit("n")).alias("n_param"),
    )


# --------------------------------------------------------------------------
# J11: interval-OVERLAP join — two interval relations (big-order 30-day
# activity windows × slow-shipping lineitem ship windows), no equality
# key; pairs where the intervals intersect. Banded by a 31-day grain so
# each interval posts 1-2 band rows; the oracle is the direct theta join
# (DuckDB's IEJoin handles it at fixture scale; the banded form is what
# survives 100 TB).
# --------------------------------------------------------------------------


@query(
    "J11_interval_overlap_join",
    """
    SELECT a.o_orderkey, b.l_orderkey, b.l_linenumber,
           CAST(date_diff('day', greatest(a.s, b.s2), least(a.e, b.e2))
                AS BIGINT) AS overlap_days
    FROM (SELECT o_orderkey, o_orderdate AS s,
                 o_orderdate + INTERVAL 30 DAY AS e
          FROM orders WHERE o_totalprice > 494000) a,
         (SELECT l_orderkey, l_linenumber, l_shipdate AS s2,
                 l_shipdate + to_days(l_linenumber) AS e2
          FROM lineitem WHERE l_quantity = 50) b
    WHERE a.s <= b.e2 AND b.s2 <= a.e
    """,
)
def interval_overlap_join_query(spark, sf_dir):
    from ..operators.rangejoin import interval_overlap_join

    orders, li = load(spark, sf_dir, "orders", "lineitem")
    a = orders.filter(F.col("o_totalprice") > 494000).select(
        "o_orderkey",
        F.col("o_orderdate").alias("s"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("e"),
    )
    b = li.filter(F.col("l_quantity") == 50).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").alias("s2"),
        F.expr("l_shipdate + make_dt_interval(l_linenumber)").alias("e2"),
    )
    pairs = interval_overlap_join(a, b, "s", "e", "s2", "e2", grain_days=31)
    return pairs.select(
        "o_orderkey",
        "l_orderkey",
        "l_linenumber",
        F.datediff(
            F.least("e", "e2").cast("date"), F.greatest("s", "s2").cast("date")
        ).cast("bigint").alias("overlap_days"),
    )


@query(
    "F_regex_funcs",
    """
    SELECT p_partkey,
           regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
           regexp_extract(p_name, '^[a-z]+ ([a-z]+)', 1) AS second_word,
           CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INTEGER)
               AS n_vowels,
           CAST(regexp_extract(p_brand, '#([0-9]+)', 1) AS INTEGER)
               AS brand_num,
           CAST(regexp_matches(p_name, '^[aeiou]') AS INTEGER)
               AS vowel_start,
           regexp_replace(p_brand, '[0-9]', '#', 'g') AS brand_masked
    FROM part WHERE p_partkey < 500
    """,
)
def regex_funcs(spark, sf_dir):
    """§2.8 regex surface: extract (group refs), extract-all counting,
    boolean match, global replace. Patterns stay inside the ASCII class /
    anchor / group subset where Java regex (Spark) and RE2 (DuckDB) agree
    — both engines return '' for a non-matching extract (verified), so
    missing second words hash identically."""
    part = load(spark, sf_dir, "part")
    return part.filter(F.col("p_partkey") < 500).select(
        "p_partkey",
        F.regexp_extract("p_name", "^([a-z]+)", 1).alias("first_word"),
        F.regexp_extract("p_name", "^[a-z]+ ([a-z]+)", 1).alias("second_word"),
        F.size(F.regexp_extract_all("p_name", F.lit("[aeiou]"), 0))
        .cast("int")
        .alias("n_vowels"),
        F.regexp_extract("p_brand", "#([0-9]+)", 1)
        .cast("int")
        .alias("brand_num"),
        F.col("p_name").rlike("^[aeiou]").cast("int").alias("vowel_start"),
        F.regexp_replace("p_brand", "[0-9]", "#").alias("brand_masked"),
    )


# --------------------------------------------------------------------------
# X20: market-basket co-occurrence with lift — association mining over
# order baskets (which parts sell together more than chance predicts).
# The Apriori insight drives the plan: prune to FREQUENT items (support
# >= minsup) BEFORE forming pairs, so the per-basket self-join fans out
# only over surviving items — basket size is bounded (<= 7 lines/order
# here), so the pair step is linear in baskets, not quadratic in items.
# Counts stay exact integers end to end; lift is ONE IEEE division of
# exact integers per output row (engine-portable). At 100 TB: two hash
# aggregations + a per-key bounded self-join + two broadcast count
# lookups; the total-basket scalar rides a 1-row broadcast, never a
# driver collect.
# --------------------------------------------------------------------------

_BASKET_MINSUP = 25
_BASKET_MINCOOC = 2


@query(
    "X20_basket_cooccurrence_lift",
    f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    supp AS (
        SELECT l_partkey, COUNT(*) AS c FROM items GROUP BY l_partkey
    ),
    freq AS (
        SELECT i.l_orderkey, i.l_partkey
        FROM items i JOIN supp s ON i.l_partkey = s.l_partkey
        WHERE s.c >= {_BASKET_MINSUP}
    ),
    cooc AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS n_cooc
        FROM freq a JOIN freq b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING COUNT(*) >= {_BASKET_MINCOOC}
    ),
    nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM lineitem)
    SELECT part_a, part_b, n_cooc, sa.c AS n_a, sb.c AS n_b,
           CAST(n_cooc * n_baskets AS DOUBLE) / (sa.c * sb.c) AS lift
    FROM cooc, nb
    JOIN supp sa ON part_a = sa.l_partkey
    JOIN supp sb ON part_b = sb.l_partkey
    """,
)
def basket_cooccurrence_lift(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    # pin the shared subplans (items feeds support, pruning, both pair
    # sides, and the basket total; supp feeds the prune + two lookups) —
    # without the pin each consumer re-executes the distinct/agg from the
    # scan: 13 exchanges in the static plan instead of 6
    items = cut_lineage(li.select("l_orderkey", "l_partkey").distinct())
    supp = cut_lineage(items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c")))
    freq = items.join(
        F.broadcast(supp.filter(F.col("c") >= _BASKET_MINSUP)), "l_partkey"
    ).select("l_orderkey", "l_partkey")
    # Pair formation by basket grouping + in-row expansion instead of the
    # freq⋈freq self-join: the join shape paid two exchanges + two sorts
    # into a SortMergeJoin (the aliasing of part_a/part_b made the
    # exchanges non-reusable); grouping pays ONE exchange and expands
    # pairs inside each basket row (dedup.pair_expansion_expr — the
    # ngram/LSH bucket pattern). Occupancy is schema-bounded: baskets
    # have ≤ 7 distinct parts (l_linenumber ≤ 7), so the largest
    # materialized pair array is C(7,2) = 21 structs — no skew cap
    # needed (r13 verdict item 5: the cap question, answered by the
    # bound). Pair counts are identical: parts are DISTINCT within a
    # basket (items is a DISTINCT projection), so a < b strict
    # enumeration matches the join + filter.
    from ..operators.dedup import pair_expansion_expr

    baskets = freq.groupBy("l_orderkey").agg(
        F.collect_list("l_partkey").alias("ids")
    )
    cooc = (
        baskets.select(F.explode(F.expr(pair_expansion_expr())).alias("p"))
        .select(
            F.col("p.id_a").alias("part_a"), F.col("p.id_b").alias("part_b")
        )
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_cooc"))
        .filter(F.col("n_cooc") >= _BASKET_MINCOOC)
    )
    nb = items.agg(F.count_distinct("l_orderkey").alias("n_baskets"))
    sa = supp.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("n_a"))
    sb = supp.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("n_b"))
    return (
        cooc.crossJoin(F.broadcast(nb))
        .join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .select(
            "part_a",
            "part_b",
            "n_cooc",
            "n_a",
            "n_b",
            (
                (F.col("n_cooc") * F.col("n_baskets")).cast("double")
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
        )
    )
