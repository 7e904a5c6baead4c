"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator/capability from SURVEY.md §2
expressed through the db_spark engine; ``oracle_sql()`` gives the
DuckDB-equivalent ANSI SQL run on the same parquet tables.

Determinism notes (so Spark and DuckDB value-hashes agree):
- double aggregates round each term to d decimals and accumulate in
  scaled BIGINT (exact, order-independent) then present as DOUBLE —
  see db_spark.functions.exact_sum;
- computed integer columns are cast to BIGINT on both sides;
- LIMIT queries carry a full deterministic ORDER BY tie-break.
"""

from __future__ import annotations

import datetime
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from db_spark.ops import Q, SortDirection
from db_spark.conditions import col, val, Query
from db_spark.functions import ascii_lower, money_sum, decimal_sum, truthy


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from db_spark.sources import read_table

    return read_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Core operator queries (SURVEY §2.1)
# ---------------------------------------------------------------------------

def q_table_scan(spark, sf_dir):
    """TableScan → collect (reference table_scan.rs:64-123)."""
    return Q(_t(spark, sf_dir, "region")).df


def q_filter(spark, sf_dir):
    """Filter operator (reference filter.rs:25-47) — predicate pushes to
    the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        Q(li)
        .filter((F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
                & (F.col("l_quantity") < 24.0))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .df
    )


def q_condition_dsl(spark, sf_dir):
    """Condition DSL normalized to CNF then compiled to Catalyst columns
    (completes reference src/query/mod.rs entry point B)."""
    part = _t(spark, sf_dir, "part")
    cond = (col("p_size") >= val(10)) & col("p_type").like("%STANDARD%") & ~(
        col("p_brand") == val("Brand#11")
    )
    return Query(part).filter(cond).df.select("p_partkey", "p_name", "p_brand", "p_size")


def q_projection(spark, sf_dir):
    """Select as pure projection with computed fields (select.rs:227-268)."""
    o = _t(spark, sf_dir, "orders")
    return Q(o).select(
        F.col("o_orderkey"),
        F.upper(F.col("o_orderpriority")).alias("prio"),
        F.year(F.col("o_orderdate")).cast("long").alias("order_year"),
        (F.col("o_totalprice") * 0.1).alias("commission"),
    ).df


def q_pricing_summary(spark, sf_dir):
    """Flagship: TPC-H Q1-style pricing summary — Select-with-aggregates
    (reference select.rs:32-128 streaming group-change agg → Spark hash
    aggregate with partial/final phases)."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    agg = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum(F.col("l_quantity"), "sum_qty"),
            money_sum(F.col("l_extendedprice"), "sum_base_price"),
            decimal_sum(disc_price, "sum_disc_price"),
            decimal_sum(charge, "sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return agg


def q_global_agg(spark, sf_dir):
    """SelectBuilder global aggregate (no group keys): single-row output."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        Q(li).select(builder=lambda b: b
                     .count("n_rows")
                     .max_value("l_quantity", "max_qty")
                     .min_value("l_shipdate", "first_ship"))
        .df
    )


def q_count_when(spark, sf_dir):
    """count_when with intended per-type truthiness (select.rs:247-263;
    decimal-inversion bug NOT reproduced — SURVEY §2.1 #6)."""
    ev = _t(spark, sf_dir, "events")
    return Q(ev).select(builder=lambda b: b
                        .count("n")
                        .count_when("value", "n_value_truthy")).df


def q_take(spark, sf_dir):
    """Take = LIMIT (take.rs:23-49); deterministic via full ORDER BY."""
    o = _t(spark, sf_dir, "orders")
    return (
        Q(o).in_memory_sort([F.col("o_totalprice").desc(), F.col("o_orderkey")])
        .take(10)
        .select("o_orderkey", "o_totalprice")
        .df
    )


def q_skip(spark, sf_dir):
    """Skip = OFFSET (skip.rs:22-34; real offset, not the reference's
    broken-under-collect variant — SURVEY §2.1 #9)."""
    o = _t(spark, sf_dir, "orders")
    return (
        Q(o.orderBy(F.col("o_orderkey")))
        .skip(100)
        .take(10)
        .select("o_orderkey", "o_custkey")
        .df
    )


def q_nested_loop(spark, sf_dir):
    """Inner equi-join by key position (nested_loop.rs:28-55); output is
    left fields ++ right fields."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        Q(nation).nested_loop(Q(region), "n_regionkey", "r_regionkey")
        .select("n_nationkey", "n_name", "r_name")
        .df
    )


def q_hash_match(spark, sf_dir):
    """Hash join + sort + group aggregate — the reference's headline
    composite bench (10K_hash_match.rs:72-107). Build side (customer)
    broadcast like the reference hashes its right input."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    joined = Q(orders).hash_match(Q(customer), "o_custkey", "c_custkey",
                                  broadcast_build=True)
    return (
        joined.group_agg(
            ["c_mktsegment"],
            [money_sum(F.col("o_totalprice"), "revenue"),
             F.count(F.lit(1)).alias("n_orders")],
        ).df
    )


def q_sort(spark, sf_dir):
    """InMemorySort named semantics (in_memory_sort.rs:40-72; inverted-
    Ascending quirk NOT reproduced) — external range-partitioned sort."""
    c = _t(spark, sf_dir, "customer")
    return (
        Q(c).in_memory_sort([F.col("c_acctbal").desc(), F.col("c_custkey")])
        .take(50)
        .select("c_custkey", "c_acctbal")
        .df
    )


def q_distinct(spark, sf_dir):
    """Roadmap Distinct (README.md:94)."""
    li = _t(spark, sf_dir, "lineitem")
    return Q(li).select("l_returnflag", "l_linestatus").distinct().df


def q_concat(spark, sf_dir):
    """Roadmap Concatenate (README.md:82)."""
    c = Q(_t(spark, sf_dir, "customer")).select(
        F.col("c_custkey").alias("key"), F.col("c_name").alias("name"))
    s = Q(_t(spark, sf_dir, "supplier")).select(
        F.col("s_suppkey").alias("key"), F.col("s_name").alias("name"))
    return c.concat(s).df


def q_constant_scan(spark, sf_dir):
    """Roadmap Constant Scan (README.md:83)."""
    return Q.constant_scan(
        spark, [(1, "a"), (2, "b"), (3, "c")], "id long, tag string"
    ).df


def q_semi_join(spark, sf_dir):
    """Left-semi join (capability beyond reference, SURVEY §2.3 gap)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        Q(c).join(o, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .df
    )


def q_anti_join(spark, sf_dir):
    """Customers with no URGENT-priority order. The right side is
    filtered before the anti-join so the result is non-empty at every
    test scale (the generator gives every customer at least one order,
    so an unfiltered customer-vs-orders anti-join is vacuously empty —
    a 0-row result would make the oracle's value-hash comparison
    trivial)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT")
    return (
        Q(c).join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .df
    )


def q_outer_join(spark, sf_dir):
    """Left outer join with null-preserving aggregation."""
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    return (
        Q(n).join(s, F.col("n_nationkey") == F.col("s_nationkey"), "left")
        .group_agg(["n_name"], [F.count(F.col("s_suppkey")).alias("n_suppliers")])
        .df
    )


def q_multi_join(spark, sf_dir):
    """Join chain across 4 tables (region→nation→customer→orders):
    broadcast dims, shuffle fact — TPC-H Q5 shape."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        Q(o)
        .hash_match(Q(c), "o_custkey", "c_custkey", broadcast_build=True)
        .hash_match(Q(n), "c_nationkey", "n_nationkey", broadcast_build=True)
        .hash_match(Q(r), "n_regionkey", "r_regionkey", broadcast_build=True)
        .group_agg(["r_name"], [money_sum(F.col("o_totalprice"), "revenue"),
                                F.count(F.lit(1)).alias("n_orders")])
        .df
    )


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: segment-filtered customer x orders x lineitem,
    revenue per order, top 10. Catalyst broadcast-joins the filtered
    customer side; revenue is exact (scaled-long)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-01-01"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(decimal_sum(disc_price, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: six-way join (region->nation->customer->orders->
    lineitem->supplier) with the 'local supplier' residual
    (c_nationkey = s_nationkey); revenue per nation."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01")))
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(c), (F.col("o_custkey") == F.col("c_custkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(decimal_sum(disc_price, "revenue"))
    )


def q_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: revenue lost to returns per customer, top 20."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(decimal_sum(disc_price, "revenue"),
             F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q_late_shipment_priority(spark, sf_dir):
    """TPC-H Q4 shape: count orders per priority having at least one line
    shipped after the order date — a decorrelated EXISTS (left-semi join
    with a non-equi residual); no per-order subquery rescans."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-07-01")))
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(li, (F.col("l_orderkey") == F.col("o_orderkey"))
               & (F.col("l_shipdate") > F.col("o_orderdate")), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: promo revenue ratio for one ship-month. Broadcast
    part dim; both sums exact scaled-long so the double ratio is
    bit-identical to the oracle."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01")))
    p = _t(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), disc_price).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(decimal_sum(promo, "promo_rev"), decimal_sum(disc_price, "total_rev"))
        .select((F.lit(100.0) * F.col("promo_rev") / F.col("total_rev"))
                .alias("promo_revenue"))
    )


def q_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: customers with orders whose total quantity exceeds
    a threshold (aggregate IN-subquery -> semi join on the pre-aggregated
    key set), top 20. Quantity sums are scaled-long exact."""
    big = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(decimal_sum(F.col("l_quantity"), "total_qty"))
        .filter(F.col("total_qty") > 250.0)
    )
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "total_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


def q_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: bilateral shipping volume between two nation pairs —
    lineitem joined to BOTH a supplier-nation and a customer-nation axis
    (two independent broadcast-dim chains meeting on the fact table),
    grouped by (supp_nation, cust_nation, year)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    pair_ok = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair_ok)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                         "revenue"))
    )


def q_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit by supplier nation x order year for parts
    matching a name pattern — star join with two broadcast dims and a
    filter that prunes the part side before the fact join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                         "profit"))
    )


def q_priority_shipments(spark, sf_dir):
    """TPC-H Q12 shape: conditional counts after a fact-fact join —
    high/low order-priority lineitem tallies per linestatus."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") >= F.lit(datetime.date(1997, 1, 1)))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


def q_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: distribution of orders-per-customer — LEFT outer
    join (zero-order customers kept), two-level aggregation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q_supplier_part_count(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier counts per part attribute with a
    NOT-filter on the dim — distinct agg over a join, top 20."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3") & ~F.col("p_type").like("PROMO%"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), F.col("p_brand"),
                 F.col("p_type"), F.col("p_size"))
        .limit(20)
    )


def q_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: yearly revenue lost to small-quantity orders — a
    per-part AVG subquery joined back to the fact table (decorrelated:
    one extra aggregate, no per-row subquery execution)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#5")
    avg_qty = (
        li.groupBy(F.col("l_partkey").alias("ap_partkey"))
        .agg((F.round(F.avg("l_quantity"), 6)).alias("avg_qty"))
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(avg_qty), F.col("l_partkey") == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((decimal_sum(F.col("l_extendedprice"), "_s") / 7.0).alias("avg_yearly"))
        .select(F.round(F.col("avg_yearly"), 4).alias("avg_yearly"))
    )


def q_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: OR-of-ANDs predicate spanning both join sides —
    Catalyst extracts the common l_partkey=p_partkey conjunct so the join
    stays an equi-join (no cartesian) with the disjunction as a residual
    filter."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    branch1 = ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15))
               & (F.col("l_quantity").between(1, 21)))
    branch2 = ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(1, 25))
               & (F.col("l_quantity").between(10, 30)))
    branch3 = ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(1, 35))
               & (F.col("l_quantity").between(20, 40)))
    return (
        joined.filter(branch1 | branch2 | branch3)
        .agg(decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                         "revenue"))
    )


def q_late_only_supplier(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on
    multi-supplier orders — one EXISTS (another supplier on the order) and
    one NOT EXISTS (another LATE supplier), both decorrelated to
    aggregate-and-broadcast-join form ('late' = shipped >60 days after
    order date; the testdata has no commit/receipt dates)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)
    lo = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey", "l_suppkey", late.alias("is_late"))
    # EXISTS / NOT EXISTS as window aggregates over the one l_orderkey
    # partition instead of an aggregate-and-join-back (r13, guide §2.4
    # duplicated subtrees): the join-back form executed the
    # lineitem x orders join subtree TWICE (once under the per-order
    # aggregate, once as the probe side — ReuseExchange cannot dedup
    # across the broadcast boundary). count_distinct isn't a window
    # aggregate, so both counts are size(collect_set(...)) over the
    # full-partition frame — same values, one exchange, one pass.
    from pyspark.sql import Window

    w = Window.partitionBy("l_orderkey")
    flagged = lo.select(
        "l_orderkey", "l_suppkey", "is_late",
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supp"),
        F.size(F.collect_set(F.when(F.col("is_late"), F.col("l_suppkey")))
               .over(w)).alias("n_late_supp"))
    return (
        flagged.filter(F.col("is_late") & (F.col("n_supp") > 1)
                       & (F.col("n_late_supp") == 1))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count_distinct("l_orderkey").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


def q_idle_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape: positive-balance global average (scalar subquery,
    broadcast as a 1-row cross join) + anti join against recent orders
    (every testdata customer has SOME order, so 'inactive' = none since
    2001), grouped by nation."""
    c = _t(spark, sf_dir, "customer")
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01"))
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.round(F.avg("c_acctbal"), 6).alias("avg_bal"))
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("numcust"),
             money_sum(F.col("c_acctbal"), "totacctbal"))
    )


def q_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: revenue increase from discount forecasting — one
    tight scan with every predicate pushed to parquet (year range on
    l_shipdate, discount band, quantity cap) and a single global
    scaled-long sum. The canonical 'is the filter pushed down' query:
    ReadSchema is 4 columns, PushedFilters carries all 5 bounds."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24.0))
        .agg(decimal_sum(
            F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


def q_conversion_ci(spark, sf_dir):
    """Per-arm conversion rates with Wilson 95% intervals
    (db_spark/analytics.py: wilson_bounds) over the same salted-hash
    arms and purchase>400 conversion as ab_test — the per-variant
    readout with honest small-n uncertainty; the z constant enters as
    a product of double literals on both engines."""
    from db_spark.analytics import ab_arms, wilson_bounds

    ev = _t(spark, sf_dir, "events")
    arms = ab_arms(ev, (F.col("event_type") == "purchase")
                   & (F.col("value") > 400))
    lo, hi = wilson_bounds(F.col("n_conv"), F.col("n_users"))
    return arms.select(
        "arm", "n_users", "n_conv",
        F.round(F.col("n_conv").cast("double")
                / F.col("n_users").cast("double"), 6).alias("rate"),
        lo.alias("ci_lo"), hi.alias("ci_hi"))


def q_survival(spark, sf_dir):
    """Kaplan-Meier user-lifetime curve (db_spark/analytics.py:
    survival_curve): per-user active-span HOURS (epoch-second
    composition — TZ-free on TIMESTAMP_NTZ, exact integers), churned =
    last activity more than 24h before the corpus horizon (else
    right-censored). Aggregate-first discipline: the KM product runs
    as one in-row fold over the |distinct durations| table; the
    oracle steps the identical recursion as a recursive CTE."""
    from db_spark import analytics as lan

    def _es(c):
        return (F.datediff(F.to_date(c), F.to_date(F.lit("1970-01-01")))
                .cast("long") * 86400
                + F.hour(c).cast("long") * 3600
                + F.minute(c).cast("long") * 60
                + F.second(c).cast("long"))

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("_first"), F.max("ts").alias("_last"))
    horizon = per_user.agg(F.max("_last").alias("_H"))
    subj = (
        per_user.crossJoin(F.broadcast(horizon))
        .select(
            (_es(F.col("_last")) - _es(F.col("_first"))).alias("_gap_s"),
            (F.col("_last") < F.col("_H") - F.expr("INTERVAL 24 HOUR"))
            .cast("long").alias("_ev"))
        .select(F.expr("_gap_s div 3600").cast("long").alias("_dur"),
                "_ev")
    )
    return lan.survival_curve(subj, "_dur", "_ev")


def q_ab_test(spark, sf_dir):
    """Two-proportion A/B readout (db_spark/analytics.py: ab_test):
    hash-stable variant assignment (salted md5 — same user, same arm,
    on any engine), conversion = "ever made a purchase over 400"
    (every user has SOME purchase here — an all-converters pool has
    undefined z, the guard ab_test also carries), pooled z statistic
    in one IEEE-shared double expression (sqrt is correctly rounded
    everywhere)."""
    from db_spark import analytics as lan

    ev = _t(spark, sf_dir, "events")
    return lan.ab_test(
        ev, (F.col("event_type") == "purchase") & (F.col("value") > 400))


def q_top_paths(spark, sf_dir):
    """Top user-journey prefixes: each user's first three events
    ((ts, id)-ordered — deterministic adjacency) joined into a path
    string, counted, top-20 by TakeOrderedAndProject with path
    tiebreak. The n-gram complement of the 1-step transition
    matrix."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first3 = (ev.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") <= 3))
    paths = first3.groupBy("user_id").agg(
        F.concat_ws(
            " > ",
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("_rn").alias("r"),
                             F.col("event_type").alias("t")))),
                lambda s: s.t)).alias("path"))
    return (paths.groupBy("path")
            .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
            .orderBy(F.desc("n_users"), "path").limit(20))


def q_transitions(spark, sf_dir):
    """First-order Markov event-transition matrix (db_spark/
    analytics.py: transition_matrix): adjacent pairs from one per-user
    lag window (id-tiebroken), |types²|-row counts, row-normalized
    probabilities on the tiny matrix."""
    from db_spark import analytics as lan

    return lan.transition_matrix(_t(spark, sf_dir, "events"))


def q_attribution(spark, sf_dir):
    """Last-touch attribution (db_spark/analytics.py: attribution):
    every purchase credits the most recent view/click strictly before
    it — one per-user window pass carrying the touch struct with
    ignorenulls (never a conversions x touches self-join), id-tiebroken
    timestamps, NULL bucket for unattributed conversions kept. Output
    aggregates credited conversions and exact-cent value per touch
    type."""
    from db_spark import analytics as lan

    ev = _t(spark, sf_dir, "events")
    att = lan.attribution(ev, ["view", "click"], "purchase")
    return (
        att.groupBy("touch_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_conversions"),
             (F.sum(F.round(F.col("value") * 100).cast("long"))
              .cast("double") / 100.0).alias("attributed_value"))
    )


def q_rolling_corr(spark, sf_dir):
    """Rolling 24-point Pearson correlation between hourly click and
    purchase value totals (db_spark/analytics.py: rolling_corr): the
    five sufficient statistics are window sums of EXACT integers —
    bit-identical frames on any engine, unlike double window sums —
    with the correlation finale one shared double expression."""
    from db_spark import analytics as lan

    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_ts"))
        .agg((F.sum(F.when(F.col("event_type") == "click", cents)
                    .otherwise(F.lit(0))).cast("double") / 100.0)
             .alias("_x"),
             (F.sum(F.when(F.col("event_type") == "purchase", cents)
                    .otherwise(F.lit(0))).cast("double") / 100.0)
             .alias("_y")))
    return lan.rolling_corr(hourly, "hour_ts", "_x", "_y",
                            window_rows=24)


def q_cusum(spark, sf_dir):
    """CUSUM change detection (db_spark/analytics.py:
    cusum_changepoints) on per-type hourly event value: the
    reset-at-zero recursion expressed as cumsum minus running min over
    exact integer cents — window-only, no fold — with the per-key
    integer-floored mean as the in-control target. Returns breach rows
    (threshold 3000, drift 0)."""
    from db_spark import analytics as lan

    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("event_type",
                   F.date_trunc("hour", F.col("ts")).alias("hour_ts"))
        .agg((F.sum(F.round(F.col("value") * 100).cast("long"))
              .cast("double") / 100.0).alias("_v")))
    return lan.cusum_changepoints(hourly, "event_type", "hour_ts", "_v",
                                  threshold=3000.0)


def q_linreg(spark, sf_dir):
    """Grouped OLS (db_spark/analytics.py: linreg): extendedprice ~
    quantity per return flag. The five sufficient statistics accumulate
    as exact 128-bit integers (order-independent at any parallelism);
    only the |groups|-row finale runs in DOUBLE, as one fixed op
    sequence both engines share."""
    from db_spark import analytics as lan

    li = _t(spark, sf_dir, "lineitem")
    return lan.linreg(li, ["l_returnflag"], "l_quantity",
                      "l_extendedprice")


def q_holt_forecast(spark, sf_dir):
    """Holt linear-trend forecast (db_spark/analytics.py: holt_forecast)
    of monthly order revenue per order priority: exact cent-BIGINT
    monthly sums, then the inherently-sequential Holt recursion runs as
    ONE in-row left-to-right fold over each key's collected series —
    dyadic alpha=beta=0.5 so DuckDB's list_reduce replays the identical
    IEEE op sequence bit-for-bit."""
    from db_spark import analytics as lan

    o = _t(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            "o_orderpriority",
            F.date_trunc("month", F.col("o_orderdate")).alias("_m"))
        .agg((F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
              .cast("double") / 100.0).alias("_v")))
    return lan.holt_forecast(monthly, "o_orderpriority", "_m", "_v",
                             alpha=0.5, beta=0.5, horizon=3)


def q_holt_backtest(spark, sf_dir):
    """Forecast backtest (db_spark/analytics.py: holt_backtest): Holt
    fitted on all but the last 3 months of per-priority revenue,
    holdout MAE vs the naive last-value baseline as a skill ratio.
    Same fold discipline as holt_forecast; the oracle bounds the
    recursive CTE to the train prefix and sums the three error terms
    in the identical left-to-right order."""
    from db_spark import analytics as lan

    o = _t(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            "o_orderpriority",
            F.date_trunc("month", F.col("o_orderdate")).alias("_m"))
        .agg((F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
              .cast("double") / 100.0).alias("_v")))
    return lan.holt_backtest(monthly, "o_orderpriority", "_m", "_v",
                             holdout=3)


def q_market_share(spark, sf_dir):
    """TPC-H Q8 shape: NATION_7's share of STANDARD-part revenue sold to
    region-2 customers, by order year. All four dims broadcast; the
    numerator is a conditional scaled-long sum over the same joined
    scan as the denominator — one pass, one final two-row aggregate.
    The share is a double ratio of two exact sums, bit-identical on
    any engine."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    cust_nation = c.join(
        F.broadcast(n.join(r, F.col("n_regionkey") == F.col("r_regionkey"))
                    .filter(F.col("r_regionkey") == 2).select("n_nationkey")),
        F.col("c_nationkey") == F.col("n_nationkey"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    supp_nation = s.join(
        F.broadcast(n.select(F.col("n_nationkey").alias("sn_key"),
                             F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sn_key"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust_nation.select("c_custkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_nation.select("s_suppkey", "supp_nation")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            decimal_sum(F.when(F.col("supp_nation") == "NATION_7", vol)
                        .otherwise(F.lit(0.0)), "nation_rev"),
            decimal_sum(vol, "total_rev"))
        .select(
            "o_year",
            F.round(F.col("nation_rev") / F.col("total_rev"), 6)
            .alias("mkt_share"))
    )


def q_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: supplier(s) achieving the maximum quarterly
    revenue. Per-supplier scaled-long sums, then a scalar-subquery max
    joined back — Catalyst plans the max as a broadcast single-row
    join, no second scan of lineitem (the agg is reused)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01")))
    rev = (
        li.groupBy("l_suppkey")
        .agg(decimal_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")),
            "total_rev"))
    )
    s = _t(spark, sf_dir, "supplier")
    mx = rev.agg(F.max("total_rev").alias("_mx"))
    return (
        rev.join(F.broadcast(mx), F.col("total_rev") == F.col("_mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
    )


def q_dq_report(spark, sf_dir):
    """Declarative data-quality suite (db_spark/quality.py): seven
    rules over orders/lineitem — not-null, accepted-values, range,
    uniqueness, referential integrity, and two custom expectations,
    one of which genuinely fails (small orders exist) so the report
    exercises the non-zero path. All row-local rules fold into ONE
    conditional-aggregate scan; unique is one hash aggregate; the FK
    check is a broadcast anti-join count."""
    from db_spark import quality as dq

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rules = [
        dq.not_null("custkey_not_null", "o_custkey"),
        dq.accepted_values("status_domain", "o_orderstatus",
                           ["O", "F", "P"]),
        dq.in_range("price_range", "o_totalprice", 0.0, 600000.0),
        dq.custom("no_small_orders",
                  F.col("o_totalprice") >= 1000.0),  # fails: count > 0
        dq.unique("orderkey_unique", "o_orderkey"),
    ]
    report = dq.dq_report(o, rules)
    fk = dq.dq_report(li, [
        dq.foreign_key("lineitem_fk_orders", "l_orderkey", o,
                       "o_orderkey"),
        dq.custom("qty_positive", F.col("l_quantity") > 0),
    ])
    return report.unionByName(fk)


def q_twap(spark, sf_dir):
    """Time-weighted average (db_spark/analytics.py:time_weighted_avg):
    per event type, each sampled value weighted by the seconds it was
    in force - the honest mean for gauges, where the arithmetic mean
    over-weights rapid-sample bursts. Integer cent-second products,
    one divide; one key-ordered window + a |keys|-row aggregate."""
    from db_spark import analytics

    ev = _t(spark, sf_dir, "events")
    return analytics.time_weighted_avg(ev, ["event_type"])


def q_winsorize(spark, sf_dir):
    """Winsorized robust summary (db_spark/analytics.py:winsorize):
    l_extendedprice clipped into each return flag's exact [p01, p99]
    band, then a scaled-BIGINT mean over the clipped values plus clip
    counts. Bounds are a |groups|-row percentile aggregate broadcast
    onto one clipping scan; the percentile parity is the
    exact_percentiles precedent."""
    from db_spark import analytics

    li = _t(spark, sf_dir, "lineitem")
    w = analytics.winsorize(li, "l_extendedprice", ["l_returnflag"],
                            lo=0.01, hi=0.99)
    return (
        w.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
             F.sum("_clipped_lo").cast("long").alias("n_clipped_lo"),
             F.sum("_clipped_hi").cast("long").alias("n_clipped_hi"),
             F.round(
                 F.sum(F.round(F.col("l_extendedprice_w") * 100)
                       .cast("long")).cast("double")
                 / (100.0 * F.count(F.lit(1))), 4).alias("winsorized_mean"))
    )


def q_seasonal_anomalies(spark, sf_dir):
    """Seasonality-aware anomaly flags (db_spark/analytics.py:
    seasonal_anomalies): hourly event values whose RESIDUAL z-score
    (after removing trend and hour-of-day seasonality) exceeds 2.5 -
    the alert a raw z-score fires wrongly every peak hour. Residual
    moments in milli-scaled BIGINT; one extra |keys|-row aggregate on
    top of the decomposition."""
    from db_spark import analytics

    ev = _t(spark, sf_dir, "events")
    pos = (F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
           .cast("long") * 24 + F.hour("ts").cast("long"))
    hourly = (
        ev.groupBy("event_type", pos.alias("pos"))
        .agg((F.sum(F.round(F.col("value") * 100).cast("long"))
              .cast("double") / 100.0).alias("hourly_value"))
    )
    return analytics.seasonal_anomalies(
        hourly, ["event_type"], "pos", "hourly_value",
        period=24, trend_window=5, threshold=2.5)


def q_seasonal_decompose(spark, sf_dir):
    """STL-lite decomposition (db_spark/analytics.py:
    seasonal_decompose): hourly event value per type split into trend
    (centered moving average over scaled-BIGINT window sums — double
    window sums are summation-order-dependent, integer ones are not),
    hour-of-day seasonal (nano-rounded detrended means), and residual.
    The decomposition runs on the |types × hours| series, not the raw
    events; every value is engine-reproducible."""
    from db_spark import analytics

    ev = _t(spark, sf_dir, "events")
    pos = (F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
           .cast("long") * 24 + F.hour("ts").cast("long"))
    hourly = (
        ev.groupBy("event_type", pos.alias("pos"))
        .agg((F.sum(F.round(F.col("value") * 100).cast("long"))
              .cast("double") / 100.0).alias("hourly_value"))
    )
    return analytics.seasonal_decompose(
        hourly, ["event_type"], "pos", "hourly_value",
        period=24, trend_window=5)


def q_interval_join(spark, sf_dir):
    """Interval-overlap join (db_spark/operators/__init__.py:
    interval_join): pairs of same-customer orders whose 30-day
    activity windows overlap. Both sides explode into 32-day bins and
    equi-join on (custkey, bin); a long overlap is counted once via
    the first-shared-bin predicate - candidate pairs scale with bin
    occupancy, never orders x orders. The oracle runs the naive theta
    join; value-hash equality proves the binned plan loses and
    duplicates nothing."""
    from db_spark.operators import interval_join

    o = _t(spark, sf_dir, "orders")
    days = F.datediff(F.to_date("o_orderdate"),
                      F.to_date(F.lit("1970-01-01"))).cast("long")
    base = o.select("o_orderkey", "o_custkey", days.alias("_lo"),
                    (days + 30).alias("_hi"))
    a = base.select(F.col("o_orderkey").alias("key_a"),
                    F.col("o_custkey").alias("custkey"),
                    F.col("_lo").alias("a_lo"), F.col("_hi").alias("a_hi"))
    b = base.select(F.col("o_orderkey").alias("key_b"),
                    F.col("o_custkey").alias("custkey"),
                    F.col("_lo").alias("b_lo"), F.col("_hi").alias("b_hi"))
    out = interval_join(a, b, "a_lo", "a_hi", "b_lo", "b_hi",
                        bin_width=32.0, equi_keys=["custkey"])
    return (
        out.filter(F.col("key_a") < F.col("key_b"))
        .select("custkey", "key_a", "key_b",
                (F.least("a_hi", "b_hi")
                 - F.greatest("a_lo", "b_lo")).cast("long")
                .alias("overlap_days"))
    )


def q_gapfill_locf(spark, sf_dir):
    """Time-series resampling: hourly event-count/value grid per
    event_type over one day, with missing hours generated
    (``sequence`` + explode of the hour range x the type dimension)
    and the value series gap-filled by last-observation-carried-forward
    (``last(_, ignorenulls)`` over an ordered window). The grid is
    |types x hours| — dashboard-sized — so the only data-sized work is
    the first hourly aggregate; the LOCF window runs on the tiny grid,
    partitioned by type. Counts fill with 0, LOCF leads with NULL until
    the first observation."""
    ev = _t(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.lit("2024-01-03 00:00:00"))
        & (F.col("ts") < F.lit("2024-01-04 00:00:00")))
    hourly = (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
                   "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
             decimal_sum(F.col("value"), "sum_value", 2))
    )
    hours = spark.range(24).select(
        (F.to_timestamp(F.lit("2024-01-03 00:00:00"))
         + F.col("id").cast("int") * F.expr("INTERVAL 1 HOUR"))
        .alias("hour_ts"))
    types = ev.select("event_type").distinct()
    grid = hours.crossJoin(types)
    from pyspark.sql import Window

    w = (Window.partitionBy("event_type").orderBy("hour_ts")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        grid.join(hourly, ["hour_ts", "event_type"], "left")
        .select(
            "hour_ts", "event_type",
            F.coalesce(F.col("n_events"), F.lit(0)).cast("long")
            .alias("n_events"),
            F.last("sum_value", ignorenulls=True).over(w)
            .alias("locf_sum_value"),
            F.col("sum_value").isNull().alias("is_gap"))
    )


def q_gapfill_interp(spark, sf_dir):
    """Linear-interpolation gap fill on the same hourly grid as
    q_gapfill_locf: missing hours get prev + (next - prev) * elapsed /
    span, where prev/next are the nearest observed values (IGNORE NULLS
    window scans in both directions) and the positions are integer hour
    indexes — the identical arithmetic renders in the oracle.
    Leading/trailing gaps (no bracket on one side) stay NULL. Same
    scale shape as LOCF: only the first hourly aggregate is data-sized;
    both window passes run on the |types x 24| grid."""
    ev = _t(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.lit("2024-01-03 00:00:00"))
        & (F.col("ts") < F.lit("2024-01-04 00:00:00")))
    hourly = (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
                   "event_type")
        .agg(decimal_sum(F.col("value"), "sum_value", 2))
    )
    hours = spark.range(24).select(
        (F.to_timestamp(F.lit("2024-01-03 00:00:00"))
         + F.col("id").cast("int") * F.expr("INTERVAL 1 HOUR"))
        .alias("hour_ts"))
    types = ev.select("event_type").distinct()
    grid = hours.crossJoin(types)
    from pyspark.sql import Window

    back = (Window.partitionBy("event_type").orderBy("hour_ts")
            .rowsBetween(Window.unboundedPreceding, 0))
    fwd = (Window.partitionBy("event_type").orderBy("hour_ts")
           .rowsBetween(0, Window.unboundedFollowing))
    g = (
        grid.join(hourly, ["hour_ts", "event_type"], "left")
        .withColumn("_h", F.hour("hour_ts").cast("long"))
        .withColumn("_obs_h", F.when(F.col("sum_value").isNotNull(),
                                     F.col("_h")))
        .withColumn("_pv", F.last("sum_value", ignorenulls=True).over(back))
        .withColumn("_ph", F.last("_obs_h", ignorenulls=True).over(back))
        .withColumn("_nv", F.first("sum_value", ignorenulls=True).over(fwd))
        .withColumn("_nh", F.first("_obs_h", ignorenulls=True).over(fwd))
    )
    interp = (
        F.col("_pv")
        + (F.col("_nv") - F.col("_pv"))
        * ((F.col("_h") - F.col("_ph")).cast("double")
           / (F.col("_nh") - F.col("_ph")).cast("double"))
    )
    return g.select(
        "hour_ts", "event_type",
        F.col("sum_value").isNull().alias("is_gap"),
        F.round(F.when(F.col("sum_value").isNotNull(), F.col("sum_value"))
                .otherwise(interp), 6).alias("interp_value"),
    )


def q_mad_outliers(spark, sf_dir):
    """Robust outlier counts per event_type: median / MAD computed by
    EXPLICIT rank positions (middle-two average) over integer cents, so
    both engines produce bit-identical medians — no reliance on an
    engine's percentile interpolation flavor. Outlier rule: |x - med| >
    3 * 1.4826 * MAD (the normal-consistent MAD scale). Two group-keyed
    sorts; the exceedance count is a residual on the same exchange."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    c = ev.select("event_type",
                  F.round(F.col("value") * 100).cast("long").alias("_c"))
    # row_number among equal cents is tie-arbitrary, but the VALUE at
    # any rank position is the sorted multiset's — deterministic
    ranked = c.withColumn("_rn", F.row_number().over(
        Window.partitionBy("event_type").orderBy("_c")))
    nn = ranked.groupBy("event_type").agg(F.max("_rn").alias("_n"))
    mid = (
        ranked.join(F.broadcast(nn), "event_type")
        .filter((F.col("_rn") == F.floor((F.col("_n") + 1) / 2))
                | (F.col("_rn") == F.floor(F.col("_n") / 2) + 1))
        .groupBy("event_type")
        .agg(((F.min("_c") + F.max("_c")) / 2.0).alias("_med"))
    )
    dev = (
        c.join(F.broadcast(mid), "event_type")
        .select("event_type", "_c", "_med",
                F.abs(F.col("_c").cast("double") - F.col("_med"))
                .alias("_dev"))
    )
    dranked = dev.withColumn("_rn", F.row_number().over(
        Window.partitionBy("event_type").orderBy("_dev")))
    dmid = (
        dranked.join(F.broadcast(nn), "event_type")
        .filter((F.col("_rn") == F.floor((F.col("_n") + 1) / 2))
                | (F.col("_rn") == F.floor(F.col("_n") / 2) + 1))
        .groupBy("event_type")
        .agg(((F.min("_dev") + F.max("_dev")) / 2.0).alias("_mad"))
    )
    return (
        dev.join(F.broadcast(dmid), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.max("_med") / 100.0, 6).alias("median_value"),
            F.round(F.max("_mad") / 100.0, 6).alias("mad_value"),
            F.sum(F.when(
                F.col("_dev") > F.lit(3.0) * F.lit(1.4826) * F.col("_mad"),
                1).otherwise(0)).cast("long").alias("n_outliers"),
        )
    )


def q_skew_profile(spark, sf_dir):
    """Join-key skew profiler (db_spark/quality.py: skew_profile) on
    lineitem's supplier key: top-10 hot keys + share and hot/average
    multiplier — the pre-shuffle check that tells you whether a key
    needs salting before a 100 TB join. TakeOrderedAndProject top-k,
    single-row total broadcast, no global sort."""
    from db_spark.quality import skew_profile

    return skew_profile(_t(spark, sf_dir, "lineitem"), "l_suppkey",
                        top_k=10)


def q_benford(spark, sf_dir):
    """Benford first-digit audit (db_spark/quality.py: benford_audit)
    of order totals: map-only digit extraction + a 9-cell aggregate;
    expected shares are integer-ppb literals (no libm log at query
    time on either engine), chi-square terms nano-round into BIGINT
    before the total."""
    from db_spark.quality import benford_audit

    return benford_audit(_t(spark, sf_dir, "orders"), "o_totalprice")


def q_entity_resolution(spark, sf_dir):
    """End-to-end entity resolution over part names — the relational ER
    counterpart of curate_corpus's document pipeline: block on the
    DISTINCT-name dictionary (fuzzy_join discipline: similarity never
    touches the row set), match edges = names within Levenshtein 2
    under a length band, cluster with min-label connected components
    (db_spark/llm/dedup.py: connected_components), then give every
    part row its entity id (cluster-min name-node id; singleton names
    keep their own). Oracle replays blocking + matching and resolves
    components with a recursive reachability CTE."""
    from db_spark.llm import dedup as ldedup

    p = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    names = p.groupBy("p_name").agg(F.min("p_partkey").alias("_nid"))
    a = names.select(F.col("p_name").alias("_na"),
                     F.col("_nid").alias("_ida"))
    b = names.select(F.col("p_name").alias("_nb"),
                     F.col("_nid").alias("_idb"))
    edges = (
        a.join(F.broadcast(b), F.col("_ida") < F.col("_idb"))
        .filter(F.abs(F.length("_na") - F.length("_nb")) <= 2)
        .filter(F.levenshtein("_na", "_nb") <= 2)
        .select(F.col("_ida").alias("id_a"), F.col("_idb").alias("id_b"))
    )
    clusters = ldedup.connected_components(edges)
    return (
        p.join(names, "p_name")
        .join(clusters.withColumnRenamed("doc_id", "_nid"), "_nid", "left")
        .select("p_partkey",
                F.coalesce("cluster_id", "_nid").alias("entity_id"))
    )


def q_fuzzy_join(spark, sf_dir):
    """Dictionary-blocked fuzzy self-join: part-name pairs within
    Levenshtein distance 4. The 100 TB design point: similarity runs on
    the DISTINCT-name dictionary (vocabulary-sized — 64 names here,
    ~100k in real catalogs), never on the row set; each dictionary name
    joins back to its row count. The dictionary pair-join is dictionary
    x dictionary with a length-band prefilter (|len(a)-len(b)| <= 4
    bounds candidates before the edit-distance evaluates), broadcast on
    both sides — zero shuffles over the fact table beyond the distinct."""
    p = _t(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"))
    a = names.select(F.col("p_name").alias("name_a"),
                     F.col("n_parts").alias("n_a"))
    b = names.select(F.col("p_name").alias("name_b"),
                     F.col("n_parts").alias("n_b"))
    return (
        a.join(F.broadcast(b), F.col("name_a") < F.col("name_b"))
        .filter(F.abs(F.length("name_a") - F.length("name_b")) <= 4)
        .filter(F.levenshtein("name_a", "name_b") <= 4)
        .select("name_a", "name_b",
                F.levenshtein("name_a", "name_b").alias("edit_dist"),
                "n_a", "n_b")
    )


def q_profile_table(spark, sf_dir):
    """Column profiling (the DESCRIBE/data-quality sweep every pipeline
    runs before training): per-column row count, null count, distinct
    count, min/max — one scan per profiled column family, emitted as a
    uniform (column, n_rows, n_nulls, n_distinct, min_val, max_val)
    relation. Numeric min/max render through DECIMAL(18,2) so the
    string forms are engine-identical."""
    o = _t(spark, sf_dir, "orders")

    def prof(colname, numeric=False):
        c = F.col(colname)
        mn, mx = F.min(c), F.max(c)
        if numeric:
            mn = mn.cast(T.DecimalType(18, 2))
            mx = mx.cast(T.DecimalType(18, 2))
        return o.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(c.isNull(), 1).otherwise(0)).cast("long")
            .alias("n_nulls"),
            F.count_distinct(c).cast("long").alias("n_distinct"),
            mn.cast("string").alias("min_val"),
            mx.cast("string").alias("max_val"),
        ).select(F.lit(colname).alias("col_name"), "*")

    return (
        prof("o_orderkey")
        .unionByName(prof("o_custkey"))
        .unionByName(prof("o_orderstatus"))
        .unionByName(prof("o_orderpriority"))
        .unionByName(prof("o_totalprice", numeric=True))
    )


def q_chi2_independence(spark, sf_dir):
    """Chi-square independence test between two categorical columns
    (order status x priority) — the data-quality check for "did this
    column drift against that one". Counts are exact integers; expected
    frequencies and per-cell terms are one fixed IEEE chain; each term
    is rounded to nano-units and summed as BIGINT, so the statistic is
    order-independent (a plain double sum over cells would depend on
    reduction order). Contingency table is |status x priority| —
    dashboard-sized however many rows feed it."""
    o = _t(spark, sf_dir, "orders")
    cells = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("_n"))
    rows = cells.groupBy("o_orderstatus").agg(
        F.sum("_n").cast("long").alias("_rn"))
    colsum = cells.groupBy("o_orderpriority").agg(
        F.sum("_n").cast("long").alias("_cn"))
    tot = cells.agg(F.sum("_n").cast("long").alias("_t"))
    exp = (F.col("_rn").cast("double") * F.col("_cn").cast("double")
           / F.col("_t").cast("double"))
    d = F.col("_n").cast("double") - exp
    term = (d * d) / exp  # d*d, not pow(d,2): pow is libm-dependent
    return (
        cells.join(F.broadcast(rows), "o_orderstatus")
        .join(F.broadcast(colsum), "o_orderpriority")
        .join(F.broadcast(tot))
        .select(F.round(term * 1e9).cast("long").alias("_tn"),
                "_t")
        .agg(
            F.max("_t").alias("n_rows"),
            (F.sum("_tn").cast("double") / 1e9).alias("chi2_times_1"),
        )
        .select("n_rows", F.round(F.col("chi2_times_1"), 6).alias("chi2"))
    )


def q_entropy_profile(spark, sf_dir):
    """Shannon entropy (bits) per categorical column — the
    concentration/diversity profile of a mixture. p = n/N is exact
    rational-to-double; -p*log2(p) terms round to nano-units and sum as
    BIGINT (same order-independence discipline as chi2). One count
    aggregate per column; the entropy sum runs over |values| rows."""
    o = _t(spark, sf_dir, "orders")

    def ent(name, expr):
        counts = o.select(expr.alias("_v")).groupBy("_v").agg(
            F.count(F.lit(1)).cast("long").alias("_n"))
        tot = counts.agg(F.sum("_n").cast("long").alias("_t"))
        p = F.col("_n").cast("double") / F.col("_t").cast("double")
        term = -p * F.log2(p)
        return (
            counts.join(F.broadcast(tot))
            .select(F.round(term * 1e9).cast("long").alias("_tn"), "_t")
            .agg(F.max("_t").alias("n_rows"),
                 F.count(F.lit(1)).cast("long").alias("n_values"),
                 F.round(F.sum("_tn").cast("double") / 1e9, 6)
                 .alias("entropy_bits"))
            .select(F.lit(name).alias("col_name"), "n_rows",
                    "n_values", "entropy_bits")
        )

    return (
        ent("o_orderstatus", F.col("o_orderstatus"))
        .unionByName(ent("o_orderpriority", F.col("o_orderpriority")))
        .unionByName(ent("order_year", F.year("o_orderdate").cast("string")))
    )


def q_zscore_outliers(spark, sf_dir):
    """Per-group z-score outlier audit over events.value: mean and
    sample variance are derived from exact integer moments (sum of
    cent-scaled values and their squares — order-independent BIGINT
    adds), so the per-row z-scores and the |z| >= 2.5 outlier counts
    are bit-identical on any engine. Two passes over the step-filtered
    column: one grouped moment aggregate (broadcast back), one scan
    counting exceedances — no window, no sort."""
    ev = _t(spark, sf_dir, "events")
    v100 = F.round(F.col("value") * 100).cast("long")
    moments = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum(v100).alias("s1"),
             F.sum(v100 * v100).alias("s2"))
        .filter(F.col("n") > 1)
        .select(
            "event_type", "n",
            (F.col("s1").cast("double") / F.col("n")).alias("mean100"),
            F.sqrt((F.col("s2").cast("double")
                    - F.col("s1").cast("double") * F.col("s1") / F.col("n"))
                   / (F.col("n") - 1)).alias("sd100"))
    )
    return (
        ev.select("event_type", v100.alias("_v"))
        .join(F.broadcast(moments), "event_type")
        .select("event_type", "n",
                (F.abs(F.col("_v") - F.col("mean100")) / F.col("sd100"))
                .alias("_z"))
        .groupBy("event_type")
        .agg(F.max("n").alias("n_events"),
             F.sum(F.when(F.round(F.col("_z"), 4) >= 2.5, 1).otherwise(0))
             .cast("long").alias("n_outliers"))
    )


def q_copurchase_pairs(spark, sf_dir):
    """Item co-occurrence (recommender building block): top-20 part
    pairs by number of orders containing both. Pairs are enumerated
    within each order's basket (analytics.item_pairs), so the work is
    quadratic only in ORDER size (~4 lines), never in the catalog;
    top-k is TakeOrderedAndProject with a total ordering (count desc,
    then both keys) so the LIMIT boundary is deterministic on any
    engine."""
    from db_spark.analytics import item_pairs

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # pair generation in-array (r13, guide §2.3 aggregate-before-
    # shuffle): collect each order's basket once (one partial-agg
    # exchange of part ids) and emit the a < b pairs from the array,
    # instead of a basket-keyed self-join that shuffles the table
    # twice and re-scans it. collect_list keeps a part repeated within
    # an order, so the pair multiset is the self-join's.
    basket = li.groupBy("l_orderkey").agg(
        F.collect_list("l_partkey").alias("_ps"))
    return (
        basket.select(F.explode(item_pairs("_ps")).alias("_p"))
        .select(F.col("_p.a").alias("part_a"), F.col("_p.b").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


def q_assoc_rules(spark, sf_dir):
    """Market-basket association rules (db_spark/analytics.py:
    association_rules): support / confidence / lift per directed item
    pair over orders-as-baskets, pair candidates only from within each
    basket's item set, min-support pruning before the metric joins,
    top-50 by (lift desc, antecedent, consequent) — all three metrics
    one rounded division from integer counts, engine-exact."""
    from db_spark import analytics as lan

    li = _t(spark, sf_dir, "lineitem")
    return lan.association_rules(li, "l_orderkey", "l_partkey",
                                 min_pair_count=2, top_k=50)


def _copurchase_edges(spark, sf_dir, min_support: int = 2,
                      with_support: bool = False):
    """Oriented (src < dst) part co-purchase pairs sharing at least
    ``min_support`` orders — the edge list every graph query
    (communities / kcore / weighted_paths / triangle_count) builds
    from; one definition so the graphs can't drift apart."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey").distinct()
    a = li.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("_ok"),
                  F.col("l_partkey").alias("dst"))
    ep = (
        a.join(b, (F.col("l_orderkey") == F.col("_ok"))
               & (F.col("src") < F.col("dst")))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_support)
    )
    return ep if with_support else ep.select("src", "dst")


def q_communities(spark, sf_dir):
    """Label-propagation communities (db_spark/graph.py:
    label_propagation) over the part co-purchase graph (pairs sharing
    >= 2 orders): 4 synchronous rounds, exact integer votes with
    min-label tie-breaks, so the result is bit-deterministic and the
    oracle replays the SAME 4 rounds as unrolled CTEs — the community-
    detection counterpart of the unrolled-PageRank contract."""
    from db_spark import graph as lgraph

    return lgraph.label_propagation(
        _copurchase_edges(spark, sf_dir), iterations=4)


def q_kcore(spark, sf_dir):
    """K-core decomposition (db_spark/graph.py: k_core) of the part
    co-purchase graph (pairs sharing >= 2 orders): 3 synchronous peel
    rounds at k=2 — each round drops nodes whose current degree is
    below 2 and induces the survivor subgraph (k=2 keeps the query
    non-vacuous at sf0.1, where the support-thresholded graph has no
    3-core). Pure set arithmetic (no tie-breaks), so fixed-round
    peeling is bit-deterministic and the oracle replays the SAME 3
    rounds as unrolled CTEs; returns (node, degree-in-final-
    subgraph)."""
    from db_spark import graph as lgraph

    return lgraph.k_core(_copurchase_edges(spark, sf_dir),
                         k=2, rounds=3)


def q_weighted_paths(spark, sf_dir):
    """Fixed-round Bellman-Ford SSSP (db_spark/graph.py: bellman_ford)
    over the weighted co-purchase graph (weight = 1e6 div support —
    stronger ties are cheaper): 4 relaxation rounds from the smallest
    part id. Integer min-merge arithmetic, no tie-breaks, so the
    oracle unrolls the identical rounds as CTEs."""
    from db_spark import graph as lgraph

    ep = (_copurchase_edges(spark, sf_dir, with_support=True)
          .select("src", "dst", F.expr("1000000 div _n").alias("weight")))
    edges = ep.unionByName(ep.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"))
    src0 = edges.agg(F.min("src")).collect()[0][0]
    return lgraph.bellman_ford(edges, src0, rounds=4)


def q_triangle_count(spark, sf_dir):
    """Graph analytics: triangle count over the co-purchase graph
    (edges = part pairs co-ordered in >= 2 orders, oriented a < b so
    each triangle counts once). Classic two-join shape: edges(a,b) x
    edges(b,c) forms wedges, closed by a semi-check against edges(a,c)
    — never an all-pairs product; at scale the wedge join is the
    degree-squared term the >= 2 support threshold bounds."""
    from db_spark.analytics import item_pairs
    from db_spark.llm.dedup import _plan_cache

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # in-array pair generation (see q_copurchase_pairs) + a plan cache
    # on the edge table: the wedge/closure joins read edges THREE ways
    # and each consumer re-ran the whole basket pair subtree
    # (r13; sf0.1 noop 2.2 -> 0.2 s, identical n_triangles).
    basket = li.groupBy("l_orderkey").agg(
        F.collect_list("l_partkey").alias("_ps"))
    edges = _plan_cache(
        basket.select(F.explode(item_pairs("_ps")).alias("_p"))
        .select(F.col("_p.a").alias("pa"), F.col("_p.b").alias("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("pa", "pb")
    )
    e1 = edges.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    e2 = edges.select(F.col("pa").alias("b2"), F.col("pb").alias("c"))
    e3 = edges.select(F.col("pa").alias("a3"), F.col("pb").alias("c3"))
    wedges = e1.join(e2, F.col("b") == F.col("b2"))
    tri = wedges.join(
        e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
    return tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


def q_exact_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (p25/median/p75 of
    l_extendedprice per return flag): Spark's exact `percentile` and
    DuckDB's `quantile_cont` both interpolate lower + frac*(upper -
    lower) at rank (n-1)*p, so with the same doubles the results are
    bit-identical; rounded to 4 for belt-and-braces. Exact percentile
    is a per-group sort — at 100 TB use hist_quantiles (bounded-state
    sketch) instead; this is the small-group exact path."""
    li = _t(spark, sf_dir, "lineitem")
    # ONE percentile aggregate with an array of percentages, not three
    # scalar ones (r13, guide §2.3): each scalar `percentile` keeps its
    # OWN value buffer and sorts it, so three expressions tripled the
    # per-group buffer + sort; the array form sorts once and reads all
    # three ranks off the same sorted counts — the per-percentage
    # interpolation code path is identical, so values are bit-identical.
    pctl = F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75))")
    return (
        li.groupBy("l_returnflag")
        .agg(pctl.alias("_p"))
        .select(
            "l_returnflag",
            F.round(F.col("_p")[0], 4).alias("p25"),
            F.round(F.col("_p")[1], 4).alias("median"),
            F.round(F.col("_p")[2], 4).alias("p75"))
    )


def q_price_qty_corr(spark, sf_dir):
    """Pearson correlation of quantity vs extended price per return
    flag, derived from exact integer moments (dime-scaled price,
    cent-scaled quantity) so every double op downstream of the BIGINT
    sums is engine-identical — the built-in `corr` is a float
    accumulation whose partial-aggregation order Spark does not
    guarantee, so it can't cross-check against another engine.
    One grouped aggregate, map-side partials, no second pass."""
    li = _t(spark, sf_dir, "lineitem")
    q100 = F.round(F.col("l_quantity") * 100).cast("long")
    p10 = F.round(F.col("l_extendedprice") * 10).cast("long")
    return (
        li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum(q100).alias("sq"), F.sum(p10).alias("sp"),
             F.sum(q100 * q100).alias("sqq"),
             F.sum(p10 * p10).alias("spp"),
             F.sum(q100 * p10).alias("sqp"))
        .select(
            "l_returnflag", "n",
            # zero-variance group (or n=1): denominator 0 — Spark ANSI
            # throws on the divide where DuckDB NULLs, so guard to NULL
            # on both; greatest(.,0) clamps float -ulp radicands
            # (DuckDB sqrt(negative) ERRORS, Spark returns NaN)
            F.when(
                (F.sqrt(F.greatest(
                    F.col("n").cast("double") * F.col("sqq")
                    - F.col("sq").cast("double") * F.col("sq"),
                    F.lit(0.0)))
                 * F.sqrt(F.greatest(
                     F.col("n").cast("double") * F.col("spp")
                     - F.col("sp").cast("double") * F.col("sp"),
                     F.lit(0.0)))) != 0.0,
                F.round(
                    (F.col("n").cast("double") * F.col("sqp")
                     - F.col("sq").cast("double") * F.col("sp"))
                    / (F.sqrt(F.greatest(
                        F.col("n").cast("double") * F.col("sqq")
                        - F.col("sq").cast("double") * F.col("sq"),
                        F.lit(0.0)))
                       * F.sqrt(F.greatest(
                           F.col("n").cast("double") * F.col("spp")
                           - F.col("sp").cast("double") * F.col("sp"),
                           F.lit(0.0)))),
                    6)).alias("qty_price_corr"))
    )


def q_range_frame_agg(spark, sf_dir):
    """Time-range window frame (RANGE INTERVAL): for each event, the
    count and exact sum of value over the trailing hour within its
    event type — ordered by epoch-microseconds so the frame bound is
    integer arithmetic and RANGE peers (equal timestamps) resolve
    identically on every engine. One shuffle on event_type; the frame
    scan is the windowed sort within each partition."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.lit("2024-01-05 00:00:00"))
        & (F.col("ts") < F.lit("2024-01-06 00:00:00")))
    # ts is TIMESTAMP_NTZ; diff from the naive epoch is tz-independent
    # (unix_micros would force a session-timezone interpretation)
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    w = (Window.partitionBy("event_type").orderBy(us.alias("_us"))
         .rangeBetween(-3_600_000_000, 0))
    v100 = F.round(F.col("value") * 100).cast("long")
    return ev.select(
        "event_id", "event_type", "ts",
        F.count(F.lit(1)).over(w).cast("long").alias("n_trailing_1h"),
        (F.sum(v100).over(w) / 100.0).alias("sum_value_1h"),
    )


def q_fk_integrity(spark, sf_dir):
    """Referential-integrity audit (the constraint check a lake runs
    before publishing): orphan counts for each declared FK edge via
    broadcast left-anti joins against the distinct parent keys — one
    fact scan per edge, parent key sets are dictionary-sized. Emits
    (relation, n_rows, n_orphans) so clean edges still assert their
    row volume."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")

    def audit(child, fk, parent, pk, label):
        keys = parent.select(F.col(pk).alias("_pk")).distinct()
        return (
            child.select(F.col(fk).alias("_fk"))
            .join(F.broadcast(keys), F.col("_fk") == F.col("_pk"), "left")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.sum(F.when(F.col("_pk").isNull(), 1).otherwise(0))
                 .cast("long").alias("n_orphans"))
            .select(F.lit(label).alias("relation"), "n_rows", "n_orphans")
        )

    return (
        audit(li, "l_orderkey", o, "o_orderkey", "lineitem->orders")
        .unionByName(audit(o, "o_custkey", c, "c_custkey", "orders->customer"))
        .unionByName(audit(c, "c_nationkey", n, "n_nationkey",
                           "customer->nation"))
    )


def q_mode_by_group(spark, sf_dir):
    """Most frequent order priority per order status (statistical mode)
    with a total tie-break (max count, then lexicographically smallest
    value) so the answer is unique on any engine. Counts aggregate to
    |status x priority| rows; the row_number window runs on that
    dashboard-sized table."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    counts = (
        o.groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("n"), F.asc("o_orderpriority"))
    return (
        counts.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("o_orderstatus",
                F.col("o_orderpriority").alias("mode_priority"), "n")
    )


def q_rank_funcs(spark, sf_dir):
    """Distribution window functions (the breadth q_window_funcs leaves
    out): ntile, percent_rank, cume_dist over a total per-customer
    order — all integer-ratio doubles, engine-identical; rounded to 6
    as belt-and-braces."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey", "o_custkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


def q_datetime_funcs(spark, sf_dir):
    """Datetime function surface: quarter, ISO week/weekday, month-end,
    month arithmetic, day diffs. Spark's weekday() is Monday=0 and
    DuckDB's isodow is Monday=1, so weekday+1 == isodow — the one
    cross-engine remap; everything else shares definitions."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        F.weekofyear("o_orderdate").cast("long").alias("iso_week"),
        (F.weekday("o_orderdate") + 1).cast("long").alias("isodow"),
        F.last_day("o_orderdate").cast("timestamp_ntz").alias("month_end"),
        F.add_months("o_orderdate", 3).cast("timestamp_ntz")
        .alias("plus_quarter"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("long").alias("days_since_epoch0"),
    )


def q_string_funcs(spark, sf_dir):
    """String function surface: pad, translate, split_part, position,
    repeat/reverse — all byte-identical across engines on ASCII
    input."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("padded"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("translated"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("cust_num"),
        F.instr(F.col("c_name"), "#").cast("long").alias("hash_pos"),
        F.reverse(F.col("c_mktsegment")).alias("rev_seg"),
        F.repeat(F.substring("c_mktsegment", 1, 1), 3).alias("seg3"),
        F.concat_ws("-", "c_mktsegment",
                    F.col("c_nationkey").cast("string")).alias("seg_nation"),
    )


def q_json_agg(spark, sf_dir):
    """Structured JSON parse + relational aggregate: events.props parsed
    and bucketed. Parse semantics are pinned IDENTICALLY on both engines
    by construction: string-extract $.k (get_json_object /
    json_extract_string — both return the unquoted scalar text), accept
    it ONLY if it full-matches the integer regex -?[0-9]{1,18} (so
    quoted numbers count, floats/exponents/huge/whitespace-padded values
    are NULL on BOTH engines regardless of either engine's cast rules),
    then cast. Anchors are \\A..\\z, NOT ^..$: Java's $ matches before a
    trailing newline (and the long cast trims it) so "7\\n" would parse
    on Spark while DuckDB's RE2 full-match NULLs it.

    The sum is emitted as two bounded BIGINT lanes — SUM(k div 1e9) and
    SUM(k % 1e9) — the r10 bisection's proven-green canonical form
    (driver key json_agg_lanes, GREEN r10). Each lane's magnitude is
    <= 1e9 * n_rows << 2^63, so neither engine ever touches a wide
    integer, DECIMAL, or HUGEINT representation anywhere: 18-digit
    regex-legal values would wrap an int64 SUM silently (ANSI off) or
    throw (ANSI on) while DuckDB promotes to HUGEINT — the r7/r8 driver
    hash-fail class — and a DECIMAL(38,0) output column hash-fails the
    driver gate itself (r7-r10: counts-green, lanes-green, decimal-red
    with rows+schema matching, v2 clone red — the divergent cell is the
    environment's DECIMAL canonicalization, not any semantics here).
    The true sum is recoverable as sum_hi*1e9 + sum_lo. Sign semantics
    verified identical on both engines: truncating division (Spark
    ``div``, DuckDB ``//``: -7/2 -> -3) and dividend-sign remainder
    (-7 % 2 -> -1). tests/test_contract.py pins that NO registry query
    emits a DECIMAL output column, so this class cannot regress."""
    ev = _t(spark, sf_dir, "events")
    s = F.get_json_object(F.col("props"), "$.k")
    k = F.when(s.rlike(r"\A-?[0-9]{1,18}\z"), s.cast("long"))
    return (
        ev.select((k % 10).alias("k_bucket"), k.alias("_k"))
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum(F.expr("_k div 1000000000")).cast("long").alias("sum_hi"),
             F.sum(F.col("_k") % 1000000000).cast("long").alias("sum_lo"))
    )


def q_salted_join_agg(spark, sf_dir):
    """Catastrophic-skew join via operators.salted_join: the 3-value
    l_returnflag key would melt three reducers in a plain shuffle join;
    salting shards each hot key over 16 sub-keys and replicates the
    3-row dim 16-fold. The oracle is the PLAIN join — salting must be
    invisible in the result."""
    from db_spark.operators import salted_join

    li = _t(spark, sf_dir, "lineitem")
    dim = (
        _t(spark, sf_dir, "lineitem").select("l_returnflag").distinct()
        .select(F.col("l_returnflag").alias("flag"),
                F.concat(F.lit("FLAG_"), F.col("l_returnflag"))
                .alias("flag_label"))
    )
    joined = salted_join(li, dim, "l_returnflag", "flag", salt=16)
    return (
        joined.groupBy("flag_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             money_sum(F.col("l_extendedprice"), "total_price"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q2 / Q11 / Q20 shapes (completing all 22 TPC-H query shapes;
# the testdata has no partsupp table, so the supply relation is derived
# from lineitem — same join/subquery topology, same operator classes)
# ---------------------------------------------------------------------------

def q_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: for each qualifying part, the EUROPE supplier(s)
    charging the regional-minimum supply cost — multi-dim join plus a
    per-part correlated MIN, top 100 by account balance. Supply cost is
    derived from lineitem as the minimum unit price ever charged by that
    supplier for that part, kept in integer cents so both engines agree
    bit-for-bit. The correlated MIN is a window (one shuffle keyed by
    part over the already-filtered EUROPE supply rows — never a second
    scan); dims broadcast; final TopK is TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem")
    supply = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.min(
            # qty=0 guard: Spark ANSI throws on the zero divide where
            # DuckDB NULLs; NULL unit costs drop out of MIN identically
            F.when(F.col("l_quantity") != 0.0,
                   F.round(F.col("l_extendedprice") / F.col("l_quantity")
                           * 100).cast("long"))).alias("_cost_c"))
    )
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") >= 40) & F.col("p_type").like("%STANDARD%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_sup = (
        s.join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    from pyspark.sql import Window
    w = Window.partitionBy("l_partkey")
    return (
        supply
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(eu_sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("_mn", F.min("_cost_c").over(w))
        .filter(F.col("_cost_c") == F.col("_mn"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
            (F.col("_cost_c").cast("double") / 100.0).alias("supplycost"))
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def q_important_stock(spark, sf_dir):
    """TPC-H Q11 shape: per-part supply value for one nation's
    suppliers, keeping parts whose value exceeds TWICE THE AVERAGE
    part share — a grouped exact sum HAVING a scalar subquery over the
    same aggregate. The scale-free relative threshold (v * nparts >
    2 * total, all integer cents — exact at any scale; a fixed
    fraction like Q11's 0.0001/SF goes vacuous as |parts| grows) keeps
    the query non-empty at every sf dir. Catalyst reuses the per-part
    agg for the total (single lineitem scan feeding both)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    nat_sup = (
        s.join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey"))
    value = (
        li.join(F.broadcast(nat_sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
             .alias("_v_c"))
    )
    total = value.agg(F.sum("_v_c").alias("_tot_c"),
                      F.count(F.lit(1)).cast("long").alias("_np"))
    return (
        value.join(F.broadcast(total))
        .filter(F.col("_v_c") * F.col("_np") > 2 * F.col("_tot_c"))
        .select("l_partkey",
                (F.col("_v_c").cast("double") / 100.0).alias("value"))
    )


def q_excess_supply(spark, sf_dir):
    """TPC-H Q20 shape: suppliers in one nation who shipped more than
    half their all-time quantity of 'gear'-named parts during 1997 —
    the correlated-aggregate-threshold + semi-join chain. Both sums
    come out of ONE grouped pass (conditional sum, no self-join); the
    half comparison is integer (2*q_1997 > q_all in centi-units);
    part and nation dims broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    in_97 = (F.col("l_shipdate") >= F.lit("1997-01-01")) & \
        (F.col("l_shipdate") < F.lit("1998-01-01"))
    qty = (
        li.join(F.broadcast(p.select("p_partkey")),
                F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in_97, F.round(F.col("l_quantity") * 100)
                         .cast("long")).otherwise(F.lit(0)))
            .alias("_q97_c"),
            F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
            .alias("_qall_c"))
    )
    excess = (
        qty.filter(F.lit(2) * F.col("_q97_c") > F.col("_qall_c"))
        .select("l_suppkey").distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        # the excess list is bounded by |suppliers| — broadcast it so the
        # semi join never sort-merges
        s.join(F.broadcast(excess),
               F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal")
    )


# ---------------------------------------------------------------------------
# Set ops / outer & theta joins / merge-intervals / function library
# ---------------------------------------------------------------------------

def q_intersect(spark, sf_dir):
    """INTERSECT (distinct) — set op beyond reference Concatenate."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return Q(c).intersect(Q(s)).df


def q_except(spark, sf_dir):
    """Nations customers live in EXCEPT nations of region 0 — exactly
    the 20 nations outside region 0, at every scale. (The previous
    customer-nation EXCEPT supplier-nation form was vacuously empty —
    every nation has both — which made the oracle's value-hash
    comparison trivial.)"""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")).distinct()
    n0 = _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 0).select(
        F.col("n_nationkey").alias("nationkey")).distinct()
    return Q(c).except_all(Q(n0)).df


def q_full_outer(spark, sf_dir):
    """Full outer join against a constant dimension with an unmatched key."""
    o = _t(spark, sf_dir, "orders").groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"))
    dim = Q.constant_scan(
        spark, [("F", "finished"), ("O", "open"), ("P", "pending"), ("X", "unknown")],
        "status string, label string").df
    return (
        Q(o).join(dim, F.col("o_orderstatus") == F.col("status"), "full_outer")
        .select("o_orderstatus", "n", "status", "label")
        .df
    )


def q_theta_join(spark, sf_dir):
    """Theta join: same-region nation pairs (equi + inequality residual)."""
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k1"), F.col("n_name").alias("name1"),
        F.col("n_regionkey").alias("r1"))
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k2"), F.col("n_name").alias("name2"),
        F.col("n_regionkey").alias("r2"))
    return (
        Q(n1).join(n2, (F.col("r1") == F.col("r2")) & (F.col("k1") < F.col("k2")), "inner")
        .select("name1", "name2", F.col("r1").alias("regionkey"))
        .df
    )


def q_merge_intervals(spark, sf_dir):
    """Merge Intervals (reference roadmap README.md:84-88): coalesce
    per-customer order-activity windows [orderdate, orderdate+30d]."""
    from db_spark import operators as xops

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").alias("lo"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("hi"),
    )
    return xops.merge_intervals(o, "lo", "hi", ["o_custkey"])


def q_json_funcs(spark, sf_dir):
    """JSON function surface over events.props. Same pinned parse
    semantics as q_json_agg: string-extract, regex-guard to the int64
    range (\\A..\\z anchors — Java $ matches before a trailing newline,
    RE2 full-match does not), then cast — identical NULLing on both
    engines for dirty props (quoted/float/huge/trailing-\\n/malformed)."""
    ev = _t(spark, sf_dir, "events")
    s = F.get_json_object(F.col("props"), "$.k")
    return ev.select(
        "event_id",
        F.when(s.rlike(r"\A-?[0-9]{1,18}\z"), s.cast("long")).alias("k"),
    )


def q_scalar_funcs(spark, sf_dir):
    """Scalar function library breadth: string / date / math."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.concat(F.lit("P-"), F.substring(F.col("o_orderpriority"), 1, 1)).alias("prio_code"),
        F.length(F.col("o_orderpriority")).cast("long").alias("prio_len"),
        F.year(F.col("o_orderdate")).cast("long").alias("yr"),
        F.month(F.col("o_orderdate")).cast("long").alias("mo"),
        F.dayofmonth(F.col("o_orderdate")).cast("long").alias("dom"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.round(F.sqrt(F.abs(F.col("o_totalprice"))), 6).alias("sqrt_price"),
        F.round(F.log(F.col("o_totalprice") + 1.0), 6).alias("log_price"),
        (F.col("o_orderkey") % 7).alias("mod7"),
    )


def q_pivot(spark, sf_dir):
    """Pivot order counts by priority (explicit value list — single-pass
    plan, no distinct-discovery job at 100 TB)."""
    o = _t(spark, sf_dir, "orders")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    piv = Q(o).pivot(["o_orderstatus"], "o_orderpriority", prios,
                     F.count(F.lit(1))).df
    # empty pivot cell: Spark emits NULL where a COUNT..FILTER oracle
    # emits 0 — coalesce pins the contract (a status whose orders all
    # carry out-of-list priorities exists in the dirty fixture)
    return piv.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("long").alias(p)
          for p in prios])


def q_unpivot(spark, sf_dir):
    """Unpivot (melt) part metrics into long form — narrow, shuffle-free."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("retailprice"),
        F.col("p_size").cast("double").alias("size"),
    )
    return Q(p).unpivot(["p_partkey"], ["retailprice", "size"]).df


def q_scalar_subquery(spark, sf_dir):
    """Scalar subquery: orders above the global average price. The
    comparison is done as price*n > total in exact DECIMAL so the
    boundary is order-independent (no float-avg drift); the single-row
    aggregate is broadcast, not collected."""
    o = _t(spark, sf_dir, "orders")
    stats = o.agg(
        F.sum(F.col("o_totalprice").cast(T.DecimalType(12, 2))).alias("_total"),
        F.count(F.lit(1)).alias("_n"),
    )
    return (
        Q(o).cross_join(F.broadcast(stats))
        .filter(F.col("o_totalprice").cast(T.DecimalType(12, 2)) * F.col("_n")
                > F.col("_total"))
        .select("o_orderkey", "o_totalprice")
        .df
    )


def q_stats_agg(spark, sf_dir):
    """Statistical aggregates per group: stddev/variance/corr/median/
    p95 (built-ins, rounded), plus an exact-DECIMAL-moment stddev for
    the wide-magnitude column where float partial-agg order would drift."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity")
    price = F.col("l_extendedprice")
    # corr from exact integer moments, NOT the builtin: Spark's corr
    # THROWS [DIVIDE_BY_ZERO] under ANSI on a zero-variance group where
    # DuckDB returns NULL (r9 dirty-relational finding); the moment
    # form guards the denominator to NULL identically on both engines
    # (price_qty_corr pattern).
    q100 = F.round(qty * 100).cast("long")
    p10 = F.round(price * 10).cast("long")
    # ONE percentile aggregate with an array of percentages (r13, the
    # exact_percentiles precedent, guide §2.3): median() IS
    # percentile(. , 0.5), and each scalar exact-percentile aggregate
    # keeps its own value buffer and sorts it — the array form buffers
    # and sorts once, and the per-percentage interpolation is the
    # identical code path, so values are bit-identical.
    pctl = F.expr("percentile(l_quantity, array(0.5, 0.95))")
    grouped = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.stddev_samp(qty), 6).alias("stddev_qty"),
        F.round(F.var_samp(qty), 6).alias("var_qty"),
        F.round(pctl.getItem(0), 6).alias("median_qty"),
        F.round(pctl.getItem(1), 6).alias("p95_qty"),
        F.sum(price.cast(T.DecimalType(12, 2))).alias("_sy"),
        F.sum((price * price).cast(T.DecimalType(18, 2))).alias("_syy"),
        F.sum(q100).alias("_cq"), F.sum(p10).alias("_cp"),
        F.sum(q100 * q100).alias("_cqq"), F.sum(p10 * p10).alias("_cpp"),
        F.sum(q100 * p10).alias("_cqp"),
    )
    n = F.col("n")
    sy = F.col("_sy").cast("double")
    syy = F.col("_syy").cast("double")
    nd = n.cast("double")
    # greatest(.,0) clamps float -ulp radicands (DuckDB sqrt(negative)
    # ERRORS; Spark returns NaN — clamping pins both)
    rad_q = F.greatest(nd * F.col("_cqq")
                       - F.col("_cq").cast("double") * F.col("_cq"),
                       F.lit(0.0))
    rad_p = F.greatest(nd * F.col("_cpp")
                       - F.col("_cp").cast("double") * F.col("_cp"),
                       F.lit(0.0))
    den = F.sqrt(rad_q) * F.sqrt(rad_p)
    num = nd * F.col("_cqp") - F.col("_cq").cast("double") * F.col("_cp")
    return grouped.select(
        "l_returnflag", "n", "stddev_qty", "var_qty",
        F.when(den != 0.0, F.round(num / den, 6)).alias("corr_qty_price"),
        "median_qty", "p95_qty",
        # n=1 group: (n-1)=0 divisor — Spark ANSI throws where DuckDB
        # NULLs; the guard makes sample stddev NULL on both
        F.when(n > 1,
               F.round(F.sqrt(F.greatest((syy - sy * sy / n) / (n - 1),
                                         F.lit(0.0))), 4))
        .alias("stddev_price"),
    )


def q_correlated_subquery(spark, sf_dir):
    """Correlated aggregate subquery (TPC-H Q17 pattern): lineitems with
    quantity above 1.3x the average for the same part. Decorrelated the
    way an optimizer would: one partial-agg pass + an equi-join on the
    correlation key — no per-row subquery execution. avg of
    integer-valued doubles is order-independent (exact partial sums)."""
    li = _t(spark, sf_dir, "lineitem")
    avgs = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("_avg"))
    return (
        li.join(avgs, "l_partkey")
        .filter(F.col("l_quantity") > 1.3 * F.col("_avg"))
        .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
    )


def q_regex_funcs(spark, sf_dir):
    """Regex function surface (extract / extract_all / global replace)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract(F.col("text"), r"([A-Za-z]+)", 1).alias("first_word"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[A-Za-z]+"), 0))
        .cast("long").alias("n_alpha_tokens"),
        F.regexp_replace(F.col("text"), r"[0-9]+", "#").alias("text_nodigits"),
    )


def q_count_distinct(spark, sf_dir):
    """COUNT(DISTINCT) per group (expand+two-phase agg in Spark —
    approx_count_distinct is the 100 TB fast path, HLL params differ
    per engine so the oracle checks the exact form)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def q_array_funcs(spark, sf_dir):
    """Array/higher-order function surface over embedding vectors —
    all JVM-side Column expressions (size/element_at/aggregate/filter)."""
    emb = _t(spark, sf_dir, "embeddings")
    arr = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        F.size(arr).cast("long").alias("n_dims"),
        F.round(F.element_at(arr, 1), 6).alias("first_val"),
        F.round(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x), 4).alias("vec_sum"),
        F.round(F.array_max(arr), 6).alias("vmax"),
        F.round(F.array_min(arr), 6).alias("vmin"),
        F.round(F.sqrt(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x)), 4)
        .alias("l2norm"),
        F.size(F.filter(arr, lambda x: x > 0)).cast("long").alias("n_pos"),
    )


def q_explode_tokens(spark, sf_dir):
    """Lateral/explode (one row -> many): token frequency top-50 over
    documents — explode is the workhorse for shingle/posting-list
    generation in every dedup pipeline here."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.regexp_extract_all(ascii_lower(F.col("text")), F.lit(r"[a-z']+"), 0)
        ).alias("token"))
    return (
        toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(50)
    )


def q_map_struct_funcs(spark, sf_dir):
    """Map/struct construction and field access (nested types beyond the
    reference's flat 7-type system)."""
    o = _t(spark, sf_dir, "orders")
    st = F.struct(F.col("o_orderstatus").alias("s"), F.col("o_orderpriority").alias("p"))
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("prio"), F.col("o_orderpriority"),
    )
    return o.select(
        "o_orderkey",
        st.getField("s").alias("status"),
        m.getItem("prio").alias("prio"),
        F.size(m).cast("long").alias("n_keys"),
    )


# ---------------------------------------------------------------------------
# Window functions / advanced joins / grouping sets / event-time windows
# (capabilities beyond the reference — SURVEY §2.3 gaps, all Spark-native)
# ---------------------------------------------------------------------------

def q_window_funcs(spark, sf_dir):
    """Window-function breadth over one per-customer window: row_number,
    rank, dense_rank, lag, lead, and a running sum (sequential prefix
    along a total order — deterministic)."""
    from db_spark import operators as xops

    o = _t(spark, sf_dir, "orders")
    r = xops.ranked(
        o, ["o_custkey"], [F.col("o_orderdate"), F.col("o_orderkey")],
        {
            "rn": F.row_number(),
            "rnk": F.rank(),
            "drnk": F.dense_rank(),
            "prev_price": F.lag("o_totalprice", 1),
            "next_price": F.lead("o_totalprice", 1),
            "running_total": F.sum("o_totalprice"),
        },
    )
    return r.select(
        "o_orderkey", "o_custkey",
        F.col("rn").cast("long").alias("rn"),
        F.col("rnk").cast("long").alias("rnk"),
        F.col("drnk").cast("long").alias("drnk"),
        "prev_price", "next_price",
        F.round(F.col("running_total"), 2).alias("running_total"))


def q_window_frames(spark, sf_dir):
    """Explicit window frames: a ROWS frame (moving sum over the last 3
    orders) and a RANGE frame with an interval bound (orders in the
    trailing 30 days) per customer. Sums run in BIGINT cents inside the
    frame — order-independent, so Spark and DuckDB agree bit-for-bit."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w_rows = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    # o_orderdate is date-granularity; epoch-day ordering sidesteps
    # TIMESTAMP_NTZ->long casts and is timezone-free
    w_range = (
        Window.partitionBy("o_custkey")
        .orderBy(F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")))
        .rangeBetween(-30, 0)
    )
    w_all = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        "o_orderkey", "o_custkey",
        (F.sum(cents).over(w_rows).cast("double") / 100.0).alias("moving3_sum"),
        F.count(F.lit(1)).over(w_range).cast("long").alias("orders_30d"),
        F.first("o_orderkey").over(w_all).alias("first_orderkey"),
    )


def q_topn_per_group(spark, sf_dir):
    """Top-3 parts by retail price per brand (window + filter)."""
    from db_spark import operators as xops

    p = _t(spark, sf_dir, "part")
    top = xops.top_n_per_group(
        p, ["p_brand"], [F.col("p_retailprice").desc(), F.col("p_partkey")], 3)
    return top.select("p_brand", "p_partkey", "p_retailprice")


def q_asof_join(spark, sf_dir):
    """As-of join: each purchase event matched to the user's most recent
    click at-or-before it (union + running last_value — single shuffle,
    no range explosion; db_spark.operators.asof_join)."""
    from db_spark import operators as xops

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts",
        F.col("value").alias("click_value"), F.col("ts").alias("click_ts"))
    return xops.asof_join(
        purchases, clicks, on="user_id", left_time="ts", right_time="ts",
        right_values=["click_value", "click_ts"], direction="backward")


def q_range_join(spark, sf_dir):
    """Point-in-interval join binned into equi-join + residual filter
    (db_spark.operators.range_join, bin_width=5)."""
    from db_spark import operators as xops

    li = _t(spark, sf_dir, "lineitem")
    ranges = spark.createDataFrame(
        [(1, 0.5, 10.4), (2, 10.5, 20.4), (3, 20.5, 30.4), (4, 30.5, 40.4), (5, 40.5, 50.4)],
        "bucket_id long, lo double, hi double",
    )
    joined = xops.range_join(li, ranges, "l_quantity", "lo", "hi", bin_width=5.0)
    return joined.groupBy("bucket_id").agg(F.count(F.lit(1)).alias("n"))


def q_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    from db_spark import operators as xops

    return xops.rollup_agg(
        li, ["l_returnflag", "l_linestatus"],
        [money_sum(F.col("l_quantity"), "sum_qty"), F.count(F.lit(1)).alias("n")])


def q_cube(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    from db_spark import operators as xops

    return xops.cube_agg(
        o, ["o_orderstatus", "o_orderpriority"],
        [money_sum(F.col("o_totalprice"), "revenue"), F.count(F.lit(1)).alias("n")])


def q_grouping_sets(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    from db_spark import operators as xops

    return xops.grouping_sets_agg(
        o, [["o_orderstatus"], ["o_orderpriority"]],
        ["o_orderstatus", "o_orderpriority"],
        [F.count(F.lit(1)).alias("n")])


def q_tumbling_window(spark, sf_dir):
    """Event-time tumbling windows (same code path batch + streaming)."""
    from db_spark import streaming as st

    ev = _t(spark, sf_dir, "events")
    agg = st.tumbling_window_agg(
        ev, "ts", "1 hour", ["event_type"],
        [F.count(F.lit(1)).alias("n"), decimal_sum(F.col("value"), "total_value")])
    return agg.select("window_start", "event_type", "n", "total_value")


def q_sliding_window(spark, sf_dir):
    """Sliding (hopping) event-time windows: 1 hour long, every 15 min —
    each event lands in size/slide = 4 windows."""
    from db_spark import streaming as st

    ev = _t(spark, sf_dir, "events")
    agg = st.sliding_window_agg(
        ev, "ts", "1 hour", "15 minutes", ["event_type"],
        [F.count(F.lit(1)).alias("n"), decimal_sum(F.col("value"), "total_value")])
    return agg.select("window_start", "event_type", "n", "total_value")


def q_hypertable_rollup(spark, sf_dir):
    """Hypertable continuous aggregate: materialize hourly partials for
    history (< 2024-01-20), merge with raw-tail partials — result is
    identical to a full-scan aggregate because count/sum/min/max partials
    compose losslessly (the oracle IS the full-scan form)."""
    from db_spark.streaming import rollup as ru

    ev = _t(spark, sf_dir, "events")
    cutoff = "2024-01-20 00:00:00"
    path = _scratch_dir("db_spark_rollup_")
    ru.rollup_materialize(
        ev.filter(F.col("ts") < F.lit(cutoff)), path,
        "ts", "1 hour", "value", ["event_type"], exact_decimals=4)
    out = ru.hypertable_agg(
        spark, path, ev, "ts", "1 hour", "value", ["event_type"],
        high_water=cutoff, exact_decimals=4)
    # 6-dp mean via exact integer HALF-AWAY division of the scaled sum:
    # rounding the float quotient is engine-dependent at exact 5e-7
    # ties (Spark rounds the shortest decimal repr, DuckDB the binary
    # double — first diverged at sf1 row counts)
    out = out.withColumn(
        "_s", F.round(F.col("total") * 10000).cast("long"))
    vavg = (F.signum("_s").cast("long")
            * F.expr("(200 * abs(_s) + n) div (2 * n)")
            ).cast("double") / F.lit(1e6)
    return out.select(
        F.col("bucket_start").alias("window_start"), "event_type", "n",
        "total", "vmin", "vmax", vavg.alias("vavg"))


def q_session_window(spark, sf_dir):
    """Session windows (30 min gap) per user."""
    from db_spark import streaming as st

    ev = _t(spark, sf_dir, "events")
    agg = st.session_window_agg(
        ev, "ts", "30 minutes", ["user_id"], [F.count(F.lit(1)).alias("n")])
    return agg.select("user_id", "session_start", "session_end", "n")


# ---------------------------------------------------------------------------
# MVCC log-table end-to-end (entry point C: write path + snapshot + CDC)
# ---------------------------------------------------------------------------

_TMP_DIRS: list[str] = []


def _scratch_dir(prefix: str) -> str:
    """Temp dir for demo MVCC logs, removed at interpreter exit (the
    returned DataFrames read the log lazily, so the dir must outlive the
    query function — but not the process)."""
    import atexit
    import shutil
    import tempfile

    if not _TMP_DIRS:
        atexit.register(
            lambda: [shutil.rmtree(d, ignore_errors=True) for d in _TMP_DIRS])
    d = tempfile.mkdtemp(prefix=prefix)
    _TMP_DIRS.append(d)
    return d


def _mvcc_build(spark, sf_dir):
    """Deterministic log: load customers, commit +100 acctbal for
    custkey%10==0, commit predicate-deletes for custkey%7==0, insert
    shadow rows (custkey+1000000) for custkey%13==0. Returns
    (collection, t_before) where t_before snapshots the initial load."""
    from db_spark.engine import Storage
    from db_spark.table import uuid7

    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").cast("string").alias("_id"),
        "c_name",
        F.col("c_acctbal").cast("double").alias("acctbal"),
    )
    st = Storage(spark, _scratch_dir("db_spark_mvcc_"))
    c = st.get_collection("customer_log")
    c.set_objects(None, base)
    t_before = uuid7()
    tx = uuid7()
    c.set_objects(tx, base.filter(F.col("_id").cast("long") % 10 == 0)
                  .withColumn("acctbal", F.col("acctbal") + 100.0))
    c.commit(tx)
    txd = uuid7()
    # Predicate delete: tombstones from a DataFrame plan — the id set
    # never passes through the driver (reference deletes via rows in the
    # batch write, src/collection/mod.rs:46-93).
    c.delete_where(txd, F.col("_id").cast("long") % 7 == 0)
    c.commit(txd)
    txi = uuid7()
    c.set_objects(txi, base.filter(F.col("_id").cast("long") % 13 == 0).select(
        (F.col("_id").cast("long") + 1000000).cast("string").alias("_id"),
        "c_name", "acctbal"))
    c.commit(txi)
    return c, t_before


def q_mvcc_vacuum(spark, sf_dir):
    """History vacuum under the oracle (db_spark/table.py:
    Collection.vacuum): build the deterministic _mvcc_build log, then
    collapse every whole segment below the current position into one
    resolved base segment. The visible snapshot must be bit-identical
    to the un-vacuumed mvcc_snapshot expectation — the oracle computes
    that expected final state independently from the base table, so a
    merge that lost a version, resurrected a tombstone, or collapsed a
    pending transaction would hash-mismatch. (File-level mechanics —
    physical removal of superseded versions, watermark refusal — are
    asserted in tests/test_mvcc.py::test_vacuum_*.)"""
    c, _ = _mvcc_build(spark, sf_dir)
    c.vacuum(c.log_position())
    return c.table_scan().select(
        F.col("_id").cast("long").alias("key"), "c_name", "acctbal")


def q_mvcc_evolve(spark, sf_dir):
    """Additive schema evolution under the oracle (db_spark/table.py:
    set_objects(evolve=True)): load customers, then re-upsert every
    custkey%5==0 row through an EVOLVED batch carrying a brand-new
    segment column. The snapshot must show the new column on evolved
    rows and NULL on untouched ones — mergeSchema NULL-fill, no
    history rewrite."""
    from db_spark.engine import Storage

    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").cast("string").alias("_id"),
        "c_name",
        F.col("c_acctbal").cast("double").alias("acctbal"),
    )
    st = Storage(spark, _scratch_dir("db_spark_mvccevo_"))
    c = st.get_collection("customer_log")
    c.set_objects(None, base)
    evolved = cust.filter(F.col("c_custkey") % 5 == 0).select(
        F.col("c_custkey").cast("string").alias("_id"),
        "c_name",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    c.set_objects(None, evolved, evolve=True)
    return c.table_scan().select(
        F.col("_id").cast("long").alias("key"), "c_name", "acctbal",
        "segment")


def q_mvcc_snapshot(spark, sf_dir):
    """MVCC write path + snapshot resolution end-to-end, verified against
    an independent oracle computing the equivalent final state from the
    source table (upserts win, tombstones suppress, inserts appear)."""
    c, _ = _mvcc_build(spark, sf_dir)
    return c.table_scan().select(
        F.col("_id").cast("long").alias("key"), "c_name", "acctbal")


def q_hll_rolling(spark, sf_dir):
    """Rolling 3-day distinct users per day from DAILY HLL sketches
    (db_spark/sketch.py hll_rolling_merge): the data is scanned once
    into bounded per-day register tables; every rolling window is then
    |days x registers| work — the per-period-rollup pattern that makes
    '7-day actives over 100 TB' an aggregation, not a rescan. Estimated
    vs exact side by side; the oracle replays the identical registers."""
    from db_spark import sketch as lsk

    ev = _t(spark, sf_dir, "events").select(
        F.to_date(F.col("ts")).alias("day"), "user_id")
    daily = lsk.hll_sketch(ev, F.col("user_id"), p=8, group_cols=["day"])
    rolled = lsk.hll_rolling_merge(daily, "day", window=3)
    est = lsk.hll_estimate(rolled, p=8, group_cols=["day"])
    days = ev.select("day").distinct().select(F.col("day").alias("_d"))
    exact = (
        ev.join(F.broadcast(days),
                (F.col("day") <= F.col("_d"))
                & (F.col("day") > F.col("_d") - F.expr("INTERVAL 3 DAY")))
        .groupBy("_d")
        .agg(F.count_distinct("user_id").cast("long").alias("exact_distinct"))
        .select(F.col("_d").alias("day"), "exact_distinct")
    )
    return est.join(exact, "day").select(
        "day", "n_registers", "est_distinct", "exact_distinct")


def q_mvcc_history(spark, sf_dir):
    """Per-id version history (Collection.history): every committed
    version as a record with a log-position validity interval and an
    is_current flag — the MVCC-native SCD2 view. The oracle recomputes
    the full expected version chain (versions, kinds, batch positions,
    interval links) from the base table and the deterministic
    _mvcc_build write sequence."""
    c, _ = _mvcc_build(spark, sf_dir)
    return c.history().select(
        F.col("_id").cast("long").alias("key"), "c_name", "acctbal",
        "_kind", "_version", "_from_pos", "_to_pos", "is_current")


def q_mvcc_cdc(spark, sf_dir):
    """Change-data-capture between two snapshots of the log table:
    I/U/D classification with new-image payloads."""
    c, t_before = _mvcc_build(spark, sf_dir)
    return c.changes(t_before).select(
        F.col("_id").cast("long").alias("key"), "_change", "c_name", "acctbal")


def q_mvcc_delete_where(spark, sf_dir):
    """Predicate delete on payload values: tombstone every customer with
    negative balance via ``delete_where`` (DataFrame-planned tombstones,
    no driver-side id list), then snapshot the survivors."""
    from db_spark.engine import Storage
    from db_spark.table import uuid7

    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").cast("string").alias("_id"),
        "c_name",
        F.col("c_acctbal").cast("double").alias("acctbal"),
    )
    st = Storage(spark, _scratch_dir("db_spark_mvccdel_"))
    c = st.get_collection("customer_log")
    c.set_objects(None, base)
    tx = uuid7()
    c.delete_where(tx, F.col("acctbal") < 0.0)
    c.commit(tx)
    return c.table_scan().select(
        F.col("_id").cast("long").alias("key"), "c_name", "acctbal")


# ---------------------------------------------------------------------------
# North-star ops (SURVEY §2.4): dedup / similarity / text / multimodal
# ---------------------------------------------------------------------------

def q_normalize_text(spark, sf_dir):
    """Corpus text normalization (db_spark/llm/text.py: normalize_text,
    NORMALIZATION_RULES): the testdata text is clean ASCII, so the
    query first synthesizes deterministic MESS around it — curly
    quotes, em-dash, ellipsis, CRLF runs, doubled spaces + tabs, NBSP,
    zero-width — then normalizes. Every rule fires on every row, and
    the oracle rebuilds the same mess and the same rewrite chain from
    the shared NORMALIZATION_RULES constants, so the rewrite is proven
    byte-identical across engines. Map-only, no shuffle."""
    from db_spark.llm import text as ltext

    docs = _t(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit("\u201cT\u2019itle\u201d \u2014 intro\u2026\r\n\r\n\r\n\r\n"),
        F.regexp_replace(F.col("text"), " table ", "  table\t"),
        F.lit(" tail\u00a0end\u200b "))
    return docs.select(
        "doc_id", ltext.normalize_text(messy).alias("norm_text"))


def q_text_stats(spark, sf_dir):
    """Text analysis suite over documents: token counts, punct/stopword
    ratios, quality score, md5 fingerprint, stopword-vote language ID —
    all pure Column expressions (db_spark.llm.text)."""
    from db_spark.llm import text as ltext

    docs = _t(spark, sf_dir, "documents")
    return ltext.text_stats(docs)


def q_dedup_exact(spark, sf_dir):
    """Exact dedup on normalized-text fingerprint; deterministic winner
    (min doc_id per group)."""
    from db_spark.llm import dedup as ldedup
    from db_spark.llm import text as ltext

    docs = _t(spark, sf_dir, "documents")
    fp = ltext.fingerprint(F.col("text"))
    return ldedup.exact_dedup(docs, fp, "doc_id").select(
        "doc_id", fp.alias("fingerprint"))


def q_ngram_jaccard(spark, sf_dir):
    """Near-dup pairs by exact 3-gram Jaccard >= 0.5 (inverted-index
    blocked — no cartesian)."""
    from db_spark.llm import dedup as ldedup

    docs = _t(spark, sf_dir, "documents")
    return ldedup.ngram_jaccard_pairs(docs, threshold=0.5)


def q_jaccard_join(spark, sf_dir):
    """EXACT set-similarity join via prefix filtering
    (db_spark/llm/dedup.py: jaccard_similarity_join, PPJoin family):
    every document pair with 3-gram Jaccard >= 0.5, recall 1.0 — only
    each doc's rarest ``|d| - ceil(t|d|) + 1`` shingles enter the
    candidate join, then exact intersection verification with an
    integer-ppm threshold compare. The oracle is the UNFILTERED
    brute-force all-pairs Jaccard, so a green row proves the prefix
    filter loses no pairs."""
    from db_spark.llm import dedup as ldedup

    docs = _t(spark, sf_dir, "documents")
    return ldedup.jaccard_similarity_join(docs, 0.5)


def q_minhash_signature(spark, sf_dir):
    """16-permutation MinHash signatures from a deterministic md5-derived
    hash family — fully oracle-checkable."""
    from db_spark.llm import dedup as ldedup

    docs = _t(spark, sf_dir, "documents")
    return ldedup.minhash_signature(docs, k=16)


def q_minhash_lsh_pairs(spark, sf_dir):
    """MinHash-LSH near-dup candidates (4 bands × 4 rows) filtered by
    signature-estimated Jaccard >= 0.5."""
    from db_spark.llm import dedup as ldedup

    docs = _t(spark, sf_dir, "documents")
    return ldedup.minhash_dedup_pairs(docs, k=16, bands=4, threshold=0.5)


def q_dedup_clusters(spark, sf_dir):
    """Dedup clustering: connected components over the MinHash-LSH
    candidate pairs; cluster_id = canonical (min) doc_id. Iterative
    min-label propagation — one join + min-agg per round, distributed."""
    from db_spark.llm import dedup as ldedup

    docs = _t(spark, sf_dir, "documents")
    pairs = ldedup.minhash_dedup_pairs(docs, k=16, bands=4, threshold=0.5)
    return ldedup.connected_components(pairs)


def q_dedup_corpus(spark, sf_dir):
    """End-to-end near-dup removal: shingle -> MinHash -> LSH pairs ->
    connected components -> drop every non-canonical cluster member.
    The surviving corpus = canonical docs + singletons."""
    from db_spark.llm import dedup as ldedup

    docs = _t(spark, sf_dir, "documents")
    pairs = ldedup.minhash_dedup_pairs(docs, k=16, bands=4, threshold=0.5)
    clusters = ldedup.connected_components(pairs)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return (
        docs.join(losers, "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
    )


def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware near-dup removal (db_spark/llm/dedup.py:
    dedup_corpus_keep_best): same MinHash-LSH -> connected-components
    pipeline as dedup_corpus, but each cluster keeps its
    highest-quality member (text.quality_score as integer ppm, ties to
    the smallest id) instead of the min-id canonical — the curation
    policy an actual training-data pipeline ships. Selection is one
    membership-sized join + one cluster-keyed struct-max; no window
    sort."""
    from db_spark.llm import dedup as ldedup
    from db_spark.llm import text as ltext

    docs = _t(spark, sf_dir, "documents")
    kept = ldedup.dedup_corpus_keep_best(
        docs, ltext.quality_score(F.col("text")),
        k=16, bands=4, threshold=0.5)
    return kept.select("doc_id", "lang", "source")


def q_simhash(spark, sf_dir):
    """32-bit SimHash per document (fold over token array, no shuffle).
    Token-less docs have no signature (NULL, dropped) — matching the
    oracle's unnest-based fold, which naturally has no rows for them.
    The signature is staged behind a one-element explode barrier
    (text.stage_expr): the NULL filter otherwise pushes below the
    Project and re-evaluates the whole fold — tokenizer regex + md5
    per token — a second time per row (r12 plan audit; 4.2 s ->
    ~2 s noop at sf0.1)."""
    from db_spark.llm import dedup as ldedup
    from db_spark.llm.text import spread_scan, stage_expr

    docs = _t(spark, sf_dir, "documents")
    # keyed spread before the fold (r13): map-only 1:1, but the per-row
    # work (tokenize + one md5 per token + 32 bit-counter folds) dwarfs
    # the one text shuffle it costs, and the gate makes it a no-op at
    # scale. A/B sf0.1: 1.27 -> 0.30 s, identical rows.
    return stage_expr(
        spread_scan(docs, "doc_id"), ["doc_id"], ldedup.simhash(F.col("text")),
        "simhash"
    ).filter(F.col("simhash").isNotNull())


def q_simhash_near_dup(spark, sf_dir):
    """Near-dup pairs with SimHash Hamming distance <= 3. Pigeonhole
    blocking: 4 hash segments, bucket-join per segment — candidate set is
    complete for the distance bound without a cartesian product."""
    from db_spark.llm import dedup as ldedup

    docs = _t(spark, sf_dir, "documents")
    return ldedup.simhash_pairs(docs, max_hamming=3)


def q_simhash_grouped(spark, sf_dir):
    """Grouped SimHash near-dup output (db_spark/llm/dedup.py:
    simhash_pairs(output="grouped")) — the 100 TB consumption form: one
    row per DISTINCT-signature pair (rep_a, rep_b, hamming, count_a,
    count_b) plus a self row per duplicate group, instead of the
    O(g^2) member-pair expansion. The oracle is the brute-force
    distinct-signature pair join — a green row proves the grouped form
    encodes exactly the pair expansion the pairs mode materializes."""
    from db_spark.llm import dedup as ldedup

    docs = _t(spark, sf_dir, "documents")
    return ldedup.simhash_pairs(docs, max_hamming=3, output="grouped")


def q_jaccard_grouped(spark, sf_dir):
    """Grouped exact set-similarity join (db_spark/llm/dedup.py:
    jaccard_similarity_join(output="grouped")): one row per
    DISTINCT-shingle-set pair with group cardinalities, plus a self row
    per identical-set group — output volume follows distinct sets, not
    duplication density. Oracle: brute-force Jaccard over one
    representative per distinct sorted shingle set."""
    from db_spark.llm import dedup as ldedup

    docs = _t(spark, sf_dir, "documents")
    return ldedup.jaccard_similarity_join(docs, 0.5, output="grouped")


def q_centroid_outliers(spark, sf_dir):
    """Per-label embedding outliers (db_spark/llm/similarity.py:
    centroid_outliers): top-5 vectors farthest from their label's mean
    embedding — the mislabel audit per class. Centroid components
    accumulate in scaled BIGINT (partition-order-proof), distances
    micro-round before the per-label rank window; one (label,
    component) aggregate + a broadcast-centroid distance scan, O(n·dim)
    with no pairwise step."""
    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings")
    return lsim.centroid_outliers(emb, k=5)


def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 for 5 query vectors over the embedding
    corpus; broadcast queries, one corpus scan."""
    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return lsim.brute_force_topk(emb, queries_df, k=10)


def q_mmr_rerank(spark, sf_dir):
    """Maximal-marginal-relevance diversified re-rank
    (db_spark/llm/similarity.py: mmr_rerank): brute-force top-10
    candidates for 3 queries, then 3 greedy MMR rounds at lambda 0.7 —
    every similarity and score rounded to 6 dp with id tie-breaks, so
    the greedy selection is engine-exact against a 3-step unrolled SQL
    oracle."""
    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    cand = lsim.brute_force_topk(emb, queries_df, k=10)
    return lsim.mmr_rerank(cand, emb, k=3, lam=0.7)


def q_ivf_topk(spark, sf_dir):
    """IVF approximate top-k (16 cells, probe 4) — scale path for ANN.
    Centroid seeding is deterministic (n_cells lowest-id vectors), so the
    whole pipeline is SQL-expressible and fully oracle-checked."""
    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return lsim.ivf_topk(emb, queries_df, k=10, n_cells=16, n_probe=4)


def q_ivf_recall(spark, sf_dir):
    """ANN quality evaluation (db_spark/llm/similarity.py: recall_at_k):
    per-query recall@10 of the IVF configuration (16 cells, probe 4)
    against the exact brute force — both sides deterministic, so the
    whole evaluation pipeline is oracle-checked, not just eyeballed.
    The tuning loop a 100 TB ANN deployment runs before trusting
    n_probe."""
    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = lsim.brute_force_topk(emb, queries_df, k=10)
    approx = lsim.ivf_topk(emb, queries_df, k=10, n_cells=16, n_probe=4)
    return lsim.recall_at_k(exact, approx, k=10)


def q_ivf_rbo(spark, sf_dir):
    """Order-aware ANN agreement (db_spark/llm/similarity.py: rbo):
    truncated RBO@10 (p=0.5) of the IVF ranking against exact brute
    force per query — penalizes the rank inversions recall@k cannot
    see. Per-doc closed form: nano-integer weight literals keyed by
    max(rank_exact, rank_ivf), BIGINT-summed per query."""
    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = lsim.brute_force_topk(emb, queries_df, k=10)
    approx = lsim.ivf_topk(emb, queries_df, k=10, n_cells=16, n_probe=4)
    return lsim.rbo(exact, approx, k=10, p=0.5)


def q_ivf_index_topk(spark, sf_dir):
    """Persisted IVF index probe (db_spark/llm/similarity.py:
    ivf_index_build/ivf_index_topk): the assigned corpus is materialized
    hive-partitioned by cell_id, so the probe's literal IN filter plans
    PartitionFilters and reads only the probed cell directories (proof:
    tests/test_llm.py::test_ivf_index_persisted_probe_prunes_files
    asserts the executed scan's numFiles metric). Same arithmetic as
    ivf_topk, so the same oracle checks it value-exactly."""
    import tempfile

    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    idx = tempfile.mkdtemp(prefix="ivf_index_") + "/ivf"
    lsim.ivf_index_build(emb, idx, n_cells=16)
    return lsim.ivf_index_topk(spark, idx, queries_df, k=10, n_probe=4)


def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion (db_spark/llm/
    corpus.py: rrf_fuse): BM25 top-20 for {spark, merge, window} fused
    with the exact-cosine top-20 around doc 0's embedding. Per-term
    reciprocal ranks round to nano-BIGINTs before summing (exact,
    order-independent), score ties break on id; the oracle composes
    the two existing ranker oracles and replays the fusion sum."""
    from db_spark.llm import corpus as lcorpus
    from db_spark.llm import similarity as lsim

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = lcorpus.bm25_topk(docs, ["spark", "merge", "window"], k=20) \
        .select("doc_id", "rank")
    q0 = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    vec = lsim.brute_force_topk(emb, q0, k=20).select(
        F.col("vec_id").alias("doc_id"), "rank")
    return lcorpus.rrf_fuse([lex, vec], k=60)


def q_kcenter(spark, sf_dir):
    """Greedy k-center coreset selection (db_spark/llm/similarity.py:
    k_center_greedy): 5 farthest-point picks over the embedding corpus
    — per round one map-only distance pass against the newest pick,
    round-6 cosine parity, id tie-breaks; the oracle unrolls the same
    5 select/update rounds."""
    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings")
    return lsim.k_center_greedy(emb, k=5)


def q_kcenter_batched(spark, sf_dir):
    """Batched-frontier k-center (db_spark/llm/similarity.py:
    _k_center_batched): 7 picks with batch_m=3 — per round the top
    m+1 frontier candidates by current min-dist are fetched and a
    verified prefix accepted against the (m+1)-th candidate's bound,
    then ONE distributed fold updates all min-dists; the traversal is
    exactly the m=1 one (the driver gate proves it against the SAME
    unrolled m=1 oracle), in ~1/m the Spark jobs."""
    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings")
    return lsim.k_center_greedy(emb, k=7, batch_m=3)


def q_lsh_probe(spark, sf_dir):
    """Incremental near-dup ingest (db_spark/llm/dedup.py:
    lsh_index_build / lsh_index_probe): the persisted band-bucket index
    is built over the 90% "history" slice (doc_id % 10 != 0, bucket
    sizes precomputed at build); the 10% "daily batch" signs only
    itself and bucket-joins the stored membership — no corpus rescan.
    The oracle replays the identical md5 minhash family, band layout,
    per-slice shingle-DF guard, and the corpus-side hot-bucket cap."""
    import tempfile

    from db_spark.llm import dedup as ldedup

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    idx = tempfile.mkdtemp(prefix="lsh_index_") + "/lsh"
    ldedup.lsh_index_build(corpus, idx, k=16, bands=4)
    return ldedup.lsh_index_probe(spark, idx, new)


def q_ivf_kmeans_topk(spark, sf_dir):
    """IVF top-k with 2 deterministic Lloyd refinement iterations:
    centroid means accumulate in scaled BIGINT so the refinement — and
    therefore the whole ANN pipeline — is order-independent and exactly
    SQL-expressible (db_spark.llm.similarity.ivf_kmeans_centroids)."""
    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return lsim.ivf_topk(emb, queries_df, k=10, n_cells=16, n_probe=4,
                         refine_iters=2)


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs via SRP-LSH (16-bit signed-random-
    projection signatures, pigeonhole segment blocking, exact-cosine
    verify — never the full pair matrix). The corpus is the embeddings
    table unioned with deterministically perturbed copies (vec_id+1e8)
    so genuine near-duplicates exist to find."""
    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    arr = F.col("embedding").cast("array<double>")
    perturbed = emb.select(
        (F.col("vec_id") + 100000000).alias("vec_id"),
        F.zip_with(
            arr,
            F.sequence(F.lit(0), F.lit(63)),
            lambda x, j: x + (j % 7 - 3).cast("double") * 0.01,
        ).alias("embedding"),
    )
    corpus = emb.select("vec_id", arr.alias("embedding")).unionByName(perturbed)
    return lsim.embedding_near_dup_pairs(corpus, dim=64, threshold=0.95)


def q_dbscan(spark, sf_dir):
    """Density clustering (db_spark/llm/similarity.py: dbscan) over a
    corpus where density varies by construction: every embedding gets
    one perturbed copy, every third gets a second — triads are dense
    (core, min_pts=2) while pairs are sparse (noise). SRP-blocked
    eps-pairs, component clustering, deterministic min-cluster border
    assignment; the oracle replays pairs + degree + recursive-CC +
    border CTEs."""
    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    arr = F.col("embedding").cast("array<double>")

    def pert(shift, mod, eps_mod, eps_off):
        d = emb.select((F.col("vec_id") + shift).alias("vec_id"),
                       F.zip_with(
                           arr, F.sequence(F.lit(0), F.lit(63)),
                           lambda x, j: x + (j % eps_mod - eps_off)
                           .cast("double") * 0.01).alias("embedding"))
        return d if mod is None else             d.filter((F.col("vec_id") - shift) % mod == 0)

    corpus = (emb.select("vec_id", arr.alias("embedding"))
              .unionByName(pert(100000000, None, 7, 3))
              .unionByName(pert(200000000, 3, 5, 2)))
    return lsim.dbscan(corpus, threshold=0.95, min_pts=2)


def q_corpus_stats(spark, sf_dir):
    """Composite: text analysis feeding relational aggregation — corpus
    health per predicted language (doc counts, token volume, exact
    average quality via scaled-long sum)."""
    from db_spark.llm import text as ltext

    docs = _t(spark, sf_dir, "documents")
    stats = ltext.text_stats(docs)
    qscaled = F.round(F.col("quality") * 1000000).cast("long")
    return (
        stats.groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            (F.sum(qscaled) / F.lit(1e6)).alias("_qsum"),
        )
        .select(
            "lang_pred", "n_docs", "total_tokens",
            F.round(F.col("_qsum") / F.col("n_docs"), 6).alias("avg_quality"))
    )


def q_chunk_docs(spark, sf_dir):
    """Overlapping token-window chunking (64-token chunks, 16 overlap) —
    the map-only shaping step before tokenization/packing in a training
    pipeline. Chunk text hashed to keep the result row narrow."""
    from db_spark.llm import text as ltext

    docs = _t(spark, sf_dir, "documents")
    chunks = ltext.chunk_documents(docs, chunk_tokens=64, overlap=16)
    return chunks.select(
        "doc_id", "chunk_id", "n_tokens",
        F.md5(F.col("chunk_text")).alias("chunk_hash"))


def q_embedding_quantize(spark, sf_dir):
    """Symmetric per-vector int8 quantization of the embedding corpus;
    reports the codes' extremes plus reconstruction error vs the exact
    vector (all integer/rounded outputs for cross-engine hashing)."""
    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings")
    q = lsim.quantize_int8(emb)
    orig = emb.select("vec_id", F.col("embedding").alias("_v"))
    deq = lsim.dequantize(F.col("scale"), F.col("qvec"))
    err = F.array_max(F.zip_with(
        lsim._dbl(F.col("_v")), deq, lambda a, b: F.abs(a - b)))
    # err in its own projection: aliasing round(scale) AS scale in the
    # same select would lateral-resolve the err's scale reference to the
    # ROUNDED value and inflate the reconstruction error.
    staged = q.join(orig, "vec_id").select(
        "vec_id", "scale", "qvec", err.alias("_err"))
    return staged.select(
        "vec_id",
        F.round(F.col("scale"), 6).alias("scale"),
        F.array_max(F.col("qvec")).cast("long").alias("q_max"),
        F.array_min(F.col("qvec")).cast("long").alias("q_min"),
        F.round(F.col("_err"), 6).alias("max_abs_err"),
    )


def q_repetition_stats(spark, sf_dir):
    """Within-document repetition signals (Gopher-style quality filter):
    duplicate 2/3-gram fractions + most-frequent-2-gram share, map-only."""
    from db_spark.llm import text as ltext

    docs = _t(spark, sf_dir, "documents")
    return ltext.repetition_stats(docs)


def q_unigram_surprisal(spark, sf_dir):
    """Quantized unigram-LM surprisal per document — integer bit-count
    perplexity proxy (corpus model pass + broadcast-scored second pass)."""
    from db_spark.llm import text as ltext

    docs = _t(spark, sf_dir, "documents")
    return ltext.unigram_surprisal(docs)


def q_bigram_surprisal(spark, sf_dir):
    """Quantized bigram-LM surprisal per document (db_spark/llm/text.py:
    bigram_surprisal): floor(-log2 P(cur|prev)) whole-bit conditional
    information under the corpus's own empirical bigram model — map-only
    bigram extraction, model-side bit precompute, one scoring join."""
    from db_spark.llm import text as ltext

    docs = _t(spark, sf_dir, "documents")
    return ltext.bigram_surprisal(docs)


def q_pack_sequences(spark, sf_dir):
    """Concat-and-split sequence packing: 64-token chunks laid head-to-
    tail into 256-token training sequences within 8 deterministic shards."""
    from db_spark.llm import text as ltext

    docs = _t(spark, sf_dir, "documents")
    chunks = ltext.chunk_documents(docs, chunk_tokens=64, overlap=0)
    return ltext.pack_sequences(chunks, capacity=256, shards=8)


def q_curate_corpus(spark, sf_dir):
    """The WHOLE curation recipe as one operator (db_spark/llm/
    pipeline.py: curate): normalize -> quality gate (ppm >= 720000) ->
    eval-doc removal + 4-gram decontamination (eval = doc_id %% 97 == 0)
    -> MinHash-LSH near-dup removal keeping each cluster's
    highest-quality member. The oracle composes the same four stages
    into a single DuckDB query from the shared constants (normalize
    chain, quality composite, md5 hash family, LSH band layout), so the
    survivor set of the END-TO-END pipeline — not just each stage — is
    hash-verified."""
    from db_spark.llm import pipeline as lpipe

    docs = _t(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    out = lpipe.curate(
        docs, quality_min=0.72, eval_df=eval_df, decontam_n=4,
        dedup_threshold=0.5)
    return out.select("doc_id", "lang", "source", "quality_ppm")


def q_curate_corpus_v2(spark, sf_dir):
    """The FULL modern curation recipe composed end to end (db_spark/
    llm/pipeline.py: curate_v2 — round 12): normalize -> in-engine NB
    training on the seed split doc_id %% 2 = 0 (train_nb_classifier's
    fixed-point integer log2) -> classifier_score gate (the DCLM
    model-based filtering loop, closed INSIDE one pipeline) -> eval
    removal + 4-gram decontamination (eval = doc_id %% 97 = 0) ->
    winnow span CUT of duplicated passages among the survivors (Lee
    et al. 2022 span-level treatment; offsets computed on the
    normalized survivor text) -> MinHash-LSH keep-best dedup with
    quality scored on the POST-CUT text. The oracle composes all six
    stages into one DuckDB query from the same shared generators the
    per-stage oracles use, and the output hash covers doc ids,
    span-cut stats, quality AND md5 of the final cut text — so the
    stages are verified to COMPOSE, not just to work in isolation."""
    from db_spark.llm import pipeline as lpipe

    docs = _t(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    # threshold -0.15 on the LOGIT scale: train_nb_classifier weights
    # are UNSEEN-BASELINE-RELATIVE log-odds (the per-class totals fold
    # into the threshold — its docstring), so the working point is a
    # corpus property, not 0. -0.15 keeps 411/500 at sf0.01: the gate
    # drops a real tail, decontamination then removes 11 more, winnow
    # cuts spans from 17 survivors. The LSH stage finds 0 residual
    # near-dups HERE because the span cut upstream already removed the
    # verbatim duplication — the composition working as designed (the
    # stage is live; tests/test_llm.py pins that exact dups surviving
    # an inactive cut stage ARE removed by it).
    out = lpipe.curate_v2(
        docs, seed_label=(F.col("doc_id") % 2 == 0), clf_dim=4096,
        clf_threshold=-0.15, eval_df=eval_df, decontam_n=4,
        dedup_threshold=0.5)
    return out.select(
        "doc_id", "lang", "source", "n_spans_cut", "chars_removed",
        "quality_ppm", F.md5(F.col("text")).alias("text_hash"))


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs (doc_id % 97 != 0)
    sharing any distinct 4-gram with the held-out eval set (% 97 == 0)."""
    from db_spark.llm import corpus as lcorpus

    docs = _t(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return lcorpus.decontaminate(train, eval_df, n=4)


def q_stratified_fixed(spark, sf_dir):
    """Exact-size per-stratum sampling (db_spark/llm/corpus.py:
    stratified_fixed_sample): exactly 200 English / 80 German / 50
    French docs by stable-hash order — the eval-split builder where
    exact counts matter. One stratum-keyed rank window; other strata
    drop."""
    from db_spark.llm import corpus as lcorpus

    docs = _t(spark, sf_dir, "documents")
    return lcorpus.stratified_fixed_sample(
        docs, {"en": 200, "de": 80, "fr": 50}).select(
        "doc_id", "lang", "sample_rank")


def q_stratified_sample(spark, sf_dir):
    """Deterministic data-mixture sampling: keep 60% of English, 30% of
    German/French, 15% of the rest, by stable doc-id hash."""
    from db_spark.llm import corpus as lcorpus

    docs = _t(spark, sf_dir, "documents")
    out = lcorpus.stratified_sample(
        docs, {"en": 0.6, "de": 0.3, "fr": 0.3}, default_rate=0.15)
    return out.select("doc_id", "lang")


def q_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-20 documents for the query {spark, merge, window}
    via an inverted-index postings join (scaled-long deterministic score)."""
    from db_spark.llm import corpus as lcorpus

    docs = _t(spark, sf_dir, "documents")
    return lcorpus.bm25_topk(docs, ["spark", "merge", "window"], k=20)


def q_span_dup(spark, sf_dir):
    """Corpus-wide exact repeated-span flagging: documents containing a
    5-token window that also appears in another document (substring-dedup
    audit; grouped on a 60-bit window hash, one shuffle)."""
    from db_spark.llm import dedup as ldedup

    docs = _t(spark, sf_dir, "documents")
    return ldedup.span_dup_stats(docs, window=5, min_df=2)


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (db_spark/llm/dedup.py:
    winnow_fingerprints — Schleimer/Wilkerson/Aiken SIGMOD'03): per-doc
    4-gram hashes via lead() windows over exploded tokens, window-4
    minima, distinct selected values — one exchange at token
    cardinality, all whole-stage-codegen operators."""
    from db_spark.llm import dedup as ldedup

    docs = _t(spark, sf_dir, "documents")
    return ldedup.winnow_fingerprints(docs, k=4, w=4)


def q_winnow_overlap(spark, sf_dir):
    """MOSS-style overlap report (db_spark/llm/dedup.py:
    winnow_overlap): doc pairs sharing >= 2 winnowing fingerprints,
    scored by containment — partial-overlap detection at ~2/(w+1) of
    the shingle-join key volume, fingerprint-blocked (no doc cross
    product), hot fingerprints capped."""
    from db_spark.llm import dedup as ldedup

    docs = _t(spark, sf_dir, "documents")
    return ldedup.winnow_overlap(docs, k=4, w=4, min_shared=2)


def q_winnow_spans(spark, sf_dir):
    """MOSS-style passage alignment (db_spark/llm/dedup.py:
    winnow_overlap output='spans' — r10, the paper's missing half):
    matched winnowing-fingerprint occurrences anchored per (pair,
    diagonal), anchor runs within the k+w-1 guarantee gap merged into
    aligned passages with 1-based inclusive token offsets. Verbatim
    copied runs keep a constant diagonal, so alignment is one window
    pass — no dynamic programming, no doc cross product."""
    from db_spark.llm import dedup as ldedup

    docs = _t(spark, sf_dir, "documents")
    return ldedup.winnow_overlap(docs, k=4, w=4, min_shared=2,
                                 output="spans")


def q_winnow_probe(spark, sf_dir):
    """Incremental winnow span-overlap probe (db_spark/llm/dedup.py:
    winnow_index_build/winnow_probe): the corpus partition's
    fingerprint OCCURRENCES are materialized once (id, fingerprint,
    1-based token pos — no text), then the NEW batch is fingerprinted
    alone and span-aligned against the stored positions — the
    daily-crawl-increment user story: overlap detection without
    re-tokenizing the history. Oracle = full cross-set recompute
    (corpus = doc_id % 5 != 0, new = doc_id % 5 == 0), which equals
    the probe exactly because winnowing is per-document: a document's
    fingerprint set never depends on the rest of the corpus."""
    import tempfile

    from db_spark.llm import dedup as ldedup

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    idx = tempfile.mkdtemp(prefix="winnow_index_") + "/winnow"
    ldedup.winnow_index_build(corpus, idx, k=4, w=4)
    return ldedup.winnow_probe(spark, idx, new, min_shared=2,
                               output="spans")


def q_winnow_cut(spark, sf_dir):
    """Span-level dedup REMOVAL (db_spark/llm/dedup.py:
    remove_char_spans — the Lee et al. 2022 treatment): the aligned
    passages q_winnow_spans reports are cut out of the HIGHER-id
    document of each pair (lowest id keeps its copy, the module's
    survival convention) via their r11 character offsets — merged
    sorted-sweep intervals, substring-complement reconstruction, one
    span-cardinality window pass plus one join against the corpus.
    Every document comes back (untouched ones pass through), so the
    result IS the deduplicated corpus."""
    from db_spark.llm import dedup as ldedup

    docs = _t(spark, sf_dir, "documents")
    spans = ldedup.winnow_overlap(docs, k=4, w=4, min_shared=2,
                                  output="spans")
    cut = spans.select(F.col("id_b").alias("id"),
                       F.col("b_char_start").alias("char_start"),
                       F.col("b_char_end").alias("char_end"))
    return ldedup.remove_char_spans(docs, cut)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup semantic deduplication (db_spark/llm/similarity.py:
    semantic_dedup — Abbas et al. 2023): deterministic k-means over the
    embeddings plus perturbed copies (vec_id+1e8, the near-dup corpus
    construction q_embedding_near_dup uses), then within-cluster cosine
    pruning at 0.95 keeping the lowest id. Pairwise work is blocked per
    cell — never a global pair matrix. The perturbation is an INDEXED
    transform (follows the data's dimensionality — never zip_with
    against a hardcoded length, whose NULL padding list_inner_product
    rejects on the 8-dim dirty fixture). target_cell_size=None pins the
    cell count so the DuckDB oracle can replicate the clustering with a
    fixed dimension; the library default auto-scales it instead."""
    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # guard, not a live bug at fixture scales: a corpus with real
    # vec_id >= 1e8 would silently collide perturbed and original rows,
    # and the oracle applies the same offset so the gate couldn't see
    # it. Explicit raise (not assert — must survive python -O); None
    # (empty table / all-NULL ids) passes: nothing can collide.
    _max_vec_id = emb.agg(F.max("vec_id")).first()[0]
    if _max_vec_id is not None and _max_vec_id >= 100000000:
        raise ValueError(
            "vec_id >= 1e8 would collide with the perturbed-id offset"
        )
    arr = F.col("embedding").cast("array<double>")
    perturbed = emb.select(
        (F.col("vec_id") + 100000000).alias("vec_id"),
        F.transform(
            arr, lambda x, j: x + (j % 7 - 3).cast("double") * 0.01,
        ).alias("embedding"),
    )
    corpus = emb.select("vec_id", arr.alias("embedding")).unionByName(perturbed)
    return lsim.semantic_dedup(corpus, n_cells=16, threshold=0.95,
                               refine_iters=2, target_cell_size=None)


def q_embedding_decontaminate(spark, sf_dir):
    """Semantic (retrieval-based) decontamination (db_spark/llm/
    similarity.py: embedding_decontaminate): flag training vectors
    cosine-near ANY eval vector — catches the paraphrased benchmark
    leakage n-gram `decontaminate` cannot see. Eval = vec_id %% 11 = 0;
    the training side is the remaining corpus UNIONED with perturbed
    copies of the eval vectors (vec_id + 1e8, the q_semantic_dedup
    indexed-transform construction) as planted contamination — the
    testdata embeddings have no natural cross-set pairs above 0.52,
    so the planted copies (cos ~> 0.999) are exactly what threshold
    0.9 must flag. Eval broadcasts; the check is map-only over the
    corpus at any scale."""
    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    _max_vec_id = emb.agg(F.max("vec_id")).first()[0]
    if _max_vec_id is not None and _max_vec_id >= 100000000:
        raise ValueError(
            "vec_id >= 1e8 would collide with the perturbed-id offset"
        )
    arr = F.col("embedding").cast("array<double>")
    ev = emb.filter(F.col("vec_id") % 11 == 0)
    planted = ev.select(
        (F.col("vec_id") + 100000000).alias("vec_id"),
        F.transform(
            arr, lambda x, j: x + (j % 7 - 3).cast("double") * 0.01,
        ).alias("embedding"),
    )
    train = (emb.filter(F.col("vec_id") % 11 != 0)
             .select("vec_id", arr.alias("embedding"))
             .unionByName(planted))
    return lsim.embedding_decontaminate(
        train, ev.select("vec_id", arr.alias("embedding")), threshold=0.9)


def q_pca_project(spark, sf_dir):
    """Dominant-principal-component projection (db_spark/llm/
    similarity.py:pca_project): exact-integer covariance moments (one
    dim^2 exchange, corpus-independent), python-bigint power iteration
    on the model-sized moment table (the k-center bounded-driver-fetch
    class), broadcast-literal integer component, exact dot projection.
    The oracle replays the identical integer arithmetic in HUGEINT with
    the iteration unrolled — a value-hash match proves the whole chain
    including the truncating-division renormalization and sign pin."""
    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings")
    return lsim.pca_project(emb, n_iter=8)


def q_pca_topk(spark, sf_dir):
    """Top-k principal-component projection (db_spark/llm/
    similarity.py:pca_topk): pca_project's exact-integer moment fold
    and power iteration, plus integer Hotelling deflation between
    components (C - g*trunc(y y^T / w^T y), y = C w), so PC1..PC3
    emerge in descending-eigenvalue order with every step replayable
    in HUGEINT by the oracle. The distributed cost is unchanged from
    pca_project (ONE dim^2 exchange + one map-only projection pass
    emitting all three columns); deflation is driver-side bigint on
    the model-sized matrix."""
    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings")
    return lsim.pca_topk(emb, k=3, n_iter=8)


def q_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-k (db_spark/llm/similarity.py:
    pq_train/pq_encode/pq_topk — Jégou et al. TPAMI 2011): per-subspace
    k-means codebooks under EXACT integer squared-L2 (clamped scaled
    components, DECIMAL(38,0)/HUGEINT folds, truncating-division
    means — no float fold anywhere, so codebooks, codes, and distances
    are bit-identical on any engine/partitioning), corpus encoded to
    m=4 codes per vector, queries scored as the sum of m broadcast
    table lookups. The memory-bounded ANN path: search never touches
    the raw floats."""
    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return lsim.pq_topk(emb, queries_df, k=10, m=4, n_codes=8, n_iter=2)


def q_pq_index_topk(spark, sf_dir):
    """Persisted-PQ search through the driver gate (db_spark/llm/
    similarity.py: pq_index_build/pq_index_topk): codebooks + codes +
    meta written once, ADC search reads ONLY the code and codebook
    parquet (never the raw embeddings —
    tests/test_llm.py::test_pq_index_persisted_matches_one_shot pins
    the ReadSchema). Bit-identical to one-shot pq_topk with the same
    build parameters, so the same oracle checks it value-exactly
    (ivf_index_topk precedent)."""
    import tempfile

    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    idx = tempfile.mkdtemp(prefix="pq_index_") + "/pq"
    lsim.pq_index_build(emb, idx, m=4, n_codes=8, n_iter=2)
    return lsim.pq_index_topk(spark, idx, queries_df, k=10)


def q_ivfpq_index_topk(spark, sf_dir):
    """Persisted-IVF-PQ search through the driver gate (db_spark/llm/
    similarity.py: ivfpq_index_build/ivfpq_index_topk): centroids +
    residual codebooks + cell-partitioned codes written once; probes
    push the probed cell set down as PartitionFilters and read m ints
    per vector. Bit-identical to one-shot ivfpq_topk with the same
    build parameters — one oracle serves both."""
    import tempfile

    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    idx = tempfile.mkdtemp(prefix="ivfpq_index_") + "/ivfpq"
    lsim.ivfpq_index_build(emb, idx, n_cells=8, m=4, n_codes=8, n_iter=2)
    return lsim.ivfpq_index_topk(spark, idx, queries_df, k=10, n_probe=3)


def q_l2_topk(spark, sf_dir):
    """Exact squared-L2 top-k in the PQ scaled-integer space
    (db_spark/llm/similarity.py: l2_topk) — the ground-truth twin the
    ADC searchers approximate (pq/ivfpq rank by THIS metric;
    cosine_topk is a different metric on unnormalized vectors).
    Broadcast query components, one corpus scan, DECIMAL/HUGEINT
    distance folds, ties -> lowest id."""
    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return lsim.l2_topk(emb, queries_df, k=10)


def q_ivfpq_recall(spark, sf_dir):
    """recall@10 of IVF-PQ against the exact-L2 ground truth — the
    driver-gated QUALITY number for the billion-scale ANN composition
    (metric-matched: ADC approximates squared L2, so l2_topk, not the
    cosine brute force, is the honest baseline). Composes the two
    oracle-checked top-k results; a hash match proves both the
    searcher and the measurement."""
    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = lsim.l2_topk(emb, queries_df, k=10)
    approx = lsim.ivfpq_topk(emb, queries_df, k=10, n_cells=8,
                             n_probe=3, m=4, n_codes=8, n_iter=2)
    return (
        exact.select("query_id", "vec_id")
        .join(approx.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"),
             F.round(F.count(F.lit(1)).cast("double") / 10.0, 6)
             .alias("recall_at_10")))


def q_pq_sampled(spark, sf_dir):
    """Bounded-sample PQ training (db_spark/llm/similarity.py:
    pq_train(train_sample_n=...)): codebooks k-means over the 200
    corpus rows ranked lowest by the salted id-hash h32('pqs:' || id)
    (deterministic, partition-invariant — the corpus-module
    id-hash-uniform doctrine), while encode and ADC search still
    touch every vector. The 100 TB training cost shape: codebook
    quality saturates at a bounded learning set (Jégou et al. train
    on learning sets, not the corpus), so training cost is
    O(sample * dim * n_codes), corpus-independent."""
    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return lsim.pq_topk(emb, queries_df, k=10, m=4, n_codes=8, n_iter=2,
                        train_sample_n=200)


def q_pq_subspace_var(spark, sf_dir):
    """OPQ-lite diagnostic (db_spark/llm/similarity.py:
    pq_subspace_variance — Ge et al. 2013 motivate balanced subspace
    energy): per-PQ-subspace variance share from exact scaled-integer
    moments (DECIMAL/HUGEINT n·Σx² − (Σx)² folds, one final double
    division). Strongly unequal shares with multi-dim subspaces =
    pre-rotate with pca_topk before pq_train (the documented remedy,
    recall-pinned by test). Map-only + one dim-cardinality aggregate."""
    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings")
    return lsim.pq_subspace_variance(emb, m=4)


def q_ivfpq_topk(spark, sf_dir):
    """IVF-PQ / IVFADC (db_spark/llm/similarity.py: ivfpq_topk —
    Jégou et al. TPAMI 2011 §IV, the composition billion-scale ANN
    systems deploy): coarse cells prune the corpus to n_probe/n_cells
    per query, and a SHARED residual codebook (PQ over
    vector − centroid, exact BIGINT subtraction of the scaled
    components) compresses each vector to m codes — the two
    reductions compose multiplicatively. Same deterministic doctrine
    as pq_topk/ivf_topk (lowest-id seeds from the non-centroid tail,
    HUGEINT-replayable squared-L2, ties -> lowest id/code/cell), so
    the full train-encode-probe-rank path replays 1:1 in SQL."""
    from db_spark.llm import similarity as lsim

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return lsim.ivfpq_topk(emb, queries_df, k=10, n_cells=8, n_probe=3,
                           m=4, n_codes=8, n_iter=2)


def q_temperature_sample(spark, sf_dir):
    """Temperature-flattened language mixture (tau=0.5): downsample each
    language at sqrt(c_min/c_lang) by stable doc-id hash — rarest
    language keeps everything; sqrt/divide are IEEE-exact so thresholds
    are engine-identical."""
    from db_spark.llm import corpus as lcorpus

    docs = _t(spark, sf_dir, "documents")
    out = lcorpus.temperature_sample(docs, group_col="lang", tau=0.5)
    return out.select("doc_id", "lang")


def q_domain_cap(spark, sf_dir):
    """Per-domain cap: keep at most 20 documents per source, chosen by
    stable id hash (reproducible anti-domination rule)."""
    from db_spark.llm import corpus as lcorpus

    docs = _t(spark, sf_dir, "documents")
    out = lcorpus.cap_per_group(docs, group_col="source", n=20)
    return out.select("doc_id", "source")


def q_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement (db_spark/llm/corpus.py:
    weighted_sample): Efraimidis-Spirakis A-ES with the deterministic
    id-hash uniform — 50 docs drawn with probability proportional to
    weight 1 + doc_id % 10, without replacement. Ranking key is the
    monotone-equivalent ln(u)/w rounded to 6 dp (id tie-break), and the
    top-k is a TakeOrderedAndProject — per-partition heaps, never a
    global sort."""
    from db_spark.llm import corpus as lcorpus

    docs = _t(spark, sf_dir, "documents")
    w = (F.lit(1) + F.col("doc_id") % 10).cast("double")
    return lcorpus.weighted_sample(docs, w, 50).select(
        "doc_id", "source", "sample_key")


def q_importance_sample(spark, sf_dir):
    """Per-row importance sampling (db_spark/llm/corpus.py:
    importance_sample): keep each document with probability equal to
    its quality score, decided by the stable id hash against an
    integer-ppm threshold — reproducible quality-weighted mixing,
    map-only, no shuffle."""
    from db_spark.llm import corpus as lcorpus
    from db_spark.llm import text as ltext

    docs = _t(spark, sf_dir, "documents")
    return lcorpus.importance_sample(
        docs, ltext.quality_score(F.col("text"))).select(
        "doc_id", "source")


def q_token_budget(spark, sf_dir):
    """Token-budget mixture sampling (db_spark/llm/corpus.py:
    token_budget_sample): fill four domains' token quotas with the
    hash-ordered greedy document prefix — 100 (crosses on doc one),
    500 and 800 (partial prefixes), 5000 (the whole domain). The
    bucketed two-phase plan selects exactly the naive per-group prefix
    the oracle computes; only one boundary hash-cell per group pays a
    per-doc cumulative window."""
    from db_spark.llm import corpus as lcorpus

    docs = _t(spark, sf_dir, "documents")
    return lcorpus.token_budget_sample(
        docs, {"src0": 800, "src1": 500, "src2": 5000, "src3": 100})


def q_redact_pii(spark, sf_dir):
    """PII audit + scrub over a corpus with deterministically injected
    PII (emails/phones on doc_id%7, ip/ssn on doc_id%11): per-category
    match counts and the md5 of the redacted text. Map-only scan."""
    from db_spark.llm import text as ltext

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = (
        F.when(did % 7 == 0, F.concat(
            F.col("text"), F.lit(" reach user"), did.cast("string"),
            F.lit("@example.com or call 555-867-5309")))
        .when(did % 11 == 0, F.concat(
            F.lit("host 10.0."), (did % 256).cast("string"),
            F.lit(".7 ssn 123-45-6789 "), F.col("text")))
        .otherwise(F.col("text"))
    )
    staged = docs.select("doc_id", aug.alias("_text"))
    pc = staged.withColumn("_pc", ltext.pii_counts(F.col("_text")))
    return pc.select(
        "doc_id",
        F.col("_pc.n_email").alias("n_email"),
        F.col("_pc.n_ssn").alias("n_ssn"),
        F.col("_pc.n_phone").alias("n_phone"),
        F.col("_pc.n_ipv4").alias("n_ipv4"),
        F.md5(ltext.redact_pii(F.col("_text"))).alias("redacted_md5"),
    )


def q_keywords_tfidf(spark, sf_dir):
    """Per-document TF-IDF keywords (db_spark/llm/text.py:
    keywords_tfidf): top-3 characteristic terms per document, ranked
    by micro-rounded tf·ln(N/df) with a term-asc tiebreak. One
    (doc, term) aggregate + a broadcast vocabulary join + a per-doc
    rank window — shuffled volume is the distinct (doc, term) set."""
    from db_spark.llm import text as ltext

    docs = _t(spark, sf_dir, "documents")
    return ltext.keywords_tfidf(docs, k=3)


def q_skipgram_counts(spark, sf_dir):
    """Skip-gram co-occurrence counts (db_spark/llm/text.py:
    skipgram_counts): (center, context) pairs within a ±2 token
    window, count >= 5 — the word2vec/GloVe input matrix. Positions
    assigned once, centers explode map-only into their 2w targets,
    ONE (doc, position) equi-join forms exactly the in-window pairs —
    O(tokens·2w), never quadratic in document length."""
    from db_spark.llm import text as ltext

    docs = _t(spark, sf_dir, "documents")
    return ltext.skipgram_counts(docs, window=2, min_count=5)


def q_hashed_features(spark, sf_dir):
    """Hashing-trick featurization (db_spark/llm/text.py:
    hashed_features): every document as sparse (index, count) pairs in
    a fixed 256-dim space, indices from the md5 hash family - no
    vocabulary to build or broadcast, OOV impossible. Map-only explode
    + one (doc, index) aggregate."""
    from db_spark.llm import text as ltext

    docs = _t(spark, sf_dir, "documents")
    return ltext.hashed_features(docs, dim=256)


def q_collocations(spark, sf_dir):
    """Top-50 corpus collocations by exponentiated PMI (>= 5
    occurrences): one token explode, two hash aggs, vocabulary-keyed
    joins; ratio is a fixed IEEE divide chain (log-free determinism)."""
    from db_spark.llm import text as ltext

    docs = _t(spark, sf_dir, "documents")
    return ltext.collocations(docs, min_count=5, k=50)


def q_span_dedup(spark, sf_dir):
    """Exact substring dedup (removal): corpus-duplicated 5-token spans
    are cut from every document except the lowest-id owner; changed
    documents come back reassembled with removal counts."""
    from db_spark.llm import dedup as ldedup

    docs = _t(spark, sf_dir, "documents")
    out = ldedup.remove_dup_spans(docs, window=5)
    return out.select(
        "doc_id", "n_tokens_before", "n_tokens_removed",
        F.md5("clean_text").alias("clean_md5"))


def q_bootstrap(spark, sf_dir):
    """Deterministic Poisson bootstrap (db_spark/llm/corpus.py:
    bootstrap_counts): with-replacement epoch resampling where each
    doc's replication count is the inverse Poisson(1) CDF of its
    salted id-hash uniform — RNG-free, partition-invariant, map-only;
    CDF thresholds are Python-precomputed 2^32-scaled integers
    (poisson_cdf_u32 — 2^32 units keep the 32-bit hash uniform exactly
    unbiased, unlike a % 1e9 ppb mapping) shared verbatim with the
    oracle."""
    from db_spark.llm.corpus import bootstrap_counts

    return bootstrap_counts(_t(spark, sf_dir, "documents"), rate=1.0)


def q_deterministic_split(spark, sf_dir):
    """Reproducible train/val/test split by stable content hash — no RNG
    state, invariant under repartitioning/re-runs/engine (the correct way
    to split a 100 TB corpus; df.sample seeds are partition-dependent)."""
    from db_spark.llm.dedup import h32

    docs = _t(spark, sf_dir, "documents")
    bucket = h32(F.col("doc_id").cast("string")) % 10
    split = (F.when(bucket < 8, F.lit("train"))
             .when(bucket < 9, F.lit("val"))
             .otherwise(F.lit("test")))
    return docs.select("doc_id", split.alias("split"))


def q_leakage_split(spark, sf_dir):
    """Leakage-safe train/val/test split (db_spark/llm/corpus.py:
    leakage_safe_split): near-dup clusters from the MinHash-LSH tier
    split as a UNIT (the group id is hashed, not the doc id), so eval
    never scores a near-copy of a training document. Cluster table is
    pair-node-sized; the split itself is one left join + a map-only
    integer-ppm hash decision."""
    from db_spark.llm import dedup as ldedup
    from db_spark.llm.corpus import leakage_safe_split

    docs = _t(spark, sf_dir, "documents")
    pairs = ldedup.minhash_dedup_pairs(docs, k=16, bands=4, threshold=0.5)
    clusters = ldedup.connected_components(pairs)
    return leakage_safe_split(docs, clusters)


def q_shard_plan(spark, sf_dir):
    """Deterministic global shuffle into training shards
    (db_spark/llm/corpus.py: global_shuffle_shards): shard assignment
    and within-shard position both derive from the stable salted id
    hash — bit-reproducible epoch shuffling, one exchange + per-shard
    sort (the write pattern repartition + sortWithinPartitions)."""
    from db_spark.llm.corpus import global_shuffle_shards

    docs = _t(spark, sf_dir, "documents")
    return global_shuffle_shards(docs, n_shards=8)


def q_media_features(spark, sf_dir):
    """Multimodal plumbing: documents as opaque binary payloads through
    the Arrow-batched mapInPandas feature pipeline (fake decoder —
    real codecs are registered via register_decoder)."""
    from db_spark.llm import multimodal as lmm

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("doc").alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit(None).cast(lmm.MEDIA_SCHEMA["meta"].dataType).alias("meta"),
    )
    feats = lmm.extract_features(media, decoder="fake")
    return feats.select("media_id", "modality", "n_bytes", "content_hash")


def q_video_features(spark, sf_dir):
    """REAL video decode through the Arrow-batched pipeline: build a
    deterministic 2-frame 8x4 Cmono YUV4MPEG2 payload per document with
    pure Column expressions (header + FRAME markers + solid luma planes
    whose byte values derive from doc_id), then let the modality
    dispatcher hand it to codecs.video_features (stdlib y4m parser —
    db_spark/llm/codecs.py). The oracle recomputes the luma statistics
    analytically from doc_id, so a value-hash match proves the actual
    decode: header parse, frame stride, per-frame luma recovery. Every
    feature is an exact multiple of 0.5, so float round-trip is exact.

    100 TB shape: payload construction and decode are map-only inside
    executor Arrow batches; no shuffle, no driver collection."""
    from db_spark.llm import multimodal as lmm

    docs = _t(spark, sf_dir, "documents")
    a = (F.col("doc_id") % 256).cast("long")
    b = ((F.col("doc_id") * 7 + 13) % 256).cast("long")

    def _frame(v):  # 32 identical luma bytes (8x4) from an int value
        return F.unhex(F.repeat(F.lpad(F.hex(v), 2, "0"), 32))

    marker = F.encode(F.lit("FRAME\n"), "UTF-8")
    payload = F.concat(
        F.encode(F.lit("YUV4MPEG2 W8 H4 F10:1 Ip A1:1 Cmono\n"), "UTF-8"),
        marker, _frame(a), marker, _frame(b))
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("modality"),
        payload.alias("payload"),
        F.lit(None).cast(lmm.MEDIA_SCHEMA["meta"].dataType).alias("meta"),
    )
    # deliberately NOT spread (text.spread_scan): the y4m parse is ~µs
    # per 100-byte payload, so the extra exchange costs what the
    # parallelism buys back (A/B r12: 0.81-0.95 s both ways at sf0.1)
    feats = lmm.extract_features(media)
    f = feats["features"]
    return feats.select(
        "media_id",
        f[2].cast("double").alias("n_frames"),
        f[4].cast("double").alias("duration_ms"),
        f[5].cast("double").alias("mean_luma"),
        f[6].cast("double").alias("std_luma"),
        f[7].cast("double").alias("motion"),
    )


def q_mjpeg_features(spark, sf_dir):
    """COMPRESSED video decode with zero third-party codec libraries:
    2-frame MJPEG-in-AVI payloads (RIFF demux -> per-frame baseline
    JPEG Huffman+IDCT decode, db_spark/llm/jpeg.py + codecs.py) built
    per document from a 256-row broadcast lookup (flat 8x8 frames with
    luma a = pmod(doc_id, 256), b = (a*7+13) % 256; the pinned all-8
    quant table makes flat DC-only tiles decode EXACTLY, so the luma
    statistics are analytic in doc_id). A value-hash match proves the
    real compressed decode: container demux, Huffman entropy decode,
    dequant, IDCT, frame stride. Payload bytes live only executor-side
    (Arrow-batched mapInPandas); the lookup is a 256-row broadcast dim
    — the 100 TB join shape."""
    import numpy as np

    from db_spark.llm import codecs as lcodecs
    from db_spark.llm import multimodal as lmm

    rows = []
    for m in range(256):
        a, b = m, (m * 7 + 13) % 256
        avi = lcodecs.encode_avi_mjpeg(
            [np.full((8, 8), a, np.uint8), np.full((8, 8), b, np.uint8)],
            fps=(10, 1), luma_quant_zz=[8] * 64)
        rows.append((m, bytearray(avi)))
    lut = spark.createDataFrame(rows, "m long, payload binary")
    docs = _t(spark, sf_dir, "documents")
    # Identical-payload grouping (r13 — the r12 identical-vector/-text
    # discipline applied to the decode): every feature column is a pure
    # function of the payload, and payloads come from the 256-row LUT,
    # so the Huffman+IDCT decode runs ONCE PER DISTINCT PAYLOAD through
    # the same Arrow-batched mapInPandas pipeline (createDataFrame
    # spreads the 256 rows over defaultParallelism tasks) instead of
    # once per document (~20x the decode work at sf0.1, unbounded
    # repetition at corpus scale). Documents then broadcast-join the
    # decoded feature dim — the decide-on-small-rows shape (guide §8);
    # per-doc cost drops from a JPEG decode to a hash probe.
    lmedia = lut.select(
        F.col("m").alias("media_id"),
        F.lit("video").alias("modality"),
        F.col("payload"),
        F.lit(None).cast(lmm.MEDIA_SCHEMA["meta"].dataType).alias("meta"))
    lf = lmm.extract_features(lmedia)
    f = lf["features"]
    lut_feats = lf.select(
        F.col("media_id").alias("m"),
        f[2].cast("double").alias("n_frames"),
        f[4].cast("double").alias("duration_ms"),
        f[5].cast("double").alias("mean_luma"),
        f[6].cast("double").alias("std_luma"),
        f[7].cast("double").alias("motion"))
    return (
        docs.select(F.col("doc_id").alias("media_id"),
                    F.pmod(F.col("doc_id"), F.lit(256)).alias("m"))
        .join(F.broadcast(lut_feats), "m")
        .select("media_id", "n_frames", "duration_ms", "mean_luma",
                "std_luma", "motion")
    )


def q_classifier_score(spark, sf_dir):
    """fastText-style linear quality classifier applied at corpus scale
    (db_spark/llm/text.py:classifier_score — Joulin et al. 2016): hashed
    unigram+bigram features (dim=4096), broadcast integer-ppm weight
    table, logit-scale score with a threshold keep flag, zero libm. The
    weight table here is a deterministic hash-derived stand-in for a
    trained model (w_ppm = h32('w:'||idx) % 20001 - 10000, bias 500
    ppm) — the op contract takes any (idx, w_ppm) table; at 100 TB the
    model stays dim-bounded (hashing trick: no OOV, no vocabulary
    sync) so the scoring join always broadcasts."""
    from db_spark.llm import text as ltext
    from db_spark.llm.dedup import h32

    docs = _t(spark, sf_dir, "documents")
    w = spark.range(4096).select(
        F.col("id").cast("int").alias("idx"),
        (h32(F.concat(F.lit("w:"), F.col("id").cast("string"))) % 20001
         - 10000).cast("long").alias("w_ppm"))
    return ltext.classifier_score(docs, w, dim=4096, bias_ppm=500,
                                  threshold=0.0)


def q_nb_train(spark, sf_dir):
    """In-engine multinomial Naive Bayes training
    (db_spark/llm/text.py:train_nb_classifier — McCallum & Nigam 1998):
    the TRAINING half of the DCLM model-based filtering loop, closing
    it end-to-end with classifier_score. Labels here are the
    deterministic split doc_id % 2 = 0 (the op contract takes any
    boolean label column); features are the same hashed unigram+bigram
    stream classifier_score extracts (dim=4096), counted per class in
    ONE bucket-cardinality aggregate, and the per-bucket log-odds
    weight is the module's deterministic fixed-point integer log2
    (bit-length + 8 square-and-compare steps, exact to 1/256 bit — no
    libm), so the oracle replays the identical arithmetic in SQL. At
    100 TB the output stays dim-bounded (hashing trick) and broadcasts
    straight back into the scoring join."""
    from db_spark.llm import text as ltext

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.select(
        "doc_id", "text", (F.col("doc_id") % 2 == 0).alias("label"))
    return ltext.train_nb_classifier(labeled, dim=4096, ngrams=2)


def q_quality_rules(spark, sf_dir):
    """Gopher-style quality rule verdicts: five named boolean rules
    (word count, mean word length, symbol ratio, alpha-word fraction,
    stopword hits) plus the overall keep flag — integer-compared
    thresholds, map-only scan."""
    from db_spark.llm import text as ltext

    docs = _t(spark, sf_dir, "documents")
    return ltext.quality_rules(docs)


def q_kmv_distinct(spark, sf_dir):
    """KMV (bottom-k) distinct-count sketch per source: estimated vs
    exact distinct token counts. The sketch is mergeable and engine-
    reproducible (md5 hash family + integer estimator) — the shape that
    lets per-partition sketches roll up without rescanning 100 TB."""
    from db_spark import sketch as lsk
    from db_spark.llm import text as ltext

    docs = _t(spark, sf_dir, "documents")
    tok = ltext.spread_scan(docs, "doc_id").select(
        "source",
        F.explode(ltext.tokens(ascii_lower(F.col("text")))).alias("_tk"))
    sk = lsk.kmv_sketch(tok, F.col("_tk"), k=64, group_cols=["source"])
    est = lsk.kmv_estimate(sk, k=64, group_cols=["source"])
    exact = tok.groupBy("source").agg(
        F.count_distinct("_tk").cast("long").alias("exact_distinct"))
    return est.join(exact, "source").select(
        "source", "n_hashes", "est_distinct", "exact_distinct")


def q_kmv_merge(spark, sf_dir):
    """KMV mergeability under the oracle — the property the 100 TB
    rollup story rests on (db_spark/sketch.py:64-78): sketch two
    disjoint halves of the corpus independently, merge the sketches,
    estimate. The oracle computes the sketch of the *whole* corpus
    directly; a value-hash match proves merge(sketch(A), sketch(B)) ==
    sketch(A ∪ B) exactly, per group."""
    from db_spark import sketch as lsk
    from db_spark.llm import text as ltext

    docs = _t(spark, sf_dir, "documents")
    tok = ltext.spread_scan(docs, "doc_id").select(
        "source", "doc_id",
        F.explode(ltext.tokens(ascii_lower(F.col("text")))).alias("_tk"))
    sa = lsk.kmv_sketch(tok.filter(F.col("doc_id") % 2 == 0),
                        F.col("_tk"), k=64, group_cols=["source"])
    sb = lsk.kmv_sketch(tok.filter(F.col("doc_id") % 2 == 1),
                        F.col("_tk"), k=64, group_cols=["source"])
    merged = lsk.kmv_merge(sa, sb, k=64, group_cols=["source"])
    return lsk.kmv_estimate(merged, k=64, group_cols=["source"])


def q_cm_join_size(spark, sf_dir):
    """Join-cardinality estimation from sketches (db_spark/sketch.py:
    cm_join_size, AMS/count-min inner product): |orders ⋈ lineitem| on
    orderkey estimated from two depth×width counter tables — the
    planner question answered without touching either table. MIN over
    depth rows is tightest and still never undercounts (collision
    cross terms only add); exact count shown alongside."""
    from db_spark import sketch as lsk

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    sa = lsk.cm_sketch(o, F.col("o_orderkey"), depth=4, width=1024)
    sb = lsk.cm_sketch(li, F.col("l_orderkey"), depth=4, width=1024)
    est = lsk.cm_join_size(sa, sb, depth=4)
    exact = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("exact_rows"))
    )
    return est.join(F.broadcast(exact))


def q_kmv_set_ops(spark, sf_dir):
    """KMV set-operation estimates (db_spark/sketch.py:kmv_set_estimate,
    Beyer et al. 2007): per order priority, sketch the customer sets of
    open ('O') and finished ('F') orders independently, then estimate
    union size, intersection size, and Jaccard overlap from the two
    sketches alone — never rescanning either input. This is the overlap
    question (train/eval contamination, shard overlap) answered from
    per-shard sketch state at 100 TB."""
    from db_spark import sketch as lsk

    orders = _t(spark, sf_dir, "orders")
    sa = lsk.kmv_sketch(
        orders.filter(F.col("o_orderstatus") == "O"),
        F.col("o_custkey"), k=64, group_cols=["o_orderpriority"])
    sb = lsk.kmv_sketch(
        orders.filter(F.col("o_orderstatus") == "F"),
        F.col("o_custkey"), k=64, group_cols=["o_orderpriority"])
    return lsk.kmv_set_estimate(sa, sb, k=64,
                                group_cols=["o_orderpriority"])


def q_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-count per source (db_spark/sketch.py):
    estimated vs exact distinct token counts. The register layout is
    engine-reproducible (md5 hash family + bin/instr leading-zero
    rank), so the oracle computes the IDENTICAL sketch and estimate —
    the thing builtin approx_count_distinct can never offer a parity
    check for."""
    from db_spark import sketch as lsk
    from db_spark.llm import text as ltext

    docs = _t(spark, sf_dir, "documents")
    tok = ltext.spread_scan(docs, "doc_id").select(
        "source",
        F.explode(ltext.tokens(ascii_lower(F.col("text")))).alias("_tk"))
    sk = lsk.hll_sketch(tok, F.col("_tk"), p=8, group_cols=["source"])
    est = lsk.hll_estimate(sk, p=8, group_cols=["source"])
    exact = tok.groupBy("source").agg(
        F.count_distinct("_tk").cast("long").alias("exact_distinct"))
    return est.join(exact, "source").select(
        "source", "n_registers", "est_distinct", "exact_distinct")


def q_hll_merge(spark, sf_dir):
    """HLL mergeability under the oracle: sketch two disjoint halves,
    register-wise-MAX merge, estimate. The oracle sketches the whole
    corpus directly — a value-hash match proves merge(sketch(A),
    sketch(B)) == sketch(A ∪ B) exactly, per group."""
    from db_spark import sketch as lsk
    from db_spark.llm import text as ltext

    docs = _t(spark, sf_dir, "documents")
    tok = ltext.spread_scan(docs, "doc_id").select(
        "source", "doc_id",
        F.explode(ltext.tokens(ascii_lower(F.col("text")))).alias("_tk"))
    sa = lsk.hll_sketch(tok.filter(F.col("doc_id") % 2 == 0),
                        F.col("_tk"), p=8, group_cols=["source"])
    sb = lsk.hll_sketch(tok.filter(F.col("doc_id") % 2 == 1),
                        F.col("_tk"), p=8, group_cols=["source"])
    merged = lsk.hll_merge(sa, sb, group_cols=["source"])
    return lsk.hll_estimate(merged, p=8, group_cols=["source"])


def q_hll_set_ops(spark, sf_dir):
    """HLL set-operation estimates (db_spark/sketch.py:
    hll_set_estimate): per source, sketch the token sets of the two
    doc-block halves independently, then estimate union (register-MAX
    merge), intersection (inclusion-exclusion, clamped at 0), and
    Jaccard — the few-hundred-byte-state counterpart of kmv_set_ops.
    Everything past the sketches runs on <= 3·256 register rows per
    group. The split is ``(doc_id div 20) % 2`` — blocks of 20, NOT
    doc parity: the generator assigns ``source = doc_id % 20``, so a
    parity split would put every even source wholly in sketch A and
    every odd source wholly in B, making the per-source inner join
    (and the whole result) vacuously empty."""
    from db_spark import sketch as lsk
    from db_spark.llm import text as ltext

    docs = _t(spark, sf_dir, "documents")
    tok = ltext.spread_scan(docs, "doc_id").select(
        "source", "doc_id",
        F.explode(ltext.tokens(ascii_lower(F.col("text")))).alias("_tk"))
    half = (F.col("doc_id") - F.col("doc_id") % 20) / 20 % 2
    sa = lsk.hll_sketch(tok.filter(half == 0),
                        F.col("_tk"), p=8, group_cols=["source"])
    sb = lsk.hll_sketch(tok.filter(half == 1),
                        F.col("_tk"), p=8, group_cols=["source"])
    return lsk.hll_set_estimate(sa, sb, p=8, group_cols=["source"])


def q_mvcc_multi_tx(spark, sf_dir):
    """Multi-collection transaction mechanics under the oracle
    (db_spark/engine.py:100-123): one txid spans writes to two
    collections — invisible until the commit markers land; a second
    transaction mutates both collections and aborts, leaving no trace.
    Result = join across both collections' committed snapshots; the
    oracle is the equivalent join over the source tables (committed
    state == exactly the first transaction's writes)."""
    from db_spark.engine import Storage

    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("string").alias("_id"),
        "n_name", F.col("n_regionkey").cast("long").alias("rkey"))
    reg = _t(spark, sf_dir, "region").select(
        F.col("r_regionkey").cast("string").alias("_id"), "r_name")
    st = Storage(spark, _scratch_dir("db_spark_multitx_"))
    with st.transaction() as tx:
        tx.set("nations", nat)
        tx.set("regions", reg)
    try:
        with st.transaction() as tx:  # aborted: must leave no trace
            tx.set("nations", nat.withColumn("n_name", F.lit("CORRUPT")))
            tx.delete_where("regions", "r_name IS NOT NULL")
            raise RuntimeError("abort")
    except RuntimeError:
        pass
    n = st.get_collection("nations").table_scan()
    r = st.get_collection("regions").table_scan().select(
        F.col("_id").cast("long").alias("rkey"), "r_name")
    return n.join(r, "rkey").select(
        F.col("_id").cast("long").alias("nationkey"), "n_name", "r_name")


def q_cm_heavy_hitters(spark, sf_dir):
    """Count-min heavy hitters (db_spark/sketch.py:cm_sketch): tokens
    whose estimated frequency is >= 500, from a depth=4 x width=1024
    counter sketch — bounded state however many distinct tokens stream
    through, mergeable cell-wise. The oracle replicates the exact salted
    md5 cell hashes and the min-over-rows estimate, so even the sketch's
    collision overestimates must match bit-for-bit."""
    from db_spark import sketch as lsk
    from db_spark.llm import text as ltext

    docs = _t(spark, sf_dir, "documents")
    tok = ltext.spread_scan(docs, "doc_id").select(
        F.explode(ltext.tokens(ascii_lower(F.col("text")))).alias("_tk"))
    return lsk.cm_heavy_hitters(
        tok, F.col("_tk"), min_count=500, depth=4, width=1024)


def q_matview_incremental(spark, sf_dir):
    """Incrementally-maintained aggregate view (db_spark/matview.py):
    full build over the initial load, then upserts (+100 for custkey%10)
    and predicate deletes (custkey%7) are committed and the view
    refreshes from the CDC delta only — the exchange is O(changed rows),
    not O(table). The oracle aggregates the equivalent final state
    directly from the source table: the incremental scaled-BIGINT state
    must be bit-identical to the from-scratch aggregate."""
    from db_spark.engine import Storage
    from db_spark.matview import IncrementalAggView
    from db_spark.table import uuid7

    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").cast("string").alias("_id"),
        F.col("c_mktsegment").alias("grp"),
        F.col("c_acctbal").cast("double").alias("val"))
    root = _scratch_dir("db_spark_mview_")
    st = Storage(spark, root)
    c = st.get_collection("cust")
    c.set_objects(None, base)
    view = IncrementalAggView(c, "grp", "val", os.path.join(root, "view"))
    view.refresh()  # full build
    tx = uuid7()
    c.set_objects(tx, base.filter(F.col("_id").cast("long") % 10 == 0)
                  .withColumn("val", F.col("val") + 100.0))
    c.commit(tx)
    txd = uuid7()
    c.delete_where(txd, F.col("_id").cast("long") % 7 == 0)
    c.commit(txd)
    view.refresh()  # incremental: only the delta shuffles
    return view.read().select("grp", "n_rows", "sum_value", "avg_value")


def q_matview_join(spark, sf_dir):
    """Incrementally-maintained JOIN-aggregate view (db_spark/matview.py:
    IncrementalJoinAggView): revenue per market segment over
    customer ⋈ orders, full-built once, then churn on BOTH sides —
    fact upserts (+50 on orderkey%10) and deletes (orderkey%13), dim
    regrouping (custkey%11 → 'MOVED') and deletes (custkey%9) — is
    absorbed by the bilinear delta rule ΔA⋈B_new + A_old⋈ΔB: two
    delta-sized joins, never a full recompute. The oracle aggregates
    the equivalent final join directly; the incremental scaled-BIGINT
    state must match bit-for-bit."""
    from db_spark.engine import Storage
    from db_spark.matview import IncrementalJoinAggView
    from db_spark.table import uuid7

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    dimbase = cust.select(
        F.col("c_custkey").cast("string").alias("_id"),
        F.col("c_custkey").cast("long").alias("k"),
        F.col("c_mktsegment").alias("grp"))
    factbase = orders.select(
        F.col("o_orderkey").cast("string").alias("_id"),
        F.col("o_custkey").cast("long").alias("fk"),
        F.col("o_totalprice").cast("double").alias("val"))
    root = _scratch_dir("db_spark_jview_")
    st = Storage(spark, root)
    a = st.get_collection("dim")
    b = st.get_collection("fact")
    a.set_objects(None, dimbase)
    b.set_objects(None, factbase)
    view = IncrementalJoinAggView(
        a, b, "k", "fk", "grp", "val", os.path.join(root, "view"))
    view.refresh()  # full build
    tx = uuid7()
    b.set_objects(tx, factbase.filter(F.col("_id").cast("long") % 10 == 0)
                  .withColumn("val", F.col("val") + 50.0))
    b.commit(tx)
    txd = uuid7()
    b.delete_where(txd, F.col("_id").cast("long") % 13 == 0)
    b.commit(txd)
    tx2 = uuid7()
    a.set_objects(tx2, dimbase.filter(F.col("k") % 11 == 0)
                  .withColumn("grp", F.lit("MOVED")))
    a.commit(tx2)
    txd2 = uuid7()
    a.delete_where(txd2, F.col("k") % 9 == 0)
    a.commit(txd2)
    view.refresh()  # incremental: both sides changed
    return view.read().select("grp", "n_rows", "sum_value", "avg_value")


def q_skyline(spark, sf_dir):
    """Per-brand 2D skyline (db_spark/operators/__init__.py:skyline_2d):
    parts on the price/size Pareto frontier — no other part of the
    brand is cheaper-and-no-bigger or same-price-and-smaller. Not the
    O(n²) dominance anti-join: one min-per-distinct-price aggregate, a
    running-min lag over the distinct-price table, and a join back —
    two bounded exchanges."""
    from db_spark.operators import skyline_2d

    part = _t(spark, sf_dir, "part").select(
        "p_brand", "p_partkey", "p_size", "p_retailprice")
    return skyline_2d(part, F.col("p_retailprice"), F.col("p_size"),
                      group_cols=["p_brand"])


def q_psi_drift(spark, sf_dir):
    """Population Stability Index (db_spark/analytics.py:psi_drift):
    did the price distribution move between early (< 1996) and late
    (>= 1996) shipments? Both sides histogram into the same 16
    declared buckets, shares are Laplace-smoothed exact rationals, and
    the Σ(q−p)·ln(q/p) terms nano-round into a BIGINT sum — after the
    two histogram scans everything runs on 16 rows."""
    from db_spark import analytics

    li = _t(spark, sf_dir, "lineitem")
    ref = li.filter(F.col("l_shipdate") < "1996-01-01")
    cur = li.filter(F.col("l_shipdate") >= "1996-01-01")
    return analytics.psi_drift(
        ref, cur, F.col("l_extendedprice"), lo=0.0, hi=110000.0,
        buckets=16)


def q_funnel_latency(spark, sf_dir):
    """Conversion latency per funnel step pair (db_spark/analytics.py:
    funnel_latency): the same greedy min-cascade as event_funnel, plus
    rank-exact median / p90 of the per-user frontier gaps — integer
    rank (9n+9) div 10, middle-two medians, no engine percentile
    interpolation anywhere."""
    from db_spark import analytics

    ev = _t(spark, sf_dir, "events")
    return analytics.funnel_latency(ev, ["view", "click", "purchase"])


def q_event_funnel(spark, sf_dir):
    """Ordered funnel view -> click -> purchase (db_spark/analytics.py):
    min-cascade of step-filtered aggregates — stage k shuffles only
    step-k events joined to the previous frontier, never a per-user
    event array. Strict-after ordering; the oracle runs the identical
    cascade as chained CTEs."""
    from db_spark import analytics

    ev = _t(spark, sf_dir, "events")
    return analytics.funnel(ev, ["view", "click", "purchase"])


def q_event_funnel_windowed(spark, sf_dir):
    """Max-conversion-window funnel (db_spark/analytics.py): same
    min-cascade as event_funnel but each step must land within 24 h of
    the previous frontier time — the form product analytics actually
    ships. Greedy first-touch semantics (documented in funnel()); the
    oracle runs the identical bounded cascade as chained CTEs."""
    from db_spark import analytics

    ev = _t(spark, sf_dir, "events")
    return analytics.funnel(
        ev, ["view", "click", "purchase"], max_gap_seconds=86400)


def q_pagerank(spark, sf_dir):
    """Integer PageRank (db_spark/graph.py) over the nation trade graph
    (customer nation -> supplier nation per lineitem, deduped): 5
    iterations, ranks in BIGINT micro-units so the result is
    bit-identical in any engine/partitioning — the oracle runs the
    SAME 5 iterations as unrolled CTEs."""
    from db_spark import graph

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    edges = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(F.col("c_nationkey").cast("long").alias("src"),
                F.col("s_nationkey").cast("long").alias("dst"))
    )
    return graph.pagerank(edges, iterations=5)


def q_ppr(spark, sf_dir):
    """Personalized PageRank (db_spark/graph.py: pagerank(source=0)):
    random-walk-with-restart relevance to nation 0 over the same trade
    graph — unit mass starts at the source and every teleport returns
    there; identical integer arithmetic, oracle replays the same 5
    personalized iterations."""
    from db_spark import graph

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    edges = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(F.col("c_nationkey").cast("long").alias("src"),
                F.col("s_nationkey").cast("long").alias("dst"))
    )
    return graph.pagerank(edges, iterations=5, source=0)


def q_bfs_hops(spark, sf_dir):
    """BFS hop distances (db_spark/graph.py:bfs_distances) over the
    undirected co-purchase graph (part pairs co-ordered in >= 2
    orders), from the smallest part key in the edge set, 3 hops.
    Frontier expansion with a visited anti-join — O(|E|) total work on
    a cyclic graph where walk enumeration blows up exponentially; the
    oracle's recursive CTE stays bounded only via its UNION dedup and
    MIN(d) post-aggregate, which is exactly the property the frontier
    algorithm exploits natively."""
    from db_spark import graph

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("_ok"),
                  F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, (F.col("l_orderkey") == F.col("_ok"))
               & (F.col("pa") < F.col("pb")))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select(F.col("pa").cast("long").alias("src"),
                F.col("pb").cast("long").alias("dst"))
    )
    source = edges.agg(F.min("src")).collect()[0][0]  # scalar fetch
    return graph.bfs_distances(edges, source, max_hops=3,
                               directed=False)


def q_sessionize(spark, sf_dir):
    """Batch sessionization (db_spark/analytics.py): 30-min-gap sessions
    per user — lag/flag/running-sum on ONE user-keyed exchange, the
    batch dual of the streaming tier's session_window. Microsecond-
    integer gap arithmetic keeps boundaries engine-exact."""
    from db_spark import analytics

    ev = _t(spark, sf_dir, "events")
    return analytics.sessionize(ev, gap_seconds=1800)


def q_scd2(spark, sf_dir):
    """SCD Type-2 dimension build (db_spark/analytics.py): per-user
    event_type change log -> half-open validity intervals with an
    is_current flag. One user-keyed sort feeds tie-dedup, no-op-change
    collapse, and the valid_to lead — no self-joins."""
    from db_spark import analytics

    ev = _t(spark, sf_dir, "events")
    return analytics.scd2(ev, "user_id", "event_type")


def q_ewma(spark, sf_dir):
    """Finite-horizon EWMA of event values per user (db_spark/
    analytics.py): an 8-term lag composition with literal weights —
    the identical left-to-right IEEE chain renders in the oracle, so
    the smoothed doubles are bit-stable across engines."""
    from db_spark import analytics

    ev = _t(spark, sf_dir, "events")
    # alpha=0.5 -> every weight is a short dyadic decimal (0.5, 0.25,
    # ..., 0.00390625) that ANY decimal->double literal path converts
    # exactly, removing the one engine-drift risk in the weight chain
    out = analytics.ewma(ev, "value", alpha=0.5, horizon=8,
                         order_tiebreak="event_id")
    return out.select("event_id", "user_id", "value", "ewma")


def q_cohort_retention(spark, sf_dir):
    """Weekly cohort retention (db_spark/analytics.py): first-touch week
    per user x distinct active weeks — two user-keyed aggregates, one
    join, one |cohorts x offsets| final aggregate. Monday-truncated
    week arithmetic is engine-identical (exact 7-day multiples)."""
    from db_spark import analytics

    ev = _t(spark, sf_dir, "events")
    return analytics.cohort_retention(ev)


def q_hist_quantiles(spark, sf_dir):
    """Histogram quantile sketch (db_spark/sketch.py:hist_sketch):
    per-returnflag price quantiles from a 256-bucket equi-width
    histogram — bounded mergeable state, one-bucket-width error, and a
    deterministic ceil-rank selection rule the oracle replicates
    bit-for-bit (same IEEE bucket arithmetic)."""
    from db_spark import sketch as lsk

    li = _t(spark, sf_dir, "lineitem")
    skh = lsk.hist_sketch(li, F.col("l_extendedprice"), 0.0, 110000.0,
                          buckets=256, group_cols=["l_returnflag"])
    return lsk.hist_quantile(skh, [0.25, 0.5, 0.75, 0.95], 0.0, 110000.0,
                             buckets=256, group_cols=["l_returnflag"])


def q_bloom_prefilter(spark, sf_dir):
    """Bloom-filter membership pre-filtering (db_spark/sketch.py:
    bloom_sketch): build a 64 Kbit filter over urgent orders' keys, then
    test every distinct lineitem orderkey — the portable, mergeable
    version of runtime bloom join pruning (ship a KB-scale filter to
    prune the probe side before the shuffle). No false negatives; the
    oracle replicates the exact bit layout, false positives included."""
    from db_spark import sketch as lsk

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    members = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").cast("string").alias("value")).distinct())
    bf = lsk.bloom_sketch(members, F.col("value"), bits=1 << 16, k=4)
    # distinct on the LONG key with the scan hash-spread first (r13):
    # AQE's byte-based coalescing otherwise squeezes the post-distinct
    # probe table (~1 MB) to one partition, serializing the 4-hash
    # probe stage; a keyed spread pins the distinct AND the probe
    # hashing at full width with no extra exchange (distinct reuses
    # the repartition's hash partitioning). Cast to string after the
    # dedup — bijective on longs, so the same probe set and schema.
    from db_spark.llm.text import spread_scan

    probes = (
        spread_scan(li.select(F.col("l_orderkey").alias("_k")), "_k")
        .distinct()
        .select(F.col("_k").cast("string").alias("value")))
    return lsk.bloom_contains(bf, probes, "value", bits=1 << 16, k=4)


# ---------------------------------------------------------------------------
# Oracle SQL generators for the hash-family ops (shared constants with
# db_spark.llm.dedup so Spark and DuckDB compute identical values)
# ---------------------------------------------------------------------------

from db_spark.llm.dedup import DEFAULT_MAX_SHINGLE_DF as _MAX_SHINGLE_DF

_LOW = ("translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', "
        "'abcdefghijklmnopqrstuvwxyz')")
_TOKS = f"regexp_extract_all({_LOW}, '[a-z'']+')"
_SHINGLES = (
    "list_distinct(list_transform(range(1, greatest(len({toks})-1, 1)), "
    "i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2]))"
).format(toks="toks")
_H32 = "(('0x' || substr(md5({x}), 1, 8))::BIGINT)"


def _bford_oracle(rounds: int = 4) -> str:
    """Unrolled Bellman-Ford relaxation mirroring
    ``db_spark.graph.bellman_ford`` op for op: per round a src-keyed
    relax + dst-keyed min + full-outer min-merge."""
    its = []
    for i in range(1, rounds + 1):
        prev = f"d{i-1}"
        its.append(f"""
        x{i} AS (SELECT e.d AS node, min({prev}.dist + e.w) AS nd
                 FROM {prev} JOIN ed e ON e.s = {prev}.node GROUP BY 1),
        d{i} AS MATERIALIZED (SELECT coalesce(a.node, b.node) AS node,
                        least(coalesce(a.dist, b.nd),
                              coalesce(b.nd, a.dist)) AS dist
                 FROM {prev} a FULL OUTER JOIN x{i} b
                   ON a.node = b.node)""")
    return f"""
        WITH p AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        ep AS MATERIALIZED (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                      count(*) AS cnt
               FROM p a JOIN p b ON a.l_orderkey = b.l_orderkey
                                AND a.l_partkey < b.l_partkey
               GROUP BY 1, 2 HAVING count(*) >= 2),
        ed AS MATERIALIZED (SELECT pa AS s, pb AS d,
                      CAST(1000000 // cnt AS BIGINT) AS w FROM ep
               UNION ALL
               SELECT pb, pa, CAST(1000000 // cnt AS BIGINT) FROM ep),
        d0 AS (SELECT min(s) AS node, CAST(0 AS BIGINT) AS dist FROM ed),
        {",".join(its)}
        SELECT node, CAST(dist AS BIGINT) AS dist FROM d{rounds}
    """


def _lpa_oracle(iterations: int = 4) -> str:
    """Unrolled synchronous label propagation mirroring
    ``db_spark.graph.label_propagation`` op for op: integer votes,
    min-label ties, one CTE pair per round."""
    its = []
    for i in range(1, iterations + 1):
        prev = "l0" if i == 1 else f"l{i-1}"
        its.append(f"""
        v{i} AS (SELECT ed.s AS node, l.lbl, count(*) AS c
                 FROM ed JOIN {prev} l ON l.node = ed.d GROUP BY 1, 2),
        l{i} AS MATERIALIZED (SELECT node, lbl FROM (
                   SELECT node, lbl,
                          ROW_NUMBER() OVER (PARTITION BY node
                            ORDER BY c DESC, lbl) AS rk
                   FROM v{i}) WHERE rk = 1)""")
    return f"""
        WITH p AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS MATERIALIZED (SELECT a.l_partkey AS pa, b.l_partkey AS pb
               FROM p a JOIN p b ON a.l_orderkey = b.l_orderkey
                                AND a.l_partkey < b.l_partkey
               GROUP BY 1, 2 HAVING count(*) >= 2),
        ed AS MATERIALIZED (SELECT pa AS s, pb AS d FROM e0
               UNION SELECT pb, pa FROM e0),
        l0 AS (SELECT DISTINCT s AS node, s AS lbl FROM ed),
        {",".join(its)}
        SELECT node, lbl AS community FROM l{iterations}
    """


def _linreg_oracle() -> str:
    """Exact-HUGEINT moment sums, then the IDENTICAL double expression
    sequence as ``analytics.linreg`` — num/den/deny built from the five
    sufficient statistics, unrounded slope feeding the intercept."""
    nd, sxd, syd = "CAST(n AS DOUBLE)", "CAST(sx AS DOUBLE)", "CAST(sy AS DOUBLE)"
    sxxd, syyd, sxyd = ("CAST(sxx AS DOUBLE)", "CAST(syy AS DOUBLE)",
                        "CAST(sxy AS DOUBLE)")
    num = f"({nd} * {sxyd} - {sxd} * {syd})"
    den = f"({nd} * {sxxd} - {sxd} * {sxd})"
    deny = f"({nd} * {syyd} - {syd} * {syd})"
    slope = f"({num} / {den})"
    return f"""
        WITH s AS (
          SELECT l_returnflag,
                 CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(round(l_quantity * 100) AS HUGEINT)) AS sx,
                 sum(CAST(round(l_extendedprice * 100) AS HUGEINT)) AS sy,
                 sum(CAST(round(l_quantity * 100) AS HUGEINT)
                     * CAST(round(l_quantity * 100) AS HUGEINT)) AS sxx,
                 sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
                     * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS syy,
                 sum(CAST(round(l_quantity * 100) AS HUGEINT)
                     * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS sxy
          FROM lineitem GROUP BY 1)
        SELECT l_returnflag, n,
               CASE WHEN {den} <> 0
                    THEN round({slope}, 6) END AS slope,
               CASE WHEN {den} <> 0
                    THEN round(({syd} - {slope} * {sxd})
                               / ({nd} * 100.0), 6) END AS intercept,
               CASE WHEN {den} <> 0 AND {deny} <> 0
                    THEN round(({num} * {num}) / ({den} * {deny}), 6)
                    END AS r2
        FROM s
    """


def _kcore_oracle(k: int = 3, rounds: int = 3) -> str:
    """Unrolled synchronous k-core peeling mirroring
    ``db_spark.graph.k_core(rounds=N)`` op for op: one
    degree-filter + induced-subgraph CTE pair per round."""
    its = []
    for i in range(1, rounds + 1):
        prev = "e0" if i == 1 else f"e{i-1}"
        its.append(f"""
        n{i} AS MATERIALIZED (SELECT s FROM {prev} GROUP BY s
                              HAVING count(*) >= {k}),
        e{i} AS MATERIALIZED (SELECT e.s, e.d FROM {prev} e
                 JOIN n{i} a ON e.s = a.s JOIN n{i} b ON e.d = b.s)""")
    # AS MATERIALIZED everywhere: n{{i}} is referenced twice per round,
    # so DuckDB's default CTE inlining re-evaluates the whole prefix
    # ~2^rounds times — at sf1 that spilled >35 GiB before timing out.
    return f"""
        WITH p AS MATERIALIZED (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        ep AS MATERIALIZED (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb
               FROM p a JOIN p b ON a.l_orderkey = b.l_orderkey
                                AND a.l_partkey < b.l_partkey
               GROUP BY 1, 2 HAVING count(*) >= 2),
        e0 AS MATERIALIZED (SELECT pa AS s, pb AS d FROM ep
               UNION SELECT pb, pa FROM ep),
        {",".join(its)}
        SELECT s AS node, count(*) AS degree FROM e{rounds} GROUP BY s
    """


def _pagerank_oracle(iterations: int = 5, source=None) -> str:
    """Unrolled integer-PageRank CTE chain mirroring
    ``db_spark.graph.pagerank`` op for op: BIGINT micro-unit ranks,
    floor divisions, dangling mass dropped — every iteration is pure
    integer arithmetic, so 5 rounds stay hash-identical. ``source``
    produces the personalized variant (init mass and teleport base at
    the source only), mirroring the engine's ``source=`` switch."""
    base = ("150000" if source is None else
            f"(CASE WHEN n.node = {int(source)} THEN 150000 ELSE 0 END)")
    its = []
    for i in range(1, iterations + 1):
        its.append(f"""
        r{i} AS (
          SELECT n.node,
                 CAST({base} + (85 * COALESCE(SUM(c.contrib), 0)) // 100
                      AS BIGINT) AS r
          FROM nodes n LEFT JOIN (
            SELECT e.d AS node, r.r // g.deg AS contrib
            FROM e JOIN r{i - 1} r ON e.s = r.node
                   JOIN deg g ON e.s = g.s) c
          ON n.node = c.node
          GROUP BY n.node)""")
    init = ("1000000" if source is None else
            f"CASE WHEN node = {int(source)} THEN 1000000 ELSE 0 END")
    return f"""
        WITH e AS (
          SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS s,
                          CAST(s_nationkey AS BIGINT) AS d
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey
        ),
        nodes AS (SELECT s AS node FROM e UNION SELECT d FROM e),
        deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY s),
        r0 AS (SELECT node, CAST({init} AS BIGINT) AS r FROM nodes),
        {','.join(its)}
        SELECT node, r AS rank_scaled,
               round(CAST(r AS DOUBLE) / 1000000, 6) AS rank
        FROM r{iterations}
    """


def _ewma_oracle(alpha: float = 0.5, horizon: int = 8) -> str:
    """EWMA weight chain in SQL, generated from the SAME loop shape as
    ``db_spark.analytics.ewma`` — left-associative addition of literal-
    weight products, so both engines evaluate the identical IEEE op
    sequence. With alpha=0.5 every weight literal is a short dyadic
    decimal, exact under any decimal->double conversion."""
    num, den = [], []
    for j in range(horizon):
        wt = repr(alpha * (1.0 - alpha) ** j)
        v = "value" if j == 0 else f"lag(value, {j}) OVER w"
        num.append(f"(CASE WHEN {v} IS NOT NULL THEN {v} * {wt}"
                   " ELSE 0.0 END)")
        den.append(f"(CASE WHEN {v} IS NOT NULL THEN {wt} ELSE 0.0 END)")
    return f"""
        SELECT event_id, user_id, value,
               round(({' + '.join(num)}) / ({' + '.join(den)}), 6) AS ewma
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """


def _hll_rolling_oracle(window: int = 3, m: int = 256) -> str:
    """Per-day HLL registers -> rolling-window register MAX -> the same
    estimator as ``_hll_oracle``, plus the exact rolling distinct."""
    alpha_m2 = 0.7213 / (1.0 + 1.079 / m) * m * m
    h = _H32.format(x="CAST(user_id AS VARCHAR)")
    return f"""
        WITH ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
        reg AS (SELECT day,
                       CAST(h % {m} AS INT) AS r,
                       CAST(h // {m} AS BIGINT) AS x
                FROM (SELECT day, {h} AS h FROM ev)),
        sk AS (SELECT day, r,
                      MAX(CASE WHEN x = 0 THEN 25
                          ELSE strpos(lpad(bin(x), 24, '0'), '1') END) AS z
               FROM reg GROUP BY day, r),
        days AS (SELECT DISTINCT day FROM ev),
        rolled AS (
          SELECT d.day AS day, r, MAX(z) AS z
          FROM sk JOIN days d
            ON sk.day <= d.day AND sk.day > d.day - INTERVAL {window} DAY
          GROUP BY d.day, r),
        agg0 AS (SELECT day, count(*) AS nr,
                        SUM(power(2.0, -z)) + ({m} - count(*)) AS s
                 FROM rolled GROUP BY day),
        agg AS (SELECT day, nr,
                       CAST(round(CASE WHEN {alpha_m2!r} / s <= {2.5 * m}
                                    AND nr < {m}
                            THEN {float(m)!r} * ln({float(m)!r} / ({m} - nr))
                            ELSE {alpha_m2!r} / s END) AS BIGINT)
                           AS est_distinct
                FROM agg0),
        ex AS (
          SELECT d.day AS day,
                 CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
          FROM ev JOIN days d
            ON ev.day <= d.day AND ev.day > d.day - INTERVAL {window} DAY
          GROUP BY d.day)
        SELECT day, CAST(nr AS BIGINT) AS n_registers, est_distinct,
               exact_distinct
        FROM agg JOIN ex USING (day)
    """


def _hll_oracle(select: str, with_exact: bool = False) -> str:
    """HLL register table + estimate in ANSI SQL, mirroring
    ``db_spark.sketch.hll_sketch/hll_estimate`` (p=8) op for op: same
    md5 hash family, same bin/lpad/strpos leading-zero rank, same
    harmonic-mean + linear-counting estimator, rounded to an integer."""
    m = 256
    alpha_m2 = 0.7213 / (1.0 + 1.079 / m) * m * m
    exact = (
        ",\n        ex AS (SELECT source, CAST(count(DISTINCT t) AS BIGINT)"
        " AS exact_distinct FROM tok GROUP BY source)"
        if with_exact else "")
    return f"""
        WITH tok AS (SELECT source, unnest({_TOKS}) AS t FROM documents),
        reg AS (SELECT source,
                       CAST(h % {m} AS INT) AS r,
                       CAST(h // {m} AS BIGINT) AS x
                FROM (SELECT source, {_H32.format(x='t')} AS h FROM tok)),
        sk AS (SELECT source, r,
                      MAX(CASE WHEN x = 0 THEN 25
                          ELSE strpos(lpad(bin(x), 24, '0'), '1') END) AS z
               FROM reg GROUP BY source, r),
        agg0 AS (SELECT source, count(*) AS nr,
                        SUM(power(2.0, -z)) + ({m} - count(*)) AS s
                 FROM sk GROUP BY source),
        agg AS (SELECT source, nr,
                       CAST(round(CASE WHEN {alpha_m2!r} / s <= {2.5 * m}
                                    AND nr < {m}
                            THEN 256.0 * ln(256.0 / ({m} - nr))
                            ELSE {alpha_m2!r} / s END) AS BIGINT)
                           AS est_distinct
                FROM agg0){exact}
        {select}
    """


def _guarded_shingles(max_df: int) -> str:
    """Shingle CTE body with the df guard mirrored from
    ``db_spark.llm.dedup.shingle_table`` (shingles in more than ``max_df``
    docs dropped before candidate generation AND size/intersection
    counts — identical semantics both engines)."""
    return f"""
        sh0 AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM tok),
        shok AS (SELECT shingle FROM sh0 GROUP BY shingle
                 HAVING count(*) <= {max_df}),
        sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN shok USING (shingle))
    """


def _curate_oracle() -> str:
    """curate_corpus oracle: the four pipeline stages composed into one
    query from the same shared constants the per-stage oracles use."""
    from db_spark.llm.text import STOPWORDS

    sw = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    norm = _normalize_chain("text")
    return f"""
        WITH RECURSIVE
        src AS MATERIALIZED (SELECT doc_id, lang, source, {norm} AS text
                FROM documents),
        qx AS (
          SELECT doc_id,
                 len(regexp_extract_all(text, '[a-zA-Z'']+')) AS nt,
                 len(list_filter(list_transform(
                     regexp_extract_all(text, '[a-zA-Z'']+'),
                     t -> lower(t)), t -> t IN ({sw}))) AS s_en,
                 length(regexp_replace(text, '[a-zA-Z0-9 \\t\\n\\x0B\\f\\r]', '', 'g'))
                     AS np,
                 length(text) AS nc
          FROM src),
        scored AS (
          SELECT doc_id,
                 CAST(round(least(1.0, greatest(0.0,
                      least(nt::DOUBLE / 20.0, 1.0) * 0.4
                      + least((CASE WHEN nt > 0
                               THEN s_en::DOUBLE / nt::DOUBLE
                               ELSE 0.0 END) * 4.0, 1.0) * 0.3
                      + greatest(0.0, 1.0 - (CASE WHEN nc > 0 THEN np::DOUBLE / nc::DOUBLE ELSE 0.0 END) * 4.0)
                          * 0.3)) * 1000000) AS BIGINT) AS quality_ppm
          FROM qx),
        gate AS (
          SELECT s.doc_id, s.lang, s.source, s.text, q.quality_ppm
          FROM src s JOIN scored q USING (doc_id)
          WHERE q.quality_ppm >= 720000),
        train0 AS MATERIALIZED (SELECT * FROM gate WHERE doc_id % 97 <> 0),
        egr AS (
          SELECT DISTINCT unnest(list_distinct(list_transform(
                     range(1, greatest(len(toks)-2, 1)),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' ||
                          toks[i+2] || ' ' || toks[i+3]))) AS gram
          FROM (SELECT {_TOKS} AS toks FROM src WHERE doc_id % 97 = 0)),
        tgr AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
                     range(1, greatest(len(toks)-2, 1)),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' ||
                          toks[i+2] || ' ' || toks[i+3]))) AS gram
          FROM (SELECT doc_id, {_TOKS} AS toks FROM train0)),
        contaminated AS (
          SELECT DISTINCT tgr.doc_id FROM tgr JOIN egr USING (gram)),
        clean AS MATERIALIZED (
          SELECT * FROM train0
          WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        pairs AS MATERIALIZED ({_minhash_lsh_oracle(rel='clean')}),
        edges AS MATERIALIZED (
          SELECT id_a AS src_n, id_b AS dst FROM pairs
          UNION
          SELECT id_b, id_a FROM pairs),
        reach(src_n, dst) AS (
          SELECT src_n, dst FROM edges
          UNION
          SELECT r.src_n, e.dst FROM reach r JOIN edges e
            ON r.dst = e.src_n),
        members AS (
          SELECT src_n AS doc_id, least(src_n, MIN(dst)) AS cluster_id
          FROM reach GROUP BY src_n),
        keepers AS (
          SELECT cluster_id, doc_id AS keep_id FROM (
            SELECT m.cluster_id, m.doc_id,
                   ROW_NUMBER() OVER (PARTITION BY m.cluster_id
                     ORDER BY c.quality_ppm DESC, m.doc_id) AS rk
            FROM members m JOIN clean c USING (doc_id)) WHERE rk = 1),
        losers AS (
          SELECT m.doc_id FROM members m JOIN keepers USING (cluster_id)
          WHERE m.doc_id <> keep_id)
        SELECT doc_id, lang, source, quality_ppm FROM clean
        WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    """


def _curate_v2_oracle(clf_threshold: float = -0.15) -> str:
    """curate_corpus_v2 oracle: the SIX r12 pipeline stages —
    normalize -> in-query NB training (label doc_id %% 2 = 0, the
    nb_train ilog2 chain) -> classifier gate -> 4-gram
    decontamination (eval = doc_id %% 97 = 0) -> winnow span CUT
    (the winnow_spans chain over the gated survivors + the
    winnow_cut removal sweep) -> quality-scored MinHash-LSH
    keep-best over the CUT text — composed into ONE query from the
    same shared generators the per-stage oracles use, so the
    end-to-end survivor set, span-cut stats, quality AND the final
    md5(text) are hash-verified as a unit."""
    from db_spark.llm.text import STOPWORDS
    from db_spark.llm.text import ilog2_fp256_layers as _log_layers

    sw = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    norm = _normalize_chain("text")
    nb_base = f"""
        SELECT idx, n1 + 1 AS _nbp, n0 + 1 AS _nbq
        FROM (SELECT {_H32.format(x='f')} % 4096 AS idx,
                     CAST(sum(CASE WHEN lab THEN 1 ELSE 0 END)
                          AS BIGINT) AS n1,
                     CAST(sum(CASE WHEN lab THEN 0 ELSE 1 END)
                          AS BIGINT) AS n0
              FROM nbfeats GROUP BY 1)
    """
    nb_inner = nb_base
    for layer in _log_layers(
            [("_nbp", "_nbl1"), ("_nbq", "_nbl0")], "//",
            lambda b, a: f"(CAST({b} AS BIGINT) << ({a}))"):
        nb_inner = f"SELECT *, {', '.join(layer)} FROM ({nb_inner})"
    return f"""
        WITH RECURSIVE
        src AS MATERIALIZED (SELECT doc_id, lang, source, {norm} AS text
                FROM documents),
        -- stage 2: NB training over the normalized corpus
        nbd AS (SELECT (doc_id % 2 = 0) AS lab, {_TOKS} AS toks FROM src),
        nbu AS (SELECT lab, unnest(toks) AS f FROM nbd),
        nbb AS (SELECT lab,
                       unnest(list_transform(range(2, len(toks) + 1),
                           i -> toks[i-1] || ' ' || toks[i])) AS f
                FROM nbd WHERE len(toks) >= 2),
        nbfeats AS (SELECT * FROM nbu UNION ALL SELECT * FROM nbb),
        weights AS MATERIALIZED (
          SELECT idx, ((_nbl1 - _nbl0) * 15625) // 4 AS w_ppm
          FROM ({nb_inner})),
        -- stage 3: classifier gate (bias 0, threshold 0, dim 4096)
        dtk AS (SELECT doc_id, {_TOKS} AS toks FROM src),
        du AS (SELECT doc_id, unnest(toks) AS f FROM dtk),
        dbg AS (SELECT doc_id,
                       unnest(list_transform(range(2, len(toks) + 1),
                           i -> toks[i-1] || ' ' || toks[i])) AS f
                FROM dtk WHERE len(toks) >= 2),
        dfeat AS (SELECT * FROM du UNION ALL SELECT * FROM dbg),
        dsc AS (SELECT doc_id, count(*) AS n,
                       sum(coalesce(w.w_ppm, 0)) AS sw
                FROM (SELECT doc_id, {_H32.format(x='f')} % 4096 AS idx
                      FROM dfeat) fx
                LEFT JOIN weights w USING (idx)
                GROUP BY doc_id),
        gate AS MATERIALIZED (
          SELECT s.* FROM src s JOIN dsc USING (doc_id)
          WHERE round(CAST(sw AS DOUBLE)
                      / CAST(n * 1000000 AS DOUBLE), 6)
                + CAST(0 AS DOUBLE) >= {clf_threshold}),
        -- stage 4: eval removal + 4-gram decontamination
        train0 AS MATERIALIZED (SELECT * FROM gate WHERE doc_id % 97 <> 0),
        egr AS (
          SELECT DISTINCT unnest(list_distinct(list_transform(
                     range(1, greatest(len(toks)-2, 1)),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' ||
                          toks[i+2] || ' ' || toks[i+3]))) AS gram
          FROM (SELECT {_TOKS} AS toks FROM src WHERE doc_id % 97 = 0)),
        tgr AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
                     range(1, greatest(len(toks)-2, 1)),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' ||
                          toks[i+2] || ' ' || toks[i+3]))) AS gram
          FROM (SELECT doc_id, {_TOKS} AS toks FROM train0)),
        contaminated AS (
          SELECT DISTINCT tgr.doc_id FROM tgr JOIN egr USING (gram)),
        clean AS MATERIALIZED (
          SELECT * FROM train0
          WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        -- stage 5: winnow span detection over the survivors, then CUT
        -- the b-side character ranges (the winnow_cut sweep)
        spans AS MATERIALIZED (
          SELECT * FROM ({_winnow_spans_oracle(rel='clean')})),
        rng AS (SELECT DISTINCT id_b AS rid, b_char_start AS s,
                       b_char_end AS e
                FROM spans
                WHERE b_char_start IS NOT NULL
                  AND b_char_end IS NOT NULL),
        dcs AS (SELECT doc_id AS rid, lang, source, text,
                       length(text) AS L
                FROM clean),
        wflg AS (SELECT rid, s, e,
                        CASE WHEN s > coalesce(max(e) OVER (
                                 PARTITION BY rid ORDER BY s, e
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) + 1
                             THEN 1 ELSE 0 END AS nf
                 FROM rng),
        wisl AS (SELECT rid, s, e,
                        SUM(nf) OVER (PARTITION BY rid ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS g
                 FROM wflg),
        mg0 AS (SELECT rid, g, min(s) AS s, max(e) AS e
                FROM wisl GROUP BY 1, 2),
        mg AS (SELECT mg0.rid, greatest(s, 1) AS s, least(e, L) AS e, L
               FROM mg0 JOIN dcs ON dcs.rid = mg0.rid
               WHERE greatest(s, 1) <= least(e, L)),
        wgaps AS (
          SELECT rid,
                 coalesce(lag(e) OVER (PARTITION BY rid ORDER BY s), 0)
                     + 1 AS gs,
                 s - 1 AS ge
          FROM mg
          UNION ALL
          SELECT rid, max(e) + 1 AS gs, max(L) AS ge FROM mg GROUP BY rid),
        wpc AS (SELECT g.rid, gs,
                       substr(d.text, CAST(gs AS INT),
                              CAST(ge - gs + 1 AS INT)) AS p
                FROM wgaps g JOIN dcs d ON d.rid = g.rid WHERE gs <= ge),
        wrb AS (SELECT rid, string_agg(p, '' ORDER BY gs) AS txt
                FROM wpc GROUP BY rid),
        wst AS (SELECT rid, CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(e - s + 1) AS BIGINT) AS rm
                FROM mg GROUP BY rid),
        cutd AS MATERIALIZED (
          SELECT d.rid AS doc_id, d.lang, d.source,
                 coalesce(wrb.txt,
                          CASE WHEN wst.n IS NOT NULL THEN '' END,
                          d.text) AS text,
                 coalesce(wst.n, 0) AS n_spans_cut,
                 coalesce(wst.rm, 0) AS chars_removed
          FROM dcs d
          LEFT JOIN wrb ON wrb.rid = d.rid
          LEFT JOIN wst ON wst.rid = d.rid),
        -- stage 6: quality over the CUT text + LSH keep-best
        qx2 AS (
          SELECT doc_id,
                 len(regexp_extract_all(text, '[a-zA-Z'']+')) AS nt,
                 len(list_filter(list_transform(
                     regexp_extract_all(text, '[a-zA-Z'']+'),
                     t -> lower(t)), t -> t IN ({sw}))) AS s_en,
                 length(regexp_replace(text, '[a-zA-Z0-9 \\t\\n\\x0B\\f\\r]', '', 'g'))
                     AS np,
                 length(text) AS nc
          FROM cutd),
        scored2 AS (
          SELECT doc_id,
                 CAST(round(least(1.0, greatest(0.0,
                      least(nt::DOUBLE / 20.0, 1.0) * 0.4
                      + least((CASE WHEN nt > 0
                               THEN s_en::DOUBLE / nt::DOUBLE
                               ELSE 0.0 END) * 4.0, 1.0) * 0.3
                      + greatest(0.0, 1.0 - (CASE WHEN nc > 0 THEN np::DOUBLE / nc::DOUBLE ELSE 0.0 END) * 4.0)
                          * 0.3)) * 1000000) AS BIGINT) AS quality_ppm
          FROM qx2),
        cutq AS MATERIALIZED (
          SELECT c.*, s.quality_ppm FROM cutd c JOIN scored2 s
          USING (doc_id)),
        pairs AS MATERIALIZED ({_minhash_lsh_oracle(rel='cutq')}),
        edges AS MATERIALIZED (
          SELECT id_a AS src_n, id_b AS dst FROM pairs
          UNION
          SELECT id_b, id_a FROM pairs),
        reach(src_n, dst) AS (
          SELECT src_n, dst FROM edges
          UNION
          SELECT r.src_n, e.dst FROM reach r JOIN edges e
            ON r.dst = e.src_n),
        members AS (
          SELECT src_n AS doc_id, least(src_n, MIN(dst)) AS cluster_id
          FROM reach GROUP BY src_n),
        keepers AS (
          SELECT cluster_id, doc_id AS keep_id FROM (
            SELECT m.cluster_id, m.doc_id,
                   ROW_NUMBER() OVER (PARTITION BY m.cluster_id
                     ORDER BY c.quality_ppm DESC, m.doc_id) AS rk
            FROM members m JOIN cutq c USING (doc_id)) WHERE rk = 1),
        losers AS (
          SELECT m.doc_id FROM members m JOIN keepers USING (cluster_id)
          WHERE m.doc_id <> keep_id)
        SELECT doc_id, lang, source, n_spans_cut, chars_removed,
               quality_ppm, md5(text) AS text_hash
        FROM cutq
        WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    """


def _normalize_chain(expr: str) -> str:
    """The db_spark.llm.text.NORMALIZATION_RULES rewrite chain as a SQL
    expression over ``expr`` (patterns are Java/RE2-shared; replacements
    carry real newlines — legal inside a SQL literal, and RE2 rewrites
    pass them through as-is)."""
    from db_spark.llm.text import NORMALIZATION_RULES

    for pat, repl in NORMALIZATION_RULES:
        pat_sql = pat.replace("'", "''")
        repl_sql = repl.replace("'", "''")
        expr = f"regexp_replace({expr}, '{pat_sql}', '{repl_sql}', 'g')"
    return f"trim({expr})"


def _normalize_oracle() -> str:
    """normalize_text oracle: the SAME messy-text synthesis and the SAME
    rewrite chain, generated from the shared NORMALIZATION_RULES."""
    messy = ("'\u201cT\u2019itle\u201d \u2014 intro\u2026' || chr(13) || chr(10) "
             "|| chr(13) || chr(10) || chr(13) || chr(10) || chr(13) || chr(10) "
             "|| regexp_replace(text, ' table ', '  table' || chr(9), 'g') "
             "|| ' tail\u00a0end\u200b '")
    return f"""
        SELECT doc_id, {_normalize_chain(messy)} AS norm_text FROM documents
    """


def _pii_oracle() -> str:
    """redact_pii oracle built from the SAME pattern strings the Spark
    side uses (db_spark.llm.text.PII_PATTERNS) — the patterns stay in the
    Java-regex/RE2 shared subset, so match sets are byte-identical."""
    from db_spark.llm.text import PII_PATTERNS

    redacted = "t"
    for _, pat, token in PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{pat}', '{token}', 'g')"
    counts = ",\n                   ".join(
        f"CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    return f"""
        WITH aug AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0
                      THEN text || ' reach user' || CAST(doc_id AS VARCHAR)
                           || '@example.com or call 555-867-5309'
                      WHEN doc_id % 11 = 0
                      THEN 'host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                           || '.7 ssn 123-45-6789 ' || text
                      ELSE text END AS t
          FROM documents)
        SELECT doc_id,
               {counts},
               md5({redacted}) AS redacted_md5
        FROM aug
    """


def _minhash_oracle(rel: str = "documents") -> str:
    from db_spark.llm.dedup import (
        DEFAULT_MAX_SHINGLE_DF, HASH_P, perm_constants)

    mins = ",\n               ".join(
        f"min(({a} * h + {b}) % {HASH_P}) AS m{i}"
        for i, (a, b) in enumerate(perm_constants(16))
    )
    return f"""
        WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM {rel}),
        {_guarded_shingles(DEFAULT_MAX_SHINGLE_DF)},
        hv AS (SELECT doc_id, {_H32.format(x='shingle')} % {HASH_P} AS h FROM sh)
        SELECT doc_id,
               {mins}
        FROM hv GROUP BY doc_id
    """


def _minhash_lsh_oracle(k: int = 16, bands: int = 4, threshold: float = 0.5,
                        rel: str = "documents") -> str:
    from db_spark.llm.dedup import DEFAULT_MAX_BUCKET_SIZE

    rows = k // bands
    bands_long = "\n              UNION ALL ".join(
        "SELECT doc_id, " + str(b) + " AS band_id, concat_ws('_', "
        + ", ".join(f"m{b * rows + r}" for r in range(rows)) + ") AS band_key FROM sig"
        for b in range(bands)
    )
    est = " + ".join(f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(k))
    # AS MATERIALIZED: DuckDB 1.0 inlines CTEs by default, so without it
    # `sig` (the full MinHash computation) is re-evaluated once per
    # reference (6x here) — at sf1 that inlining OOMs the oracle.
    return f"""
        WITH sig AS MATERIALIZED ({_minhash_oracle(rel)}),
        bands_long AS MATERIALIZED (
              {bands_long}
        ),
        ok_buckets AS (
              SELECT band_id, band_key FROM bands_long
              GROUP BY band_id, band_key
              HAVING count(*) <= {DEFAULT_MAX_BUCKET_SIZE}
        ),
        flt AS MATERIALIZED (SELECT bl.* FROM bands_long bl
                JOIN ok_buckets USING (band_id, band_key)),
        cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM flt a JOIN flt b USING (band_id, band_key)
              WHERE a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, ({est}) / {float(k)} AS est_jaccard
        FROM cand
        JOIN sig sa ON sa.doc_id = id_a
        JOIN sig sb ON sb.doc_id = id_b
        WHERE ({est}) / {float(k)} >= {threshold}
    """


def _kcenter_oracle(k: int = 5) -> str:
    """Unrolled farthest-point traversal mirroring
    ``similarity.k_center_greedy`` op for op: per round one argmax
    (d DESC, id ASC) and one running-min update against the newest
    pick, round-6 cosine parity."""
    parts = ["""base AS (SELECT vec_id,
                      list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
        s1 AS (SELECT min(vec_id) AS id FROM base),
        m1 AS (SELECT b.vec_id,
                      1 - (CASE WHEN list_inner_product(b.v, b.v) * list_inner_product(c.v, c.v) > 0 THEN round(list_cosine_similarity(b.v, c.v), 6) ELSE 0.0 END) AS d
               FROM base b JOIN base c ON c.vec_id = (SELECT id FROM s1)
               WHERE b.vec_id <> (SELECT id FROM s1))"""]
    for r in range(2, k + 1):
        parts.append(f"""
        s{r} AS (SELECT vec_id AS id, d FROM m{r-1}
                 ORDER BY d DESC, vec_id LIMIT 1)""")
        if r < k:
            parts.append(f"""
        m{r} AS (SELECT p.vec_id,
                        least(p.d,
                              1 - (CASE WHEN list_inner_product(b.v, b.v) * list_inner_product(c.v, c.v) > 0 THEN round(list_cosine_similarity(b.v, c.v), 6) ELSE 0.0 END)) AS d
                 FROM m{r-1} p
                 JOIN base b ON b.vec_id = p.vec_id
                 JOIN base c ON c.vec_id = (SELECT id FROM s{r})
                 WHERE p.vec_id <> (SELECT id FROM s{r}))""")
    sels = ["SELECT 1 AS sel_rank, id AS vec_id, "
            "CAST(NULL AS DOUBLE) AS min_dist FROM s1"]
    for r in range(2, k + 1):
        sels.append(f"SELECT {r} AS sel_rank, id AS vec_id, "
                    f"d AS min_dist FROM s{r}")
    return ("WITH " + ",".join(parts) + "\n        "
            + " UNION ALL ".join(sels))


def _lsh_probe_oracle(k: int = 16, bands: int = 4) -> str:
    """Cross-set replay of lsh_index_build + lsh_index_probe: per-slice
    signatures (shingle-DF caps computed within each slice, exactly as
    the engine signs corpus and batch separately), corpus-side bucket
    cap, then the batch x corpus band-bucket join."""
    from db_spark.llm.dedup import DEFAULT_MAX_BUCKET_SIZE

    rows = k // bands

    def bands_sql(rel: str) -> str:
        return "\n              UNION ALL ".join(
            "SELECT doc_id, " + str(b) + " AS band_id, concat_ws('_', "
            + ", ".join(f"m{b * rows + r}" for r in range(rows))
            + f") AS band_key FROM {rel}"
            for b in range(bands))

    return f"""
        WITH corpus_docs AS (
              SELECT * FROM documents WHERE doc_id % 10 <> 0),
        new_docs AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
        sig_c AS ({_minhash_oracle(rel='corpus_docs')}),
        sig_n AS ({_minhash_oracle(rel='new_docs')}),
        bc AS (
              {bands_sql('sig_c')}
        ),
        bn AS (
              {bands_sql('sig_n')}
        ),
        ok AS (SELECT band_id, band_key FROM bc GROUP BY 1, 2
               HAVING count(*) <= {DEFAULT_MAX_BUCKET_SIZE}),
        flt AS (SELECT bc.* FROM bc JOIN ok USING (band_id, band_key))
        SELECT DISTINCT n.doc_id AS new_id, f.doc_id AS corpus_id
        FROM bn n JOIN flt f USING (band_id, band_key)
    """


def _simhash_oracle() -> str:
    bit_sums = ",\n               ".join(
        f"SUM(CASE WHEN (h // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(32)
    )
    recompose = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(32)
    )
    return f"""
        WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS t FROM documents),
        hv AS (SELECT doc_id, {_H32.format(x='t')} AS h FROM tok),
        bits AS (SELECT doc_id,
               {bit_sums}
        FROM hv GROUP BY doc_id)
        SELECT doc_id, CAST({recompose} AS BIGINT) AS simhash FROM bits
    """


def _srp_near_dup_oracle(
    n_bits: int = 16, max_hamming: int = 3, threshold: float = 0.95, dim: int = 64,
    corpus_sql: str | None = None,
) -> str:
    """Mirror of llm.similarity.embedding_near_dup_pairs over the
    perturbed-union corpus of q_embedding_near_dup (or a caller-
    supplied corpus CTE body): same md5-derived hyperplane signs, same
    segment blocking, same exact-cosine verify."""

    def sign(i: int) -> str:
        return (
            f"(CASE WHEN ('0x' || substr(md5('{i}_' || j::VARCHAR), 1, 8))::BIGINT"
            f" % 2 = 1 THEN 1.0 ELSE -1.0 END)"
        )

    projs = ",\n                 ".join(
        f"list_sum(list_transform(range(0, {dim}), j -> v[j+1] * {sign(i)})) AS p{i}"
        for i in range(n_bits)
    )
    sig = " + ".join(
        f"(CASE WHEN p{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(n_bits)
    )
    seg_n = max_hamming + 1
    seg_bits = max(1, n_bits // seg_n)
    n_keys = 1 << seg_bits

    def dot(a: str, b: str) -> str:
        return (f"list_sum(list_transform(range(0, {dim}),"
                f" j -> {a}[j+1] * {b}[j+1]))")

    # One streaming arm per pigeonhole segment, scored and thresholded
    # INSIDE the arm — mirrors the engine, which filters cos_sim >=
    # threshold before its distinct. Deduping candidate pairs BEFORE
    # scoring (the old shape) forces DuckDB to materialize the full
    # sum-of-squared-bucket-sizes candidate set (~1e10 rows at sf1,
    # >70 GiB of spill); scoring first keeps every arm a pipelined
    # hash join and the final DISTINCT sees only verified pairs.
    # sqrt per vector then multiply per pair is the engine's exact
    # float sequence (similarity.py _norm_d), bit-identical to the
    # former per-pair sqrt(dot(a,a))*sqrt(dot(b,b)).
    hit_union = "\n              UNION ALL\n              ".join(
        f"SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        f"round({dot('a.v', 'b.v')} / (a.nrm * b.nrm), 6) AS cos_sim "
        f"FROM sig a JOIN sig b "
        f"ON (a.s // {1 << (s * seg_bits)}) % {n_keys}"
        f" = (b.s // {1 << (s * seg_bits)}) % {n_keys}"
        f" AND a.vec_id < b.vec_id"
        for s in range(seg_n)
    )

    corpus_body = corpus_sql or f"""SELECT vec_id, v FROM base
          UNION ALL
          SELECT vec_id + 100000000 AS vec_id,
                 list_transform(range(0, {dim}),
                                j -> v[j+1] + ((j % 7) - 3)::DOUBLE * 0.01) AS v
          FROM base"""
    # AS MATERIALIZED: DuckDB 1.0 inlines CTEs, so `sig` (16 projection
    # sums per vector) would otherwise be recomputed per segment-block
    # join arm and `corpus` per verify join — OOM at sf1.
    return f"""
        WITH base AS MATERIALIZED (
          SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
          FROM embeddings
        ),
        corpus AS MATERIALIZED (
          {corpus_body}
        ),
        proj AS (
          SELECT vec_id, v,
                 {projs}
          FROM corpus
        ),
        sig AS MATERIALIZED (SELECT vec_id, v, {sig} AS s,
                             sqrt({dot('v', 'v')}) AS nrm FROM proj),
        hits AS (
              {hit_union}
        )
        SELECT DISTINCT id_a, id_b, cos_sim FROM hits
        WHERE cos_sim >= {threshold}
    """


def _dbscan_oracle(min_pts: int = 2, dim: int = 64) -> str:
    """Pairs (parametrized SRP corpus: one perturbation of every
    vector, a second for every third) + degree + core filter +
    recursive-CC + min-cluster border assignment, mirroring
    ``similarity.dbscan`` stage for stage."""
    corpus_body = f"""SELECT vec_id, v FROM base
          UNION ALL
          SELECT vec_id + 100000000 AS vec_id,
                 list_transform(range(0, {dim}),
                                j -> v[j+1] + ((j % 7) - 3)::DOUBLE * 0.01)
                     AS v
          FROM base
          UNION ALL
          SELECT vec_id + 200000000 AS vec_id,
                 list_transform(range(0, {dim}),
                                j -> v[j+1] + ((j % 5) - 2)::DOUBLE * 0.01)
                     AS v
          FROM base WHERE vec_id % 3 = 0"""
    pairs_sql = _srp_near_dup_oracle(corpus_sql=corpus_body)
    return f"""
        WITH RECURSIVE pairs AS MATERIALIZED ({pairs_sql}),
        corpus_ids AS (
          SELECT vec_id FROM embeddings
          UNION ALL SELECT vec_id + 100000000 FROM embeddings
          UNION ALL SELECT vec_id + 200000000 FROM embeddings
                    WHERE vec_id % 3 = 0),
        sym AS MATERIALIZED (SELECT id_a, id_b FROM pairs
                UNION ALL SELECT id_b, id_a FROM pairs),
        deg AS (SELECT id_a, count(*) AS d FROM sym GROUP BY 1),
        core AS MATERIALIZED (SELECT id_a AS id FROM deg WHERE d >= {min_pts}),
        ce AS MATERIALIZED (SELECT p.id_a, p.id_b FROM pairs p
               JOIN core a ON p.id_a = a.id
               JOIN core b ON p.id_b = b.id),
        edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM ce
                  UNION SELECT id_b, id_a FROM ce),
        lab(id, l) AS (
          SELECT src AS id, src AS l FROM edges
          UNION
          SELECT e.src, lab.l FROM lab JOIN edges e ON e.dst = lab.id
          WHERE lab.l < e.src),
        comp AS MATERIALIZED (
                 SELECT id, MIN(l) AS cluster FROM lab GROUP BY id),
        core_lab AS MATERIALIZED (
                     SELECT core.id,
                            coalesce(comp.cluster, core.id) AS cluster
                     FROM core LEFT JOIN comp ON comp.id = core.id),
        border AS (SELECT s.id_a AS id, min(cl.cluster) AS cluster
                   FROM sym s JOIN core_lab cl ON s.id_b = cl.id
                   WHERE s.id_a NOT IN (SELECT id FROM core)
                   GROUP BY 1)
        SELECT c.vec_id,
               coalesce(cl.cluster, b.cluster) AS cluster_id,
               CASE WHEN cl.id IS NOT NULL THEN 'core'
                    WHEN b.id IS NOT NULL THEN 'border'
                    ELSE 'noise' END AS role
        FROM corpus_ids c
        LEFT JOIN core_lab cl ON cl.id = c.vec_id
        LEFT JOIN border b ON b.id = c.vec_id
    """


def _ivf_kmeans_oracle(n_cells: int = 16, n_probe: int = 4, k: int = 10,
                       n_iter: int = 2, dim: int = 64,
                       scale: int = 1_000_000) -> str:
    """Mirror of llm.similarity.ivf_kmeans_centroids + ivf_topk: Lloyd
    iterations unrolled as CTE chains; centroid means via scaled-BIGINT
    sums so both engines compute bit-identical centroids."""

    def assign(src_cent: str, name: str) -> str:
        return f"""
        {name} AS (
          SELECT vec_id, v, cell_id FROM (
            SELECT b.vec_id, b.v, c.cell_id,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id
                     ORDER BY (CASE WHEN list_inner_product(b.v, b.v) * list_inner_product(c.cvec, c.cvec) > 0 THEN round(list_cosine_similarity(b.v, c.cvec), 6) ELSE 0.0 END)
                       DESC, c.cell_id) AS rk
            FROM base b CROSS JOIN {src_cent} c
          ) WHERE rk = 1
        )"""

    def update(assigned: str, prev_cent: str, name: str) -> str:
        # indexed-lambda unnest, NOT range(0, dim): the hardcoded dim
        # emitted NULL centroid elements on any corpus of a different
        # dimension (v[j+1] out of range), which list_inner_product
        # rejects (caught by the r9 8-dim dirty embeddings). j from the
        # lambda is 1-based; it only feeds ORDER BY j, so the base is
        # irrelevant.
        return f"""
        {name}_m AS (
          SELECT cell_id, u.j, sum(u.s) AS s, count(*) AS n
          FROM (SELECT cell_id,
                       unnest(list_transform(v, (x, i) -> struct_pack(
                         j := i,
                         s := CAST(round(x * {scale}) AS BIGINT)))) AS u
                FROM {assigned})
          GROUP BY 1, 2
        ),
        {name}_new AS (
          SELECT cell_id,
                 list(s::DOUBLE / ({float(scale)} * n) ORDER BY j) AS cvec
          FROM {name}_m GROUP BY cell_id
        ),
        {name} AS (
          SELECT p.cell_id, COALESCE(nw.cvec, p.cvec) AS cvec
          FROM {prev_cent} p LEFT JOIN {name}_new nw USING (cell_id)
        )"""

    steps = []
    cent = "cent0"
    for i in range(n_iter):
        steps.append(assign(cent, f"a{i}"))
        steps.append(update(f"a{i}", cent, f"cent{i + 1}"))
        cent = f"cent{i + 1}"
    chain = ",".join(steps)
    return f"""
        WITH base AS (
          SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
          FROM embeddings
        ),
        cent0 AS (
          SELECT vec_id AS cell_id, v AS cvec
          FROM base ORDER BY vec_id LIMIT {n_cells}
        ),
        {chain},
        final_assign AS (
          SELECT vec_id, v, cell_id FROM (
            SELECT b.vec_id, b.v, c.cell_id,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id
                     ORDER BY (CASE WHEN list_inner_product(b.v, b.v) * list_inner_product(c.cvec, c.cvec) > 0 THEN round(list_cosine_similarity(b.v, c.cvec), 6) ELSE 0.0 END)
                       DESC, c.cell_id) AS rk
            FROM base b CROSS JOIN {cent} c
          ) WHERE rk = 1
        ),
        q AS (SELECT vec_id AS query_id, v AS qvec FROM base WHERE vec_id < 5),
        probes AS (
          SELECT query_id, qvec, cell_id FROM (
            SELECT q.query_id, q.qvec, c.cell_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                     ORDER BY (CASE WHEN list_inner_product(q.qvec, q.qvec) * list_inner_product(c.cvec, c.cvec) > 0 THEN round(list_cosine_similarity(q.qvec, c.cvec), 6) ELSE 0.0 END)
                       DESC, c.cell_id) AS rk
            FROM q CROSS JOIN {cent} c
          ) WHERE rk <= {n_probe}
        ),
        scored AS (
          SELECT p.query_id, a.vec_id,
                 (CASE WHEN list_inner_product(a.v, a.v) * list_inner_product(p.qvec, p.qvec) > 0 THEN round(list_cosine_similarity(a.v, p.qvec), 6) ELSE 0.0 END) AS sim
          FROM final_assign a JOIN probes p USING (cell_id)
        ),
        ranked AS (
          SELECT query_id, vec_id, sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, vec_id) AS rank
          FROM scored
        )
        SELECT query_id, vec_id, sim, CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= {k}
    """


def _pca_project_oracle(n_iter: int = 8) -> str:
    """Mirror of llm.similarity.pca_project: the moment fold, the exact
    integer power iteration (UNROLLED — one CTE pair per step, all
    HUGEINT so the arithmetic is arbitrary-precision-exact like the
    engine's python bigints; DuckDB ``//`` truncates toward zero,
    matching the engine's sign-adjusted truncating division), the
    largest-|coordinate| sign pin, and the exact dot projection."""
    steps = []
    prev = "w0"
    for k in range(1, n_iter + 1):
        steps.append(f"""
            y{k} AS MATERIALIZED (SELECT c.i,
                            CAST(SUM(c.cij * w.w) AS HUGEINT) AS y
                     FROM c JOIN {prev} w ON w.i = c.j GROUP BY 1),
            mx{k} AS MATERIALIZED (SELECT max(abs(y)) AS mx FROM y{k}),
            w{k} AS MATERIALIZED (SELECT y{k}.i,
                            CASE WHEN mx{k}.mx = 0 THEN wp.w
                                 ELSE (y{k}.y * 1000000000) // mx{k}.mx
                            END AS w
                     FROM y{k} CROSS JOIN mx{k}
                     JOIN {prev} wp ON wp.i = y{k}.i)""")
        prev = f"w{k}"
    unrolled = ",".join(steps)
    return f"""
        WITH e AS MATERIALIZED (
          SELECT vec_id, u.i AS i,
                 CAST(round(
                   CASE WHEN u.x > 1000000.0 THEN 1000000.0
                        WHEN u.x < -1000000.0 THEN -1000000.0
                        ELSE u.x END * 1000000) AS BIGINT) AS a
          FROM embeddings,
               unnest(list_transform(embedding,
                   (x, i) -> struct_pack(i := i,
                                         x := CAST(x AS DOUBLE)))) AS t(u)),
        mom AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
                       coalesce(CAST(SUM(CAST(a.a AS HUGEINT) * b.a)
                                     AS HUGEINT), 0) AS s
                FROM e a JOIN e b USING (vec_id) GROUP BY 1, 2),
        side AS MATERIALIZED (SELECT i,
                        coalesce(CAST(SUM(CAST(a AS HUGEINT)) AS HUGEINT),
                                 0) AS m
                 FROM e GROUP BY 1),
        nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM e WHERE i = 1),
        c0 AS MATERIALIZED (SELECT mom.i, mom.j,
                     (SELECT n FROM nn) * mom.s - ma.m * mb.m AS cij
              FROM mom JOIN side ma ON ma.i = mom.i
                       JOIN side mb ON mb.i = mom.j),
        -- renormalize C' to |entries| <= 1e17: the dominant eigenvector
        -- is scale-invariant and this keeps y * comp_scale inside
        -- HUGEINT on adversarial magnitudes (engine does the identical
        -- truncating division on python bigints)
        cdiv AS MATERIALIZED (
            SELECT CASE WHEN coalesce(max(abs(cij)), 0)
                             // 100000000000000000 < 1 THEN 1
                        ELSE max(abs(cij)) // 100000000000000000 END AS d
            FROM c0),
        c AS MATERIALIZED (SELECT i, j,
                                  cij // (SELECT d FROM cdiv) AS cij
                           FROM c0),
        w0 AS MATERIALIZED (SELECT i, CAST(1000000000 AS HUGEINT) AS w
                            FROM side),
        {unrolled},
        pin AS MATERIALIZED (SELECT w FROM {prev}
                             ORDER BY abs(w) DESC, i ASC LIMIT 1),
        wf AS MATERIALIZED (SELECT i, CASE WHEN (SELECT w FROM pin) < 0 THEN -w
                              ELSE w END AS w
               FROM {prev})
        SELECT e.vec_id,
               round(CAST(SUM(CAST(e.a AS HUGEINT) * wf.w) AS DOUBLE)
                     / 1000000.0 / 1000000000.0, 6)
                   + CAST(0 AS DOUBLE) AS pc1
        FROM e JOIN wf ON wf.i = e.i
        GROUP BY e.vec_id
    """


def _pca_topk_oracle(k: int = 3, n_iter: int = 8) -> str:
    """Mirror of llm.similarity.pca_topk: the pca_project moment fold
    and per-component power iteration, plus the integer Hotelling
    DEFLATION between components — y = C w renormalized by one
    truncating shift g, s = w^T y, D = C - g * trunc(y_i y_j / s),
    re-renormalized to <= 1e17 — all HUGEINT so every component
    replays the engine's python-bigint chain exactly (DuckDB ``//``
    truncates toward zero on HUGEINT too, verified)."""
    parts = []
    for m in range(1, k + 1):
        # power iteration on matrix c{m}
        prev = f"w{m}_0"
        parts.append(f"""
            w{m}_0 AS MATERIALIZED (SELECT i, CAST(1000000000 AS HUGEINT)
                                           AS w FROM side)""")
        for t in range(1, n_iter + 1):
            parts.append(f"""
            y{m}_{t} AS MATERIALIZED (SELECT c.i,
                            CAST(SUM(c.cij * w.w) AS HUGEINT) AS y
                     FROM c{m} c JOIN {prev} w ON w.i = c.j GROUP BY 1),
            mx{m}_{t} AS MATERIALIZED (SELECT max(abs(y)) AS mx
                                       FROM y{m}_{t}),
            w{m}_{t} AS MATERIALIZED (SELECT y{m}_{t}.i,
                            CASE WHEN mx{m}_{t}.mx = 0 THEN wp.w
                                 ELSE (y{m}_{t}.y * 1000000000)
                                      // mx{m}_{t}.mx
                            END AS w
                     FROM y{m}_{t} CROSS JOIN mx{m}_{t}
                     JOIN {prev} wp ON wp.i = y{m}_{t}.i)""")
            prev = f"w{m}_{t}"
        parts.append(f"""
            pin{m} AS MATERIALIZED (SELECT w FROM {prev}
                                    ORDER BY abs(w) DESC, i ASC LIMIT 1),
            wf{m} AS MATERIALIZED (SELECT i,
                       CASE WHEN (SELECT w FROM pin{m}) < 0 THEN -w
                            ELSE w END AS w
                     FROM {prev})""")
        if m < k:
            parts.append(f"""
            yd{m} AS MATERIALIZED (SELECT c.i,
                          CAST(SUM(c.cij * w.w) AS HUGEINT) AS y
                   FROM c{m} c JOIN wf{m} w ON w.i = c.j GROUP BY 1),
            g{m} AS MATERIALIZED (
                SELECT CASE WHEN coalesce(max(abs(y)), 0)
                                 // 100000000000000000 < 1 THEN 1
                            ELSE max(abs(y)) // 100000000000000000
                       END AS g FROM yd{m}),
            yn{m} AS MATERIALIZED (SELECT i,
                          y // (SELECT g FROM g{m}) AS y FROM yd{m}),
            s{m} AS MATERIALIZED (SELECT CAST(SUM(w.w * y.y) AS HUGEINT)
                                         AS s
                   FROM wf{m} w JOIN yn{m} y ON y.i = w.i),
            d{m} AS MATERIALIZED (SELECT a.i, a.j,
                   CASE WHEN (SELECT s FROM s{m}) <= 0 THEN a.cij
                        ELSE a.cij - (SELECT g FROM g{m})
                             * ((ya.y * yb.y) // (SELECT s FROM s{m}))
                   END AS cij
                   FROM c{m} a JOIN yn{m} ya ON ya.i = a.i
                               JOIN yn{m} yb ON yb.i = a.j),
            cdiv{m + 1} AS MATERIALIZED (
                SELECT CASE WHEN coalesce(max(abs(cij)), 0)
                                 // 100000000000000000 < 1 THEN 1
                            ELSE max(abs(cij)) // 100000000000000000
                       END AS d
                FROM d{m}),
            c{m + 1} AS MATERIALIZED (SELECT i, j,
                          cij // (SELECT d FROM cdiv{m + 1}) AS cij
                   FROM d{m})""")
    unrolled = ",".join(parts)
    proj_cols = ",\n               ".join(
        f"round(CAST(SUM(CAST(e.a AS HUGEINT) * wf{m}.w) AS DOUBLE)"
        f" / 1000000.0 / 1000000000.0, 6) + CAST(0 AS DOUBLE) AS pc{m}"
        for m in range(1, k + 1))
    proj_joins = "\n        ".join(
        f"JOIN wf{m} ON wf{m}.i = e.i" for m in range(1, k + 1))
    return f"""
        WITH e AS MATERIALIZED (
          SELECT vec_id, u.i AS i,
                 CAST(round(
                   CASE WHEN u.x > 1000000.0 THEN 1000000.0
                        WHEN u.x < -1000000.0 THEN -1000000.0
                        ELSE u.x END * 1000000) AS BIGINT) AS a
          FROM embeddings,
               unnest(list_transform(embedding,
                   (x, i) -> struct_pack(i := i,
                                         x := CAST(x AS DOUBLE)))) AS t(u)),
        mom AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
                       coalesce(CAST(SUM(CAST(a.a AS HUGEINT) * b.a)
                                     AS HUGEINT), 0) AS s
                FROM e a JOIN e b USING (vec_id) GROUP BY 1, 2),
        side AS MATERIALIZED (SELECT i,
                        coalesce(CAST(SUM(CAST(a AS HUGEINT)) AS HUGEINT),
                                 0) AS m
                 FROM e GROUP BY 1),
        nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM e WHERE i = 1),
        c0 AS MATERIALIZED (SELECT mom.i, mom.j,
                     (SELECT n FROM nn) * mom.s - ma.m * mb.m AS cij
              FROM mom JOIN side ma ON ma.i = mom.i
                       JOIN side mb ON mb.i = mom.j),
        cdiv1 AS MATERIALIZED (
            SELECT CASE WHEN coalesce(max(abs(cij)), 0)
                             // 100000000000000000 < 1 THEN 1
                        ELSE max(abs(cij)) // 100000000000000000 END AS d
            FROM c0),
        c1 AS MATERIALIZED (SELECT i, j,
                                   cij // (SELECT d FROM cdiv1) AS cij
                            FROM c0),
        {unrolled}
        SELECT e.vec_id,
               {proj_cols}
        FROM e {proj_joins}
        GROUP BY e.vec_id
    """


def _pq_topk_oracle(k: int = 10, m: int = 4, n_codes: int = 8,
                    n_iter: int = 2, scale: int = 1_000_000,
                    clamp: float = 1_000_000.0,
                    n_queries: int = 3,
                    sample_n: "int | None" = None) -> str:
    """Mirror of llm.similarity.pq_train/pq_encode/pq_topk: scaled
    integer components with ARITHMETIC subspace assignment (follows
    the data's dimensionality — never a hardcoded dim), lowest-id
    seeding with ROW_NUMBER codes, per-iteration exact HUGEINT
    squared-L2 assignment (ties -> lowest code) + truncating-division
    integer means, then ADC: per-query (subspace, code) distance
    tables summed over the corpus codes. Every engine step replays
    1:1 (Spark decimal(38,0)/div == DuckDB HUGEINT///).

    ``sample_n`` mirrors pq_train(train_sample_n=...): the k-means
    chain (seeds + assignment + means) runs over the sample_n rows
    ranked lowest by the salted id-hash h32('pqs:' || id) (ties ->
    lowest id), while ENCODE and the query tables still cover the
    full corpus."""
    cl = f"{clamp:.1f}"
    tr = "comp" if sample_n is None else "tcomp"
    steps = []
    cent = "cent0"
    for i in range(n_iter):
        steps.append(f"""
        d{i} AS MATERIALIZED (
          SELECT {tr}.vec_id, {tr}.j, c.code,
                 SUM(CAST({tr}.x - c.c AS HUGEINT) * ({tr}.x - c.c))
                     AS dist
          FROM {tr} JOIN {cent} c ON c.j = {tr}.j AND c.pos = {tr}.pos
          GROUP BY 1, 2, 3),
        a{i} AS MATERIALIZED (
          SELECT vec_id, j, code FROM (
            SELECT vec_id, j, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                      ORDER BY dist, code) AS rk
            FROM d{i}) WHERE rk = 1),
        m{i} AS MATERIALIZED (
          SELECT {tr}.j, a.code, {tr}.pos,
                 CAST(SUM(CAST({tr}.x AS HUGEINT)) // COUNT(*)
                      AS BIGINT) AS nc
          FROM {tr} JOIN a{i} a
            ON a.vec_id = {tr}.vec_id AND a.j = {tr}.j
          GROUP BY 1, 2, 3),
        cent{i + 1} AS MATERIALIZED (
          SELECT p.j, p.code, p.pos, COALESCE(mm.nc, p.c) AS c
          FROM {cent} p LEFT JOIN m{i} mm
            ON mm.j = p.j AND mm.code = p.code AND mm.pos = p.pos)""")
        cent = f"cent{i + 1}"
    chain = ",".join(steps)
    if sample_n is None:
        sample_ctes = ""
        seed_src = f"""SELECT vec_id FROM embeddings
                ORDER BY vec_id LIMIT {n_codes}"""
    else:
        sample_ctes = f"""
        pick AS (
          SELECT vec_id FROM embeddings
          ORDER BY ('0x' || substr(md5('pqs:' || CAST(vec_id AS VARCHAR)),
                                   1, 8))::BIGINT, vec_id
          LIMIT {sample_n}),
        tcomp AS MATERIALIZED (
          SELECT comp.* FROM comp JOIN pick USING (vec_id)),"""
        seed_src = f"""SELECT vec_id FROM pick
                ORDER BY vec_id LIMIT {n_codes}"""
    return f"""
        WITH comp AS MATERIALIZED (
          SELECT vec_id,
                 CAST((u.i - 1) // (dim // {m}) AS INT) AS j,
                 CAST((u.i - 1) % (dim // {m}) AS INT) AS pos,
                 CAST(round(CASE WHEN u.x > {cl} THEN {cl}
                                 WHEN u.x < -{cl} THEN -{cl}
                                 ELSE u.x END * {scale}) AS BIGINT) AS x
          FROM (SELECT vec_id, len(embedding) AS dim,
                       unnest(list_transform(embedding,
                           (x, i) -> struct_pack(
                               i := i, x := CAST(x AS DOUBLE)))) AS u
                FROM embeddings)),{sample_ctes}
        seeds AS (
          SELECT vec_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
                     AS code
          FROM ({seed_src})),
        cent0 AS MATERIALIZED (
          SELECT j, s.code, pos, x AS c
          FROM {tr} JOIN seeds s USING (vec_id)),
        {chain},
        codes AS MATERIALIZED (
          SELECT vec_id, j, code FROM (
            SELECT comp.vec_id, comp.j, c.code,
                   ROW_NUMBER() OVER (PARTITION BY comp.vec_id, comp.j
                       ORDER BY SUM(CAST(comp.x - c.c AS HUGEINT)
                                    * (comp.x - c.c)), c.code) AS rk
            FROM comp JOIN {cent} c ON c.j = comp.j AND c.pos = comp.pos
            GROUP BY comp.vec_id, comp.j, c.code) WHERE rk = 1),
        qt AS MATERIALIZED (
          SELECT comp.vec_id AS query_id, comp.j, c.code,
                 SUM(CAST(comp.x - c.c AS HUGEINT) * (comp.x - c.c))
                     AS pd
          FROM comp JOIN {cent} c ON c.j = comp.j AND c.pos = comp.pos
          WHERE comp.vec_id < {n_queries}
          GROUP BY 1, 2, 3),
        adc AS (
          SELECT qt.query_id, codes.vec_id,
                 SUM(qt.pd) AS dist
          FROM codes JOIN qt ON qt.j = codes.j AND qt.code = codes.code
          GROUP BY 1, 2)
        SELECT query_id, vec_id,
               round(CAST(dist AS DOUBLE)
                     / {float(scale)} / {float(scale)}, 6)
                   + CAST(0 AS DOUBLE) AS adc_dist,
               CAST(rk AS BIGINT) AS rank
        FROM (SELECT query_id, vec_id, dist,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY dist, vec_id) AS rk
              FROM adc)
        WHERE rk <= {k}
    """


def _ivfpq_topk_oracle(k: int = 10, n_cells: int = 8, n_probe: int = 3,
                       m: int = 4, n_codes: int = 8, n_iter: int = 2,
                       scale: int = 1_000_000, clamp: float = 1_000_000.0,
                       n_queries: int = 3) -> str:
    """Mirror of llm.similarity.ivfpq_topk (IVFADC, Jégou et al. 2011
    §IV): the ivf_topk coarse chain (lowest-id centroids, guarded
    cosine argmax, ties -> lowest cell) feeds RESIDUAL components
    (exact BIGINT subtraction of the scaled integers — the centroid
    components are comp rows of the centroid ids, byte-identical to
    the engine's re-derivation because clamp+scale is deterministic),
    then the _pq_topk_oracle k-means chain over residuals seeded by
    the lowest-id NON-centroid vectors (OFFSET n_cells), and ADC
    restricted to each query's probed cells."""
    cl = f"{clamp:.1f}"
    guard_cos = ("CASE WHEN list_inner_product({a}::DOUBLE[], "
                 "{a}::DOUBLE[]) * list_inner_product({b}::DOUBLE[], "
                 "{b}::DOUBLE[]) > 0 THEN round(list_cosine_similarity("
                 "{a}::DOUBLE[], {b}::DOUBLE[]), 6) ELSE 0.0 END")
    steps = []
    cent = "rc0"
    for i in range(n_iter):
        steps.append(f"""
        rd{i} AS MATERIALIZED (
          SELECT rcomp.vec_id, rcomp.j, c.code,
                 SUM(CAST(rcomp.x - c.c AS HUGEINT) * (rcomp.x - c.c))
                     AS dist
          FROM rcomp JOIN {cent} c ON c.j = rcomp.j AND c.pos = rcomp.pos
          GROUP BY 1, 2, 3),
        ra{i} AS MATERIALIZED (
          SELECT vec_id, j, code FROM (
            SELECT vec_id, j, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                      ORDER BY dist, code) AS rk
            FROM rd{i}) WHERE rk = 1),
        rm{i} AS MATERIALIZED (
          SELECT rcomp.j, a.code, rcomp.pos,
                 CAST(SUM(CAST(rcomp.x AS HUGEINT)) // COUNT(*)
                      AS BIGINT) AS nc
          FROM rcomp JOIN ra{i} a
            ON a.vec_id = rcomp.vec_id AND a.j = rcomp.j
          GROUP BY 1, 2, 3),
        rc{i + 1} AS MATERIALIZED (
          SELECT p.j, p.code, p.pos, COALESCE(mm.nc, p.c) AS c
          FROM {cent} p LEFT JOIN rm{i} mm
            ON mm.j = p.j AND mm.code = p.code AND mm.pos = p.pos)""")
        cent = f"rc{i + 1}"
    chain = ",".join(steps)
    return f"""
        WITH comp AS MATERIALIZED (
          SELECT vec_id,
                 CAST((u.i - 1) // (dim // {m}) AS INT) AS j,
                 CAST((u.i - 1) % (dim // {m}) AS INT) AS pos,
                 CAST(round(CASE WHEN u.x > {cl} THEN {cl}
                                 WHEN u.x < -{cl} THEN -{cl}
                                 ELSE u.x END * {scale}) AS BIGINT) AS x
          FROM (SELECT vec_id, len(embedding) AS dim,
                       unnest(list_transform(embedding,
                           (x, i) -> struct_pack(
                               i := i, x := CAST(x AS DOUBLE)))) AS u
                FROM embeddings)),
        cent AS (
          SELECT vec_id AS cell_id, embedding AS cvec
          FROM embeddings ORDER BY vec_id LIMIT {n_cells}),
        assigned AS MATERIALIZED (
          SELECT vec_id, cell_id FROM (
            SELECT e.vec_id, c.cell_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY ({guard_cos.format(a='e.embedding',
                                                 b='c.cvec')}) DESC,
                         c.cell_id) AS rk
            FROM embeddings e CROSS JOIN cent c
          ) WHERE rk = 1),
        ccomp AS MATERIALIZED (
          SELECT vec_id AS cell_id, j, pos, x AS cx
          FROM comp WHERE vec_id IN (SELECT cell_id FROM cent)),
        rcomp AS MATERIALIZED (
          SELECT comp.vec_id, a.cell_id, comp.j, comp.pos,
                 comp.x - cc.cx AS x
          FROM comp
          JOIN assigned a ON a.vec_id = comp.vec_id
          JOIN ccomp cc ON cc.cell_id = a.cell_id
            AND cc.j = comp.j AND cc.pos = comp.pos),
        seeds AS (
          SELECT vec_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
                     AS code
          FROM (SELECT vec_id FROM embeddings
                ORDER BY vec_id LIMIT {n_codes} OFFSET {n_cells})),
        rc0 AS MATERIALIZED (
          SELECT j, s.code, pos, x AS c
          FROM rcomp JOIN seeds s USING (vec_id)),
        {chain},
        codes AS MATERIALIZED (
          SELECT vec_id, cell_id, j, code FROM (
            SELECT rcomp.vec_id, rcomp.cell_id, rcomp.j, c.code,
                   ROW_NUMBER() OVER (PARTITION BY rcomp.vec_id, rcomp.j
                       ORDER BY SUM(CAST(rcomp.x - c.c AS HUGEINT)
                                    * (rcomp.x - c.c)), c.code) AS rk
            FROM rcomp JOIN {cent} c ON c.j = rcomp.j AND c.pos = rcomp.pos
            GROUP BY rcomp.vec_id, rcomp.cell_id, rcomp.j, c.code)
          WHERE rk = 1),
        q AS (SELECT vec_id AS query_id, embedding AS qvec
              FROM embeddings WHERE vec_id < {n_queries}),
        probes AS (
          SELECT query_id, cell_id FROM (
            SELECT q.query_id, c.cell_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                     ORDER BY ({guard_cos.format(a='q.qvec',
                                                 b='c.cvec')}) DESC,
                         c.cell_id) AS rk
            FROM q CROSS JOIN cent c
          ) WHERE rk <= {n_probe}),
        qr AS MATERIALIZED (
          SELECT comp.vec_id AS query_id, p.cell_id, comp.j, comp.pos,
                 comp.x - cc.cx AS x
          FROM comp
          JOIN probes p ON p.query_id = comp.vec_id
          JOIN ccomp cc ON cc.cell_id = p.cell_id
            AND cc.j = comp.j AND cc.pos = comp.pos
          WHERE comp.vec_id < {n_queries}),
        qt AS MATERIALIZED (
          SELECT qr.query_id, qr.cell_id, qr.j, c.code,
                 SUM(CAST(qr.x - c.c AS HUGEINT) * (qr.x - c.c)) AS pd
          FROM qr JOIN {cent} c ON c.j = qr.j AND c.pos = qr.pos
          GROUP BY 1, 2, 3, 4),
        adc AS (
          SELECT qt.query_id, codes.vec_id, SUM(qt.pd) AS dist
          FROM codes JOIN qt ON qt.cell_id = codes.cell_id
            AND qt.j = codes.j AND qt.code = codes.code
          GROUP BY 1, 2)
        SELECT query_id, vec_id,
               round(CAST(dist AS DOUBLE)
                     / {float(scale)} / {float(scale)}, 6)
                   + CAST(0 AS DOUBLE) AS adc_dist,
               CAST(rk AS BIGINT) AS rank
        FROM (SELECT query_id, vec_id, dist,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY dist, vec_id) AS rk
              FROM adc)
        WHERE rk <= {k}
    """


def _winnow_spans_oracle(rel: str = "documents") -> str:
    """winnow_overlap(output='spans', k=4, w=4, min_shared=2) as SQL
    over any relation ``rel`` carrying (doc_id, text) — the literal
    that was the r11 ``winnow_spans`` entry, parametrized so
    curate_corpus_v2 can run the identical chain over its gated
    survivor CTE (DuckDB CTEs are lexically scoped, so a nested WITH
    inside a derived table sees the outer CTE)."""
    return f"""
            WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM {rel}),
            g AS (SELECT doc_id, len(toks) - 3 AS ng, pos,
                         ('0x' || substr(md5(
                             toks[pos] || ' ' || toks[pos+1] || ' ' ||
                             toks[pos+2] || ' ' || toks[pos+3]), 1, 15))::BIGINT AS gh
                  FROM (SELECT doc_id, toks,
                               unnest(range(1, greatest(len(toks) - 2, 1))) AS pos
                        FROM tok)),
            wm AS (SELECT doc_id, ng, pos,
                          min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
                   FROM g),
            fp AS (SELECT DISTINCT doc_id, sel AS fp FROM wm WHERE pos <= ng - 3),
            ok AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 1000),
            fpo AS (SELECT doc_id, fp FROM fp JOIN ok USING (fp)),
            -- every gram occurrence of a doc-selected fingerprint value
            hits AS (SELECT g.doc_id, g.pos, g.gh AS fp
                     FROM g JOIN fpo
                       ON fpo.doc_id = g.doc_id AND fpo.fp = g.gh),
            pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM fpo a JOIN fpo b
                     ON a.fp = b.fp AND a.doc_id < b.doc_id
                   GROUP BY 1, 2 HAVING count(*) >= 2),
            anch AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                            a.pos AS pa, b.pos AS pb
                     FROM hits a JOIN hits b
                       ON a.fp = b.fp AND a.doc_id < b.doc_id
                     JOIN pr ON pr.id_a = a.doc_id AND pr.id_b = b.doc_id),
            dg AS (SELECT id_a, id_b, pa, pb, pb - pa AS diag FROM anch),
            fl AS (SELECT id_a, id_b, pa, diag,
                          CASE WHEN pa - lag(pa) OVER
                              (PARTITION BY id_a, id_b, diag ORDER BY pa) > 7
                          THEN 1 ELSE 0 END AS nf
                   FROM dg),
            isl AS (SELECT id_a, id_b, pa, diag,
                           SUM(nf) OVER (PARTITION BY id_a, id_b, diag
                               ORDER BY pa ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS grp
                    FROM fl),
            sp AS (SELECT id_a, id_b,
                          CAST(min(pa) AS BIGINT) AS a_start,
                          CAST(max(pa) + 3 AS BIGINT) AS a_end,
                          CAST(min(pa) + diag AS BIGINT) AS b_start,
                          CAST(max(pa) + 3 + diag AS BIGINT) AS b_end,
                          CAST(count(*) AS BIGINT) AS n_anchors
                   FROM isl GROUP BY id_a, id_b, diag, grp),
            -- token -> char-offset map (r11): split the lowered text
            -- on the token regex (separator pieces, leading/trailing
            -- empties kept like Java split limit -1), interleave seps
            -- (key 2i) with tokens (key 2n-1), one running sum
            ev AS (
              SELECT doc_id, 2 * (u.i - 1) AS k, length(u.x) AS l
              FROM (SELECT doc_id,
                           unnest(list_transform(
                               regexp_split_to_array({_LOW},
                                                     '[a-z'']+'),
                               (x, i) -> struct_pack(i := i, x := x)))
                               AS u
                    FROM {rel})
              UNION ALL
              SELECT doc_id, 2 * u.i - 1 AS k, length(u.x) AS l
              FROM (SELECT doc_id,
                           unnest(list_transform({_TOKS},
                               (x, i) -> struct_pack(i := i, x := x)))
                               AS u
                    FROM {rel})),
            om AS (
              SELECT doc_id, (k + 1) // 2 AS tp,
                     1 + coalesce(SUM(l) OVER (PARTITION BY doc_id
                         ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS cs,
                     l AS tl
              FROM ev QUALIFY k % 2 = 1)
            SELECT id_a, id_b, a_start, a_end, b_start, b_end, n_anchors,
                   CAST(oas.cs AS BIGINT) AS a_char_start,
                   CAST(oae.cs + oae.tl - 1 AS BIGINT) AS a_char_end,
                   CAST(obs.cs AS BIGINT) AS b_char_start,
                   CAST(obe.cs + obe.tl - 1 AS BIGINT) AS b_char_end
            FROM sp
            JOIN om oas ON oas.doc_id = sp.id_a AND oas.tp = sp.a_start
            JOIN om oae ON oae.doc_id = sp.id_a AND oae.tp = sp.a_end
            JOIN om obs ON obs.doc_id = sp.id_b AND obs.tp = sp.b_start
            JOIN om obe ON obe.doc_id = sp.id_b AND obe.tp = sp.b_end
    """


def _winnow_probe_oracle(min_shared: int = 2, max_fp_df: int = 1000,
                         gap: int = 7) -> str:
    """Mirror of llm.dedup.winnow_index_build + winnow_probe
    (output='spans', k=4, w=4) as a full CROSS-SET RECOMPUTE: the
    probe against a persisted index equals re-fingerprinting both
    partitions because winnowing is strictly per-document (a doc's
    fingerprint set never depends on the rest of the corpus) — the
    same identity the lsh_probe oracle uses. Corpus = doc_id % 5 != 0,
    new batch = doc_id % 5 = 0; the df-cap counts CORPUS documents
    only (the probe can only see index-side df), applied to both
    fingerprint sets and both hit streams; anchors merge per (pair,
    diagonal) within gap=k+w-1 tokens (winnow_spans chain)."""

    def side(name: str, pred: str) -> str:
        return f"""
        tok_{name} AS (SELECT doc_id, {_TOKS} AS toks
                       FROM documents WHERE {pred}),
        g_{name} AS (SELECT doc_id, len(toks) - 3 AS ng, pos,
                     ('0x' || substr(md5(
                         toks[pos] || ' ' || toks[pos+1] || ' ' ||
                         toks[pos+2] || ' ' || toks[pos+3]),
                         1, 15))::BIGINT AS gh
              FROM (SELECT doc_id, toks,
                           unnest(range(1, greatest(len(toks) - 2, 1)))
                               AS pos
                    FROM tok_{name})),
        wm_{name} AS (SELECT doc_id, ng, pos,
                      min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                          AS sel
               FROM g_{name}),
        fp_{name} AS (SELECT DISTINCT doc_id, sel AS fp
                      FROM wm_{name} WHERE pos <= ng - 3),
        hits_{name} AS (SELECT g.doc_id, g.pos, g.gh AS fp
                        FROM g_{name} g JOIN fp_{name} f
                          ON f.doc_id = g.doc_id AND f.fp = g.gh)"""

    return f"""
        WITH {side('c', 'doc_id % 5 <> 0')},
        {side('n', 'doc_id % 5 = 0')},
        hot AS (SELECT fp FROM fp_c GROUP BY fp
                HAVING count(*) > {max_fp_df}),
        fpc AS (SELECT * FROM fp_c
                WHERE fp NOT IN (SELECT fp FROM hot)),
        fpn AS (SELECT * FROM fp_n
                WHERE fp NOT IN (SELECT fp FROM hot)),
        hc AS (SELECT * FROM hits_c
               WHERE fp NOT IN (SELECT fp FROM hot)),
        hn AS (SELECT * FROM hits_n
               WHERE fp NOT IN (SELECT fp FROM hot)),
        pr AS (SELECT c.doc_id AS corpus_id, n.doc_id AS new_id,
                      count(*) AS sh
               FROM fpc c JOIN fpn n ON c.fp = n.fp
               GROUP BY 1, 2 HAVING count(*) >= {min_shared}),
        anch AS (SELECT DISTINCT hc.doc_id AS corpus_id,
                        hn.doc_id AS new_id,
                        hc.pos AS pa, hn.pos AS pb
                 FROM hc JOIN hn ON hc.fp = hn.fp
                 JOIN pr ON pr.corpus_id = hc.doc_id
                        AND pr.new_id = hn.doc_id),
        dg AS (SELECT corpus_id, new_id, pa, pb, pb - pa AS diag
               FROM anch),
        fl AS (SELECT corpus_id, new_id, pa, diag,
                      CASE WHEN pa - lag(pa) OVER
                          (PARTITION BY corpus_id, new_id, diag
                           ORDER BY pa) > {gap}
                      THEN 1 ELSE 0 END AS nf
               FROM dg),
        isl AS (SELECT corpus_id, new_id, pa, diag,
                       SUM(nf) OVER (PARTITION BY corpus_id, new_id, diag
                           ORDER BY pa ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS grp
                FROM fl)
        SELECT corpus_id, new_id,
               CAST(min(pa) AS BIGINT) AS a_start,
               CAST(max(pa) + 3 AS BIGINT) AS a_end,
               CAST(min(pa) + diag AS BIGINT) AS b_start,
               CAST(max(pa) + 3 + diag AS BIGINT) AS b_end,
               CAST(count(*) AS BIGINT) AS n_anchors
        FROM isl GROUP BY corpus_id, new_id, diag, grp
    """


def _semantic_dedup_oracle(n_cells: int = 16, threshold: float = 0.95,
                           n_iter: int = 2, scale: int = 1_000_000) -> str:
    """Mirror of llm.similarity.semantic_dedup over the perturbed-union
    corpus of q_semantic_dedup: the _ivf_kmeans_oracle Lloyd chain
    (lowest-id seeding, scaled-BIGINT means, cosine argmax with
    lowest-cell tiebreak), then within-cell pairs at round(cos,6) >=
    threshold removing the higher id. The perturbation is an indexed
    list_transform so it follows the corpus dimensionality exactly as
    the engine side does."""

    def assign(src_cent: str, name: str) -> str:
        return f"""
        {name} AS (
          SELECT vec_id, v, cell_id FROM (
            SELECT b.vec_id, b.v, c.cell_id,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id
                     ORDER BY (CASE WHEN list_inner_product(b.v, b.v) * list_inner_product(c.cvec, c.cvec) > 0 THEN round(list_cosine_similarity(b.v, c.cvec), 6) ELSE 0.0 END)
                       DESC, c.cell_id) AS rk
            FROM base b CROSS JOIN {src_cent} c
          ) WHERE rk = 1
        )"""

    def update(assigned: str, prev_cent: str, name: str) -> str:
        return f"""
        {name}_m AS (
          SELECT cell_id, u.j, sum(u.s) AS s, count(*) AS n
          FROM (SELECT cell_id,
                       unnest(list_transform(v, (x, i) -> struct_pack(
                         j := i,
                         s := CAST(round(x * {scale}) AS BIGINT)))) AS u
                FROM {assigned})
          GROUP BY 1, 2
        ),
        {name}_new AS (
          SELECT cell_id,
                 list(s::DOUBLE / ({float(scale)} * n) ORDER BY j) AS cvec
          FROM {name}_m GROUP BY cell_id
        ),
        {name} AS (
          SELECT p.cell_id, COALESCE(nw.cvec, p.cvec) AS cvec
          FROM {prev_cent} p LEFT JOIN {name}_new nw USING (cell_id)
        )"""

    steps = []
    cent = "cent0"
    for i in range(n_iter):
        steps.append(assign(cent, f"a{i}"))
        steps.append(update(f"a{i}", cent, f"cent{i + 1}"))
        cent = f"cent{i + 1}"
    chain = ",".join(steps)
    return f"""
        WITH emb0 AS (
          SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
          FROM embeddings
        ),
        base AS MATERIALIZED (
          SELECT vec_id, v FROM emb0
          UNION ALL
          SELECT vec_id + 100000000 AS vec_id,
                 list_transform(v, (x, i) ->
                     x + (((i - 1) % 7) - 3)::DOUBLE * 0.01) AS v
          FROM emb0
        ),
        cent0 AS (
          SELECT vec_id AS cell_id, v AS cvec
          FROM base ORDER BY vec_id LIMIT {n_cells}
        ),
        {chain},
        final_assign AS MATERIALIZED (
          SELECT vec_id, v, cell_id FROM (
            SELECT b.vec_id, b.v, c.cell_id,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id
                     ORDER BY (CASE WHEN list_inner_product(b.v, b.v) * list_inner_product(c.cvec, c.cvec) > 0 THEN round(list_cosine_similarity(b.v, c.cvec), 6) ELSE 0.0 END)
                       DESC, c.cell_id) AS rk
            FROM base b CROSS JOIN {cent} c
          ) WHERE rk = 1
        ),
        rm AS (
          SELECT DISTINCT b.vec_id
          FROM final_assign a JOIN final_assign b
            ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
          WHERE (CASE WHEN list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v) > 0 THEN round(list_cosine_similarity(a.v, b.v), 6) ELSE 0.0 END)
                >= {threshold}
        )
        SELECT f.vec_id, f.cell_id,
               (rm.vec_id IS NULL) AS kept
        FROM final_assign f LEFT JOIN rm ON f.vec_id = rm.vec_id
    """


def _text_stats_oracle() -> str:
    from db_spark.llm.text import STOPWORDS

    def sw_list(lang):
        return ", ".join(f"'{w}'" for w in STOPWORDS[lang])

    scores = {
        lang: f"len(list_filter(list_transform({_TOKS}, t -> lower(t)), "
              f"t -> t IN ({sw_list(lang)})))"
        for lang in STOPWORDS
    }
    langs = sorted(scores)  # tie-break: first code in order wins
    best = "greatest(" + ", ".join(f"s_{la}" for la in langs) + ")"
    lang_case = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN s_{la} = {best} THEN '{la}'" for la in langs
    ) + " ELSE 'und' END"
    return f"""
        WITH base AS (
          SELECT doc_id, text,
                 length(text) AS n_chars_,
                 len(regexp_extract_all(text, '[a-zA-Z'']+')) AS n_tokens_,
                 len(regexp_extract_all(text,
                     '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]')) AS n_bpe_,
                 length(regexp_replace(text, '[a-zA-Z0-9 \\t\\n\\x0B\\f\\r]', '', 'g')) AS n_punct_,
                 list_sum(list_transform(regexp_extract_all(text, '[a-zA-Z'']+'),
                          t -> length(t))) AS tok_len_sum_,
                 {scores['en']} AS s_en,
                 {scores['de']} AS s_de,
                 {scores['fr']} AS s_fr,
                 {scores['es']} AS s_es
          FROM documents
        )
        SELECT doc_id,
               CAST(n_chars_ AS BIGINT) AS n_chars,
               CAST(n_tokens_ AS BIGINT) AS n_tokens,
               CAST(n_bpe_ AS BIGINT) AS n_bpe_tokens,
               CASE WHEN n_chars_ > 0
                    THEN n_punct_::DOUBLE / n_chars_::DOUBLE
                    ELSE 0.0 END AS punct_ratio,
               CASE WHEN n_tokens_ > 0 THEN s_en::DOUBLE / n_tokens_::DOUBLE
                    ELSE 0.0 END AS stopword_ratio_en,
               CASE WHEN n_tokens_ > 0
                    THEN COALESCE(tok_len_sum_, 0)::DOUBLE / n_tokens_::DOUBLE
                    ELSE 0.0 END AS avg_word_len,
               least(n_tokens_::DOUBLE / 20.0, 1.0) * 0.4
                 + least((CASE WHEN n_tokens_ > 0
                          THEN s_en::DOUBLE / n_tokens_::DOUBLE ELSE 0.0 END) * 4.0,
                         1.0) * 0.3
                 + greatest(0.0,
                     1.0 - (CASE WHEN n_chars_ > 0
                            THEN n_punct_::DOUBLE / n_chars_::DOUBLE
                            ELSE 0.0 END) * 4.0) * 0.3
                 AS quality,
               md5(translate(trim(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fingerprint,
               {lang_case} AS lang_pred
        FROM base
    """


def _importance_sample_oracle() -> str:
    """importance_sample oracle: the text_stats quality composite as
    the per-row acceptance rate, integer-ppm threshold against the id
    hash — identical keep set by construction."""
    from db_spark.llm.text import STOPWORDS

    sw = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
        WITH q AS (
          SELECT doc_id, source,
                 len(regexp_extract_all(text, '[a-zA-Z'']+')) AS nt,
                 len(list_filter(list_transform(
                     regexp_extract_all(text, '[a-zA-Z'']+'),
                     t -> lower(t)), t -> t IN ({sw}))) AS s_en,
                 length(regexp_replace(text, '[a-zA-Z0-9 \\t\\n\\x0B\\f\\r]', '', 'g'))
                     AS np,
                 length(text) AS nc
          FROM documents),
        r AS (
          SELECT doc_id, source,
                 least(nt::DOUBLE / 20.0, 1.0) * 0.4
                 + least((CASE WHEN nt > 0
                          THEN s_en::DOUBLE / nt::DOUBLE ELSE 0.0 END) * 4.0,
                         1.0) * 0.3
                 + greatest(0.0, 1.0 - (CASE WHEN nc > 0 THEN np::DOUBLE / nc::DOUBLE ELSE 0.0 END) * 4.0) * 0.3
                     AS rate
          FROM q)
        SELECT doc_id, source FROM r
        WHERE {_H32.format(x='CAST(doc_id AS VARCHAR)')} % 1000000
              < CAST(round(least(1.0, greatest(0.0, rate)) * 1000000)
                     AS BIGINT)
    """


def _dedup_keep_best_oracle() -> str:
    """dedup_keep_best oracle: LSH pairs + transitive closure exactly
    as dedup_corpus, then per-cluster argmax of the quality composite
    in integer ppm (ties to smallest doc_id) — the keeper set is exact
    integer comparison on both engines."""
    from db_spark.llm.text import STOPWORDS

    sw = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
        WITH RECURSIVE pairs AS MATERIALIZED ({_minhash_lsh_oracle()}),
        edges AS MATERIALIZED (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION
          SELECT id_b, id_a FROM pairs
        ),
        reach(src, dst) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ),
        members AS (
          SELECT src AS doc_id, least(src, MIN(dst)) AS cluster_id
          FROM reach GROUP BY src
        ),
        q AS (
          SELECT doc_id,
                 len(regexp_extract_all(text, '[a-zA-Z'']+')) AS nt,
                 len(list_filter(list_transform(
                     regexp_extract_all(text, '[a-zA-Z'']+'),
                     t -> lower(t)), t -> t IN ({sw}))) AS s_en,
                 length(regexp_replace(text, '[a-zA-Z0-9 \\t\\n\\x0B\\f\\r]', '', 'g'))
                     AS np,
                 length(text) AS nc
          FROM documents),
        scored AS (
          SELECT m.doc_id, m.cluster_id,
                 CAST(round(least(1.0, greatest(0.0,
                      least(nt::DOUBLE / 20.0, 1.0) * 0.4
                      + least((CASE WHEN nt > 0
                               THEN s_en::DOUBLE / nt::DOUBLE
                               ELSE 0.0 END) * 4.0, 1.0) * 0.3
                      + greatest(0.0, 1.0 - (CASE WHEN nc > 0 THEN np::DOUBLE / nc::DOUBLE ELSE 0.0 END) * 4.0)
                          * 0.3)) * 1000000) AS BIGINT) AS ppm
          FROM members m JOIN q USING (doc_id)),
        keepers AS (
          SELECT cluster_id, doc_id AS keep_id FROM (
            SELECT cluster_id, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY cluster_id
                                      ORDER BY ppm DESC, doc_id) AS rk
            FROM scored) WHERE rk = 1),
        losers AS (
          SELECT s.doc_id FROM scored s JOIN keepers USING (cluster_id)
          WHERE s.doc_id <> keep_id)
        SELECT doc_id, lang, source FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    """


def _quality_rules_oracle() -> str:
    """quality_rules oracle: same integer-compared thresholds as
    ``db_spark.llm.text.quality_rules`` defaults (10..100000 words,
    avg word length 3.0..10.0 via x10 fixed point, symbol ratio <=
    100 permille, >= 80% alpha words, >= 2 en-stopword hits)."""
    from db_spark.llm.text import STOPWORDS

    sw = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
        WITH base AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'),
                             w -> length(w) > 0) AS w,
                 length(regexp_replace(text, '[a-zA-Z0-9 \\t\\n\\x0B\\f\\r]', '', 'g')) AS np,
                 length(text) AS nc,
                 len(list_filter({_TOKS}, t -> t IN ({sw}))) AS swh
          FROM (SELECT doc_id, COALESCE(text, '') AS text FROM documents)
        ),
        m AS (
          SELECT doc_id,
                 len(w) AS nw,
                 COALESCE(list_sum(list_transform(w, x -> length(x))), 0) AS wlen,
                 len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS na,
                 np, nc, swh
          FROM base
        )
        SELECT doc_id,
               CAST(nw AS BIGINT) AS n_words,
               round(CASE WHEN nw > 0 THEN wlen::DOUBLE / nw::DOUBLE
                          ELSE 0.0 END, 6) AS avg_word_len,
               round(CASE WHEN nc > 0 THEN np::DOUBLE / nc::DOUBLE
                          ELSE 0.0 END, 6) AS symbol_ratio,
               CAST(swh AS BIGINT) AS stopword_hits,
               (nw >= 10 AND nw <= 100000) AS r_word_count,
               (nw > 0 AND wlen * 10 >= nw * 30 AND wlen * 10 <= nw * 100)
                   AS r_avg_word_len,
               (nc > 0 AND np * 1000 <= nc * 100) AS r_symbol_ratio,
               (nw > 0 AND na * 100 >= nw * 80) AS r_alpha_words,
               (swh >= 2) AS r_stopwords,
               ((nw >= 10 AND nw <= 100000)
                AND (nw > 0 AND wlen * 10 >= nw * 30 AND wlen * 10 <= nw * 100)
                AND (nc > 0 AND np * 1000 <= nc * 100)
                AND (nw > 0 AND na * 100 >= nw * 80)
                AND (swh >= 2)) AS keep
        FROM m
    """


# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_pricing_summary(spark, "/root/testdata/sf0.001")


def _driver_checked_rounds() -> dict[str, int]:
    """Last round in which each registry key received a driver
    CORRECTNESS row, read from the committed CORRECTNESS_r*.json files
    next to this module. Keys absent from every file have never been
    driver-checked."""
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        match = re.search(r"r(\d+)", os.path.basename(path))
        if match is None:
            continue
        rnd = int(match.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for key, rec in rows.items():
            # Only a SUCCESSFUL row counts as "driver-checked": a key
            # whose row recorded a failure (err, hash mismatch, row
            # mismatch) must rotate back into the window, not out of it.
            # Rows-only checks (no oracle_sql) carry no hash_match and
            # count on rows_match alone.
            if not isinstance(rec, dict) or rec.get("err") is not None:
                continue
            ok = rec.get("hash_match")
            if ok is None:
                ok = rec.get("rows_match")
            if not ok:
                continue
            last[key] = max(last.get(key, 0), rnd)
    return last


# Keys whose engine or oracle semantics changed AFTER their last driver
# row (making that row evidence for the old form): list them here to
# force them back into the 50-query window as if never checked. Clear
# an entry once the next CORRECTNESS file carries its fresh row.
_FORCE_RECHECK: frozenset[str] = frozenset({
    # The MVCC read and compaction paths and the matview state plumbing
    # were folded into one resolution core (visibility, newest-wins and
    # the segment merge in db_spark/table.py); plans are unchanged, but
    # the driver is ground truth — fresh rows for every key on that code.
    "mvcc_vacuum",
    "mvcc_evolve",
    "mvcc_snapshot",
    "mvcc_history",
    "mvcc_cdc",
    "mvcc_delete_where",
    "mvcc_multi_tx",
    "matview_incremental",
    "matview_join",
    # Rewritten after the r13 sweep (one spread gate, one basket-pair
    # enumerator, sketch call sites that gained a spread); their last
    # driver rows (r9-r11) predate the rewrite.
    "copurchase_pairs",
    "triangle_count",
    "assoc_rules",
    "stats_agg",
    "bloom_prefilter",
    "cm_join_size",
    "cm_heavy_hitters",
    "kmv_distinct",
    "kmv_merge",
    "kmv_set_ops",
    "hll_distinct",
    "hll_merge",
    "hll_rolling",
    "hll_set_ops",
    # The similarity tier's search stages were folded into one helper
    # each (rank tail, cosine, IVF probes/scoring/model, ADC search,
    # index meta; db_spark/llm/similarity.py). Normalized plans and
    # rows are unchanged at sf0.01, but each key on that code still
    # needs a fresh correctness row.
    "centroid_outliers",
    "cosine_topk",
    "mmr_rerank",
    "ivf_topk",
    "ivf_recall",
    "ivf_rbo",
    "ivf_index_topk",
    "hybrid_rrf",
    "kcenter",
    "kcenter_batched",
    "ivf_kmeans_topk",
    "embedding_near_dup",
    "dbscan",
    "semantic_dedup",
    "embedding_decontaminate",
    "pca_project",
    "pca_topk",
    "pq_topk",
    "pq_index_topk",
    "ivfpq_index_topk",
    "l2_topk",
    "ivfpq_recall",
    "pq_sampled",
    "pq_subspace_var",
    "ivfpq_topk",
})


# Canonical registry, in addition order (r1 core -> r6 tiers). The
# driver's correctness gate checks the FIRST 50 keys of queries();
# ordering is computed, not hand-maintained: never-driver-checked keys
# first (in addition order), then stalest-round first. Every key maps
# to the q_<key> callable in this module.
_REGISTRY_KEYS: list[str] = [
    "cm_heavy_hitters",
    "matview_incremental",
    "hist_quantiles",
    "bloom_prefilter",
    "event_funnel",
    "cohort_retention",
    "ivf_index_topk",
    "event_funnel_windowed",
    "gapfill_locf",
    "fuzzy_join",
    "profile_table",
    "copurchase_pairs",
    "triangle_count",
    "communities",
    "salted_join_agg",
    "hll_distinct",
    "hll_merge",
    "sessionize",
    "scd2",
    "ewma",
    "pagerank",
    "gapfill_interp",
    "mad_outliers",
    "chi2_independence",
    "mvcc_history",
    "hll_rolling",
    "kmv_set_ops",
    "token_budget",
    "matview_join",
    "bfs_hops",
    "psi_drift",
    "keywords_tfidf",
    "centroid_outliers",
    "skyline",
    "importance_sample",
    "skipgram_counts",
    "cm_join_size",
    "seasonal_decompose",
    "dq_report",
    "hashed_features",
    "interval_join",
    "seasonal_anomalies",
    "winsorize",
    "twap",
    "hll_set_ops",
    "curate_corpus",
    "weighted_sample",
    "jaccard_join",
    "mmr_rerank",
    "mvcc_vacuum",
    "mvcc_evolve",
    "anti_join",
    "except",
    "dedup_keep_best",
    "assoc_rules",
    "kcore",
    "bigram_surprisal",
    "holt_forecast",
    "linreg",
    "cusum",
    "lsh_probe",
    "kcenter",
    "hybrid_rrf",
    "attribution",
    "transitions",
    "ab_test",
    "survival",
    "weighted_paths",
    "funnel_latency",
    "entity_resolution",
    "benford",
    "holt_backtest",
    "rolling_corr",
    "ppr",
    "skew_profile",
    "conversion_ci",
    "top_paths",
    "ivf_rbo",
    "dbscan",
    "bootstrap",
    "rank_funcs",
    "datetime_funcs",
    "string_funcs",
    "json_agg",
    "mode_by_group",
    "market_share",
    "top_supplier",
    "min_cost_supplier",
    "important_stock",
    "excess_supply",
    "forecast_revenue",
    "price_qty_corr",
    "zscore_outliers",
    "fk_integrity",
    "range_frame_agg",
    "exact_percentiles",
    "entropy_profile",
    "mvcc_snapshot",
    "mvcc_cdc",
    "mvcc_delete_where",
    "ivf_topk",
    "ivf_recall",
    "ivf_kmeans_topk",
    "media_features",
    "condition_dsl",
    "pricing_summary",
    "count_when",
    "priority_shipments",
    "explode_tokens",
    "window_funcs",
    "window_frames",
    "topn_per_group",
    "asof_join",
    "range_join",
    "rollup",
    "cube",
    "grouping_sets",
    "tumbling_window",
    "sliding_window",
    "session_window",
    "hypertable_rollup",
    "text_stats",
    "normalize_text",
    "dedup_exact",
    "ngram_jaccard",
    "minhash_signature",
    "minhash_lsh_pairs",
    "dedup_clusters",
    "dedup_corpus",
    "simhash",
    "simhash_near_dup",
    "cosine_topk",
    "embedding_near_dup",
    "deterministic_split",
    "corpus_stats",
    "chunk_docs",
    "embedding_quantize",
    "repetition_stats",
    "unigram_surprisal",
    "pack_sequences",
    "decontaminate",
    "stratified_sample",
    "stratified_fixed",
    "bm25_topk",
    "span_dup",
    "span_dedup",
    "collocations",
    "temperature_sample",
    "domain_cap",
    "redact_pii",
    "quality_rules",
    "kmv_distinct",
    "kmv_merge",
    "mvcc_multi_tx",
    "table_scan",
    "filter",
    "global_agg",
    "hash_match",
    "multi_join",
    "merge_intervals",
    "projection",
    "take",
    "skip",
    "nested_loop",
    "sort",
    "distinct",
    "concat",
    "constant_scan",
    "semi_join",
    "outer_join",
    "shipping_priority",
    "local_supplier_volume",
    "returned_items",
    "late_shipment_priority",
    "promo_revenue",
    "large_orders",
    "volume_shipping",
    "product_profit",
    "customer_distribution",
    "supplier_part_count",
    "small_qty_revenue",
    "disjunctive_revenue",
    "late_only_supplier",
    "idle_rich_customers",
    "intersect",
    "full_outer",
    "theta_join",
    "json_funcs",
    "scalar_funcs",
    "pivot",
    "unpivot",
    "scalar_subquery",
    "correlated_subquery",
    "regex_funcs",
    "stats_agg",
    "count_distinct",
    "array_funcs",
    "map_struct_funcs",
    # r7 additions
    "kcenter_batched",
    "leakage_split",
    "shard_plan",
    # r8 additions: grouped near-dup output (the 100 TB consumption form)
    "simhash_grouped",
    "jaccard_grouped",
    # r8: real y4m video decode proven against an analytic oracle
    "video_features",
    "winnow_fingerprints",
    "winnow_overlap",
    "semantic_dedup",
    # r10 additions (the three json_agg bisection diagnostics were
    # retired in r11 after conclusively localizing the hash-fail to the
    # driver's DECIMAL canonicalization; json_agg now carries the
    # proven-green lanes encoding itself)
    "winnow_spans",
    "mjpeg_features",
    "classifier_score",
    "pca_project",
    # r11 additions: NB training (closes the model-based filtering
    # loop), top-k PCA via integer deflation, span-level dedup removal
    "nb_train",
    "pca_topk",
    "winnow_cut",
    "pq_topk",
    # r12 additions: IVF-PQ (coarse cells + residual codes — the
    # billion-scale ANN composition), incremental winnow probe against
    # a persisted fingerprint index, sampled-training PQ, composed
    # curation pipeline v2
    "ivfpq_topk",
    "winnow_probe",
    "pq_sampled",
    "curate_corpus_v2",
    "pq_subspace_var",
    "pq_index_topk",
    "ivfpq_index_topk",
    "embedding_decontaminate",
    "l2_topk",
    "ivfpq_recall",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Full query registry, ordered for the driver's 50-query
    correctness window: never-driver-checked keys first, then
    stalest-driver-row first (ties broken by addition order in
    _REGISTRY_KEYS). The rotation is derived from the committed
    CORRECTNESS_r*.json files, so draining the backlog requires no
    manual reordering. Every key below the window is still validated
    each round by scripts/check_oracle.py (see LOCAL_ORACLE_r*.txt)."""
    last = _driver_checked_rounds()
    pos = {key: i for i, key in enumerate(_REGISTRY_KEYS)}
    ordered = sorted(
        _REGISTRY_KEYS,
        key=lambda k: (0 if k in _FORCE_RECHECK else last.get(k, 0), pos[k]),
    )
    return {key: globals()["q_" + key] for key in ordered}


def oracle_sql() -> dict[str, str]:
    d = {
        "table_scan": "SELECT * FROM region",
        "filter": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_discount
            FROM lineitem
            WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24.0
        """,
        "condition_dsl": """
            SELECT p_partkey, p_name, p_brand, p_size
            FROM part
            WHERE p_size >= 10 AND p_type LIKE '%STANDARD%'
              AND NOT (p_brand = 'Brand#11')
        """,
        "projection": """
            SELECT o_orderkey,
                   upper(o_orderpriority) AS prio,
                   CAST(year(o_orderdate) AS BIGINT) AS order_year,
                   o_totalprice * 0.1 AS commission
            FROM orders
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
                   CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
                   CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_disc_price,
                   CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_charge,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "global_agg": """
            SELECT COUNT(*) AS n_rows,
                   MAX(l_quantity) AS max_qty,
                   MIN(l_shipdate) AS first_ship
            FROM lineitem
        """,
        "count_when": """
            SELECT COUNT(*) AS n,
                   CAST(SUM(CASE WHEN NOT isnan("value") AND abs("value") >= 0.000001
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_value_truthy
            FROM events
        """,
        "take": """
            SELECT o_orderkey, o_totalprice
            FROM orders
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 10
        """,
        "skip": """
            SELECT o_orderkey, o_custkey
            FROM orders
            ORDER BY o_orderkey
            LIMIT 10 OFFSET 100
        """,
        "nested_loop": """
            SELECT n_nationkey, n_name, r_name
            FROM nation JOIN region ON n_regionkey = r_regionkey
        """,
        "hash_match": """
            SELECT c_mktsegment,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
                   COUNT(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "sort": """
            SELECT c_custkey, c_acctbal
            FROM customer
            ORDER BY c_acctbal DESC, c_custkey
            LIMIT 50
        """,
        "distinct": "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
        "concat": """
            SELECT c_custkey AS key, c_name AS name FROM customer
            UNION ALL
            SELECT s_suppkey AS key, s_name AS name FROM supplier
        """,
        "constant_scan": """
            SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'a'),
                                  (CAST(2 AS BIGINT), 'b'),
                                  (CAST(3 AS BIGINT), 'c')) AS t(id, tag)
        """,
        "semi_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderpriority = '1-URGENT')
        """,
        "outer_join": """
            SELECT n_name, COUNT(s_suppkey) AS n_suppliers
            FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
            GROUP BY n_name
        """,
        "multi_join": """
            SELECT r_name,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
                   COUNT(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "shipping_priority": """
            SELECT l_orderkey, o_orderdate,
                   CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                                 AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate > TIMESTAMP '1998-01-01'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10
        """,
        "late_shipment_priority": """
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate < TIMESTAMP '1997-07-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_shipdate > o_orderdate)
            GROUP BY o_orderpriority
        """,
        "promo_revenue": """
            WITH sums AS (
              SELECT
                CAST(SUM(CAST(round(
                    (CASE WHEN p_type LIKE 'PROMO%'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0.0 END) * 10000) AS BIGINT)) AS DOUBLE)
                  / 10000.0 AS promo_rev,
                CAST(SUM(CAST(round(
                    l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
                  AS DOUBLE) / 10000.0 AS total_rev
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE l_shipdate >= TIMESTAMP '1997-03-01'
                AND l_shipdate < TIMESTAMP '1997-04-01'
            )
            SELECT 100.0 * promo_rev / total_rev AS promo_revenue FROM sums
        """,
        "large_orders": """
            WITH big AS (
              SELECT l_orderkey,
                     CAST(SUM(CAST(round(l_quantity * 10000) AS BIGINT))
                          AS DOUBLE) / 10000.0 AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING CAST(SUM(CAST(round(l_quantity * 10000) AS BIGINT))
                          AS DOUBLE) / 10000.0 > 250.0
            )
            SELECT c_custkey, c_name, o_orderkey, o_totalprice, total_qty
            FROM orders
            JOIN big ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 20
        """,
        "volume_shipping": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS BIGINT) AS l_year,
                   CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                                 AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
            GROUP BY 1, 2, 3
        """,
        "product_profit": """
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                                 AS BIGINT)) AS DOUBLE) / 10000.0 AS profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            WHERE p_name LIKE '%gear%'
            GROUP BY 1, 2
        """,
        "priority_shipments": """
            SELECT l_linestatus,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            GROUP BY l_linestatus
        """,
        "customer_distribution": """
            SELECT c_count, COUNT(*) AS custdist
            FROM (
              SELECT c_custkey, COUNT(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders ON o_custkey = c_custkey
              GROUP BY c_custkey
            )
            GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """,
        "supplier_part_count": """
            SELECT p_brand, p_type, p_size,
                   COUNT(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#3' AND p_type NOT LIKE 'PROMO%'
            GROUP BY 1, 2, 3
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
            LIMIT 20
        """,
        "small_qty_revenue": """
            WITH avg_qty AS (
              SELECT l_partkey AS ap_partkey,
                     round(AVG(l_quantity), 6) AS avg_qty
              FROM lineitem GROUP BY 1
            )
            SELECT round(CAST(SUM(CAST(round(l_extendedprice * 10000) AS BIGINT))
                              AS DOUBLE) / 10000.0 / 7.0, 4) AS avg_yearly
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN avg_qty ON l_partkey = ap_partkey
            WHERE p_brand = 'Brand#5' AND l_quantity < 0.2 * avg_qty
        """,
        "disjunctive_revenue": """
            SELECT CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                                 AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 21)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
                   AND l_quantity BETWEEN 10 AND 30)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
                   AND l_quantity BETWEEN 20 AND 40)
        """,
        "late_only_supplier": """
            WITH lo AS (
              SELECT l_orderkey, l_suppkey,
                     l_shipdate > o_orderdate + INTERVAL 60 DAY AS is_late
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            ),
            per_order AS (
              SELECT l_orderkey AS po_orderkey,
                     COUNT(DISTINCT l_suppkey) AS n_supp,
                     COUNT(DISTINCT CASE WHEN is_late THEN l_suppkey END)
                       AS n_late_supp
              FROM lo GROUP BY 1
            )
            SELECT s_name, COUNT(DISTINCT l_orderkey) AS numwait
            FROM lo
            JOIN per_order ON l_orderkey = po_orderkey
                          AND n_supp > 1 AND n_late_supp = 1
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE is_late
            GROUP BY s_name
            ORDER BY numwait DESC, s_name
            LIMIT 20
        """,
        "idle_rich_customers": """
            SELECT c_nationkey AS nationkey, COUNT(*) AS numcust,
                   CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT))
                        AS DOUBLE) / 100.0 AS totacctbal
            FROM customer
            WHERE c_acctbal > (SELECT round(AVG(c_acctbal), 6) FROM customer
                               WHERE c_acctbal > 0.0)
              AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                              AND o_orderdate >= TIMESTAMP '2001-01-01')
            GROUP BY c_nationkey
        """,
        "local_supplier_volume": """
            SELECT n_name,
                   CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                                 AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY n_name
        """,
        "returned_items": """
            SELECT c_custkey, c_name,
                   CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                                 AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE l_returnflag = 'R'
            GROUP BY c_custkey, c_name
            ORDER BY revenue DESC, c_custkey
            LIMIT 20
        """,
        "intersect": """
            SELECT c_nationkey AS nationkey FROM customer
            INTERSECT
            SELECT s_nationkey FROM supplier
        """,
        "except": """
            SELECT DISTINCT c_nationkey AS nationkey FROM customer
            EXCEPT
            SELECT DISTINCT n_nationkey FROM nation WHERE n_regionkey = 0
        """,
        "full_outer": """
            SELECT o_orderstatus, n, status, label
            FROM (SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1) agg
            FULL OUTER JOIN (VALUES ('F', 'finished'), ('O', 'open'),
                                    ('P', 'pending'), ('X', 'unknown'))
                 AS dim(status, label)
              ON o_orderstatus = status
        """,
        "theta_join": """
            SELECT a.n_name AS name1, b.n_name AS name2,
                   CAST(a.n_regionkey AS INT) AS regionkey
            FROM nation a JOIN nation b
              ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
        """,
        "merge_intervals": """
            WITH iv AS (
              SELECT o_custkey, o_orderdate AS lo,
                     o_orderdate + INTERVAL 30 DAY AS hi
              FROM orders
            ),
            flagged AS (
              SELECT o_custkey, lo, hi,
                     CASE WHEN max(hi) OVER (PARTITION BY o_custkey
                              ORDER BY lo, hi
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                              IS NULL
                          OR lo > max(hi) OVER (PARTITION BY o_custkey
                              ORDER BY lo, hi
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                          THEN 1 ELSE 0 END AS new_s
              FROM iv
            ),
            grouped AS (
              SELECT o_custkey, lo, hi,
                     SUM(new_s) OVER (PARTITION BY o_custkey ORDER BY lo, hi
                                      ROWS UNBOUNDED PRECEDING) AS gid
              FROM flagged
            )
            SELECT o_custkey, MIN(lo) AS lo, MAX(hi) AS hi, COUNT(*) AS n_merged
            FROM grouped GROUP BY o_custkey, gid
        """,
        "json_funcs": """
            SELECT event_id,
                   CASE WHEN json_valid(props) THEN
                     CASE WHEN regexp_full_match(
                              coalesce(json_extract_string(props, '$.k'),
                                       ''),
                              '-?[0-9]{1,18}')
                          THEN CAST(json_extract_string(props, '$.k')
                                    AS BIGINT) END
                   END AS k
            FROM events
        """,
        "scalar_funcs": """
            SELECT o_orderkey,
                   'P-' || substr(o_orderpriority, 1, 1) AS prio_code,
                   CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
                   CAST(year(o_orderdate) AS BIGINT) AS yr,
                   CAST(month(o_orderdate) AS BIGINT) AS mo,
                   CAST(day(o_orderdate) AS BIGINT) AS dom,
                   CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
                   round(sqrt(abs(o_totalprice)), 6) AS sqrt_price,
                   round(ln(o_totalprice + 1.0), 6) AS log_price,
                   o_orderkey % 7 AS mod7
            FROM orders
        """,
        "pivot": """
            SELECT o_orderstatus,
                   COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS "1-URGENT",
                   COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS "2-HIGH",
                   COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
                   COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
                   COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS "5-LOW"
            FROM orders GROUP BY o_orderstatus
        """,
        "unpivot": """
            SELECT p_partkey, 'retailprice' AS metric,
                   CAST(p_retailprice AS DOUBLE) AS value FROM part
            UNION ALL
            SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
        """,
        "scalar_subquery": """
            WITH s AS (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS total,
                              COUNT(*) AS n
                       FROM orders)
            SELECT o_orderkey, o_totalprice
            FROM orders, s
            WHERE CAST(o_totalprice AS DECIMAL(12,2)) * n > total
        """,
        "correlated_subquery": """
            SELECT l_orderkey, l_partkey, l_linenumber, l_quantity
            FROM lineitem l
            WHERE l_quantity > 1.3 * (SELECT AVG(l2.l_quantity)
                                      FROM lineitem l2
                                      WHERE l2.l_partkey = l.l_partkey)
        """,
        "regex_funcs": """
            SELECT doc_id,
                   regexp_extract(text, '([A-Za-z]+)', 1) AS first_word,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)
                       AS n_alpha_tokens,
                   regexp_replace(text, '[0-9]+', '#', 'g') AS text_nodigits
            FROM documents
        """,
        "stats_agg": """
            WITH g AS (
              SELECT l_returnflag,
                     COUNT(*) AS n,
                     round(stddev_samp(l_quantity), 6) AS stddev_qty,
                     round(var_samp(l_quantity), 6) AS var_qty,
                     round(median(l_quantity), 6) AS median_qty,
                     round(quantile_cont(l_quantity, 0.95), 6) AS p95_qty,
                     SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
                     SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(18,2))) AS syy,
                     -- corr from exact integer moments (NOT corr()):
                     -- Spark's builtin THROWS under ANSI on a zero-
                     -- variance group where DuckDB returns NULL; the
                     -- moment form NULLs identically on both engines
                     SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS cq,
                     SUM(CAST(round(l_extendedprice * 10) AS BIGINT)) AS cp,
                     SUM(CAST(round(l_quantity * 100) AS BIGINT)
                         * CAST(round(l_quantity * 100) AS BIGINT)) AS cqq,
                     SUM(CAST(round(l_extendedprice * 10) AS BIGINT)
                         * CAST(round(l_extendedprice * 10) AS BIGINT)) AS cpp,
                     SUM(CAST(round(l_quantity * 100) AS BIGINT)
                         * CAST(round(l_extendedprice * 10) AS BIGINT)) AS cqp
              FROM lineitem GROUP BY l_returnflag
            )
            SELECT l_returnflag, n, stddev_qty, var_qty,
                   round((CAST(n AS DOUBLE) * cqp
                          - CAST(cq AS DOUBLE) * cp)
                         / NULLIF(sqrt(greatest(CAST(n AS DOUBLE) * cqq
                                    - CAST(cq AS DOUBLE) * cq, 0))
                                  * sqrt(greatest(CAST(n AS DOUBLE) * cpp
                                    - CAST(cp AS DOUBLE) * cp, 0)), 0),
                         6) AS corr_qty_price,
                   median_qty, p95_qty,
                   -- CASE, not NULLIF+greatest: DuckDB greatest()
                   -- IGNORES NULLs, so greatest(NULL, 0) would turn
                   -- the n=1 NULL into 0
                   CASE WHEN n > 1 THEN
                     round(sqrt(greatest((CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)
                              / (n - 1), 0)), 4) END AS stddev_price
            FROM g
""",
        "count_distinct": """
            SELECT o_orderstatus,
                   COUNT(DISTINCT o_custkey) AS n_cust,
                   COUNT(*) AS n_orders
            FROM orders GROUP BY o_orderstatus
        """,
        "array_funcs": """
            WITH e AS (SELECT vec_id,
                              list_transform(embedding, x -> x::DOUBLE) AS v
                       FROM embeddings)
            SELECT vec_id,
                   CAST(len(v) AS BIGINT) AS n_dims,
                   round(v[1], 6) AS first_val,
                   round(list_sum(v), 4) AS vec_sum,
                   round(list_max(v), 6) AS vmax,
                   round(list_min(v), 6) AS vmin,
                   round(sqrt(list_sum(list_transform(v, x -> x * x))), 4) AS l2norm,
                   CAST(len(list_filter(v, x -> x > 0)) AS BIGINT) AS n_pos
            FROM e
        """,
        "map_struct_funcs": """
            SELECT o_orderkey, o_orderstatus AS status, o_orderpriority AS prio,
                   CAST(2 AS BIGINT) AS n_keys
            FROM orders
        """,
        "explode_tokens": """
            SELECT token, COUNT(*) AS n
            FROM (SELECT unnest(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z'']+')) AS token
                  FROM documents)
            GROUP BY token
            ORDER BY n DESC, token
            LIMIT 50
        """,
        "window_funcs": """
            SELECT o_orderkey, o_custkey,
                   CAST(row_number() OVER w AS BIGINT) AS rn,
                   CAST(rank() OVER w AS BIGINT) AS rnk,
                   CAST(dense_rank() OVER w AS BIGINT) AS drnk,
                   lag(o_totalprice) OVER w AS prev_price,
                   lead(o_totalprice) OVER w AS next_price,
                   round(SUM(o_totalprice) OVER w, 2) AS running_total
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """,
        "window_frames": """
            SELECT o_orderkey, o_custkey,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
                     PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
                     / 100.0 AS moving3_sum,
                   CAST(COUNT(*) OVER (
                     PARTITION BY o_custkey ORDER BY o_orderdate
                     RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS orders_30d,
                   first_value(o_orderkey) OVER (
                     PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS first_orderkey
            FROM orders
        """,
        "topn_per_group": """
            SELECT p_brand, p_partkey, p_retailprice FROM (
              SELECT p_brand, p_partkey, p_retailprice,
                     row_number() OVER (PARTITION BY p_brand
                                        ORDER BY p_retailprice DESC, p_partkey) AS rn
              FROM part
            ) WHERE rn <= 3
        """,
        "asof_join": """
            SELECT p.event_id, p.user_id, p.ts, p.value,
                   c.value AS click_value, c.ts AS click_ts
            FROM (SELECT event_id, user_id, ts, value FROM events
                  WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                            WHERE event_type = 'click') c
            ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
        "range_join": """
            SELECT bucket_id, COUNT(*) AS n
            FROM lineitem
            JOIN (VALUES (CAST(1 AS BIGINT), 0.5, 10.4),
                         (CAST(2 AS BIGINT), 10.5, 20.4),
                         (CAST(3 AS BIGINT), 20.5, 30.4),
                         (CAST(4 AS BIGINT), 30.5, 40.4),
                         (CAST(5 AS BIGINT), 40.5, 50.4)) AS r(bucket_id, lo, hi)
              ON l_quantity BETWEEN lo AND hi
            GROUP BY bucket_id
        """,
        "rollup": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
                   COUNT(*) AS n
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "cube": """
            SELECT o_orderstatus, o_orderpriority,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
                   COUNT(*) AS n
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "grouping_sets": """
            SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """,
        "tumbling_window": """
            SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                   event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(round("value" * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS total_value
            FROM events
            GROUP BY 1, 2
        """,
        "sliding_window": """
            SELECT time_bucket(INTERVAL '15 minutes', ts)
                     - (i * INTERVAL '15 minutes') AS window_start,
                   event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(round("value" * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS total_value
            FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) AS off(i)
            GROUP BY 1, 2
        """,
        "mvcc_vacuum": """
            SELECT c_custkey AS key, c_name,
                   CASE WHEN c_custkey % 10 = 0
                        THEN CAST(c_acctbal AS DOUBLE) + 100.0
                        ELSE CAST(c_acctbal AS DOUBLE) END AS acctbal
            FROM customer
            WHERE c_custkey % 7 <> 0
            UNION ALL
            SELECT c_custkey + 1000000 AS key, c_name,
                   CAST(c_acctbal AS DOUBLE) AS acctbal
            FROM customer
            WHERE c_custkey % 13 = 0
        """,
        "mvcc_evolve": """
            SELECT c_custkey AS key, c_name,
                   CAST(c_acctbal AS DOUBLE) AS acctbal,
                   CASE WHEN c_custkey % 5 = 0 THEN c_mktsegment
                        END AS segment
            FROM customer
        """,
        "mvcc_snapshot": """
            SELECT c_custkey AS key, c_name,
                   CASE WHEN c_custkey % 10 = 0
                        THEN CAST(c_acctbal AS DOUBLE) + 100.0
                        ELSE CAST(c_acctbal AS DOUBLE) END AS acctbal
            FROM customer
            WHERE c_custkey % 7 <> 0
            UNION ALL
            SELECT c_custkey + 1000000 AS key, c_name,
                   CAST(c_acctbal AS DOUBLE) AS acctbal
            FROM customer
            WHERE c_custkey % 13 = 0
        """,
        # expected version chain from the deterministic _mvcc_build
        # sequence: batches are base=0, update=1 (commit=2), delete=3
        # (commit=4), shadow insert=5 (commit=6).
        "mvcc_history": """
            SELECT c_custkey AS key, c_name,
                   CAST(c_acctbal AS DOUBLE) AS acctbal,
                   'U' AS _kind, 1 AS _version,
                   CAST(0 AS BIGINT) AS _from_pos,
                   CASE WHEN c_custkey % 10 = 0 THEN CAST(1 AS BIGINT)
                        WHEN c_custkey % 7 = 0 THEN CAST(3 AS BIGINT)
                        END AS _to_pos,
                   (c_custkey % 10 <> 0 AND c_custkey % 7 <> 0)
                       AS is_current
            FROM customer
            UNION ALL
            SELECT c_custkey AS key, c_name,
                   CAST(c_acctbal AS DOUBLE) + 100.0 AS acctbal,
                   'U' AS _kind, 2 AS _version,
                   CAST(1 AS BIGINT) AS _from_pos,
                   CASE WHEN c_custkey % 7 = 0 THEN CAST(3 AS BIGINT)
                        END AS _to_pos,
                   (c_custkey % 7 <> 0) AS is_current
            FROM customer WHERE c_custkey % 10 = 0
            UNION ALL
            SELECT c_custkey AS key, CAST(NULL AS VARCHAR) AS c_name,
                   CAST(NULL AS DOUBLE) AS acctbal,
                   'D' AS _kind,
                   CASE WHEN c_custkey % 10 = 0 THEN 3 ELSE 2 END
                       AS _version,
                   CAST(3 AS BIGINT) AS _from_pos,
                   CAST(NULL AS BIGINT) AS _to_pos,
                   FALSE AS is_current
            FROM customer WHERE c_custkey % 7 = 0
            UNION ALL
            SELECT c_custkey + 1000000 AS key, c_name,
                   CAST(c_acctbal AS DOUBLE) AS acctbal,
                   'U' AS _kind, 1 AS _version,
                   CAST(5 AS BIGINT) AS _from_pos,
                   CAST(NULL AS BIGINT) AS _to_pos,
                   TRUE AS is_current
            FROM customer WHERE c_custkey % 13 = 0
        """,
        "mvcc_cdc": """
            SELECT c_custkey AS key, 'U' AS _change, c_name,
                   CAST(c_acctbal AS DOUBLE) + 100.0 AS acctbal
            FROM customer
            WHERE c_custkey % 10 = 0 AND c_custkey % 7 <> 0
            UNION ALL
            SELECT c_custkey AS key, 'D' AS _change,
                   CAST(NULL AS VARCHAR) AS c_name,
                   CAST(NULL AS DOUBLE) AS acctbal
            FROM customer
            WHERE c_custkey % 7 = 0
            UNION ALL
            SELECT c_custkey + 1000000 AS key, 'I' AS _change, c_name,
                   CAST(c_acctbal AS DOUBLE) AS acctbal
            FROM customer
            WHERE c_custkey % 13 = 0
        """,
        "mvcc_delete_where": """
            SELECT c_custkey AS key, c_name, CAST(c_acctbal AS DOUBLE) AS acctbal
            FROM customer
            WHERE CAST(c_acctbal AS DOUBLE) >= 0.0
        """,
        "hypertable_rollup": """
            SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                   event_type,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(round("value" * 10000) AS BIGINT)) AS DOUBLE)
                       / 10000.0 AS total,
                   min("value") AS vmin,
                   max("value") AS vmax,
                   -- exact integer HALF-AWAY 6-dp mean of the scaled
                   -- sum (float-quotient round() splits on 5e-7 ties)
                   CAST(sign(SUM(CAST(round("value" * 10000) AS BIGINT)))
                        * ((200 * abs(SUM(CAST(round("value" * 10000) AS BIGINT)))
                            + COUNT(*)) // (2 * COUNT(*))) AS DOUBLE)
                       / 1e6 AS vavg
            FROM events
            GROUP BY 1, 2
        """,
        "session_window": """
            WITH flags AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                               IS NULL
                          OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                               > INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS new_s
              FROM events
            ),
            sess AS (
              SELECT user_id, ts,
                     SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
              FROM flags
            )
            SELECT user_id,
                   MIN(ts) AS session_start,
                   MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                   COUNT(*) AS n
            FROM sess GROUP BY user_id, sid
        """,
        "normalize_text": _normalize_oracle(),
        "text_stats": _text_stats_oracle(),
        "corpus_stats": f"""
            WITH ts AS ({_text_stats_oracle()})
            SELECT lang_pred,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   round((CAST(SUM(CAST(round(quality * 1000000) AS BIGINT))
                               AS DOUBLE) / 1000000.0) / COUNT(*), 6)
                       AS avg_quality
            FROM ts GROUP BY lang_pred
        """,
        "dedup_exact": """
            SELECT min(doc_id) AS doc_id,
                   md5(translate(trim(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fingerprint
            FROM documents
            GROUP BY 2
        """,
        "ngram_jaccard": f"""
            WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            {_guarded_shingles(_MAX_SHINGLE_DF)},
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
              FROM sh a JOIN sh b USING (shingle)
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   ni::DOUBLE / (sa.n + sb.n - ni)::DOUBLE AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE ni::DOUBLE / (sa.n + sb.n - ni)::DOUBLE >= 0.5
        """,
        "jaccard_join": f"""
            WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            sh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM tok),
            sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT id_a, id_b,
                   round(i::DOUBLE / (sa.n + sb.n - i), 6) AS jaccard
            FROM inter
            JOIN sz sa ON sa.doc_id = id_a
            JOIN sz sb ON sb.doc_id = id_b
            WHERE i * 1000000 >= 500000 * (sa.n + sb.n - i)
        """,
        # grouped form: one representative per distinct sorted shingle
        # set; brute-force Jaccard among reps + group cardinalities.
        "jaccard_grouped": f"""
            WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            sh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM tok),
            key AS (
              SELECT doc_id, list_sort(list(shingle)) AS k
              FROM sh GROUP BY doc_id
            ),
            grp AS (
              SELECT k, MIN(doc_id) AS rep,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM key GROUP BY k
            ),
            selfrows AS (
              SELECT rep AS rep_a, rep AS rep_b,
                     CAST(1.0 AS DOUBLE) AS jaccard,
                     cnt AS count_a, cnt AS count_b
              FROM grp WHERE cnt >= 2
            ),
            rsh AS (
              SELECT sh.doc_id, sh.shingle
              FROM sh JOIN grp ON sh.doc_id = grp.rep
            ),
            sz AS (SELECT doc_id, count(*) AS n FROM rsh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
              FROM rsh a JOIN rsh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            crossp AS (
              SELECT id_a AS rep_a, id_b AS rep_b,
                     round(i::DOUBLE / (sa.n + sb.n - i), 6) AS jaccard,
                     ga.cnt AS count_a, gb.cnt AS count_b
              FROM inter
              JOIN sz sa ON sa.doc_id = id_a
              JOIN sz sb ON sb.doc_id = id_b
              JOIN grp ga ON ga.rep = id_a
              JOIN grp gb ON gb.rep = id_b
              WHERE i * 1000000 >= 500000 * (sa.n + sb.n - i)
            )
            SELECT * FROM selfrows UNION ALL SELECT * FROM crossp
        """,
        "minhash_signature": _minhash_oracle(),
        "minhash_lsh_pairs": _minhash_lsh_oracle(),
        "dedup_clusters": f"""
            WITH RECURSIVE pairs AS MATERIALIZED ({_minhash_lsh_oracle()}),
            edges AS MATERIALIZED (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION
              SELECT id_b, id_a FROM pairs
            ),
            reach(src, dst) AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
            )
            SELECT src AS doc_id,
                   least(src, MIN(dst)) AS cluster_id
            FROM reach GROUP BY src
        """,
        "simhash": _simhash_oracle(),
        "simhash_near_dup": f"""
            WITH sh AS ({_simhash_oracle()})
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
                     AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        """,
        # grouped form: brute force over DISTINCT signatures; self rows
        # carry duplicate-group cardinalities at hamming 0.
        "simhash_grouped": f"""
            WITH sh AS ({_simhash_oracle()}),
            grp AS (
              SELECT simhash, MIN(doc_id) AS rep,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM sh GROUP BY simhash
            ),
            selfrows AS (
              SELECT rep AS rep_a, rep AS rep_b,
                     CAST(0 AS INTEGER) AS hamming,
                     cnt AS count_a, cnt AS count_b
              FROM grp WHERE cnt >= 2
            ),
            crossp AS (
              SELECT a.rep AS rep_a, b.rep AS rep_b,
                     CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
                       AS hamming,
                     a.cnt AS count_a, b.cnt AS count_b
              FROM grp a JOIN grp b ON a.rep < b.rep
              WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
            )
            SELECT * FROM selfrows UNION ALL SELECT * FROM crossp
        """,
        "dedup_corpus": f"""
            WITH RECURSIVE pairs AS MATERIALIZED ({_minhash_lsh_oracle()}),
            edges AS MATERIALIZED (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION
              SELECT id_b, id_a FROM pairs
            ),
            reach(src, dst) AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
            ),
            losers AS (
              SELECT src AS doc_id FROM reach
              GROUP BY src HAVING least(src, MIN(dst)) <> src
            )
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        """,
        "dedup_keep_best": _dedup_keep_best_oracle(),
        "cosine_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
                       WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     (CASE WHEN list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) * list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) > 0 THEN round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) ELSE 0.0 END) AS sim
              FROM embeddings e CROSS JOIN q
            ),
            ranked AS (
              SELECT query_id, vec_id, sim,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, vec_id) AS rank
              FROM scored
            )
            SELECT query_id, vec_id, sim, CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= 10
        """,
        "mmr_rerank": """
            WITH q AS (SELECT vec_id AS query_id, embedding
                       FROM embeddings WHERE vec_id < 3),
            cand AS (
              SELECT query_id, vec_id, sim, embedding FROM (
                SELECT q.query_id, e.vec_id,
                       (CASE WHEN list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) * list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) > 0 THEN round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) ELSE 0.0 END)
                           AS sim,
                       e.embedding,
                       ROW_NUMBER() OVER (PARTITION BY q.query_id
                         ORDER BY (CASE WHEN list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) * list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) > 0 THEN round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) ELSE 0.0 END) DESC, e.vec_id) AS rk
                FROM embeddings e CROSS JOIN q
              ) WHERE rk <= 10),
            s1 AS (
              SELECT query_id, vec_id, sim,
                     round(0.7 * sim - 0.3 * 0.0, 6) AS mmr_score,
                     1 AS mmr_rank, embedding
              FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY round(0.7 * sim - 0.3 * 0.0, 6) DESC, vec_id)
                        AS rk FROM cand) WHERE rk = 1),
            m2 AS (
              SELECT c.query_id, c.vec_id, c.sim, c.embedding,
                     MAX((CASE WHEN list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]) * list_inner_product(s.embedding::DOUBLE[], s.embedding::DOUBLE[]) > 0 THEN round(list_cosine_similarity(c.embedding::DOUBLE[], s.embedding::DOUBLE[]), 6) ELSE 0.0 END)) AS maxdiv
              FROM cand c JOIN s1 s USING (query_id)
              WHERE c.vec_id <> s.vec_id
              GROUP BY 1, 2, 3, 4),
            s2 AS (
              SELECT query_id, vec_id, sim,
                     round(0.7 * sim - 0.3 * maxdiv, 6) AS mmr_score,
                     2 AS mmr_rank, embedding
              FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY round(0.7 * sim - 0.3 * maxdiv, 6) DESC,
                        vec_id) AS rk FROM m2) WHERE rk = 1),
            sel12 AS (SELECT query_id, vec_id, embedding FROM s1
                      UNION ALL
                      SELECT query_id, vec_id, embedding FROM s2),
            m3 AS (
              SELECT c.query_id, c.vec_id, c.sim,
                     MAX((CASE WHEN list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]) * list_inner_product(s.embedding::DOUBLE[], s.embedding::DOUBLE[]) > 0 THEN round(list_cosine_similarity(c.embedding::DOUBLE[], s.embedding::DOUBLE[]), 6) ELSE 0.0 END)) AS maxdiv
              FROM cand c JOIN sel12 s USING (query_id)
              WHERE NOT EXISTS (SELECT 1 FROM sel12 x
                                WHERE x.query_id = c.query_id
                                  AND x.vec_id = c.vec_id)
              GROUP BY 1, 2, 3),
            s3 AS (
              SELECT query_id, vec_id, sim,
                     round(0.7 * sim - 0.3 * maxdiv, 6) AS mmr_score,
                     3 AS mmr_rank
              FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY round(0.7 * sim - 0.3 * maxdiv, 6) DESC,
                        vec_id) AS rk FROM m3) WHERE rk = 1)
            SELECT query_id, vec_id, sim, mmr_score,
                   CAST(mmr_rank AS BIGINT) AS mmr_rank
            FROM (SELECT query_id, vec_id, sim, mmr_score, mmr_rank FROM s1
                  UNION ALL
                  SELECT query_id, vec_id, sim, mmr_score, mmr_rank FROM s2
                  UNION ALL
                  SELECT query_id, vec_id, sim, mmr_score, mmr_rank FROM s3)
        """,
        "ivf_topk": """
            WITH cent AS (
              SELECT vec_id AS cell_id, embedding AS cvec
              FROM embeddings ORDER BY vec_id LIMIT 16
            ),
            assigned AS (
              SELECT vec_id, embedding, cell_id FROM (
                SELECT e.vec_id, e.embedding, c.cell_id,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                         ORDER BY (CASE WHEN list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) * list_inner_product(c.cvec::DOUBLE[], c.cvec::DOUBLE[]) > 0 THEN round(list_cosine_similarity(e.embedding::DOUBLE[], c.cvec::DOUBLE[]), 6) ELSE 0.0 END) DESC,
                           c.cell_id) AS rk
                FROM embeddings e CROSS JOIN cent c
              ) WHERE rk = 1
            ),
            q AS (SELECT vec_id AS query_id, embedding AS qvec
                  FROM embeddings WHERE vec_id < 5),
            probes AS (
              SELECT query_id, qvec, cell_id FROM (
                SELECT q.query_id, q.qvec, c.cell_id,
                       ROW_NUMBER() OVER (PARTITION BY q.query_id
                         ORDER BY (CASE WHEN list_inner_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[]) * list_inner_product(c.cvec::DOUBLE[], c.cvec::DOUBLE[]) > 0 THEN round(list_cosine_similarity(q.qvec::DOUBLE[], c.cvec::DOUBLE[]), 6) ELSE 0.0 END) DESC,
                           c.cell_id) AS rk
                FROM q CROSS JOIN cent c
              ) WHERE rk <= 4
            ),
            scored AS (
              SELECT p.query_id, a.vec_id,
                     (CASE WHEN list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) * list_inner_product(p.qvec::DOUBLE[], p.qvec::DOUBLE[]) > 0 THEN round(list_cosine_similarity(a.embedding::DOUBLE[], p.qvec::DOUBLE[]), 6) ELSE 0.0 END) AS sim
              FROM assigned a JOIN probes p USING (cell_id)
            ),
            ranked AS (
              SELECT query_id, vec_id, sim,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, vec_id) AS rank
              FROM scored
            )
            SELECT query_id, vec_id, sim, CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= 10
        """,
        "ivf_kmeans_topk": _ivf_kmeans_oracle(),
        "embedding_near_dup": _srp_near_dup_oracle(),
        "chunk_docs": """
            WITH tok AS (
              SELECT doc_id, regexp_extract_all(text, '[a-zA-Z'']+') AS toks
              FROM documents
            ),
            ids AS (
              SELECT doc_id, toks,
                     unnest(range(0, (len(toks) - 1) // 48 + 1)) AS chunk_id
              FROM tok WHERE len(toks) > 0
            ),
            pieces AS (
              SELECT doc_id, chunk_id,
                     list_slice(toks, chunk_id * 48 + 1, chunk_id * 48 + 64)
                       AS piece
              FROM ids
            )
            SELECT doc_id,
                   CAST(chunk_id AS BIGINT) AS chunk_id,
                   CAST(len(piece) AS BIGINT) AS n_tokens,
                   md5(array_to_string(piece, ' ')) AS chunk_hash
            FROM pieces
        """,
        "embedding_quantize": """
            WITH base AS (
              SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
              FROM embeddings
            ),
            s AS (
              SELECT vec_id, v,
                     list_max(list_transform(v, x -> abs(x))) AS maxabs
              FROM base
            ),
            q AS (
              SELECT vec_id, v, maxabs / 127.0 AS scale_raw,
                     CASE WHEN maxabs > 0
                          THEN list_transform(v, x ->
                               CAST(round(x / (maxabs / 127.0)) AS INTEGER))
                          ELSE list_transform(v, x -> 0) END AS qvec
              FROM s
            )
            SELECT vec_id,
                   round(scale_raw, 6) AS scale,
                   CAST(list_max(qvec) AS BIGINT) AS q_max,
                   CAST(list_min(qvec) AS BIGINT) AS q_min,
                   round(list_max(list_transform(range(0, len(v)),
                         j -> abs(v[j+1] - qvec[j+1] * scale_raw))), 6)
                       AS max_abs_err
            FROM q
        """,
        "repetition_stats": f"""
            WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            g AS (SELECT doc_id,
                    list_transform(range(1, greatest(len(toks), 1)),
                        i -> toks[i] || ' ' || toks[i+1]) AS g2,
                    list_transform(range(1, greatest(len(toks)-1, 1)),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3
                  FROM tok)
            SELECT doc_id,
                   CAST(len(g2) AS BIGINT) AS n_2grams,
                   CASE WHEN len(g2) > 0 THEN round(
                        (len(g2) - len(list_distinct(g2)))
                        / CAST(len(g2) AS DOUBLE), 6)
                        ELSE 0.0 END AS dup_2gram_frac,
                   CASE WHEN len(g3) > 0 THEN round(
                        (len(g3) - len(list_distinct(g3)))
                        / CAST(len(g3) AS DOUBLE), 6)
                        ELSE 0.0 END AS dup_3gram_frac,
                   CASE WHEN len(g2) > 0 THEN round(
                        CAST(list_max(list_transform(list_distinct(g2),
                             d -> len(list_filter(g2, x -> x = d)))) AS DOUBLE)
                        / len(g2), 6)
                        ELSE 0.0 END AS top_2gram_frac
            FROM g
        """,
        "unigram_surprisal": f"""
            WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS tk FROM documents),
            model AS (SELECT tk, count(*) AS c FROM tok GROUP BY tk),
            tot AS (SELECT CAST(sum(c) AS BIGINT) AS N FROM model),
            bits AS (SELECT doc_id,
                            (length(bin(CAST(floor(N / c) AS BIGINT))) - 1) AS b
                     FROM tok JOIN model USING (tk) CROSS JOIN tot)
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(b) AS BIGINT) AS sum_bits,
                   round(CAST(sum(b) AS DOUBLE) / count(*), 6) AS avg_bits
            FROM bits GROUP BY doc_id
        """,
        # conditional bits via integer division (//, exact) + the
        # established length(bin(x))-1 integer log2.
        "bigram_surprisal": f"""
            WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents
                       WHERE len({_TOKS}) >= 2),
            bg AS (
              SELECT doc_id, s.p AS p, s.c AS c
              FROM (SELECT doc_id,
                           unnest(list_transform(range(2, len(toks) + 1),
                               i -> struct_pack(p := toks[i-1],
                                                c := toks[i]))) AS s
                    FROM d)),
            bm AS (SELECT p, c, CAST(count(*) AS BIGINT) AS bc
                   FROM bg GROUP BY 1, 2),
            cm AS (SELECT p, CAST(sum(bc) AS BIGINT) AS pc
                   FROM bm GROUP BY 1),
            model AS (
              SELECT bm.p, bm.c,
                     (length(bin(CAST(pc // bc AS BIGINT))) - 1) AS b
              FROM bm JOIN cm ON bm.p = cm.p)
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_bigrams,
                   CAST(sum(b) AS BIGINT) AS sum_bits,
                   round(CAST(sum(b) AS DOUBLE) / count(*), 6) AS avg_bits
            FROM bg JOIN model ON bg.p = model.p AND bg.c = model.c
            GROUP BY doc_id
        """,
        "pack_sequences": """
            WITH tok AS (
              SELECT doc_id, regexp_extract_all(text, '[a-zA-Z'']+') AS toks
              FROM documents
            ),
            ids AS (
              SELECT doc_id, toks,
                     unnest(range(0, (len(toks) - 1) // 64 + 1)) AS chunk_id
              FROM tok WHERE len(toks) > 0
            ),
            chunks AS (
              SELECT doc_id, chunk_id,
                     len(list_slice(toks, chunk_id * 64 + 1, chunk_id * 64 + 64)) AS n
              FROM ids
            ),
            laid AS (
              SELECT doc_id % 8 AS shard, n,
                     SUM(n) OVER (PARTITION BY doc_id % 8
                                  ORDER BY doc_id, chunk_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cend
              FROM chunks
            )
            SELECT CAST(shard AS BIGINT) AS shard,
                   CAST((cend - n) // 256 AS BIGINT) AS pack_id,
                   CAST(count(*) AS BIGINT) AS n_chunks,
                   CAST(sum(n) AS BIGINT) AS n_tokens
            FROM laid GROUP BY shard, (cend - n) // 256
        """,
        "curate_corpus": _curate_oracle(),
        "decontaminate": f"""
            WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            g AS (SELECT doc_id, unnest(list_distinct(list_transform(
                      range(1, greatest(len(toks)-2, 1)),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' ||
                           toks[i+2] || ' ' || toks[i+3]))) AS shingle
                  FROM tok),
            e AS (SELECT DISTINCT shingle FROM g WHERE doc_id % 97 = 0)
            SELECT g.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
            FROM g JOIN e USING (shingle) WHERE g.doc_id % 97 != 0
            GROUP BY g.doc_id
        """,
        "stratified_fixed": f"""
            WITH ranked AS (
              SELECT doc_id, lang,
                     CAST(ROW_NUMBER() OVER (PARTITION BY lang
                       ORDER BY {_H32.format(x='CAST(doc_id AS VARCHAR)')},
                                doc_id) AS BIGINT) AS sample_rank
              FROM documents)
            SELECT doc_id, lang, sample_rank FROM ranked
            WHERE sample_rank <= CASE lang WHEN 'en' THEN 200
                                           WHEN 'de' THEN 80
                                           WHEN 'fr' THEN 50
                                           ELSE 0 END
        """,
        "stratified_sample": f"""
            SELECT doc_id, lang FROM documents
            WHERE {_H32.format(x="CAST(doc_id AS VARCHAR)")} % 1000000 <
                  CASE WHEN lang = 'en' THEN 600000
                       WHEN lang IN ('de', 'fr') THEN 300000
                       ELSE 150000 END
        """,
        "bm25_topk": f"""
            WITH base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            stats AS (SELECT CAST(count(*) AS BIGINT) AS N,
                             CAST(sum(len(toks)) AS BIGINT) AS len_total
                      FROM base),
            dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
            post AS (SELECT doc_id, tk, count(*) AS tf
                     FROM (SELECT doc_id, unnest(toks) AS tk FROM base)
                     WHERE tk IN ('spark', 'merge', 'window')
                     GROUP BY doc_id, tk),
            dfreq AS (SELECT tk, count(DISTINCT doc_id) AS df
                      FROM post GROUP BY tk),
            scored AS (
              SELECT post.doc_id AS doc_id,
                     SUM(CAST(round(
                         (ln(1.0 + (N - df + 0.5) / (df + 0.5))
                          * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75
                              * (CAST(dl AS DOUBLE)
                                 / (CAST(len_total AS DOUBLE) / N))))))
                         * 1000000) AS BIGINT)) AS s6
              FROM post JOIN dfreq USING (tk) JOIN dl USING (doc_id)
              CROSS JOIN stats
              GROUP BY post.doc_id
            )
            SELECT doc_id, s6 / 1000000.0 AS score,
                   CAST(row_number() OVER (ORDER BY s6 DESC, doc_id)
                        AS BIGINT) AS rank
            FROM scored QUALIFY rank <= 20
        """,
        "deterministic_split": """
            SELECT doc_id,
                   CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                             % 10 < 8 THEN 'train'
                        WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                             % 10 < 9 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "leakage_split": f"""
            WITH RECURSIVE pairs AS MATERIALIZED ({_minhash_lsh_oracle()}),
            edges AS MATERIALIZED (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION
              SELECT id_b, id_a FROM pairs
            ),
            reach(src, dst) AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
            ),
            members AS (
              SELECT src AS doc_id, least(src, MIN(dst)) AS cluster_id
              FROM reach GROUP BY src
            ),
            grp AS (
              SELECT d.doc_id,
                     coalesce(m.cluster_id, d.doc_id) AS group_id
              FROM documents d LEFT JOIN members m USING (doc_id)
            )
            SELECT doc_id, group_id,
                   CASE WHEN {_H32.format(x="'split:' || CAST(group_id AS VARCHAR)")}
                             % 1000000 < 800000 THEN 'train'
                        WHEN {_H32.format(x="'split:' || CAST(group_id AS VARCHAR)")}
                             % 1000000 < 900000 THEN 'val'
                        ELSE 'test' END AS split
            FROM grp
        """,
        "shard_plan": f"""
            WITH keyed AS (
              SELECT doc_id,
                     {_H32.format(x="'shuffle:' || CAST(doc_id AS VARCHAR)")} AS k
              FROM documents
            )
            SELECT doc_id, k % 8 AS shard,
                   CAST(ROW_NUMBER() OVER (PARTITION BY k % 8
                                           ORDER BY k, doc_id) AS BIGINT) AS pos
            FROM keyed
        """,
        "span_dup": f"""
            WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            w AS (SELECT doc_id, len(toks) - 4 AS nw,
                         unnest(range(1, greatest(len(toks) - 3, 1))) AS pos,
                         toks
                  FROM tok),
            g AS (SELECT doc_id, nw, pos,
                         ('0x' || substr(md5(
                             toks[pos] || ' ' || toks[pos+1] || ' ' ||
                             toks[pos+2] || ' ' || toks[pos+3] || ' ' ||
                             toks[pos+4]), 1, 15))::BIGINT AS wh
                  FROM w),
            freq AS (SELECT wh FROM g GROUP BY wh
                     HAVING count(DISTINCT doc_id) >= 2)
            SELECT doc_id, CAST(nw AS BIGINT) AS n_windows,
                   CAST(count(*) AS BIGINT) AS n_dup_windows,
                   CAST(count(DISTINCT wh) AS BIGINT) AS n_dup_distinct,
                   CAST(min(pos) AS BIGINT) AS first_dup_pos,
                   round(count(*)::DOUBLE / nw, 6) AS dup_frac
            FROM g JOIN freq USING (wh)
            GROUP BY doc_id, nw
        """,
        "winnow_fingerprints": f"""
            WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            g AS (SELECT doc_id, len(toks) - 3 AS ng, pos,
                         ('0x' || substr(md5(
                             toks[pos] || ' ' || toks[pos+1] || ' ' ||
                             toks[pos+2] || ' ' || toks[pos+3]), 1, 15))::BIGINT AS gh
                  FROM (SELECT doc_id, toks,
                               unnest(range(1, greatest(len(toks) - 2, 1))) AS pos
                        FROM tok)),
            wm AS (SELECT doc_id, ng, pos,
                          min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
                   FROM g),
            s AS (SELECT doc_id, ng, sel FROM wm WHERE pos <= ng - 3)
            SELECT doc_id,
                   CAST(ng AS BIGINT) AS n_grams,
                   CAST(ng - 3 AS BIGINT) AS n_windows,
                   CAST(count(DISTINCT sel) AS BIGINT) AS n_fingerprints,
                   round(count(DISTINCT sel)::DOUBLE / (ng - 3), 6) AS density
            FROM s GROUP BY doc_id, ng
        """,
        "winnow_overlap": f"""
            WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            g AS (SELECT doc_id, len(toks) - 3 AS ng, pos,
                         ('0x' || substr(md5(
                             toks[pos] || ' ' || toks[pos+1] || ' ' ||
                             toks[pos+2] || ' ' || toks[pos+3]), 1, 15))::BIGINT AS gh
                  FROM (SELECT doc_id, toks,
                               unnest(range(1, greatest(len(toks) - 2, 1))) AS pos
                        FROM tok)),
            wm AS (SELECT doc_id, ng, pos,
                          min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
                   FROM g),
            fp AS (SELECT DISTINCT doc_id, sel AS fp FROM wm WHERE pos <= ng - 3),
            ok AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 1000),
            fpo AS (SELECT doc_id, fp FROM fp JOIN ok USING (fp)),
            nf AS (SELECT doc_id, count(*) AS nfp FROM fpo GROUP BY doc_id),
            pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                          count(*) AS sh
                   FROM fpo a JOIN fpo b
                     ON a.fp = b.fp AND a.doc_id < b.doc_id
                   GROUP BY 1, 2 HAVING count(*) >= 2)
            SELECT id_a, id_b, CAST(sh AS BIGINT) AS shared_fps,
                   round(sh::DOUBLE / least(na.nfp, nb.nfp), 6) AS containment
            FROM pr
            JOIN nf na ON na.doc_id = pr.id_a
            JOIN nf nb ON nb.doc_id = pr.id_b
        """,
        "winnow_spans": _winnow_spans_oracle(),
        "semantic_dedup": _semantic_dedup_oracle(),
        "pca_project": _pca_project_oracle(n_iter=8),
        "pca_topk": _pca_topk_oracle(k=3, n_iter=8),
        "pq_topk": _pq_topk_oracle(k=10, m=4, n_codes=8, n_iter=2),
        "ivfpq_topk": _ivfpq_topk_oracle(
            k=10, n_cells=8, n_probe=3, m=4, n_codes=8, n_iter=2),
        "winnow_probe": _winnow_probe_oracle(),
        "pq_sampled": _pq_topk_oracle(
            k=10, m=4, n_codes=8, n_iter=2, sample_n=200),
        "curate_corpus_v2": _curate_v2_oracle(),
        "l2_topk": """
            WITH comp AS MATERIALIZED (
              SELECT vec_id, u.i - 1 AS pos,
                     CAST(round(CASE WHEN u.x > 1000000.0 THEN 1000000.0
                                     WHEN u.x < -1000000.0 THEN -1000000.0
                                     ELSE u.x END * 1000000) AS BIGINT) AS x
              FROM (SELECT vec_id,
                           unnest(list_transform(embedding,
                               (x, i) -> struct_pack(
                                   i := i, x := CAST(x AS DOUBLE)))) AS u
                    FROM embeddings)),
            s AS (
              SELECT q.vec_id AS query_id, c.vec_id,
                     SUM(CAST(c.x - q.x AS HUGEINT) * (c.x - q.x)) AS d
              FROM comp c JOIN comp q
                ON q.pos = c.pos AND q.vec_id < 3
              GROUP BY 1, 2)
            SELECT query_id, vec_id,
                   round(CAST(d AS DOUBLE) / 1000000.0 / 1000000.0, 6)
                       + CAST(0 AS DOUBLE) AS l2_dist,
                   CAST(rk AS BIGINT) AS rank
            FROM (SELECT query_id, vec_id, d,
                         ROW_NUMBER() OVER (PARTITION BY query_id
                                            ORDER BY d, vec_id) AS rk
                  FROM s)
            WHERE rk <= 10
        """,
        "embedding_decontaminate": """
            WITH base AS (
              SELECT vec_id,
                     list_transform(embedding, x -> x::DOUBLE) AS v
              FROM embeddings),
            ev AS (SELECT vec_id, v FROM base WHERE vec_id % 11 = 0),
            planted AS (
              SELECT vec_id + 100000000 AS vec_id,
                     list_transform(v, (x, j) ->
                         x + ((j - 1) % 7 - 3)::DOUBLE * 0.01) AS v
              FROM ev),
            train AS (
              SELECT vec_id, v FROM base WHERE vec_id % 11 <> 0
              UNION ALL SELECT vec_id, v FROM planted),
            s AS (
              SELECT t.vec_id,
                     (CASE WHEN list_inner_product(t.v, t.v)
                                * list_inner_product(e.v, e.v) > 0
                           THEN round(list_cosine_similarity(t.v, e.v), 6)
                           ELSE 0.0 END) AS sim
              FROM train t CROSS JOIN ev e)
            SELECT vec_id, CAST(count(*) AS BIGINT) AS n_matches,
                   max(sim) + CAST(0 AS DOUBLE) AS max_sim
            FROM s WHERE sim >= 0.9 GROUP BY vec_id
        """,
        "pq_subspace_var": f"""
            WITH comp AS (
              SELECT vec_id,
                     CAST((u.i - 1) // (dim // 4) AS INT) AS j,
                     CAST((u.i - 1) % (dim // 4) AS INT) AS pos,
                     CAST(round(CASE WHEN u.x > 1000000.0 THEN 1000000.0
                                     WHEN u.x < -1000000.0 THEN -1000000.0
                                     ELSE u.x END * 1000000) AS BIGINT) AS x
              FROM (SELECT vec_id, len(embedding) AS dim,
                           unnest(list_transform(embedding,
                               (x, i) -> struct_pack(
                                   i := i, x := CAST(x AS DOUBLE)))) AS u
                    FROM embeddings)),
            mom AS (
              SELECT j, pos, count(*) AS n,
                     sum(CAST(x AS HUGEINT)) AS s,
                     sum(CAST(x AS HUGEINT) * x) AS s2
              FROM comp GROUP BY 1, 2),
            byj AS (
              SELECT j, sum(n * s2 - s * s) AS v FROM mom GROUP BY 1)
            SELECT CAST(j AS BIGINT) AS subspace,
                   CASE WHEN sum(v) OVER () <> 0
                        THEN round(CAST(v AS DOUBLE)
                                   / CAST(sum(v) OVER () AS DOUBLE), 6)
                             + CAST(0 AS DOUBLE) END AS var_share
            FROM byj
        """,
        "collocations": f"""
            WITH tok AS (SELECT {_TOKS} AS toks FROM documents),
            uc AS (SELECT w, count(*) AS cw
                   FROM (SELECT unnest(toks) AS w FROM tok) GROUP BY w),
            nu AS (SELECT sum(cw) AS nu FROM uc),
            bi AS (SELECT bigram, count(*) AS cab FROM (
                     SELECT unnest(list_transform(
                         range(1, greatest(len(toks), 1)),
                         i -> toks[i] || ' ' || toks[i+1])) AS bigram
                     FROM tok)
                   GROUP BY bigram HAVING count(*) >= 5),
            nb AS (SELECT sum(greatest(len(toks) - 1, 0)) AS nb FROM tok),
            sc AS (SELECT bigram, cab,
                          round((cab::DOUBLE / nb::DOUBLE) /
                                ((a.cw::DOUBLE / nu::DOUBLE)
                                 * (b.cw::DOUBLE / nu::DOUBLE)), 6) AS ratio
                   FROM bi
                   JOIN uc a ON a.w = split_part(bigram, ' ', 1)
                   JOIN uc b ON b.w = split_part(bigram, ' ', 2), nu, nb)
            SELECT bigram, CAST(cab AS BIGINT) AS pair_count, ratio,
                   CAST(row_number() OVER (ORDER BY ratio DESC, bigram)
                        AS BIGINT) AS rank
            FROM sc QUALIFY rank <= 50
        """,
        "span_dedup": f"""
            WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            w AS (SELECT doc_id,
                         unnest(range(1, greatest(len(toks) - 3, 1))) AS pos,
                         toks
                  FROM tok),
            g AS (SELECT doc_id, pos,
                         ('0x' || substr(md5(
                             toks[pos] || ' ' || toks[pos+1] || ' ' ||
                             toks[pos+2] || ' ' || toks[pos+3] || ' ' ||
                             toks[pos+4]), 1, 15))::BIGINT AS wh
                  FROM w),
            winners AS (SELECT wh, min(doc_id) AS keep FROM g
                        GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
            covered AS (SELECT DISTINCT g.doc_id AS doc_id,
                                        g.pos + r.off AS tp
                        FROM g JOIN winners USING (wh)
                        CROSS JOIN range(0, 5) AS r(off)
                        WHERE g.doc_id != keep),
            aff AS (SELECT DISTINCT doc_id FROM covered),
            tokr AS (SELECT t.doc_id, len(toks) AS nb,
                            unnest(range(1, len(toks) + 1)) AS tp, toks
                     FROM tok t JOIN aff USING (doc_id)),
            fl AS (SELECT tr.doc_id, nb, tr.tp, tr.toks[tr.tp] AS tk,
                          (c.tp IS NOT NULL) AS cov
                   FROM tokr tr LEFT JOIN covered c
                     ON tr.doc_id = c.doc_id AND tr.tp = c.tp)
            SELECT doc_id, CAST(nb AS BIGINT) AS n_tokens_before,
                   CAST(sum(CASE WHEN cov THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_tokens_removed,
                   md5(coalesce(string_agg(CASE WHEN NOT cov THEN tk END,
                                           ' ' ORDER BY tp), ''))
                       AS clean_md5
            FROM fl GROUP BY doc_id, nb
        """,
        "temperature_sample": f"""
            WITH counts AS (SELECT lang, count(*) AS cg FROM documents
                            GROUP BY lang),
            ppm AS (SELECT lang,
                           CAST(round(sqrt((SELECT min(cg) FROM counts)::DOUBLE
                                           / cg) * 1000000) AS BIGINT) AS p
                    FROM counts)
            SELECT d.doc_id, d.lang FROM documents d JOIN ppm USING (lang)
            WHERE {_H32.format(x="CAST(doc_id AS VARCHAR)")} % 1000000 < p
        """,
        "domain_cap": f"""
            WITH r AS (
              SELECT doc_id, source,
                     row_number() OVER (
                         PARTITION BY source
                         ORDER BY {_H32.format(x="CAST(doc_id AS VARCHAR)")},
                                  doc_id) AS rk
              FROM documents)
            SELECT doc_id, source FROM r WHERE rk <= 20
        """,
        "redact_pii": _pii_oracle(),
        "quality_rules": _quality_rules_oracle(),
        "kmv_distinct": f"""
            WITH tok AS (SELECT source, unnest({_TOKS}) AS t FROM documents),
            dh AS (SELECT DISTINCT source,
                          {_H32.format(x='t')} AS h FROM tok),
            rk AS (SELECT source, h,
                          row_number() OVER (PARTITION BY source ORDER BY h)
                              AS r
                   FROM dh),
            agg AS (SELECT source, count(*) AS nk, max(h) AS hk
                    FROM rk WHERE r <= 64 GROUP BY source),
            ex AS (SELECT source, count(DISTINCT t) AS nd FROM tok GROUP BY source)
            SELECT agg.source,
                   CAST(nk AS BIGINT) AS n_hashes,
                   CAST(CASE WHEN nk < 64 THEN nk
                        ELSE {63 * (1 << 32)} // hk END AS BIGINT)
                       AS est_distinct,
                   CAST(nd AS BIGINT) AS exact_distinct
            FROM agg JOIN ex ON agg.source = ex.source
        """,
        "media_features": """
            SELECT doc_id AS media_id,
                   'doc' AS modality,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   sha256(text) AS content_hash
            FROM documents
        """,
        # Analytic recomputation of the y4m luma statistics the engine
        # obtains by ACTUALLY DECODING the per-document video payload:
        # 2 solid frames of byte values a/b at 10 fps; mean/std/motion
        # close-form over {a, b} (all exact multiples of 0.5).
        "video_features": """
            SELECT doc_id AS media_id,
                   CAST(2 AS DOUBLE) AS n_frames,
                   CAST(200 AS DOUBLE) AS duration_ms,
                   (a + b) / 2.0 AS mean_luma,
                   abs(a - b) / 2.0 AS std_luma,
                   abs(a - b) AS motion
            FROM (SELECT doc_id,
                         CAST(doc_id % 256 AS DOUBLE) AS a,
                         CAST((doc_id * 7 + 13) % 256 AS DOUBLE) AS b
                  FROM documents)
        """,
        # std over {a x64, b x64} is |a-b|/2 exactly; the pinned all-8
        # quant table makes the MJPEG decode of flat tiles EXACT, so
        # the oracle is pure doc_id arithmetic (video_features twin).
        "mjpeg_features": """
            SELECT doc_id AS media_id,
                   CAST(2 AS DOUBLE) AS n_frames,
                   CAST(200 AS DOUBLE) AS duration_ms,
                   (a + b) / 2.0 AS mean_luma,
                   abs(a - b) / 2.0 AS std_luma,
                   abs(a - b) AS motion
            FROM (SELECT doc_id,
                         CAST(((doc_id % 256) + 256) % 256 AS DOUBLE) AS a,
                         CAST(((((doc_id % 256) + 256) % 256) * 7 + 13)
                              % 256 AS DOUBLE) AS b
                  FROM documents)
        """,
        # logit-scale linear classifier: integer numerator/denominator
        # with ONE final double division (bit-identical cross-engine);
        # the weight of a bucket is the same hash formula on both sides.
        "classifier_score": f"""
            WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            uni AS (SELECT doc_id, unnest(toks) AS f FROM d),
            bi AS (SELECT doc_id,
                          unnest(list_transform(range(2, len(toks) + 1),
                              i -> toks[i-1] || ' ' || toks[i])) AS f
                   FROM d WHERE len(toks) >= 2),
            feats AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
            hx AS (SELECT doc_id,
                          {_H32.format(x='f')} % 4096 AS idx
                   FROM feats),
            wt AS (SELECT doc_id,
                          ({_H32.format(x="'w:' || CAST(idx AS VARCHAR)")}
                           % 20001) - 10000 AS w
                   FROM hx),
            sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
                          CAST(sum(w) AS BIGINT) AS sw
                   FROM wt GROUP BY doc_id)
            SELECT dd.doc_id,
                   CAST(coalesce(n, 0) AS BIGINT) AS n_features,
                   -- + 0.0 normalizes IEEE -0.0 (tiny negative logits)
                   round(CAST(500 * n + sw AS DOUBLE)
                         / CAST(n * 1000000 AS DOUBLE), 6)
                       + CAST(0 AS DOUBLE) AS score,
                   coalesce(round(CAST(500 * n + sw AS DOUBLE)
                            / CAST(n * 1000000 AS DOUBLE), 6) >= 0.0,
                            FALSE) AS keep
            FROM (SELECT doc_id FROM documents) dd
            LEFT JOIN sc USING (doc_id)
        """,
        # merge(sketch(even docs), sketch(odd docs)) must equal the
        # sketch of the whole corpus — the oracle computes the latter
        # directly; a hash match proves exact mergeability.
        "kmv_merge": f"""
            WITH tok AS (SELECT source, unnest({_TOKS}) AS t FROM documents),
            dh AS (SELECT DISTINCT source,
                          {_H32.format(x='t')} AS h FROM tok),
            rk AS (SELECT source, h,
                          row_number() OVER (PARTITION BY source ORDER BY h)
                              AS r
                   FROM dh)
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_hashes,
                   CAST(CASE WHEN count(*) < 64 THEN count(*)
                        ELSE {63 * (1 << 32)} // max(h) END AS BIGINT)
                       AS est_distinct
            FROM rk WHERE r <= 64 GROUP BY source
        """,
        "weighted_sample": f"""
            WITH keyed AS (
              SELECT doc_id, source,
                     round(ln(({_H32.format(x='CAST(doc_id AS VARCHAR)')}
                               + 0.5) / 4294967296.0)
                           / (1 + doc_id % 10), 6)
                         + CAST(0 AS DOUBLE) AS sample_key
              FROM documents)
            SELECT doc_id, source, sample_key FROM keyed
            ORDER BY sample_key DESC, doc_id LIMIT 50
        """,
        "importance_sample": _importance_sample_oracle(),
        # naive theta join as the oracle: the binned first-shared-bin
        # plan must lose and duplicate nothing.
        "interval_join": """
            WITH i AS (
              SELECT o_orderkey AS k, o_custkey AS c,
                     datediff('day', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE)) AS lo
              FROM orders),
            iv AS (SELECT k, c, lo, lo + 30 AS hi FROM i)
            SELECT a.c AS custkey, a.k AS key_a, b.k AS key_b,
                   CAST(LEAST(a.hi, b.hi) - GREATEST(a.lo, b.lo) AS BIGINT)
                       AS overlap_days
            FROM iv a JOIN iv b
              ON a.c = b.c AND a.k < b.k
             AND a.lo <= b.hi AND b.lo <= a.hi
        """,
        "hashed_features": f"""
            WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS t FROM documents)
            SELECT doc_id,
                   CAST({_H32.format(x='t')} % 256 AS INT) AS idx,
                   CAST(count(*) AS BIGINT) AS n
            FROM tok GROUP BY 1, 2
        """,
        # one SELECT per rule with the same violation predicates.
        "dq_report": """
            WITH r AS (
              SELECT 'custkey_not_null' AS rule, 'not_null' AS kind,
                     CAST(SUM(CASE WHEN o_custkey IS NOT NULL
                              THEN 0 ELSE 1 END) AS BIGINT) AS violations
              FROM orders
              UNION ALL
              SELECT 'status_domain', 'accepted_values',
                     CAST(SUM(CASE WHEN o_orderstatus IS NULL
                              OR o_orderstatus IN ('O', 'F', 'P')
                              THEN 0 ELSE 1 END) AS BIGINT)
              FROM orders
              UNION ALL
              SELECT 'price_range', 'in_range',
                     CAST(SUM(CASE WHEN o_totalprice IS NULL
                              OR (o_totalprice >= 0.0
                                  AND o_totalprice <= 600000.0)
                              THEN 0 ELSE 1 END) AS BIGINT)
              FROM orders
              UNION ALL
              SELECT 'no_small_orders', 'custom',
                     CAST(SUM(CASE WHEN o_totalprice >= 1000.0
                              THEN 0 ELSE 1 END) AS BIGINT)
              FROM orders
              UNION ALL
              SELECT 'orderkey_unique', 'unique',
                     CAST(COALESCE((SELECT SUM(n - 1) FROM (
                         SELECT count(*) AS n FROM orders
                         GROUP BY o_orderkey HAVING count(*) > 1)), 0)
                          AS BIGINT)
              UNION ALL
              SELECT 'lineitem_fk_orders', 'foreign_key',
                     CAST((SELECT count(*) FROM lineitem
                           WHERE l_orderkey IS NOT NULL
                             AND l_orderkey NOT IN
                                 (SELECT o_orderkey FROM orders))
                          AS BIGINT)
              UNION ALL
              SELECT 'qty_positive', 'custom',
                     CAST(SUM(CASE WHEN l_quantity > 0
                              THEN 0 ELSE 1 END) AS BIGINT)
              FROM lineitem
            )
            SELECT rule, kind, violations,
                   violations = 0 AS passed
            FROM r
        """,

        "hll_set_ops": f"""
            WITH tok AS (SELECT source, doc_id, unnest({_TOKS}) AS t
                         FROM documents),
            h AS (SELECT source, doc_id,
                         {_H32.format(x='t')} AS hh FROM tok),
            areg AS (SELECT source, CAST(hh % 256 AS INT) AS r,
                            MAX(CASE WHEN hh // 256 = 0 THEN 25
                                ELSE strpos(lpad(bin(hh // 256), 24, '0'),
                                            '1') END) AS z
                     FROM h WHERE (doc_id // 20) % 2 = 0 GROUP BY 1, 2),
            breg AS (SELECT source, CAST(hh % 256 AS INT) AS r,
                            MAX(CASE WHEN hh // 256 = 0 THEN 25
                                ELSE strpos(lpad(bin(hh // 256), 24, '0'),
                                            '1') END) AS z
                     FROM h WHERE (doc_id // 20) % 2 = 1 GROUP BY 1, 2),
            ureg AS (SELECT source, r, MAX(z) AS z
                     FROM (SELECT * FROM areg UNION ALL SELECT * FROM breg)
                     GROUP BY 1, 2),
            ea AS (SELECT source,
                          CAST(round(CASE WHEN 47072.71267120224 /
                               (SUM(power(2.0, -z)) + (256 - count(*)))
                                 <= 640.0 AND count(*) < 256
                               THEN 256.0 * ln(256.0 / (256 - count(*)))
                               ELSE 47072.71267120224 /
                               (SUM(power(2.0, -z)) + (256 - count(*)))
                               END) AS BIGINT) AS est_a
                   FROM areg GROUP BY source),
            eb AS (SELECT source,
                          CAST(round(CASE WHEN 47072.71267120224 /
                               (SUM(power(2.0, -z)) + (256 - count(*)))
                                 <= 640.0 AND count(*) < 256
                               THEN 256.0 * ln(256.0 / (256 - count(*)))
                               ELSE 47072.71267120224 /
                               (SUM(power(2.0, -z)) + (256 - count(*)))
                               END) AS BIGINT) AS est_b
                   FROM breg GROUP BY source),
            eu AS (SELECT source,
                          CAST(round(CASE WHEN 47072.71267120224 /
                               (SUM(power(2.0, -z)) + (256 - count(*)))
                                 <= 640.0 AND count(*) < 256
                               THEN 256.0 * ln(256.0 / (256 - count(*)))
                               ELSE 47072.71267120224 /
                               (SUM(power(2.0, -z)) + (256 - count(*)))
                               END) AS BIGINT) AS est_union
                   FROM ureg GROUP BY source)
            SELECT ea.source, est_a, est_b, est_union,
                   GREATEST(0, est_a + est_b - est_union)
                       AS est_intersection,
                   CAST(GREATEST(0, est_a + est_b - est_union) AS DOUBLE)
                       / CAST(est_union AS DOUBLE) AS jaccard
            FROM ea JOIN eb ON ea.source = eb.source
                    JOIN eu ON ea.source = eu.source
        """,
        # same integer holding-seconds x cent products, one divide.
        "twap": """
            WITH e AS (
              SELECT event_type,
                     epoch_us(ts) // 1000000 AS t,
                     CAST(round(value * 100) AS BIGINT) AS vc
              FROM events),
            h AS (
              SELECT event_type, vc,
                     lead(t) OVER (PARTITION BY event_type ORDER BY t, vc) - t
                         AS dur
              FROM e)
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_samples,
                   CAST(SUM(dur) AS BIGINT) AS total_seconds,
                   round(CAST(SUM(vc * dur) AS DOUBLE)
                         / (100.0 * SUM(dur)), 6) AS twap
            FROM h WHERE dur IS NOT NULL
            GROUP BY 1 HAVING SUM(dur) > 0
        """,
        # quantile_cont == percentile bit-for-bit (exact_percentiles
        # precedent); clip + scaled-BIGINT mean replayed exactly.
        "winsorize": """
            WITH b AS (
              SELECT l_returnflag,
                     quantile_cont(l_extendedprice, 0.01) AS blo,
                     quantile_cont(l_extendedprice, 0.99) AS bhi
              FROM lineitem GROUP BY 1),
            w AS (
              SELECT li.l_returnflag,
                     LEAST(GREATEST(l_extendedprice, blo), bhi) AS vw,
                     CASE WHEN l_extendedprice < blo THEN 1 ELSE 0 END AS cl,
                     CASE WHEN l_extendedprice > bhi THEN 1 ELSE 0 END AS ch
              FROM lineitem li JOIN b ON li.l_returnflag = b.l_returnflag)
            SELECT l_returnflag,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(SUM(cl) AS BIGINT) AS n_clipped_lo,
                   CAST(SUM(ch) AS BIGINT) AS n_clipped_hi,
                   round(CAST(SUM(CAST(round(vw * 100) AS BIGINT)) AS DOUBLE)
                         / (100.0 * count(*)), 4) AS winsorized_mean
            FROM w GROUP BY 1
        """,
        # the decomposition chain + milli-scaled residual moments and a
        # rank-4 rounded threshold - the zscore_outliers rules on the
        # residual channel.
        "seasonal_anomalies": """
            WITH hourly AS (
              SELECT event_type,
                     (datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                      * 24 + hour(ts)) AS pos,
                     SUM(CAST(round(value * 100) AS BIGINT)) AS vc
              FROM events GROUP BY 1, 2),
            t AS (
              SELECT event_type, pos, vc,
                     CAST(SUM(vc) OVER w AS DOUBLE)
                         / (100.0 * COUNT(*) OVER w) AS trend
              FROM hourly
              WINDOW w AS (PARTITION BY event_type ORDER BY pos
                           ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)),
            d AS (SELECT event_type, pos, vc, trend,
                         CAST(vc AS DOUBLE) / 100 - trend AS dd,
                         pos % 24 AS ph
                  FROM t),
            s AS (SELECT event_type, ph,
                         CAST(SUM(CAST(round(dd * 1e9) AS BIGINT)) AS DOUBLE)
                             / (1e9 * COUNT(*)) AS seasonal
                  FROM d GROUP BY 1, 2),
            dec AS (
              SELECT d.event_type, d.pos, d.ph,
                     CAST(d.vc AS DOUBLE) / 100 AS value,
                     round(CAST(d.vc AS DOUBLE) / 100 - d.trend
                           - s.seasonal, 6) + CAST(0 AS DOUBLE) AS residual
              FROM d JOIN s ON d.event_type = s.event_type
                           AND d.ph = s.ph),
            r AS (SELECT *, CAST(round(residual * 1000) AS BIGINT) AS r3
                  FROM dec),
            m AS (
              SELECT event_type, count(*) AS n,
                     SUM(r3) AS s1, SUM(r3 * r3) AS s2
              FROM r GROUP BY 1 HAVING count(*) > 1),
            z AS (
              SELECT r.event_type, r.pos, r.ph, r.value, r.residual,
                     (CAST(r.r3 AS DOUBLE) - CAST(m.s1 AS DOUBLE) / m.n)
                     / sqrt((CAST(m.s2 AS DOUBLE)
                             - CAST(m.s1 AS DOUBLE) * m.s1 / m.n)
                            / (m.n - 1)) AS zz,
                     sqrt((CAST(m.s2 AS DOUBLE)
                           - CAST(m.s1 AS DOUBLE) * m.s1 / m.n)
                          / (m.n - 1)) AS sd
              FROM r JOIN m ON r.event_type = m.event_type)
            SELECT event_type, CAST(pos AS BIGINT) AS position,
                   CAST(ph AS BIGINT) AS phase, value, residual,
                   round(zz, 4) AS z
            FROM z WHERE sd > 0 AND round(abs(zz), 4) >= 2.5
        """,
        # same scaled-BIGINT window sums, nano-rounded seasonal means,
        # single-divide trend - every component engine-reproducible.
        "seasonal_decompose": """
            WITH hourly AS (
              SELECT event_type,
                     (datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                      * 24 + hour(ts)) AS pos,
                     SUM(CAST(round(value * 100) AS BIGINT)) AS vc
              FROM events GROUP BY 1, 2),
            t AS (
              SELECT event_type, pos, vc,
                     CAST(SUM(vc) OVER w AS DOUBLE)
                         / (100.0 * COUNT(*) OVER w) AS trend
              FROM hourly
              WINDOW w AS (PARTITION BY event_type ORDER BY pos
                           ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)),
            d AS (SELECT event_type, pos, vc, trend,
                         CAST(vc AS DOUBLE) / 100 - trend AS dd,
                         pos % 24 AS ph
                  FROM t),
            s AS (SELECT event_type, ph,
                         CAST(SUM(CAST(round(dd * 1e9) AS BIGINT)) AS DOUBLE)
                             / (1e9 * COUNT(*)) AS seasonal
                  FROM d GROUP BY 1, 2)
            SELECT d.event_type,
                   CAST(d.pos AS BIGINT) AS position,
                   CAST(d.ph AS BIGINT) AS phase,
                   CAST(d.vc AS DOUBLE) / 100 AS value,
                   round(d.trend, 6) AS trend,
                   round(s.seasonal, 6) AS seasonal,
                   -- + 0.0 kills IEEE -0.0 from an exactly cancelled
                   -- subtraction (engine side mirrors it)
                   round(CAST(d.vc AS DOUBLE) / 100 - d.trend - s.seasonal,
                         6) + CAST(0 AS DOUBLE) AS residual
            FROM d JOIN s ON d.event_type = s.event_type AND d.ph = s.ph
        """,
        # AMS inner product replicated cell-exactly: same salted md5
        # cells, same per-depth dot products, same MIN/MAX.
        "cm_join_size": f"""
            WITH av AS (SELECT CAST(o_orderkey AS VARCHAR) AS v FROM orders),
            bv AS (SELECT CAST(l_orderkey AS VARCHAR) AS v FROM lineitem),
            ac AS (
              SELECT d, {_H32.format(x="'cm' || CAST(d AS VARCHAR) || ':' || v")}
                         % 1024 AS w,
                     count(*) AS c
              FROM av, (SELECT unnest([0, 1, 2, 3]) AS d) GROUP BY 1, 2),
            bc AS (
              SELECT d, {_H32.format(x="'cm' || CAST(d AS VARCHAR) || ':' || v")}
                         % 1024 AS w,
                     count(*) AS c
              FROM bv, (SELECT unnest([0, 1, 2, 3]) AS d) GROUP BY 1, 2),
            dots AS (
              SELECT ac.d, SUM(ac.c * bc.c) AS dot
              FROM ac JOIN bc ON ac.d = bc.d AND ac.w = bc.w GROUP BY 1)
            SELECT CAST(MIN(dot) AS BIGINT) AS est_join_rows,
                   CAST(MAX(dot) AS BIGINT) AS est_max,
                   (SELECT CAST(count(*) AS BIGINT)
                    FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
                       AS exact_rows
            FROM dots
        """,
        # windowed self-join on token positions — same ordered-pair set
        # as the engine's offset-explode + equi-join.
        "skipgram_counts": f"""
            WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            tok AS (
              SELECT doc_id, s.w AS w, s.p AS p
              FROM (SELECT doc_id,
                           unnest(list_transform(toks,
                               (t, i) -> struct_pack(w := t, p := i))) AS s
                    FROM d))
            SELECT a.w AS center, b.w AS context,
                   CAST(count(*) AS BIGINT) AS n_cooc
            FROM tok a JOIN tok b
              ON a.doc_id = b.doc_id
             AND b.p >= a.p - 2 AND b.p <= a.p + 2 AND b.p <> a.p
            GROUP BY 1, 2 HAVING count(*) >= 5
        """,
        # same collapse-to-distinct-x + strict-prefix running-min
        # dominance test; frontier ties kept on both engines.
        "skyline": """
            WITH base AS (
              SELECT p_brand, p_partkey, p_size, p_retailprice,
                     CAST(p_retailprice AS DOUBLE) AS sx,
                     CAST(p_size AS DOUBLE) AS sy
              FROM part),
            perx AS (SELECT p_brand, sx, MIN(sy) AS myx
                     FROM base GROUP BY 1, 2),
            pre AS (
              SELECT p_brand, sx, myx,
                     MIN(myx) OVER (PARTITION BY p_brand ORDER BY sx
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS m
              FROM perx)
            SELECT b.p_brand, b.p_partkey, b.p_size, b.p_retailprice
            FROM base b JOIN pre
              ON b.p_brand = pre.p_brand AND b.sx = pre.sx
            WHERE (pre.m IS NULL OR pre.m > b.sy) AND pre.myx >= b.sy
        """,
        # scaled-BIGINT centroid means (ivf_kmeans discipline) + the
        # established round-6 cosine parity with Spark's ordered fold.
        "centroid_outliers": """
            WITH base AS (
              SELECT vec_id, label,
                     list_transform(embedding, x -> x::DOUBLE) AS v
              FROM embeddings),
            m AS (
              -- per-component micro-unit sums via the indexed lambda
              -- (dim-agnostic; range(len(v)) cannot be a lateral and
              -- range() takes no subquery bound in DuckDB)
              SELECT label, u.j AS j, sum(u.s6) AS s, count(*) AS n
              FROM (SELECT label,
                           unnest(list_transform(v, (x, i) ->
                             struct_pack(j := i - 1,
                                         s6 := CAST(round(x * 1000000)
                                                    AS BIGINT)))) AS u
                    FROM base)
              GROUP BY 1, 2),
            cent AS (
              SELECT label, list(s::DOUBLE / (1000000.0 * n) ORDER BY j)
                         AS cvec
              FROM m GROUP BY label),
            d AS (
              SELECT b.label, b.vec_id,
                     CAST(round((1.0 - CASE WHEN list_inner_product(b.v, b.v) * list_inner_product(c.cvec, c.cvec) > 0 THEN list_cosine_similarity(b.v, c.cvec) ELSE 0.0 END)
                          * 1e6) AS BIGINT) AS d6
              FROM base b JOIN cent c USING (label)),
            r AS (SELECT label, vec_id, d6,
                         row_number() OVER (PARTITION BY label
                                            ORDER BY d6 DESC, vec_id) AS rk
                  FROM d)
            SELECT label, vec_id, CAST(rk AS BIGINT) AS rank,
                   CAST(d6 AS DOUBLE) / 1e6 AS dist
            FROM r WHERE rk <= 5
        """,
        # identical tf·ln(N/df) micro-rounding and rank tiebreaks.
        "keywords_tfidf": f"""
            WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS t FROM documents),
            tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
            dfq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
            nd AS (SELECT count(*) AS n FROM documents),
            s AS (
              SELECT doc_id, t,
                     CAST(round(CAST(tf AS DOUBLE)
                          * ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE))
                          * 1e6) AS BIGINT) AS s6
              FROM tf JOIN dfq USING (t), nd),
            r AS (SELECT doc_id, t, s6,
                         row_number() OVER (PARTITION BY doc_id
                                            ORDER BY s6 DESC, t) AS rk
                  FROM s)
            SELECT doc_id, t AS term, CAST(rk AS BIGINT) AS rank,
                   CAST(s6 AS DOUBLE) / 1e6 AS score
            FROM r WHERE rk <= 3
        """,
        # same 16-bucket IEEE histogram on both sides, Laplace-smoothed
        # shares, nano-rounded (q-p)*ln(q/p) terms summed as BIGINT.
        "psi_drift": """
            WITH refc AS (
              SELECT CAST(LEAST(15, GREATEST(0, CAST(FLOOR(
                         (CAST(l_extendedprice AS DOUBLE) - 0.0) * 16
                         / 110000.0) AS BIGINT))) AS INT) AS b,
                     count(*) AS c
              FROM lineitem
              WHERE l_shipdate < TIMESTAMP '1996-01-01' GROUP BY 1),
            curc AS (
              SELECT CAST(LEAST(15, GREATEST(0, CAST(FLOOR(
                         (CAST(l_extendedprice AS DOUBLE) - 0.0) * 16
                         / 110000.0) AS BIGINT))) AS INT) AS b,
                     count(*) AS c
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01' GROUP BY 1),
            spine AS (SELECT CAST(r.range AS INT) AS b FROM range(16) r),
            j AS (
              SELECT spine.b, COALESCE(refc.c, 0) AS nr,
                     COALESCE(curc.c, 0) AS nc
              FROM spine LEFT JOIN refc ON spine.b = refc.b
                         LEFT JOIN curc ON spine.b = curc.b),
            t AS (SELECT SUM(nr) AS tr, SUM(nc) AS tc FROM j),
            terms AS (
              SELECT tr, tc,
                     CAST(round(
                         ((CAST(nc + 1 AS DOUBLE) / CAST(tc + 16 AS DOUBLE))
                          - (CAST(nr + 1 AS DOUBLE) / CAST(tr + 16 AS DOUBLE)))
                         * ln((CAST(nc + 1 AS DOUBLE) / CAST(tc + 16 AS DOUBLE))
                              / (CAST(nr + 1 AS DOUBLE) / CAST(tr + 16 AS DOUBLE)))
                         * 1e9) AS BIGINT) AS tn
              FROM j, t)
            SELECT CAST(MAX(tr) AS BIGINT) AS n_ref,
                   CAST(MAX(tc) AS BIGINT) AS n_cur,
                   CAST(count(*) AS BIGINT) AS n_buckets,
                   round(CAST(SUM(tn) AS DOUBLE) / 1e9, 6) AS psi
            FROM terms
        """,
        # BFS as a bounded recursive CTE: UNION dedups (node, dist)
        # pairs per level and MIN(dist) collapses to first reach —
        # equivalent to the engine's frontier expansion.
        "bfs_hops": """
            WITH RECURSIVE base AS (
              SELECT a.l_partkey AS pa, b.l_partkey AS pb
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
              GROUP BY 1, 2 HAVING count(*) >= 2),
            edges AS MATERIALIZED (
              SELECT CAST(pa AS BIGINT) AS s, CAST(pb AS BIGINT) AS d
              FROM base
              UNION
              SELECT CAST(pb AS BIGINT), CAST(pa AS BIGINT) FROM base),
            walk AS (
              SELECT (SELECT MIN(s) FROM edges) AS node,
                     CAST(0 AS BIGINT) AS dist
              UNION
              SELECT e.d, w.dist + 1
              FROM walk w JOIN edges e ON e.s = w.node
              WHERE w.dist < 3)
            SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
            FROM walk GROUP BY node
        """,
        # naive per-group hash-ordered prefix under the token budget —
        # the Spark side's bucketed two-phase plan must select exactly
        # this set (hash order refines bucket order).
        "token_budget": f"""
            WITH d AS (
              SELECT source, doc_id,
                     COALESCE(len({_TOKS}), 0) AS nt,
                     {_H32.format(x='CAST(doc_id AS VARCHAR)')} AS h,
                     CASE source WHEN 'src0' THEN 800 WHEN 'src1' THEN 500
                          WHEN 'src2' THEN 5000 WHEN 'src3' THEN 100
                          ELSE 0 END AS bud
              FROM documents),
            c AS (
              SELECT source, doc_id, nt, bud,
                     COALESCE(SUM(nt) OVER (
                         PARTITION BY source ORDER BY h, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS pre
              FROM d WHERE bud > 0)
            SELECT source, doc_id, CAST(nt AS BIGINT) AS n_tokens
            FROM c WHERE pre < bud
        """,
        # set-operation estimates from two sketches: the oracle rebuilds
        # both bottom-k sketches, merges, and applies the same integer
        # estimators — jaccard is the one float (a single IEEE divide).
        "kmv_set_ops": f"""
            WITH sa AS (
              SELECT g, h FROM (
                SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h)
                           AS r
                FROM (SELECT DISTINCT o_orderpriority AS g,
                             {_H32.format(x='CAST(o_custkey AS VARCHAR)')}
                                 AS h
                      FROM orders WHERE o_orderstatus = 'O'))
              WHERE r <= 64),
            sb AS (
              SELECT g, h FROM (
                SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h)
                           AS r
                FROM (SELECT DISTINCT o_orderpriority AS g,
                             {_H32.format(x='CAST(o_custkey AS VARCHAR)')}
                                 AS h
                      FROM orders WHERE o_orderstatus = 'F'))
              WHERE r <= 64),
            u AS (
              SELECT g, h, max(ina) AS ina, max(inb) AS inb
              FROM (SELECT g, h, 1 AS ina, 0 AS inb FROM sa
                    UNION ALL
                    SELECT g, h, 0 AS ina, 1 AS inb FROM sb)
              GROUP BY g, h),
            m AS (SELECT g, h, ina, inb,
                         row_number() OVER (PARTITION BY g ORDER BY h) AS r
                  FROM u),
            agg AS (SELECT g, count(*) AS nk, max(h) AS hk,
                           SUM(ina * inb) AS nboth
                    FROM m WHERE r <= 64 GROUP BY g)
            SELECT g AS o_orderpriority,
                   CAST(nk AS BIGINT) AS n_hashes,
                   CAST(nboth AS BIGINT) AS n_both,
                   CAST(CASE WHEN nk < 64 THEN nk
                        ELSE {63 * (1 << 32)} // hk END AS BIGINT)
                       AS est_union,
                   CAST(nboth * (CASE WHEN nk < 64 THEN nk
                                 ELSE {63 * (1 << 32)} // hk END) // nk
                        AS BIGINT) AS est_intersection,
                   CAST(nboth AS DOUBLE) / CAST(nk AS DOUBLE) AS jaccard
            FROM agg
        """,
        # committed state after tx1 (commit) + tx2 (abort) is exactly
        # the source join — aborted writes must leave no trace.
        "mvcc_multi_tx": """
            SELECT n_nationkey AS nationkey, n_name, r_name
            FROM nation JOIN region ON n_regionkey = r_regionkey
        """,
        # exact count-min replica: same salted md5 cell hashes, same
        # min-over-depth estimate — collision overestimates included.
        "cm_heavy_hitters": f"""
            WITH tok AS (SELECT unnest({_TOKS}) AS t FROM documents),
            tc AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
            tcell AS (
              SELECT t, c, d,
                     {_H32.format(x="'cm' || CAST(d AS VARCHAR) || ':' || t")}
                         % 1024 AS w
              FROM tc, (SELECT unnest([0, 1, 2, 3]) AS d)
            ),
            cells AS (SELECT d, w, SUM(c) AS cnt FROM tcell GROUP BY d, w)
            SELECT tcell.t AS value,
                   CAST(MIN(cells.cnt) AS BIGINT) AS est_count
            FROM tcell JOIN cells ON tcell.d = cells.d AND tcell.w = cells.w
            GROUP BY tcell.t
            HAVING MIN(cells.cnt) >= 500
        """,
        # exact histogram replica: same IEEE bucket arithmetic, same
        # ceil-rank quantile selection.
        "hist_quantiles": """
            WITH h AS (
              SELECT l_returnflag,
                     CAST(LEAST(255, GREATEST(0, CAST(FLOOR(
                         (CAST(l_extendedprice AS DOUBLE) - 0.0) * 256
                         / 110000.0) AS BIGINT))) AS INT) AS b,
                     count(*) AS c
              FROM lineitem
              GROUP BY l_returnflag, b
            ),
            cum AS (
              SELECT l_returnflag, b, c,
                     SUM(c) OVER (PARTITION BY l_returnflag ORDER BY b) AS cm,
                     SUM(c) OVER (PARTITION BY l_returnflag) AS tot
              FROM h
            ),
            qs AS (SELECT unnest(CAST([0.25, 0.5, 0.75, 0.95] AS DOUBLE[])) AS q)
            SELECT cum.l_returnflag, qs.q,
                   round(0.0 + (MIN(cum.b) + 1) * (110000.0 / 256), 6) AS est
            FROM cum, qs
            WHERE cum.cm >= CEIL(qs.q * cum.tot)
            GROUP BY cum.l_returnflag, qs.q
        """,
        # exact bloom replica: same salted md5 positions, same 32-bit
        # word layout — false positives must match too.
        "bloom_prefilter": f"""
            WITH members AS (
              SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS v
              FROM orders WHERE o_orderpriority = '1-URGENT'
            ),
            idx AS (SELECT unnest([0, 1, 2, 3]) AS i),
            mpos AS (
              SELECT {_H32.format(x="'bf' || CAST(i AS VARCHAR) || ':' || v")}
                         % 65536 AS p
              FROM members, idx
            ),
            words AS (
              SELECT p // 32 AS w,
                     bit_or(CAST(2 ** (p % 32) AS BIGINT)) AS bits
              FROM mpos GROUP BY p // 32
            ),
            probes AS (SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS v
                       FROM lineitem),
            ppos AS (
              SELECT v,
                     {_H32.format(x="'bf' || CAST(i AS VARCHAR) || ':' || v")}
                         % 65536 AS p
              FROM probes, idx
            )
            SELECT ppos.v AS value,
                   bool_and(words.bits IS NOT NULL AND
                            (words.bits & CAST(2 ** (p % 32) AS BIGINT))
                                = CAST(2 ** (p % 32) AS BIGINT))
                       AS maybe_present
            FROM ppos LEFT JOIN words ON ppos.p // 32 = words.w
            GROUP BY ppos.v
        """,
        # identical min-cascade as chained CTEs: strict-after ordering,
        # stage k joins the previous frontier.
        "funnel_latency": """
            WITH u0 AS (SELECT user_id, MIN(ts) AS t FROM events
                        WHERE event_type = 'view' GROUP BY 1),
            u1 AS (SELECT e.user_id, MIN(e.ts) AS t, MIN(u0.t) AS tp
                   FROM events e JOIN u0 ON e.user_id = u0.user_id
                   WHERE e.event_type = 'click' AND e.ts > u0.t
                   GROUP BY 1),
            u2 AS (SELECT e.user_id, MIN(e.ts) AS t, MIN(u1.t) AS tp
                   FROM events e JOIN u1 ON e.user_id = u1.user_id
                   WHERE e.event_type = 'purchase' AND e.ts > u1.t
                   GROUP BY 1),
            g AS (SELECT CAST(1 AS INT) AS step, 'view' AS from_type,
                         'click' AS to_type, user_id,
                         epoch_us(t) // 1000000
                         - epoch_us(tp) // 1000000 AS gap
                  FROM u1
                  UNION ALL
                  SELECT 2, 'click', 'purchase', user_id,
                         epoch_us(t) // 1000000 - epoch_us(tp) // 1000000
                  FROM u2),
            r AS (SELECT *, CAST(row_number() OVER (PARTITION BY step
                             ORDER BY gap, user_id) AS BIGINT) AS rn
                  FROM g),
            nn AS (SELECT step, from_type, to_type,
                          CAST(max(rn) AS BIGINT) AS n
                   FROM r GROUP BY 1, 2, 3),
            med AS (SELECT r.step, (MIN(gap) + MAX(gap)) / 2.0
                               AS median_gap_s
                    FROM r JOIN nn ON r.step = nn.step
                    WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
                    GROUP BY 1),
            p90 AS (SELECT r.step,
                           CAST(MIN(gap) AS BIGINT) AS p90_gap_s
                    FROM r JOIN nn ON r.step = nn.step
                    WHERE rn = (9 * n + 9) // 10 GROUP BY 1)
            SELECT nn.step, nn.from_type, nn.to_type, nn.n AS n_users,
                   med.median_gap_s, p90.p90_gap_s
            FROM nn JOIN med ON med.step = nn.step
            JOIN p90 ON p90.step = nn.step
        """,
        "event_funnel": """
            WITH u0 AS (
              SELECT user_id, MIN(ts) AS t FROM events
              WHERE event_type = 'view' GROUP BY user_id
            ),
            u1 AS (
              SELECT e.user_id, MIN(e.ts) AS t
              FROM events e JOIN u0 ON e.user_id = u0.user_id
              WHERE e.event_type = 'click' AND e.ts > u0.t
              GROUP BY e.user_id
            ),
            u2 AS (
              SELECT e.user_id, MIN(e.ts) AS t
              FROM events e JOIN u1 ON e.user_id = u1.user_id
              WHERE e.event_type = 'purchase' AND e.ts > u1.t
              GROUP BY e.user_id
            )
            SELECT CAST(0 AS INT) AS step, 'view' AS event_type,
                   CAST(count(*) AS BIGINT) AS users FROM u0
            UNION ALL
            SELECT 1, 'click', count(*) FROM u1
            UNION ALL
            SELECT 2, 'purchase', count(*) FROM u2
        """,
        # same bounded min-cascade: strict-after AND within 24 h of the
        # previous frontier; greedy first-touch on both engines.
        "event_funnel_windowed": """
            WITH u0 AS (
              SELECT user_id, MIN(ts) AS t FROM events
              WHERE event_type = 'view' GROUP BY user_id
            ),
            u1 AS (
              SELECT e.user_id, MIN(e.ts) AS t
              FROM events e JOIN u0 ON e.user_id = u0.user_id
              WHERE e.event_type = 'click' AND e.ts > u0.t
                AND e.ts <= u0.t + INTERVAL 86400 SECOND
              GROUP BY e.user_id
            ),
            u2 AS (
              SELECT e.user_id, MIN(e.ts) AS t
              FROM events e JOIN u1 ON e.user_id = u1.user_id
              WHERE e.event_type = 'purchase' AND e.ts > u1.t
                AND e.ts <= u1.t + INTERVAL 86400 SECOND
              GROUP BY e.user_id
            )
            SELECT CAST(0 AS INT) AS step, 'view' AS event_type,
                   CAST(count(*) AS BIGINT) AS users FROM u0
            UNION ALL
            SELECT 1, 'click', count(*) FROM u1
            UNION ALL
            SELECT 2, 'purchase', count(*) FROM u2
        """,
        # Monday-truncated weeks; offsets are exact 7-day multiples so
        # the integer division matches Spark's datediff/7.
        "cohort_retention": """
            WITH first AS (
              SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
              FROM events GROUP BY user_id
            ),
            act AS (
              SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
              FROM events
            )
            SELECT CAST(first.cohort AS DATE) AS cohort_week,
                   CAST(date_diff('day', first.cohort, act.wk) // 7 AS INT)
                       AS week_offset,
                   CAST(count(*) AS BIGINT) AS users
            FROM act JOIN first ON act.user_id = first.user_id
            GROUP BY 1, 2
        """,
        # from-scratch aggregate of the equivalent final state; the
        # incrementally-maintained scaled-BIGINT view must equal it.
        "matview_incremental": """
            WITH final AS (
              SELECT c_mktsegment AS grp,
                     CASE WHEN c_custkey % 10 = 0
                          THEN CAST(c_acctbal AS DOUBLE) + 100.0
                          ELSE CAST(c_acctbal AS DOUBLE) END AS val
              FROM customer WHERE c_custkey % 7 <> 0
            )
            SELECT grp,
                   CAST(count(val) AS BIGINT) AS n_rows,
                   CAST(SUM(CAST(round(val * 100) AS BIGINT)) AS DOUBLE)
                       / 100.0 AS sum_value,
                   round(CAST(SUM(CAST(round(val * 100) AS BIGINT)) AS DOUBLE)
                         / 100.0 / count(val), 6) AS avg_value
            FROM final GROUP BY grp
        """,
        # final state of the churned customer ⋈ orders join, aggregated
        # directly — must match the incrementally-maintained state.
        "matview_join": """
            WITH dim AS (
              SELECT c_custkey AS k,
                     CASE WHEN c_custkey % 11 = 0 THEN 'MOVED'
                          ELSE c_mktsegment END AS grp
              FROM customer WHERE c_custkey % 9 <> 0),
            fact AS (
              SELECT o_custkey AS fk,
                     CASE WHEN o_orderkey % 10 = 0
                          THEN CAST(o_totalprice AS DOUBLE) + 50.0
                          ELSE CAST(o_totalprice AS DOUBLE) END AS val
              FROM orders WHERE o_orderkey % 13 <> 0)
            SELECT grp,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CAST(round(val * 100) AS BIGINT)) AS DOUBLE)
                       / 100.0 AS sum_value,
                   round(CAST(SUM(CAST(round(val * 100) AS BIGINT)) AS DOUBLE)
                         / 100.0 / count(*), 6) AS avg_value
            FROM dim JOIN fact ON k = fk GROUP BY grp
        """,
        # Q6 shape: same scaled-long sum of the discount revenue.
        "forecast_revenue": """
            SELECT CAST(SUM(CAST(round(l_extendedprice * l_discount * 10000)
                       AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24.0
        """,
        # Q8 shape: conditional/total exact sums share one joined scan;
        # the share is a double ratio of two exact sums.
        "market_share": """
            WITH c2 AS (
              SELECT c_custkey FROM customer
              JOIN nation ON c_nationkey = n_nationkey
              WHERE n_regionkey = 2
            ),
            sn AS (
              SELECT s_suppkey, n_name AS supp_nation FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
            ),
            base AS (
              SELECT year(o_orderdate) AS o_year,
                     l_extendedprice * (1 - l_discount) AS vol,
                     sn.supp_nation
              FROM lineitem
              JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
              JOIN orders ON l_orderkey = o_orderkey
              JOIN c2 ON o_custkey = c2.c_custkey
              JOIN sn ON l_suppkey = sn.s_suppkey
            )
            SELECT CAST(o_year AS INT) AS o_year,
                   round(
                     (CAST(SUM(CAST(round((CASE WHEN supp_nation = 'NATION_7'
                            THEN vol ELSE 0.0 END) * 10000) AS BIGINT))
                        AS DOUBLE) / 10000.0)
                     / (CAST(SUM(CAST(round(vol * 10000) AS BIGINT))
                        AS DOUBLE) / 10000.0), 6) AS mkt_share
            FROM base GROUP BY o_year
        """,
        # Q15 shape: scalar-subquery max over the per-supplier exact sums.
        "top_supplier": """
            WITH rev AS (
              SELECT l_suppkey,
                     CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)
                           * 10000) AS BIGINT)) AS DOUBLE) / 10000.0
                       AS total_rev
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                AND l_shipdate < TIMESTAMP '1997-04-01'
              GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, total_rev
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_rev = (SELECT max(total_rev) FROM rev)
        """,
        # generated hour grid x type dim, LOCF via IGNORE NULLS window —
        # identical frame semantics on both engines.
        "gapfill_locf": """
            WITH ev AS (
              SELECT * FROM events
              WHERE ts >= TIMESTAMP '2024-01-03'
                AND ts < TIMESTAMP '2024-01-04'
            ),
            hourly AS (
              SELECT date_trunc('hour', ts) AS hour_ts, event_type,
                     CAST(count(*) AS BIGINT) AS n_events,
                     CAST(SUM(CAST(round(value * 100) AS BIGINT))
                          AS DOUBLE) / 100.0 AS sum_value
              FROM ev GROUP BY 1, 2
            ),
            hours AS (
              SELECT TIMESTAMP '2024-01-03 00:00:00'
                     + h * INTERVAL 1 HOUR AS hour_ts
              FROM range(24) t(h)
            ),
            grid AS (
              SELECT hour_ts, event_type
              FROM hours CROSS JOIN (SELECT DISTINCT event_type FROM ev)
            )
            SELECT g.hour_ts, g.event_type,
                   CAST(COALESCE(h.n_events, 0) AS BIGINT) AS n_events,
                   LAST_VALUE(h.sum_value IGNORE NULLS) OVER (
                     PARTITION BY g.event_type ORDER BY g.hour_ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS locf_sum_value,
                   h.sum_value IS NULL AS is_gap
            FROM grid g LEFT JOIN hourly h
              ON g.hour_ts = h.hour_ts AND g.event_type = h.event_type
        """,
        # dictionary self-join with the same length-band prefilter.
        "fuzzy_join": """
            WITH names AS (
              SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts
              FROM part GROUP BY p_name
            )
            SELECT a.p_name AS name_a, b.p_name AS name_b,
                   CAST(levenshtein(a.p_name, b.p_name) AS INT)
                     AS edit_dist,
                   a.n_parts AS n_a, b.n_parts AS n_b
            FROM names a JOIN names b ON a.p_name < b.p_name
            WHERE abs(length(a.p_name) - length(b.p_name)) <= 4
              AND levenshtein(a.p_name, b.p_name) <= 4
        """,
        # per-column profile rows; numeric min/max render via
        # DECIMAL(18,2) so string forms agree.
        "profile_table": """
            SELECT 'o_orderkey' AS col_name,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_nulls,
                   CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
                   CAST(min(o_orderkey) AS VARCHAR) AS min_val,
                   CAST(max(o_orderkey) AS VARCHAR) AS max_val
            FROM orders
            UNION ALL
            SELECT 'o_custkey', CAST(count(*) AS BIGINT),
                   CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   CAST(count(DISTINCT o_custkey) AS BIGINT),
                   CAST(min(o_custkey) AS VARCHAR),
                   CAST(max(o_custkey) AS VARCHAR)
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
                   CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   CAST(count(DISTINCT o_orderstatus) AS BIGINT),
                   CAST(min(o_orderstatus) AS VARCHAR),
                   CAST(max(o_orderstatus) AS VARCHAR)
            FROM orders
            UNION ALL
            SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
                   CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0
                        END) AS BIGINT),
                   CAST(count(DISTINCT o_orderpriority) AS BIGINT),
                   CAST(min(o_orderpriority) AS VARCHAR),
                   CAST(max(o_orderpriority) AS VARCHAR)
            FROM orders
            UNION ALL
            SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
                   CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   CAST(count(DISTINCT o_totalprice) AS BIGINT),
                   CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
                   CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
            FROM orders
        """,
        # order-keyed pair enumeration; total ordering makes the LIMIT
        # boundary deterministic.
        "assoc_rules": """
            WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                        FROM lineitem),
            nb AS (SELECT count(DISTINCT b) AS n FROM bi),
            ic AS (SELECT i, CAST(count(*) AS BIGINT) AS c
                   FROM bi GROUP BY i),
            pr AS (
              SELECT a.i AS ia, bb.i AS ib, CAST(count(*) AS BIGINT) AS pc
              FROM bi a JOIN bi bb ON a.b = bb.b AND a.i < bb.i
              GROUP BY 1, 2 HAVING count(*) >= 2),
            bothdir AS (
              SELECT ia AS antecedent, ib AS consequent, pc FROM pr
              UNION ALL
              SELECT ib, ia, pc FROM pr)
            SELECT antecedent, consequent, pc AS pair_count,
                   ca.c AS antecedent_count, cb.c AS consequent_count,
                   round(pc::DOUBLE / nb.n, 6) AS support,
                   round(pc::DOUBLE / ca.c, 6) AS confidence,
                   round((pc::DOUBLE / ca.c) / (cb.c::DOUBLE / nb.n), 6)
                       AS lift
            FROM bothdir
            JOIN ic ca ON ca.i = antecedent
            JOIN ic cb ON cb.i = consequent
            CROSS JOIN nb
            ORDER BY lift DESC, antecedent, consequent LIMIT 50
        """,
        "copurchase_pairs": """
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   CAST(count(*) AS BIGINT) AS n_orders
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            ORDER BY n_orders DESC, part_a, part_b
            LIMIT 20
        """,
        # oriented (a<b) support->=2 edges; wedges closed against the
        # same edge set — each triangle counted exactly once.
        "communities": _lpa_oracle(),
        "kcore": _kcore_oracle(k=2),
        "weighted_paths": _bford_oracle(),
        "ppr": _pagerank_oracle(source=0),
        "dbscan": _dbscan_oracle(),
        "bootstrap": """
            -- raw 32-bit hash vs CDF thresholds in 2^32 units
            -- (poisson_cdf_u32; no % 1e9 remap = no modulo bias)
            WITH h AS (
              SELECT doc_id,
                     ('0x' || substr(md5('boot'
                          || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS u
              FROM documents),
            c AS (
              SELECT doc_id,
                     CAST((CASE WHEN u >= 1580030169 THEN 1 ELSE 0 END)
                   + (CASE WHEN u >= 3160060337 THEN 1 ELSE 0 END)
                   + (CASE WHEN u >= 3950075422 THEN 1 ELSE 0 END)
                   + (CASE WHEN u >= 4213413783 THEN 1 ELSE 0 END)
                   + (CASE WHEN u >= 4279248374 THEN 1 ELSE 0 END)
                   + (CASE WHEN u >= 4292415292 THEN 1 ELSE 0 END)
                   + (CASE WHEN u >= 4294609778 THEN 1 ELSE 0 END)
                   + (CASE WHEN u >= 4294923276 THEN 1 ELSE 0 END) AS BIGINT) AS n_copies
              FROM h)
            SELECT doc_id, n_copies FROM c WHERE n_copies > 0
        """,
        "rolling_corr": """
            WITH h AS (
              SELECT date_trunc('hour', ts) AS hour_ts,
                     CAST(sum(CASE WHEN event_type = 'click'
                              THEN CAST(round(value * 100) AS BIGINT)
                              ELSE 0 END) AS DOUBLE) / 100.0 AS x,
                     CAST(sum(CASE WHEN event_type = 'purchase'
                              THEN CAST(round(value * 100) AS BIGINT)
                              ELSE 0 END) AS DOUBLE) / 100.0 AS y
              FROM events WHERE event_type IN ('click', 'purchase')
              GROUP BY 1),
            c AS (SELECT hour_ts,
                         CAST(round(x * 100) AS BIGINT) AS xs,
                         CAST(round(y * 100) AS BIGINT) AS ys
                  FROM h),
            s AS (SELECT hour_ts,
                         CAST(count(*) OVER w AS BIGINT) AS nw,
                         CAST(count(*) OVER w AS DOUBLE) AS n,
                         CAST(sum(xs) OVER w AS DOUBLE) AS sx,
                         CAST(sum(ys) OVER w AS DOUBLE) AS sy,
                         CAST(sum(xs * xs) OVER w AS DOUBLE) AS sxx,
                         CAST(sum(ys * ys) OVER w AS DOUBLE) AS syy,
                         CAST(sum(xs * ys) OVER w AS DOUBLE) AS sxy
                  FROM c
                  WINDOW w AS (ORDER BY hour_ts
                               ROWS BETWEEN 23 PRECEDING
                                    AND CURRENT ROW))
            SELECT hour_ts, nw AS n_window,
                   CASE WHEN (n * sxx - sx * sx) > 0
                         AND (n * syy - sy * sy) > 0
                        THEN round((n * sxy - sx * sy)
                                   / sqrt((n * sxx - sx * sx)
                                          * (n * syy - sy * sy)), 6)
                   END AS corr
            FROM s
        """,
        "holt_backtest": """
            WITH RECURSIVE m AS (
              SELECT o_orderpriority AS k,
                     date_trunc('month', o_orderdate) AS mth,
                     CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                          AS DOUBLE) / 100.0 AS v
              FROM orders GROUP BY 1, 2),
            pos AS (SELECT k,
                           CAST(row_number() OVER (PARTITION BY k
                                ORDER BY mth) AS BIGINT) AS i, v
                    FROM m),
            cnt AS (SELECT k, CAST(count(*) AS BIGINT) AS n
                    FROM pos GROUP BY k),
            r AS (
              SELECT a.k, CAST(2 AS BIGINT) AS i,
                     b.v AS l, b.v - a.v AS t
              FROM pos a JOIN pos b ON a.k = b.k AND b.i = 2
              WHERE a.i = 1
              UNION ALL
              SELECT r.k, r.i + 1,
                     0.5 * p.v + 0.5 * (r.l + r.t),
                     0.5 * ((0.5 * p.v + 0.5 * (r.l + r.t)) - r.l)
                     + 0.5 * r.t
              FROM r JOIN pos p ON p.k = r.k AND p.i = r.i + 1
              JOIN cnt ON cnt.k = r.k AND p.i <= cnt.n - 3),
            f AS (SELECT r.k, cnt.n, r.l, r.t
                  FROM r JOIN cnt ON cnt.k = r.k AND r.i = cnt.n - 3
                  WHERE cnt.n >= 5),
            e AS (SELECT f.k, f.n, f.l, f.t,
                         abs(f.l + 1 * f.t - p1.v)
                         + abs(f.l + 2 * f.t - p2.v)
                         + abs(f.l + 3 * f.t - p3.v) AS eh,
                         abs(tr.v - p1.v) + abs(tr.v - p2.v)
                         + abs(tr.v - p3.v) AS en
                  FROM f
                  JOIN pos tr ON tr.k = f.k AND tr.i = f.n - 3
                  JOIN pos p1 ON p1.k = f.k AND p1.i = f.n - 2
                  JOIN pos p2 ON p2.k = f.k AND p2.i = f.n - 1
                  JOIN pos p3 ON p3.k = f.k AND p3.i = f.n)
            SELECT k AS o_orderpriority, n AS n_points,
                   round(l, 6) AS level, round(t, 6) AS trend,
                   round(eh / CAST(3 AS DOUBLE), 6) AS mae_holt,
                   round(en / CAST(3 AS DOUBLE), 6) AS mae_naive,
                   CASE WHEN en > 0 THEN round(eh / en, 6) END AS skill
            FROM e
        """,
        "top_paths": """
            WITH r AS (
              SELECT user_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS rn
              FROM events QUALIFY rn <= 3),
            p AS (SELECT user_id,
                         string_agg(event_type, ' > ' ORDER BY rn)
                             AS path
                  FROM r GROUP BY user_id)
            SELECT path, CAST(count(*) AS BIGINT) AS n_users
            FROM p GROUP BY path
            ORDER BY n_users DESC, path LIMIT 20
        """,
        "conversion_ci": """
            WITH pu AS (
              SELECT user_id,
                     max(CASE WHEN event_type = 'purchase'
                              AND value > 400
                              THEN 1 ELSE 0 END) AS conv,
                     CASE WHEN ('0x' || substr(md5('ab'
                              || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                              % 2 = 0
                          THEN 'A' ELSE 'B' END AS arm
              FROM events GROUP BY user_id),
            arms AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
                            CAST(sum(conv) AS BIGINT) AS n_conv
                     FROM pu GROUP BY arm)
            SELECT arm, n_users, n_conv,
                   round(CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE), 6) AS rate,
                   round((((CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)) + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (2 * CAST(n_users AS DOUBLE))) - CAST(1.96 AS DOUBLE) * sqrt(((CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)) * (1 - (CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE))) + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (4 * CAST(n_users AS DOUBLE))) / CAST(n_users AS DOUBLE))) / (1 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / CAST(n_users AS DOUBLE)), 6) + CAST(0 AS DOUBLE) AS ci_lo,
                   round((((CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)) + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (2 * CAST(n_users AS DOUBLE))) + CAST(1.96 AS DOUBLE) * sqrt(((CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)) * (1 - (CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE))) + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (4 * CAST(n_users AS DOUBLE))) / CAST(n_users AS DOUBLE))) / (1 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / CAST(n_users AS DOUBLE)), 6) + CAST(0 AS DOUBLE) AS ci_hi
            FROM arms
        """,
        "skew_profile": """
            WITH c AS (SELECT l_suppkey,
                              CAST(count(*) AS BIGINT) AS n_rows
                       FROM lineitem GROUP BY 1),
            t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total,
                         CAST(count(*) AS BIGINT) AS nkeys FROM c),
            r AS (SELECT c.*, t.total, t.nkeys FROM c CROSS JOIN t
                  ORDER BY n_rows DESC, l_suppkey LIMIT 10)
            SELECT l_suppkey, n_rows,
                   round(CAST(n_rows AS DOUBLE)
                         / CAST(total AS DOUBLE), 6) AS share,
                   round(CAST(n_rows AS DOUBLE)
                         / (CAST(total AS DOUBLE)
                            / CAST(nkeys AS DOUBLE)), 6)
                       AS avg_multiplier
            FROM r
        """,
        "benford": """
            WITH v AS (
              SELECT CAST(substr(CAST(CAST(floor(abs(o_totalprice))
                         AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
              FROM orders WHERE abs(o_totalprice) >= 1),
            c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
                  FROM v GROUP BY 1),
            d AS (SELECT * FROM (VALUES (1, 301029996),(2, 176091259),(3, 124938737),(4, 96910013),(5, 79181246),(6, 66946790),(7, 57991947),(8, 51152522),(9, 45757491)) t(digit, ppb)),
            j AS (SELECT d.digit, d.ppb,
                         CAST(coalesce(c.n_obs, 0) AS BIGINT) AS n_obs
                  FROM d LEFT JOIN c USING (digit)),
            n AS (SELECT CAST(sum(n_obs) AS DOUBLE) AS nn FROM j),
            t AS (SELECT digit, n_obs, nn,
                         (CAST(n_obs AS DOUBLE)
                          - nn * (CAST(ppb AS DOUBLE) / 1e9))
                         * (CAST(n_obs AS DOUBLE)
                            - nn * (CAST(ppb AS DOUBLE) / 1e9))
                         / (nn * (CAST(ppb AS DOUBLE) / 1e9)) AS term,
                         CAST(ppb AS DOUBLE) / 1e9 AS exps
                  FROM j CROSS JOIN n)
            SELECT digit, n_obs,
                   round(CAST(n_obs AS DOUBLE) / nn, 6) AS share,
                   round(exps, 6) AS expected_share,
                   round(term, 6) AS chi2_term,
                   round(CAST(sum(CAST(round(term * 1e9) AS BIGINT))
                         OVER () AS DOUBLE) / 1e9, 6) AS chi2
            FROM t
        """,
        "entity_resolution": """
            WITH RECURSIVE names AS (
              SELECT p_name, min(p_partkey) AS nid FROM part GROUP BY 1),
            e AS (SELECT a.nid AS id_a, b.nid AS id_b
                  FROM names a JOIN names b ON a.nid < b.nid
                  WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
                    AND levenshtein(a.p_name, b.p_name) <= 2),
            edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM e
                      UNION SELECT id_b, id_a FROM e),
            reach(src, dst) AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e2.dst FROM reach r
              JOIN edges e2 ON r.dst = e2.src),
            cl AS (SELECT src AS nid, least(src, MIN(dst)) AS cid
                   FROM reach GROUP BY src)
            SELECT p.p_partkey, coalesce(cl.cid, n.nid) AS entity_id
            FROM part p JOIN names n ON p.p_name = n.p_name
            LEFT JOIN cl ON cl.nid = n.nid
        """,
        "linreg": _linreg_oracle(),
        "lsh_probe": _lsh_probe_oracle(),
        "kcenter": _kcenter_oracle(),
        # the batched frontier must reproduce the SAME m=1 traversal —
        # one oracle text, two engine code paths
        "kcenter_batched": _kcenter_oracle(7),
        # both ranker oracles composed, then the identical nano-BIGINT
        # fusion sum; every reciprocal computed in DOUBLE (DuckDB
        # decimal literals would otherwise pull the division into
        # DECIMAL arithmetic and off the shared IEEE path).
        "hybrid_rrf": f"""
            WITH base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            stats AS (SELECT CAST(count(*) AS BIGINT) AS N,
                             CAST(sum(len(toks)) AS BIGINT) AS len_total
                      FROM base),
            dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
            post AS (SELECT doc_id, tk, count(*) AS tf
                     FROM (SELECT doc_id, unnest(toks) AS tk FROM base)
                     WHERE tk IN ('spark', 'merge', 'window')
                     GROUP BY doc_id, tk),
            dfreq AS (SELECT tk, count(DISTINCT doc_id) AS df
                      FROM post GROUP BY tk),
            lscored AS (
              SELECT post.doc_id AS doc_id,
                     SUM(CAST(round(
                         (ln(1.0 + (N - df + 0.5) / (df + 0.5))
                          * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75
                              * (CAST(dl AS DOUBLE)
                                 / (CAST(len_total AS DOUBLE) / N))))))
                         * 1000000) AS BIGINT)) AS s6
              FROM post JOIN dfreq USING (tk) JOIN dl USING (doc_id)
              CROSS JOIN stats
              GROUP BY post.doc_id),
            lex AS (SELECT doc_id,
                           CAST(row_number() OVER (ORDER BY s6 DESC, doc_id)
                                AS BIGINT) AS rank
                    FROM lscored QUALIFY rank <= 20),
            q0 AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
            vs AS (SELECT e.vec_id AS doc_id,
                          (CASE WHEN list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) * list_inner_product(q0.embedding::DOUBLE[], q0.embedding::DOUBLE[]) > 0 THEN round(list_cosine_similarity(e.embedding::DOUBLE[], q0.embedding::DOUBLE[]), 6) ELSE 0.0 END) AS sim
                   FROM embeddings e CROSS JOIN q0),
            vec AS (SELECT doc_id,
                           CAST(row_number() OVER (ORDER BY sim DESC, doc_id)
                                AS BIGINT) AS rank
                    FROM vs QUALIFY rank <= 20),
            u AS (SELECT doc_id,
                         CAST(round(CAST(1000000000.0 AS DOUBLE)
                              / (CAST(60.0 AS DOUBLE)
                                 + CAST(rank AS DOUBLE))) AS BIGINT) AS t
                  FROM lex
                  UNION ALL
                  SELECT doc_id,
                         CAST(round(CAST(1000000000.0 AS DOUBLE)
                              / (CAST(60.0 AS DOUBLE)
                                 + CAST(rank AS DOUBLE))) AS BIGINT)
                  FROM vec),
            s AS (SELECT doc_id, sum(t) AS sc,
                         CAST(count(*) AS BIGINT) AS n_lists
                  FROM u GROUP BY 1)
            SELECT doc_id, n_lists,
                   round(CAST(sc AS DOUBLE) / 1000000000.0, 6) AS rrf_score,
                   CAST(row_number() OVER (ORDER BY sc DESC, doc_id)
                        AS BIGINT) AS fused_rank
            FROM s
        """,
        "survival": """
            WITH RECURSIVE pu AS (
              SELECT user_id, min(ts) AS f, max(ts) AS l
              FROM events GROUP BY 1),
            h AS (SELECT max(l) AS hz FROM pu),
            subj AS (SELECT (epoch_us(l) // 1000000
                             - epoch_us(f) // 1000000) // 3600 AS dur,
                            CASE WHEN l < hz - INTERVAL 24 HOUR
                                 THEN 1 ELSE 0 END AS ev
                     FROM pu CROSS JOIN h),
            per_t AS (SELECT dur AS t, CAST(sum(ev) AS BIGINT) AS d,
                             CAST(count(*) AS BIGINT) AS c
                      FROM subj GROUP BY 1),
            km AS (SELECT t, d,
                          CAST(sum(c) OVER (ORDER BY t DESC
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n
                   FROM per_t QUALIFY d > 0),
            pos AS (SELECT t, d, n,
                           CAST(row_number() OVER (ORDER BY t) AS BIGINT)
                               AS i
                    FROM km),
            r AS (SELECT t, d, n, i,
                         1.0 * (1 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE))
                             AS s
                  FROM pos WHERE i = 1
                  UNION ALL
                  SELECT p.t, p.d, p.n, p.i,
                         r.s * (1 - CAST(p.d AS DOUBLE)
                                    / CAST(p.n AS DOUBLE))
                  FROM r JOIN pos p ON p.i = r.i + 1)
            SELECT t AS duration, n AS n_risk, d AS n_events,
                   round(s, 6) AS survival
            FROM r
        """,
        "ab_test": """
            WITH pu AS (
              SELECT user_id,
                     max(CASE WHEN event_type = 'purchase'
                              AND value > 400
                              THEN 1 ELSE 0 END) AS conv,
                     CASE WHEN ('0x' || substr(md5('ab'
                              || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                              % 2 = 0
                          THEN 'A' ELSE 'B' END AS arm
              FROM events GROUP BY user_id),
            arms AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
                            CAST(sum(conv) AS BIGINT) AS c
                     FROM pu GROUP BY arm),
            one AS (SELECT
                      max(CASE WHEN arm = 'A' THEN n END) AS n_a,
                      max(CASE WHEN arm = 'A' THEN c END) AS conv_a,
                      max(CASE WHEN arm = 'B' THEN n END) AS n_b,
                      max(CASE WHEN arm = 'B' THEN c END) AS conv_b
                    FROM arms),
            v AS (SELECT n_a, conv_a, n_b, conv_b,
                         CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                             AS pa,
                         CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                             AS pb,
                         (CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
                         / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                             AS pool,
                         (1 / CAST(n_a AS DOUBLE)
                          + 1 / CAST(n_b AS DOUBLE)) AS hmean
                  FROM one)
            SELECT n_a, conv_a, round(pa, 6) AS rate_a,
                   n_b, conv_b, round(pb, 6) AS rate_b,
                   CASE WHEN pool * (1 - pool) * hmean > 0
                        THEN round((pa - pb)
                                   / sqrt(pool * (1 - pool) * hmean), 6)
                   END AS z,
                   CASE WHEN pool * (1 - pool) * hmean > 0
                        THEN abs(round((pa - pb)
                                 / sqrt(pool * (1 - pool) * hmean), 6))
                             > 1.96
                   END AS significant
            FROM v
        """,
        "transitions": """
            WITH pairs AS (
              SELECT lag(event_type) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS from_type,
                     event_type AS to_type
              FROM events),
            c AS (SELECT from_type, to_type,
                         CAST(count(*) AS BIGINT) AS n_transitions
                  FROM pairs WHERE from_type IS NOT NULL
                  GROUP BY 1, 2)
            SELECT from_type, to_type, n_transitions,
                   round(CAST(n_transitions AS DOUBLE)
                         / sum(n_transitions) OVER (PARTITION BY from_type),
                         6) AS p
            FROM c
        """,
        # the same strictly-before IGNORE NULLS window, id-tiebroken.
        "attribution": """
            WITH t AS (
              SELECT event_type, value,
                     last_value(CASE WHEN event_type IN ('view', 'click')
                                     THEN event_type END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS touch_type
              FROM events)
            SELECT touch_type,
                   CAST(count(*) AS BIGINT) AS n_conversions,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        AS DOUBLE) / 100.0 AS attributed_value
            FROM t WHERE event_type = 'purchase'
            GROUP BY 1
        """,
        # integer-cent cumsum minus running min == the reset-at-zero
        # CUSUM recursion; all-window, bit-exact on both engines.
        "cusum": """
            WITH hv AS (
              SELECT event_type AS k, date_trunc('hour', ts) AS h,
                     sum(CAST(round(value * 100) AS BIGINT)) AS cents
              FROM events GROUP BY 1, 2),
            tgt AS (SELECT k, sum(cents) // count(*) AS t0
                    FROM hv GROUP BY k),
            d AS (SELECT hv.k, hv.h, hv.cents,
                         sum(hv.cents - t0) OVER (PARTITION BY hv.k
                             ORDER BY hv.h ROWS UNBOUNDED PRECEDING) AS csp,
                         sum(t0 - hv.cents) OVER (PARTITION BY hv.k
                             ORDER BY hv.h ROWS UNBOUNDED PRECEDING) AS csn
                  FROM hv JOIN tgt ON hv.k = tgt.k),
            s AS (SELECT k, h, cents,
                         csp - least(min(csp) OVER (PARTITION BY k
                             ORDER BY h ROWS UNBOUNDED PRECEDING), 0) AS sp,
                         csn - least(min(csn) OVER (PARTITION BY k
                             ORDER BY h ROWS UNBOUNDED PRECEDING), 0) AS sn
                  FROM d)
            SELECT k AS event_type, h AS hour_ts,
                   round(CAST(cents AS DOUBLE) / 100.0, 6) AS value,
                   round(CAST(sp AS DOUBLE) / 100, 6) AS s_pos,
                   round(CAST(sn AS DOUBLE) / 100, 6) AS s_neg,
                   sp > 300000 AS alarm_pos,
                   sn > 300000 AS alarm_neg
            FROM s
            WHERE sp > 300000 OR sn > 300000
        """,
        # the recursion stepped as a recursive CTE (one row per (key,
        # step)) with the IDENTICAL op sequence as the engine's in-row
        # fold; dyadic 0.5 literals are exact under DECIMAL->DOUBLE.
        # NOT list_reduce: DuckDB's list_reduce evaluates later struct
        # fields of the lambda against a STALE accumulator, silently
        # corrupting coupled-state folds.
        "holt_forecast": """
            WITH RECURSIVE m AS (
              SELECT o_orderpriority AS k,
                     date_trunc('month', o_orderdate) AS mth,
                     CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                          AS DOUBLE) / 100.0 AS v
              FROM orders GROUP BY 1, 2),
            pos AS (SELECT k,
                           CAST(row_number() OVER (PARTITION BY k
                                ORDER BY mth) AS BIGINT) AS i, v
                    FROM m),
            cnt AS (SELECT k, CAST(count(*) AS BIGINT) AS n
                    FROM pos GROUP BY k),
            r AS (
              SELECT a.k, CAST(2 AS BIGINT) AS i,
                     b.v AS l, b.v - a.v AS t
              FROM pos a JOIN pos b ON a.k = b.k AND b.i = 2
              WHERE a.i = 1
              UNION ALL
              SELECT r.k, r.i + 1,
                     0.5 * p.v + 0.5 * (r.l + r.t),
                     0.5 * ((0.5 * p.v + 0.5 * (r.l + r.t)) - r.l)
                     + 0.5 * r.t
              FROM r JOIN pos p ON p.k = r.k AND p.i = r.i + 1)
            SELECT r.k AS o_orderpriority, cnt.n AS n_points,
                   round(r.l, 6) AS level, round(r.t, 6) AS trend,
                   round(r.l + 3 * r.t, 6) AS forecast
            FROM r JOIN cnt ON cnt.k = r.k AND r.i = cnt.n
            WHERE cnt.n >= 2
        """,
        "triangle_count": """
            WITH edges AS MATERIALIZED (
              SELECT a.l_partkey AS pa, b.l_partkey AS pb
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
              GROUP BY 1, 2
              HAVING count(*) >= 2
            )
            SELECT CAST(count(*) AS BIGINT) AS n_triangles
            FROM edges e1
            JOIN edges e2 ON e1.pb = e2.pa
            JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
        """,
        # both engines interpolate lower + frac*(upper-lower) at rank
        # (n-1)*p over the sorted group.
        "exact_percentiles": """
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
                   round(quantile_cont(l_extendedprice, 0.5), 4) AS median,
                   round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
            FROM lineitem GROUP BY l_returnflag
        """,
        # identical integer moments -> identical double corr; n*s
        # products cast to double BEFORE multiplying (long would
        # overflow at n*sqp scale).
        "price_qty_corr": """
            WITH m AS (
              SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                     SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS sq,
                     SUM(CAST(round(l_extendedprice * 10) AS BIGINT)) AS sp,
                     SUM(CAST(round(l_quantity * 100) AS BIGINT)
                         * CAST(round(l_quantity * 100) AS BIGINT)) AS sqq,
                     SUM(CAST(round(l_extendedprice * 10) AS BIGINT)
                         * CAST(round(l_extendedprice * 10) AS BIGINT)) AS spp,
                     SUM(CAST(round(l_quantity * 100) AS BIGINT)
                         * CAST(round(l_extendedprice * 10) AS BIGINT)) AS sqp
              FROM lineitem GROUP BY l_returnflag
            )
            SELECT l_returnflag, n,
                   -- greatest(.,0) clamps float -ulp radicands (DuckDB
                   -- sqrt(negative) ERRORS); a zero denominator then
                   -- yields x/0 = NULL, matching the engine's guard
                   round(
                     (CAST(n AS DOUBLE) * sqp - CAST(sq AS DOUBLE) * sp)
                     / (sqrt(greatest(CAST(n AS DOUBLE) * sqq
                             - CAST(sq AS DOUBLE) * sq, 0))
                        * sqrt(greatest(CAST(n AS DOUBLE) * spp
                               - CAST(sp AS DOUBLE) * sp, 0))), 6)
                     AS qty_price_corr
            FROM m
""",
        # integer-microsecond RANGE frame: equal bound arithmetic and
        # identical peer handling on both engines.
        "range_frame_agg": """
            SELECT event_id, event_type, ts,
                   CAST(count(*) OVER w AS BIGINT) AS n_trailing_1h,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w
                        AS DOUBLE) / 100.0 AS sum_value_1h
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-05'
              AND ts < TIMESTAMP '2024-01-06'
            WINDOW w AS (
              PARTITION BY event_type ORDER BY epoch_us(ts)
              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        """,
        # per-edge left join against distinct parent keys; orphan =
        # unmatched parent key.
        "fk_integrity": """
            WITH e1 AS (
              SELECT 'lineitem->orders' AS relation,
                     CAST(count(*) AS BIGINT) AS n_rows,
                     CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0
                          END) AS BIGINT) AS n_orphans
              FROM lineitem l LEFT JOIN (
                SELECT DISTINCT o_orderkey FROM orders) o
                ON l.l_orderkey = o.o_orderkey
            ),
            e2 AS (
              SELECT 'orders->customer',
                     CAST(count(*) AS BIGINT),
                     CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0
                          END) AS BIGINT)
              FROM orders o LEFT JOIN (
                SELECT DISTINCT c_custkey FROM customer) c
                ON o.o_custkey = c.c_custkey
            ),
            e3 AS (
              SELECT 'customer->nation',
                     CAST(count(*) AS BIGINT),
                     CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0
                          END) AS BIGINT)
              FROM customer c LEFT JOIN (
                SELECT DISTINCT n_nationkey FROM nation) n
                ON c.c_nationkey = n.n_nationkey
            )
            SELECT * FROM e1 UNION ALL SELECT * FROM e2
            UNION ALL SELECT * FROM e3
        """,
        # same distribution window functions over the same total order.
        "rank_funcs": """
            SELECT o_orderkey, o_custkey,
                   CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                   round(percent_rank() OVER w, 6) AS pct_rank,
                   round(cume_dist() OVER w, 6) AS cume
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey)
        """,
        # weekday()+1 on the Spark side == isodow here; week() is ISO
        # week in both engines.
        "datetime_funcs": """
            SELECT o_orderkey,
                   CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
                   CAST(week(o_orderdate) AS BIGINT) AS iso_week,
                   CAST(isodow(o_orderdate) AS BIGINT) AS isodow,
                   CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
                   CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH
                        AS TIMESTAMP) AS plus_quarter,
                   CAST(date_diff('day', DATE '1995-01-01', o_orderdate)
                        AS BIGINT) AS days_since_epoch0
            FROM orders
        """,
        # ASCII-only inputs: every function shares byte semantics.
        "string_funcs": """
            SELECT c_custkey,
                   lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS padded,
                   translate(c_mktsegment, 'AEIOU', 'aeiou') AS translated,
                   split_part(c_name, '#', 2) AS cust_num,
                   CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos,
                   reverse(c_mktsegment) AS rev_seg,
                   repeat(substring(c_mktsegment, 1, 1), 3) AS seg3,
                   concat_ws('-', c_mktsegment,
                             CAST(c_nationkey AS VARCHAR)) AS seg_nation
            FROM customer
        """,
        # regex-guarded integer extraction — semantics pinned to match
        # the engine exactly on dirty inputs (quoted/float/huge/invalid):
        # json_valid guards malformed props (DuckDB json_extract errors
        # on invalid JSON where Spark returns NULL), the full-match
        # regex replaces engine-specific string->int cast rules.
        "json_agg": """
            WITH parsed AS (
              SELECT CASE WHEN json_valid(props) THEN
                       CASE WHEN regexp_full_match(
                                coalesce(json_extract_string(props, '$.k'),
                                         ''),
                                '-?[0-9]{1,18}')
                            THEN CAST(json_extract_string(props, '$.k')
                                      AS BIGINT) END
                     END AS k
              FROM events
            )
            SELECT k % 10 AS k_bucket,
                   CAST(count(*) AS BIGINT) AS n,
                   -- bounded lanes (r11 canonical form, proven green as
                   -- json_agg_lanes in r10): |lane sum| <= 1e9 * n <<
                   -- 2^63, so the post-SUM BIGINT cast is always in
                   -- range and no wide-integer or DECIMAL representation
                   -- exists anywhere in the plan or the output schema
                   CAST(SUM(k // 1000000000) AS BIGINT) AS sum_hi,
                   CAST(SUM(k % 1000000000) AS BIGINT) AS sum_lo
            FROM parsed GROUP BY 1
        """,
        # the oracle is the PLAIN join: salting must be invisible.
        "salted_join_agg": """
            WITH dim AS (
              SELECT DISTINCT l_returnflag AS flag,
                     'FLAG_' || l_returnflag AS flag_label
              FROM lineitem
            )
            SELECT flag_label, CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                        AS DOUBLE) / 100.0 AS total_price
            FROM lineitem JOIN dim ON l_returnflag = dim.flag
            GROUP BY flag_label
        """,
        # unique mode via (count desc, value asc) row_number tie-break.
        "mode_by_group": """
            WITH counts AS (
              SELECT o_orderstatus, o_orderpriority,
                     CAST(count(*) AS BIGINT) AS n
              FROM orders GROUP BY 1, 2
            ),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY o_orderstatus
                ORDER BY n DESC, o_orderpriority ASC) AS rk
              FROM counts
            )
            SELECT o_orderstatus, o_orderpriority AS mode_priority, n
            FROM ranked WHERE rk = 1
        """,
        # exact integer moments -> identical mean/sd doubles -> identical
        # rounded z-scores and exceedance counts.
        "zscore_outliers": """
            WITH m AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     SUM(CAST(round(value * 100) AS BIGINT)) AS s1,
                     SUM(CAST(round(value * 100) AS BIGINT)
                         * CAST(round(value * 100) AS BIGINT)) AS s2
              FROM events GROUP BY event_type HAVING count(*) > 1
            ),
            mm AS (
              SELECT event_type, n,
                     CAST(s1 AS DOUBLE) / n AS mean100,
                     sqrt((CAST(s2 AS DOUBLE)
                           - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
                       AS sd100
              FROM m
            )
            SELECT e.event_type, max(mm.n) AS n_events,
                   CAST(SUM(CASE WHEN round(
                       abs(CAST(round(e.value * 100) AS BIGINT) - mm.mean100)
                       / mm.sd100, 4) >= 2.5 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_outliers
            FROM events e JOIN mm ON e.event_type = mm.event_type
            GROUP BY e.event_type
        """,
        # chi-square over the contingency table: per-cell terms rounded
        # to nano-units and summed as BIGINT — order-independent.
        "chi2_independence": """
            WITH cells AS (
              SELECT o_orderstatus, o_orderpriority,
                     CAST(count(*) AS BIGINT) AS n
              FROM orders GROUP BY 1, 2
            ),
            r AS (SELECT o_orderstatus, CAST(SUM(n) AS BIGINT) AS rn
                  FROM cells GROUP BY 1),
            c AS (SELECT o_orderpriority, CAST(SUM(n) AS BIGINT) AS cn
                  FROM cells GROUP BY 1),
            t AS (SELECT CAST(SUM(n) AS BIGINT) AS tt FROM cells),
            terms AS (
              SELECT tt,
                     CAST(round(
                       ((CAST(n AS DOUBLE)
                         - CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE)
                           / CAST(tt AS DOUBLE))
                        * (CAST(n AS DOUBLE)
                           - CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE)
                             / CAST(tt AS DOUBLE)))
                       / (CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE)
                          / CAST(tt AS DOUBLE)) * 1e9) AS BIGINT) AS tn
              FROM cells
              JOIN r USING (o_orderstatus)
              JOIN c USING (o_orderpriority)
              CROSS JOIN t
            )
            SELECT max(tt) AS n_rows,
                   round(CAST(SUM(tn) AS DOUBLE) / 1e9, 6) AS chi2
            FROM terms
        """,
        # Shannon entropy: -p*log2(p) terms in nano-units, BIGINT sum.
        "entropy_profile": " UNION ALL ".join(f"""
            SELECT '{name}' AS col_name, max(t) AS n_rows,
                   CAST(count(*) AS BIGINT) AS n_values,
                   round(CAST(SUM(tn) AS DOUBLE) / 1e9, 6) AS entropy_bits
            FROM (
              SELECT t,
                     CAST(round(-(CAST(n AS DOUBLE) / CAST(t AS DOUBLE))
                           * log2(CAST(n AS DOUBLE) / CAST(t AS DOUBLE))
                           * 1e9) AS BIGINT) AS tn
              FROM (SELECT {expr} AS v, CAST(count(*) AS BIGINT) AS n
                    FROM orders GROUP BY 1) x
              CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS t
                          FROM orders) y
            ) z
        """ for name, expr in [
            ("o_orderstatus", "o_orderstatus"),
            ("o_orderpriority", "o_orderpriority"),
            ("order_year", "CAST(year(o_orderdate) AS VARCHAR)"),
        ]),
        # linear interpolation on the LOCF grid: bidirectional IGNORE
        # NULLS scans + the identical bracket arithmetic.
        "gapfill_interp": """
            WITH ev AS (
              SELECT * FROM events
              WHERE ts >= TIMESTAMP '2024-01-03'
                AND ts < TIMESTAMP '2024-01-04'
            ),
            hourly AS (
              SELECT date_trunc('hour', ts) AS hour_ts, event_type,
                     CAST(SUM(CAST(round(value * 100) AS BIGINT))
                          AS DOUBLE) / 100.0 AS sum_value
              FROM ev GROUP BY 1, 2
            ),
            hours AS (
              SELECT TIMESTAMP '2024-01-03 00:00:00'
                     + h * INTERVAL 1 HOUR AS hour_ts
              FROM range(24) t(h)
            ),
            grid AS (
              SELECT hour_ts, event_type
              FROM hours CROSS JOIN (SELECT DISTINCT event_type FROM ev)
            ),
            g AS (
              SELECT g.hour_ts, g.event_type, h.sum_value,
                     CAST(hour(g.hour_ts) AS BIGINT) AS hh,
                     CASE WHEN h.sum_value IS NOT NULL
                          THEN CAST(hour(g.hour_ts) AS BIGINT) END AS obs_h
              FROM grid g LEFT JOIN hourly h
                ON g.hour_ts = h.hour_ts AND g.event_type = h.event_type
            ),
            b AS (
              SELECT *,
                     LAST_VALUE(sum_value IGNORE NULLS) OVER wb AS pv,
                     LAST_VALUE(obs_h IGNORE NULLS) OVER wb AS ph,
                     FIRST_VALUE(sum_value IGNORE NULLS) OVER wf AS nv,
                     FIRST_VALUE(obs_h IGNORE NULLS) OVER wf AS nh
              FROM g
              WINDOW wb AS (PARTITION BY event_type ORDER BY hour_ts
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW),
                     wf AS (PARTITION BY event_type ORDER BY hour_ts
                            ROWS BETWEEN CURRENT ROW
                                     AND UNBOUNDED FOLLOWING)
            )
            SELECT hour_ts, event_type,
                   sum_value IS NULL AS is_gap,
                   round(CASE WHEN sum_value IS NOT NULL THEN sum_value
                         ELSE pv + (nv - pv)
                              * (CAST(hh - ph AS DOUBLE)
                                 / CAST(nh - ph AS DOUBLE)) END, 6)
                       AS interp_value
            FROM b
        """,
        # explicit rank-position median/MAD in integer cents -> engine-
        # identical robust statistics; same constant order (3.0 * 1.4826
        # * mad) so the folded literal product matches bit for bit.
        "mad_outliers": """
            WITH c AS (
              SELECT event_type,
                     CAST(round(value * 100) AS BIGINT) AS cts
              FROM events WHERE value IS NOT NULL
            ),
            ranked AS (
              SELECT event_type, cts,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY cts) AS rn
              FROM c
            ),
            nn AS (SELECT event_type, max(rn) AS n FROM ranked
                   GROUP BY event_type),
            mid AS (
              SELECT r.event_type,
                     (min(cts) + max(cts)) / 2.0 AS med
              FROM ranked r JOIN nn ON r.event_type = nn.event_type
              WHERE rn = floor((n + 1) / 2) OR rn = floor(n / 2) + 1
              GROUP BY r.event_type
            ),
            dev AS (
              SELECT c.event_type, cts, med,
                     abs(CAST(cts AS DOUBLE) - med) AS d
              FROM c JOIN mid ON c.event_type = mid.event_type
            ),
            dranked AS (
              SELECT event_type, d,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY d) AS rn
              FROM dev
            ),
            dmid AS (
              SELECT r.event_type,
                     (min(d) + max(d)) / 2.0 AS mad
              FROM dranked r JOIN nn ON r.event_type = nn.event_type
              WHERE rn = floor((n + 1) / 2) OR rn = floor(n / 2) + 1
              GROUP BY r.event_type
            )
            SELECT dev.event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   round(max(med) / 100.0, 6) AS median_value,
                   round(max(mad) / 100.0, 6) AS mad_value,
                   CAST(SUM(CASE WHEN d > 3.0 * 1.4826 * mad
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
            FROM dev JOIN dmid ON dev.event_type = dmid.event_type
            GROUP BY dev.event_type
        """,
        # lag/flag/running-sum sessionization; microsecond-integer gap
        # arithmetic so boundary events land identically on any engine.
        "sessionize": """
            WITH o AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR ts > lag(ts) OVER w + INTERVAL 1800 SECOND
                          THEN 1 ELSE 0 END AS is_new
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            s AS (
              SELECT user_id, ts,
                     SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS seq
              FROM o
            )
            SELECT user_id, CAST(seq AS BIGINT) AS session_seq,
                   min(ts) AS session_start, max(ts) AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events,
                   (epoch_us(max(ts)) // 1000000)
                     - (epoch_us(min(ts)) // 1000000) AS duration_s
            FROM s GROUP BY user_id, seq
        """,
        # SCD2: (key, ts) tie-dedup -> no-op-change collapse -> lead.
        "scd2": """
            WITH dd AS (
              SELECT user_id, event_type, ts FROM (
                SELECT user_id, event_type, ts,
                       lead(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_type) AS nts
                FROM events) t
              WHERE nts IS NULL OR nts <> ts
            ),
            ch AS (
              SELECT user_id, event_type, ts FROM (
                SELECT user_id, event_type, ts,
                       lag(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_type)
                           AS prev
                FROM dd) t
              WHERE prev IS NULL OR event_type <> prev
            ),
            iv AS (
              SELECT user_id, event_type, ts AS valid_from,
                     lead(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         AS valid_to
              FROM ch
            )
            SELECT user_id, event_type, valid_from, valid_to,
                   valid_to IS NULL AS is_current
            FROM iv
        """,
        "ewma": _ewma_oracle(),
        "pagerank": _pagerank_oracle(5),
        # HLL with the repo's md5 hash family: the oracle computes the
        # IDENTICAL register table (bin/instr leading-zero rank) and
        # estimate; round-to-integer absorbs any last-ulp ln() delta.
        "hll_distinct": _hll_oracle(
            "SELECT source, CAST(nr AS BIGINT) AS n_registers, est_distinct,"
            " exact_distinct FROM agg JOIN ex USING (source)",
            with_exact=True),
        "hll_merge": _hll_oracle(
            "SELECT source, CAST(nr AS BIGINT) AS n_registers, est_distinct"
            " FROM agg"),
        "hll_rolling": _hll_rolling_oracle(3),
        # TPC-H Q2 shape: supply relation derived from lineitem (integer
        # cents), per-part correlated MIN over EUROPE suppliers.
        "min_cost_supplier": """
            WITH supply AS (
              SELECT l_partkey, l_suppkey,
                     MIN(CAST(round(l_extendedprice / l_quantity * 100)
                              AS BIGINT)) AS cost_c
              FROM lineitem GROUP BY l_partkey, l_suppkey
            ),
            eu AS (
              SELECT supply.l_partkey, supply.l_suppkey, cost_c,
                     s_name, s_acctbal, n_name
              FROM supply
              JOIN part ON l_partkey = p_partkey
                       AND p_size >= 40 AND p_type LIKE '%STANDARD%'
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
                         AND r_name = 'EUROPE'
            ),
            mn AS (
              SELECT *, MIN(cost_c) OVER (PARTITION BY l_partkey) AS mn_c
              FROM eu
            )
            SELECT s_acctbal, s_name, n_name,
                   mn.l_partkey AS p_partkey, p_brand,
                   CAST(cost_c AS DOUBLE) / 100.0 AS supplycost
            FROM mn JOIN part ON mn.l_partkey = p_partkey
            WHERE cost_c = mn_c
            ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
            LIMIT 100
        """,
        # TPC-H Q11 shape: HAVING against a scalar subquery over the
        # same per-part exact sums.
        "important_stock": """
            WITH v AS (
              SELECT l_partkey,
                     SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                       AS v_c
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
                         AND n_name = 'NATION_7'
              GROUP BY l_partkey
            )
            SELECT l_partkey, CAST(v_c AS DOUBLE) / 100.0 AS value
            FROM v
            WHERE v_c * (SELECT CAST(count(*) AS BIGINT) FROM v)
                  > 2 * (SELECT CAST(SUM(v_c) AS BIGINT) FROM v)
        """,
        # TPC-H Q20 shape: correlated-aggregate threshold via one
        # conditional-sum pass; half comparison kept integer.
        "excess_supply": """
            WITH qty AS (
              SELECT l_suppkey, l_partkey,
                     SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                               AND l_shipdate < TIMESTAMP '1998-01-01'
                          THEN CAST(round(l_quantity * 100) AS BIGINT)
                          ELSE 0 END) AS q97_c,
                     SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS qall_c
              FROM lineitem
              JOIN part ON l_partkey = p_partkey AND p_name LIKE '%gear%'
              GROUP BY l_suppkey, l_partkey
            )
            SELECT s_suppkey, s_name, s_acctbal
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
                       AND n_name = 'NATION_3'
            WHERE s_suppkey IN (SELECT l_suppkey FROM qty
                                WHERE 2 * q97_c > qall_c)
        """,
    }
    # The persisted-index probe computes the same math as the in-flight
    # ivf_topk (same centroids, k, n_probe) — one oracle serves both.
    d["ivf_index_topk"] = d["ivf_topk"]
    # persisted PQ / IVF-PQ are bit-identical to their one-shot twins
    # (same build parameters; exact-integer arithmetic throughout), so
    # one oracle serves each pair (ivf_index_topk precedent).
    d["pq_index_topk"] = d["pq_topk"]
    d["ivfpq_index_topk"] = d["ivfpq_topk"]
    # recall@10 of IVF-PQ vs the exact-L2 ground truth (metric-matched:
    # ADC approximates squared L2) — compose the two top-k oracles
    d["ivfpq_recall"] = f"""
        WITH exact AS (SELECT * FROM ({d['l2_topk']})),
             approx AS (SELECT * FROM ({d['ivfpq_topk']}))
        SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hit,
               round(count(*)::DOUBLE / 10.0, 6) AS recall_at_10
        FROM exact e JOIN approx a
          ON e.query_id = a.query_id AND e.vec_id = a.vec_id
        GROUP BY e.query_id
    """
    # truncated RBO@10: same two rankings, per-doc closed-form weights
    # (nano-integer literals from the same Python formula the engine
    # uses) keyed by max rank, BIGINT-summed
    d["ivf_rbo"] = f"""
        WITH exact AS (SELECT * FROM ({d['cosine_topk']})),
             approx AS (SELECT * FROM ({d['ivf_topk']})),
        w(m, wn) AS (VALUES (1, 1386129712),(2, 386129712),(3, 136129712),(4, 52796379),(5, 21546379),(6, 9046379),(7, 3838046),(8, 1605903),(9, 629340),(10, 195312)),
        j AS (SELECT e.query_id, greatest(e.rank, a.rank) AS m
              FROM exact e JOIN approx a
                ON e.query_id = a.query_id AND e.vec_id = a.vec_id),
        s AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_common,
                     CAST(sum(wn) AS BIGINT) AS sn
              FROM j JOIN w ON w.m = j.m GROUP BY 1),
        q AS (SELECT DISTINCT query_id FROM exact)
        SELECT q.query_id,
               CAST(coalesce(n_common, 0) AS BIGINT) AS n_common,
               round(CAST(0.5 AS DOUBLE)
                     * (CAST(coalesce(sn, 0) AS DOUBLE) / 1e9), 6) AS rbo
        FROM q LEFT JOIN s ON s.query_id = q.query_id
    """
    # span-level dedup removal: composes the winnow_spans oracle, then
    # the same sorted-sweep interval merge (join island iff start <=
    # running max end + 1), clip, and substring-complement rebuild
    # (string_agg ORDER BY = the engine's array_sort reconstruction).
    d["winnow_cut"] = f"""
        WITH spans AS (SELECT * FROM ({d['winnow_spans']})),
        -- DISTINCT is load-bearing: duplicate (s, e) ties break the
        -- total order the two-pass islanding windows rely on (the
        -- engine dedups identically; see remove_char_spans)
        -- NULL bounds dropped before the sweep, mirroring the engine
        -- (NULLS FIRST vs NULLS LAST would diverge otherwise)
        rng AS (SELECT DISTINCT id_b AS rid, b_char_start AS s,
                       b_char_end AS e
                FROM spans
                WHERE b_char_start IS NOT NULL
                  AND b_char_end IS NOT NULL),
        dcs AS (SELECT doc_id AS rid, text, length(text) AS L
                FROM documents),
        flg AS (SELECT rid, s, e,
                       CASE WHEN s > coalesce(max(e) OVER (
                                PARTITION BY rid ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) + 1
                            THEN 1 ELSE 0 END AS nf
                FROM rng),
        isl AS (SELECT rid, s, e,
                       SUM(nf) OVER (PARTITION BY rid ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS g
                FROM flg),
        mg0 AS (SELECT rid, g, min(s) AS s, max(e) AS e
                FROM isl GROUP BY 1, 2),
        mg AS (SELECT mg0.rid, greatest(s, 1) AS s, least(e, L) AS e, L
               FROM mg0 JOIN dcs ON dcs.rid = mg0.rid
               WHERE greatest(s, 1) <= least(e, L)),
        gaps AS (
          SELECT rid,
                 coalesce(lag(e) OVER (PARTITION BY rid ORDER BY s), 0)
                     + 1 AS gs,
                 s - 1 AS ge
          FROM mg
          UNION ALL
          SELECT rid, max(e) + 1 AS gs, max(L) AS ge FROM mg GROUP BY rid),
        pc AS (SELECT g.rid, gs,
                      substr(d.text, CAST(gs AS INT),
                             CAST(ge - gs + 1 AS INT)) AS p
               FROM gaps g JOIN dcs d ON d.rid = g.rid WHERE gs <= ge),
        rb AS (SELECT rid, string_agg(p, '' ORDER BY gs) AS txt
               FROM pc GROUP BY rid),
        st AS (SELECT rid, CAST(count(*) AS BIGINT) AS n,
                      CAST(SUM(e - s + 1) AS BIGINT) AS rm
               FROM mg GROUP BY rid)
        SELECT d.rid AS doc_id,
               coalesce(rb.txt,
                        CASE WHEN st.n IS NOT NULL THEN '' END,
                        d.text) AS text,
               coalesce(st.n, 0) AS n_spans_cut,
               coalesce(st.rm, 0) AS chars_removed
        FROM dcs d
        LEFT JOIN rb ON rb.rid = d.rid
        LEFT JOIN st ON st.rid = d.rid
    """
    # NB training: identical feature stream to classifier_score, per-
    # class bucket counts, then the SHARED fixed-point integer-log2
    # generator (db_spark/llm/text.py:ilog2_fp256_layers) rendered in
    # the DuckDB dialect as nested subqueries — engine and oracle run
    # the same square-and-compare steps, so w_ppm is bit-identical.
    from db_spark.llm.text import ilog2_fp256_layers as _log_layers

    _nb_base = f"""
        WITH nd AS (SELECT (doc_id % 2 = 0) AS lab, {_TOKS} AS toks
                    FROM documents),
        uni AS (SELECT lab, unnest(toks) AS f FROM nd),
        bi AS (SELECT lab,
                      unnest(list_transform(range(2, len(toks) + 1),
                          i -> toks[i-1] || ' ' || toks[i])) AS f
               FROM nd WHERE len(toks) >= 2),
        feats AS (SELECT * FROM uni UNION ALL SELECT * FROM bi)
        SELECT idx, n1, n0, n1 + 1 AS _nbp, n0 + 1 AS _nbq
        FROM (SELECT {_H32.format(x='f')} % 4096 AS idx,
                     CAST(sum(CASE WHEN lab THEN 1 ELSE 0 END)
                          AS BIGINT) AS n1,
                     CAST(sum(CASE WHEN lab THEN 0 ELSE 1 END)
                          AS BIGINT) AS n0
              FROM feats GROUP BY 1)
    """
    _nb_inner = _nb_base
    for _layer in _log_layers(
            [("_nbp", "_nbl1"), ("_nbq", "_nbl0")], "//",
            lambda b, a: f"(CAST({b} AS BIGINT) << ({a}))"):
        _nb_inner = f"SELECT *, {', '.join(_layer)} FROM ({_nb_inner})"
    d["nb_train"] = f"""
        SELECT idx, n1, n0, ((_nbl1 - _nbl0) * 15625) // 4 AS w_ppm
        FROM ({_nb_inner})
    """
    # recall@10 of IVF vs brute force: compose the two top-k oracles
    d["ivf_recall"] = f"""
        WITH exact AS (SELECT * FROM ({d['cosine_topk']})),
             approx AS (SELECT * FROM ({d['ivf_topk']}))
        SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hit,
               round(count(*)::DOUBLE / 10.0, 6) AS recall_at_10
        FROM exact e JOIN approx a
          ON e.query_id = a.query_id AND e.vec_id = a.vec_id
        GROUP BY e.query_id
    """
    return d
