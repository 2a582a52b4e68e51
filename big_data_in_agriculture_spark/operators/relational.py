"""General relational surface: joins, windows, set ops, grouping sets.

The reference engine's relational capability is exercised by the
driver's TPC-H-ish star schema (SURVEY.md §2.6/§2.7, TESTDATA.md).
Every function here is a pure DataFrame composition so Catalyst keeps
predicate pushdown, column pruning, join reordering and AQE re-planning.

Scale posture (100 TB fact tables, small dims):
* dimension joins (`region`, `nation`, `supplier`, `part`, `customer`
  at low SF) are explicitly ``broadcast()``-hinted — no shuffle of the
  fact side, the dim ships to every executor once;
* fact-fact joins (orders ⋈ lineitem) are sort-merge on the join key;
  AQE's skew-join splitting (enabled in session.py) handles hot keys;
* aggregations are hash aggregates with map-side partial aggregation —
  the shuffle carries one partial row per group per input partition;
* window functions shuffle once on the partition key, then sort within
  partitions; running totals never materialize the whole partition in
  memory (Spark's WindowExec streams frames for UNBOUNDED PRECEDING).

Float determinism contract (for oracle hash-checks): all arithmetic in
float64, and every order-dependent aggregate (sum/avg of doubles) is
cast to float32 ONCE at the end — last-ulp partial-sum reordering
between engines disappears below float32 resolution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .graph import _triangles


def _f(col) -> F.Column:
    """Final float32 cast for order-dependent double aggregates."""
    return col.cast("float")


# ---------------------------------------------------------------------------
# Aggregation pipelines (TPC-H flavored)
# ---------------------------------------------------------------------------

def pricing_summary(lineitem: DataFrame, ship_cutoff: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1 shape: big scan → filter → 6-way agg by 2 low-card keys.

    Single shuffle; partial aggregation makes the shuffle payload tiny
    (≤ 6 groups × partitions). The `l_shipdate <= cutoff` predicate and
    the 7-column projection both push into the parquet scan.
    """
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit(ship_cutoff)))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _f(F.sum("l_quantity")).alias("sum_qty"),
            _f(F.sum("l_extendedprice")).alias("sum_base_price"),
            _f(F.sum(disc_price)).alias("sum_disc_price"),
            _f(F.sum(charge)).alias("sum_charge"),
            _f(F.avg("l_quantity")).alias("avg_qty"),
            _f(F.avg("l_extendedprice")).alias("avg_price"),
            _f(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def shipping_priority(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    cutoff: str = "1998-01-01",
    top_n: int = 10,
) -> DataFrame:
    """TPC-H Q3 shape: dim-filtered 3-way join → agg → top-N.

    `customer` (filtered to one segment) broadcasts; orders ⋈ lineitem
    is the one real shuffle. Revenue is cast to float32 BEFORE the
    top-N sort so tie-breaking on (revenue, o_orderkey) is engine-
    deterministic.
    """
    cut = F.to_timestamp(F.lit(cutoff))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.filter(F.col("l_shipdate") > cut)
        .join(
            orders.filter(F.col("o_orderdate") < cut),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.filter(F.col("c_mktsegment") == segment)),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(_f(F.sum(revenue)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(top_n)
    )


def regional_revenue(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    region_name: str = "ASIA",
) -> DataFrame:
    """TPC-H Q5 shape: star join through two broadcast dims → agg.

    region→nation→customer chain collapses to broadcast hash joins
    (region: 5 rows, nation: 25 — broadcastable at any SF); the only
    shuffles are orders ⋈ lineitem and the final group-by on n_name.
    """
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    dims = (
        customer.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.filter(F.col("r_name") == region_name)),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "n_name")
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(dims), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(_f(F.sum(revenue)).alias("revenue"))
        .orderBy(F.col("n_name"))
    )


def priority_order_counts(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-style left-semi join → count by priority.

    The semi join keeps only the orders-side columns and short-circuits
    per key — far cheaper than join+distinct at scale.
    """
    committed = lineitem.select("l_orderkey")
    return (
        orders.join(committed, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def returned_item_revenue(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    top_n: int = 20,
) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue.

    lineitem filters to returns BEFORE the joins (scan-pushed), the
    nation dim broadcasts, customer rides the o_custkey shuffle.
    """
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.filter(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_f(F.sum(revenue)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(top_n)
    )


def promo_revenue_share(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio after a dim join."""
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", revenue).otherwise(F.lit(0.0))
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            _f(F.lit(100.0) * F.sum(promo) / F.sum(revenue)).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def top_supplier_by_revenue(lineitem: DataFrame, supplier: DataFrame) -> DataFrame:
    """TPC-H Q15 shape: per-supplier revenue, keep the global max.

    The max is a 1-row aggregate broadcast back as an equality join —
    never a rank window with no PARTITION BY, which funnels the entire
    per-supplier aggregate through ONE task (the round-8 verdict's
    `WindowExec: No Partition Defined` finding; bounded at today's
    supplier counts, pointlessly serial at any). Ties keep EVERY
    supplier at the max — a deliberate semantics change from the old
    rank()-based form, which tie-broke on l_suppkey and kept one row;
    the registered _Q15_SQL oracle encodes the same max-equality
    contract so a revenue tie cannot split the engines.

    The supplier aggregate is pinned with localCheckpoint so the max
    branch and the join branch read ONE materialization — float sums
    are partition-fold-order-dependent, and two independent executions
    of the aggregate could in principle disagree at the last ulp,
    making the equality join drop the true max row.
    """
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_supp = (
        lineitem.groupBy("l_suppkey")
        .agg(_f(F.sum(revenue)).alias("total_revenue"))
        .localCheckpoint(eager=False)
    )
    mx = per_supp.agg(F.max("total_revenue").alias("_max_rev"))
    best = per_supp.join(
        F.broadcast(mx), F.col("total_revenue") == F.col("_max_rev")
    ).drop("_max_rev")
    return (
        best.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def large_orders(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    qty_threshold: float = 150.0,
    top_n: int = 20,
) -> DataFrame:
    """TPC-H Q18 shape: HAVING on a grouped fact, re-joined to headers.

    The heavy groupBy runs on lineitem alone (narrow row: key + qty);
    only the surviving keys join back — a semi-join-shaped plan that
    never shuffles the wide join of everything.
    """
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > qty_threshold)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice",
            _f(F.col("total_qty")).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(top_n)
    )


def disjunctive_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs join predicate.

    Expressed as a plain filter AFTER an equi-join on partkey — Catalyst
    keeps the equi-join hashable and applies the disjunction as a
    post-join filter (the common-key conjunct is what matters at scale;
    a naive OR-join would degenerate to a nested loop).
    """
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10) & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20) & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 30))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30) & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 40))
    )
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            _f(F.sum(revenue)).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def nation_volume(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_a: str = "FRANCE",
    nation_b: str = "GERMANY",
) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations, by year.

    Two broadcast copies of the nation dim (supplier side, customer
    side); the symmetric nation-pair predicate lands post-join as a
    plain filter. Fact shuffles: lineitem⋈orders only.
    """
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == nation_a) & (F.col("cust_nation") == nation_b)
    ) | ((F.col("supp_nation") == nation_b) & (F.col("cust_nation") == nation_a))
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_f(F.sum(revenue)).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def untapped_customers(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery + anti join.

    Customers whose balance beats the positive-balance average AND who
    never ordered. The scalar average broadcasts as a 1-row cross join
    (what Catalyst itself plans for an uncorrelated scalar subquery);
    the NOT EXISTS is a left-anti join.
    """
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders.select("o_custkey"),
              F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _f(F.sum("c_acctbal")).alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


def market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part: DataFrame,
    part_type: str = "PROMO",
    region_name: str = "ASIA",
    supp_nation: str = "NATION_2",
) -> DataFrame:
    """TPC-H Q8 shape: national market share by year.

    Of revenue from parts of one type sold to customers in one region,
    what fraction came from suppliers of one nation, per order year.
    Every dim (part-filtered, supplier, both nation copies, region)
    broadcasts; the customer→nation→region chain reduces customer to a
    (c_custkey) keep-list before it touches the facts. The only fact
    shuffle is lineitem ⋈ orders. The share is a conditional-aggregate
    ratio inside ONE aggregate — no self-join on year.
    """
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cust_in_region = (
        customer.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.filter(F.col("r_name") == region_name)),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        ).select("c_custkey")
    )
    supp_nat = supplier.join(
        F.broadcast(nation.select(
            F.col("n_nationkey").alias("sn_key"),
            F.col("n_name").alias("supp_nation"),
        )),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    share_vol = F.when(F.col("supp_nation") == supp_nation, volume).otherwise(
        F.lit(0.0)
    )
    return (
        lineitem.join(
            F.broadcast(part.filter(F.col("p_type") == part_type).select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust_in_region), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_nat), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(_f(F.sum(share_vol) / F.sum(volume)).alias("mkt_share"))
        .orderBy("o_year")
    )


def nation_profit(
    lineitem: DataFrame,
    orders: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    name_token: str = "red",
    cost_rate: float = 0.1,
) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year.

    The driver's schema has no partsupp table, so ps_supplycost is
    substituted by ``cost_rate * p_retailprice`` — the join topology
    (name-pattern part filter, supplier→nation, orders for the year)
    and the amount expression's shape are Q9's. Dims broadcast; the
    fact shuffle is lineitem ⋈ orders; group-by is tiny (nation×year).
    """
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        cost_rate
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        lineitem.join(
            F.broadcast(
                part.filter(F.col("p_name").contains(name_token))
                .select("p_partkey", "p_retailprice")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(
                supplier.join(
                    F.broadcast(nation),
                    F.col("s_nationkey") == F.col("n_nationkey"),
                ).select("s_suppkey", "n_name")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("o_year"))
        .agg(_f(F.sum(amount)).alias("sum_profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


def important_nations(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    fraction: float = 0.045,
) -> DataFrame:
    """TPC-H Q11 shape: groups whose value beats a global-share threshold.

    Q11's signature is HAVING sum(value) > (scalar subquery over the
    same fact). No partsupp exists, so "value" is lineitem revenue
    attributed to the supplier's nation. The per-nation aggregate and
    the global aggregate are two passes over the SAME pre-aggregated
    per-nation frame (cached implicitly by reuse) — the global scalar
    broadcasts as a 1-row cross join, never a shuffle.
    """
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_nation = (
        lineitem.join(
            F.broadcast(
                supplier.join(
                    F.broadcast(nation),
                    F.col("s_nationkey") == F.col("n_nationkey"),
                ).select("s_suppkey", "n_name")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("n_name")
        .agg(F.sum(revenue).alias("value_d"))
    )
    threshold = per_nation.agg(
        (F.sum("value_d") * F.lit(fraction)).alias("threshold")
    )
    return (
        per_nation.crossJoin(F.broadcast(threshold))
        .filter(F.col("value_d") > F.col("threshold"))
        .select("n_name", _f(F.col("value_d")).alias("value"))
        .orderBy(F.col("value").desc(), F.col("n_name"))
    )


def shipping_delay_priority(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q12 shape: priority counts by shipping bucket.

    The driver's lineitem has no l_shipmode/l_commitdate, so Q12's
    mode buckets become ship-delay buckets (days between order and
    ship date) — the shape is identical: fact-fact join, a CASE
    bucketing expression as the group key, and two conditional counts.
    One shuffle (the join); the group-by is 3 rows.
    """
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(delay <= 30, F.lit("1-FAST"))
        .when(delay <= 90, F.lit("2-MEDIUM"))
        .otherwise(F.lit("3-SLOW"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.select("l_orderkey", "l_shipdate")
        .join(orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(bucket.alias("ship_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("ship_bucket")
    )


def order_count_distribution(
    customer: DataFrame, orders: DataFrame, exclude_priority: str = "4-NOT SPECIFIED"
) -> DataFrame:
    """TPC-H Q13 shape: customer distribution by order count.

    LEFT OUTER join so zero-order customers land in the c_count=0
    bucket (the filter must live in the join's ON clause, not WHERE —
    a WHERE would silently turn the join inner). Two cascaded tiny
    aggregates; the only real shuffle is the outer join on custkey.
    """
    per_cust = (
        customer.select("c_custkey")
        .join(
            orders.filter(F.col("o_orderpriority") != exclude_priority)
            .select("o_custkey", "o_orderkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def small_quantity_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    brand: str = "Brand#3",
    fraction: float = 0.2,
) -> DataFrame:
    """TPC-H Q17 shape: correlated aggregate subquery (avg qty per part).

    ``l_quantity < fraction * avg(l_quantity per part)`` is computed
    with a window average over the SAME brand-filtered join — one
    shuffle on l_partkey replaces Q17's correlated re-scan. (All
    lineitem rows of the surviving parts are present post-join, so the
    window avg equals the correlated subquery's avg.)
    """
    joined = lineitem.select("l_partkey", "l_quantity", "l_extendedprice").join(
        F.broadcast(part.filter(F.col("p_brand") == brand).select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    w = Window.partitionBy("l_partkey")
    return (
        joined.withColumn("avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < F.lit(fraction) * F.col("avg_qty"))
        .agg(
            _f(F.sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def waiting_suppliers(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    late_days: int = 60,
    top_n: int = 20,
) -> DataFrame:
    """TPC-H Q21 shape: sole-late supplier on multi-supplier orders.

    The driver's lineitem has no commit/receipt dates, so "late" means
    shipped > ``late_days`` after the order date. Q21's EXISTS /
    NOT-EXISTS pair collapses into ONE aggregate per order: count of
    distinct suppliers, count of distinct LATE suppliers, and (via
    max-when) the late supplier's key when it is unique — no
    correlated re-scans of lineitem, no join-back. Orders restrict to
    status 'F' as in Q21.
    """
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {late_days} DAYS"
    )
    per_order = (
        lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(
            orders.filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .withColumn("late_supp", F.when(late, F.col("l_suppkey")))
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("late_supp").alias("n_late_supp"),
            F.max("late_supp").alias("sole_late_supp"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    )
    return (
        per_order.groupBy("sole_late_supp")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supplier),
              F.col("sole_late_supp") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(top_n)
    )


def supplies_relation(lineitem: DataFrame) -> DataFrame:
    """Derived partsupp stand-in: distinct (part, supplier) pairs that
    actually traded, with shipped-quantity mass per pair.

    The driver's schema has no partsupp table; Q2/Q16/Q20 shapes run
    against this derivation instead. One shuffle (the groupBy); at
    scale this is a classic pre-aggregated bridge table worth
    materializing (bucketed on ps_partkey — sources/bucketed.py).
    """
    return (
        lineitem.groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(F.sum("l_quantity").alias("ps_shipped_qty"))
    )


def min_cost_supplier(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    size: int = 15,
    region_name: str = "EUROPE",
    top_n: int = 20,
) -> DataFrame:
    """TPC-H Q2 shape: correlated-min subquery over the bridge table.

    For each part (of one size, suppliable from one region), keep the
    supplier(s) with the minimum cost. ps_supplycost is proxied by
    s_acctbal (the only per-supplier numeric available) — the SHAPE is
    Q2's: per-part min via a window over the region-filtered bridge,
    not a re-scan correlated subquery; dims broadcast.
    """
    supp_in_region = supplier.join(
        F.broadcast(
            nation.join(
                F.broadcast(region.filter(F.col("r_name") == region_name)),
                F.col("n_regionkey") == F.col("r_regionkey"),
            ).select("n_nationkey", "n_name")
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    bridge = (
        supplies_relation(lineitem)
        .join(F.broadcast(part.filter(F.col("p_size") == size)
                          .select("p_partkey", "p_brand")),
              F.col("ps_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp_in_region),
              F.col("ps_suppkey") == F.col("s_suppkey"))
    )
    w = Window.partitionBy("ps_partkey")
    return (
        bridge.withColumn("min_cost", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("min_cost"))
        .select(
            _f(F.col("s_acctbal")).alias("s_acctbal"),
            "s_name", "n_name",
            F.col("ps_partkey").alias("p_partkey"), "p_brand",
        )
        .orderBy(F.col("s_acctbal").desc(), F.col("n_name"), F.col("s_name"),
                 F.col("p_partkey"))
        .limit(top_n)
    )


def parts_supplier_counts(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    excluded_name_suffix: str = "0",
) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute,
    with a NOT-IN supplier exclusion (left-anti on the bridge).

    The exclusion runs on the bridge BEFORE the count-distinct, as a
    broadcast anti join; the heavy count(distinct) groups by the part
    attributes. Q16's comment-pattern exclusion becomes a name-suffix
    match (the only supplier text available).
    """
    excluded = supplier.filter(
        F.col("s_name").endswith(excluded_name_suffix)
    ).select("s_suppkey")
    bridge = (
        supplies_relation(lineitem)
        .join(F.broadcast(excluded),
              F.col("ps_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(part.select("p_partkey", "p_brand", "p_type", "p_size")),
              F.col("ps_partkey") == F.col("p_partkey"))
    )
    return (
        bridge.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


def excess_stock_suppliers(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    name_token: str = "red",
    nation_name: str = "NATION_3",
    qty_factor: float = 0.12,
) -> DataFrame:
    """TPC-H Q20 shape: nested semi-joins with a correlated-agg threshold.

    Suppliers (of one nation) who supply a name-matched part in excess
    quantity: the bridge's per-pair shipped mass must beat
    ``qty_factor ×`` that part's TOTAL shipped mass — availqty doesn't
    exist, so the correlated availqty>½·shipped test becomes a
    pair-share-of-part test computed with a window over the bridge
    (no lineitem re-scan). The surviving pair set reduces to suppliers
    via left-semi, exactly Q20's IN-chain.
    """
    w = Window.partitionBy("ps_partkey")
    qualifying_pairs = (
        supplies_relation(lineitem)
        .join(
            F.broadcast(part.filter(F.col("p_name").contains(name_token))
                        .select("p_partkey")),
            F.col("ps_partkey") == F.col("p_partkey"),
        )
        .withColumn("part_total", F.sum("ps_shipped_qty").over(w))
        .filter(F.col("ps_shipped_qty") > F.lit(qty_factor) * F.col("part_total"))
        .select("ps_suppkey")
    )
    nat = nation.filter(F.col("n_name") == nation_name)
    return (
        supplier.join(F.broadcast(nat),
                      F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .join(qualifying_pairs, F.col("s_suppkey") == F.col("ps_suppkey"),
              "left_semi")
        .select("s_suppkey", "s_name", _f(F.col("s_acctbal")).alias("s_acctbal"))
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Join strategies (explicit surface for the harness)
# ---------------------------------------------------------------------------

def customers_with_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Left-semi join: customers having ≥1 order (EXISTS)."""
    return (
        customer.join(
            orders.select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_semi",
        )
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


def customers_without_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Left-anti join: customers with no order (NOT EXISTS)."""
    return (
        customer.join(
            orders.select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    )


def order_customer_detail(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Broadcast inner join: enrich a fact with a dim, no fact shuffle."""
    return (
        orders.join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------

def running_order_total(orders: DataFrame) -> DataFrame:
    """Per-customer running sum of order value, time-ordered.

    One shuffle on o_custkey, one within-partition sort. The ORDER BY
    includes o_orderkey as a unique tie-break so the prefix-sum
    accumulation order (and hence the float64 result) is deterministic
    across engines.
    """
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        _f(F.sum("o_totalprice").over(w)).alias("running_total"),
        F.row_number().over(
            Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        ).alias("order_seq"),
    )


def top_orders_per_customer(orders: DataFrame, n: int = 2) -> DataFrame:
    """row_number() top-N per group, unique tie-break on o_orderkey."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def order_value_lag(orders: DataFrame) -> DataFrame:
    """lag/lead + delta: per-customer order-to-order price change."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        _f(F.col("o_totalprice") - prev).alias("delta_prev"),
        prev.cast("float").alias("prev_price"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
) -> DataFrame:
    """As-of join: attach the most recent right row (right_ts ≤ left_ts)
    per key to every left row.

    Spark has no ASOF JOIN operator; the naive formulation (inequality
    join + groupBy max) explodes quadratically per key. This is the
    scalable union-and-carry formulation:

    1. tag and union both sides (one narrow map, no join node at all);
    2. one window over (key) ordered by (ts, side) with
       ``last(value, ignorenulls=True)`` carrying the latest right
       value forward — right rows sort BEFORE left rows at equal ts,
       so an exactly-simultaneous right row is visible (≤, not <);
    3. keep the left rows.

    Cost: ONE shuffle + sort of |left| + |right| — the same price as a
    regular sort-merge join, with bounded memory (WindowExec streams
    running frames).
    """
    lcols = left.columns
    l = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*lcols).alias("_l"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in right_cols],
    )
    r = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(
            l.schema["_l"].dataType
        ).alias("_l"),
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l.unionByName(r).select(
        "_side",
        "_l",
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"_r_{c}")
            for c in right_cols
        ],
    )
    return carried.filter(F.col("_side") == 1).select(
        *[F.col(f"_l.{c}").alias(c) for c in lcols],
        *[F.col(f"_r_{c}").alias(c) for c in right_cols],
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salts: int = 8,
) -> DataFrame:
    """Inner equi-join with key salting for skewed fact sides.

    A single hot key (one customer with 10% of all orders) turns a
    sort-merge join into one straggler task. Salting splits every key
    into ``salts`` sub-keys: the big side gets a deterministic salt
    from row content, the small side replicates each row across all
    salts (explode). Result set is identical to the plain join; the
    shuffle spreads the hot key over ``salts`` tasks.

    AQE's skew-join splitting handles most cases automatically (it's on
    in session.py); explicit salting remains for the pathological keys
    AQE can't split (a single huge shuffle block within one key group).
    """
    big_cols = [c for c in big.columns]
    salt_src = F.xxhash64(*[F.col(c) for c in big_cols])
    b = big.withColumn("_salt", F.pmod(salt_src, F.lit(salts)).cast("int"))
    s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salts)]))
    )
    return b.join(s, [key, "_salt"]).drop("_salt")


def binned_range_join(
    points: DataFrame,
    intervals: DataFrame,
    on: list[str],
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: int,
) -> DataFrame:
    """Range (interval-containment) join via bin bucketing.

    Spark plans ``p.join(i, (p.x >= i.lo) & (p.x <= i.hi))`` as a
    broadcast-nested-loop (or cartesian) — quadratic, dead at scale.
    The standard fix (what Databricks' range-join hint does under the
    hood) is binning:

    1. each interval explodes to the bins it covers
       (``sequence(lo div W, hi div W)``);
    2. each point maps to its single bin (``x div W``);
    3. equi-join on (keys…, bin) — a plain shuffled hash/sort-merge
       join — then re-check exact containment.

    Each (point, interval) match appears exactly once (the point lives
    in one bin; an interval lists each bin once), so no dedup pass.
    Choose ``bin_width`` ≈ typical interval length: replication factor
    is ~(len/W + 1) per interval, candidate fan-in per bin stays small.
    All numeric (caller converts timestamps via ``unix_micros`` first).
    """
    p = points.withColumn(
        "_bin", F.floor(F.col(point_col) / F.lit(bin_width)).cast("long")
    )
    i = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / F.lit(bin_width)).cast("long"),
                F.floor(F.col(hi_col) / F.lit(bin_width)).cast("long"),
            )
        ),
    )
    return (
        p.join(i, [*on, "_bin"])
        .filter(
            (F.col(point_col) >= F.col(lo_col))
            & (F.col(point_col) <= F.col(hi_col))
        )
        .drop("_bin")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    bin_width: int,
) -> DataFrame:
    """Interval×interval OVERLAP join via bin bucketing — exactly once.

    The overlap predicate ``l.lo <= r.hi AND r.lo <= l.hi`` (closed
    intervals) plans as a nested-loop product natively; binning turns
    it into an equi-join like `binned_range_join`, but BOTH sides now
    explode to their covered bins, so one overlapping pair can meet in
    several bins. Dedup costs nothing: a pair is kept only in the bin
    containing the overlap's left edge (``max(l.lo, r.lo) div W``) —
    each match survives in exactly one bin, no distinct pass, no
    post-shuffle dedup state.

    Column names of the two bound pairs must be distinct across sides
    (rename before calling). All numeric; convert timestamps with
    ``unix_micros`` first. Replication ~(len/W + 1) per interval per
    side — choose W near the typical interval length.
    """
    lexp = left.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(left_lo) / F.lit(bin_width)).cast("long"),
                F.floor(F.col(left_hi) / F.lit(bin_width)).cast("long"),
            )
        ),
    )
    rexp = right.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(right_lo) / F.lit(bin_width)).cast("long"),
                F.floor(F.col(right_hi) / F.lit(bin_width)).cast("long"),
            )
        ),
    )
    overlap_start_bin = F.floor(
        F.greatest(F.col(left_lo), F.col(right_lo)) / F.lit(bin_width)
    ).cast("long")
    return (
        lexp.join(rexp, [*on, "_bin"])
        .filter(
            (F.col(left_lo) <= F.col(right_hi))
            & (F.col(right_lo) <= F.col(left_hi))
            & (F.col("_bin") == overlap_start_bin)
        )
        .drop("_bin")
    )


def rolling_day_sum(
    df: DataFrame,
    part_col: str,
    day_col: str,
    value_col: str,
    days: int = 7,
    out_col: str | None = None,
) -> DataFrame:
    """Trailing N-day rolling sum per key (SURVEY §2.7's analytic extension).

    A RANGE frame over days-since-epoch (``unix_date``), not a ROWS
    frame — gaps in the calendar shrink the window correctly instead of
    silently reaching further back. One shuffle on the key, one sort.
    """
    out = out_col or f"{value_col}_rolling{days}d"
    w = (
        Window.partitionBy(part_col)
        .orderBy(F.unix_date(F.col(day_col)))
        .rangeBetween(-(days - 1), 0)
    )
    return df.withColumn(out, F.sum(value_col).over(w))


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Gap-based sessionization via lag + conditional cumsum.

    The classic batch formulation of session windows: a new session
    starts when the gap to the previous event exceeds the threshold;
    session ids are the running count of session starts. Two window
    passes over the SAME (user, ts) partitioning/order — Spark reuses
    one shuffle+sort for both. The streaming twin uses
    ``session_window`` (streaming/events.py).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    # exact microsecond gap (unix_micros), not truncated seconds — keeps
    # borderline gaps engine-deterministic vs SQL oracles (epoch_us).
    micros = F.unix_micros(F.col(ts_col))
    gap = micros - F.lag(micros).over(w)
    new_session = F.when(
        gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        events.withColumn("is_new_session", new_session)
        .withColumn(
            "session_seq",
            F.sum("is_new_session").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy(user_col, "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
    )


# ---------------------------------------------------------------------------
# Set operations & grouping sets
# ---------------------------------------------------------------------------

def set_intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    """INTERSECT (distinct) — hash-based, one shuffle per side."""
    return a.intersect(b)


def set_except(a: DataFrame, b: DataFrame) -> DataFrame:
    """EXCEPT (distinct): rows of a with ANY match in b removed entirely.

    ``subtract`` is Spark's ANSI EXCEPT DISTINCT. (``exceptAll().distinct()``
    is NOT equivalent — it keeps a row whose multiplicity in a exceeds
    its multiplicity in b.)
    """
    return a.subtract(b)


def set_union(a: DataFrame, b: DataFrame) -> DataFrame:
    """UNION (distinct) — unionByName so column order never bites."""
    return a.unionByName(b).distinct()


def acctbal_rollup(
    customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """GROUP BY ROLLUP(region, nation): per-nation, per-region, grand total.

    Spark expands the rollup to grouping sets inside ONE aggregate —
    no re-scan per level. NULL group keys mark the subtotal rows, same
    convention as ANSI ROLLUP so a SQL oracle matches directly.
    """
    enriched = customer.join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    return (
        enriched.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _f(F.sum("c_acctbal")).alias("total_acctbal"),
        )
        .orderBy(F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


def priority_status_grouping_sets(orders: DataFrame) -> DataFrame:
    """Explicit GROUPING SETS: per-priority, per-status, grand total.

    Unlike rollup/cube this picks exactly the requested level
    combinations — three aggregate levels computed in ONE pass (Spark
    expands the sets inside a single Expand + HashAggregate, not one
    scan per level). NULL group keys mark each level, ANSI-style, so a
    SQL oracle matches directly.
    """
    return (
        orders.groupingSets(
            [["o_orderpriority"], ["o_orderstatus"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _f(F.sum("o_totalprice")).alias("total_price"),
        )
        .orderBy(
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
        )
    )


def melted_flag_summary(lineitem: DataFrame) -> DataFrame:
    """UNPIVOT (wide → long): per-returnflag measure matrix to rows.

    The inverse of pivot — aggregate first (3 sums per flag), then
    unpivot the tiny result. Melting is a narrow projection (Expand),
    so doing it AFTER the aggregate keeps the exploded row count at
    |groups| × |measures|, never |fact| × |measures|.
    """
    agg = lineitem.groupBy("l_returnflag").agg(
        _f(F.sum("l_quantity")).alias("sum_qty"),
        _f(F.sum("l_extendedprice")).alias("sum_price"),
        _f(F.sum("l_discount")).alias("sum_disc"),
    )
    return (
        agg.unpivot(
            "l_returnflag",
            ["sum_qty", "sum_price", "sum_disc"],
            "metric",
            "amount",
        )
        .orderBy("l_returnflag", "metric")
    )


def acctbal_percentiles(customer: DataFrame) -> DataFrame:
    """Exact linear-interpolated percentiles per segment.

    ``F.percentile`` (exact, JVM-side) — not approx_percentile — so a
    quantile_cont oracle matches bit-for-bit at float32. Exact
    percentiles sort within each group; at 100 TB prefer
    ``approx_profile`` (operators/profile.py) unless exactness is a
    requirement.
    """
    pct = F.percentile(
        F.col("c_acctbal"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    return (
        customer.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _f(pct[0]).alias("p25"),
            _f(pct[1]).alias("p50"),
            _f(pct[2]).alias("p75"),
        )
        .orderBy("c_mktsegment")
    )


def top_n_orders(orders: DataFrame, n: int = 10) -> DataFrame:
    """Global top-N (O5): TakeOrderedAndProject, not a full sort.

    Spark plans orderBy+limit as a per-partition top-N + single-reduce
    merge — no range shuffle of the full table. Unique tie-break on
    o_orderkey keeps the result set deterministic.
    """
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(n)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def customer_rank_suite(customer: DataFrame, buckets: int = 4) -> DataFrame:
    """The full SQL ranking-function family over one window spec.

    rank / dense_rank / percent_rank / cume_dist / ntile share a single
    (partition, order) spec, so Catalyst evaluates all five in ONE
    Window operator over one shuffle+sort — adding a ranking function
    to an existing spec is free at any scale. The order key carries a
    unique-id tie-break: with a total order, ntile bucket boundaries
    (and therefore every output) are engine-deterministic, not
    tie-dependent.
    """
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    )
    return customer.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).cast("float").alias("prnk"),
        F.cume_dist().over(w).cast("float").alias("cdist"),
        F.ntile(buckets).over(w).alias("quartile"),
    )


def point_in_bbox_join(
    points: DataFrame,
    boxes: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    north_col: str = "north",
    west_col: str = "west",
    south_col: str = "south",
    east_col: str = "east",
    band_deg: int = 10,
) -> DataFrame:
    """2-D spatial containment join: tag each point with covering boxes.

    The reference tags rows with their region by construction (one file
    per region — `dask_jobs/aggregate_hourly.py:118`); a general engine
    must do it the other way: given arbitrary (lat, lon) points and a
    table of bounding boxes `[N, W, S, E]` (`config/regions.yaml`
    shape), join by containment. The naive predicate join is a
    broadcast-nested-loop — fine for 4 regions, quadratic death for a
    10⁶-cell geo grid — so this is the binned formulation of
    ``binned_range_join`` lifted to 2-D:

    1. each box explodes to the latitude BANDS it covers
       (``sequence(floor(S/W°), floor(N/W°))`` — boxes are lat-narrow
       in practice, so the replication factor stays ~1-2);
    2. each point maps to its single band;
    3. equi-join on the band (broadcast when boxes are small, shuffled
       hash join otherwise), then exact 4-way containment re-check.

    A point lives in exactly one band and a box lists each band once,
    so every (point, box) match appears exactly once — no dedup.
    Longitude is handled purely by the residual predicate: binning one
    dimension already bounds candidates, and lat-banding is the right
    single axis for whole-degree bboxes. No antimeridian wrap (the
    reference's config never wraps; a wrapping box must be pre-split).
    """
    p = points.withColumn(
        "_band", F.floor(F.col(lat_col) / F.lit(band_deg)).cast("long")
    )
    b = boxes.withColumn(
        "_band",
        F.explode(
            F.sequence(
                F.floor(F.col(south_col) / F.lit(band_deg)).cast("long"),
                F.floor(F.col(north_col) / F.lit(band_deg)).cast("long"),
            )
        ),
    )
    # No explicit broadcast hint: a handful of config bboxes auto-
    # broadcasts under spark.sql.autoBroadcastJoinThreshold anyway,
    # while a large box table (the 10^6-cell geo grid case above) must
    # be free to take the shuffled-hash path — forcing F.broadcast here
    # would ship the whole grid to every task. AQE picks per-run.
    out = p.join(b, "_band").filter(
        (F.col(lat_col) >= F.col(south_col))
        & (F.col(lat_col) <= F.col(north_col))
        & (F.col(lon_col) >= F.col(west_col))
        & (F.col(lon_col) <= F.col(east_col))
    )
    return out.drop("_band")


def char_grams(col: Column | str, q: int = 3) -> Column:
    """Distinct character q-grams of a string (whole string if shorter)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    return F.array_distinct(
        F.when(
            n >= q,
            F.transform(
                F.sequence(F.lit(1), n - q + 1),
                lambda i: c.substr(i, F.lit(q)),
            ),
        ).otherwise(F.array(c))
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_col: str,
    right_col: str,
    threshold: float = 0.5,
    q: int = 3,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Approximate string match (entity resolution) via char-q-gram Jaccard.

    The record-linkage join SQL engines fake with LIKE and UDF loops:
    candidates come from an INVERTED-INDEX equi-join on shared q-grams
    (never a cross join — the plan audit in tests enforces it), then
    exact Jaccard over the full distinct-gram arrays verifies each
    candidate. Jaccard is a ratio of integers (one IEEE division) —
    bit-identical across engines, no rounding dance.

    Scale: gram explosion is map-only; the index join is keyed by gram
    — Zipf-frequent grams ("ing", "er ") fan out, so ``max_gram_df``
    optionally drops grams above a document frequency from CANDIDATE
    GENERATION only (verification still uses full arrays, so the
    measure is unchanged; only recall of pairs sharing NOTHING but
    ubiquitous grams is traded — the standard positional-filtering
    trade in similarity joins).
    """
    lg = left.select(
        F.col(left_id).alias("id_a"),
        char_grams(left_col, q).alias("_ga"),
    )
    rg = right.select(
        F.col(right_id).alias("id_b"),
        char_grams(right_col, q).alias("_gb"),
    )
    la = lg.select("id_a", F.explode("_ga").alias("gram"))
    rb = rg.select("id_b", F.explode("_gb").alias("gram"))
    if max_gram_df is not None:
        hot = (
            rb.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_gram_df)
            .select("gram")
        )
        la = la.join(hot, "gram", "left_anti")
        rb = rb.join(hot, "gram", "left_anti")
    cands = la.join(rb, "gram").select("id_a", "id_b").distinct()
    verified = (
        cands.join(lg, "id_a")
        .join(rg, "id_b")
        .withColumn("_inter", F.size(F.array_intersect("_ga", "_gb")))
        .withColumn(
            "jaccard",
            F.col("_inter").cast("double")
            / (F.size("_ga") + F.size("_gb") - F.col("_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select(
        "id_a", "id_b", F.col("jaccard").cast("float").alias("jaccard")
    ).orderBy("id_a", "id_b")


def _even_segments(name: F.Column, n: F.Column, p: int) -> F.Column:
    """array<struct<idx,seg>> — the p even positional segments of a
    string of length ``n`` (PassJoin's partition scheme): segment i
    spans 1-based positions ``(i*n div p)+1 .. ((i+1)*n div p)``.
    Integer arithmetic is exact (n*i < 2^53 and the quotient gap is
    ≥ 1/p, so the double division's floor can never land wrong)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(p - 1)),
        lambda i: F.struct(
            i.cast("int").alias("idx"),
            name.substr(
                (F.floor(i * n / F.lit(p)) + 1).cast("int"),
                (
                    F.floor((i + 1) * n / F.lit(p)) - F.floor(i * n / F.lit(p))
                ).cast("int"),
            ).alias("seg"),
        ),
    )


def edit_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_col: str,
    right_col: str,
    k: int = 2,
    max_candidates: int | None = 2_000_000_000,
) -> DataFrame:
    """Edit-distance join: all (id_a, id_b) with levenshtein ≤ ``k``.

    The OTHER half of record linkage next to :func:`fuzzy_join`'s
    set-similarity: bounded edit distance, with candidate generation by
    PassJoin-style pigeonhole segment blocking (Li, Deng, Feng: "PASS-
    JOIN: a partition-based method for similarity joins", VLDB 2012 —
    public algorithm, reimplemented on DataFrames):

    * every LEFT string of length n ≥ k+1 is split into k+1 even
      positional segments — if ed(a, b) ≤ k then by pigeonhole at
      least one segment survives the optimal alignment error-free, as
      a substring of b whose start is shifted by at most the net
      indel balance, i.e. ≤ k;
    * every RIGHT string of length m enumerates, for each candidate
      left length l in [max(k+1, m−k), m+k] and each segment index,
      the substrings at the ≤ 2k+1 feasible shifted positions — a
      constant ≤ (2k+1)·(k+1)·(2k+1) rows per string (45 at k=2),
      map-only;
    * candidates come from one EQUI-join on (l, idx, seg) — never a
      cross join — then exact ``levenshtein`` verifies each pair.
    * strings shorter than k+1 can't donate k+1 non-empty segments;
      they block on exact length instead (left key l=n; right
      enumerates l in [m−k, m+k] ∩ [0, k]), which still covers every
      pair passing the |n−m| ≤ k length filter. Sub-(k+1)-char keys
      are degenerate for linkage (everything matches everything at
      ed ≤ k); the block is keyed, not crossed, so a pathological
      flood of 1-char names skews one reducer rather than exploding.

    Recall is therefore EXACT — every pair at distance ≤ k is
    generated — unlike LSH-family candidates; the price is the
    constant-factor substring enumeration, the standard trade.

    NULL names are excluded (content-processor convention). Output:
    (id_a, id_b, dist), dist the exact levenshtein as int.

    Scale: both explodes are map-side with constant fan-out; the
    candidate join keys (l, idx, seg) are near-unique for names with
    entropy (hex ids, addresses), so the shuffle is skew-free; the
    verify step is one hash join back to the two name tables plus a
    linear levenshtein per surviving candidate — at 100 TB this is
    the shape you'd run per blocking pass, never O(n²).

    Degenerate-bucket breaker: when a blocking segment is CONSTANT
    across the corpus (every name shares a literal prefix covering a
    whole segment), that (l, idx, seg) bucket holds everything and the
    candidate join is quadratic on ONE key — one reducer, no
    parallelism, and no post-join filter can recover it (the rows
    must still stream). ``max_candidates`` (default 2e9, ~the measured
    133 s sf0.1 flood × 10) bounds the EXACT per-bucket candidate
    volume Σ n_left·n_right with one cheap count-aggregate join before
    the candidate join runs, and refuses with the hot buckets named —
    the caller should strip the shared literal prefix (it carries no
    edit signal: ed(p+a, p+b) = ed(a, b) for a shared prefix p) or
    raise the cap deliberately. None disables.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    p = k + 1

    # 61-bucket character-class bitmask, used as a pre-levenshtein
    # candidate filter: one edit changes the char MULTISET by at most
    # one removal + one insertion, so ed(a, b) <= k implies the set of
    # char classes present differs by <= k additions and <= k removals
    # -> bit_count(mask_a XOR mask_b) <= 2k. Bucketing different chars
    # onto one bit only COARSENS the mask (XOR bits can only vanish),
    # so the filter can never reject a true pair — exact recall holds.
    # Why it exists: segment blocking degenerates on SHARED PREFIXES —
    # every "cust-<hex>" name puts segment 0 in ONE bucket, turning
    # the candidate join quadratic (measured: 225M candidate pairs /
    # 508 s at sf0.1). The mask rides the join and kills ~all of the
    # flood IN-STAGE, before the distinct shuffle and the O(len^2)
    # levenshtein DP (measured: 508 s -> seconds, identical output).
    def _charmask(col: F.Column) -> F.Column:
        # 1 << n spelled as pow(2, n): F.shiftleft takes only literal
        # bit counts, and powers of two are EXACT doubles at any n<=61
        bits = F.transform(
            F.split(col, ""),
            lambda c: F.when(
                F.length(c) > 0,
                F.pow(F.lit(2.0), F.pmod(F.ascii(c), F.lit(61)))
                .cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )
        return F.aggregate(
            bits,
            F.lit(0).cast("long"),
            lambda acc, b: acc.bitwiseOR(b),
        )

    # Second in-stage filter: a 61-bucket BIGRAM bitmask. The unigram
    # mask saturates on long strings over a small alphabet (every name
    # contains every char class -> identical masks, filter dead —
    # exactly the 10x-names probe geometry); bigram SETS keep entropy
    # far longer (16-char hex alphabet = 256 bigram types vs 16 char
    # types). Recall bound: one edit op rewrites at most the 2 bigrams
    # overlapping the edit position — <= 2 occurrence removals + <= 2
    # additions, so <= 4 presence-bit flips per op and
    # bit_count(bmask_a XOR bmask_b) <= 4k for ed <= k. Hash-bucketing
    # bigram types onto 61 bits only COARSENS (XOR bits can only
    # vanish), so exact recall holds; strings shorter than 2 carry an
    # empty mask and trivially pass.
    def _bigrammask(col: F.Column, ln: F.Column) -> F.Column:
        grams = F.when(
            ln >= 2,
            F.transform(
                F.sequence(F.lit(1), ln - 1),
                lambda i: F.pow(
                    F.lit(2.0),
                    F.pmod(
                        F.xxhash64(col.substr(i.cast("int"), F.lit(2))),
                        F.lit(61),
                    ),
                ).cast("long"),
            ),
        ).otherwise(F.array().cast("array<long>"))
        return F.aggregate(
            grams,
            F.lit(0).cast("long"),
            lambda acc, b: acc.bitwiseOR(b),
        )

    lt = left.filter(F.col(left_col).isNotNull()).select(
        F.col(left_id).alias("id_a"),
        F.col(left_col).alias("_na"),
        F.length(left_col).alias("_la"),
        _charmask(F.col(left_col)).alias("_ma"),
        _bigrammask(F.col(left_col), F.length(left_col)).alias("_ba"),
    )
    rt = right.filter(F.col(right_col).isNotNull()).select(
        F.col(right_id).alias("id_b"),
        F.col(right_col).alias("_nb"),
        F.length(right_col).alias("_lb"),
        _charmask(F.col(right_col)).alias("_mb"),
        _bigrammask(F.col(right_col), F.length(right_col)).alias("_bb"),
    )

    # -- left keys: (l, idx, seg) ------------------------------------
    lseg = (
        lt.filter(F.col("_la") >= p)
        .select(
            "id_a",
            "_ma",
            "_ba",
            F.col("_la").alias("l"),
            F.explode(
                _even_segments(F.col("_na"), F.col("_la"), p)
            ).alias("s"),
        )
        .select(
            "id_a", "_ma", "_ba", "l",
            F.col("s.idx").alias("idx"), F.col("s.seg").alias("seg"),
        )
    )
    # short strings: one block per exact length, idx = -1, seg = ''
    lshort = lt.filter(F.col("_la") < p).select(
        "id_a",
        "_ma",
        "_ba",
        F.col("_la").alias("l"),
        F.lit(-1).alias("idx"),
        F.lit("").alias("seg"),
    )
    lkeys = lseg.unionByName(lshort)

    # -- right keys: enumerate (l, idx, substring at shifted pos) -----
    r_l = rt.select(
        "id_b", "_nb", "_lb", "_mb", "_bb",
        F.explode(
            F.sequence(
                F.greatest(F.lit(p), F.col("_lb") - F.lit(k)),
                F.col("_lb") + F.lit(k),
            )
        ).alias("l"),
    )
    r_li = r_l.select(
        "id_b", "_nb", "_lb", "_mb", "_bb", "l",
        F.explode(F.sequence(F.lit(0), F.lit(p - 1))).alias("idx"),
    ).select(
        "id_b", "_nb", "_lb", "_mb", "_bb", "l", "idx",
        (F.floor(F.col("idx") * F.col("l") / F.lit(p)) + 1).alias("_start0"),
        (
            F.floor((F.col("idx") + 1) * F.col("l") / F.lit(p))
            - F.floor(F.col("idx") * F.col("l") / F.lit(p))
        ).alias("_slen"),
    )
    lo = F.greatest(F.lit(1), F.col("_start0") - F.lit(k))
    hi = F.least(F.col("_lb") - F.col("_slen") + 1, F.col("_start0") + F.lit(k))
    rsub = (
        r_li.withColumn(
            "pos",
            F.explode(
                F.when(lo <= hi, F.sequence(lo, hi)).otherwise(
                    F.array().cast("array<bigint>")
                )
            ),
        )
        .select(
            "id_b", "_mb", "_bb", "l", "idx",
            F.col("_nb").substr(
                F.col("pos").cast("int"), F.col("_slen").cast("int")
            ).alias("seg"),
        )
    )
    # short rights: every feasible short-left length block
    rshort = rt.select(
        "id_b",
        "_mb",
        "_bb",
        F.explode(
            F.sequence(
                F.greatest(F.lit(0), F.col("_lb") - F.lit(k)),
                F.least(F.lit(p - 1), F.col("_lb") + F.lit(k)),
            )
        ).alias("l"),
        F.lit(-1).alias("idx"),
        F.lit("").alias("seg"),
    ).select("id_b", "_mb", "_bb", "l", "idx", "seg")
    rkeys = rsub.unionByName(rshort)

    if max_candidates is not None:
        lcnt = lkeys.groupBy("l", "idx", "seg").agg(
            F.count(F.lit(1)).alias("_nl")
        )
        rcnt = rkeys.groupBy("l", "idx", "seg").agg(
            F.count(F.lit(1)).alias("_nr")
        )
        hot = (
            lcnt.join(rcnt, ["l", "idx", "seg"])
            .select(
                "l", "idx", "seg",
                (F.col("_nl") * F.col("_nr")).alias("_pairs"),
            )
        )
        est_row = hot.agg(
            F.sum("_pairs").alias("_total"), F.max("_pairs").alias("_max")
        ).first()
        est = est_row["_total"] or 0
        if est > max_candidates:
            worst = hot.orderBy(F.col("_pairs").desc()).first()
            raise ValueError(
                f"edit_join: the segment-blocking candidate join would "
                f"stream {est} pairs (> max_candidates={max_candidates}); "
                f"hottest bucket (l={worst['l']}, idx={worst['idx']}, "
                f"seg={worst['seg']!r}) alone contributes "
                f"{worst['_pairs']} — a constant blocking segment is "
                "quadratic on one shuffle key and no post-join filter "
                "recovers it. Strip the shared literal prefix before "
                "joining (ed(p||a, p||b) = ed(a, b)) or raise "
                "max_candidates deliberately."
            )

    # char-mask prefilter INSIDE the candidate join stage: pairs from a
    # degenerate shared-prefix bucket die here, before the distinct
    # shuffle and the levenshtein DP (provably recall-safe, see above)
    cands = (
        lkeys.join(rkeys, ["l", "idx", "seg"])
        .filter(
            (F.bit_count(F.col("_ma").bitwiseXOR(F.col("_mb"))) <= 2 * k)
            & (
                F.bit_count(F.col("_ba").bitwiseXOR(F.col("_bb")))
                <= 4 * k
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    verified = (
        cands.join(lt.select("id_a", "_na"), "id_a")
        .join(rt.select("id_b", "_nb"), "id_b")
        .withColumn("dist", F.levenshtein("_na", "_nb"))
        .filter(F.col("dist") <= k)
    )
    return verified.select(
        "id_a", "id_b", F.col("dist").cast("int").alias("dist")
    ).orderBy("id_a", "id_b")


def copurchase_pairs(
    lineitem: DataFrame,
    min_count: int = 2,
    top_k: int = 50,
) -> DataFrame:
    """Market-basket analysis: most co-purchased part pairs.

    The classic association query: parts appearing in the SAME order,
    counted across orders. The pair space is generated per order by an
    in-bucket array combinator over the order's sorted distinct part
    set (r11 — previously a self-equi-join on the order key: the
    combinator form drops the join and its exchange while emitting the
    identical a < b canonical pairs, the jaccard_pairs bucket-expansion
    shape). Candidates stay bounded by order size², ~7² here and small
    for any realistic basket; duplicate part lines within one order
    collapse first (collect_set) so a twice-ordered part doesn't
    self-pair.

    Scale: one distinct + one per-order set aggregate + one count
    aggregate — no join; top-k is TakeOrderedAndProject.
    """
    sets = (
        lineitem.select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )
    n = F.size("ps")
    pair_arrays = F.flatten(
        F.transform(
            "ps",
            lambda x, i: F.transform(
                F.slice("ps", i + 2, n),  # elements strictly after i
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    return (
        sets.select(F.explode(pair_arrays).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= min_count)
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(top_k)
    )


def qoq_growth(
    orders: DataFrame,
    min_growth: float = 0.2,
) -> DataFrame:
    """Customers whose quarterly spend grew ≥ min_growth QoQ.

    Growth-cohort shape: one (customer, quarter) aggregate, one lag
    window over each customer's quarter series, growth filter. "QoQ"
    means ADJACENT quarters only: the lag is gated on the linearized
    quarter index (year*4 + quarter) differing by exactly 1, so a
    customer with a gap (1995-Q1 then 1995-Q4) contributes NO growth
    row for Q4 rather than an inflated cross-gap comparison. Exact
    integer-cent-free contract: spend sums are doubles → growth rounded
    to 4 dp and cast float32 like every ratio in the suite.
    """
    q = F.concat(
        F.year("o_orderdate").cast("string"),
        F.lit("-Q"),
        F.quarter("o_orderdate").cast("string"),
    )
    qidx = F.year("o_orderdate") * 4 + F.quarter("o_orderdate")
    spend = orders.groupBy(
        F.col("o_custkey"), q.alias("quarter"), qidx.alias("_qidx")
    ).agg(F.sum("o_totalprice").alias("spend"))
    w = Window.partitionBy("o_custkey").orderBy("_qidx")
    prev = F.when(
        F.col("_qidx") - F.lag("_qidx").over(w) == 1, F.lag("spend").over(w)
    )
    return (
        spend.withColumn("prev_spend", prev)
        .drop("_qidx")
        .filter(F.col("prev_spend").isNotNull())
        .withColumn(
            "growth",
            F.round(
                (F.col("spend") - F.col("prev_spend")) / F.col("prev_spend"),
                4,
            ).cast("float"),
        )
        .filter(F.col("growth") >= min_growth)
        .select(
            "o_custkey",
            "quarter",
            F.col("spend").cast("float").alias("spend"),
            F.col("prev_spend").cast("float").alias("prev_spend"),
            "growth",
        )
        .orderBy("o_custkey", "quarter")
    )


def pareto_contribution(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    share_cut: float = 0.8,
) -> DataFrame:
    """Per-nation Pareto: the smallest top-revenue part set covering
    ``share_cut`` of that nation's revenue.

    The 80/20 analysis: revenue per (nation, part), ranked within the
    nation by revenue (part key tie-break), running share via a window
    cumsum over the nation partition — each nation sorts only its own
    aggregate (nation-partitioned window, no global order). A part is
    kept while the share BEFORE it is < share_cut, so the output is the
    minimal prefix whose cumulative share reaches the cut.
    """
    rev = (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(
            F.broadcast(nation),
            customer["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy(F.col("n_name").alias("nation"), F.col("l_partkey"))
        .agg(
            F.sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            ).alias("revenue")
        )
    )
    w = Window.partitionBy("nation").orderBy(
        F.col("revenue").desc(), F.col("l_partkey")
    )
    total_w = Window.partitionBy("nation")
    cum_before = F.coalesce(
        F.sum("revenue").over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0.0),
    )
    return (
        rev.withColumn("_total", F.sum("revenue").over(total_w))
        .withColumn("_before", cum_before)
        .filter(F.col("_before") / F.col("_total") < share_cut)
        .select(
            "nation",
            "l_partkey",
            F.col("revenue").cast("float").alias("revenue"),
            F.round(
                (F.col("_before") + F.col("revenue")) / F.col("_total"), 4
            ).cast("float").alias("cum_share"),
        )
        .orderBy("nation", F.col("revenue").desc(), "l_partkey")
    )


def association_rules(
    lineitem: DataFrame,
    min_pair_orders: int = 2,
    top_k: int = 50,
) -> DataFrame:
    """Apriori 2-itemset rules: support, confidence, lift per pair.

    The step after ``copurchase_pairs``: each canonical pair (a < b)
    becomes two directed rules a→b and b→a with

        support    = P(a,b)   = pair_orders / n_orders
        confidence = P(b | a) = pair_orders / orders(a)
        lift       = P(a,b) / (P(a) · P(b))

    Exact integer counts everywhere; the three ratios are single IEEE
    divisions ROUNDed to 6 dp + float32 like the suite's other ratios.
    Item supports join onto the (already tiny) pair table — the fact
    table is scanned twice (pairs, item counts), both into partial
    aggregates; nothing quadratic beyond the per-basket pair space.
    """
    parts = lineitem.select("l_orderkey", "l_partkey").distinct()
    n_orders = parts.select("l_orderkey").distinct().count()
    item = parts.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count(F.lit(1)).alias("item_orders")
    )
    # per-basket pair space via the in-bucket array combinator (r11 —
    # replaces the self-equi-join on the order key; identical x < y
    # canonical pairs, one exchange fewer, see copurchase_pairs)
    sets = parts.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    sz = F.size("ps")
    pair_arrays = F.flatten(
        F.transform(
            "ps",
            lambda px, i: F.transform(
                F.slice("ps", i + 2, sz),  # elements strictly after i
                lambda py: F.struct(px.alias("x"), py.alias("y")),
            ),
        )
    )
    pairs = (
        sets.select(F.explode(pair_arrays).alias("p"))
        .select("p.x", "p.y")
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("pair_orders"))
        .filter(F.col("pair_orders") >= min_pair_orders)
    )
    directed = pairs.select(
        F.col("x").alias("antecedent"),
        F.col("y").alias("consequent"),
        "pair_orders",
    ).unionByName(
        pairs.select(
            F.col("y").alias("antecedent"),
            F.col("x").alias("consequent"),
            "pair_orders",
        )
    )
    ante = item.select(
        F.col("item").alias("antecedent"),
        F.col("item_orders").alias("_na"),
    )
    cons = item.select(
        F.col("item").alias("consequent"),
        F.col("item_orders").alias("_nc"),
    )
    n = float(n_orders)
    out = (
        directed.join(ante, "antecedent")
        .join(cons, "consequent")
        .select(
            "antecedent",
            "consequent",
            "pair_orders",
            F.round(F.col("pair_orders") / F.lit(n), 6)
            .cast("float")
            .alias("support"),
            F.round(F.col("pair_orders") / F.col("_na"), 6)
            .cast("float")
            .alias("confidence"),
            F.round(
                (F.col("pair_orders") * F.lit(n))
                / (F.col("_na") * F.col("_nc")),
                6,
            )
            .cast("float")
            .alias("lift"),
        )
    )
    return out.orderBy(
        F.col("confidence").desc(), "antecedent", "consequent"
    ).limit(top_k)


def _range_rank(
    df: DataFrame,
    sort_exprs: list,
    num_ranges: int | None,
    pin: bool,
    with_total: bool = False,
) -> DataFrame:
    """Global 1-based rank in ``sort_exprs`` order without a
    single-partition window: ``df`` plus ``_pid``, ``_lrank`` and
    ``_off`` (and ``_n``, the row count, when ``with_total``), where
    the global rank is ``_lrank + _off``.

    ``row_number().over(Window.orderBy(...))`` funnels the whole table
    through one task. This decomposition stays distributed:

    1. ``repartitionByRange`` on the (total-order, tie-broken) sort
       key — Spark's range exchange samples boundaries, so partition
       ids come out range-ordered;
    2. rank WITHIN each partition (``partitionBy(_pid)`` — parallel,
       no global sort);
    3. prefix-sum the per-partition counts (a P-row window — bounded
       by the partition count, not the data) and broadcast-join the
       offsets back.

    The ranked table is PINNED with localCheckpoint: the counts branch
    and the final join must observe the SAME range-exchange boundaries,
    and with two independent executions the range partitioner would
    re-SAMPLE — nothing guarantees identical boundaries unless
    ReuseExchange happens to fire (with spark.sql.exchange.reuse
    disabled, or a plan change splitting the subtrees, the branches
    disagree and ranks duplicate or skip). One materialization makes
    the invariant structural.

    The sort key must be a total order (tie-break on a unique column)
    or ranks within ties are partition-placement-dependent.

    ``pin=False`` skips the checkpoint — ONLY for plan inspection in
    tests (the checkpoint hides the window behind a Scan ExistingRDD).
    """
    spark = df.sparkSession
    P = num_ranges or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranked = (
        df.repartitionByRange(P, *sort_exprs)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_lrank",
            F.row_number().over(
                Window.partitionBy("_pid").orderBy(*sort_exprs)
            ),
        )
    )
    if pin:
        ranked = ranked.localCheckpoint(eager=False)
    counts = ranked.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    wp = Window.orderBy("_pid")
    before = wp.rowsBetween(Window.unboundedPreceding, -1)
    offsets = [F.coalesce(F.sum("_cnt").over(before), F.lit(0)).alias("_off")]
    if with_total:
        whole = wp.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        offsets.append(F.sum("_cnt").over(whole).alias("_n"))
    return ranked.join(F.broadcast(counts.select("_pid", *offsets)), "_pid")


def _range_ntile(
    df: DataFrame,
    sort_exprs: list,
    n_tiles: int,
    alias: str,
    id_col: str,
    num_ranges: int | None = None,
) -> DataFrame:
    """Exact ntile without a single global window partition.

    ``F.ntile(t).over(Window.orderBy(...))`` moves the ENTIRE table
    through one task — an unbounded-frame global window and a hard
    ceiling at billions of rows. This ranks with the pinned
    :func:`_range_rank` and maps rank to bucket with ntile's exact
    fill rule — with q, rem = divmod(n, t), the first ``rem`` buckets
    take q+1 rows:
       bucket(r) = ceil(r/(q+1))                    for r ≤ (q+1)·rem
                 = rem + ceil((r - (q+1)·rem)/q)    otherwise
    """
    r = (F.col("_lrank") + F.col("_off")).cast("long")
    n = F.col("_n").cast("long")
    t = F.lit(n_tiles).cast("long")
    q = F.floor(n / t).cast("long")
    rem = n % t
    thr = (q + F.lit(1)) * rem
    bucket = (
        F.when(r <= thr, F.floor((r - F.lit(1)) / (q + F.lit(1))) + F.lit(1))
        .otherwise(
            rem
            + F.floor((r - thr - F.lit(1)) / F.greatest(q, F.lit(1)))
            + F.lit(1)
        )
        .cast("int")
    )
    return _range_rank(
        df, sort_exprs, num_ranges, pin=True, with_total=True
    ).select(id_col, bucket.alias(alias))


def rfm_segments(
    orders: DataFrame,
    n_tiles: int = 4,
    asof: str = "1998-12-31",
) -> DataFrame:
    """RFM customer segmentation: recency/frequency/monetary quartiles.

    The marketing-analytics staple: per customer, days since last
    order (R), order count (F), total spend (M); each scored into
    n_tiles with custkey tie-breaks so the segmentation is
    deterministic across engines and partitionings. Scoring uses
    ``_range_ntile`` — the range-partitioned exact decomposition —
    not a global ntile window, so no step funnels the customer-grain
    table through one task; the three score tables equi-join back on
    custkey (uniform key). The customer aggregate feeds four branches
    (the three pinned rankings and the final join) — at warehouse
    scale, land it (or ``.cache()``) first so the fact scan runs once.
    """
    cut = F.to_timestamp(F.lit(asof))
    per_cust = orders.groupBy("o_custkey").agg(
        F.datediff(cut, F.max("o_orderdate")).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum("o_totalprice").alias("monetary"),
    )
    # order monetary by EXACT integer cents: the raw double sum is
    # order-dependent in its last ulp, and two equal-cent customers
    # could swap sides of the ntile boundary across engines
    cents = F.round(F.col("monetary") * 100).cast("long")
    ck = F.col("o_custkey")
    r_sc = _range_ntile(
        per_cust, [F.col("recency_days").asc(), ck.asc()],
        n_tiles, "r_score", "o_custkey",
    )
    f_sc = _range_ntile(
        per_cust, [F.col("frequency").desc(), ck.asc()],
        n_tiles, "f_score", "o_custkey",
    )
    m_sc = _range_ntile(
        per_cust, [cents.desc(), ck.asc()],
        n_tiles, "m_score", "o_custkey",
    )
    return (
        per_cust.join(r_sc, "o_custkey")
        .join(f_sc, "o_custkey")
        .join(m_sc, "o_custkey")
        .select(
            "o_custkey",
            "recency_days",
            "frequency",
            F.col("monetary").cast("float").alias("monetary"),
            "r_score",
            "f_score",
            "m_score",
        )
        .orderBy("o_custkey")
    )


def triangle_participation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    top_k: int = 50,
) -> DataFrame:
    """Per-node triangle counts on an undirected graph: the ``top_k``
    nodes on at least one triangle, ``(node, n_triangles)`` by count
    descending, then node — spam-ring and community-density detection
    on the co-purchase graph, never touching the fact data.

    Either edge orientation; self-loops and duplicates are dropped.
    Triangles come from ``graph._triangles``, the enumeration
    ``clustering_coefficient`` uses (degree-ordered, pinned, with the
    ``max_wedges`` breaker at its default: one extra 1-row job).
    """
    _, tcount = _triangles(
        edges, src_col, dst_col, 1_000_000_000, "triangle_participation"
    )
    return tcount.orderBy(F.col("n_triangles").desc(), "node").limit(top_k)


def assign_dense_ids(
    df: DataFrame,
    sort_exprs: list,
    alias: str = "dense_id",
    num_ranges: int | None = None,
    pin: bool = True,
) -> DataFrame:
    """Attach a global dense 1..n id in ``sort_exprs`` order — the
    ingest primitive (stable contiguous doc/sample ids for shard
    export) WITHOUT the single-partition global window.

    ``row_number().over(Window.orderBy(...))`` funnels the whole
    table through one task; ``monotonically_increasing_id`` is
    partition-sparse and non-contiguous; ``zipWithIndex`` drops to
    RDDs. This is the :func:`_range_rank` decomposition (range
    exchange → per-partition row_number → P-row prefix sum of
    partition counts broadcast back) with the rank itself as the
    product: global id = local rank + partition offset. The ranked
    table is pinned so both branches see one set of range boundaries;
    the sort key must be a total order.

    ``pin=False`` skips the checkpoint — ONLY for plan inspection in
    tests; production callers must keep the pin.
    """
    return (
        _range_rank(df, sort_exprs, num_ranges, pin)
        .withColumn(alias, (F.col("_lrank") + F.col("_off")).cast("long"))
        .drop("_pid", "_lrank", "_off")
    )
