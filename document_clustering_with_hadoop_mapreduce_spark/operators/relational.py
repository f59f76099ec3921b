"""Relational query shapes over the TPC-H-ish tables.

The reference has no relational joins (SURVEY.md §2.4 — all its "joins" are
broadcast map-side lookups J1-J5). The engine exposes the full relational
breadth Spark provides; these composable builders cover the shapes the
oracle harness sweeps: multi-way joins (broadcast where a side is small),
grouped aggregates, windows, semi/anti joins, top-k.

Float determinism: money/quantity sums aggregate over DECIMAL(18,4) casts
(exact, order-independent) and only then convert back to double — a plain
double sum's value depends on summation order, which differs between Spark
partitions and the DuckDB oracle (and between cluster sizes!).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dsum(col: Column, scale: int = 2) -> Column:
    """Order-independent money sum: exact decimal agg -> double -> round."""
    return F.round(F.sum(col.cast("decimal(28,6)")).cast("double"), scale)


def davg(col: Column, scale: int = 6) -> Column:
    """Order-independent average via exact decimal sum / count."""
    return F.round(
        F.sum(col.cast("decimal(28,6)")).cast("double") / F.count(F.lit(1)), scale
    )


def pricing_summary(lineitem: DataFrame, cutoff: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate, no joins.

    One exchange on (returnflag, linestatus) — few groups, trivially small
    final agg; the heavy lifting is the map-side partial aggregate, which
    scales linearly with executors. The shipdate filter pushes to parquet.
    """
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def revenue_by_nation(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
                      nation: DataFrame, region: DataFrame) -> DataFrame:
    """TPC-H Q5 shape: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region.

    nation/region/customer broadcast (dimension tables); the only shuffle
    join is lineitem⋈orders on orderkey — at 100 TB that's the one real
    exchange, and AQE picks SMJ vs shuffled-hash from runtime stats.
    """
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(dsum(revenue).alias("revenue"))
    )


def top_revenue_orders(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
                       segment: str = "BUILDING", k: int = 10) -> DataFrame:
    """TPC-H Q3 shape: selective broadcast join + agg + global top-k.

    Ordering is on the ROUNDED revenue with orderkey tie-break, so the top-k
    set is stable under fp noise and across engines.
    """
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer.filter(F.col("c_mktsegment") == segment)),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey")
        .agg(dsum(revenue).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(k)
    )


def customers_without_orders(customer: DataFrame, orders: DataFrame,
                             min_total: float = 400000.0) -> DataFrame:
    """Anti join: customers who never placed an order above ``min_total``.

    The filter keeps the result non-trivial on the synthetic data (every
    customer has SOME order). At scale the anti join hashes distinct keys of
    the filtered side; no pre-distinct needed."""
    big = orders.filter(F.col("o_totalprice") > min_total)
    return customer.join(big, F.col("c_custkey") == F.col("o_custkey"), "left_anti").select(
        "c_custkey", "c_name"
    )


def repeat_customers(customer: DataFrame, orders: DataFrame, min_orders: int = 5) -> DataFrame:
    """Semi-join shape: customers having >= N orders (agg + broadcast semi)."""
    big = (
        orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= min_orders)
    )
    return (
        customer.join(big, F.col("c_custkey") == F.col("o_custkey"))
        .select("c_custkey", "c_name", "n_orders")
    )


def customer_recent_orders(customer: DataFrame, orders: DataFrame, k: int = 3) -> DataFrame:
    """Window: each customer's k most recent orders with running spend.

    The cumulative sum runs over DECIMAL casts (house float discipline):
    exact, hence order-independent.

    Hot-key bound: the window sorts all of a customer's orders in one
    task; AQE cannot split a window partition.
    """
    # ONE sort, not two: (o_orderdate, o_orderkey) is unique per row, so
    # the recency rank over the DESC ordering equals n - asc_rank + 1 —
    # the count(*) window has no required ordering and the asc row_number
    # shares the cumsum's sort, removing the second full Sort pass the
    # old desc row_number window forced (guide §2.4: two operations keyed
    # the same way share one exchange AND, here, one sort).
    w_asc = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    wsum = w_asc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy("o_custkey")
    return (
        orders.withColumn(
            "running_spend",
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(28,6)")).over(wsum).cast("double"), 2
            ),
        )
        .withColumn(
            "rn",
            (F.count(F.lit(1)).over(w_all) - F.row_number().over(w_asc) + 1).cast("int"),
        )
        .filter(F.col("rn") <= k)
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "rn", "running_spend")
    )


def customer_set_ops(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Set operations: INTERSECT / EXCEPT / UNION in one shape.

    (high-balance customers ∩ customers with any order) ∪ (negative-balance
    customers ∖ customers with any order), labeled by branch. Spark plans
    intersect/except as left-semi/anti hash joins — same exchanges as the
    explicit joins, no extra sort."""
    with_orders = orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
    high = customer.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    neg = customer.filter(F.col("c_acctbal") < 0).select("c_custkey")
    active_high = high.intersect(with_orders).withColumn("segment", F.lit("active_high"))
    dormant_neg = neg.exceptAll(with_orders).withColumn("segment", F.lit("dormant_neg"))
    return active_high.unionByName(dormant_neg)


def customer_order_totals_outer(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """FULL OUTER join shape: every customer and every order-owning key,
    including orphans on both sides (orders whose custkey has no customer
    row and customers with no orders). Null-filled aggregates coalesced."""
    totals = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("total_spend"),
    )
    return (
        customer.select("c_custkey", "c_name")
        .join(totals, F.col("c_custkey") == F.col("o_custkey"), "full_outer")
        .select(
            F.coalesce(F.col("c_custkey"), F.col("o_custkey")).alias("custkey"),
            F.col("c_name").alias("name"),
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
            F.coalesce(F.col("total_spend"), F.lit(0.0)).alias("total_spend"),
        )
    )


def asof_last_purchase(events: DataFrame) -> DataFrame:
    """As-of join: for every click, the user's most recent purchase at or
    before the click (value + timestamp), nulls where none exists.

    Spark has no ASOF JOIN operator; the scalable form is the union +
    forward-fill window: interleave both streams ordered by (ts, tag) per
    user, carry the last purchase forward with last_value(ignorenulls),
    keep the clicks. ONE exchange on user_id, no range explosion —
    this is the standard big-data as-of pattern (point-in-time join).
    """
    tagged = events.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        # purchases sort before clicks at the same ts => "at or before" includes ties
        F.when(F.col("event_type") == "purchase", F.lit(0)).otherwise(F.lit(1)).alias("tag"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p_val = F.when(F.col("tag") == 0, F.col("value"))
    p_ts = F.when(F.col("tag") == 0, F.col("ts"))
    filled = tagged.withColumn(
        "last_purchase_value", F.last(p_val, ignorenulls=True).over(w)
    ).withColumn("last_purchase_ts", F.last(p_ts, ignorenulls=True).over(w))
    return (
        filled.filter(F.col("tag") == 1)
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
            F.round("last_purchase_value", 4).alias("last_purchase_value"),
            "last_purchase_ts",
        )
    )


def rolling_30d_spend(orders: DataFrame) -> DataFrame:
    """Time-RANGE window: each order with the customer's trailing-30-day
    spend (inclusive). RANGE frames bound by event-time, not row count —
    the shape behind sliding feature windows; one exchange on custkey.

    Hot-key bound: the RANGE window buffers every order of a customer in
    one task; AQE cannot split a window partition."""
    w = (
        Window.partitionBy("o_custkey")
        # NTZ -> epoch seconds (session tz is pinned to UTC) for the RANGE
        .orderBy(F.unix_seconds(F.col("o_orderdate").cast("timestamp")))
        .rangeBetween(-30 * 86400, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(28,6)")).over(w).cast("double"), 2
        ).alias("spend_30d"),
    )
