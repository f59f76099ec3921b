"""Relational query surface (joins/aggs/windows/semi-anti) + DuckDB oracles.

SQL mirrors the Spark builders in ``operators.relational`` 1:1, including
the decimal-cast-then-double float-determinism discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import relational as R
from ..sources.tables import load_table
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# exact-sum SQL helpers (mirror R.dsum / R.davg)
def _dsum(expr: str, scale: int = 2) -> str:
    return f"round(CAST(sum(CAST(({expr}) AS DECIMAL(28,6))) AS DOUBLE), {scale})"


def _davg(expr: str, scale: int = 6) -> str:
    return f"round(CAST(sum(CAST(({expr}) AS DECIMAL(28,6))) AS DOUBLE) / count(*), {scale})"


@register(
    "pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum('l_quantity')} AS sum_qty,
           {_dsum('l_extendedprice')} AS sum_base_price,
           {_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {_davg('l_quantity')} AS avg_qty,
           {_davg('l_discount')} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus""",
    "TPC-H Q1 shape: scan-filter-aggregate (pushdown + partial agg)",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.pricing_summary(_t(spark, sf_dir, "lineitem"))


@register(
    "revenue_by_nation",
    f"""
    SELECT r_name, n_name,
           {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name""",
    "TPC-H Q5 shape: 5-way join, dims broadcast, one shuffle join",
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.revenue_by_nation(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


@register(
    "top_revenue_orders",
    f"""
    SELECT l_orderkey,
           {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY l_orderkey
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10""",
    "TPC-H Q3 shape: selective join + agg + deterministic global top-k",
)
def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.top_revenue_orders(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


@register(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)""",
    "anti join (left_anti): customers with no order above 400k",
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.customers_without_orders(_t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"))


@register(
    "repeat_customers",
    """
    WITH big AS (
      SELECT o_custkey, count(*) AS n_orders FROM orders
      GROUP BY o_custkey HAVING count(*) >= 5
    )
    SELECT c_custkey, c_name, n_orders FROM customer JOIN big ON c_custkey = o_custkey""",
    "semi-join shape: customers with >= 5 orders",
)
def q_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.repeat_customers(_t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"))


@register(
    "customer_recent_orders",
    """
    WITH w AS (
      SELECT o_custkey, o_orderkey,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running_spend,
             row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC)::INT AS rn
      FROM orders
    )
    SELECT c_custkey, c_name, o_orderkey, rn, running_spend
    FROM w JOIN customer ON o_custkey = c_custkey
    WHERE rn <= 3""",
    "window functions: row_number + ordered cumulative sum",
)
def q_customer_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.customer_recent_orders(_t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"))


@register(
    "customer_set_ops",
    """
    WITH with_orders AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders),
    high AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
    neg AS (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
    SELECT c_custkey, 'active_high' AS segment FROM (SELECT * FROM high INTERSECT SELECT * FROM with_orders)
    UNION ALL
    SELECT c_custkey, 'dormant_neg' AS segment FROM (SELECT * FROM neg EXCEPT ALL SELECT * FROM with_orders)""",
    "set ops: INTERSECT + EXCEPT ALL + UNION ALL (planned as semi/anti hash joins)",
)
def q_customer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.customer_set_ops(_t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"))


@register(
    "customer_order_totals_outer",
    f"""
    WITH totals AS (
      SELECT o_custkey, count(*) AS n_orders, {_dsum('o_totalprice')} AS total_spend
      FROM orders GROUP BY o_custkey
    )
    SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name AS name,
           coalesce(n_orders, 0) AS n_orders,
           coalesce(total_spend, 0) AS total_spend
    FROM customer FULL OUTER JOIN totals ON c_custkey = o_custkey""",
    "full outer join with orphans on both sides, null-filled aggregates",
)
def q_customer_order_totals_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.customer_order_totals_outer(_t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"))


@register(
    "events_asof_purchase",
    """
    WITH clicks AS (SELECT * FROM events WHERE event_type = 'click'),
    purchases AS (SELECT * FROM events WHERE event_type = 'purchase')
    SELECT c.event_id AS click_id, c.user_id, epoch_us(c.ts) AS click_us,
           round(p.value, 4) AS last_purchase_value,
           epoch_us(p.ts) AS last_purchase_us
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts""",
    "as-of (point-in-time) join: latest purchase at/before each click — "
    "Spark side is the union + forward-fill window pattern (one exchange "
    "on user_id, no range explosion); oracle is DuckDB's native ASOF JOIN",
)
def q_events_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    out = R.asof_last_purchase(_t(spark, sf_dir, "events"))
    return out.select(
        "click_id",
        "user_id",
        F.unix_micros("click_ts").alias("click_us"),
        "last_purchase_value",
        F.unix_micros("last_purchase_ts").alias("last_purchase_us"),
    )


@register(
    "rolling_30d_spend",
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
           ) AS DOUBLE), 2) AS spend_30d
    FROM orders""",
    "event-time RANGE window: trailing-30-day spend per order (sliding "
    "feature-window shape; one exchange on custkey)",
)
def q_rolling_30d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.rolling_30d_spend(_t(spark, sf_dir, "orders"))
