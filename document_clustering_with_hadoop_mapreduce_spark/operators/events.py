"""Event-stream analytics (batch forms; streaming twins in ``streaming/``).

The reference has zero streaming/event operators (SURVEY.md §2.5) — this is
north-star surface. Batch forms are oracle-checkable; the structured-
streaming twins in ``streaming.events_stream`` share the same aggregation
logic and are equivalence-tested against these (tests/test_streaming.py).

Scale notes: hourly rollup is one exchange on (hour, type); sessionization
is one exchange on user_id + an in-partition sort — the standard
gaps-and-islands plan, no driver state, watermark-friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .relational import dsum

SESSION_GAP_MINUTES = 30


def events_hourly(events: DataFrame) -> DataFrame:
    """Tumbling 1h window x event_type: count + exact value sum."""
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 4).alias("sum_value"),
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = SESSION_GAP_MINUTES) -> DataFrame:
    """Gaps-and-islands sessionization: a session breaks after a
    ``gap_minutes`` silence. Per-session stats, exact micros arithmetic.

    Hot-key bound: the per-user window sorts all of a user's events in
    one task; AQE cannot split a window partition."""
    gap_us = gap_minutes * 60 * 1_000_000
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = F.unix_micros(F.col("ts"))
    with_breaks = events.withColumn(
        "is_new",
        F.when(us - F.lag(us, 1).over(w) > gap_us, F.lit(1))
        .otherwise(F.lit(0))
        .cast("int"),
    ).withColumn("session_idx", F.sum("is_new").over(wrun))
    return (
        with_breaks.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round((F.max(us) - F.min(us)) / 1_000_000.0, 6).alias("duration_sec"),
            dsum(F.col("value"), 4).alias("sum_value"),
        )
    )


def user_activity(events: DataFrame) -> DataFrame:
    """Per-user activity profile: events, distinct active days, value sum."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(F.date_trunc("day", F.col("ts"))).alias("active_days"),
        dsum(F.col("value"), 4).alias("sum_value"),
    )


def events_rollup(events: DataFrame) -> DataFrame:
    """Multi-granularity rollup in ONE pass via grouping sets — the
    hypertable-style pre-aggregation a 100 TB event store materializes:
    (day, event_type), (day), (event_type), and grand total, each row
    tagged with its grouping level. One shuffle; Spark expands the sets
    map-side (Expand operator), so the fact table is still read once.
    """
    day = F.date_trunc("day", F.col("ts")).alias("day")
    return events.cube(day, F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double"), 4
        ).alias("sum_value"),
        F.grouping_id().cast("int").alias("lvl"),
    )


def retention_cohorts(
    events: DataFrame, id_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """Weekly cohort retention — the activation/stickiness table every
    event warehouse publishes: users grouped by first-seen ISO week, and
    for each later week the share of the cohort still active.

    (cohort_week, weeks_since, n_users, retention) — ``retention`` is
    n_users / cohort size, 6dp; ``weeks_since`` = 0 is the cohort row
    itself (retention 1.0 by construction: a user is active in the week
    they first appear).

    Scale shape: ONE corpus-sized exchange — the distinct on
    (user, week). First-seen needs no separate aggregate-and-join: the
    cohort week is min(activity_week) over a user window on that already
    calendar-bounded frame (weeks-per-user rows; date_trunc is monotonic,
    so min-of-truncs equals trunc-of-min). The (cohort, week) count and
    the cohort-size window then operate on a cohorts x weeks frame,
    bounded by the calendar, not the corpus.
    """
    active = events.select(
        F.col(id_col).alias("uid"),
        F.date_trunc("week", F.col(ts_col)).alias("activity_week"),
    ).distinct()
    w_u = Window.partitionBy("uid")
    per = (
        active.withColumn("cohort_week", F.min("activity_week").over(w_u))
        .groupBy("cohort_week", "activity_week")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .withColumn(
            "weeks_since",
            F.floor(
                F.datediff(F.col("activity_week"), F.col("cohort_week")) / 7
            ).cast("int"),
        )
    )
    w = Window.partitionBy("cohort_week")
    size0 = F.max(F.when(F.col("weeks_since") == 0, F.col("n_users"))).over(w)
    return per.select(
        "cohort_week",
        "weeks_since",
        "n_users",
        F.round(F.col("n_users") / size0, 6).alias("retention"),
    )


def retention_oracle_sql(source: str = "events") -> str:
    """DuckDB mirror of ``retention_cohorts`` (same ISO-Monday week
    truncation on both engines)."""
    return f"""
WITH rc_first AS (
  SELECT user_id AS uid, date_trunc('week', min(ts)) AS cohort_week
  FROM {source} GROUP BY user_id
),
rc_active AS (
  SELECT DISTINCT user_id AS uid, date_trunc('week', ts) AS activity_week
  FROM {source}
),
rc_per AS (
  SELECT cohort_week, activity_week, count(*)::BIGINT AS n_users,
         CAST(floor(date_diff('day', cohort_week, activity_week) / 7.0) AS INT) AS weeks_since
  FROM rc_active JOIN rc_first USING (uid)
  GROUP BY cohort_week, activity_week
)
SELECT cohort_week, weeks_since, n_users,
       round(n_users::DOUBLE / max(CASE WHEN weeks_since = 0 THEN n_users END)
                                 OVER (PARTITION BY cohort_week), 6) AS retention
FROM rc_per"""
