"""Window queries (SURVEY.md §2.5 W1-W3, §2.6 O1-O2) over `events`.

The events table plays the reference's `interactions` role: `user_id` is
the tenant/conversation key, `ts` the `created_at` timestamp, `event_type`
the rendered turn text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import windows
from ..registry import register
from ..sources.catalog import load_table


@register(
    "rolling_context",
    oracle="""
    SELECT event_id, user_id,
           string_agg(event_type, ' ') OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING
           ) AS context
    FROM events
    """,
)
def rolling_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: previous ≤3 turns concatenated per user, current row excluded
    (reference utilities/text_utils.py:78-120)."""
    ev = load_table(spark, sf_dir, "events")
    out = windows.rolling_context(
        ev,
        partition_by="user_id",
        order_by=["ts", "event_id"],
        render=F.col("event_type"),
        n_turns=3,
    )
    return out.select("event_id", "user_id", "context")


@register(
    "last5_running_total",
    oracle="""
    SELECT event_id, user_id, event_type, rn, rn <= 2 AS in_last2, running_value FROM (
      SELECT event_id, user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
      FROM events
    ) WHERE rn <= 5
    """,
)
def last5_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 last-5 slice (reference rag_processor.py:109) + cumulative
    per-user running total in ONE query: both window specs share the
    user_id hash partitioning, so Catalyst plans a single Exchange with
    two Window operators — merged registry slot, same operator evidence.

    ``in_last2`` is the W3 evidence column: the reference's exact last-2
    slice (`text_generator.py:350-358`) as a rank ≤ 2 flag over the same
    DESC ordering (recent_per_key(k=2) ≡ rows where in_last2)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    withtotal = ev.withColumn(
        "running_value",
        F.sum(F.col("value").cast("decimal(18,2)")).over(cum).cast("double"),
    )
    out = windows.recent_per_key(
        withtotal, 5, partition_by="user_id", order_by=[F.col("ts").desc(), F.col("event_id").desc()]
    )
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("rn").cast("bigint").alias("rn"),
        (F.col("rn") <= 2).alias("in_last2"),
        "running_value",
    )


@register(
    "sessionize_gap30m",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
      SELECT user_id, ts, value,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_idx
      FROM flagged
    )
    SELECT user_id, session_idx, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sessions GROUP BY user_id, session_idx
    """,
)
def sessionize_gap30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) + per-session rollup — the batch
    twin of Structured Streaming session_window (SURVEY.md §2.11)."""
    ev = load_table(spark, sf_dir, "events")
    sess = windows.sessionize(ev, gap_seconds=1800)
    return sess.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )
