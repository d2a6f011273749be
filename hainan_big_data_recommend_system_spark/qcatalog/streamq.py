"""Event-stream temporal join (SURVEY.md §2.10 extension surface).

The driver-checked ``temporal_join_click_view`` runs the two distributed
joins of the click/view stream over the batch ``events`` table: the as-of
match (operators/asof.py) and the ±30 min interval pairs
(operators/rangejoin.py), oracle-checked against DuckDB's ``ASOF LEFT
JOIN`` and plain inequality join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from . import register


# ---------------------------------------------------------------------------
# As-of join (extension surface; SURVEY.md §2.3 lists it as absent in the
# reference) — for each click, the latest view by the same user at or
# before it.  Its oracle is the ASOF LEFT JOIN half of the driver query's
# union; the Spark side is the union+window distributed as-of
# (operators/asof.py).
# ---------------------------------------------------------------------------

def _asof_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.col("ts").alias("click_ts")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        clicks,
        views,
        on="user_id",
        left_ts="click_ts",
        right_ts="ts",
        right_payload=["event_id", "value"],
    )
    return out.select(
        "event_id",
        "user_id",
        "click_ts",
        "ts_r",
        "event_id_r",
        F.round(F.col("value_r") * 100).cast("bigint").alias("view_value_cents"),
    )


# ---------------------------------------------------------------------------
# Interval join (extension surface; absent in the reference) — click↔view
# pairs by the same user within ±30 minutes.  Spark side is the banded
# equi-join (operators/rangejoin.py: bucket = floor(epoch/tol), replicate
# one side ×3, exact filter); its oracle is the plain inequality join half
# of the driver query's union — banding must not add or drop a single pair.
# ---------------------------------------------------------------------------

def _interval_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import interval_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", "ts"
    )
    out = interval_join(
        clicks, views, on="user_id", left_ts="ts", right_ts="ts", tolerance_s=1800
    )
    dt = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts_r"))
    return out.select(
        "event_id", "user_id", "ts", "event_id_r", "ts_r", dt.alias("dt_us")
    )


# ---------------------------------------------------------------------------
# The driver-checked temporal-join query: the as-of match AND the ±30 min
# interval pairs in one tagged union.  `metric` is the kind's own
# measure: matched view value in cents for as-of rows, signed click−view
# delta in micros for interval rows.
# ---------------------------------------------------------------------------

@register(
    "temporal_join_click_view",
    """
    SELECT 'asof' AS join_kind, c.event_id, c.user_id, c.ts,
           v.event_id AS event_id_r, v.ts AS ts_r,
           CAST(round(v.value * 100) AS BIGINT) AS metric
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON c.user_id = v.user_id AND v.ts <= c.ts
    UNION ALL
    SELECT 'interval' AS join_kind, c.event_id, c.user_id, c.ts,
           v.event_id AS event_id_r, v.ts AS ts_r,
           CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS metric
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON c.user_id = v.user_id
     AND abs(epoch_us(c.ts) - epoch_us(v.ts)) <= 1800 * 1000000
    """,
)
def q_temporal_join_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    asof = _asof_click_view(spark, sf_dir).select(
        F.lit("asof").alias("join_kind"),
        "event_id",
        "user_id",
        F.col("click_ts").alias("ts"),
        "event_id_r",
        "ts_r",
        F.col("view_value_cents").alias("metric"),
    )
    interval = _interval_click_view(spark, sf_dir).select(
        F.lit("interval").alias("join_kind"),
        "event_id",
        "user_id",
        "ts",
        "event_id_r",
        "ts_r",
        F.col("dt_us").alias("metric"),
    )
    return asof.unionByName(interval)
