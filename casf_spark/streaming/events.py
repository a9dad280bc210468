"""Event-time window aggregations over the events table (SURVEY.md §7
phase E): tumbling, sliding and gap-based session windows, built on
Spark's ``window`` / ``session_window`` built-ins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from casf_spark import schemas


def tumbling_counts(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Per-event-type tumbling-window counts + value sum."""
    out = (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "sum_value")
    )
    return schemas.conform(out, schemas.EVENT_WINDOW_COUNTS)


def session_window_counts(events: DataFrame,
                          gap: str = "30 minutes") -> DataFrame:
    """Gap-based sessionization via Spark's built-in ``session_window``
    (dynamic merging windows: an event extends its session while it
    lands strictly within `gap` of the previous one).

    Output: user_id, start_us / end_us (epoch micros; end = last event
    + gap), n_events, sum_value.
    """
    return (events.groupBy("user_id",
                           F.session_window("ts", gap).alias("sw"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.round(F.sum("value"), 6).alias("sum_value"))
            .select("user_id",
                    F.unix_micros("sw.start").alias("start_us"),
                    F.unix_micros("sw.end").alias("end_us"),
                    "n_events", "sum_value"))


def sliding_counts(events: DataFrame, window: str = "1 hour",
                   slide: str = "30 minutes") -> DataFrame:
    """Sliding-window event counts (each event lands in window/slide rows)."""
    out = (
        events.groupBy(F.window("ts", window, slide).alias("w"),
                       "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events")
    )
    return schemas.conform(out, schemas.EVENT_SLIDING_COUNTS)
