"""Per-user lifetime rolling stats (event count, value sum, max): the
keyed aggregate a stateful stream converges to once drained, computed
in batch as one hash aggregation."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def user_lifetime_stats_batch(events: DataFrame) -> DataFrame:
    """The lifetime per-user (count, sum, max) a fully-drained stateful
    stream converges to — one hash aggregation, the engine of the
    stream_lifetime_state query.

    NULL/NaN contract: n_events counts every row; total_value/max_value
    fold only non-NULL, non-NaN values (0.0 total when none); max_value is
    NULL when a user never saw a foldable value. Without the explicit
    NaN mask, SQL SUM/MAX would skip only NULL — and Spark's MAX orders
    NaN above every number — so one NaN would poison both.
    """
    v = F.when(F.col("value").isNotNull() & ~F.isnan("value"),
               F.col("value"))
    return (events.groupBy(F.col("user_id").cast("long").alias("user_id"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.round(F.coalesce(F.sum(v), F.lit(0.0)), 6)
                 .alias("total_value"),
                 F.round(F.max(v), 6).alias("max_value")))
