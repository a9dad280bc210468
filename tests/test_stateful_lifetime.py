"""user_lifetime_stats_batch: the per-user lifetime (count, sum, max)
behind the stream_lifetime_state query."""

from __future__ import annotations

from casf_spark.streaming.stateful import user_lifetime_stats_batch

SCHEMA = "user_id long, value double"


def test_lifetime_stats_batch_null_and_nan_contract(spark):
    """n_events counts every row, total/max fold only non-NULL, non-NaN
    values, and a key that never saw a foldable value gets total 0.0 and
    max_value NULL (never -inf, never NaN)."""
    rows = [(1, 1.5), (2, None), (1, 2.25), (4, float("nan")),
            (1, None), (2, None), (3, 4.0), (1, float("nan")),
            (3, 0.5), (1, 9.75), (4, None)]
    got = {r.user_id: (r.n_events, r.total_value, r.max_value)
           for r in user_lifetime_stats_batch(
               spark.createDataFrame(rows, SCHEMA)).collect()}
    # user 2 never saw a non-NULL value: counted rows, 0.0 total, NULL max
    assert got[2] == (2, 0.0, None)
    # user 4 saw only NaN/NULL: same shape — NaN never poisons max or sum
    assert got[4] == (2, 0.0, None)
    # user 1's NaN and NULL rows are counted but not folded
    assert got[1] == (5, 13.5, 9.75)
    assert got[3] == (2, 4.5, 4.0)


def test_lifetime_stats_batch_of_one_key_shapes(spark):
    r = user_lifetime_stats_batch(
        spark.createDataFrame([(9, 2.5), (9, 3.5)], SCHEMA)).collect()
    assert [(r[0].user_id, r[0].n_events, r[0].total_value,
             r[0].max_value)] == [(9, 2, 6.0, 3.5)]
