"""Change-data-capture compaction: changelog -> current snapshot.

The lakehouse MERGE shape without a table format: given a stream/log of
keyed changes (upserts and deletes, each carrying a version), produce
the current state — the newest change per key wins, and keys whose
newest change is a delete disappear. This is how a parquet-only pipeline
materializes a mutable source (database CDC feed, dedup index, feature
snapshots); swap the final write for MERGE INTO on Delta/Iceberg and the
plan body is identical.

Scale shape: one hash shuffle on the key (struct-argmax aggregation —
map-side combined, no window sort), then a filter. Shuffle width is
distinct keys, not changelog length.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cdc_snapshot(changelog: DataFrame, key_cols: Sequence[str],
                 version_cols: Sequence[str], op_col: str) -> DataFrame:
    """Latest-change-wins snapshot.

    ``version_cols`` MUST be a total order per key (e.g. commit ts +
    sequence) — the winner under ties is the struct-max over the whole
    row, i.e. arbitrary-but-deterministic column ordering, which is
    rarely what a changelog means. ``op_col`` holds the operation,
    ``"d"`` marking deletes; a NULL op is treated as an upsert
    (Debezium-style changelogs use NULL/absent op for snapshot reads —
    and the naive ``op != 'd'`` filter would NULL-out such rows
    and silently drop them). Returns the surviving rows (all changelog
    columns — callers project).
    """
    key_cols = list(key_cols)
    ver = F.struct(*[F.col(c) for c in version_cols])
    payload = F.struct(ver.alias("_v"),
                       F.struct(*[F.col(c) for c in changelog.columns])
                       .alias("_row"))
    latest = (changelog.groupBy(*key_cols)
              .agg(F.max(payload).alias("_w"))
              .select(F.col("_w._row.*")))
    return latest.where(
        F.coalesce(F.col(op_col) != "d", F.lit(True)))


def scd2_history(changelog: DataFrame, key_cols: Sequence[str],
                 version_col: str,
                 tiebreak_cols: Sequence[str] = ()) -> DataFrame:
    """Slowly-changing-dimension type 2: each change becomes a validity
    interval [valid_from, valid_to) per key — valid_to is the NEXT
    change's version (NULL for the current row). The warehouse-history
    twin of :func:`cdc_snapshot`: snapshot keeps only the newest row,
    SCD2 keeps them all with their effective ranges.

    One window (lead over the key partition, ordered by version) — the
    sort is per key, so frames stay small at any history length.
    ``tiebreak_cols`` (e.g. a sequence id) make same-version orderings
    deterministic.
    """
    from pyspark.sql import Window

    key_cols = list(key_cols)
    w = Window.partitionBy(*key_cols).orderBy(version_col, *tiebreak_cols)
    return (changelog
            .withColumn("valid_from", F.col(version_col))
            .withColumn("valid_to", F.lead(version_col).over(w))
            .withColumn("is_current", F.col("valid_to").isNull()))


def merge_upsert(target: DataFrame, source: DataFrame,
                 key_cols: Sequence[str]) -> DataFrame:
    """Warehouse MERGE (WHEN MATCHED THEN UPDATE, WHEN NOT MATCHED THEN
    INSERT) with whole-row-replace semantics, as ONE shuffle.

    The textbook implementation is a full-outer join (two shuffled
    inputs, join state proportional to both sides). Spark-first rewrite:
    union the two sides with a priority tag and take the per-key
    struct-argmax — source rows (priority 1) beat target rows (priority
    0), keys only in one side pass through. One hash shuffle of the
    concatenated input, map-side combined, no join operator at all; the
    aggregation state per key is a single row, so skewed keys cost what
    a count would. Swap the final write for ``MERGE INTO`` on
    Delta/Iceberg and the plan body is identical.

    Columns must be unionable by name. Deterministic when (key) is
    unique per side (the MERGE precondition); duplicate source keys fall
    back to struct-max order, same caveat as :func:`cdc_snapshot`.
    """
    key_cols = list(key_cols)
    cols = target.columns
    if set(cols) != set(source.columns):
        raise ValueError(
            f"merge_upsert: column sets differ: {sorted(cols)} vs "
            f"{sorted(source.columns)}")
    tagged = (target.select(*cols).withColumn("_prio", F.lit(0))
              .unionByName(source.select(*cols).withColumn("_prio",
                                                           F.lit(1))))
    payload = F.struct(F.col("_prio").alias("_p"),
                       F.struct(*[F.col(c) for c in cols]).alias("_row"))
    return (tagged.groupBy(*key_cols)
            .agg(F.max(payload).alias("_w"))
            .select(F.col("_w._row.*")))


def snapshot_diff(old: DataFrame, new: DataFrame, key_cols: Sequence[str],
                  compare_cols: Sequence[str]) -> DataFrame:
    """Keyed diff between two table snapshots — the audit primitive for
    "what changed between yesterday's and today's load": every key is
    labeled ``added`` / ``removed`` / ``changed`` / ``unchanged``, with
    the changed column names spelled out.

    ``compare_cols`` are compared null-safely (NULL == NULL holds;
    IS DISTINCT FROM semantics — identical in DuckDB). ``changed_cols``
    lists the differing columns comma-joined in sorted-name order for
    ``changed`` rows and is '' otherwise (added/removed rows differ on
    every column by construction — listing them would be noise), so the
    output is deterministic and engine-equal.

    Output: (*key_cols, status, changed_cols).

    Scale shape: one full-outer hash join on the key columns — the only
    shuffle — then a map-only comparison projection. Shuffle width is
    the union of key sets; nothing else moves.
    """
    cols = sorted(compare_cols)
    o = old.select(*key_cols,
                   *[F.col(c).alias(f"_o_{c}") for c in cols],
                   F.lit(True).alias("_in_o"))
    n = new.select(*key_cols,
                   *[F.col(c).alias(f"_n_{c}") for c in cols],
                   F.lit(True).alias("_in_n"))
    j = o.join(n, list(key_cols), "full_outer")
    changed = F.filter(
        F.array(*[F.when(~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}")),
                         F.lit(c)) for c in cols]),
        lambda x: x.isNotNull())
    status = (F.when(F.col("_in_o").isNull(), F.lit("added"))
              .when(F.col("_in_n").isNull(), F.lit("removed"))
              .when(F.size(changed) > 0, F.lit("changed"))
              .otherwise(F.lit("unchanged")))
    both = F.col("_in_o").isNotNull() & F.col("_in_n").isNotNull()
    return j.select(*key_cols, status.alias("status"),
                    F.when(both, F.array_join(changed, ","))
                    .otherwise(F.lit("")).alias("changed_cols"))
