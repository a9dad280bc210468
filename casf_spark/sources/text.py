"""Text-file sources and file sinks.

Parity: the reference's only file I/O is ``sparkSession.read.textFile``
(KeyWordsDemo.scala:19-27, one row per line) and console ``show()`` — no file
sinks exist there (SURVEY.md §2.1). We add the read path plus partitioned
parquet writes, because a 100 TB engine needs durable output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """One row per line: (line). Parity: S1 (KWD:19-27)."""
    return spark.read.text(path).select(F.col("value").alias("line"))


def read_text_documents(spark: SparkSession, path: str) -> DataFrame:
    """Whole-file documents: (doc_id = file path, text). The demo treats
    each file as one article; ``wholetext`` keeps that unit."""
    return (spark.read.text(path, wholetext=True)
            .select(F.input_file_name().alias("doc_id"),
                    F.col("value").alias("text")))


def read_stopwords(spark: SparkSession, path: str) -> DataFrame:
    """Stop-word list, one word per line: (word). Feeds term_counts'
    broadcast anti-join (replacing the reference's driver-side
    collectAsList, KWD:43)."""
    return (spark.read.text(path)
            .select(F.trim(F.col("value")).alias("word"))
            .where(F.col("word") != ""))


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None,
                  mode: str = "overwrite") -> None:
    """Partitioned parquet sink. ``partition_by`` drives directory layout —
    downstream readers get partition pruning on those columns for free."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_sorted_bucketed_table(df: DataFrame, name: str, bucket_cols: list[str],
                                num_buckets: int, sort_cols: list[str] | None = None,
                                mode: str = "overwrite") -> None:
    """Bucketed managed-table sink: co-locates rows by hash(bucket_cols) so
    future equi-joins/aggregations on those keys skip the shuffle entirely —
    the standard pre-partitioning move for repeatedly-joined 100 TB tables.
    """
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(name)
