"""Source connectors for the test corpus and matrix derivations.

The reference's only sources are text files (KeyWordsDemo.scala:19-27) and
caller-constructed Datasets (MatrixCosineAnalyse.scala:218). Ours reads the
driver's parquet star schema; the engine itself accepts any DataFrame
conforming to the (y, x, value) COO contract (schemas.MATRIX_ELEMENT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; one of {TABLES}")
    # timestamp-derived outputs (date_format/window/date_trunc) must agree
    # with the DuckDB oracle's naive timestamps regardless of the caller's
    # session defaults
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.parquet has stored `ts` as TIMESTAMP(NANOS) in some
        # generations (which Spark's reader rejects without nanosAsLong) and
        # plain timestamp[us] in others. Never assume: set nanosAsLong so a
        # nanos file reads as long, then branch on the dtype we actually got.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        df = df.withColumn("ts", normalize_ts(df.schema["ts"].dataType))
        # `props` is consumed as a JSON string (get_json_object). Data
        # regenerations have changed physical encodings before (see ts
        # above) — if a generation stores it as a parquet struct/map,
        # serialize it back rather than failing analysis.
        if "props" in df.columns and not isinstance(
                df.schema["props"].dataType, StringType):
            df = df.withColumn("props", F.to_json("props"))
        return df
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # documents ONLY: its consumers are CPU-bound JVM expression
    # pipelines (tokenize -> shingle -> hash) that scale with cores.
    # embeddings was measured and excluded — its heavy consumers are
    # Arrow-batched mapInPandas GEMM kernels whose per-task
    # (Arrow transfer + BLAS init) overhead dominates when a small
    # corpus splinters into core-count batches: standalone best-of-3
    # at sf0.1, spread vs not, ann_ivf 4.55 vs 2.51 s, ann_ivf_pq
    # 2.58 vs 1.30 s, embedding_pca2 1.42 vs 1.25 s.
    if name == "documents":
        df = _spread_unsplittable_scan(spark, df, f"{sf_dir}/{name}.parquet")
    return df


def _spread_unsplittable_scan(spark: SparkSession, df: DataFrame,
                              path: str) -> DataFrame:
    """Repartition a compute-heavy table right after the read when the
    scan CANNOT reach core-count parallelism (guide §2.5 "input skew —
    one huge unsplittable file": repartition immediately after the read).

    Parquet splits are row-group-atomic: Spark assigns each row group to
    the split containing its byte midpoint, so a single-row-group file
    yields ONE non-empty scan task no matter how small
    ``spark.sql.files.maxPartitionBytes`` is — and every downstream
    map-side stage (tokenize -> shingle -> hash pipelines here) runs
    single-threaded. The driver's test corpus is exactly that shape
    (one file, one row group per table; measured: the whole tokenize+
    MinHash front half of every text query on one core of 32).

    Scale-adaptive by construction, not a local[32] constant: the
    os.stat size guard skips everything big enough for the scan itself
    to reach ``defaultParallelism`` splits (at 100 TB this function is a
    no-op), and the row-group probe only runs under that guard, so the
    footer read is bounded to small inputs. SPARK_GRAFT_NO_SPREAD=1
    disables it for A/B measurement.
    """
    import os

    if os.environ.get("SPARK_GRAFT_NO_SPREAD"):
        return df
    cores = spark.sparkContext.defaultParallelism
    try:
        if os.path.isdir(path):
            files = [os.path.join(dp, f) for dp, _, fs in os.walk(path)
                     for f in fs if f.endswith(".parquet")]
        else:
            files = [path]
        size = sum(os.path.getsize(f) for f in files)
    except OSError:
        return df
    max_pb = 128 * 1024 * 1024
    try:
        raw = spark.conf.get("spark.sql.files.maxPartitionBytes")
        max_pb = int(raw[:-1]) * 1024 * 1024 if raw.endswith("m") \
            else int(raw)
    except Exception:  # noqa: BLE001 — keep the default on parse trouble
        pass
    if size >= cores * max_pb:
        return df  # the scan alone reaches core-count splits
    try:
        import pyarrow.parquet as pq

        metas = [pq.ParquetFile(f).metadata for f in files]
        row_groups = sum(m.num_row_groups for m in metas)
        n_rows = sum(m.num_rows for m in metas)
    except Exception:  # noqa: BLE001 — no footer access -> leave as is
        return df
    if row_groups >= cores:
        return df  # splittable enough already
    # WORK-PROPORTIONAL target (r14; guide §2.5): spreading a tiny corpus
    # to full core count taxes every light map-only consumer with a
    # RoundRobin exchange + per-task overhead that exceeds the work (r13
    # driver bench: ~10 cheap documents queries 1.5-4x slower at
    # local[32], while the SAME code at 8 cores beat the unspread 32-core
    # numbers). Size the spread to the rows instead of the cores: one
    # task per SPREAD_ROWS_PER_TASK rows, capped at core count. Measured
    # at sf0.1 (5000 docs, A/B grid in OPTIMIZATION_r14.md): the heavy
    # tokenize pipelines keep their r13 wins at ~10 partitions while the
    # light queries shed most of the spread tax. At scale the byte guard
    # above makes this whole function a no-op, and larger corpora hit
    # the cores cap long before the guard admits them.
    rows_per_task = int(os.environ.get("SPARK_GRAFT_SPREAD_ROWS_PER_TASK",
                                       "512"))
    target = max(1, min(cores, n_rows // max(1, rows_per_task)))
    if target <= row_groups:
        return df  # splittable enough for the work it carries
    return df.repartition(target)


def normalize_ts(dtype, col: str = "ts"):
    """Column expression mapping a parquet-read `ts` of either encoding to a
    session-tz TimestampType: long = raw nanos (read under nanosAsLong) →
    truncate to micros, the same truncation DuckDB applies to nano
    timestamps; timestamp / timestamp_ntz → pass through (cast unifies NTZ
    vs LTZ so downstream schemas are stable across data generations)."""
    from pyspark.sql.types import LongType

    if isinstance(dtype, LongType):
        return F.timestamp_micros((F.col(col) / 1000).cast("long"))
    return F.col(col).cast("timestamp")


def matrix_from_lineitem(spark: SparkSession, sf_dir: str,
                         y: str = "l_suppkey", x: str = "l_partkey",
                         value: str = "l_quantity") -> DataFrame:
    """Derive a COO sparse matrix from lineitem: one cell per (y, x) with
    value = sum(value_col). E.g. supplier purchase-profiles over parts.

    Only the three needed columns are selected, so the parquet scan prunes
    to exactly that ReadSchema.

    The raw rows are pre-partitioned by ``y`` before the cell aggregation.
    HashPartitioning(y) satisfies the (y, x) aggregation's clustered
    requirement AND the downstream per-vector max aggregation and
    normalization join in CosineAnalyser — removing two exchanges of the
    cell table from every cosine plan (measured ~30-40% off the sparse
    pipeline at sf0.1).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col(y).cast("string").alias("y"),
        F.col(x).cast("string").alias("x"),
        F.col(value).cast("double").alias("value"),
    ).repartition("y")
    return li.groupBy("y", "x").agg(F.sum("value").alias("value"))
