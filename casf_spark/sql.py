"""SQL-string interface.

The reference exposes only the Dataset DSL (no ``spark.sql`` anywhere —
SURVEY.md §2.9); a Spark-first engine should speak both. This module
registers the corpus tables as temp views and spells the cosine pipeline
in ANSI-ish SQL text, so SQL-only consumers (BI tools,
notebooks, dbt-style models) can run the exact engine semantics through
``spark.sql(...)``. Catalyst compiles this SQL to the same physical plan
family as the DataFrame pipeline — same self-join pair enumeration, same
fused aggregation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from casf_spark.sources.tables import TABLES, load_table


def register_tables(spark: SparkSession, sf_dir: str,
                    tables: Sequence[str] = TABLES) -> None:
    """Register each corpus parquet as a temp view named after the table."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


#: supplier x part quantity matrix from lineitem, Spark SQL dialect. The
#: REPARTITION hint is the SQL spelling of matrix_from_lineitem's
#: pre-partition-by-vector: HashPartitioning(vector) satisfies this GROUP
#: BY, the per-vector max, and the normalization join, so the cell table
#: never re-shuffles downstream (~20% measured off the cosine family).
SUPPLIER_ELEM_SQL = """
elem AS (
  SELECT vector, coord, CAST(SUM(val) AS DOUBLE) val
  FROM (SELECT /*+ REPARTITION(vector) */
               CAST(l_suppkey AS STRING) vector,
               CAST(l_partkey AS STRING) coord, l_quantity val
        FROM lineitem)
  GROUP BY 1, 2)
"""


#: normalized-element half of the pipeline — it would run once per CONSUMER
#: as an inline CTE (Spark inlines WITH bodies; the pair self-join's
#: broadcast build side cannot reuse the probe side's shuffle), so
#: :func:`supplier_cosine` materializes it.
NORM_SQL = """
WITH {elem},
mx AS (SELECT vector, MAX(val) mv FROM elem GROUP BY vector)
SELECT e.vector, e.coord, e.val / m.mv AS nv
FROM elem e JOIN mx m USING (vector)"""

#: pair-join + fused aggregation half over a registered ``norm`` view
PAIR_AGG_SQL = """
WITH pairs AS (
  SELECT a.vector v0, b.vector v1, a.coord, a.nv nv0, b.nv nv1
  FROM {norm} a JOIN {norm} b ON a.coord = b.coord AND a.vector > b.vector),
agg AS (
  SELECT v0, v1, SQRT(SUM(nv0*nv0)) m0, SQRT(SUM(nv1*nv1)) m1,
         SUM(nv0*nv1) num
  FROM pairs GROUP BY v0, v1)
SELECT v0 AS vector0, v1 AS vector1,
       ROUND(num / (m0 * m1), {round_to}) AS similarity_value
FROM agg"""


def supplier_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship sparse cosine query via the SQL interface.

    Semantics match CosineAnalyser(axis="y").fit(is_sparse=True) +
    all_similarity(): max-normalization, canonical vector0 > vector1
    ordering, pair-dependent norms over shared coordinates, the fused
    single aggregation. Both halves are SQL text compiled by Catalyst;
    between them the normalized-element table is materialized once —
    Spark inlines CTE bodies, so a single statement would recompute the
    lineitem cell pipeline once per ``norm`` consumer (2x the front-half
    work).
    """
    register_tables(spark, sf_dir, ["lineitem"])
    norm = spark.sql(NORM_SQL.format(elem=SUPPLIER_ELEM_SQL)) \
        .localCheckpoint()
    norm.createOrReplaceTempView("supplier_norm_elem")
    return spark.sql(PAIR_AGG_SQL.format(norm="supplier_norm_elem",
                                         round_to=6))
