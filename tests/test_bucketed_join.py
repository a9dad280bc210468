"""Bucketed pre-partitioning kills the pair self-join's exchanges.

The cosine pipeline's dominant shuffle is the self-equi-join on the shared
coordinate (SCALE.md). For matrices that are re-analyzed repeatedly (the
100 TB warehouse case), writing the element table bucketed on `coord`
makes both join sides arrive pre-hash-partitioned: Catalyst plans the
self-join with ZERO Exchange operators on the bucketed path.
"""

from __future__ import annotations

import os
import re
import shutil
from pathlib import Path

from pyspark.sql import functions as F

from casf_spark.plans.inspect import explain_str
from casf_spark.sources.text import write_sorted_bucketed_table


def _pair_join(df):
    left = df.select("coord", F.col("vector").alias("vector0"),
                     F.col("normalized_value").alias("value0"))
    right = df.select("coord", F.col("vector").alias("vector1"),
                      F.col("normalized_value").alias("value1"))
    return (left.join(right, "coord")
            .where(F.col("vector0") > F.col("vector1")))


def test_bucketed_matrix_self_join_has_no_exchange(spark, tmp_path):
    elems = spark.createDataFrame(
        [(f"v{i % 50}", f"c{i % 200}", float(i % 7 + 1)) for i in range(2000)],
        "vector string, coord string, normalized_value double")

    # force shuffle-join planning (tiny test data would broadcast, which
    # hides the exchange this test is about)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # baseline: plain parquet source -> the join shuffles both sides
        plain_path = str(tmp_path / "plain")
        elems.write.parquet(plain_path)
        plain_plan = explain_str(_pair_join(spark.read.parquet(plain_path)))
        assert re.search(r"\bExchange\b", plain_plan)  # shuffle node
        # (\bExchange\b cannot match inside BroadcastExchange/ReusedExchange)

        # bucketed source: both sides pre-partitioned on coord -> no exchange
        write_sorted_bucketed_table(elems, "bucketed_matrix", ["coord"], 8,
                                    sort_cols=["coord"])
        bucketed = spark.table("bucketed_matrix")
        plan = explain_str(_pair_join(bucketed))
        assert not re.search(r"\bExchange\b", plan), plan
        # and the result is identical to the plain-path join
        got = sorted(map(tuple, _pair_join(bucketed).collect()))
        want = sorted(map(tuple,
                          _pair_join(spark.read.parquet(plain_path)).collect()))
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bucketed_matrix")


def test_cosine_bucketed_leaves_shared_warehouse_alone(spark, sf_dir,
                                                      tmp_path):
    """q_cosine_bucketed keeps its table under this session's own root:
    a directory at the shared spark-warehouse/ location its table name
    maps to (another process's files) is left untouched, and the rows
    equal cosine_sparse's."""
    from casf_spark.queries.cosine import q_cosine_bucketed, q_cosine_sparse

    sf = tmp_path / "sf_bucketed"
    sf.mkdir()
    shutil.copy(f"{sf_dir}/lineitem.parquet", sf / "lineitem.parquet")
    mtime = 1_000_000_007
    os.utime(sf / "lineitem.parquet", (mtime, mtime))
    foreign = Path("spark-warehouse") / f"supplier_matrix_sf_bucketed_{mtime}"
    foreign.mkdir(parents=True, exist_ok=True)
    (foreign / "other_process.txt").write_text("in use")
    try:
        got = sorted(map(tuple, q_cosine_bucketed(spark, str(sf)).collect()))
        want = sorted(map(tuple, q_cosine_sparse(spark, str(sf)).collect()))
        assert got and got == want
        assert (foreign / "other_process.txt").read_text() == "in use"
    finally:
        shutil.rmtree(foreign, ignore_errors=True)
