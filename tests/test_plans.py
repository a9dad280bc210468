"""Physical-plan property tests — the 100 TB design assertions.

These pin the *plan shape*, not just the results: pushdown reaches the scan,
projection prunes columns, the sparse pipeline has no cartesian joins, small
dimensions broadcast.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from casf_spark.queries.cosine import q_cosine_via_sql
from casf_spark.queries.quality import (q_curation_funnel, q_decontaminate,
                                        q_pii_redact)
from casf_spark.queries.relational import (q_q1, q_q3, q_q8_market_share,
                                           q_q17_small_quantity,
                                           q_q19_disjunctive_revenue)
from casf_spark.queries.sampling import (q_budget_select, q_mixture_resample,
                                         q_sample_stratified)
from casf_spark.queries.text import q_tfidf_terms
from casf_spark import CosineAnalyser
from casf_spark.plans.inspect import (assert_no_cartesian,
                                      broadcast_join_count, explain_str,
                                      pushed_filters, scan_read_schema)
from casf_spark.sources import load_table, matrix_from_lineitem


def test_matrix_scan_prunes_columns(spark, sf_dir):
    m = matrix_from_lineitem(spark, sf_dir)
    schemas = scan_read_schema(m)
    assert schemas, "no parquet scan found"
    # only the 3 needed columns are read out of lineitem's 11
    assert all("l_suppkey" in s and "l_extendedprice" not in s for s in schemas)


def test_q1_filter_pushdown(spark, sf_dir):
    df = q_q1(spark, sf_dir)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed


def test_sparse_cosine_no_cartesian(spark, sf_dir):
    model = CosineAnalyser().fit(matrix_from_lineitem(spark, sf_dir),
                                 is_sparse=True, persist=False)
    assert_no_cartesian(model.all_similarity(), allow=0)


def test_dense_cosine_single_cartesian(spark, sf_dir):
    model = CosineAnalyser().fit(matrix_from_lineitem(spark, sf_dir),
                                 is_sparse=False, persist=False)
    # exactly the one deliberate all-pairs product, nothing accidental
    assert_no_cartesian(model.all_similarity(), allow=1)


def test_q3_broadcasts_customer(spark, sf_dir):
    df = q_q3(spark, sf_dir)
    assert broadcast_join_count(df) >= 1


def test_whole_stage_codegen_in_core(spark, sf_dir):
    model = CosineAnalyser().fit(matrix_from_lineitem(spark, sf_dir),
                                 is_sparse=True, persist=False)
    # AQE hides codegen markers until execution; inspect the static plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = explain_str(model.all_similarity(), "codegen")
        assert "WholeStageCodegen subtrees" in plan and "Found 0" not in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    simple = explain_str(model.all_similarity(), "simple")
    # no Python evaluation nodes in the core pipeline
    assert "BatchEvalPython" not in simple and "ArrowEvalPython" not in simple


def test_subset_filter_pushed_before_agg(spark, sf_dir):
    model = CosineAnalyser().fit(matrix_from_lineitem(spark, sf_dir),
                                 is_sparse=True, persist=False)
    df = model.similarity(["1", "2"])
    plan = explain_str(df, "simple")
    # the isin filter must appear below the final aggregate (optimized plan
    # contains a Filter with the IN list over the pair columns)
    assert plan.count("vector0") > 0
    assert "BatchEvalPython" not in plan


def test_q6_all_predicates_pushed(spark, sf_dir):
    """Q6 is the canonical pushdown check: every predicate (shipdate range,
    discount band, quantity cap) must reach the parquet scan, and only the
    needed columns are read."""
    import __spark_entry__ as E
    df = E.queries()["q6_forecast_revenue"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"
    schema = scan_read_schema(df)
    assert any("l_extendedprice" in s for s in schema)
    assert not any("l_partkey" in s for s in schema)  # pruned


def test_q8_all_joins_broadcast(spark, sf_dir):
    """The 6-table market-share join must plan as all broadcast hash
    joins at test scale — no sort-merge/shuffled-hash on the dimension
    chains."""
    df = q_q8_market_share(spark, sf_dir)
    plan = explain_str(df)
    assert broadcast_join_count(df) >= 4
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_q19_disjunction_reaches_scan(spark, sf_dir):
    """The OR'd quantity predicate must push into the lineitem scan (not
    become a post-join filter) and the scan must prune to the 4 needed
    columns."""
    df = q_q19_disjunctive_revenue(spark, sf_dir)
    pushed = pushed_filters(df)
    assert any("l_quantity" in p and "Or(" in p for p in pushed), pushed
    schemas = scan_read_schema(df)
    li = [s for s in schemas if "l_quantity" in s]
    assert li and all("l_shipdate" not in s and "l_tax" not in s for s in li)


def test_q17_single_fact_scan_reused(spark, sf_dir):
    """The correlated AVG is a window over the brand-filtered join, so the
    plan must contain exactly ONE lineitem scan (the de-correlated
    join-against-groupBy form scans the fact table twice — its two subtrees
    prune to different columns, so ReusedExchange cannot merge them) and no
    self-join of lineitem (window, not SortMergeJoin)."""
    df = q_q17_small_quantity(spark, sf_dir)
    plan = explain_str(df)
    assert plan.count("lineitem.parquet") == 1, plan
    assert "SortMergeJoin" not in plan
    assert "Window" in plan


@pytest.fixture()
def no_spread(monkeypatch):
    """Pin the 100-TB plan shape: the small-input scan spread
    (sources.tables._spread_unsplittable_scan) repartitions tiny
    single-row-group test files so local runs reach core-count
    parallelism, but it is size-guarded OFF at scale — these plan
    assertions are about the production (large-input) plan, so they
    assert the no-spread shape. The spread itself is covered by
    test_sources.test_scan_spread_*."""
    monkeypatch.setenv("SPARK_GRAFT_NO_SPREAD", "1")
    yield


def test_decontaminate_corpus_side_never_shuffles(spark, sf_dir, no_spread):
    """The benchmark gram set broadcasts and the corpus side reaches the
    join with NO exchange — every shuffle in the plan is over the
    benchmark grams or the post-join contaminated residue, never the
    full corpus."""
    df = q_decontaminate(spark, sf_dir)
    assert broadcast_join_count(df) >= 1, explain_str(df)
    plan = explain_str(df)
    # in the formatted tree the corpus subtree is the lines between the
    # BroadcastHashJoin node and its BroadcastExchange build side
    tree = plan[plan.index("BroadcastHashJoin"):]
    corpus_subtree = tree[:tree.index("BroadcastExchange")]
    assert "Exchange" not in corpus_subtree, corpus_subtree


def test_pack_sequences_no_global_window(spark, sf_dir):
    """Distributed prefix sum: every window over the doc table is
    partitioned by chunk; only the tiny chunk-offset table may window
    over a global order (the serial step is O(n_docs/chunk))."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.size(F.split("text", " ")).cast("long")
                    .alias("n_tokens"))
    from casf_spark.operators.curation import pack_sequences
    df = pack_sequences(t, "doc_id", "n_tokens", budget=512, chunk=64)
    plan = explain_str(df)
    # the doc-table window is keyed by chunk -> its exchange partitions
    # by ck; the offsets window's SinglePartition exchange exists but
    # consumes the chunk-totals aggregate, not the doc table
    assert "Window" in plan
    assert plan.count("Exchange SinglePartition") <= 1, plan
    assert "partitionBy=[ck" in plan.replace(" ", "") or \
        "hashpartitioning(ck" in plan, plan


def test_pii_scrub_single_projection_no_shuffle(spark, sf_dir, no_spread):
    """PII audit is scan -> project: no exchange anywhere."""
    df = q_pii_redact(spark, sf_dir)
    plan = explain_str(df)
    assert "Exchange" not in plan, plan


def test_stratified_sample_filter_reaches_scan(spark, sf_dir, no_spread):
    """The md5-rate filter is a narrow predicate: no exchange, single
    scan."""
    df = q_sample_stratified(spark, sf_dir)
    plan = explain_str(df)
    assert "Exchange" not in plan, plan


def test_budget_select_windows_are_partitioned(spark, sf_dir):
    """Both prefix-sum windows key on a partition (stratum+chunk for the
    doc table, stratum for the chunk totals) — no single-task global
    window over the corpus."""
    df = q_budget_select(spark, sf_dir)
    plan = explain_str(df)
    assert "Window" in plan
    assert "Exchange SinglePartition" not in plan, plan


def test_tfidf_no_window_grouped_topk(spark, sf_dir):
    """Per-doc top-k runs as a hash aggregation (slice/array_sort), not a
    row_number window over the full doc-term table; the only
    single-partition exchange feeds the 1-row corpus-count aggregate."""
    df = q_tfidf_terms(spark, sf_dir)
    plan = explain_str(df)
    assert "Window" not in plan, plan
    assert plan.count("Exchange SinglePartition") <= 1, plan


def test_curation_funnel_single_pass(spark, sf_dir, no_spread):
    """N funnel stages = one scan + one global aggregate: exactly one
    exchange (the 1-row final agg), one parquet scan."""
    df = q_curation_funnel(spark, sf_dir)
    tree = explain_str(df).split("\n\n")[0]  # operator tree only
    assert tree.count("Scan parquet") == 1, tree
    assert tree.count("Exchange") == 1, tree


def test_mixture_resample_corpus_single_scan_no_shuffle(spark, sf_dir):
    """The corpus side is scanned for the tiny rate table and once for
    the filter, but never exchanged at full width: the only exchanges
    feed the stratum-count aggregate (strata-sized) and its broadcast."""
    df = q_mixture_resample(spark, sf_dir)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    # no full-corpus hash exchange: every Exchange hashes the stratum key
    import re
    for m in re.finditer(r"Exchange hashpartitioning\(([^,]+)", plan):
        assert "_stratum" in m.group(1) or "source" in m.group(1), plan


def test_matrix_prepartition_no_cell_reshuffle(spark, sf_dir):
    """matrix_from_lineitem pre-partitions raw rows on y, so the cosine
    normalization pipeline adds NO exchange between the cell aggregation
    and the per-vector max + join: exactly one exchange hashes y and no
    exchange hashes the (y, x) pair."""
    import re

    from casf_spark import CosineAnalyser

    m = matrix_from_lineitem(spark, sf_dir)
    model = CosineAnalyser().fit(m)
    plan = explain_str(model.normalized)
    keys = re.findall(r"Exchange hashpartitioning\(((?:[^()]|\([^)]*\))*)\)",
                      plan)
    # no exchange keyed on both y and x (the cell agg runs on the raw
    # y-partitioning); the single y-hash exchange is the repartition
    assert not any(("y#" in k and "x#" in k) for k in keys), keys
    y_only = [k for k in keys if "y#" in k]
    assert len(set(y_only)) <= 1, keys


def test_sql_path_matrix_prepartition(spark, sf_dir):
    """The SQL interface's REPARTITION(vector) hint mirrors
    matrix_from_lineitem's pre-partitioning: no exchange in the
    cosine-via-SQL plan hashes the (vector, coord) pair."""
    import re

    df = q_cosine_via_sql(spark, sf_dir)
    # formatted explain puts exchange args on "Arguments:" lines; match
    # the partitioning expressions themselves
    plan = explain_str(df)
    keys = re.findall(r"hashpartitioning\(((?:[^()]|\([^)]*\))*)\)", plan)
    assert keys, plan
    assert not any("vector#" in k and "coord#" in k for k in keys), keys


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """At 100 TB the cheapest rows are the ones never read: Spark's
    runtime bloom-filter injection builds a filter from the selective
    dimension side and applies it to the fact scan before the shuffle.
    Pin that the engine actually injects it for the canonical
    selective-dim ⋈ fact shape (thresholds lowered to test scale — the
    defaults require a 10 GB application side)."""
    conf = spark.conf
    keys = ("spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold")
    saved = {k: conf.get(k) for k in keys}
    try:
        conf.set(keys[0], "true")
        conf.set(keys[1], "1KB")
        # broadcast joins skip runtime filters (already a build-side
        # lookup); force the shuffled-join path the feature targets
        conf.set(keys[2], "-1")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        supp = (spark.read.parquet(f"{sf_dir}/supplier.parquet")
                .where(F.col("s_nationkey") == 7))
        j = li.join(supp, li.l_suppkey == supp.s_suppkey).groupBy(
            "s_nationkey").count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan.lower() or "BloomFilter" in plan, \
            plan[:1200]
    finally:
        for k, v in saved.items():
            conf.set(k, v)
