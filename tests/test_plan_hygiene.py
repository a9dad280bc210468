"""Global plan-hygiene gate over EVERY registered query.

Three anti-pattern sweeps across the full queries() surface (plan
analysis only — nothing executes):

- row-at-a-time Python (BatchEvalPython) is banned outright — the slow
  path the design rules forbid; Arrow-batched mapInPandas is fine and
  shows up as different operators.
- cartesian / broadcast-nested-loop joins only where DELIBERATE: the
  dense all-pairs semantics and 1-row/centroid-table broadcast cross
  joins (corpus counts, scalar stats). A new query that introduces one
  must consciously extend the whitelist.
- at most one single-partition exchange per plan (two for the queries
  carrying two independent 1-row scalar aggregates) — a growing count is
  how a corpus-sized global sort/window sneaks in.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as E

#: queries whose product joins are design decisions (all have a tiny
#: broadcast side or ARE the dense all-pairs semantics)
PRODUCT_WHITELIST = {
    "cosine_dense",      # deliberate all-pairs (dense semantics)
    "cosine_topk",       # dense zero-fill path (mods product)
    "cosine_predict",    # inherits top-k's dense path
    "ann_ivf_det",       # centroid table (n_centroids rows) broadcast
    "dsir_select",       # 1-row corpus-totals broadcast
    "tfidf_terms",       # 1-row corpus-count broadcast
    "bm25_rank",         # 1-row corpus stats broadcast
    "vocab_coverage",    # 1-row total broadcast
    "unigram_logprob",   # 1-row total broadcast
    "bigram_logprob",    # 1-row vocabulary-size broadcast
    "q11_important_parts",   # scalar-subquery threshold (1 row)
    "q22_idle_customers",    # scalar-AVG threshold (1 row)
    "text_zipf",             # 1-row corpus-total broadcast
    "doc_lang_source_lift",  # 1-row corpus-total broadcast
    "customer_rfm",          # 1-row ref-date + quartile-bounds broadcasts
    # contract-row queries (round 4): 1-row x 1-row crossJoin combining
    # the measured count with the ground-truth count before the assert
    "ann_ivf",
    "ann_ivf_pq",
    "pack_greedy",
    # 1-row data-derived insert-offset scalar (next 10M multiple past
    # max(o_orderkey)) broadcast into the changeset build and the output
    # filter — replaces the fixed +10M offset that collided with the
    # synthetic sf1/sf3 key-shifted copies
    "orders_merge_upsert",
    # same 1-row derived-offset scalar broadcast into the synthetic
    # next-day snapshot build
    "orders_snapshot_diff",
    # 1-row N1/N2 corpus-total broadcasts in the PMI projection
    "collocations_pmi",
    # datasheet: the three 1-row metric aggs (base stats, kept count,
    # gopher rate) crossJoin into the 7-row report
    "corpus_card",
    # 1-row node-count scalar broadcast into the teleport term of the
    # final rank projection (earlier iterations are checkpoint-truncated)
    "dedup_pagerank",
    # 1-row probe vector (first-by-vec_id) crossJoined into the guarded
    # cosine leg of the adversarial NULL/zero-vector contract
    "adversarial_contract",
    # inherits bm25_rank's 1-row corpus-stats broadcast in the lexical
    # leg (plus the 1-row query-vector broadcast in the cosine leg)
    "retrieval_rrf",
    # same legs plus tfidf_rank's 1-row corpus-count broadcast
    "retrieval_rrf_weighted",
    # NB classifier: 1-row class-totals and 1-row prior broadcasts
    # (the model itself is a bounded <= vocab_size-row side input)
    "nb_lang_score",
    "nb_lang_eval",
    # same NB broadcasts + the 1-row ECE numerator/denominator agg
    # crossJoined onto the <= n_buckets-row bucket table
    "nb_calibration",
    # ARI: the three 1-row combinatoric aggregates (cells, row
    # marginals, col marginals) crossJoin into the single output row
    "dedup_cluster_ari",
    # keyness: 1-row corpus-total broadcast into the G2 projection
    "source_keyness",
    # multi-class NB: bounded classes x vocab grid (classes crossJoin
    # the 25-term vocab) + the bounded prior table crossJoined onto
    # the doc list
    "nb_lang_confusion",
    # quantile normalization: the 1-row global-midpoints agg
    # crossJoined back for the tile lookup
    "doc_quality_qnorm",
    # silhouette: the bounded 8-row centroid table crossJoined for the
    # N x k distance table (the quantizer's own deliberate product)
    "cluster_silhouette",
    # held-out JM LM: the 1-row train-totals (N, V) agg crossJoined
    # into the per-token probability projection
    "lm_heldout_jm",
    # the 42-row Platt grid broadcast (map-side expansion) + the 1-row
    # argmin broadcast back onto the grid-sized loss table
    "nb_platt",
    # inherits unigram_logprob's vocab/total broadcasts + the 1-row
    # 9-threshold quantile table broadcast
    "curriculum_buckets",
    # 1-row corpus-token-total broadcast onto the bounded stratum table
    "mixture_plan",
    # EM round: the 1-row usage-total broadcast onto the <= vocab +
    # alphabet-sized usage-count table (unigram_lm_scores' class)
    "unigram_lm_em",
    # the 1-row total/bucket-width scalar broadcast into both the
    # bucket-index build (vocab_size rows) and the draw expansion
    "negative_samples",
    # the 1-row (n_ref, n_new, n_bins) totals broadcast onto the
    # bounded bin table
    "corpus_drift_psi",
    # inherits bm25_rank's 1-row corpus-stats broadcast + the 1-row
    # dcg x idcg crossJoin of the two nano-unit sums
    "retrieval_ndcg",
    # 5-fold CV: each fold inherits the NB class-totals + prior 1-row
    # broadcasts (nb_lang_score's class), and each fold's final
    # confusion agg crossJoins the prior scalar — 15 bounded products
    "nb_cv",
    # JSD: the 1-row corpus-total agg crossJoined into the per-word
    # projection AND the per-group closing term (two bounded products)
    "source_vocab_jsd",
    # two-corpus quantile matching: the 1-row reference-percentiles
    # agg crossJoined back for the tile lookup (doc_quality_qnorm's
    # class)
    "doc_quality_qmatch",
    # histogram quantile sketch: the 3-row quantile table crossJoins
    # the 1-row total, then range-joins (cum >= target_rank) the
    # bin-grain sketch — every side bounded by the sketch, never rows
    "events_quantile_sketch",
}

#: queries allowed two single-partition exchanges (two independent 1-row
#: scalar aggregates feeding the same plan)
TWO_SP_WHITELIST = {"bm25_rank", "doc_cosine_tfidf",
                    # the 1-row totals agg + the total-PSI window over
                    # the bounded bin table
                    "corpus_drift_psi",
                    # bm25's 1-row corpus-stats agg + the rank/ideal
                    # windows over <= pool_n rows and the two 1-row
                    # DCG sums (bounded)
                    "retrieval_ndcg",
                    # doc-checksum agg + vec-checksum agg (both 1-row,
                    # 25-row output total)
                    "adversarial_contract",
                    # bm25's corpus-stats agg + the 50-row lexical rank
                    # window (both bounded)
                    "retrieval_rrf",
                    # 1-row total agg + rank window over the 30-row top cut
                    "text_zipf",
                    # contract rows: n_hit agg + n_truth agg (both 1-row)
                    "ann_ivf", "ann_ivf_pq",
                    # n_packed/n_docs agg + per-bin-invariant agg
                    "pack_greedy",
                    # the insert-offset scalar agg feeds two consumers
                    # (changeset build + output filter) -> planned twice
                    "orders_merge_upsert",
                    # NB held-out eval: the 1-row prior agg + the final
                    # 1-row confusion-matrix agg (output is 6 rows total)
                    "nb_lang_eval",
                    # PMI: the 1-row N1 (unigram total) and N2 (bigram
                    # total) aggs broadcast into the scoring projection
                    "collocations_pmi",
                    # JSD: the 1-row corpus-total agg feeds two
                    # consumers (per-word projection + closing term)
                    "source_vocab_jsd",
                    # sketch quantiles: the 1-row total agg + the
                    # cumulative window over the bounded bin table
                    "events_quantile_sketch"}

#: explicit higher caps: each declared check family contributes its own
#: deliberate 1-row aggregate (row-level fused agg + unique + fk)
SP_CAP_OVERRIDES = {"data_quality_checks": 3,
                    # ARI: cells / row-marginal / col-marginal 1-row
                    # aggs (all over the tiny contingency table)
                    "dedup_cluster_ari": 3,
                    # unigram vocab-total agg + the quantile-threshold
                    # agg + its re-aggregation after the total broadcast
                    # (all 1-row)
                    "curriculum_buckets": 3,
                    # ref-date agg + percentile-bounds agg + the bounds
                    # re-aggregation after the ref-date broadcast join —
                    # all 1-row scalar aggregates feeding CASE bucketing
                    "customer_rfm": 3,
                    # 3-leg fusion: bm25's 1-row corpus-stats agg + the
                    # two 50-row lexical rank windows (bm25 + tfidf legs)
                    "retrieval_rrf_weighted": 3,
                    # datasheet: base-stats agg + kept-count agg +
                    # gopher-rate agg (all 1-row, 7-row report out)
                    "corpus_card": 3,
                    # NB class-totals agg + prior agg + the 1-row ECE
                    # numerator/denominator agg over the bucket table
                    "nb_calibration": 3,
                    # NB class-totals agg + prior agg + the 1-row
                    # argmin-over-the-grid agg
                    "nb_platt": 3,
                    # seed-vocab total agg + usage total agg (both
                    # 1-row) + the rank window over the <= vocab +
                    # alphabet usage rows
                    "unigram_lm_em": 3,
                    # 5 independent folds x (class-totals agg + prior
                    # agg) — every one a 1-row scalar; the fold output
                    # is 1 row each
                    "nb_cv": 10}


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    out = {}
    for name, fn in E.queries().items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan() \
            .toString()
        out[name] = plan.split("\n\n")[0]  # operator tree only
    return out


def test_no_row_at_a_time_python_anywhere(plans):
    offenders = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert not offenders, offenders


def test_products_only_where_deliberate(plans):
    got = {n for n, p in plans.items()
           if "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p}
    assert got == PRODUCT_WHITELIST, (got - PRODUCT_WHITELIST,
                                      PRODUCT_WHITELIST - got)


def test_single_partition_exchanges_bounded(plans):
    over = {}
    for n, p in plans.items():
        cap = SP_CAP_OVERRIDES.get(n, 2 if n in TWO_SP_WHITELIST else 1)
        c = p.count("Exchange SinglePartition")
        if c > cap:
            over[n] = c
    assert not over, over


def test_centroid_argmin_is_aggregation_not_window(spark, sf_dir):
    """The deterministic-quantizer assignment (_nearest_det_centroids)
    is map-only: the centroid matrix is a driver-side side input and
    each Arrow batch argmins in numpy, so its plan has no Exchange and
    no Window. ivf_topk_det's corpus side keeps its Column-expression
    argmin, and there it must plan as a min(struct) aggregation WITH a
    partial (map-side) combine before the exchange — not as a
    row_number window, which exchanged all n_centroids x N wide rows
    (embedding arrays included) to sort them corpus-grain. A struct
    containing array fields is not hash-aggregatable, so Spark plans
    SortAggregate — fine: the partial_min still collapses each
    partition to <= one row per id BEFORE the shuffle."""
    from casf_spark.operators.dedup import _nearest_det_centroids
    from casf_spark.operators.similarity import ivf_topk_det

    def tree(df):
        return df._jdf.queryExecution().executedPlan().toString() \
            .split("\n\n")[0]

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = tree(_nearest_det_centroids(emb, "vec_id", "embedding", 8))
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan
    plan = tree(ivf_topk_det(emb, emb.limit(4)))
    assert "partial_min" in plan, plan


def test_staged_operator_plans_follow_hygiene(spark, sf_dir):
    """The salted LM scorer (``n_salt > 0``) has no queries() entry, so
    the global sweeps above cannot see it — pin its plan here to the
    same rules: no row-at-a-time Python anywhere; a product only for
    the deliberate 1-row totals broadcast (crossJoin(broadcast(tot)),
    the JM whitelist rationale)."""
    from pyspark.sql import functions as F

    from casf_spark.operators.relevance import heldout_interpolated_logprob

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    train = docs.where(F.col("doc_id") % 5 != 0)
    held = docs.where(F.col("doc_id") % 5 == 0)
    plan = heldout_interpolated_logprob(
        train, held, "doc_id", "text", n_salt=4
    )._jdf.queryExecution().executedPlan().toString().split("\n\n")[0]
    assert "BatchEvalPython" not in plan
    n_prod = (plan.count("CartesianProduct")
              + plan.count("BroadcastNestedLoopJoin"))
    assert n_prod <= 1, n_prod
