"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (document-pair cosine similarity —
the reference's demo workload, KeyWordsDemo.scala, re-expressed Spark-first)
at sf0.001. ``queries()``/``oracle_sql()`` cover every operator family from
SURVEY.md §2 plus the Phase-D/E extensions (dedup, ANN, text analysis,
multimodal plumbing, streaming-equivalent windows).

The queries themselves live in ``casf_spark/queries/<family>.py``, each
declared once as ``@query(name, oracle=<DuckDB SQL>)`` beside its Spark
body; this module only orders them for the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from casf_spark.queries import REGISTRY
from casf_spark.queries._registry import QueryFn
from casf_spark.queries.cosine import q_doc_cosine

#: the driver's correctness harness checks the FIRST 50 entries of
#: queries(); these are they, in order. Every other name follows in
#: registry order (family-module order, then declaration order).
DRIVER_WINDOW = [
    "events_quantile_sketch", "source_vocab_jsd", "vocab_good_turing",
    "select_facility", "doc_quality_qmatch", "doc_symbol_lang_quantile",
    "bigram_logprob", "sample_per_source", "er_customer_link", "corpus_card",
    "multimodal_audio_neardup", "multimodal_image_neardup",
    "collocations_pmi", "tokenizer_fertility", "nb_lang_eval",
    "nb_lang_score", "retrieval_rrf_weighted", "unigram_lm_segment",
    "curriculum_buckets", "mixture_plan", "cluster_profile",
    "embedding_norms", "dedup_degrees", "pack_greedy",
    "events_approx_distinct", "text_zipf", "events_grouping_sets",
    "doc_lang_source_lift", "events_gap_stats", "customer_running_spend",
    "events_mad_outliers", "embedding_power_iter", "events_sketch_rollup",
    "events_session_window", "events_forward_fill", "dedup_cross_source",
    "text_ttr", "multimodal_pcm", "events_click_purchase_days",
    "orders_price_position", "events_unpivot", "text_novelty",
    "customer_order_counts_right", "ann_ivf", "data_quality_checks",
    "cdc_snapshot", "events_k_anonymity", "scd2_orders", "split_leakage_safe",
    "dedup_triangles",
]

# raises at import when a window name is unregistered or repeated
REGISTRY.ordered(DRIVER_WINDOW)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: document-pair cosine similarity (reference demo workload:
    tokenize -> stop-word filter -> term counts -> sparse cosine) on
    sf0.001. Driver checks rows > 0."""
    return q_doc_cosine(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, QueryFn]:
    return {n: REGISTRY.queries[n] for n in REGISTRY.ordered(DRIVER_WINDOW)}


def oracle_sql() -> dict[str, str]:
    return {n: REGISTRY.oracles[n] for n in REGISTRY.ordered(DRIVER_WINDOW)}
