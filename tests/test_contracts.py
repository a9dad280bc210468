"""Output-schema contracts: every extension operator's public output must
match its declared StructType in casf_spark.schemas — the moral equivalent
of the reference pinning outputs to entity case classes
(/root/reference/src/main/scala/com/saltfish/entity/*.scala)."""

import pyspark.sql.functions as F
import pytest

from casf_spark import schemas
from casf_spark.operators import dedup, similarity
from casf_spark.streaming.events import sliding_counts, tumbling_counts


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "pack my box with five dozen liquor jugs today"),
         (4, "pack my box with five dozen liquor jugs now then")],
        "doc_id long, text string")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.99, 0.1, 0.0]),
         (3, [0.0, 1.0, 0.0]), (4, [0.0, 0.0, 1.0])],
        "vec_id long, embedding array<float>")


def _fields(schema):
    return [(f.name, f.dataType) for f in schema.fields]


def assert_conforms(df, contract):
    assert _fields(df.schema) == _fields(contract)


def test_dedup_contracts(docs):
    assert_conforms(dedup.dedup_exact(docs, "doc_id", "text"),
                    schemas.DEDUP_KEEP)
    assert_conforms(dedup.ngram_jaccard_pairs(docs, "doc_id", "text"),
                    schemas.JACCARD_PAIR)
    assert_conforms(dedup.minhash_lsh_pairs(docs, "doc_id", "text"),
                    schemas.CANDIDATE_PAIR)
    assert_conforms(dedup.simhash_pairs(docs, "doc_id", "text"),
                    schemas.HAMMING_PAIR)
    assert_conforms(dedup.embedding_near_dups(
        docs.sparkSession.createDataFrame(
            [(1, [1.0, 0.0]), (2, [1.0, 0.01])],
            "vec_id long, embedding array<float>")), schemas.COSINE_PAIR)


def test_similarity_contracts(emb):
    assert_conforms(similarity.brute_force_topk(emb, emb, k=2),
                    schemas.ANN_TOPK)
    assert_conforms(similarity.blocked_gemm_pairs(emb, threshold=0.9),
                    schemas.COSINE_PAIR)
    assert_conforms(similarity.lsh_candidates(emb), schemas.COSINE_PAIR)
    assert_conforms(similarity.ivf_topk(emb, emb, k=2, n_centroids=2),
                    schemas.ANN_TOPK)


def test_streaming_contracts(spark):
    events = spark.createDataFrame(
        [("2024-01-01 00:10:00", "click", 1.5),
         ("2024-01-01 00:40:00", "click", 2.5),
         ("2024-01-01 01:10:00", "view", 1.0)],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    assert_conforms(tumbling_counts(events), schemas.EVENT_WINDOW_COUNTS)
    assert_conforms(sliding_counts(events), schemas.EVENT_SLIDING_COUNTS)
    # values survive the conform projection
    row = tumbling_counts(events).orderBy("window_start").first()
    assert row.n_events == 2 and row.sum_value == 4.0
