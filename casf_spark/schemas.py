"""Schema contracts for every dataset flowing through the cosine engine.

The reference encodes these as Scala case classes
(/root/reference/src/main/scala/com/saltfish/entity/*.scala); PySpark has no
typed Dataset, so each stage declares a StructType contract and
``conform(df, schema)`` enforces column names/order (values are cast, extra
columns rejected) — the moral equivalent of ``.as[CaseClass]``.

Type decisions vs. the reference (SURVEY.md §1.2): the reference stores raw
cell values as BigInt (entity/MatrixElement.scala:3) which Spark encodes as
Decimal(38,0); its first arithmetic casts to Double anyway
(MatrixCosineAnalyse.scala:99). We take DoubleType raw values — identical
results, ~2x cheaper in Tungsten than Decimal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Input: one non-zero cell of a sparse matrix in COO form.
# Parity: entity/MatrixElement.scala:3 (y, x, value).
MATRIX_ELEMENT = T.StructType([
    T.StructField("y", T.StringType(), False),
    T.StructField("x", T.StringType(), False),
    T.StructField("value", T.DoubleType(), False),
])

# Per-vector max element. Parity: entity/MaxValue.scala:3.
MAX_VALUE = T.StructType([
    T.StructField("vector", T.StringType(), False),
    T.StructField("max_value", T.DoubleType(), False),
])

# Cell rescaled by its vector's max. Parity: entity/NormalizedElement.scala:3.
NORMALIZED_ELEMENT = T.StructType([
    T.StructField("vector", T.StringType(), False),
    T.StructField("coord", T.StringType(), False),
    T.StructField("normalized_value", T.DoubleType(), False),
])

# Per-vector L2 norm. Parity: entity/VectorMod.scala:3.
VECTOR_MOD = T.StructType([
    T.StructField("vector", T.StringType(), False),
    T.StructField("mod", T.DoubleType(), False),
])

# Per-pair L2 norms (cosine denominator factors). Parity: entity/FactorMod.scala:3.
FACTOR_MOD = T.StructType([
    T.StructField("vector0", T.StringType(), False),
    T.StructField("vector1", T.StringType(), False),
    T.StructField("mod0", T.DoubleType(), False),
    T.StructField("mod1", T.DoubleType(), False),
])

# Aligned element pairs: both vectors' normalized values at one shared
# coordinate. Parity: entity/FactorNormalizedValue.scala:3.
FACTOR_NORMALIZED_VALUE = T.StructType([
    T.StructField("vector0", T.StringType(), False),
    T.StructField("vector1", T.StringType(), False),
    T.StructField("coord", T.StringType(), False),
    T.StructField("value0", T.DoubleType(), False),
    T.StructField("value1", T.DoubleType(), False),
])

# Output: cosine similarity per canonical vector pair.
# Parity: entity/SimilarityValue.scala:3.
SIMILARITY_VALUE = T.StructType([
    T.StructField("vector0", T.StringType(), False),
    T.StructField("vector1", T.StringType(), False),
    T.StructField("similarity_value", T.DoubleType(), False),
])

# ------------------------------------------------------------------------- #
# Extension-operator output contracts (SURVEY.md §7 phases C-E — no
# reference counterpart; these pin the public API of the dedup / ANN /
# streaming operators the same way the entity classes pin the cosine core).
# ------------------------------------------------------------------------- #

# operators.dedup.dedup_exact: the surviving representative per fingerprint
DEDUP_KEEP = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("fingerprint", T.StringType(), False),
])

# operators.dedup.ngram_jaccard_pairs
JACCARD_PAIR = T.StructType([
    T.StructField("doc0", T.LongType(), False),
    T.StructField("doc1", T.LongType(), False),
    T.StructField("jaccard", T.DoubleType(), False),
])

# operators.dedup.minhash_lsh_pairs (candidate pairs, canonical doc0 > doc1)
CANDIDATE_PAIR = T.StructType([
    T.StructField("doc0", T.LongType(), False),
    T.StructField("doc1", T.LongType(), False),
])

# operators.dedup.simhash_pairs
HAMMING_PAIR = T.StructType([
    T.StructField("doc0", T.LongType(), False),
    T.StructField("doc1", T.LongType(), False),
    T.StructField("hamming", T.IntegerType(), False),
])

# operators.dedup.embedding_near_dups / similarity.blocked_gemm_pairs /
# similarity.lsh_candidates (canonical id0 > id1)
COSINE_PAIR = T.StructType([
    T.StructField("id0", T.LongType(), False),
    T.StructField("id1", T.LongType(), False),
    T.StructField("cos_sim", T.DoubleType(), False),
])

# operators.similarity.brute_force_topk / ivf_topk
ANN_TOPK = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("neighbor_id", T.LongType(), False),
    T.StructField("cos_sim", T.DoubleType(), False),
    T.StructField("rank", T.IntegerType(), False),
])

# operators.dedup.winnow_overlap_pairs: shared-fingerprint near-dups
OVERLAP_PAIR = T.StructType([
    T.StructField("doc0", T.LongType(), False),
    T.StructField("doc1", T.LongType(), False),
    T.StructField("n_shared", T.LongType(), False),
])

# operators.dedup.connected_components: near-dup cluster membership
CLUSTER_MEMBER = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("cluster_id", T.LongType(), False),
])

# functions.text.winnow_fingerprints: distinct winnowed k-gram hashes
WINNOW_FP = T.StructType([
    T.StructField("doc", T.LongType(), False),
    T.StructField("fp", T.LongType(), False),
])

# streaming.events.tumbling_counts (and its batch twin)
EVENT_WINDOW_COUNTS = T.StructType([
    T.StructField("window_start", T.TimestampType(), False),
    T.StructField("event_type", T.StringType(), False),
    T.StructField("n_events", T.LongType(), False),
    T.StructField("sum_value", T.DoubleType(), False),
])

# streaming.events.sliding_counts (and its batch twin)
EVENT_SLIDING_COUNTS = T.StructType([
    T.StructField("window_start", T.TimestampType(), False),
    T.StructField("event_type", T.StringType(), False),
    T.StructField("n_events", T.LongType(), False),
])


def conform(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project/cast ``df`` onto ``schema`` (name-matched, order enforced).

    Raises if a declared column is missing — schema drift fails fast instead
    of producing silently-wrong joins downstream.
    """
    missing = [f.name for f in schema.fields if f.name not in df.columns]
    if missing:
        raise ValueError(f"DataFrame missing columns {missing}; has {df.columns}")
    return df.select(*[F.col(f.name).cast(f.dataType) for f in schema.fields])
