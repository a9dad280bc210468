"""Deterministic sampling / splitting operators for training-data pipelines.

Random ``df.sample`` is non-reproducible across runs, partitionings and
engines. Pipelines at 100 TB need splits that are (a) stable under re-runs
and input reshuffles, (b) consistent for the same key everywhere (a doc
lands in `train` in every job that ever looks at it), and (c) cheap — a
narrow projection, no shuffle, no state. Hash-based assignment gives all
three: split(key) = f(md5(key)) is a pure Column expression, engine-equal
in DuckDB (functions.hashing.md5_long), and Catalyst pushes it into the
scan like any other predicate.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from casf_spark.functions.hashing import HASH_BITS, md5_long

#: denominator for hash -> [0,1) mapping; top 30 of the 60 md5 bits (keeps
#: the DuckDB twin in exact integer arithmetic)
_BUCKETS = 1 << 30


def hash_fraction(key: Column | str) -> Column:
    """Uniform [0, 1) fraction derived from a key column — the primitive
    under sampling and splitting. DuckDB twin:
    ``(CAST('0x'||substr(md5(k),1,15) AS BIGINT) >> 30) / 1073741824.0``.
    """
    return (F.shiftright(md5_long(key), HASH_BITS - 30) / F.lit(float(_BUCKETS)))


def assign_splits(df: DataFrame, key: Column | str,
                  splits: Sequence[tuple[str, float]] = (
                      ("train", 0.98), ("val", 0.01), ("test", 0.01)),
                  out_col: str = "split") -> DataFrame:
    """Label every row with a deterministic split by cumulative hash range.

    ``splits`` are (name, weight) with weights summing to 1.0 (validated).
    The assignment depends only on the key — adding/removing other rows
    never moves a document between splits (critical for eval hygiene:
    test-set membership survives corpus growth).
    """
    weights = [w for _, w in splits]
    if abs(sum(weights) - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1.0, got {sum(weights)}")
    frac = hash_fraction(key)
    # a NULL key hashes to a NULL fraction, which fails every WHEN and
    # would silently land in the LAST split — typically 'test', so the
    # 1% eval split would absorb 100% of NULL-key docs (eval
    # contamination). Raise per-row instead.
    expr = F.when(frac.isNull(),
                  F.raise_error(F.lit("assign_splits: NULL split key")))
    cumulative = 0.0
    # build WHEN frac < cum ordered by range; last split is the ELSE branch
    for name, w in splits[:-1]:
        cumulative += w
        expr = expr.when(frac < F.lit(cumulative), F.lit(name))
    return df.withColumn(out_col, expr.otherwise(F.lit(splits[-1][0])))


def sample_per_group(df: DataFrame, key: Column | str, group_col: str,
                     k: int) -> DataFrame:
    """Deterministic k-per-group sample -> (group, key_val, rank): each
    group's members ranked by md5-hash priority (ties by key), first ``k``
    kept — the distributed reservoir-sample twin with rerun-stable
    membership (a true reservoir is RNG-order-dependent; hash priority
    gives the same "uniform without replacement" distribution per fixed
    key set, reproducibly).

    Plan: grouped ``slice(array_sort(collect_list))`` partial aggregation
    — per-group in-memory top-k, map-side combined, no window and no
    global sort; shuffle carries at most the group keys' collected
    candidate lists. Output keys are the sampled rows' key values; join
    back to the source for payloads.
    """
    kc = F.col(key) if isinstance(key, str) else key
    t = df.select(F.col(group_col).alias("grp"),
                  kc.cast("string").alias("kv"),
                  hash_fraction(kc.cast("string")).alias("p"))
    top = (t.groupBy("grp")
           .agg(F.slice(F.array_sort(F.collect_list(
               F.struct("p", "kv"))), 1, k).alias("_t")))
    return (top.select("grp", F.posexplode("_t").alias("_pos", "_s"))
            .select(F.col("grp").alias(group_col),
                    F.col("_s.kv").alias("key_val"),
                    (F.col("_pos") + 1).cast("int").alias("rank")))


def dsir_logweights(df: DataFrame, id_col: str, text_col: str,
                    is_target: Column, n_buckets: int = 256) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al. 2023,
    arXiv:2302.03169): score every document by how target-domain-like its
    hashed n-gram profile is, so a raw corpus can be resampled toward a
    small target domain.

    Features are unigrams + bigrams of the regex tokenizer, hashed into
    ``n_buckets`` buckets with the cross-engine md5 hash
    (functions.hashing.md5_long % n_buckets). Bucket distributions are
    estimated with add-1 smoothing over the target rows (``is_target``)
    and the raw rows (the rest); a document's log importance weight is

        log_w(d) = sum_b c_b(d) * (ln p_target(b) - ln p_raw(b))

    with the per-bucket log-ratio rounded to 6dp BEFORE the weighted sum
    so both engines sum identical doubles (only association order can
    differ — error ~1e-13 against a 6dp output rounding).

    Output: (doc_id, is_target, n_features, log_weight, gumbel_key) —
    one row per document with at least one feature, both pools scored
    (token-free documents have no evidence and are omitted).
    ``gumbel_key`` =
    log_weight - ln(-ln(u)) with u the deterministic
    :func:`hash_fraction` of the id: sorting descending by it IS
    Gumbel-top-k sampling from the softmax of the weights, rerun-stable
    with no RNG state (selection itself is a downstream filter/top-k so
    callers pick k without recomputing).

    Scale shape (100 TB bar): two bucket-grain aggregates build the
    ``n_buckets``-row weight table (broadcast); the corpus pass is one
    feature-grain explode + doc-grain rollup — work linear in total
    tokens, no all-pairs, no driver loop. The bucket count bounds the
    weight table, not the corpus, exactly as in the paper's hashed
    feature design.
    """
    from casf_spark.functions.text import tokens as _tokens

    if n_buckets < 1:
        # n_buckets=0 would raise modulo-by-zero under ANSI mode, and
        # a negative value would silently empty the output through the
        # empty bucket spine's inner join — refuse loudly
        raise ValueError(
            f"dsir_logweights: n_buckets must be >= 1, got {n_buckets}")
    tok = _tokens(text_col)
    bigrams = F.zip_with(
        F.slice(tok, 1, F.greatest(F.size(tok) - 1, F.lit(0))),
        F.slice(tok, 2, F.greatest(F.size(tok) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b))
    # NULL predicate results (e.g. source == 'src0' on a NULL source)
    # count as RAW, not as a third pool: without the coalesce the
    # boolean-sum aggregates below would drop such rows from BOTH pool
    # counts while the SQL twin's CASE..ELSE counts them as raw.
    base = df.select(F.col(id_col).cast("long").alias("doc_id"),
                     F.coalesce(is_target, F.lit(False)).alias("is_target"),
                     F.concat(tok, bigrams).alias("feats"))
    occ = (base.select("doc_id", "is_target",
                       F.explode("feats").alias("feat"))
           .select("doc_id", "is_target",
                   (md5_long("feat") % n_buckets).alias("bucket")))

    pool = (occ.groupBy("bucket")
            .agg(F.sum(F.col("is_target").cast("long")).alias("tc"),
                 F.sum((~F.col("is_target")).cast("long")).alias("rc")))
    tot = pool.agg(F.sum("tc").alias("t_tot"), F.sum("rc").alias("r_tot"))
    spine = (df.sparkSession.range(n_buckets)
             .select(F.col("id").cast("long").alias("bucket")))
    weights = (spine.join(F.broadcast(pool), "bucket", "left")
               .crossJoin(F.broadcast(tot))
               .select("bucket", F.round(
                   F.log((F.coalesce("tc", F.lit(0)) + 1).cast("double")
                         / (F.col("t_tot") + n_buckets))
                   - F.log((F.coalesce("rc", F.lit(0)) + 1).cast("double")
                           / (F.col("r_tot") + n_buckets)),
                   6).alias("w")))

    per_doc = (occ.groupBy("doc_id", "is_target", "bucket")
               .agg(F.count(F.lit(1)).alias("c"))
               .join(F.broadcast(weights), "bucket")
               .groupBy("doc_id", "is_target")
               .agg(F.sum("c").cast("long").alias("n_features"),
                    F.round(F.sum(F.col("c") * F.col("w")), 6)
                    .alias("log_weight")))
    # u strictly inside (0,1): +0.5 keeps ln(u) and ln(-ln(u)) finite for
    # every hash value (hash_fraction itself can return exactly 0), and
    # (h + 0.5) / 2^30 is exact in both engines' doubles.
    u = ((F.shiftright(md5_long(F.col("doc_id").cast("string")),
                       HASH_BITS - 30) + F.lit(0.5))
         / F.lit(float(_BUCKETS)))
    return per_doc.select(
        "doc_id", "is_target", "n_features", "log_weight",
        F.round(F.col("log_weight") - F.log(-F.log(u)), 6)
        .alias("gumbel_key"))


def weighted_sample_wor(df: DataFrame, key: Column | str, weight_col: str,
                        k: int) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — the
    Efraimidis–Spirakis A-ES scheme (IPL 2006): each row gets priority
    ``u^(1/w)`` for a uniform ``u`` (here hash-derived, so the sample is
    rerun- and engine-stable), and the ``k`` highest priorities form
    the sample; inclusion probabilities then follow the weights exactly
    as sequential weighted draws without replacement would. We compare
    in log space — ``ln(u)/w``, monotone in u^(1/w) — to stay finite.

    The one-pass, distributed version of "draw k docs proportional to
    length/quality": a TakeOrdered partial top-k per partition (no
    global sort, no window over the corpus), with candidate volume k
    per task. ``u = (h30 + 0.5) / 2^30`` strictly inside (0,1) (the
    dsir_logweights convention — keeps ln finite and the double exact
    in both engines). Rows with NULL or non-positive weight are
    excluded (a zero weight can never be drawn; E-S is undefined
    there). Ties (bit-equal priorities) break on the key.

    Output: (key_val, w, priority, rank) — priority is the 6dp-rounded
    log-space key (ordering uses the UNROUNDED value; the rank column
    carries the contract when rounding collapses neighbors).
    """
    if k <= 0:
        raise ValueError(f"weighted_sample_wor: k must be positive, got {k}")
    kc = F.col(key) if isinstance(key, str) else key
    u = ((F.shiftright(md5_long(kc.cast("string")), HASH_BITS - 30)
          + F.lit(0.5)) / F.lit(float(_BUCKETS)))
    t = (df.where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
         .select(kc.cast("string").alias("key_val"),
                 F.col(weight_col).cast("double").alias("w"),
                 (F.log(u) / F.col(weight_col).cast("double"))
                 .alias("__ws_p")))
    top = t.orderBy(F.desc("__ws_p"), F.asc("key_val")).limit(k)
    # rank window runs over <= k survivors only — never the corpus
    from pyspark.sql import Window
    win = Window.orderBy(F.desc("__ws_p"), F.asc("key_val"))
    return (top.withColumn("rank", F.row_number().over(win).cast("int"))
            .select("key_val", "w",
                    F.round("__ws_p", 6).alias("priority"), "rank"))
