"""Deduplication operators for large-scale training-data pipelines.

Absent from the reference (SURVEY.md §2.9 — no approximate algorithms); these
are the Phase-D extensions, each designed shuffle-first:

* exact      — one hash-groupBy on a stable fingerprint. Scales linearly;
               the canonical first pass at 100 TB.
* n-gram Jaccard — shingle self-join; only docs sharing >=1 shingle meet,
               so cost tracks true overlap, not n^2.
* MinHash/LSH — signature + banding; candidate pairs only for docs sharing
               a band bucket. The standard sub-quadratic near-dup path.
* SimHash    — 60-bit signature, Hamming-distance pairs.
* embedding cosine — exact all-pairs baseline (quadratic; LSH-bucketed
               variant lives in operators.similarity).

All hash math is md5-derived (functions.hashing) so every operator has an
exactly-matching DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from casf_spark import schemas
from casf_spark.functions import text as TX
from casf_spark.functions import vectors as V
from casf_spark.functions.hashing import md5_long, minhash_exprs


def _fp_or_unique(id_col: str, text_col: str):
    """Content fingerprint with NULL text mapped to a per-doc unique
    sentinel: NULL fingerprints connect NOTHING (the group_star_edges
    convention) — without this, a corrupt load where many docs have
    text=NULL would silently collapse them all into ONE 'duplicate'
    group and dedup would keep a single survivor."""
    return F.coalesce(
        TX.fingerprint(text_col),
        F.concat(F.lit("\x00null:"), F.col(id_col).cast("string")))


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content-exact dedup: keep the min-id representative per
    fingerprint. A NULL-text document is its own singleton group (kept,
    never someone's duplicate) — see :func:`_fp_or_unique`."""
    ranked = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        _fp_or_unique(id_col, text_col).alias("fingerprint"))
    keep = ranked.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    return schemas.conform(keep, schemas.DEDUP_KEEP)


def blocked_pairs(df: DataFrame, id_col: str,
                  block_cols: list[str],
                  payload_cols: list[str],
                  max_block_size: int | None = None) -> DataFrame:
    """Entity-resolution candidate generation: self-join the records
    under a BLOCKING key -> one row per unordered within-block pair
    ``(id0, id1, <payload>_0, <payload>_1, <block cols>)`` with
    ``id0 < id1``. Blocking is THE classic record-linkage scale move
    (Fellegi-Sunter pipelines): candidate pairs form only inside a
    block, so pair count is sum of block-size² instead of corpus² —
    the caller picks block keys that any true match must preserve
    (e.g. same nation + a name prefix the expected corruptions can't
    touch).

    ``max_block_size`` is the quadratic-bomb guard for 100 TB: one hot
    block (a default name, an empty field) makes block² explode even
    when every other block is tiny. When set, records in blocks larger
    than the cap are EXCLUDED from pair generation (the size comes from
    a window count over the same block-key partitioning the join
    shuffles on, so the guard adds no extra shuffle) — refine the key
    rather than paying block² blindly.

    Scale shape: one self equi-join shuffled on the block key (the
    same shape as the matrix core's _factor_pairs); expensive
    comparators (edit distance etc.) run AFTER this cut, on candidates
    only — the dedup_edit_distance discipline applied to structured
    records.
    """
    if max_block_size is not None:
        w = Window.partitionBy(*block_cols)
        df = (df.withColumn("_bsz", F.count(F.lit(1)).over(w))
              .where(F.col("_bsz") <= int(max_block_size))
              .drop("_bsz"))

    def side(tag: str) -> DataFrame:
        return df.select(
            F.col(id_col).cast("long").alias(f"id{tag}"),
            *[F.col(c).alias(f"{c}_{tag}") for c in payload_cols],
            *[F.col(c) for c in block_cols])

    return (side("0").join(side("1"), block_cols)
            .where(F.col("id0") < F.col("id1")))


def _shingles(df: DataFrame, id_col: str, text_col: str, n: int,
              distinct: bool = True) -> DataFrame:
    """Word n-gram shingles per document: (doc, shingle).

    Built with a window-free array slide (transform over index range) —
    stays in codegen. ``distinct=False`` skips the per-(doc, shingle)
    dedup shuffle for consumers whose aggregate is duplicate-insensitive
    (MIN for MinHash).

    The token array is materialized as a column BEFORE the sliding
    transform: referencing the raw tokens() expression inside the lambda
    re-tokenizes the text once per element — O(len²) per doc (measured
    ~10x slower at sf0.1).
    """
    tok_df = df.select(F.col(id_col).cast("long").alias("doc"),
                       TX.tokens(text_col).alias("toks"))
    # guard size < n: F.sequence(0, negative) would emit a descending range
    sh = F.when(
        F.size("toks") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - n),
            lambda i: F.array_join(F.slice("toks", i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = tok_df.select("doc", F.explode(sh).alias("shingle"))
    return out.distinct() if distinct else out


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.5) -> DataFrame:
    """Document pairs with word-n-gram Jaccard similarity >= threshold.

    Shingle self-join on the shingle key: pairs form only where sets
    intersect, so the shuffle is proportional to shared content. Hot
    shingles (boilerplate) skew the join — AQE skew split handles moderate
    cases; production pipelines drop top-frequency shingles first.
    Output: (doc0, doc1, jaccard) with doc0 > doc1 canonical ordering.
    """
    # join/aggregate on 60-bit shingle hashes instead of shingle strings:
    # fixed-width long keys shuffle and hash-probe far cheaper. Collision
    # odds are ~|shingles|^2 / 2^61 — negligible below ~10^9 distinct
    # shingles, and a collision only perturbs one intersection count by 1.
    sh = _shingles(df, id_col, text_col, n).select(
        "doc", md5_long("shingle").alias("sh"))
    # materialized ONCE (r13 optimization, guide §2.4): sh feeds the
    # doc-keyed size aggregation AND the sh-keyed intersection self-join
    # — differently-keyed consumers, so the tokenize -> shingle -> hash
    # front half would otherwise run twice. Narrow (doc, long) rows.
    sh = sh.localCheckpoint()
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc").alias("doc0"), "sh")
    b = sh.select(F.col("doc").alias("doc1"), "sh")
    inter = (
        a.join(b, "sh")
        .where(F.col("doc0") > F.col("doc1"))
        .groupBy("doc0", "doc1")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sz0 = sizes.select(F.col("doc").alias("doc0"), F.col("n_sh").alias("n0"))
    sz1 = sizes.select(F.col("doc").alias("doc1"), F.col("n_sh").alias("n1"))
    out = (
        inter.join(sz0, "doc0").join(sz1, "doc1")
        .select(
            "doc0", "doc1",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n0") + F.col("n1") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return schemas.conform(out, schemas.JACCARD_PAIR)


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       n: int = 2, num_hashes: int = 12,
                       seed: int = 42) -> DataFrame:
    """Wide MinHash signatures: (doc, mh_0 .. mh_{num_hashes-1}).

    One hash-aggregation computes all ``num_hashes`` MINs per document in a
    single shuffle of the shingle rows — no per-hash explode (an early
    long-form version multiplied the shuffle volume by num_hashes).
    """
    sh = _shingles(df, id_col, text_col, n, distinct=False)  # MIN is dup-safe
    hashed = sh.select("doc", md5_long("shingle").alias("h"))
    remixes = minhash_exprs(F.col("h"), num_hashes, seed)
    return hashed.groupBy("doc").agg(
        *[F.min(e).alias(f"mh_{i}") for i, e in enumerate(remixes)])


def _check_banding(num_hashes: int, bands: int) -> None:
    """Banding misconfigurations fail SILENTLY without this: bands >
    num_hashes makes rows_per_band 0, so every bucket is the empty
    concat and every doc collides with every other doc — the candidate
    set degenerates to ALL PAIRS; a non-divisible split silently
    discards the trailing signature components, changing the S-curve
    the caller thinks they configured."""
    if bands < 1 or bands > num_hashes:
        raise ValueError(
            f"need 1 <= bands <= num_hashes, got bands={bands}, "
            f"num_hashes={num_hashes}")
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes evenly, got bands={bands}, "
            f"num_hashes={num_hashes}")


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      n: int = 2, num_hashes: int = 12, bands: int = 4,
                      seed: int = 42) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash banding.

    Signatures split into ``bands`` bands of ``num_hashes // bands`` values;
    docs sharing any (band, bucket-key) become a candidate pair. The bucket
    join replaces the O(n^2) comparison with per-bucket mini cross products
    — the textbook LSH trade (prob of candidacy = 1-(1-s^r)^b).
    Output: (doc0, doc1) canonical, distinct.
    """
    banded = _band_buckets(df, id_col, text_col, n, num_hashes, bands, seed)
    keys = _band_keys(num_hashes, bands)
    a = banded.select(F.col("doc").alias("doc0"), *keys)
    b = banded.select(F.col("doc").alias("doc1"), *keys)
    out = (
        a.join(b, keys)
        .where(F.col("doc0") > F.col("doc1"))
        .select("doc0", "doc1")
        .distinct()
    )
    return schemas.conform(out, schemas.CANDIDATE_PAIR)


def minhash_lsh_star_edges(df: DataFrame, id_col: str, text_col: str,
                           n: int = 2, num_hashes: int = 12, bands: int = 4,
                           seed: int = 42) -> DataFrame:
    """Star-contracted MinHash candidate edges for clustering: per (band,
    bucket) with >= 2 docs, one edge doc -> min(doc in bucket) instead of
    the bucket's full pairwise clique.

    Connected components over these edges equal components over
    ``minhash_lsh_pairs`` exactly (every bucket member reaches the bucket
    min, so the bucket stays one component), but edge volume is linear in
    bucket size instead of quadratic — at 100 TB a hot bucket of m docs
    emits m edges, not m^2/2 pairs. Node set is identical too (docs in a
    >=2 bucket == docs in >=1 candidate pair). Output (doc0, doc1),
    doc0 > doc1.
    """
    banded = _band_buckets(df, id_col, text_col, n, num_hashes, bands, seed)
    keys = _band_keys(num_hashes, bands)
    mins = (banded.groupBy(*keys)
            .agg(F.min("doc").alias("mdoc"),
                 F.count(F.lit(1)).alias("sz"))
            .where(F.col("sz") >= 2))
    out = (banded.join(mins, keys)
           .where(F.col("doc") > F.col("mdoc"))
           .select(F.col("doc").alias("doc0"), F.col("mdoc").alias("doc1"))
           .distinct())
    return schemas.conform(out, schemas.CANDIDATE_PAIR)


def group_star_edges(df: DataFrame, id_col: str,
                     group_col: str) -> DataFrame:
    """Star-contracted edges connecting every row that shares a group
    key (same registered domain, same source, same canonical URL —
    any categorical co-membership): per group with >= 2 members, one
    edge member -> min(member), never the full clique.

    The domain-aware leakage-safe split is the motivating use: union
    these with MinHash candidate edges and run connected components,
    and one site's near-identical pages can never straddle train/test
    (the RefinedWeb/Dolma practice). Linear in group size — a 1M-page
    domain emits 1M edges, not 10^12 pairs; one shuffle on the group
    key. NULL group keys connect nothing (unknown domain is not a
    group). Output (doc0, doc1), doc0 > doc1."""
    g = df.where(F.col(group_col).isNotNull()).select(
        F.col(group_col).alias("grp"),
        F.col(id_col).cast("long").alias("doc"))
    mins = (g.groupBy("grp")
            .agg(F.min("doc").alias("mdoc"),
                 F.count(F.lit(1)).alias("sz"))
            .where(F.col("sz") >= 2))
    out = (g.join(mins, "grp")
           .where(F.col("doc") > F.col("mdoc"))
           .select(F.col("doc").alias("doc0"), F.col("mdoc").alias("doc1"))
           .distinct())
    return schemas.conform(out, schemas.CANDIDATE_PAIR)


def simhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       bits: int = 32) -> DataFrame:
    """Per-document SimHash: sign-aggregate each bit of the token hashes,
    weighted by term frequency. Output (doc, simhash).

    All ``bits`` per-bit weighted sums are computed as parallel aggregate
    expressions in ONE groupBy(doc) — no bit explode (which would multiply
    the shuffle volume by ``bits``). ``bits`` <= 60 (md5_long width).
    """
    toks = TX.tokenize(df, id_col, text_col)
    tf = toks.groupBy("doc", "word").agg(F.count(F.lit(1)).alias("tf"))
    hashed = tf.select(F.col("doc").cast("long").alias("doc"), "tf",
                       md5_long("word").alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << b)) != 0, F.col("tf"))
            .otherwise(-F.col("tf"))
        ).alias(f"s_{b}")
        for b in range(bits)
    ]
    wide = hashed.groupBy("doc").agg(*bit_sums)
    simhash = None
    for b in range(bits):
        term = F.when(F.col(f"s_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return wide.select("doc", simhash.cast("long").alias("simhash"))


def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  bits: int = 32, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Baseline implementation compares all pairs (fine at test scale); the
    scale path blocks on signature prefixes (split the 32 bits into
    max_hamming+1 segments — pigeonhole guarantees a matching segment) which
    this function applies automatically: join on exploded segment equality,
    then exact Hamming verify. Output (doc0, doc1, hamming).
    """
    seg_count = max_hamming + 1
    seg_bits = bits // seg_count
    sig = simhash_signatures(df, id_col, text_col, bits)
    # materialized ONCE (r13 optimization, guide §2.4): both sides of the
    # segment equi-join consume the signature table, and the planner
    # BROADCASTS one side — a BroadcastExchange cannot reuse the other
    # side's shuffle subtree, so the tokenize -> weighted-bit-vote
    # signature pipeline ran twice per query (captured before-plan).
    # One narrow (doc, long) row per document.
    sig = sig.localCheckpoint()
    segs = sig.select(
        "doc", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(s).alias("seg"),
                F.shiftright(F.col("simhash"), s * seg_bits)
                .bitwiseAND(F.lit((1 << seg_bits) - 1)).alias("segval"))
            for s in range(seg_count)
        ])).alias("sg"),
    ).select("doc", "simhash", F.col("sg.seg").alias("seg"),
             F.col("sg.segval").alias("segval"))
    a = segs.select(F.col("doc").alias("doc0"), F.col("simhash").alias("h0"),
                    "seg", "segval")
    b = segs.select(F.col("doc").alias("doc1"), F.col("simhash").alias("h1"),
                    "seg", "segval")
    cand = (a.join(b, ["seg", "segval"])
             .where(F.col("doc0") > F.col("doc1"))
             .select("doc0", "doc1", "h0", "h1").distinct())
    ham = cand.select(
        "doc0", "doc1",
        F.bit_count(F.col("h0").bitwiseXOR(F.col("h1"))).alias("hamming"))
    return schemas.conform(
        ham.where(F.col("hamming") <= max_hamming), schemas.HAMMING_PAIR)


def embedding_near_dups(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        threshold: float = 0.95) -> DataFrame:
    """Exact embedding near-duplicates: pairs with cosine >= threshold,
    via the distributed block-pair numpy matmul
    (operators.similarity.blocked_gemm_pairs) — no driver-side collect at
    any corpus size; block count is sized from a measured corpus count so
    per-task memory stays bounded. Exact all-pairs is inherently O(n^2)
    compute: for sub-quadratic *approximate* recall at 100 TB, LSH-bucket
    first (operators.similarity.lsh_candidates) and re-rank, or use
    minhash/simhash. Output (id0, id1, cos_sim) in canonical order.
    """
    from casf_spark.operators.similarity import blocked_gemm_pairs
    return blocked_gemm_pairs(emb, id_col, vec_col, threshold)


def line_dedup_keep(lines: DataFrame) -> DataFrame:
    """Cross-document line-level dedup core (the C4/RefinedWeb "remove
    repeated lines" pass): given (doc, pos, line) rows, keep each distinct
    line's FIRST occurrence only — min (doc, pos) lexicographically.

    One shuffle on the line hash for the argmin, one semi-join back. The
    arg-min is a struct MIN — map-side partial aggregation absorbs the
    duplicate mass (boilerplate lines collapse before the exchange), so the
    shuffle carries ~distinct lines, not all lines.
    """
    hashed = lines.withColumn("lh", md5_long("line"))
    first = (hashed.groupBy("lh")
             .agg(F.min(F.struct("doc", "pos")).alias("f"))
             .select("lh", F.col("f.doc").alias("doc"),
                     F.col("f.pos").alias("pos")))
    return (hashed.join(first, ["lh", "doc", "pos"], "left_semi")
            .select("doc", "pos", "line"))


def collision_clusters(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Key-collision fuzzy clusters (OpenRefine fingerprint method) ->
    (doc, keep_id, cluster_size): documents whose sorted-distinct-token
    keys collide form a cluster; every member maps to the min-id
    representative. Only multi-member clusters are returned.

    Catches reordered / re-punctuated / repetition-padded variants that
    exact fingerprints miss, WITHOUT pairwise comparison: one key-hash
    aggregation (map-side combined), transitive by construction. The
    cheap first rung of the fuzzy-dedup ladder — MinHash/SimHash
    (probabilistic, partial overlap) sit above it.
    """
    keyed = df.select(F.col(id_col).cast("long").alias("doc"),
                      F.md5(TX.collision_key(text_col)).alias("ck"))
    groups = (keyed.groupBy("ck")
              .agg(F.min("doc").alias("keep_id"),
                   F.count(F.lit(1)).alias("cluster_size"),
                   F.collect_list("doc").alias("members"))
              .where(F.col("cluster_size") >= 2))
    return (groups.select("keep_id", "cluster_size",
                          F.explode("members").alias("doc"))
            .select("doc", "keep_id", "cluster_size"))


def incremental_dedup(new: DataFrame, history: DataFrame,
                      id_col: str, text_col: str,
                      n: int = 2, num_hashes: int = 12, bands: int = 4,
                      seed: int = 42) -> DataFrame:
    """Dedup a NEW batch against a historical corpus -> (doc, status) for
    every new doc: ``exact_dup`` (content fingerprint already in history),
    ``near_dup`` (shares a MinHash band bucket with a history doc), or
    ``new``.

    The daily-ingest shape: the new batch is small (a day's crawl), the
    history is the 100 TB corpus. The plan honors that asymmetry — the
    HISTORY side never shuffles at full width:

    - the new batch's fingerprint set and band-bucket set are broadcast;
    - history rows stream past those broadcast filters map-side, so the
      only aggregated residue is history keys that actually collide with
      the batch (∝ duplication, not corpus size);
    - the collision sets broadcast back onto the batch for labeling.

    Same filter-then-reduce contract as ``curation.contamination_flags``.
    Band parameters mirror :func:`minhash_lsh_pairs`; exact-dup precedence
    over near-dup (an exact copy also collides in every band).
    """
    nf = new.select(F.col(id_col).cast("long").alias("doc"),
                    TX.fingerprint(text_col).alias("fp"))
    hf = history.select(TX.fingerprint(text_col).alias("fp"))
    hit_fp = (hf.join(F.broadcast(nf.select("fp").distinct()), "fp")
              .select("fp").distinct())

    keys = _band_keys(num_hashes, bands)
    nb = _band_buckets(new, id_col, text_col, n, num_hashes, bands, seed)
    hb = (_band_buckets(history, id_col, text_col, n, num_hashes, bands,
                        seed)
          .select(*keys))
    hit_bb = (hb.join(F.broadcast(nb.select(*keys).distinct()), keys)
              .select(*keys).distinct())
    near_docs = (nb.join(F.broadcast(hit_bb), keys)
                 .select("doc").distinct()
                 .withColumn("_near", F.lit(True)))

    return (nf.join(F.broadcast(hit_fp.withColumn("_exact", F.lit(True))),
                    "fp", "left")
            .join(F.broadcast(near_docs), "doc", "left")
            .select("doc",
                    F.when(F.col("_exact").isNotNull(), F.lit("exact_dup"))
                     .when(F.col("_near").isNotNull(), F.lit("near_dup"))
                     .otherwise(F.lit("new")).alias("status")))


def _band_keys(num_hashes: int, bands: int) -> list[str]:
    """Join/group key column names of a :func:`_band_buckets` table."""
    return ["band"] + [f"k{r}" for r in range(num_hashes // bands)]


def _band_buckets(df: DataFrame, id_col: str, text_col: str,
                  n: int, num_hashes: int, bands: int,
                  seed: int) -> DataFrame:
    """(doc, band, k0..k{r-1}) MinHash band buckets — the banding half
    of :func:`minhash_lsh_pairs`, shared with :func:`incremental_dedup`
    and the streaming near-dedup index.

    The bucket key is the band's RAW signature longs side by side (r13
    optimization, guide §2.3 narrower keys): joining/grouping on
    fixed-width longs beats building and hashing a ~25-char concat_ws
    string per (doc, band) — measured 2.18 -> 1.14 s best-of-4 for the
    sf0.1 candidate-pair build, identical pairs (longs cannot contain a
    separator, so string equality was exactly componentwise equality).
    """
    _check_banding(num_hashes, bands)
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes, seed)
    return _band_buckets_from_sig(sig, num_hashes, bands)


def _band_buckets_from_sig(sig: DataFrame, num_hashes: int,
                           bands: int) -> DataFrame:
    """Banding explode over an already-built signature table — split out
    (r13 optimization, guide §2.4) so callers that ALSO need the raw
    signatures (:func:`minhash_pair_weights`) can compute the
    tokenize -> shingle -> minhash front half once and feed both the
    banding and the per-doc signature joins from it."""
    _check_banding(num_hashes, bands)
    rows_per_band = num_hashes // bands
    return sig.select(
        "doc",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                *[F.col(f"mh_{b * rows_per_band + r}").alias(f"k{r}")
                  for r in range(rows_per_band)])
            for b in range(bands)
        ])).alias("bb"),
    ).select("doc", F.col("bb.band").alias("band"),
             *[F.col(f"bb.k{r}").alias(f"k{r}")
               for r in range(rows_per_band)])


def _gram_occurrences(df: DataFrame, id_col: str, text_col: str,
                      n: int) -> tuple[DataFrame, DataFrame]:
    """Shared front half of the span family: (tok_df, occ) where tok_df =
    (doc, toks) and occ = (doc, pos, g) hashed word-n-gram occurrences.

    BOTH are materialized once (localCheckpoint — r13 optimization,
    guide §2.4/§5): every consumer reads occ twice (once to find
    duplicated grams, once to join occurrences against them) and tok_df
    again for lengths/text rebuild, so without materialization the
    tokenize -> gram-explode -> md5 pipeline runs 2-3x per query
    (measured at sf0.1: cross_doc_spans 2.96 -> 1.90 s checkpointed).
    At 100 TB the trade is one write of the narrow (doc, pos, g) table
    + token arrays vs two more full tokenize passes over the corpus.
    """
    tok_df = df.select(F.col(id_col).cast("long").alias("doc"),
                       TX.tokens(text_col).alias("toks"))
    tok_df = tok_df.localCheckpoint()
    grams = F.when(
        F.size("toks") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - n),
            lambda i: F.array_join(F.slice("toks", i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = (tok_df.select("doc", F.posexplode(grams).alias("pos", "gram"))
           .select("doc", "pos", md5_long("gram").alias("g")))
    return tok_df, occ.localCheckpoint()


def cross_doc_spans(df: DataFrame, id_col: str, text_col: str,
                    n: int = 4) -> DataFrame:
    """Cross-document duplicated-span coverage ->
    (doc, n_tokens, covered, dup_span_frac): per document, how many of its
    token positions fall inside a word ``n``-gram that also occurs in at
    least one OTHER document.

    The document-level signal behind substring-style dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    docs dominated by corpus-repeated spans are boilerplate/mirror
    content. This computes the exact coverage metric — the union of all
    cross-duplicated n-gram spans — not just a duplicated-gram count, so
    overlapping grams are not double-counted.

    Scale shape: one (gram-hash -> distinct-doc count) aggregation over
    hashed grams (map-side combined; shuffle carries distinct grams), a
    join of gram occurrences against the duplicated-gram set (duplicated
    grams are typically a small fraction — AQE broadcasts the set when it
    fits), then a position explode proportional to DUPLICATED occurrences
    only, reduced per doc. Nothing is quadratic; nothing materializes
    positions for unique grams. The tokenized corpus and the hashed
    occurrences are materialized once (:func:`_gram_occurrences`).
    """
    tok_df, occ = _gram_occurrences(df, id_col, text_col, n)
    dup = (occ.groupBy("g")
           .agg(F.countDistinct("doc").alias("nd"))
           .where(F.col("nd") >= 2)
           .select("g"))
    cov = (occ.join(dup, "g")
           .select("doc", F.explode(
               F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("tp"))
           .groupBy("doc")
           .agg(F.countDistinct("tp").alias("covered")))
    lens = tok_df.select("doc", F.size("toks").cast("long").alias("n_tokens"))
    return (lens.join(cov, "doc", "left")
            .select("doc", "n_tokens",
                    F.coalesce("covered", F.lit(0)).cast("long")
                    .alias("covered"),
                    F.round(F.coalesce("covered", F.lit(0))
                            / F.greatest(F.col("n_tokens"), F.lit(1)), 6)
                    .alias("dup_span_frac")))


def maximal_duplicated_spans(df: DataFrame, id_col: str, text_col: str,
                             n: int = 4) -> DataFrame:
    """VARIABLE-LENGTH maximal duplicated spans — the step from gram
    coverage (:func:`cross_doc_spans`) to actual substrings: per
    document, merge every overlapping-or-adjacent cross-duplicated word
    ``n``-gram interval ``[pos, pos+n-1]`` into its maximal run ->
    one row per span ``(doc, span_start, span_end, span_len,
    span_text)``. A 40-token boilerplate banner shared by two docs shows
    up as ONE 40-token span, not 37 overlapping grams — materially
    closer to Lee et al. 2022 exact substring dedup, and the span text
    is the actual removable string.

    Merge rule: duplicated gram starts sorted per doc; a new span opens
    when ``pos - prev_pos > n`` (intervals of length n overlap or touch
    exactly when starts differ by <= n). Consecutive maximal spans are
    therefore separated by >= 1 genuinely un-duplicated position, and
    every span has length >= n. The union of span positions equals
    cross_doc_spans' ``covered`` count by construction (conservation —
    property-tested).

    Scale shape: the same gram-grain aggregation + duplicated-set join
    as cross_doc_spans (explode proportional to duplicated occurrences
    only), then a lag/cumsum window PARTITIONED BY DOC (per-partition
    sort bounded by doc length) and a (doc, span) aggregation; the
    token arrays join back once on doc for the span text. Nothing
    quadratic, nothing driver-side. The tokenized corpus and the hashed
    occurrences are materialized once (:func:`_gram_occurrences`).
    """
    tok_df, occ = _gram_occurrences(df, id_col, text_col, n)
    dup = (occ.groupBy("g")
           .agg(F.countDistinct("doc").alias("nd"))
           .where(F.col("nd") >= 2)
           .select("g"))
    hits = occ.join(dup, "g").select("doc", "pos")
    w = Window.partitionBy("doc").orderBy("pos")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    brk = F.when(F.col("pos") - F.lag("pos").over(w) > n,
                 F.lit(1)).otherwise(F.lit(0))
    spans = (hits.withColumn("_brk", brk)
             .withColumn("_sid", F.sum("_brk").over(wc))
             .groupBy("doc", "_sid")
             .agg(F.min("pos").cast("long").alias("span_start"),
                  (F.max("pos") + n - 1).cast("long").alias("span_end")))
    ln = (F.col("span_end") - F.col("span_start") + 1).cast("long")
    return (spans.join(tok_df, "doc")
            .select("doc", "span_start", "span_end",
                    ln.alias("span_len"),
                    F.array_join(
                        F.slice("toks", F.col("span_start") + 1,
                                ln.cast("int")), " ").alias("span_text")))


def _union_find_single_task(edges: DataFrame) -> DataFrame:
    """Connected components of a small graph in ONE executor task: classic
    union-find (path compression + union by size) over the edge list via
    mapInPandas on a single partition.

    This is the small-graph fast path of :func:`connected_components` — the
    candidate-pair graph is usually orders of magnitude smaller than the
    corpus that produced it, and below ~10M edges a single union-find task
    (milliseconds of CPU, one Arrow transfer) beats O(log d) rounds of
    distributed label propagation, each a full Spark job. Executor-side, not
    a driver collect. Output: (doc_id, cluster_id = min node of component).
    """
    import pandas as pd

    import numpy as np

    def uf(batches):
        parent: dict = {}
        size: dict = {}
        nodes: set = set()

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for s, d in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
                s, d = int(s), int(d)
                nodes.add(s)
                nodes.add(d)
                rs, rd = find(s), find(d)
                if rs == rd:
                    continue
                if size.get(rs, 1) < size.get(rd, 1):
                    rs, rd = rd, rs
                parent[rd] = rs
                size[rs] = size.get(rs, 1) + size.get(rd, 1)
        roots = {n: find(n) for n in nodes}
        min_label: dict = {}
        for n, r in roots.items():
            if n < min_label.get(r, n + 1):
                min_label[r] = n
        yield pd.DataFrame({
            "doc_id": np.fromiter(roots.keys(), dtype=np.int64,
                                  count=len(roots)),
            "cluster_id": np.fromiter(
                (min_label[r] for r in roots.values()), dtype=np.int64,
                count=len(roots)),
        })

    return (edges.repartition(1)
            .mapInPandas(uf, "doc_id long, cluster_id long"))


def connected_components(pairs: DataFrame, id0: str = "doc0",
                         id1: str = "doc1", max_iter: int = 25,
                         probe_every: int = 2,
                         small_graph_edges: int = 10_000_000) -> DataFrame:
    """Cluster near-duplicate pairs into connected components — the step
    that turns any pair generator above (MinHash, SimHash, Jaccard, winnow)
    into dedup *groups*: transitively, A~B and B~C puts A, B, C in one
    cluster even if A and C never met as a pair.

    Two-tier strategy, picked from the measured edge count (the pair list
    is persisted and counted anyway): graphs at or below
    ``small_graph_edges`` pairs run as a single-task union-find via
    mapInPandas (:func:`_union_find_single_task`) — the dominant real-world
    case, since the candidate graph only contains docs that near-collided.
    Larger graphs use the distributed algorithm below.

    Distributed min-label propagation with pointer jumping: every node
    starts labeled with its own id; each round takes the min over (its
    label, its neighbors' labels, its label's label). The pointer-jumping
    term makes convergence O(log diameter) rounds instead of O(diameter) —
    each round is two shuffle joins + one aggregation, all DataFrame ops
    (the large-star/small-star family of Kiveris et al., SoCC'14, simplified
    to label maps since near-dup graphs have tiny components). The driver
    only evaluates a has-any-row convergence probe per round; all real work
    is executor-side.

    Output: (doc_id, cluster_id) for every doc appearing in ``pairs``,
    where cluster_id = min doc_id of its component. Docs with no pairs are
    absent (they are their own singleton cluster by definition).

    ``probe_every``: run the driver-side has-any-change convergence count
    only every N rounds. Each probe is a full Spark job over the label
    table; on graphs needing ~14 rounds the probes were ~30% of wall time
    at sf0.1. Probing every 2nd round costs at most one extra (cheap,
    already-converged) round in exchange for half the probe jobs.

    Shuffle sizing: the loop's per-round joins are sized to the GRAPH, not
    to the session's corpus-scale ``spark.sql.shuffle.partitions`` — the
    edge list is counted once (it is persisted anyway) and the loop runs at
    ``ceil(n_edges / 2M)`` partitions, restoring the session setting after.
    The near-dup graph is orders of magnitude smaller than the corpus (only
    docs in candidate pairs appear), so corpus-sized shuffles here are pure
    per-round scheduling overhead — measured 2x total wall time at sf0.1
    (32 partitions for a 2.5k-node graph). At 100 TB the same formula
    scales the loop back up to thousands of partitions.
    """
    spark = pairs.sparkSession
    e = (pairs.select(F.col(id0).cast("long").alias("src"),
                      F.col(id1).cast("long").alias("dst"))
         .persist())
    # materialize (under the caller's full-width shuffle settings: the
    # upstream pair generator wants corpus-scale parallelism) and size the
    # strategy to the graph
    n_pairs = e.count()
    if n_pairs <= small_graph_edges:
        # candidate graphs are typically tiny relative to the corpus: one
        # union-find task beats ~log(diameter) full Spark jobs of label
        # propagation (measured 6.2s -> ~1.5s at sf0.1). Union-find needs
        # neither symmetrization nor distinct — raw pairs go straight in,
        # skipping that shuffle entirely.
        out = _union_find_single_task(e)
        out = out.localCheckpoint()  # materialize before releasing e
        e.unpersist()
        return schemas.conform(out, schemas.CLUSTER_MEMBER)
    edges = (e.union(e.select(F.col("dst").alias("src"),
                              F.col("src").alias("dst")))
             .distinct().persist())
    n_edges = edges.count()
    e.unpersist()
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    loop_parts = max(1, min(session_parts, -(-n_edges // 2_000_000)))

    # Graph-sized loop shuffles WITHOUT mutating session state (the
    # round-3 conf flip was correct single-threaded but racy if the
    # session ever runs concurrent queries): every loop-side shuffle is
    # an explicit repartition(loop_parts, key), and the join/agg that
    # follows reuses that hash partitioning — Catalyst adds no further
    # exchange when the child already satisfies the required clustering,
    # whatever spark.sql.shuffle.partitions says. Shuffle count per round
    # is unchanged; only the width shrinks to the graph's size.
    def rp(df, key):
        return df.repartition(loop_parts, key)

    # localCheckpoint (not persist): each round must TRUNCATE lineage, or
    # the logical plan doubles per iteration and the driver OOMs just
    # stringifying it (hit at sf0.1). On a cluster, swap for reliable
    # checkpoints (spark.sparkContext.setCheckpointDir) for fault tolerance.
    # Init folds the first propagation round in for free: label = min(self,
    # neighbors) straight off the edge list (one aggregation, no join).
    edges_by_dst = rp(edges, "dst").localCheckpoint()
    labels = (rp(edges, "src").groupBy("src")
              .agg(F.least(F.col("src"), F.min("dst")).alias("label"))
              .select(F.col("src").alias("node"), "label")
              .localCheckpoint())
    edges.unpersist()
    for it in range(max_iter):
        nbr = (
            edges_by_dst.join(
                rp(labels.select(F.col("node").alias("dst"),
                                 F.col("label").alias("nl")), "dst"), "dst")
            .transform(lambda d: rp(d, "src"))
            .groupBy("src").agg(F.min("nl").alias("nbr_label"))
        )
        prop = (
            rp(labels, "node")
            .join(nbr.withColumnRenamed("src", "node_r"),
                  F.col("node") == F.col("node_r"), "left")
            .select("node",
                    F.least(F.col("label"),
                            F.coalesce("nbr_label", "label"))
                    .alias("label"))
        )
        # exactly ONE pointer jump per round: chaining a second jump
        # (even checkpointed) hits Catalyst stats-estimation overflow /
        # codegen pathology as label entropy collapses — the simple
        # shape is the fast one.
        hop = prop.select(F.col("node").alias("pnode"),
                          F.col("label").alias("plabel"))
        jumped = (
            rp(prop, "label").join(rp(hop, "pnode"),
                                   F.col("label") == F.col("pnode"), "left")
            .select("node",
                    F.least(F.col("label"),
                            F.coalesce("plabel", "label")).alias("label"))
            .localCheckpoint()
        )
        if it % probe_every == probe_every - 1 or it == max_iter - 1:
            changed = (
                jumped.join(labels.withColumnRenamed("label", "old"),
                            "node")
                .where(F.col("label") != F.col("old")).limit(1).count()
            )
            labels = jumped
            if changed == 0:
                break
        else:
            labels = jumped
    else:
        # the for ran out with the last probe still seeing changes: the
        # labeling is NOT a fixpoint, and returning it would silently
        # split real components into several cluster_ids (so
        # keep-representatives would keep several copies of one dup
        # group). Same loud-failure contract as kcore's cap check.
        if changed != 0:
            raise RuntimeError(
                f"connected_components: not converged after {max_iter} "
                f"pointer-jumping rounds (the last probe still saw "
                f"label changes) — raise max_iter; diameter shrinks "
                f"~2x per round, so log2(diameter) rounds suffice")
    out = labels.select(F.col("node").alias("doc_id"),
                        F.col("label").alias("cluster_id"))
    return schemas.conform(out, schemas.CLUSTER_MEMBER)


def winnow_overlap_pairs(df: DataFrame, id_col: str, text_col: str,
                         k: int = 5, w: int = 4,
                         min_shared: int = 2) -> DataFrame:
    """Near-duplicate pairs by shared winnowing fingerprints — the
    local-overlap complement to MinHash (which measures whole-set overlap):
    any two docs sharing a token run of >= k+w-1 are guaranteed to meet
    here (functions.text.winnow_fingerprints), so plagiarism-style partial
    copies surface even when global Jaccard is low.

    Same join shape as the shingle self-join, but over the winnowed ~1/w
    subsample of k-gram hashes — proportionally cheaper shuffle. Output
    (doc0, doc1, n_shared) canonical doc0 > doc1, n_shared >= min_shared.
    """
    from casf_spark.functions.text import winnow_fingerprints

    # NOT materialized: the self-join's two sides are the identical
    # subtree, so AQE shuffle-stage reuse already computes it once —
    # measured at sf0.1 r13, a localCheckpoint here is exactly neutral
    # (1.43 vs 1.44 s) and would only add a materialization at scale
    fp = winnow_fingerprints(df, id_col, text_col, k, w)
    a = fp.select(F.col("doc").alias("doc0"), "fp")
    b = fp.select(F.col("doc").alias("doc1"), "fp")
    out = (
        a.join(b, "fp")
        .where(F.col("doc0") > F.col("doc1"))
        .groupBy("doc0", "doc1")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    return schemas.conform(out, schemas.OVERLAP_PAIR)


def ngram_novelty(df: DataFrame, id_col: str, text_col: str,
                  n: int = 4) -> DataFrame:
    """Per-document n-gram novelty -> (doc, n_grams, novel,
    novelty_frac): the fraction of a document's DISTINCT word n-grams
    whose first corpus occurrence (minimum doc id) is this document.

    The dataset-growth signal: as a crawl snowballs, per-doc novelty
    decays; a novelty-sorted curve shows where additional data stops
    adding information (and which sources are pure re-crawls). Distinct
    from :func:`cross_doc_spans` — that measures how much of a doc is
    covered by spans duplicated ANYWHERE; this credits each shared gram
    to its earliest document.

    Scale shape: grams are md5-hashed to 60-bit longs before any shuffle
    (functions.hashing.md5_long — DuckDB-reproducible), one
    (gram-hash -> min doc) aggregation with map-side combine, then a
    gram-keyed join back to per-doc distinct grams and a per-doc
    reduction. Linear in total distinct (doc, gram) pairs; no quadratic
    path, no broadcast of corpus-sized state.
    """
    tok_df = df.select(F.col(id_col).cast("long").alias("doc"),
                       TX.tokens(text_col).alias("toks"))
    grams = F.when(
        F.size("toks") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - n),
            lambda i: F.array_join(F.slice("toks", i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    dg = (tok_df.select("doc", F.explode(F.array_distinct(grams))
                        .alias("gram"))
          .select("doc", md5_long("gram").alias("gh")))
    # materialized once: the first-occurrence aggregation AND the join
    # side both consume dg — without this the tokenize -> distinct-gram
    # explode -> md5 pipeline runs twice (r13 optimization, guide §2.4)
    dg = dg.localCheckpoint()
    first = dg.groupBy("gh").agg(F.min("doc").alias("first_doc"))
    per = (dg.join(first, "gh")
           .groupBy("doc")
           .agg(F.count(F.lit(1)).cast("long").alias("n_grams"),
                F.sum((F.col("first_doc") == F.col("doc")).cast("long"))
                .cast("long").alias("novel")))
    # left join back onto the full doc spine: docs shorter than n
    # tokens have zero grams and used to VANISH from the report (the
    # explode drops them), silently overstating corpus-level novelty —
    # the cross_doc_spans convention keeps them, novelty_frac NULL
    # (no gram evidence), n_grams = novel = 0
    return (tok_df.select("doc").join(per, "doc", "left")
            .select("doc",
                    F.coalesce("n_grams", F.lit(0)).cast("long")
                    .alias("n_grams"),
                    F.coalesce("novel", F.lit(0)).cast("long")
                    .alias("novel"))
            .withColumn("novelty_frac",
                        F.when(F.col("n_grams") > 0,
                               F.round(F.col("novel")
                                       / F.col("n_grams"), 6))))


#: hard ceiling on the deterministic-quantizer centroid count: the
#: centroid table is a DRIVER-side side input on the gemm path (k × d
#: doubles), the same bounded-side-input contract as IVF codebooks.
MAX_DET_CENTROIDS = 65_536


def _nearest_det_centroids(df: DataFrame, id_col: str, vec_col: str,
                           n_clusters: int,
                           method: str = "auto",
                           n_super: int | None = None) -> DataFrame:
    """Deterministic coarse clustering shared by the SemDeDup variants:
    centroids are the ``n_clusters`` corpus vectors with the smallest
    md5(id) (a deterministic sample — the same quantizer as
    similarity.ivf_topk_det), each vector assigned to its nearest
    centroid by squared L2 rounded to 6dp, ties to the smaller centroid
    id. Returns (id, v, nrm, cluster, cent_sim) where cent_sim is the
    cosine to the assigned centroid rounded to 6dp (SemDeDup's
    keep-ordering key).

    Two physical strategies, identical 6dp-rounded output:

    * ``expr`` — Column expressions: centroids broadcast, argmin as a
      ``min(struct(d, cid, ...))`` aggregation with a partial (map-side)
      combine, so the exchange carries at most one row per id instead of
      the n_clusters x N wide rows a row_number window shuffled.
      Oracle-transparent, but the per-(vector, centroid) distance is an
      interpreted HOF lambda: cost ~ N * k * d with a large constant.
    * ``gemm`` — Arrow-batched mapInPandas: the centroid matrix (k x d,
      a bounded driver-side side input like the IVF codebooks) rides in
      the closure and each batch computes ALL centroid distances with
      one BLAS matmul, argmin in numpy — MAP-ONLY, no exchange at all,
      and ~2 orders of magnitude less per-distance cost. This is the
      100 TB path when n_clusters scales with the corpus (SemDeDup's
      linearity rule): measured at sf1 with k=320, expr assignment was
      ~55 s of the 63 s query; gemm removes it. The paper's own
      production config (50k clusters over 1.1B embeddings) does this
      assignment as batched GEMM on accelerators.

    Both paths round d and cent_sim to 6dp and break ties to the smaller
    centroid id, so they agree cell-for-cell with each other and with
    the DuckDB oracle (the float-sum-order difference between BLAS and
    sequential reduction is ~1e-12 relative, absorbed by the rounding —
    the same argument the oracle-checked blocked-GEMM dedup_embedding
    relies on).

    ``method="auto"`` picks gemm once the centroid count makes the HOF
    constant dominate (k >= 64), expr below it.

    ``two_level`` is the THIRD strategy, and the only approximate one:
    hierarchical routing that cuts assignment FLOPs from N·k to
    ~N·2·sqrt(k) once k is large (at k = 65536 that is 512 distances
    per vector instead of 65536 — the standard coarse-quantizer trick
    when the cluster count scales with a 100 TB corpus). The ``n_super``
    (default ceil(sqrt(k))) centroids FIRST in the md5 order act as
    routers: each centroid joins its nearest router's group, each
    vector routes to its nearest router (N·s distances) and then
    argmins only within that group (N·k/s expected). Every argmin is
    the same rounded-6dp, smaller-id-tie rule, so the partitioning is
    DEFINED (deterministic, oracle-expressible in two chained argmin
    CTEs), just not identical to flat argmin: a vector near a group
    boundary may land in a neighboring cluster. With
    n_super = n_clusters every centroid routes to itself and two_level
    degenerates to exactly the flat assignment (differential test pins
    this identity).
    """
    if n_clusters > MAX_DET_CENTROIDS:
        raise ValueError(
            f"n_clusters={n_clusters} exceeds MAX_DET_CENTROIDS="
            f"{MAX_DET_CENTROIDS}: the centroid table is a driver-side "
            "side input; shard the corpus or use a coarser quantizer")
    if method == "auto":
        method = "gemm" if n_clusters >= 64 else "expr"
    cent = (df.select(F.col(id_col).cast("long").alias("cid"),
                      F.col(vec_col).alias("cemb"),
                      md5_long(F.col(id_col).cast("string")).alias("ck"))
            .orderBy("ck", "cid").limit(n_clusters).drop("ck"))
    base = df.select(F.col(id_col).cast("long").alias("id"),
                     F.col(vec_col).alias("v"))

    if method == "two_level":
        import numpy as np
        import pandas as pd

        s = n_super or int(np.ceil(np.sqrt(n_clusters)))
        # collect WITH the md5 key: the routers are the first s centroids
        # in the same (ck, cid) order that selected the centroids
        cpd = (df.select(F.col(id_col).cast("long").alias("cid"),
                         F.col(vec_col).alias("cemb"),
                         md5_long(F.col(id_col).cast("string")).alias("ck"))
               .orderBy("ck", "cid").limit(n_clusters).toPandas())
        if cpd.empty:
            # an empty corpus used to surface as an undiagnostic numpy
            # AxisError on (S*S).sum(axis=1); refuse loudly (the
            # kcenter/cluster_silhouette convention)
            raise ValueError(
                "_nearest_det_centroids: corpus is empty — no centroids")
        sup = cpd.sort_values(["ck", "cid"]).head(s).sort_values("cid")
        sids = sup["cid"].to_numpy()
        S = np.array([np.asarray(x, dtype=np.float64) for x in sup["cemb"]])
        s_sq = (S * S).sum(axis=1)
        cpd = cpd.sort_values("cid")
        cids = cpd["cid"].to_numpy()
        C = np.array([np.asarray(x, dtype=np.float64) for x in cpd["cemb"]])
        c_sq = (C * C).sum(axis=1)
        c_nrm = np.sqrt(c_sq)
        # centroid -> router group: rounded argmin, tie to smaller sid
        # (routers are sid-sorted so argmin's first-win IS the tie rule)
        dc = np.round(c_sq[:, None] - 2.0 * (C @ S.T) + s_sq[None, :], 6)
        c_group = dc.argmin(axis=1)  # router INDEX per centroid
        members = [np.nonzero(c_group == g)[0] for g in range(len(sids))]
        # vectors route only among routers that HAVE members: a router
        # normally owns at least itself (d=0), but two routers whose
        # rounded distance collides at 0 merge into the smaller sid's
        # group, leaving the larger's empty — routing to it would strand
        # vectors. Restricting the router set keeps the rule total and
        # is what the oracle expresses (vroute joins DISTINCT cgrp sids).
        nonempty = np.array([g for g in range(len(sids))
                             if members[g].size > 0])
        sids, S, s_sq = sids[nonempty], S[nonempty], s_sq[nonempty]
        members = [members[g] for g in nonempty]

        def assign2(batches):
            for pdf in batches:
                V_ = np.array([np.asarray(x, dtype=np.float64)
                               for x in pdf["v"]])
                v_sq = (V_ * V_).sum(axis=1)
                v_nrm = np.sqrt(v_sq)
                # route: rounded argmin over routers, tie smaller sid
                dv = np.round(v_sq[:, None] - 2.0 * (V_ @ S.T)
                              + s_sq[None, :], 6)
                route = dv.argmin(axis=1)
                n = len(V_)
                out_cid = np.empty(n, dtype=np.int64)
                out_sim = np.empty(n, dtype=np.float64)
                for g in range(len(sids)):
                    rows = np.nonzero(route == g)[0]
                    mem = members[g]
                    if rows.size == 0:
                        continue
                    Vg = V_[rows]
                    dots = Vg @ C[mem].T
                    dg = np.round((Vg * Vg).sum(axis=1)[:, None]
                                  - 2.0 * dots + c_sq[mem][None, :], 6)
                    jj = dg.argmin(axis=1)  # mem is cid-sorted: tie OK
                    best = dots[np.arange(rows.size), jj]
                    denom = v_nrm[rows] * c_nrm[mem][jj]
                    sim = np.where(
                        denom > 0.0,
                        np.round(best / np.where(denom > 0.0, denom, 1.0),
                                 6), 0.0)
                    out_cid[rows] = cids[mem][jj]
                    out_sim[rows] = sim
                yield pd.DataFrame({
                    "id": pdf["id"].to_numpy(),
                    "v": list(V_),
                    "nrm": v_nrm,
                    "cluster": out_cid,
                    "cent_sim": out_sim,
                })

        return base.mapInPandas(
            assign2,
            schema=("id long, v array<double>, nrm double, "
                    "cluster long, cent_sim double"))

    if method == "gemm":
        import numpy as np
        import pandas as pd

        cpd = cent.orderBy("cid").toPandas()  # k rows — bounded side input
        if cpd.empty:
            # same loud refusal as the two_level path: the numpy
            # AxisError an empty centroid table produced said nothing
            raise ValueError(
                "_nearest_det_centroids: corpus is empty — no centroids")
        cids = cpd["cid"].to_numpy()
        C = np.array([np.asarray(x, dtype=np.float64)
                      for x in cpd["cemb"]])
        c_sq = (C * C).sum(axis=1)
        c_nrm = np.sqrt(c_sq)

        def assign(batches):
            for pdf in batches:
                V_ = np.array([np.asarray(x, dtype=np.float64)
                               for x in pdf["v"]])
                v_sq = (V_ * V_).sum(axis=1)
                dots = V_ @ C.T
                d = np.round(v_sq[:, None] - 2.0 * dots + c_sq[None, :], 6)
                # argmin returns the FIRST min — centroids are cid-sorted,
                # so rounded-distance ties break to the smaller cid,
                # matching the expr path's min(struct(d, cid)) order
                j = d.argmin(axis=1)
                v_nrm = np.sqrt(v_sq)
                denom = v_nrm * c_nrm[j]
                best = dots[np.arange(len(j)), j]
                sim = np.where(denom > 0.0,
                               np.round(best / np.where(denom > 0.0,
                                                        denom, 1.0), 6),
                               0.0)
                yield pd.DataFrame({
                    "id": pdf["id"].to_numpy(),
                    "v": list(V_),
                    "nrm": v_nrm,
                    "cluster": cids[j],
                    "cent_sim": sim,
                })

        return base.mapInPandas(
            assign,
            schema=("id long, v array<double>, nrm double, "
                    "cluster long, cent_sim double"))

    def sq_dist(a, b):
        return F.aggregate(
            F.zip_with(V.as_double(a), V.as_double(b),
                       lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, x: acc + x)

    return (base.crossJoin(F.broadcast(cent))
            .withColumn("d", F.round(sq_dist("v", "cemb"), 6))
            .groupBy("id")
            .agg(F.min(F.struct("d", "cid", "cemb", "v")).alias("b"))
            .select("id", F.col("b.v").alias("v"),
                    V.norm("b.v").alias("nrm"),
                    F.col("b.cid").alias("cluster"),
                    F.round(V.cosine("b.v", "b.cemb"), 6)
                    .alias("cent_sim")))


def _semdedup_rollup(assigned: DataFrame, threshold: float) -> DataFrame:
    """Shared SemDeDup pair stage: within-cluster keep-order-prior
    neighbor join + per-vector dup rollup. ``assigned`` carries
    (id, v, nrm, cluster, cent_sim) — the per-vector L2 norm is computed
    ONCE there, so each pair evaluates only the O(d) dot product, not
    two redundant norm reductions (measured ~2x on the bench corpus);
    the guarded dot/(n0*n1) is the same expression V.cosine evaluates,
    so the 6dp-rounded values are bit-identical to the oracle's.

    ``assigned`` is materialized ONCE here (r13 optimization, guide
    §2.4): it feeds three consumers — both sides of the within-cluster
    pair join (keyed cluster) and the final per-id left join (keyed id)
    — so the quantizer assignment (centroid argmin over the whole
    corpus, or the Arrow GEMM pass) would otherwise run 2-3x per query;
    the differently-keyed consumers rule out exchange reuse."""
    assigned = assigned.localCheckpoint()
    a = assigned.select("cluster", F.col("id").alias("id0"),
                        F.col("v").alias("v0"), F.col("nrm").alias("n0"),
                        F.col("cent_sim").alias("cs0"))
    b = assigned.select("cluster", F.col("id").alias("id1"),
                        F.col("v").alias("v1"), F.col("nrm").alias("n1"),
                        F.col("cent_sim").alias("cs1"))
    # prior = keep-order-earlier neighbor: (cent_sim, id) ascending
    prior = ((F.col("cs1") < F.col("cs0"))
             | ((F.col("cs1") == F.col("cs0"))
                & (F.col("id1") < F.col("id0"))))
    cos_pair = F.when(
        (F.col("n0") > 0) & (F.col("n1") > 0),
        V.dot("v0", "v1") / (F.col("n0") * F.col("n1"))
    ).otherwise(F.lit(0.0))
    dup_edges = (a.join(b, "cluster")
                 .where(prior)
                 .withColumn("cos_sim", F.round(cos_pair, 6))
                 .where(F.col("cos_sim") >= threshold)
                 .groupBy("id0")
                 .agg(F.count(F.lit(1)).cast("long")
                      .alias("n_dup_neighbors"),
                      F.max("cos_sim").alias("max_prior_sim")))
    return (assigned.join(dup_edges, assigned.id == dup_edges.id0, "left")
            .select(F.col("id").alias("vec_id"),
                    F.col("cluster").cast("long").alias("cluster"),
                    "cent_sim",
                    F.col("n_dup_neighbors").isNotNull()
                    .alias("is_semantic_dup"),
                    F.coalesce("n_dup_neighbors", F.lit(0).cast("long"))
                    .alias("n_dup_neighbors"),
                    F.coalesce("max_prior_sim", F.lit(0.0))
                    .alias("max_prior_sim")))


def semantic_dedup_det(emb: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       n_clusters: int = 8,
                       threshold: float = 0.3,
                       assign: str = "auto",
                       n_super: int | None = None) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540),
    deterministic-quantizer variant: cluster the embedding corpus with a
    coarse quantizer, then prune near-duplicates WITHIN clusters only —
    never all-pairs across the corpus.

    Keep rule (the paper's, in pairwise form): within a cluster, a
    vector is a semantic duplicate iff some same-cluster neighbor has
    cosine >= ``threshold`` AND precedes it in keep order — SemDeDup
    keeps the member with the LOWEST similarity to the cluster centroid
    (it is the least redundant with the cluster's center of mass), so
    keep order is ascending (cent_sim, id). Deterministic and
    engine-independent: every comparison runs on 6dp-rounded values.

    Output: (vec_id, cluster, cent_sim, is_semantic_dup,
    n_dup_neighbors, max_prior_sim) — one row per corpus vector;
    ``n_dup_neighbors`` counts the keep-order-prior neighbors within
    threshold and ``max_prior_sim`` is the strongest of them (0.0 when
    none, so the column is never null).

    Scale shape (100 TB bar): centroids broadcast (n_clusters rows);
    ONE corpus shuffle for cluster assignment; the within-cluster pair
    join shuffles on cluster id and is quadratic only in bucket size —
    size ``n_clusters`` ~ N / target_bucket so buckets stay bounded and
    total pair work is N * bucket, linear in the corpus (the same
    bucket-bounding argument as MinHash banding).

    ``assign`` selects the centroid-assignment strategy (see
    :func:`_nearest_det_centroids`): ``expr`` Column expressions,
    ``gemm`` Arrow-batched BLAS (the large-k scale path), ``two_level``
    hierarchical routing (approximate, ~N·2·sqrt(k) FLOPs), ``auto`` by
    centroid count. expr/gemm produce identical 6dp-rounded output;
    two_level is its own defined partitioning.
    """
    assigned = _nearest_det_centroids(emb, id_col, vec_col, n_clusters,
                                      method=assign, n_super=n_super)
    return _semdedup_rollup(assigned, threshold)


def remove_duplicated_spans(df: DataFrame, id_col: str, text_col: str,
                            n: int = 4) -> DataFrame:
    """Exact substring dedup with REMOVAL (the cleanup half of Lee et al.
    2022 — :func:`cross_doc_spans` is the matching detection half): every
    token position covered by a word ``n``-gram that also occurs in
    another document is dropped, EXCEPT in the gram's first-occurrence
    document (min doc id), which keeps its text verbatim. First-occurrence
    -wins keeps exactly one copy of every duplicated span in the corpus
    instead of deleting boilerplate everywhere.

    Output: (doc, n_tokens, n_removed, removed_frac, cleaned_text) — one
    row per input document; documents shorter than ``n`` tokens pass
    through unchanged.

    Scale shape: the same gram-grain aggregation + duplicated-set join as
    cross_doc_spans (position explode proportional to duplicated
    occurrences only), one doc-grain rollup collecting each doc's drop
    positions (bounded by its own length), then a map-only rebuild:
    ``array_except`` over the position sequence is linear per doc (hash
    set under the hood), and ``element_at`` is O(1) per kept token.
    Nothing quadratic, nothing driver-side. The tokenized corpus and the
    hashed occurrences are materialized once (:func:`_gram_occurrences`).
    """
    tok_df, occ = _gram_occurrences(df, id_col, text_col, n)
    dup = (occ.groupBy("g")
           .agg(F.countDistinct("doc").alias("nd"),
                F.min("doc").alias("first_doc"))
           .where(F.col("nd") >= 2)
           .select("g", "first_doc"))
    drops = (occ.join(dup, "g")
             .where(F.col("doc") != F.col("first_doc"))
             .select("doc", F.explode(
                 F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("tp"))
             .groupBy("doc")
             .agg(F.collect_set("tp").alias("drop_pos")))
    # zero-token docs (empty/punctuation-only/CJK-only text under the
    # default tokenizer) PASS THROUGH with n_tokens=0, removed_frac=0,
    # cleaned_text='' — the contract is one output row per input row;
    # the old `where(size > 0)` silently DELETED them. The when-guards
    # keep sequence() off a (0, -1) range and the division off zero.
    keep = F.when(
        F.size("toks") > 0,
        F.array_except(
            F.sequence(F.lit(0), F.size("toks") - 1),
            F.coalesce("drop_pos", F.array().cast("array<int>")))
    ).otherwise(F.array().cast("array<int>"))
    cleaned = F.transform(keep, lambda i: F.element_at("toks", i + 1))
    return (tok_df
            .join(drops, "doc", "left")
            .select("doc",
                    F.size("toks").cast("long").alias("n_tokens"),
                    F.coalesce(F.size("drop_pos"), F.lit(0)).cast("long")
                    .alias("n_removed"),
                    F.round(F.coalesce(F.size("drop_pos"), F.lit(0))
                            / F.greatest(F.size("toks"), F.lit(1)), 6)
                    .alias("removed_frac"),
                    F.array_join(cleaned, " ").alias("cleaned_text")))


def keep_cluster_representative(members: DataFrame, quality: DataFrame,
                                quality_col: str, id_col: str = "doc_id",
                                cluster_col: str = "cluster_id"
                                ) -> DataFrame:
    """Representative selection after clustering — the step that turns
    near-dup cluster membership (:func:`connected_components`) into a
    keep/drop decision: within each cluster, rank members by
    (``quality_col`` desc, id asc) and keep rank 1. The standard
    pipeline follow-up to MinHash clustering: drop every duplicate but
    retain the highest-quality copy, not an arbitrary one.

    Output: (id, cluster, quality, keep) — one row per cluster member.
    Members with no row in ``quality`` are NOT dropped: they stay in the
    output with NULL quality, ranked after every scored member (a
    silently-vanished member would neither be kept nor be marked a
    duplicate, so a downstream "drop the keep=False rows" pass would let
    the near-dup survive dedup unnoticed).

    Scale shape: one equi-join (members ⋈ quality on id) and one window
    partitioned by cluster. Cluster sizes are bounded by the candidate
    generator (banding buckets / star components), so the window's
    per-partition sort is small everywhere; no global sort, no skew
    hotspot beyond what the clustering itself produced.
    """
    w = (Window.partitionBy(cluster_col)
         .orderBy(F.col(quality_col).desc_nulls_last(), F.col(id_col)))
    return (members.join(quality, id_col, "left")
            .withColumn("_rn", F.row_number().over(w))
            .select(id_col, cluster_col, quality_col,
                    (F.col("_rn") == 1).alias("keep")))


def containment_pairs(df: DataFrame, id_col: str, text_col: str,
                      n: int = 3, threshold: float = 0.8) -> DataFrame:
    """Asymmetric shingle containment C(src→dst) = |src ∩ dst| / |src| —
    the near-dup family member symmetric Jaccard misses: a short
    document quoted or excerpted inside a long one has containment ≈ 1
    while Jaccard stays tiny (the union is dominated by the long doc).
    Broder's containment measure, the standard complement to resemblance.

    Output: (src_doc, dst_doc, n_common, containment) — DIRECTED pairs,
    both directions when both clear ``threshold``; src_doc != dst_doc.

    Scale shape: identical to :func:`ngram_jaccard_pairs` — shingle
    self-join on 60-bit hashed shingles (pairs form only where sets
    intersect), per-doc size table joined back. Hot boilerplate shingles
    skew exactly the same way and take the same mitigations.
    """
    sh = _shingles(df, id_col, text_col, n).select(
        "doc", md5_long("shingle").alias("sh"))
    # materialized ONCE (r13 optimization, guide §2.4): same
    # differently-keyed consumers as ngram_jaccard_pairs — the size agg
    # (doc) vs the intersection self-join (sh).
    sh = sh.localCheckpoint()
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc").alias("src_doc"), "sh")
    b = sh.select(F.col("doc").alias("dst_doc"), "sh")
    inter = (a.join(b, "sh")
             .where(F.col("src_doc") != F.col("dst_doc"))
             .groupBy("src_doc", "dst_doc")
             .agg(F.count(F.lit(1)).alias("n_common")))
    src_sz = sizes.select(F.col("doc").alias("src_doc"),
                          F.col("n_sh").alias("n_src"))
    return (inter.join(src_sz, "src_doc")
            .select("src_doc", "dst_doc",
                    F.col("n_common").cast("long").alias("n_common"),
                    F.round(F.col("n_common").cast("double")
                            / F.col("n_src"), 6).alias("containment"))
            .where(F.col("containment") >= threshold))


def pagerank_iterations(pairs: DataFrame, n_iter: int = 3,
                        damping: float = 0.85,
                        id0: str = "doc0", id1: str = "doc1") -> DataFrame:
    """Fixed-iteration PageRank over an undirected pair graph — document
    centrality within the near-dup candidate graph: high-rank nodes are
    the "hub" documents many near-dups orbit (template pages, mirrored
    boilerplate), the ones whose removal or canonical-choice matters
    most. Iterative algorithms are exactly what a Spark-first engine
    must express WITHOUT a graph framework: each iteration is one
    edge⋈rank join + one destination-keyed aggregation — n_iter shuffles
    on the same key, AQE-coalesced, no driver-side loop over DATA (the
    Python loop is over ITERATIONS, a bounded constant).

    Determinism/oracle contract: the whole recurrence runs in INTEGER
    micro-units (rank_u = rank * 1e6 as BIGINT, per-edge contributions
    floor(rank_u/degree + 0.5)) — an integer SUM is order-independent,
    so the two engines' different aggregation orders can NEVER drift,
    unlike a float sum of rounded terms (a 6dp-rounding variant
    hash-matched at sf0.01 but diverged by 1e-6 on one hub at sf0.1 —
    exactly the boundary class integer fixed-point eliminates). The
    only float ops left are single multiplications/divisions of
    integer-valued doubles, which are IEEE-identical across engines. A
    fixed n_iter (not convergence-tested) keeps the twin replayable as
    n_iter chained CTEs. Uniform init 1/N over the nodes appearing in
    ``pairs``; undirected = both edge orientations; isolated nodes
    don't appear (degree >= 1 by construction, so there are no
    dangling-mass corrections).

    Output: (doc_id, degree, rank) — rank after ``n_iter`` iterations,
    micro-units / 1e6 (exact 6dp).
    """
    edges = (pairs.select(F.col(id0).cast("long").alias("src"),
                          F.col(id1).cast("long").alias("dst"))
             .unionByName(
                 pairs.select(F.col(id1).cast("long").alias("src"),
                              F.col(id0).cast("long").alias("dst"))))
    # Materialize the edge list ONCE: every iteration references edges
    # (and deg/nodes derive from it), so without truncation the upstream
    # pair-generation pipeline is re-evaluated per lineage branch —
    # measured 21.7 s -> ~2 s at sf0.01 for the MinHash graph. The same
    # cost argument holds on a cluster: an iterative algorithm's input
    # graph is computed once and iterated over, never re-derived.
    edges = edges.localCheckpoint()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    nodes = deg.select(F.col("src").alias("doc_id"), "degree")
    n_total = nodes.agg(F.count(F.lit(1)).alias("n"))
    scale_u = 1_000_000
    ranks = (nodes.crossJoin(F.broadcast(n_total))
             .select("doc_id",
                     F.floor(F.lit(float(scale_u)) / F.col("n") + 0.5)
                     .cast("long").alias("rank_u")))
    # both engines evaluate these literals from the identical python
    # double, so the single float multiply/divide per term is bit-equal
    teleport_u = (1.0 - damping) * scale_u
    base_u = F.floor(F.lit(teleport_u) / F.col("n") + 0.5).cast("long")
    for i in range(n_iter):
        contrib = (edges.join(ranks, edges.src == ranks.doc_id)
                   .join(deg, "src")
                   .groupBy("dst")
                   .agg(F.sum(F.floor(F.col("rank_u") / F.col("degree")
                                      + 0.5).cast("long"))
                        .alias("inflow_u")))
        ranks = (nodes.join(contrib, nodes.doc_id == contrib.dst, "left")
                 .crossJoin(F.broadcast(n_total))
                 .select("doc_id",
                         (base_u
                          + F.floor(F.lit(damping)
                                    * F.coalesce("inflow_u", F.lit(0))
                                    + 0.5).cast("long"))
                         .alias("rank_u")))
        if i < n_iter - 1:
            # truncate between iterations — the textbook iterative-Spark
            # rule: without it each iteration's plan nests the previous
            # one and optimizer + re-evaluation cost compounds
            ranks = ranks.localCheckpoint()
    return (nodes.join(ranks, "doc_id")
            .select("doc_id", F.col("degree").cast("long").alias("degree"),
                    F.round(F.col("rank_u") / F.lit(float(scale_u)), 6)
                    .alias("rank")))


def label_propagation(pairs: DataFrame, seeds: DataFrame,
                      n_iter: int = 3,
                      id0: str = "doc0", id1: str = "doc1",
                      weight_col: str | None = None,
                      tol_u: int | None = None) -> DataFrame:
    """Label propagation over an undirected pair graph — spread sparse
    seed quality labels across the near-dup candidate graph (the
    graph-assisted curation capstone: a handful of judged documents
    label their whole mirror/template neighborhoods, so quality
    decisions reach documents no classifier ever scored).

    ``seeds`` carries (doc_id, label_u) with label_u an INTEGER
    micro-unit score (quality * 1e6 as BIGINT). Seeds are CLAMPED —
    their score never moves; every other node starts at the neutral
    prior 0.5 (500_000 u) and each iteration becomes the weighted mean
    of its neighbors' previous scores:
    floor(SUM(w * neighbor_u) / SUM(w) + 0.5). Without ``weight_col``
    every edge weighs 1, so SUM(w) is the degree (>= 1) and the mean is
    the plain neighborhood mean. ``weight_col`` must be an integer
    column of non-negative weights (:func:`minhash_pair_weights` counts
    agreeing signature components): a non-integral dtype raises
    ``ValueError`` up front, a NULL or negative weight fails the edge
    materialization (a NULL would otherwise drop out of SUM(w) while
    still counting in ``degree``), and a node whose incident weights are
    all zero keeps the neutral prior. The recurrence runs entirely in integer
    micro-units for the same reason pagerank_iterations does (round-7
    lesson): integer SUMs are order-independent, so the engines'
    different aggregation orders can never drift; the one float op per
    term (BIGINT/BIGINT division) is IEEE-identical across engines on
    identical operands.

    ``n_iter`` iterations run. With ``tol_u`` set, ``n_iter`` only
    bounds the loop: it stops after the first iteration whose largest
    per-node movement is below ``tol_u`` micro-units. ``tol_u`` is an
    INTEGER so the stopping rule itself is cross-engine exact — BIGINT
    deltas and an integer MAX are order-independent, so two engines
    never disagree on WHICH iteration converged (the twin unrolls
    ``n_iter`` chained CTEs and picks the first one below the bound).

    Same Spark-first iterative shape as PageRank: per iteration one
    edge⋈score join + one destination-keyed integer aggregation,
    localCheckpoint truncation between iterations, the Python loop only
    over the bounded iteration count. With ``tol_u`` the previous score
    rides the update join, so the per-node delta is computed inside the
    same checkpointed pass and the check is one 1-row integer MAX job
    per iteration (a bounded scalar, never row data). Node set = nodes
    appearing in ``pairs`` (degree >= 1 by construction); seeds outside
    the graph contribute nothing.

    Output: (doc_id, degree, is_seed, score, n_iters) — ``degree`` the
    plain edge count, score micro-units / 1e6 (exact 6dp), ``n_iters``
    the iterations actually run (a constant column, so an early stop is
    part of the checked contract).
    """
    if n_iter < 1 or (tol_u is not None and tol_u < 0):
        raise ValueError(
            f"label_propagation: need n_iter >= 1 and tol_u >= 0, "
            f"got n_iter={n_iter}, tol_u={tol_u}")
    if weight_col is None:
        w = F.lit(1).cast("long")
    else:
        dtype = pairs.schema[weight_col].dataType
        if not isinstance(dtype, T.IntegralType):
            raise ValueError(
                f"label_propagation: weight column {weight_col!r} is "
                f"{dtype.simpleString()}, not an integer type — the "
                f"recurrence is integer, so cast or scale it first")
        wc = F.col(weight_col).cast("long")
        w = F.when(wc.isNull() | (wc < 0), F.raise_error(F.concat(
            F.lit(f"label_propagation: NULL or negative weight in "
                  f"{weight_col!r}: "),
            F.coalesce(wc.cast("string"), F.lit("NULL"))))).otherwise(wc)
    scale_u = 1_000_000
    neutral_u = scale_u // 2
    edges = (pairs.select(F.col(id0).cast("long").alias("src"),
                          F.col(id1).cast("long").alias("dst"),
                          w.alias("w"))
             .unionByName(
                 pairs.select(F.col(id1).cast("long").alias("src"),
                              F.col(id0).cast("long").alias("dst"),
                              w.alias("w"))))
    edges = edges.localCheckpoint()  # computed once, iterated over
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree"),
                                   F.sum("w").cast("long").alias("wdeg"))
    # one label per seed by contract — a duplicate doc_id would multiply
    # that node's row in `nodes`, double-counting its score into every
    # neighbor's SUM (degree unchanged, so means go wrong) and
    # duplicating output rows; deduped with MIN (not dropDuplicates,
    # whose survivor is plan-order-dependent) so conflicting labels
    # resolve the same way on every engine and every run
    sd = (seeds.select(F.col("doc_id").cast("long").alias("doc_id"),
                       F.col("label_u").cast("long").alias("label_u"))
          .groupBy("doc_id").agg(F.min("label_u").alias("label_u")))
    nodes = (deg.select(F.col("src").alias("doc_id"), "degree", "wdeg")
             .join(sd, "doc_id", "left"))
    nodes = nodes.localCheckpoint()  # seeds + degrees reused every pass
    scores = nodes.select(
        "doc_id",
        F.coalesce("label_u", F.lit(neutral_u)).cast("long")
        .alias("score_u"))
    new_u = (F.when(F.col("label_u").isNotNull(), F.col("label_u"))
             .when(F.col("wdeg") > 0,
                   F.floor(F.coalesce("sum_u", F.lit(0))
                           / F.col("wdeg") + 0.5).cast("long"))
             .otherwise(F.lit(neutral_u)))
    n_iters = n_iter
    for i in range(1, n_iter + 1):
        inflow = (edges.join(scores, edges.src == scores.doc_id)
                  .groupBy("dst")
                  .agg(F.sum(F.col("w") * F.col("score_u")).cast("long")
                       .alias("sum_u")))
        step = nodes.join(inflow, nodes.doc_id == inflow.dst, "left")
        if tol_u is None:
            scores = step.select("doc_id", new_u.alias("score_u"))
            if i < n_iter:
                scores = scores.localCheckpoint()
            continue
        # carry the PREVIOUS score through the update join so the
        # convergence check needs no second keyed join: d_max is a bare
        # integer MAX over the already-checkpointed table
        prev = scores.select("doc_id", F.col("score_u").alias("prev_u"))
        step = (step.join(prev, "doc_id")
                .select("doc_id", new_u.alias("score_u"),
                        F.abs(new_u - F.col("prev_u")).alias("delta_u"))
                .localCheckpoint())
        d_max = step.agg(F.max("delta_u").alias("d")).collect()[0].d
        scores = step.select("doc_id", "score_u")
        if d_max is None or d_max < tol_u:
            n_iters = i
            break
    return (nodes.join(scores, "doc_id")
            .select("doc_id",
                    F.col("degree").cast("long").alias("degree"),
                    F.col("label_u").isNotNull().alias("is_seed"),
                    F.round(F.col("score_u") / F.lit(float(scale_u)), 6)
                    .alias("score"),
                    F.lit(n_iters).cast("long").alias("n_iters")))


def minhash_pair_weights(df: DataFrame, id_col: str, text_col: str,
                         n: int = 2, num_hashes: int = 12,
                         bands: int = 4, seed: int = 42) -> DataFrame:
    """MinHash candidate pairs WITH an integer similarity weight ->
    (doc0, doc1, w): w = the number of agreeing signature components
    (0..num_hashes; >= num_hashes/bands by construction, since
    candidacy requires one full band to agree). w/num_hashes is the
    standard MinHash Jaccard estimate — kept as the raw INTEGER count
    so every downstream use (weighted propagation, thresholding) is
    engine-exact with no float anywhere.

    Scale shape: the banding join is :func:`minhash_lsh_pairs`
    unchanged; the weight costs two signature joins keyed by doc at
    CANDIDATE grain. The tokenize -> shingle -> minhash front half is
    computed ONCE (r13 optimization, guide §2.4): the checkpointed
    signature table feeds the banding explode AND both per-doc weight
    joins — it previously ran twice (once inside the banding pipeline,
    once for the weights).
    """
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes, seed)
    sig = sig.localCheckpoint()  # one signature pass feeds all consumers
    banded = _band_buckets_from_sig(sig, num_hashes, bands)
    keys = _band_keys(num_hashes, bands)
    a = banded.select(F.col("doc").alias("doc0"), *keys)
    b = banded.select(F.col("doc").alias("doc1"), *keys)
    pairs = (a.join(b, keys)
             .where(F.col("doc0") > F.col("doc1"))
             .select("doc0", "doc1")
             .distinct())
    s0 = sig.select(F.col("doc").alias("doc0"),
                    *[F.col(f"mh_{i}").alias(f"a_{i}")
                      for i in range(num_hashes)])
    s1 = sig.select(F.col("doc").alias("doc1"),
                    *[F.col(f"mh_{i}").alias(f"b_{i}")
                      for i in range(num_hashes)])
    w = sum((F.col(f"a_{i}") == F.col(f"b_{i}")).cast("long")
            for i in range(num_hashes))
    return (pairs.join(s0, "doc0").join(s1, "doc1")
            .select("doc0", "doc1", w.alias("w")))


def first_stage_attribution(df: DataFrame, stage_cols: list[str],
                            out_col: str = "first_stage",
                            kept_label: str = "kept") -> DataFrame:
    """Waterfall attribution combinator: given one boolean flag column
    per dedup stage (in LADDER ORDER — the order the pipeline runs
    them), label each row with the FIRST stage whose rule caught it,
    or ``kept_label`` when none did — the standard pipeline-debugging
    artifact ("how much does each stage remove, net of the stages
    before it"). Pure expression work; conservation (kept + removed ==
    corpus) holds by construction."""
    expr = None
    for c in stage_cols:
        cond = F.coalesce(F.col(c), F.lit(False))
        expr = F.when(cond, F.lit(c)) if expr is None else \
            expr.when(cond, F.lit(c))
    expr = F.lit(kept_label) if expr is None else \
        expr.otherwise(F.lit(kept_label))
    return df.withColumn(out_col, expr)


def minhash_eval_report(df: DataFrame, id_col: str, text_col: str,
                        n: int = 2, num_hashes: int = 12, bands: int = 4,
                        threshold: float = 0.5,
                        sample_size: int = 100,
                        seed: int = 42) -> DataFrame:
    """Measured MinHash-banding quality — recall/precision of the
    candidate generator against EXACT n-gram Jaccard ground truth on a
    bounded deterministic sample (the ``sample_size`` docs with the
    smallest md5(id), the same sampling idiom as the det quantizers).
    This is how a dedup configuration is validated before a 100 TB run:
    the analytic S-curve (:func:`minhash_band_plan
    <casf_spark.functions.hashing.minhash_band_plan>`) predicts, this
    measures.

    Ground truth is all-pairs WITHIN THE SAMPLE only — O(sample²)
    bounded work, never corpus-scale — and the candidate set is the
    banding pairs over the same sample with the same shingle size.

    Output (one row): n_truth (pairs with exact Jaccard >= threshold),
    n_detected (banding candidates), n_hit (their intersection),
    recall = hit/truth and candidate_precision = hit/detected (both 1.0
    when their denominator is 0 — vacuously perfect), rounded 6dp.
    """
    sample = (df.select(F.col(id_col).cast("long").alias("doc_id"),
                        F.col(text_col).alias("text"),
                        md5_long(F.col(id_col).cast("string")).alias("k"))
              .orderBy("k", "doc_id").limit(sample_size).drop("k"))
    truth = (ngram_jaccard_pairs(sample, "doc_id", "text", n=n,
                                 threshold=threshold)
             .select("doc0", "doc1", F.lit(1).alias("in_truth")))
    cand = (minhash_lsh_pairs(sample, "doc_id", "text", n=n,
                              num_hashes=num_hashes, bands=bands,
                              seed=seed)
            .select("doc0", "doc1", F.lit(1).alias("in_cand")))
    j = truth.join(cand, ["doc0", "doc1"], "full")
    agg = j.agg(
        F.coalesce(F.sum("in_truth"), F.lit(0)).cast("long")
        .alias("n_truth"),
        F.coalesce(F.sum("in_cand"), F.lit(0)).cast("long")
        .alias("n_detected"),
        F.coalesce(F.sum(F.col("in_truth") * F.col("in_cand")), F.lit(0))
        .cast("long").alias("n_hit"))
    return agg.select(
        "n_truth", "n_detected", "n_hit",
        F.round(F.when(F.col("n_truth") > 0,
                       F.col("n_hit") / F.col("n_truth"))
                .otherwise(F.lit(1.0)), 6).alias("recall"),
        F.round(F.when(F.col("n_detected") > 0,
                       F.col("n_hit") / F.col("n_detected"))
                .otherwise(F.lit(1.0)), 6).alias("candidate_precision"))


def kcore(pairs: DataFrame, k: int = 2, id0: str = "doc0",
          id1: str = "doc1", max_iter: int = 20) -> DataFrame:
    """k-core of the near-dup candidate graph (iterative peeling:
    repeatedly drop nodes with fewer than ``k`` surviving neighbors) —
    the dense-neighborhood signal a curation pass reads to find
    template clusters and SEO farms: a doc with >= k near-dup
    neighbors THAT THEMSELVES sit in dense neighborhoods is structural
    duplication, not chance collision. Output: one row per core member
    (doc_id, core_deg, n_rounds) — core_deg is the degree WITHIN the
    final core; n_rounds (same on every row — label_propagation's
    n_iters convention) counts the peel rounds that removed anything.

    Determinism: pure integer degree thresholding — no floats anywhere.
    Scale shape: per round one semi-join of the edge list against the
    surviving-node set on EACH endpoint plus a node-grain count
    aggregation (graph-sized shuffles, never corpus-sized); the
    surviving set is localCheckpointed between rounds so plan depth
    stays flat (the iterative-graph discipline shared with
    connected_components / label propagation). Peeling converges in
    O(graph diameter) rounds — measured 2 (sf0.01) / 4 (sf0.1) on the
    MinHash candidate graph.

    Non-convergence is LOUD: if ``max_iter`` rounds exhaust while the
    alive set is still shrinking, the table is not a fixpoint — a
    silently-returned partial peel would be a wrong k-core — so this
    raises instead.
    """
    if k <= 0:
        raise ValueError(f"kcore: k must be > 0, got {k}")
    e = pairs.select(F.col(id0).alias("src"), F.col(id1).alias("dst"))
    sym = e.unionByName(e.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst"))).distinct() \
        .localCheckpoint()
    alive = sym.select(F.col("src").alias("node")).distinct() \
        .localCheckpoint()
    n_alive = alive.count()
    rounds = 0
    deg = None
    for _ in range(max_iter):
        a_src = alive.select(F.col("node").alias("src"))
        a_dst = alive.select(F.col("node").alias("dst"))
        deg = (sym.join(a_src, "src", "left_semi")
               .join(a_dst, "dst", "left_semi")
               .groupBy("src")
               .agg(F.count(F.lit(1)).cast("long").alias("core_deg")))
        nxt = deg.where(F.col("core_deg") >= k) \
            .select(F.col("src").alias("node")).localCheckpoint()
        n_nxt = nxt.count()
        if n_nxt == n_alive:
            break
        alive, n_alive = nxt, n_nxt
        rounds += 1
        if n_alive == 0:   # empty set is trivially a fixpoint
            break
    else:
        raise ValueError(
            f"kcore: alive set still shrinking after max_iter="
            f"{max_iter} peel rounds ({n_alive} nodes alive) — the "
            f"result would not be a fixpoint; raise max_iter")
    if deg is None or n_alive == 0:
        empty = pairs.sparkSession.createDataFrame(
            [], "doc_id long, core_deg long, n_rounds long")
        return empty
    out = (deg.where(F.col("core_deg") >= k)
           .select(F.col("src").cast("long").alias("doc_id"),
                   "core_deg"))
    return out.withColumn("n_rounds", F.lit(rounds).cast("long"))
