"""Column profiling — ANALYZE-style statistics as a long-form DataFrame.

Pipelines audit inputs before burning cluster-days on them: null rates,
cardinalities, and ranges catch schema drift, key collisions, and
truncated loads early. ``profile`` computes every column's stats in ONE
aggregation pass (all columns' aggregates evaluate in the same partial/
final hash-agg — a single scan, a single one-row exchange), then unpivots
to long form driver-side (stack over a one-row frame — no data shuffle).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Per-column stats: (col_name, n_rows, n_null, n_distinct, min_value,
    max_value) — min/max rendered as strings so heterogeneous column types
    share one output schema. Exact distinct counts (use approx_count_
    distinct at 100 TB where +-2% is acceptable and the exact count's
    per-column shuffle is not).
    """
    cols = list(cols) if cols is not None else list(df.columns)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        col = F.col(c)
        aggs += [
            F.count(F.when(col.isNull(), 1)).alias(f"__null_{c}"),
            F.count_distinct(col).alias(f"__nd_{c}"),
            F.min(col).cast("string").alias(f"__min_{c}"),
            F.max(col).cast("string").alias(f"__max_{c}"),
        ]
    one = df.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("__n").alias("n_rows"),
            F.col(f"__null_{c}").alias("n_null"),
            F.col(f"__nd_{c}").alias("n_distinct"),
            F.col(f"__min_{c}").alias("min_value"),
            F.col(f"__max_{c}").alias("max_value"),
        )
        for c in cols
    ]
    return (one.select(F.explode(F.array(*per_col)).alias("s"))
            .select("s.col_name", "s.n_rows", "s.n_null", "s.n_distinct",
                    "s.min_value", "s.max_value"))


def materialize_with_metrics(df: DataFrame, metrics: dict[str, "F.Column"],
                             path: str | None = None,
                             fmt: str = "parquet") -> dict:
    """Write (or noop-materialize) ``df`` while collecting aggregate
    data-quality metrics IN THE SAME JOB via the Observation API — the
    audit counters ride along as accumulator-style observed aggregates,
    so a 100 TB write does not pay a second full scan just to know its
    row count / null rate / value bounds.

    ``metrics`` maps names to aggregate Columns (e.g. ``F.count(F.lit(1))``,
    ``F.sum(F.col("x").isNull().cast("long"))``). Returns the observed
    values as a dict.

    ``fmt`` applies only when ``path`` is given; a ``path=None`` noop
    materialization has no output format by definition. Raises on an
    empty metrics dict (the Observation API needs at least one aggregate,
    and a metric-less call is almost certainly a bug at the call site).
    """
    from pyspark.sql import Observation

    if not metrics:
        raise ValueError("materialize_with_metrics: no metrics declared")
    obs = Observation()
    named = [m.alias(k) for k, m in metrics.items()]
    observed = df.observe(obs, named[0], *named[1:])
    w = observed.write.mode("overwrite")
    if path is None:
        w.format("noop").save()
    else:
        w.format(fmt).save(path)
    return obs.get


def cluster_term_profile(docs: DataFrame, emb: DataFrame,
                         n_clusters: int = 8, top_k: int = 5,
                         id_col: str = "doc_id", text_col: str = "text",
                         vec_id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Topic profile of embedding clusters — the corpus-exploration
    report every curation run starts from ("what IS in each semantic
    bucket?"): vectors are assigned to deterministic md5-sample
    centroids (the same quantizer as SemDeDup/IVF —
    dedup._nearest_det_centroids, rounded-argmin, smaller-id ties),
    joined to their documents, and each cluster is labeled with its
    top-``top_k`` non-stopword terms.

    Output: (cluster, n_docs, rank, term, cnt) — one row per cluster per
    labeled term, rank by (cnt desc, term asc).

    Scale shape: the assignment is map-only (bounded centroid side
    input); the doc join is a plain keyed join; term counting is one
    map-combined (cluster, term) aggregation; the top-k cut is a window
    PARTITIONED BY cluster over distinct terms — per-cluster work, never
    a global sort. At 100 TB swap the exact per-cluster count for a
    count-min/heavy-hitters sketch per cluster; the report shape is
    unchanged.
    """
    from casf_spark.functions.text import DEFAULT_STOPWORDS, tokens
    from casf_spark.operators.dedup import _nearest_det_centroids
    from pyspark.sql import Window

    assign = (_nearest_det_centroids(emb, vec_id_col, vec_col, n_clusters)
              .select(F.col("id").alias("__join_id"), "cluster"))
    base = (docs.select(F.col(id_col).cast("long").alias("__join_id"),
                        tokens(F.coalesce(F.col(text_col), F.lit("")))
                        .alias("toks"))
            .join(assign, "__join_id"))
    ndocs = base.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"))
    counts = (base.select("cluster", F.explode("toks").alias("term"))
              .where(~F.col("term").isin(sorted(DEFAULT_STOPWORDS)))
              .groupBy("cluster", "term")
              .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    w = Window.partitionBy("cluster").orderBy(F.desc("cnt"), F.asc("term"))
    ranked = (counts.withColumn("rank",
                                F.row_number().over(w).cast("long"))
              .where(F.col("rank") <= top_k))
    # left join FROM the cluster spine: a cluster whose docs are all
    # stopwords/empty has no counts rows and used to VANISH from the
    # report entirely — it now shows one row with n_docs and NULL
    # term/rank/cnt ("a bucket exists but has no labelable terms"),
    # instead of reading as if the quantizer made fewer clusters
    return (ndocs.join(ranked, "cluster", "left")
            .select(F.col("cluster").cast("long").alias("cluster"),
                    "n_docs", "rank", "term", "cnt"))


def psi_report(ref: DataFrame, new: DataFrame, value_col,
               bin_width: float) -> DataFrame:
    """Population Stability Index drift report between two corpus
    snapshots — the standard monitoring metric a production pipeline
    runs between yesterday's and today's crawl before trusting a
    mixture plan: ``PSI = sum_b (p_b - q_b) * ln(p_b / q_b)`` over
    fixed-width bins of a score/length column. Rule-of-thumb bands:
    < 0.1 stable, 0.1-0.25 moderate shift, > 0.25 investigate.

    Determinism: bins are integer ``floor(value / bin_width)``; shares
    are add-1-smoothed over the UNION of observed bins (both sides
    positive — ln is finite); each bin's PSI term folds to an integer
    nano-unit BEFORE the total (order-independent BIGINT sum — the
    cross-engine rule for float accumulations). Output: one row per
    observed bin (bin, ref_cnt, new_cnt, psi_term_u) plus the shared
    total ``psi_u``; psi = psi_u / 1e9.

    Scale shape: each side is one bin-grain aggregation (map-side
    combined — the key space is the bin count); the join, totals and
    the total-PSI window all run over the bounded bin table.
    """
    if bin_width <= 0:
        raise ValueError("psi_report: bin_width must be > 0")
    from pyspark.sql import Window

    vc = F.col(value_col) if isinstance(value_col, str) else value_col

    def bins(df: DataFrame, name: str) -> DataFrame:
        return (df.select(F.floor(vc / F.lit(bin_width)).cast("long")
                          .alias("bin"))
                .where(F.col("bin").isNotNull())
                .groupBy("bin")
                .agg(F.count(F.lit(1)).cast("long").alias(name)))

    joined = (bins(ref, "ref_cnt").join(bins(new, "new_cnt"),
                                        "bin", "full_outer")
              .select("bin",
                      F.coalesce("ref_cnt", F.lit(0)).alias("ref_cnt"),
                      F.coalesce("new_cnt", F.lit(0)).alias("new_cnt")))
    tot = joined.agg(F.sum("ref_cnt").alias("__psi_nr"),
                     F.sum("new_cnt").alias("__psi_nn"),
                     F.count(F.lit(1)).alias("__psi_b"))
    t = joined.crossJoin(F.broadcast(tot))
    p = (F.col("ref_cnt") + 1) / (F.col("__psi_nr") + F.col("__psi_b"))
    q = (F.col("new_cnt") + 1) / (F.col("__psi_nn") + F.col("__psi_b"))
    term_u = F.floor((p - q) * F.log(p / q) * F.lit(1e9) + F.lit(0.5)) \
        .cast("long")
    t = t.select("bin", "ref_cnt", "new_cnt", term_u.alias("psi_term_u"))
    win = Window.orderBy().rowsBetween(Window.unboundedPreceding,
                                       Window.unboundedFollowing)
    return t.withColumn("psi_u", F.sum("psi_term_u").over(win))


def clustering_agreement(labels: DataFrame, a_col: str,
                         b_col: str) -> DataFrame:
    """Adjusted Rand Index between two clusterings of the same items
    (Hubert & Arabie 1985) — the evaluation a dedup pipeline runs to ask
    "how well does the cheap clustering (LSH buckets, SimHash bands)
    recover the expensive/ground-truth one?". Input: one row per item
    with its label under clustering A (``a_col``) and B (``b_col``).
    Output ONE row: (n, sum_comb_cells, sum_comb_a, sum_comb_b, ari).

    ARI = (Σ C(n_ij,2) − E) / (½[Σ C(a_i,2) + Σ C(b_j,2)] − E) with
    E = Σ C(a_i,2)·Σ C(b_j,2)/C(n,2); 1 = identical clusterings, ~0 =
    chance agreement. Degenerate inputs where the denominator is 0
    (both clusterings all-singletons or one single cluster on both
    sides) yield NULL ari.

    Determinism/scale: everything up to the final division is INTEGER
    pair combinatorics — C(n,2) on exact BIGINT counts, summed in any
    order — so two engines agree bit-for-bit; the plan is one
    aggregation to (a, b) contingency grain (bounded by the cluster-
    pair cardinality, not items), two marginal re-aggregations of that
    tiny table, and a 1-row fold. The item table is touched once.
    """
    def comb2(c):
        # c*(c-1) is even -> the shift is an EXACT integer halve (a
        # `/ 2` would detour through double and lose exactness past
        # 2^53); BIGINT holds C(n,2) up to n ~ 3e9 items per cluster
        return F.shiftright((c * (c - F.lit(1))).cast("long"), 1)

    cont = (labels.groupBy(F.col(a_col).alias("a"),
                           F.col(b_col).alias("b"))
            .agg(F.count(F.lit(1)).cast("long").alias("nij")))
    # materialized ONCE (r13 optimization, guide §2.4): cont feeds three
    # consumers (cells agg, a-marginal, b-marginal) whose downstream keys
    # all differ, so the full ``labels`` pipeline — in dedup_cluster_ari
    # a tokenize + collision-key pass AND a connected-components labeling
    # — would otherwise be recomputed per consumer (the captured before-
    # plan shows the subtree three times). The table is bounded by the
    # cluster-pair cardinality, not items.
    cont = cont.localCheckpoint()
    cells = cont.agg(F.sum(comb2(F.col("nij"))).alias("sum_comb_cells"),
                     F.sum("nij").alias("n"))
    ai = (cont.groupBy("a").agg(F.sum("nij").alias("ai"))
          .agg(F.sum(comb2(F.col("ai"))).alias("sum_comb_a")))
    bj = (cont.groupBy("b").agg(F.sum("nij").alias("bj"))
          .agg(F.sum(comb2(F.col("bj"))).alias("sum_comb_b")))
    row = cells.crossJoin(F.broadcast(ai)).crossJoin(F.broadcast(bj))
    # every operand casts to double BEFORE multiply/divide (a
    # BIGINT*BIGINT product would overflow long before double loses
    # the leading digits that matter to the ratio)
    tot = comb2(F.col("n")).cast("double")
    sa = F.col("sum_comb_a").cast("double")
    sb = F.col("sum_comb_b").cast("double")
    # try_divide: a single-item labeling has tot = C(1,2) = 0, which
    # is DIVIDE_BY_ZERO under ANSI mode — NULL e makes den NULL, so
    # ari falls to its documented NULL instead of crashing
    e = F.try_divide(sa * sb, tot)
    num = F.col("sum_comb_cells").cast("double") - e
    den = (sa + sb) / F.lit(2.0) - e
    return row.select(
        F.col("n").cast("long").alias("n"),
        F.col("sum_comb_cells").cast("long").alias("sum_comb_cells"),
        F.col("sum_comb_a").cast("long").alias("sum_comb_a"),
        F.col("sum_comb_b").cast("long").alias("sum_comb_b"),
        F.when(den != 0, F.round(num / den, 6)).alias("ari"))


#: integer inverse-CDF thresholds for a Poisson(1) draw from a 60-bit
#: uniform hash: draw = #(thresholds the hash is >=), capped at 6.
#: Computed once in plain Python (exact ints) so both engines compare
#: INTEGERS — no float CDF boundary can ever split them.
def _poisson1_thresholds() -> list[int]:
    import math

    acc, fact, thresholds = 0.0, 1.0, []
    for k in range(6):
        fact = fact * k if k else 1.0
        acc += math.exp(-1.0) / fact
        thresholds.append(min(int(acc * (1 << 60)), (1 << 60) - 1))
    return thresholds


def bootstrap_means(df: DataFrame, key_col, value_col,
                    n_boot: int = 24, seed: int = 13) -> DataFrame:
    """Poisson bootstrap of a mean (Chamandy et al. 2012 — the
    single-pass, streaming-friendly bootstrap Google built for exactly
    this setting): each row contributes ``Poisson(1)`` copies to each
    of ``n_boot`` replicates, giving the sampling distribution of the
    corpus mean WITHOUT materializing resamples — the error bar a
    pipeline owner wants on "mean quality / length / score" before
    trusting a small metric shift. Output: one row per replicate
    (b, n_eff, mean).

    Determinism across engines: the Poisson draw inverts an integer
    threshold table against the row's 60-bit md5 hash of
    ``key:b:seed`` (pure integer compares — no float CDF boundary);
    values fold to integer micro-units once, each replicate's weighted
    sum is an order-independent BIGINT, and ONE division + 6dp round
    happens at output.

    Scale shape: the replicate expansion is a map-side explode of a
    bounded ``n_boot`` literal range (rows x n_boot, no join), and the
    only shuffle is the n_boot-key aggregation — map-combined to at
    most n_boot rows per task regardless of corpus size.
    """
    if n_boot <= 0:
        raise ValueError(f"bootstrap_means: n_boot must be > 0, "
                         f"got {n_boot}")
    from casf_spark.functions.hashing import md5_long

    thresholds = _poisson1_thresholds()
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    val = F.col(value_col) if isinstance(value_col, str) else value_col
    xu = F.floor(val.cast("double") * 1e6 + F.lit(0.5)).cast("long")
    # NULL values are EXCLUDED (the psi_report convention): without
    # this filter a NULL row's Poisson weight still counted in n_eff
    # while its value vanished from the weighted sum — every replicate
    # mean silently deflated toward zero
    base = (df.where(val.isNotNull())
            .select(key.cast("string").alias("__bs_k"),
                    xu.alias("__bs_xu")))
    rep = base.select(
        "__bs_k", "__bs_xu",
        F.explode(F.array(*[F.lit(b) for b in range(n_boot)]))
        .alias("b"))
    h = md5_long(F.concat_ws(":", "__bs_k", F.col("b").cast("string"),
                             F.lit(str(seed))))
    w = F.lit(0)
    for t in thresholds:
        w = w + F.when(h >= F.lit(t), F.lit(1)).otherwise(F.lit(0))
    rep = rep.select("b", w.cast("long").alias("__bs_w"), "__bs_xu")
    return (rep.groupBy("b")
            .agg(F.sum("__bs_w").cast("long").alias("n_eff"),
                 F.sum(F.col("__bs_w") * F.col("__bs_xu")).cast("long")
                 .alias("__bs_su"))
            .select(F.col("b").cast("int").alias("b"), "n_eff",
                    F.when(F.col("n_eff") > 0,
                           F.round(F.col("__bs_su")
                                   / (F.col("n_eff") * F.lit(1e6)), 6))
                    .alias("mean")))


def cluster_silhouette(emb: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       n_clusters: int = 8) -> DataFrame:
    """Simplified (centroid-based) silhouette of the deterministic
    coarse clustering — the cluster-quality diagnostic read before
    trusting SemDeDup prune rates or IVF probe counts built on the
    same quantizer: per vector, ``a`` = squared-L2 distance to its OWN
    centroid, ``b`` = distance to the nearest OTHER centroid,
    ``s = (b - a) / max(a, b)`` (the standard simplified silhouette —
    O(N·k) instead of the pairwise O(N²)); report per cluster
    (cluster, n_docs, mean_sil). Values near 1 = compact/separated,
    near 0 = boundary-heavy, negative = likely misassigned mass.

    Determinism: centroids are the md5-smallest ``n_clusters`` corpus
    vectors (the shared det quantizer); every distance rounds to 6dp
    BEFORE the argmin (smaller-centroid-id ties) and each s folds to
    integer micro-units before the per-cluster sum — order-independent
    BIGINTs, one division at output. Vectors coincident with two
    centroids (max(a,b) = 0) contribute s = 0.

    Scale shape: centroids broadcast (bounded side input); the N x k
    distance table reduces per id with a bounded collect_list fold (k
    rows per id — n_clusters is dozens); ONE cluster-grain aggregation.

    ``n_clusters < 2`` is rejected loudly (round-13 ADVICE): with one
    centroid there is no "nearest OTHER" distance — b would be NULL,
    s NULL, and the row would count in n_docs while dropping from the
    silhouette sum, a silently-deflated mean (and a divergence from
    the oracle twin's inner-join spelling, which drops the row
    entirely). A corpus smaller than ``n_clusters`` degrades the same
    way (fewer than 2 actual centroids), so it raises too.

    A NULL vector raises (a NULL centroid on the driver, any other one
    when its distances run): its NULL distance would sort first in the
    argmin and pull every vector into the NULL centroid's cluster.
    """
    from casf_spark.functions import vectors as V
    from casf_spark.functions.hashing import det_centroids

    if n_clusters < 2:
        raise ValueError(
            f"cluster_silhouette: n_clusters must be >= 2 "
            f"(got {n_clusters}) — silhouette needs a nearest-OTHER "
            f"centroid")

    cent = det_centroids(emb, id_col, vec_col, n_clusters)
    # bounded side input (<= n_clusters rows): collect ONCE — validates
    # the corpus actually yields >= 2 centroids (a 1-row corpus would
    # silently reproduce the b-NULL deflation) and hands the crossJoin
    # a LocalRelation instead of recomputing the top-k subquery
    cent_rows = cent.collect()
    if len(cent_rows) < 2:
        raise ValueError(
            f"cluster_silhouette: corpus yields {len(cent_rows)} "
            f"centroid(s); need >= 2 (corpus smaller than n_clusters "
            f"degrades the same way as n_clusters=1)")
    null_vec = (f"cluster_silhouette: NULL vector in {vec_col!r}; drop or "
                f"impute it before clustering")
    if any(r.cemb is None for r in cent_rows):
        raise ValueError(null_vec)
    cent = emb.sparkSession.createDataFrame(cent_rows, cent.schema)
    corp = emb.select(F.col(id_col).alias("id"),
                      F.col(vec_col).alias("v"))
    diff = F.zip_with(V.as_double("v"), V.as_double("cemb"),
                      lambda a, b: (a - b) * (a - b))
    d = F.when(F.col("v").isNull(), F.raise_error(F.lit(null_vec))) \
        .otherwise(F.round(F.aggregate(diff, F.lit(0.0),
                                       lambda acc, x: acc + x), 6))
    ad = corp.crossJoin(F.broadcast(cent)).select(
        "id", F.col("cid"), d.alias("d"))
    ranked = F.array_sort(F.collect_list(F.struct("d", "cid")))
    per = (ad.groupBy("id").agg(ranked.alias("r"))
           .select(
               "id",
               F.col("r")[0]["cid"].alias("cluster"),
               F.col("r")[0]["d"].alias("a"),
               F.col("r")[1]["d"].alias("b")))
    s = F.when(F.greatest("a", "b") > 0,
               F.round((F.col("b") - F.col("a"))
                       / F.greatest("a", "b"), 6)).otherwise(F.lit(0.0))
    su = F.floor(s * 1e6 + F.lit(0.5)).cast("long")
    return (per.select("cluster", su.alias("s_u"))
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("s_u").alias("sum_u"))
            .select(F.col("cluster").cast("long").alias("cluster"),
                    "n_docs",
                    F.round(F.col("sum_u")
                            / (F.col("n_docs") * F.lit(1e6)), 6)
                    .alias("mean_sil")))


def _group_term_counts(docs: DataFrame, group_col: str, id_col: str,
                       text_col: str) -> DataFrame:
    """The (group, word) count table ``(grp, word, a)`` both vocabulary
    reports aggregate at — ONE tokenize pass + ONE map-combined
    aggregation at the vocabulary x groups grain (the same grain every
    LM/keyness operator here shuffles at)."""
    from casf_spark.functions.text import tokenize

    tok = tokenize(docs, id_col, text_col) \
        .select(F.col("doc").cast("long").alias("doc"), "word")
    gd = docs.select(F.col(id_col).cast("long").alias("doc"),
                     F.col(group_col).alias("grp"))
    return (tok.join(gd, "doc")
            .groupBy("grp", "word")
            .agg(F.count(F.lit(1)).cast("long").alias("a")))


def vocab_richness(docs: DataFrame, group_col: str, id_col: str,
                   text_col: str) -> DataFrame:
    """Good-Turing / Chao1 vocabulary-richness report per group — the
    coverage questions a corpus card answers before anyone trusts a
    token budget: how much probability mass sits on UNSEEN words
    (Good-Turing: p0 = N1/N, the hapax fraction — Good 1953), and how
    large the underlying vocabulary plausibly is (bias-corrected Chao1
    richness: V + N1*(N1-1)/(2*(N2+1)) — Chao 1984/2005, defined even
    when no doubletons exist). A crawl slice with gt_unseen 0.4 is
    nowhere near vocabulary saturation; one at 0.02 is re-crawling
    itself.

    Every statistic derives from four exact integers per group (token
    total N, distinct V, hapax count N1, doubleton count N2) in one
    closed-form expression — no float accumulation, engines agree to
    the 6dp round.

    Scale shape: one map-combined (group, word) count aggregation
    (vocabulary x groups keys — the same grain every LM/keyness
    operator here shuffles at), then a group-grain conditional-sum
    rollup; output is GROUP-cardinality rows. Output: (grp, n_tokens,
    v_distinct, n1, n2, gt_unseen, chao1).
    """
    gt = _group_term_counts(docs, group_col, id_col, text_col)
    one = F.count(F.when(F.col("a") == 1, 1)).cast("long")
    two = F.count(F.when(F.col("a") == 2, 1)).cast("long")
    per = gt.groupBy("grp").agg(
        F.sum("a").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("v_distinct"),
        one.alias("n1"), two.alias("n2"))
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    return per.select(
        "grp", "n_tokens", "v_distinct", "n1", "n2",
        F.round(n1 / F.col("n_tokens").cast("double"), 6)
        .alias("gt_unseen"),
        F.round(F.col("v_distinct").cast("double")
                + n1 * (n1 - 1.0) / (2.0 * (n2 + 1.0)), 6)
        .alias("chao1"))


def vocab_jsd(docs: DataFrame, group_col: str, id_col: str,
              text_col: str) -> DataFrame:
    """Jensen-Shannon divergence between each group's unigram
    distribution and the REST of the corpus — the symmetric, bounded
    ([0, ln 2]) corpus-comparison number a mixture audit reads next to
    PSI (which bins one scalar score) and keyness (which ranks
    individual terms): "how different is this source's LANGUAGE,
    overall". JSD(P,Q) = (KL(P||M) + KL(Q||M))/2 with M = (P+Q)/2.

    Determinism: each in-group word's contribution is a closed-form
    double from four exact integers (a = count in group, c = group
    total, b = count in rest, d = rest total), folded to integer
    NANO-units before the per-group sum (order-independent BIGINTs —
    the Dunning-keyness discipline); the mass of words ABSENT from the
    group needs no per-word rows at all: each contributes
    (q/2)*ln 2 + 0, and their summed q closes to (n_all - S_g)/d where
    S_g is the group's summed term totals — ONE more closed-form term
    per group. b = 0 contributes 0 (the x*ln x -> 0 limit). A corpus
    with a single group has an EMPTY rest distribution: d = 0 makes
    jsd NULL (documented, not raised — per-group outputs remain
    meaningful for every group that has a complement).

    Scale shape: one map-combined (group, word) count aggregation,
    term totals derived from it (no second corpus pass), group totals
    broadcast; output is GROUP-cardinality rows. Output: (grp,
    n_terms, jsd).
    """
    gt = _group_term_counts(docs, group_col, id_col, text_col)
    term_tot = gt.groupBy("word").agg(F.sum("a").alias("t_tot"))
    grp_tot = gt.groupBy("grp").agg(F.sum("a").alias("c"))
    all_tot = grp_tot.agg(F.sum("c").alias("n_all"))
    j = (gt.join(term_tot, "word")
         .join(F.broadcast(grp_tot), "grp")
         .crossJoin(F.broadcast(all_tot)))
    a = F.col("a").cast("double")
    b = (F.col("t_tot") - F.col("a")).cast("double")
    c = F.col("c").cast("double")
    d = (F.col("n_all") - F.col("c")).cast("double")
    p = a / c
    # try_divide: a single-group corpus has d = 0 — the documented
    # NULL-jsd edge, not an ANSI-mode DIVIDE_BY_ZERO crash
    q = F.try_divide(b, d)
    term = (0.5 * p * F.log(2.0 * p / (p + q))
            + F.when(b > 0.0,
                     0.5 * q * F.log(2.0 * q / (p + q)))
            .otherwise(F.lit(0.0)))
    tu = F.floor(term * F.lit(1e9) + F.lit(0.5)).cast("long")
    per = (j.groupBy("grp")
           .agg(F.sum(tu).alias("su"),
                F.count(F.lit(1)).cast("long").alias("n_terms"),
                F.sum("t_tot").cast("long").alias("s_g")))
    per = (per.join(F.broadcast(grp_tot), "grp")
           .crossJoin(F.broadcast(all_tot)))
    d2 = (F.col("n_all") - F.col("c")).cast("double")
    extra = (0.5 * F.log(F.lit(2.0))
             * F.try_divide((F.col("n_all") - F.col("s_g"))
                            .cast("double"), d2))
    eu = F.floor(extra * F.lit(1e9) + F.lit(0.5)).cast("long")
    return per.select(
        "grp", "n_terms",
        F.round((F.col("su") + eu) / F.lit(1e9), 6).alias("jsd"))
