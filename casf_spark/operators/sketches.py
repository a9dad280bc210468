"""Mergeable-summary operators beyond the built-in sketches.

Spark ships HLL (distinct) and t-digest/GK (quantiles) but no frequent-
items path that scales: ``df.stat.freqItems`` collects to the driver and
a full ``groupBy(item)`` shuffles the ENTIRE vocabulary — at 100 TB of
text that is billions of distinct tokens moved to find the dozen that
matter. The standard scale answer is candidate pruning + exact recount
(two passes over data that stays put), implemented here.
"""

from __future__ import annotations

import math
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import hashing


def frequent_items(items: DataFrame, item_col: str,
                   theta: float) -> DataFrame:
    """EXACT heavy hitters: items whose global frequency is >= theta * N,
    with their exact counts — in two passes and a candidates-only
    shuffle.

    Pass 1 (candidate pruning, shuffle-free): each Arrow batch emits the
    items that are theta-heavy WITHIN the batch (vectorized
    ``value_counts``, no per-row Python). Pigeonhole guarantees the
    union is a superset of the global heavy hitters: if freq(x) >=
    theta*N, some batch must have freq_b(x) >= theta*n_b (otherwise
    summing the strict shortfalls gives freq(x) < theta*N). Light items
    — the overwhelming bulk of a Zipfian vocabulary — never leave their
    batch.

    Pass 2 (exact): occurrences of the (small, broadcast) candidate set
    are re-counted exactly and filtered by the global threshold. Only
    candidate occurrences shuffle, so shuffle volume is proportional to
    the heavy tail, not the vocabulary.

    Output: (item, cnt), exact and deterministic — unlike sketch-based
    top-k, this is oracle-checkable against a plain GROUP BY/HAVING.
    ``theta`` must be in (0, 1]; N is measured with one count() (a
    planning action, like AQE stats).
    """
    if not 0.0 < theta <= 1.0:
        raise ValueError(f"frequent_items: theta must be in (0, 1], "
                         f"got {theta}")
    src = items.select(F.col(item_col).alias("item"))

    def batch_heavy(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            vc = pdf["item"].value_counts()
            cand = vc[vc >= theta * n]
            if len(cand):
                yield pd.DataFrame({"item": cand.index})

    total = src.count()
    if total == 0:
        return src.withColumn("cnt", F.lit(0).cast("long")).limit(0)
    min_count = math.ceil(theta * total)
    cand = src.mapInPandas(batch_heavy, "item string").distinct()
    return (src.join(F.broadcast(cand), "item")
            .groupBy("item")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .where(F.col("cnt") >= F.lit(min_count))
            .select(F.col("item"), F.col("cnt").cast("long").alias("cnt")))


def grouped_frequent_items(items: DataFrame, group_col: str,
                           item_col: str, theta: float) -> DataFrame:
    """Per-group exact heavy hitters: for each group, the items whose
    within-group frequency is >= theta * N_group — the mixture-audit
    shape ("which tokens dominate each language/source slice") at the
    same cost profile as :func:`frequent_items`.

    Pass 1 prunes per (batch x group): an item theta-heavy in a group
    globally must be theta-heavy in that group's slice of at least one
    batch (the pigeonhole argument applied within the group), so the
    per-batch groupby('group').value_counts() survivors are a superset.
    Pass 2 joins candidates back on (group, item) — a broadcast when the
    candidate set is small, which it is for any Zipfian corpus — and
    recounts exactly against each group's own total (computed in the
    same aggregation pass, no separate count per group).
    """
    if not 0.0 < theta <= 1.0:
        raise ValueError(f"grouped_frequent_items: theta must be in "
                         f"(0, 1], got {theta}")
    src = items.select(F.col(group_col).alias("grp"),
                       F.col(item_col).alias("item"))

    def batch_heavy(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            vc = pdf.groupby("grp")["item"].value_counts()
            gn = pdf.groupby("grp")["item"].size()
            keep = vc[vc >= theta * gn.reindex(
                vc.index.get_level_values("grp")).to_numpy()]
            if len(keep):
                out = keep.index.to_frame(index=False)
                yield out[["grp", "item"]]

    totals = src.groupBy("grp").agg(F.count(F.lit(1)).alias("grp_n"))
    cand = (src.mapInPandas(batch_heavy, "grp string, item string")
            .distinct())
    counted = (src.join(F.broadcast(cand), ["grp", "item"])
               .groupBy("grp", "item")
               .agg(F.count(F.lit(1)).alias("cnt")))
    return (counted.join(F.broadcast(totals), "grp")
            .where(F.col("cnt") >= F.ceil(F.col("grp_n") * F.lit(theta)))
            .select(F.col("grp").alias(group_col),
                    F.col("item"), F.col("cnt").cast("long").alias("cnt")))


# ---------------------------------------------------------------------------
# Bloom filter (approximate set membership) — the BFF-dedup shape
# ---------------------------------------------------------------------------

#: bits packed per bitmap word. 63 (not 64) because DuckDB's BIGINT ``<<``
#: raises on overflow at bit 63 while Spark's wraps — bits 0..62 keep the
#: word arithmetic identical (and positive) in both engines.
BLOOM_WORD_BITS = 63

#: hard cap on filter size: 2^27 bits -> ~2.1M words (~17 MiB broadcast).
#: Above this the "tiny broadcast side table" premise breaks — raise
#: loudly instead of silently building an un-broadcastable filter.
MAX_BLOOM_BITS = 1 << 27

#: seed of the Bloom filter's position hashes (build and probe agree)
BLOOM_SEED = 7


def _check_bloom_args(m_bits: int, k: int) -> None:
    if not 0 < m_bits <= MAX_BLOOM_BITS:
        raise ValueError(f"m_bits must be in (0, {MAX_BLOOM_BITS}], "
                         f"got {m_bits}")
    if not 0 < k <= 16:
        raise ValueError(f"k must be in (0, 16], got {k}")


def bloom_build(df: DataFrame, key_col, m_bits: int, k: int) -> DataFrame:
    """Distributed Bloom-filter construction over a key column ->
    ``(word_idx long, bits long)``: the non-zero words of an ``m_bits``
    bitmap with ``k`` set positions per key.

    This is the history side of Bloom-gated incremental dedup (the
    shape AI2's Dolma pipeline uses for paragraph dedup at web scale):
    the whole history collapses into a FIXED-size bitmap, built with one
    aggregation whose key space is bounded by ``m_bits / 63`` words —
    map-side combine collapses each task's contribution to at most the
    filter size, so shuffle volume is ``tasks x filter``, never
    ``rows``. At 100 TB the history never shuffles at row grain and the
    resulting filter broadcasts to every executor.

    Positions are ``functions.hashing.position_exprs`` universal-hash
    remixes of the 60-bit md5 key hash — integer-only, so a DuckDB twin
    rebuilds the identical bitmap. Bits pack 63 per word (see
    :data:`BLOOM_WORD_BITS`).
    """
    _check_bloom_args(m_bits, k)
    h = hashing.md5_long(key_col)
    pos = F.explode(F.array(*hashing.position_exprs(h, k, m_bits,
                                                    seed=BLOOM_SEED)))
    # a NULL key hashes to NULL positions — drop them (an absent key
    # can never probe true, and NULL word rows would be dead weight)
    cells = df.select(pos.alias("__bloom_pos")) \
        .where(F.col("__bloom_pos").isNotNull())
    word = (F.col("__bloom_pos") / F.lit(BLOOM_WORD_BITS)).cast("long")
    # the Python shiftleft() helper only takes a literal shift count;
    # a column-valued count needs the SQL spelling
    setbit = F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                    f"CAST(__bloom_pos % {BLOOM_WORD_BITS} AS INT))")
    return (cells
            .select(word.alias("word_idx"), setbit.alias("__bloom_w"))
            .groupBy("word_idx")
            .agg(F.bit_or("__bloom_w").alias("bits")))


def bloom_probe(df: DataFrame, key_col, filter_words: DataFrame,
                m_bits: int, k: int,
                out_col: str = "maybe_seen") -> DataFrame:
    """Probe a built Bloom filter: adds boolean ``out_col`` — true iff
    ALL ``k`` positions of the key are set (i.e. "possibly in the
    history"; false is definitive absence).

    Plan shape: ``k`` broadcast hash joins of the probe stream against
    the (word-grain, tiny) filter table — every join is map-only, the
    probe side never shuffles, and the whole test stays inside
    whole-stage codegen (no Python, no explode, no aggregation). False
    positives are inherent to the sketch (rate ~ (1-e^{-kn/m})^k);
    callers needing exactness rescore the survivors, which is the whole
    point — the filter turns a 100-TB anti-join into a map-only pass
    plus a rescue join proportional to the (tiny) hit set.
    """
    _check_bloom_args(m_bits, k)
    for c in df.columns:
        if c.startswith("__bloom_"):
            raise ValueError(f"bloom_probe: input column {c!r} collides "
                             f"with internal __bloom_ names")
    h = hashing.md5_long(key_col)
    probe = df
    hit_cols = []
    for i, pos in enumerate(hashing.position_exprs(h, k, m_bits,
                                                   seed=BLOOM_SEED)):
        probe = (probe
                 .withColumn(f"__bloom_w{i}",
                             (pos / F.lit(BLOOM_WORD_BITS)).cast("long"))
                 .withColumn(f"__bloom_b{i}",
                             pos % F.lit(BLOOM_WORD_BITS)))
        side = F.broadcast(filter_words.select(
            F.col("word_idx").alias(f"__bloom_fw{i}"),
            F.col("bits").alias(f"__bloom_fb{i}")))
        probe = probe.join(
            side, probe[f"__bloom_w{i}"] == side[f"__bloom_fw{i}"], "left")
        hit_cols.append(
            F.coalesce(
                F.expr(f"(shiftright(__bloom_fb{i}, "
                       f"CAST(__bloom_b{i} AS INT)) & 1) = 1"),
                F.lit(False)))
    hit = hit_cols[0]
    for c in hit_cols[1:]:
        hit = hit & c
    drop = [c for c in probe.columns if c.startswith("__bloom_")]
    return probe.withColumn(out_col, hit).drop(*drop)


# ---------------------------------------------------------------------------
# Count-Min sketch (approximate frequencies, mergeable)
# ---------------------------------------------------------------------------

#: depth x width cap keeping the sketch a broadcastable side table.
MAX_CMS_CELLS = 1 << 22

#: seed of the Count-Min row hashes (build and estimate agree)
CMS_SEED = 11


def _check_cms_args(width: int, depth: int) -> None:
    if width <= 0 or depth <= 0 or width * depth > MAX_CMS_CELLS:
        raise ValueError(f"cms: need width, depth > 0 and width*depth <= "
                         f"{MAX_CMS_CELLS}, got {width}x{depth}")


def cms_build(items: DataFrame, item_col: str, width: int,
              depth: int) -> DataFrame:
    """Count-Min sketch construction (Cormode & Muthukrishnan 2005) ->
    the non-zero cells ``(row_idx int, col_idx long, cnt long)`` of a
    ``depth x width`` counter table.

    Each occurrence increments one cell per row: ``col = h_r(item)``
    (``functions.hashing.position_exprs``, integer-only -> a DuckDB twin
    rebuilds the identical table). The aggregation key space is bounded
    by ``depth*width``, so Spark's partial (map-side) aggregation
    collapses every task's stream to at most the sketch itself before
    the exchange — shuffle volume is ``tasks x sketch``, independent of
    the token count, which is exactly the mergeable-summaries property
    (per-partition sketches merged by cell-wise sum). Contrast with an
    exact ``groupBy(item)``: that shuffles the whole VOCABULARY; the
    sketch never does, at the price of overestimation bounded by
    eps = e/width with probability 1 - (1/e)^depth.
    """
    _check_cms_args(width, depth)
    h = hashing.md5_long(F.col(item_col))
    cols = hashing.position_exprs(h, depth, width, seed=CMS_SEED)
    cells = items.select(F.explode(F.array(*[
        F.struct(F.lit(r).cast("int").alias("row_idx"),
                 c.alias("col_idx"))
        for r, c in enumerate(cols)])).alias("__cms_cell"))
    return (cells.where(F.col("__cms_cell.col_idx").isNotNull())
            .groupBy(F.col("__cms_cell.row_idx").alias("row_idx"),
                     F.col("__cms_cell.col_idx").alias("col_idx"))
            .agg(F.count(F.lit(1)).alias("cnt")))


def cms_estimate(queries: DataFrame, item_col: str, cms: DataFrame,
                 width: int, depth: int,
                 out_col: str = "cms_est") -> DataFrame:
    """Point-query a built sketch: adds ``out_col`` = min over rows of
    the queried item's cell — the classic CM estimate, >= the true
    count ALWAYS (each cell only ever adds other items' collisions).

    Plan: ``depth`` broadcast hash joins of the query stream against
    the (cell-grain, tiny) sketch table — one per sketch row, each
    map-only on the item's ``h_r(item)`` cell — then ``F.least`` over
    the ``depth`` coalesced counts (the ``bloom_probe`` pattern: the
    query side NEVER shuffles, no aggregation, no row identity
    needed). Cost proportional to the QUERY set, which is how sketches
    are used: build once at corpus scale, answer point lookups for
    free. A missing cell means count 0 (impossible for items that were
    in the build stream, inevitable for novel ones).
    """
    _check_cms_args(width, depth)
    for c in queries.columns:
        if c.startswith("__cms_"):
            raise ValueError(f"cms_estimate: input column {c!r} collides "
                             f"with internal __cms_ names")
    h = hashing.md5_long(F.col(item_col))
    # materialize the sketch ONCE (r14, guide §2.4): the ``depth``
    # broadcast build sides below are separate jobs that each recompute
    # the full sketch pipeline (for cms_replay_batches that is the whole
    # per-batch tokenize+build+merge, 4x — measured 2.4 s of the 2.4 s
    # query). The table is bounded by depth*width non-zero cells BY
    # CONSTRUCTION, so the checkpoint is a KB-scale write at any corpus
    # size.
    cms = cms.localCheckpoint()
    probe = queries
    cnt_cols = []
    for r, pos in enumerate(hashing.position_exprs(h, depth, width,
                                                   seed=CMS_SEED)):
        probe = probe.withColumn(f"__cms_c{r}", pos)
        side = F.broadcast(
            cms.where(F.col("row_idx") == r)
               .select(F.col("col_idx").alias(f"__cms_sc{r}"),
                       F.col("cnt").alias(f"__cms_n{r}")))
        probe = probe.join(
            side, probe[f"__cms_c{r}"] == side[f"__cms_sc{r}"], "left")
        cnt_cols.append(F.coalesce(F.col(f"__cms_n{r}"),
                                   F.lit(0).cast("long")))
    est = cnt_cols[0] if depth == 1 else F.least(*cnt_cols)
    drop = [c for c in probe.columns if c.startswith("__cms_")]
    return probe.withColumn(out_col, est).drop(*drop)


#: hard cap on histogram-sketch bins: the bin table is a broadcastable
#: side summary (the Bloom/CMS contract); above this the "bounded
#: summary" premise breaks — raise loudly instead.
HIST_MAX_BINS = 1 << 20


def _check_hist_args(lo: float, hi: float, n_bins: int) -> None:
    if not (hi > lo):
        raise ValueError(f"hist sketch: need hi > lo, got [{lo}, {hi}]")
    if n_bins < 1 or n_bins > HIST_MAX_BINS:
        raise ValueError(
            f"hist sketch: n_bins must be in [1, {HIST_MAX_BINS}], "
            f"got {n_bins}")


def _check_hist_qs(qs) -> None:
    """An out-of-range q would not crash — it would silently VANISH
    from the output (q > 1: no bin's cumulative count reaches the
    target rank; q <= 0: rank 0 matches the first bin) — so validate
    loudly like every other histogram argument."""
    if not qs:
        raise ValueError("hist sketch: qs must be non-empty")
    bad = [q for q in qs if not (0.0 < float(q) <= 1.0)]
    if bad:
        raise ValueError(
            f"hist sketch: every q must be in (0, 1], got {bad}")


def _hist_bin(v, lo: float, w: float, n_bins: int):
    """The ONE clamp-bin expression both builds share: equal-width bins
    over [lo, hi), out-of-range values clamped to the edge bins."""
    return F.least(F.greatest(F.floor((v.cast("double") - F.lit(lo))
                                      / F.lit(w)), F.lit(0)),
                   F.lit(n_bins - 1)).cast("int")


def _hist_est(bin_col, lo: float, w: float):
    """Nearest-rank estimate read both quantile functions share: the
    UPPER EDGE of the winning bin, rounded to 6dp."""
    return F.round(F.lit(lo) + (bin_col + 1) * F.lit(w), 6)


def hist_sketch_build(df: DataFrame, value_col, lo: float, hi: float,
                      n_bins: int) -> DataFrame:
    """Fixed-boundary histogram quantile sketch — the deterministic
    mergeable-summary answer to "p99 of a 100 TB column, refreshed per
    batch": values clamp into ``n_bins`` equal-width bins over
    ``[lo, hi)`` and the sketch is the non-empty ``(bin, cnt)`` rows.
    Unlike t-digest/GK (whose internal state is order-dependent and
    engine-specific), fixed boundaries make BUILD, MERGE and ESTIMATE
    all exactly reproducible across engines — the property every
    oracle-checked pipeline here is built on — at the price of error
    bounded by one bin width (pick bins from the domain; 1000 bins on
    a bounded score = 0.1% of range).

    Merge is cell-wise SUM by counter commutativity (the CMS rule —
    :func:`hist_sketch_merge`), so per-partition/per-batch sketches
    compose into sliding windows and incremental refreshes for free.

    Scale shape: ONE bin-grain aggregation; Spark's partial (map-side)
    aggregation collapses every task's stream to at most the sketch
    itself before the exchange — shuffle volume is ``tasks x bins``,
    independent of the row count. NULL values are skipped (they carry
    no rank). Output: (bin int, cnt long), bin in [0, n_bins-1].
    """
    _check_hist_args(lo, hi, n_bins)
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    w = (hi - lo) / n_bins
    return (df.where(v.isNotNull())
            .select(_hist_bin(v, lo, w, n_bins).alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))


def hist_sketch_merge(sketches: DataFrame) -> DataFrame:
    """Merge any number of histogram sketches stacked in one DataFrame
    (bin, cnt) — cell-wise SUM, associative/commutative, the mergeable-
    summaries property: merged(build(A) ++ build(B)) == build(A ++ B)
    exactly (integer counters). Bin-grain work only."""
    return (sketches.groupBy("bin")
            .agg(F.sum("cnt").cast("long").alias("cnt")))


def hist_sketch_quantiles(sketch: DataFrame, qs, lo: float, hi: float,
                          n_bins: int) -> DataFrame:
    """Nearest-rank quantile estimates off a histogram sketch: for each
    ``q`` the estimate is the UPPER EDGE of the first bin whose
    cumulative count reaches ``ceil(q * n)`` — a deterministic
    closed-form read both engines agree on exactly (integer target
    rank, integer cumulative counts, 6dp-rounded edge), biased at most
    one bin width above the true quantile. Output: (q, target_rank,
    est) — one row per requested quantile.

    Scale shape: the sketch is bin-grain (bounded); the cumulative
    walk is a window over AT MOST n_bins rows. The row stream is never
    touched — estimates cost O(bins), which is the entire point of
    keeping a mergeable summary next to a 100 TB table.
    """
    _check_hist_args(lo, hi, n_bins)
    _check_hist_qs(qs)
    from pyspark.sql import Window
    spark = sketch.sparkSession
    w = (hi - lo) / n_bins
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    tot = sketch.agg(F.sum("cnt").cast("long").alias("n"))
    cum = sketch.withColumn(
        "cum", F.sum("cnt").over(
            Window.orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)))
    # qs x bins product: both sides bounded (a handful of quantiles,
    # bin-grain sketch) — the first bin whose cum reaches the target
    # rank wins via min(bin)
    j = (qdf.crossJoin(F.broadcast(tot))
         .withColumn("target_rank",
                     F.ceil(F.col("q") * F.col("n")).cast("long"))
         .join(F.broadcast(cum),
               F.col("cum") >= F.col("target_rank")))
    return (j.groupBy("q", "target_rank")
            .agg(F.min("bin").alias("__hs_bin"))
            .select("q", "target_rank",
                    _hist_est(F.col("__hs_bin"), lo, w).alias("est"))
            .orderBy("q"))
