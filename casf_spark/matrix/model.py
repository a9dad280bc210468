"""CosineModel — query surface over a fitted cosine analysis.

Parity target: ``MatrixModel``
(/root/reference/src/main/scala/com/saltfish/matrix/MatrixModel.scala, "MM"
below), plus extensions the reference only promised (README.md:23 missing-
value prediction) or lacked (top-k).

Spark-first deltas vs. the reference:

* ``similarity(vector_list)`` is a DataFrame ``isin`` filter. The reference
  wraps the list in a broadcast variable whose ``.value`` is taken on the
  driver (a no-op, MM:37) and drops to the RDD API (MM:39-44), severing
  Catalyst across the boundary; ours stays one optimized plan, so the
  membership predicate pushes down past the aggregation.
* The zero-similarity fill for dense-mode pairs with no shared coordinates
  (right join + coalesce, MM:63-69) is preserved bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from casf_spark import schemas


#: threshold_similarity: the prune bound is widened by this slack so pairs
#: that only cross the threshold after output rounding are still found
PRUNE_SLACK = 1e-6
#: threshold_similarity: above this many prefix candidates the prune has
#: degenerated and rescoring switches to the plain pair self-join
MAX_DIRECT_CANDIDATES = 200_000


def _vector_mods(normalized: DataFrame) -> DataFrame:
    """Per-vector L2 norm over all own elements (dense semantics).

    Parity: genVectorMod (MCA:110-119, A2).
    """
    out = normalized.groupBy("vector").agg(
        F.sqrt(F.sum(F.pow(F.col("normalized_value"), F.lit(2.0)))).alias("mod"))
    return schemas.conform(out, schemas.VECTOR_MOD)


def _ratio(agg: DataFrame) -> DataFrame:
    """numerator / (mod0 * mod1); 0.0 where any factor is missing."""
    out = agg.select(
        "vector0", "vector1",
        F.coalesce(
            F.col("numerator") / (F.col("mod0") * F.col("mod1")),
            F.lit(0.0),
        ).alias("similarity_value"),
    )
    return schemas.conform(out, schemas.SIMILARITY_VALUE)


class CosineModel:
    """Similarity queries over a fitted matrix.

    ``is_sparse`` selects the norm semantics, decided here and only here:
    sparse = pair-dependent norms over the shared coordinates (MCA:68-78),
    one fused aggregation over the aligned pairs; dense = textbook cosine
    over whole-vector norms, every pair emitted, zero-filled where no
    coordinate is shared (MM:63-69).
    """

    def __init__(self, normalized: DataFrame, factor_pairs: DataFrame,
                 is_sparse: bool) -> None:
        #: NORMALIZED_ELEMENT — cells rescaled by vector max
        self.normalized = normalized
        #: FACTOR_NORMALIZED_VALUE — aligned element pairs per shared coord
        self.factor_pairs = factor_pairs
        self.is_sparse = is_sparse
        # intermediates persisted by query methods, released by unpersist()
        self._extra_caches: list[DataFrame] = []

    # ------------------------------------------------------------------ #

    def _pair_mods(self, cand: DataFrame | None = None) -> DataFrame:
        """Dense-mode denominators (mod0, mod1): whole-vector norms per
        canonical pair — every pair, or only the ``cand`` pairs.

        Parity: genVectorMod + genFactorMod2 (MCA:110-119, 129-160) — the J4
        rewrite: the reference collect_lists every "vector:mod" into ONE row
        and expands all pairs in a single task (its worst scalability
        hazard); we cross-join the (tiny: one row per vector) mods table
        against itself with the canonical-order predicate, which Catalyst
        executes as a parallel broadcast nested-loop join. Dense mode is
        inherently O(n^2) in *output*; at large vector counts use sparse
        mode or the LSH operators in casf_spark.operators.similarity.
        """
        mods = _vector_mods(self.normalized)
        a = mods.select(F.col("vector").alias("vector0"), F.col("mod").alias("mod0"))
        b = mods.select(F.col("vector").alias("vector1"), F.col("mod").alias("mod1"))
        if cand is not None:
            # attach via the candidate list — never the all-pairs cross-join
            return cand.join(a, "vector0").join(b, "vector1")
        out = (a.crossJoin(b)
               .where(F.col("vector0") > F.col("vector1"))
               .select("vector0", "vector1", "mod0", "mod1"))
        return schemas.conform(out, schemas.FACTOR_MOD)

    def _compute_similarity(self, factor_mod: DataFrame,
                            factor_pairs: DataFrame) -> DataFrame:
        """Dense mode: dot product per pair over ``factor_pairs``, right-
        joined to the ``factor_mod`` denominators.

        Parity: computeSimilarity (MM:56-73, A4) — right join so pairs with
        no shared coordinates survive with similarity 0.0 (coalesce,
        MM:68-69, J2 + P3).
        """
        num = factor_pairs.groupBy("vector0", "vector1").agg(
            F.sum(F.col("value0") * F.col("value1")).alias("numerator"))
        return _ratio(num.join(factor_mod, ["vector0", "vector1"], "right"))

    def _fused_sparse_similarity(self, factor_pairs: DataFrame) -> DataFrame:
        """Sparse-mode similarity in ONE aggregation.

        Algebraically identical to the reference's two-step (genFactorMod
        MCA:68-78 + computeSimilarity MM:56-73): in sparse mode the pair
        norms and the dot product range over the *same* aligned-pair rows,
        so numerator, mod0 and mod1 fuse into a single groupBy — one shuffle
        instead of two aggregations + an equi-join. At 100 TB that removes
        the largest redundant exchange in the pipeline.
        """
        return _ratio(factor_pairs.groupBy("vector0", "vector1").agg(
            F.sum(F.col("value0") * F.col("value1")).alias("numerator"),
            F.sqrt(F.sum(F.pow(F.col("value0"), F.lit(2.0)))).alias("mod0"),
            F.sqrt(F.sum(F.pow(F.col("value1"), F.lit(2.0)))).alias("mod1"),
        ))

    # ------------------------------------------------------------------ #
    # reference API
    # ------------------------------------------------------------------ #

    @property
    def all_similarity_value(self) -> DataFrame:
        """Reference-API alias: ``MatrixModel.allSimilarityValue`` (MM:26-28)."""
        return self.all_similarity()

    def all_similarity(self) -> DataFrame:
        """Cosine similarity for every canonical pair.

        Parity: MatrixModel.allSimilarityValue (MM:26-28). Sparse mode is
        the fused single-aggregation plan; dense mode right-joins the
        all-pairs mods so zero-similarity pairs survive.
        """
        if self.is_sparse:
            return self._fused_sparse_similarity(self.factor_pairs)
        return self._compute_similarity(self._pair_mods(), self.factor_pairs)

    def similarity(self, vector_list: Sequence[str]) -> DataFrame:
        """Similarity restricted to pairs whose BOTH endpoints are in
        ``vector_list``.

        Parity: MatrixModel.similarity (MM:36-47) — the RDD membership
        filter (MM:39-44) becomes an ``isin`` predicate on both inputs, so
        Catalyst prunes the pair stream *before* the aggregation instead of
        after it.
        """
        ids = [str(v) for v in vector_list]
        both = F.col("vector0").isin(ids) & F.col("vector1").isin(ids)
        fp = self.factor_pairs.where(both)
        if self.is_sparse:
            return self._fused_sparse_similarity(fp)
        return self._compute_similarity(self._pair_mods().where(both), fp)

    # ------------------------------------------------------------------ #
    # extensions (absent from the reference — SURVEY.md §7 phase D)
    # ------------------------------------------------------------------ #

    def similarity_for_pairs(self, pairs: DataFrame) -> DataFrame:
        """Exact similarity restricted to a caller-supplied candidate pair
        set (columns ``vector0``, ``vector1``, canonical ordering).

        The corpus-scale composition: generate candidates sub-quadratically
        (MinHash banding, SimHash blocking, LSH buckets), then pay the exact
        aligned-pair aggregation ONLY for candidates — a semi-join prunes
        the pair stream before the heavy shuffle.
        """
        cand = pairs.select("vector0", "vector1").distinct()
        # Drive the aligned-pair join FROM the candidates: candidate rows
        # pick up each endpoint's elements and align on the shared
        # coordinate — O(|candidates| x shared-coords) work. A semi-join
        # against the full pair self-join would still *generate* the
        # quadratic pair stream before pruning it (measured 188 s vs 9 s on
        # the 5000-doc corpus).
        n0 = self.normalized.select(
            F.col("vector").alias("vector0"), "coord",
            F.col("normalized_value").alias("value0"))
        n1 = self.normalized.select(
            F.col("vector").alias("vector1"), "coord",
            F.col("normalized_value").alias("value1"))
        fp = (cand.join(n0, "vector0")
              .join(n1, ["vector1", "coord"])
              .select("vector0", "vector1", "coord", "value0", "value1"))
        if self.is_sparse:
            return self._fused_sparse_similarity(fp)
        return self._compute_similarity(self._pair_mods(cand), fp)

    def threshold_similarity(self, t: float,
                             round_to: int | None = None) -> DataFrame:
        """Exact all-pairs similarity >= ``t`` WITHOUT full pair enumeration
        — prefix filtering in the style of Bayardo et al., "Scaling Up All
        Pairs Similarity Search" (WWW'07). Dense (textbook-cosine) mode
        only; requires t > 0.

        Soundness: order every vector's coordinates by a fixed global order
        (max coordinate weight descending). For unit vectors, if ALL shared
        coordinates of a pair lie in both vectors' suffixes where
        ``sum(x_c * maxw_c) < t``, then cos <= that sum < t. Contrapositive:
        any pair with cos >= t shares a coordinate inside at least one
        vector's prefix — so joining prefix rows against all rows on the
        coordinate finds every qualifying pair. Candidates then get the
        exact fused rescoring via :meth:`similarity_for_pairs`.

        Degenerate-prune guard: prefix filtering only pays off when ``t`` is
        high relative to the similarity mass (long near-uniform vectors at a
        low threshold yield prefixes ≈ whole vectors). The candidate count
        is checked (one small job — a planning action, like AQE stats) and
        above ``MAX_DIRECT_CANDIDATES`` the exact rescoring switches from
        candidate-driven expansion to the plain pair self-join with a
        post-filter, whose cost is bounded by brute force.
        """
        if self.is_sparse:
            raise ValueError("threshold_similarity requires dense mode "
                             "(textbook cosine); sparse-mode pair-dependent "
                             "norms admit no prefix bound")
        if t <= 0:
            raise ValueError("threshold t must be > 0")
        tb = float(t) - PRUNE_SLACK

        nv = self.normalized
        unit = (nv.join(_vector_mods(nv), "vector")
                .select("vector", "coord",
                        (F.col("normalized_value") / F.col("mod")).alias("x")))
        maxw = unit.groupBy("coord").agg(F.max("x").alias("maxw"))
        scored = unit.join(maxw, "coord")
        w = (Window.partitionBy("vector")
             .orderBy(F.desc("maxw"), F.asc("coord"))
             .rowsBetween(Window.currentRow, Window.unboundedFollowing))
        prefix = (scored
                  .withColumn("suffix_bound",
                              F.sum(F.col("x") * F.col("maxw")).over(w))
                  .where(F.col("suffix_bound") >= tb)
                  .select(F.col("vector").alias("pv"), "coord"))
        probe = unit.select(F.col("vector").alias("qv"), "coord")
        cand = (prefix.join(probe, "coord")
                .where(F.col("pv") != F.col("qv"))
                .select(
                    F.greatest("pv", "qv").alias("vector0"),
                    F.least("pv", "qv").alias("vector1"))
                .distinct())
        cand = cand.persist()
        if cand.count() > MAX_DIRECT_CANDIDATES:
            # prune degenerated — rescore via the full pair stream instead
            # of expanding each candidate by its endpoints' elements
            cand.unpersist()
            sims = self.all_similarity()
        else:
            sims = self.similarity_for_pairs(cand)
        if round_to is not None:
            sims = sims.withColumn("similarity_value",
                                   F.round("similarity_value", round_to))
        return sims.where(F.col("similarity_value") >= t)

    def top_k(self, k: int, round_to: int | None = None) -> DataFrame:
        """Top-k most-similar neighbors per vector.

        The canonical pair table stores each unordered pair once; symmetrize
        (union both directions — a narrow transformation, no shuffle), then
        keep a ``row_number`` window per vector. Output: (vector, neighbor,
        similarity_value, rank); rank order is (similarity desc, neighbor
        asc). The window streams sorted runs without materializing
        per-vector arrays.

        ``round_to`` rounds similarities before ranking — makes rank order
        reproducible across engines whose float-sum orders differ (used by
        the oracle-checked queries).

        The pair-similarity table is persisted before the symmetrizing
        union. Without it the union's two branches each carry the ENTIRE
        similarity pipeline as a separate subtree — double the compute if
        exchange reuse misses, and double the generated-code compilation
        even when it hits (measured ~2x cold wall time at sf0.1). The cache
        is released by :meth:`unpersist`.
        """
        sims = self.all_similarity()
        if round_to is not None:
            sims = sims.withColumn(
                "similarity_value", F.round("similarity_value", round_to))
        sims = sims.persist(StorageLevel.MEMORY_AND_DISK)
        self._extra_caches.append(sims)
        # fill the cache now (a small planning action, like AQE stats) so
        # the union's two branches read it instead of racing to fill it
        sims.count()
        sym = sims.select(
            F.col("vector0").alias("vector"),
            F.col("vector1").alias("neighbor"),
            "similarity_value",
        ).unionByName(sims.select(
            F.col("vector1").alias("vector"),
            F.col("vector0").alias("neighbor"),
            "similarity_value",
        ))
        w = Window.partitionBy("vector").orderBy(
            F.desc("similarity_value"), F.asc("neighbor"))
        return (sym.withColumn("rank", F.row_number().over(w))
                   .where(F.col("rank") <= k))

    def predict_missing(self, k: int = 10,
                        round_to: int | None = None) -> DataFrame:
        """Similarity-weighted imputation of absent cells — the reference
        README's unimplemented roadmap item (/root/reference/README.md:23).

        For each (vector v, coord c) where v has no element but at least one
        of v's top-k neighbors does::

            pred(v, c) = sum_u sim(v,u) * nv(u,c) / sum_u sim(v,u)

        over the neighbors u of v that have coordinate c. Returns
        (vector, coord, predicted_value). Anti-join guarantees only truly
        missing cells are emitted.
        """
        neighbors = self.top_k(k, round_to).where(
            F.col("similarity_value") > 0.0)
        # neighbor contributions: join neighbor's elements
        contrib = (
            neighbors.join(
                self.normalized.select(
                    F.col("vector").alias("neighbor"),
                    "coord",
                    "normalized_value",
                ),
                "neighbor",
            )
            .groupBy("vector", "coord")
            .agg(
                (F.sum(F.col("similarity_value") * F.col("normalized_value"))
                 / F.sum("similarity_value")).alias("predicted_value"))
        )
        existing = self.normalized.select("vector", "coord")
        return contrib.join(existing, ["vector", "coord"], "left_anti")

    def unpersist(self) -> None:
        """Release the cached intermediates (fixes the reference's premature
        unpersist at MatrixCosineAnalyse.scala:223, which fired before any
        action materialized the cache)."""
        for df in (self.normalized, self.factor_pairs, *self._extra_caches):
            try:
                df.unpersist()
            except Exception:
                pass
        self._extra_caches.clear()
