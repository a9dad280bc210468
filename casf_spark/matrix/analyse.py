"""CosineAnalyser — fit a sparse COO matrix into a CosineModel.

Parity target: ``MatrixCosineAnalyse``
(/root/reference/src/main/scala/com/saltfish/analyse/MatrixCosineAnalyse.scala,
"MCA" below), re-architected Spark-first:

* Pair enumeration is a **shuffle-parallel self-join on the shared
  coordinate** (here), not the reference's ``collect_list``-into-one-row +
  single-task ``flatMap`` (MCA:168-202 per-coordinate, MCA:30-58/129-160
  global). Identical output tuples — including the canonical ordering
  ``vector0 > vector1`` (MCA:46-50, 148-152, 188-192) — but no O(n^2) work
  in one task and no "vector:value" string packing (MCA:32/134/173), so it
  survives a 1000-executor 100 TB run where the reference's design OOMs the
  first hot coordinate.
* The ``omitRadio`` relative-threshold filter is implemented *correctly*:
  in the reference the filtered DataFrame is discarded (MCA:92-94), so the
  filter never applies. We default ``omit_ratio=-1.0`` (disabled) to match
  the reference's **observed** behavior, and apply it for real when >= 0 —
  the reference's *intended* behavior (doc MCA:85: "<0 disables").
* ``normalizedType`` (MCA:15) is declared but never read in the reference;
  ours is a real strategy: ``"max"`` (divide each cell by its vector's max,
  MCA:96-99) or ``"none"``.
* The reference's persist at MCA:220 is unpersisted at MCA:223 before any
  action runs (a no-op); we persist the genuinely multi-consumer normalized
  elements and release them via ``CosineModel.unpersist()``.

Everything stays in DataFrame/Column expressions — whole-stage codegen end
to end, no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from casf_spark import schemas
from casf_spark.matrix.model import CosineModel

_NORMALIZATIONS = ("max", "none")


class CosineAnalyser:
    """Computes pairwise cosine similarity between the row- or column-vectors
    of a sparse matrix given as coordinate triples.

    Parameters mirror the reference constructor (MCA:12-15):

    axis : "y" or "x" — which coordinate names the vectors being compared;
        the other becomes the shared/prediction axis (MCA:19-22).
    omit_ratio : drop cells with ``value / vector_max <= omit_ratio``;
        negative disables (MCA:14 default 0.02 is dead code, see module doc).
    normalization : "max" rescales each cell by its vector's max element
        before norms/dot-products (MCA:96-99); "none" uses raw values.
    """

    def __init__(self, axis: str = "y", omit_ratio: float = -1.0,
                 normalization: str = "max") -> None:
        if axis not in ("x", "y"):
            raise ValueError(f"axis must be 'x' or 'y', got {axis!r}")
        if normalization not in _NORMALIZATIONS:
            raise ValueError(f"normalization must be one of {_NORMALIZATIONS}")
        self.axis = axis
        self.omit_ratio = float(omit_ratio)
        self.normalization = normalization

    # ------------------------------------------------------------------ #
    # stages (each returns a DataFrame conforming to a schemas.* contract)
    # ------------------------------------------------------------------ #

    def _canonical_elements(self, matrix_element: DataFrame,
                            pre_aggregated: bool = False) -> DataFrame:
        """Map (y, x, value) onto (vector, coord, value) per ``self.axis``.

        Duplicate coordinates are summed (the reference assumes pre-aggregated
        input; summing makes the contract explicit and idempotent). Callers
        that already aggregated per (y, x) — e.g. a term-count or groupBy
        source — pass ``pre_aggregated=True`` to skip the redundant shuffle.
        """
        vec, coord = ("y", "x") if self.axis == "y" else ("x", "y")
        projected = matrix_element.select(
            F.col(vec).cast("string").alias("vector"),
            F.col(coord).cast("string").alias("coord"),
            F.col("value").cast("double").alias("value"),
            # explicit not-null on BOTH keys: downstream branches (max-value
            # agg vs normalize join) then share an identical subplan, so
            # Catalyst's ReusedExchange computes the element table once
        ).where(F.col("vector").isNotNull() & F.col("coord").isNotNull())
        if pre_aggregated:
            return projected
        return (projected.groupBy("vector", "coord")
                .agg(F.sum("value").alias("value")))

    def _max_values(self, elements: DataFrame) -> DataFrame:
        """Per-vector max element. Parity: genMaxValue (MCA:210-216, A1)."""
        return schemas.conform(
            elements.groupBy("vector").agg(F.max("value").alias("max_value")),
            schemas.MAX_VALUE,
        )

    def _normalized(self, elements: DataFrame) -> DataFrame:
        """Rescale cells; optionally apply the omit_ratio filter.

        Parity: genNormalizedElement (MCA:88-102 — J1 join + P1 projection;
        P4 filter fixed, see module doc). The per-vector max side has one row
        per vector — at most the cardinality of the vector axis — so Catalyst
        /AQE picks a broadcast hash join whenever it fits; we do not force it
        because at 100 TB the vector axis itself can be huge.
        """
        if self.normalization == "none":
            out = elements.select(
                "vector", "coord", F.col("value").alias("normalized_value"))
            if self.omit_ratio >= 0.0:
                # Interpret the threshold relative to the vector max even
                # when normalization is off (matches intended MCA:93).
                mx = self._max_values(elements)
                out = (
                    elements.join(mx, "vector")
                    .where(F.col("value") / F.col("max_value") > self.omit_ratio)
                    .select("vector", "coord",
                            F.col("value").alias("normalized_value"))
                )
            return schemas.conform(out, schemas.NORMALIZED_ELEMENT)

        mx = self._max_values(elements)
        joined = elements.join(mx, "vector")
        if self.omit_ratio >= 0.0:
            joined = joined.where(
                F.col("value") / F.col("max_value") > self.omit_ratio)
        out = joined.select(
            "vector", "coord",
            (F.col("value") / F.col("max_value")).alias("normalized_value"),
        )
        return schemas.conform(out, schemas.NORMALIZED_ELEMENT)

    def _factor_pairs(self, normalized: DataFrame) -> DataFrame:
        """Aligned element pairs via self-equi-join on the shared coordinate.

        Parity: genFactorNormalizedValue (MCA:168-202) — the J3 rewrite.
        Canonical ordering ``vector0 > vector1`` reproduces the reference's
        ``compareTo > 0`` swap (MCA:188-192): binary string comparison in
        both engines.

        Scale note: hot coordinates (a feature present in most vectors, e.g.
        a stop word) skew this join; AQE skew-join splitting handles moderate
        skew, ``omit_ratio``/stop-word filtering removes the pathological
        ones at the source.
        """
        left = normalized.select(
            F.col("coord"),
            F.col("vector").alias("vector0"),
            F.col("normalized_value").alias("value0"),
        )
        right = normalized.select(
            F.col("coord"),
            F.col("vector").alias("vector1"),
            F.col("normalized_value").alias("value1"),
        )
        pairs = (
            left.join(right, "coord")
            .where(F.col("vector0") > F.col("vector1"))
            .select("vector0", "vector1", "coord", "value0", "value1")
        )
        return schemas.conform(pairs, schemas.FACTOR_NORMALIZED_VALUE)

    # ------------------------------------------------------------------ #
    # entry point
    # ------------------------------------------------------------------ #

    def fit(self, matrix_element: DataFrame, is_sparse: bool = True,
            persist: bool = True, pre_aggregated: bool = False,
            materialize: bool = False) -> CosineModel:
        """Build a CosineModel. Lazy unless ``materialize`` — no Spark job
        runs here.

        Parity: simpleFit (MCA:218-242). Builds the normalized elements and
        their aligned pairs; ``is_sparse`` (MCA:218-231) is passed to the
        model, which owns the norm semantics (see :class:`CosineModel`).

        ``pre_aggregated``: input is already unique per (y, x) — skips the
        defensive duplicate-summing shuffle.
        ``persist`` caches the normalized table, which every plan reads
        more than once.
        ``materialize`` localCheckpoints it instead: the pair self-join's
        broadcast build side cannot reuse the probe side's shuffle, so
        otherwise the element pipeline runs once per consumer (sparse
        fused plan at sf0.1: best 4.75 -> 3.28 s). Opt-in because a
        checkpoint loses size statistics, which flips the dense plan's
        broadcast joins to sort-merge (measured 6x worse). Mutually
        exclusive with ``persist``.
        """
        elements = self._canonical_elements(matrix_element, pre_aggregated)
        normalized = self._normalized(elements)
        if materialize:
            normalized = normalized.localCheckpoint()
        elif persist:
            # Cache only the narrow multi-consumer dataset (normalized feeds
            # both sides of the pair self-join, dense vector mods, and
            # predict_missing's contribution join). factor_pairs is NOT
            # cached: the fused similarity consumes it exactly once, and at
            # scale it is orders of magnitude larger than its parents —
            # measured at sf0.1, caching it doubled wall time.
            normalized = normalized.persist(StorageLevel.MEMORY_AND_DISK)

        return CosineModel(normalized, self._factor_pairs(normalized),
                           is_sparse)

    # reference-API aliases, so a Casf caller can switch with minimal edits:
    # `simpleFit` (MCA:218) and the stale README name `simpleMatrixModel`
    # (/root/reference/README.md:19) both map to fit().
    simple_fit = fit
    simpleFit = fit
    simpleMatrixModel = fit
