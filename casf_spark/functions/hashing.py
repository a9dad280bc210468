"""Cross-engine deterministic hashing primitives.

Spark's builtin ``hash``/``xxhash64`` are murmur3/xxhash — not reproducible
in DuckDB — so the oracle-checkable operators (MinHash, SimHash, LSH) derive
integer hashes from **md5**, which both engines implement identically:
``H(s) = int(md5(s)[:15], 16)`` — a uniform 60-bit non-negative integer.

All downstream mixing uses moduli small enough that ``a * (H % P) + b``
stays below 2^63 (no overflow in either engine's BIGINT arithmetic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: prime modulus > 2^32 for universal-hash mixing; with a < 2^30 the product
#: a*(H%P) < 2^62 — safe in int64.
MIX_PRIME = 4294967311
#: bit width of md5-derived hashes (15 hex digits = 60 bits)
HASH_BITS = 60


def md5_long(col: Column | str) -> Column:
    """60-bit non-negative integer hash of a string column via md5 prefix.

    DuckDB twin: ``CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def det_centroids(df: DataFrame, id_col: str, vec_col: str,
                  k: int) -> DataFrame:
    """The deterministic quantizer's centroids: the ``k`` rows with the
    smallest ``md5_long(id)``, ties to the smaller id, as (cid, cemb) in
    that order. A plan-side sample both engines enumerate identically
    (DuckDB: ``ORDER BY md5 key, id LIMIT k``)."""
    return (df.select(F.col(id_col).cast("long").alias("cid"),
                      F.col(vec_col).alias("cemb"),
                      md5_long(F.col(id_col).cast("string")).alias("ck"))
            .orderBy("ck", "cid").limit(k).drop("ck"))


def _lcg_params(n: int, seed: int) -> list[tuple[int, int]]:
    """n fixed (a, b) universal-hash parameter pairs from a tiny LCG —
    deterministic constants, no runtime randomness."""
    state = seed
    out = []
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state >> 16) % ((1 << 30) - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = (state >> 16) % MIX_PRIME
        out.append((a, b))
    return out


def minhash_exprs(hash_col: Column, num_hashes: int, seed: int) -> list[Column]:
    """``num_hashes`` universal-hash remixes of a 60-bit hash column:
    ``(a_i * (H % P) + b_i) % P`` (unaliased — callers alias/aggregate).
    Same formula is emitted verbatim into the DuckDB oracle SQL."""
    h = hash_col % F.lit(MIX_PRIME)
    return [
        (F.lit(a) * h + F.lit(b)) % F.lit(MIX_PRIME)
        for a, b in _lcg_params(num_hashes, seed)
    ]


def minhash_sql_exprs(hash_sql: str, num_hashes: int, seed: int) -> list[str]:
    """DuckDB-side twins of :func:`minhash_exprs` (same constants)."""
    return [
        f"(({a} * (({hash_sql}) % {MIX_PRIME}) + {b}) % {MIX_PRIME})"
        for a, b in _lcg_params(num_hashes, seed)
    ]


def position_exprs(hash_col: Column, k: int, modulus: int,
                   seed: int) -> list[Column]:
    """``k`` table positions in ``[0, modulus)`` for a 60-bit hash column
    — the universal-hash remix reduced mod the table size. Shared by the
    Bloom-filter and Count-Min operators (:mod:`..operators.sketches`);
    integer-only, so the DuckDB twin (:func:`position_sql_exprs`) is
    engine-exact by construction."""
    return [e % F.lit(modulus)
            for e in minhash_exprs(hash_col, k, seed=seed)]


def position_sql_exprs(hash_sql: str, k: int, modulus: int,
                       seed: int) -> list[str]:
    """DuckDB-side twins of :func:`position_exprs` (same constants)."""
    return [f"({e} % {modulus})"
            for e in minhash_sql_exprs(hash_sql, k, seed=seed)]


def minhash_band_plan(spark, num_hashes: int = 12, bands: int = 4,
                      step: float = 0.05):
    """Analytic MinHash-LSH banding design surface: for signature length
    ``num_hashes`` split into ``bands`` bands of r = num_hashes/bands
    rows, the probability a pair with true Jaccard similarity s becomes
    a candidate is P(s) = 1 - (1 - s^r)^b (Leskovec/Rajaraman/Ullman,
    Mining of Massive Datasets ch. 3). Emits the S-curve on a grid plus
    the threshold similarity s* = (1/b)^(1/r) where the curve inflects —
    the design tool for picking (num_hashes, bands) before a corpus-scale
    dedup run.

    Output: (s, p_detect, s_star) — all rounded to 6dp; data-free (one
    generated row per grid point), engine-parity via identical POW
    arithmetic on the identically-rounded grid.
    """
    from pyspark.sql import functions as F

    r = num_hashes // bands
    n_steps = int(round(1.0 / step)) - 1
    s_star = F.round(F.pow(F.lit(1.0 / bands), F.lit(1.0 / r)), 6)
    return (spark.range(1, n_steps + 1)
            .select(F.round(F.col("id") * F.lit(step), 6).alias("s"))
            .select("s",
                    F.round(F.lit(1.0)
                            - F.pow(F.lit(1.0)
                                    - F.pow(F.col("s"), F.lit(float(r))),
                                    F.lit(float(bands))), 6)
                    .alias("p_detect"),
                    s_star.alias("s_star")))
