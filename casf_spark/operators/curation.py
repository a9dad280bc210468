"""Training-corpus curation operators: repetition metrics, PII scrubbing,
benchmark decontamination, sequence packing, stratified sampling.

These are the per-document / cross-corpus hygiene passes an LLM data
pipeline runs between raw crawl and tokenizer:

- ``repetition_features`` — Gopher-style repeated-n-gram signals (docs
  dominated by repeated phrases are low-quality boilerplate).
- ``pii_scrub_report`` — regex detection + scrubbing of emails / IPv4 /
  phone-shaped spans, cross-engine-portable patterns.
- ``contamination_flags`` — test-set decontamination: flag corpus docs
  sharing word n-grams with a benchmark corpus (the standard 13-gram
  overlap rule, n configurable).
- ``pack_sequences`` / ``pack_greedy_chunks`` — assign docs to fixed
  token-budget training bins, either by deterministic prefix-sum
  (SQL-expressible, oracle-checkable) or greedy first-fit per chunk.
- ``stratified_sample`` — per-stratum deterministic hash-rate sampling
  (domain/language rebalancing).

Scale notes (100 TB bar): every operator is a narrow projection plus at
most one keyed shuffle. Nothing windows over a global order on the full
corpus — ``pack_sequences`` does the classic two-level distributed prefix
sum (per-chunk window + a tiny chunk-offset table) precisely to avoid the
single-task global window. The decontamination join keeps the benchmark
side aggregated and broadcast (benchmarks are ~1e5 grams even when the
corpus is 1e10 docs).

Reference parity note: the reference engine (SaltFishYe/Casf) has no
curation surface — these extend the engine for the LLM-pipeline brief;
semantics follow Rae et al. 2021 (Gopher §A1.1) and Brown et al. 2020
(GPT-3 §C) as published.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from casf_spark.functions.hashing import md5_long
from casf_spark.functions.vectors import _bind
from casf_spark.operators.dedup import _shingles
from casf_spark.operators.sampling import hash_fraction

__all__ = [
    "repetition_features",
    "pii_scrub_report",
    "contamination_flags",
    "pack_sequences",
    "pack_greedy_chunks",
    "stratified_sample",
    "mixture_resample",
    "temperature_resample",
    "budget_select",
    "curation_funnel",
    "content_defined_chunks",
    "build_vocab",
    "tokenize_to_ids",
    "c4_line_filter",
    "group_quantile_flag",
    "learn_bpe_merges",
    "bpe_encode",
    "unigram_lm_pieces",
    "unigram_lm_segment",
    "mixture_plan",
    "quantile_buckets",
    "boilerplate_lines",
    "contamination_flags_bloom",
    "quantile_normalize",
    "quantile_match",
    "PII_PATTERNS",
]


# ---------------------------------------------------------------- repetition

def repetition_features(df: DataFrame, id_col: str, text_col: str,
                        ns: Sequence[int] = (2, 3)) -> DataFrame:
    """Per-document repeated-n-gram ratios (Gopher repetition signals).

    For each n in ``ns``:

    - ``dup_gram_frac_{n}`` — fraction of n-gram *occurrences* whose gram
      appears >= 2 times in the document;
    - ``top_gram_frac_{n}`` — share of the single most frequent n-gram.

    Docs shorter than n tokens score 0.0 (no grams, nothing repeated).

    Plan: per n, one (doc, gram) count aggregation (map-side combined —
    the shuffle carries distinct grams per doc, not occurrences) and a
    doc-level rollup; the per-n results join on ``doc``, every side
    already hash-partitioned by the same key so AQE plans them without
    extra exchanges. Cost is linear in corpus token count.
    """
    out = df.select(F.col(id_col).cast("long").alias("doc"))
    for n in ns:
        occ = _shingles(df, id_col, text_col, n, distinct=False)
        cnt = (occ.groupBy("doc", "shingle")
               .agg(F.count(F.lit(1)).alias("c")))
        feat = (cnt.groupBy("doc")
                .agg(F.sum("c").alias("total"),
                     F.sum(F.when(F.col("c") >= 2, F.col("c"))
                           .otherwise(F.lit(0))).alias("dup"),
                     F.max("c").alias("top"))
                .select(
                    "doc",
                    F.round(F.col("dup") / F.col("total"), 6)
                     .alias(f"dup_gram_frac_{n}"),
                    F.round(F.col("top") / F.col("total"), 6)
                     .alias(f"top_gram_frac_{n}")))
        out = out.join(feat, "doc", "left")
    return out.fillna({c: 0.0 for c in out.columns if c != "doc"})


# ----------------------------------------------------------------------- PII

#: detection patterns chosen to parse identically under Java regex (Spark)
#: and RE2 (DuckDB): no backrefs, no lookaround, explicit classes only.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+\d{2}[ -]\d{3}[ -]\d{4,8}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}

#: redaction order matters (an email contains dot-separated digit runs an
#: ipv4 pattern could clip) — fixed here and mirrored in the oracle twin.
_REDACT_ORDER = ("email", "phone", "ipv4")


def _scrub_expr(text_col: str | Column, token: str) -> Column:
    scrubbed = F.col(text_col) if isinstance(text_col, str) else text_col
    for name in _REDACT_ORDER:
        scrubbed = F.regexp_replace(scrubbed, PII_PATTERNS[name], token)
    return scrubbed


def pii_scrub_report(df: DataFrame, id_col: str, text_col: str,
                     token: str = "<PII>") -> DataFrame:
    """Counts + scrubbed text in ONE projection:
    (doc, n_email, n_phone, n_ipv4, redacted).

    The audit-trail shape pipelines persist — what was found and the text
    with it removed — in one scan of the corpus.
    """
    return df.select(
        F.col(id_col).cast("long").alias("doc"),
        *[F.regexp_count(F.col(text_col), F.lit(p)).cast("long")
          .alias(f"n_{name}") for name, p in PII_PATTERNS.items()],
        _scrub_expr(text_col, token).alias("redacted"))


# ------------------------------------------------------------ decontamination

def contamination_flags(docs: DataFrame, benchmark: DataFrame,
                        id_col: str, text_col: str,
                        n: int = 13, min_hits: int = 1) -> DataFrame:
    """Test-set decontamination: corpus docs sharing >= ``min_hits``
    distinct word n-grams with the benchmark corpus -> (doc, n_hits).

    The GPT-3 appendix-C rule (13-gram collision) with n configurable —
    short synthetic corpora want smaller n.

    Plan shape for 100 TB: the benchmark side reduces to DISTINCT 60-bit
    gram hashes and broadcasts — eval benchmarks are tiny (~1e5-1e7
    grams) next to the corpus. The corpus side stays UN-deduplicated so
    it never shuffles at full volume: the broadcast join filters it
    map-side down to only the contaminated gram occurrences, and the
    distinct-per-doc count aggregates that residue — every exchange in
    the plan is proportional to the contamination, not the corpus
    (plan-pinned in tests/test_plans.py).
    """
    d = (_shingles(docs, id_col, text_col, n, distinct=False)
         .select("doc", md5_long("shingle").alias("g")))
    b = (_shingles(benchmark, id_col, text_col, n, distinct=True)
         .select(md5_long("shingle").alias("g"))
         .distinct())
    return (d.join(F.broadcast(b), "g")
            .groupBy("doc")
            .agg(F.countDistinct("g").alias("n_hits"))
            .where(F.col("n_hits") >= min_hits))


# ------------------------------------------------------------------- packing

def pack_sequences(df: DataFrame, id_col: str, tokens_col: str,
                   budget: int, chunk: int = 1024) -> DataFrame:
    """Deterministic token-budget bin assignment: docs taken in id order,
    bin i holds the docs whose *exclusive* prefix token-sum lands in
    ``[i*budget, (i+1)*budget)`` -> (doc, n_tok, bin).

    Semantically the "never split, allow overflow" packing: a doc whose
    tokens straddle a boundary belongs to the bin its first token falls
    in (downstream loaders truncate/continue — this operator only needs a
    stable, order-preserving assignment).

    Scale design — the naive ``SUM() OVER (ORDER BY doc)`` is a
    single-task global window; this is the two-level distributed prefix
    sum instead:

    1. per-chunk exclusive cumsum, chunk = doc div ``chunk`` (windows
       partitioned by chunk — parallel across the corpus);
    2. chunk totals (one row per chunk, corpus/chunk rows) windowed
       globally — the only serial step, over the tiny totals table;
    3. offsets broadcast-joined back; global prefix = offset + local.

    Oracle-equal to the single global window by associativity of +.
    """
    t = df.select(
        F.col(id_col).cast("long").alias("doc"),
        F.col(tokens_col).cast("long").alias("n_tok"),
        F.floor(F.col(id_col).cast("long") / chunk).cast("long").alias("ck"))
    in_chunk = Window.partitionBy("ck").orderBy("doc") \
        .rowsBetween(Window.unboundedPreceding, -1)
    local = t.withColumn(
        "local_excl", F.coalesce(F.sum("n_tok").over(in_chunk), F.lit(0)))
    totals = t.groupBy("ck").agg(F.sum("n_tok").alias("ck_tok"))
    prior = Window.orderBy("ck").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "ck", F.coalesce(F.sum("ck_tok").over(prior), F.lit(0)).alias("off"))
    return (local.join(F.broadcast(offsets), "ck")
            .select("doc", "n_tok",
                    F.floor((F.col("off") + F.col("local_excl")) / budget)
                    .cast("long").alias("bin")))


def pack_greedy_chunks(df: DataFrame, id_col: str, tokens_col: str,
                       budget: int, chunk: int = 1024) -> DataFrame:
    """Greedy first-fit-in-order packing, parallel per chunk ->
    (doc, n_tok, bin): within each id-range chunk, docs accumulate into a
    bin until the next doc would exceed ``budget``, then a new bin opens.
    No bin exceeds budget unless a single doc does. Bins are globally
    unique as ``ck * chunk + local_bin`` (a chunk of ``chunk`` docs opens
    at most ``chunk`` bins).

    The true no-overflow semantics need a sequential scan, so it runs as
    an Arrow-batched ``applyInPandas`` per chunk — each task packs its id
    range independently; determinism comes from chunking on ids, not on
    physical partitioning.
    """
    t = df.select(
        F.col(id_col).cast("long").alias("doc"),
        F.col(tokens_col).cast("long").alias("n_tok"),
        F.floor(F.col(id_col).cast("long") / chunk).cast("long").alias("ck"))

    def pack(pdf):
        pdf = pdf.sort_values("doc").reset_index(drop=True)
        bins, acc, b = [], 0, 0
        for n in pdf["n_tok"]:
            if acc > 0 and acc + n > budget:
                b += 1
                acc = 0
            bins.append(b)
            acc += n
        pdf["bin"] = pdf["ck"] * chunk + bins
        return pdf[["doc", "n_tok", "bin"]]

    return t.groupBy("ck").applyInPandas(
        pack, "doc long, n_tok long, bin long")


# -------------------------------------------------------------------- funnel

def curation_funnel(df: DataFrame,
                    stages: Sequence[tuple[str, Column]]) -> DataFrame:
    """Cumulative filter-funnel report in ONE aggregation pass ->
    (stage_idx, stage, n_pass, pass_rate).

    Stage k counts rows satisfying stages 1..k (the order pipelines apply
    them), so the report reads as survivor counts down the funnel — the
    dashboard row every curation pipeline publishes. A null condition
    counts as fail.

    Plan: every stage is a conditional SUM inside a single global
    aggregate — the corpus is scanned once, shuffles one partial row per
    partition, and the explode at the end unpivots the 1-row result.
    Adding stages adds columns, not passes.
    """
    if not stages:
        raise ValueError("stages must be non-empty")
    conds, acc = [], F.lit(True)
    for name, cond in stages:
        acc = acc & cond
        conds.append((name, acc))
    # coalesce: SUM over an EMPTY corpus is NULL — report 0 survivors
    row = df.agg(
        F.count(F.lit(1)).alias("_total"),
        *[F.coalesce(F.sum(F.when(c, 1).otherwise(0)), F.lit(0))
          .cast("long").alias(f"_s{i}")
          for i, (_, c) in enumerate(conds)])
    arr = F.array(*[
        F.struct(F.lit(i + 1).cast("int").alias("stage_idx"),
                 F.lit(name).alias("stage"),
                 F.col(f"_s{i}").alias("n_pass"))
        for i, (name, _) in enumerate(conds)])
    return (row.select("_total", F.explode(arr).alias("s"))
            .select(F.col("s.stage_idx").alias("stage_idx"),
                    F.col("s.stage").alias("stage"),
                    F.col("s.n_pass").alias("n_pass"),
                    # greatest guard: an empty corpus has _total = 0,
                    # which is DIVIDE_BY_ZERO under ANSI mode — report
                    # pass_rate 0.0 instead (the c4_line_filter guard)
                    F.round(F.col("s.n_pass")
                            / F.greatest(F.col("_total"), F.lit(1)), 6)
                    .alias("pass_rate")))


# ------------------------------------------------------------------ sampling

def mixture_resample(df: DataFrame, key: Column | str, strata_col: str,
                     shares: dict[str, float], total_rows: int) -> DataFrame:
    """Resample toward a target domain mixture: downsample each stratum to
    ``~ shares[s] * total_rows`` rows (never upsampling — acceptance rate
    is capped at 1.0), membership decided by deterministic key hash.

    The knob LLM data recipes publish as "mixture weights": given measured
    stratum sizes, the per-stratum acceptance rate is
    ``min(1, share * total_rows / n_stratum)``. Strata absent from
    ``shares`` are dropped (rate 0).

    Plan: one tiny count aggregation (rows = |strata|) broadcast back onto
    the corpus; the acceptance test itself is the same narrow
    ``hash_fraction(key) < rate`` filter as :func:`stratified_sample` —
    the corpus is scanned once and never shuffled.
    """
    share = F.lit(0.0)
    for k, v in sorted(shares.items()):
        share = F.when(F.col("_stratum") == k, F.lit(float(v))).otherwise(share)
    rates = (df.groupBy(F.col(strata_col).alias("_stratum"))
             .agg(F.count(F.lit(1)).alias("_n"))
             .select("_stratum",
                     F.least(F.lit(1.0),
                             share * F.lit(float(total_rows)) / F.col("_n"))
                     .alias("_rate")))
    out = (df.join(F.broadcast(rates),
                   df[strata_col] == rates["_stratum"])
           .where(hash_fraction(key) < F.col("_rate")))
    return out.drop("_stratum", "_rate")


def temperature_resample(df: DataFrame, key: Column | str, strata_col: str,
                         alpha: float, total_rows: int) -> DataFrame:
    """Temperature-based mixture resampling: target share of stratum s is
    ``n_s^alpha / sum_t n_t^alpha`` (the multilingual alpha-sampling rule
    published with XLM-R / mT5), realized as deterministic hash-rate
    downsampling toward ``total_rows``.

    ``alpha = 1`` keeps natural proportions; ``alpha -> 0`` flattens
    toward uniform (up-weights tail languages/domains); rates cap at 1.0
    (no upsampling — repeat-epoch upweighting is a training-loader
    concern, not a corpus transform).

    Same plan as :func:`mixture_resample`: one |strata|-row count
    aggregate (the alpha powers and their normalizer computed over that
    tiny table), broadcast back, narrow md5 acceptance filter — the
    corpus is scanned once and never shuffled.
    """
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    counts = (df.groupBy(F.col(strata_col).alias("_stratum"))
              .agg(F.count(F.lit(1)).alias("_n")))
    w = Window.partitionBy()
    rates = (counts
             .withColumn("_pw", F.pow(F.col("_n").cast("double"),
                                      F.lit(float(alpha))))
             .withColumn("_share", F.col("_pw") / F.sum("_pw").over(w))
             .select("_stratum",
                     F.least(F.lit(1.0),
                             F.col("_share") * F.lit(float(total_rows))
                             / F.col("_n")).alias("_rate")))
    # eqNullSafe: a NULL stratum is a real stratum (the group_quantile
    # convention in this file) — a plain equality join would DROP every
    # NULL-stratum row while their count still deflated the other
    # strata's shares through the _pw normalizer
    out = (df.join(F.broadcast(rates),
                   df[strata_col].eqNullSafe(rates["_stratum"]))
           .where(hash_fraction(key) < F.col("_rate")))
    return out.drop("_stratum", "_rate")


def budget_select(df: DataFrame, id_col: str, tokens_col: str,
                  strata_col: str, budget: int,
                  n_chunks: int = 64) -> DataFrame:
    """Per-stratum token-budget selection -> (doc, stratum, n_tok): rank
    each stratum's docs by deterministic hash priority and keep the prefix
    whose *inclusive* cumulative token count stays <= ``budget``.

    "Give me ~1B tokens per language, chosen reproducibly" — truncation
    semantics: once the budget is exhausted every later-priority doc in
    the stratum is excluded (no skip-and-refill; greedy refill is
    :func:`pack_greedy_chunks`'s job).

    Scale design: the naive form is ``SUM() OVER (PARTITION BY stratum
    ORDER BY priority)`` — one task per stratum, and corpora have few,
    huge strata. This is the two-level distributed prefix sum instead
    (same scheme as :func:`pack_sequences`), with the chunk key derived
    from the priority itself: priorities are uniform in [0,1), so
    ``floor(p * n_chunks)`` yields ``n_chunks`` balanced, ORDER-ALIGNED
    chunks per stratum. Per-(stratum, chunk) windows run in parallel; the
    serial window sees only |strata| * n_chunks rows. Oracle-equal to the
    single window by associativity of +.
    """
    t = df.select(
        F.col(id_col).cast("long").alias("doc"),
        F.col(tokens_col).cast("long").alias("n_tok"),
        F.col(strata_col).alias("stratum"),
        hash_fraction(F.col(id_col).cast("string")).alias("p"))
    t = t.withColumn("ck", F.floor(F.col("p") * n_chunks).cast("long"))
    in_ck = Window.partitionBy("stratum", "ck").orderBy("p", "doc") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = t.withColumn("cum_local", F.sum("n_tok").over(in_ck))
    totals = t.groupBy("stratum", "ck").agg(F.sum("n_tok").alias("ck_tok"))
    prior = Window.partitionBy("stratum").orderBy("ck") \
        .rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "stratum", "ck",
        F.coalesce(F.sum("ck_tok").over(prior), F.lit(0)).alias("off"))
    return (local.join(F.broadcast(offsets), ["stratum", "ck"])
            .where(F.col("off") + F.col("cum_local") <= budget)
            .select("doc", "stratum", "n_tok"))


def stratified_sample(df: DataFrame, key: Column | str, strata_col: str,
                      rates: dict[str, float],
                      default_rate: float = 0.0) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its md5-derived
    key fraction < the rate configured for its stratum (domain/language
    rebalancing with rerun- and engine-stable membership).

    Narrow filter, no shuffle; Catalyst pushes it into the scan. DuckDB
    twin: CASE over strata + the documented ``hash_fraction`` expression.
    """
    rate = F.lit(float(default_rate))
    for k, v in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == k, F.lit(float(v))).otherwise(rate)
    return df.where(hash_fraction(key) < rate)


def content_defined_chunks(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           divisor: int = 16,
                           window: int = 1) -> DataFrame:
    """Content-defined chunking: boundaries chosen by a token hash, not a
    fixed stride — the dedup-friendly chunker.

    A token ENDS a chunk when the md5 of the ``window`` tokens ending at
    it (space-joined) is ``% divisor == 0`` (expected chunk length =
    ``divisor`` tokens); the final partial chunk is always emitted.
    ``window=1`` hashes single tokens; larger windows make boundaries
    depend on k-token context (fewer pathological boundary storms when
    one common token happens to hash to 0), at O(window) extra work per
    token and an edit blast radius of ``window - 1`` extra boundaries. Because boundaries depend only on LOCAL content, an edit to
    one part of a document only redraws the chunks up to the first
    boundary after the edit — every later chunk is byte-identical and so
    dedups/caches across document versions. Fixed-stride windows
    (``q_text_chunks``) lose that property: one inserted token shifts
    every subsequent chunk. This is the standard rolling-hash/CDC idea
    (Rabin fingerprint chunking as in LBFS, Muthitacharoen et al. 2001,
    SOSP; window of 1 token here — a k-token rolling window changes only
    the boundary predicate, not the plan shape).

    Output: (``id_col``, chunk_id, n_tokens, chunk_text), chunk_id
    0-based in document order. Docs with zero tokens emit nothing.

    Scale notes (100 TB bar): pure array HOFs per document — one
    tokenize, one hash pass, one per-chunk slice pass; the only explode
    is per-CHUNK (not per-token). SHUFFLE-FREE map-only plan; the
    boundary predicate reuses the engine-portable md5 idiom
    (functions.hashing.md5_long) so the DuckDB twin is cell-exact.

    Implementation constraint that shapes the code: Spark higher-order
    functions are interpreted and re-evaluate any non-trivial expression
    referenced INSIDE a lambda body once per element — an
    ``element_at(<filter-expr>, i)`` body turns O(tokens) into
    O(chunks x tokens) md5 work (measured 9 s for 500 sf0.01 docs).
    Hence the staged selects below: every lambda body only touches
    lambda variables and column ATTRIBUTES (O(1) lookups), and each
    array is computed exactly once per row. CollapseProject keeps the
    stages separate because each non-cheap alias is referenced more
    than once downstream.
    """
    from casf_spark.functions.text import tokens as _tokens

    toks = _tokens(text_col)
    d = (df.where(F.size(toks) > 0)
           .select(F.col(id_col).cast("long").alias(id_col),
                   toks.alias("_toks")))
    # one md5 pass: position i where token i ends a chunk, else 0.
    # window=1 hashes the lambda token directly; window>1 hashes the
    # k-gram ending at i — slice/concat touch only the _toks ATTRIBUTE,
    # so per-element cost is O(window), never a re-evaluated array expr.
    tcol = F.col("_toks")
    if window <= 1:
        def _bound(t, i):
            return md5_long(t)
    else:
        def _bound(t, i):
            lo = F.greatest(i - window + 1, F.lit(1))
            return md5_long(F.concat_ws(" ", F.slice(tcol, lo, i - lo + 1)))
    marked = F.zip_with(
        tcol, F.sequence(F.lit(1), F.size(tcol)),
        lambda t, i: F.when(_bound(t, i) % divisor == 0, i)
                      .otherwise(F.lit(0)))
    d = d.select(id_col, "_toks",
                 F.array_remove(marked, 0).alias("_ends0"))
    # always close the final chunk at n (attribute refs only — cheap)
    e0, n = F.col("_ends0"), F.size(tcol)
    d = d.select(
        id_col, "_toks",
        F.when((F.size(e0) == 0) | (F.element_at(e0, -1) != n),
               F.concat(e0, F.array(n))).otherwise(e0).alias("_ends"))
    # (start_offset, end) per chunk: starts = 0 ++ ends[:-1]
    ecol = F.col("_ends")
    se = F.zip_with(
        F.concat(F.array(F.lit(0)), F.slice(ecol, 1, F.size(ecol) - 1)),
        ecol,
        lambda s, e: F.struct(s.alias("s"), e.alias("e")))
    d = d.select(id_col, "_toks", se.alias("_se"))
    chunks = F.transform(
        F.col("_se"),
        lambda p, i: F.struct(
            i.cast("long").alias("chunk_id"),
            F.slice(tcol, p["s"] + 1, p["e"] - p["s"]).alias("ctoks")))
    return (d.select(id_col, F.explode(chunks).alias("c"))
            .select(id_col,
                    F.col("c.chunk_id").alias("chunk_id"),
                    F.size("c.ctoks").cast("long").alias("n_tokens"),
                    F.array_join("c.ctoks", " ").alias("chunk_text")))


def build_vocab(df: DataFrame, text_col: str, vocab_size: int) -> DataFrame:
    """Corpus vocabulary for tokenizer-style id mapping: the
    ``vocab_size`` most frequent regex tokens, ranked by
    (count desc, token asc) so ids are deterministic across runs and
    engines. Returns (token, token_id, cnt) with ids 1..vocab_size;
    id 0 is reserved for out-of-vocabulary tokens.

    Scale shape: one token-grain count aggregation (map-side combined),
    then a distributed partial top-k (TakeOrdered — no single-partition
    sort of the full vocabulary); only the final vocab_size-row ranking
    runs in one small task, which is the size of the OUTPUT, not the
    corpus.
    """
    from casf_spark.functions.text import tokens as _tokens

    counts = (df.select(F.explode(_tokens(text_col)).alias("token"))
              .groupBy("token")
              .agg(F.count(F.lit(1)).alias("cnt")))
    top = counts.orderBy(F.col("cnt").desc(), "token").limit(vocab_size)
    w = Window.orderBy(F.col("cnt").desc(), "token")
    return (top.withColumn("token_id",
                           F.row_number().over(w).cast("long"))
            .select("token", "token_id", F.col("cnt").cast("long")
                    .alias("cnt")))


def tokenize_to_ids(df: DataFrame, id_col: str, text_col: str,
                    vocab: DataFrame) -> DataFrame:
    """Map every document's token stream to vocabulary ids — the final
    representation step before training shards: OOV tokens map to id 0.

    Output: (doc_id, n_tokens, n_oov, oov_frac, ids) with ``ids`` an
    ``array<long>`` preserving token order. Documents with no tokens are
    omitted (they have no sequence to emit).

    Scale shape: token-occurrence explode, one broadcast-friendly join
    against the vocab (vocab_size rows — always the build side), one
    doc-grain rebuild aggregation ordered by position. Linear in total
    tokens; the vocabulary never shuffles with the corpus.
    """
    from casf_spark.functions.text import tokens as _tokens

    occ = (df.select(F.col(id_col).cast("long").alias("doc_id"),
                     F.posexplode(_tokens(text_col))
                     .alias("pos", "token")))
    mapped = (occ.join(F.broadcast(vocab.select("token", "token_id")),
                       "token", "left")
              .select("doc_id", "pos",
                      F.coalesce("token_id", F.lit(0).cast("long"))
                      .alias("tid")))
    return (mapped.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                 F.sum((F.col("tid") == 0).cast("long")).cast("long")
                 .alias("n_oov"),
                 F.transform(
                     F.array_sort(F.collect_list(F.struct("pos", "tid"))),
                     lambda s: s["tid"]).alias("ids"))
            .select("doc_id", "n_tokens", "n_oov",
                    F.round(F.col("n_oov") / F.col("n_tokens"), 6)
                    .alias("oov_frac"), "ids"))


def c4_line_filter(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """C4-style line/document cleanup report (Raffel et al. 2020 §2.2 —
    the public ruleset later reused by mC4/FineWeb): per document,

      * keep only lines ending in terminal punctuation (. ! ? ");
      * drop lines with fewer than 5 words;
      * drop lines containing 'javascript' (case-insensitive);
      * flag documents containing '{' or the phrase 'lorem ipsum';
      * a document passes when it is unflagged and keeps >= 3 lines
        (C4's three-sentence minimum).

    Output: (doc_id, n_lines, n_kept_lines, kept_frac, has_brace,
    has_lorem_ipsum, passes_c4, cleaned_text) — cleaned_text re-joins
    the kept lines with newlines ('' when none survive). NULL text
    counts as empty. One shuffle-free array-HOF projection; every rule
    is a per-line predicate, so the pass parallelizes embarrassingly at
    any corpus size.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.filter(F.split(txt, r"\n"), lambda l: F.trim(l) != F.lit(""))

    def _kept(l):
        words = F.filter(F.split(l, r"\s+"), lambda w: w != F.lit(""))
        return (F.trim(l).rlike(r'[.!?"]$')
                & (F.size(words) >= 5)
                & ~F.lower(l).contains("javascript"))

    kept = F.filter(lines, _kept)
    n_lines = F.size(lines)
    n_kept = F.size(kept)
    has_brace = txt.contains("{")
    has_lorem = F.lower(txt).contains("lorem ipsum")
    return df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        n_lines.cast("long").alias("n_lines"),
        n_kept.cast("long").alias("n_kept_lines"),
        F.round(n_kept / F.greatest(n_lines, F.lit(1)), 6)
        .alias("kept_frac"),
        has_brace.alias("has_brace"),
        has_lorem.alias("has_lorem_ipsum"),
        (~has_brace & ~has_lorem & (n_kept >= 3)).alias("passes_c4"),
        F.array_join(kept, "\n").alias("cleaned_text"))


def self_dedup_chunks(df: DataFrame, id_col: str, text_col: str,
                      chunk: int = 10) -> DataFrame:
    """WITHIN-document repeated-chunk collapse (the Dolma/C4 in-doc pass
    that runs alongside cross-document line dedup): re-chunk each doc
    into ``chunk``-token pseudo-lines, keep only the FIRST occurrence of
    each distinct chunk inside the doc, rebuild the text. Boilerplate
    that repeats inside one page (cookie banners pasted per section,
    templated nav blocks) collapses without any cross-document state.

    Output: (doc_id, n_chunks, n_removed, removed_frac, cleaned_text).

    Scale shape: ONE shuffle-free array-HOF projection — first-
    occurrence is ``array_position(chunks, c) == index`` inside a
    2-arg filter lambda, O(chunks² per doc) with chunks bounded by
    doc length / chunk; no explode, no window, nothing leaves the row.
    (Cross-document dedup is text_line_dedup's keyed aggregation —
    this is deliberately the stateless sibling.)
    """
    from casf_spark.functions.text import tokens as _tokens

    toks = _tokens(F.coalesce(F.col(text_col), F.lit("")))

    def body(a):
        nc = F.ceil(F.size(a) / F.lit(float(chunk))).cast("int")
        chunks_e = F.when(nc > 0, F.transform(
            F.sequence(F.lit(0), nc - 1),
            lambda c: F.array_join(F.slice(a, c * chunk + 1, chunk), " "))
        ).otherwise(F.array().cast("array<string>"))

        # chunks and keep are each referenced several times below —
        # let-bound so neither is re-evaluated per reference (the
        # _shingles O(len²) lesson)
        def with_keep(chunks):
            keep_e = F.filter(
                chunks,
                lambda ch, i: F.array_position(chunks, ch) == i + 1)
            return _bind(keep_e, lambda keep: F.struct(
                F.size(chunks).cast("long").alias("n_chunks"),
                (F.size(chunks) - F.size(keep)).cast("long")
                .alias("n_removed"),
                F.round((F.size(chunks) - F.size(keep))
                        / F.greatest(F.size(chunks), F.lit(1)), 6)
                .alias("removed_frac"),
                F.array_join(keep, " ").alias("cleaned_text")))

        return _bind(chunks_e, with_keep)

    s = _bind(toks, body)
    return df.select(F.col(id_col).cast("long").alias("doc_id"),
                     s.alias("_s")).select("doc_id", "_s.*")


def group_quantile_flag(df: DataFrame, group_col: str, score_col: str,
                        q: float = 0.25,
                        flag_col: str = "below_q") -> DataFrame:
    """Per-group quantile thresholding — the curation primitive behind
    per-language length/quality cuts (a fixed global threshold is wrong
    when score distributions differ by language/source: FineWeb-style
    pipelines cut per language): every row is flagged against ITS
    group's exact ``q``-quantile of ``score_col``.

    Appends two columns: the group's threshold (``q_threshold``, rounded
    to 6dp) and ``flag_col`` = score < threshold — the comparison runs
    against the ROUNDED threshold so both engines of an oracle pair
    evaluate the identical boolean.

    Scale shape: one group aggregation whose output is GROUP-cardinality
    rows (languages/sources — bounded), broadcast back, then a map-only
    comparison. The exact percentile sorts only within each group's
    aggregation buffer; at extreme per-group cardinality swap
    F.percentile for percentile_approx with a pinned accuracy — the plan
    shape is unchanged.
    """
    stats = (df.groupBy(group_col)
             .agg(F.round(F.percentile(score_col, F.lit(q)), 6)
                  .alias("q_threshold")))
    # null-safe join: a NULL group is a real group (groupBy emits a stats
    # row for it) — a plain equi-join would silently drop every NULL-group
    # row, contradicting "every row is flagged against ITS group"
    g2 = "__gq_group"
    return (df.join(F.broadcast(stats.withColumnRenamed(group_col, g2)),
                    F.col(group_col).eqNullSafe(F.col(g2)))
            .drop(g2)
            .withColumn(flag_col, F.col(score_col) < F.col("q_threshold")))


def learn_bpe_merges(df: DataFrame, id_col: str, text_col: str,
                     n_merges: int = 8) -> DataFrame:
    """Distributed BPE merge learning (Sennrich et al. 2016) — the
    canonical LLM tokenizer-training loop, word-token grain: repeatedly
    count adjacent symbol pairs across the corpus, pick the most
    frequent (ties: lexicographic), fuse it everywhere, repeat. Returns
    the learned merge table (step, lsym, rsym, pair_count) — the
    artifact a tokenizer ships.

    Representation: each document is a marker string ``<tok><tok>...``
    (tokens are [a-z0-9]+, fused symbols join with '+', so '<' '>' '+'
    never collide). Applying a merge is one literal ``replace('<l><r>',
    '<l+r>')`` — string replace is greedy non-overlapping left-to-right
    on BOTH engines (probed: '<a><a><a><a>' -> '<a+a><a+a>'), which IS
    BPE's within-sequence merge rule, and pair re-extraction is one
    regexp_extract_all. Fully deterministic; the DuckDB twin replays the
    identical chained stages.

    Scale shape (the iterative-Spark rules, same as
    pagerank_iterations): per merge step, ONE pair-count aggregation
    (map-side combined — the pair vocabulary, not the corpus, crosses
    the wire), a 1-row argmax broadcast back, and a map-only replace;
    the corpus string column localCheckpoints between steps so plans
    never nest. n_merges corpus passes is the honest cost of exact BPE —
    production trainers batch several merges per pass at a small
    exactness cost; this operator is the exact reference.
    """
    from casf_spark.functions.text import tokens as _tokens

    toks = _tokens(F.coalesce(F.col(text_col), F.lit("")))
    s = (df.select(F.col(id_col).cast("long").alias("doc"),
                   F.when(F.size(toks) > 0,
                          F.concat(F.lit("<"),
                                   F.array_join(toks, "><"),
                                   F.lit(">")))
                   .otherwise(F.lit("")).alias("s"))
         .localCheckpoint())
    merges = []
    empty_schema = ("step long, lsym string, rsym string, pair_count long")
    for step in range(1, n_merges + 1):
        # materialize the re-extracted symbol array as a COLUMN before
        # the sliding transform: referencing the regexp_extract_all
        # expression inside the lambda re-runs the regex once per
        # element — O(len^2) per doc (the _shingles lesson; measured
        # 42 s -> ~8 s for the 8-step loop at sf0.1)
        t = s.select(
            F.regexp_extract_all("s", F.lit("<([^>]*)>"), 1).alias("a"))
        a = F.col("a")
        pairs = (t.select(F.explode(
            F.when(F.size(a) >= 2,
                   F.transform(F.sequence(F.lit(0), F.size(a) - 2),
                               lambda i: F.struct(
                                   F.element_at(a, i + 1).alias("lsym"),
                                   F.element_at(a, i + 2).alias("rsym"))))
            .otherwise(F.array().cast(
                "array<struct<lsym:string,rsym:string>>"))).alias("p"))
            .select("p.lsym", "p.rsym"))
        # the 1-row argmax is a DRIVER-side side input (r13 optimization):
        # collect it once instead of localCheckpoint + isEmpty + broadcast
        # crossJoin — three driver round-trips and a broadcast build per
        # step for one bounded row. The TakeOrdered argmax is
        # deterministic (count desc, lexicographic), so the collected row
        # is the identical merge the joined spelling picked.
        best_rows = (pairs.groupBy("lsym", "rsym")
                     .agg(F.count(F.lit(1)).cast("long").alias("pair_count"))
                     .orderBy(F.desc("pair_count"), "lsym", "rsym")
                     .limit(1)
                     .collect())
        if not best_rows:
            # pairs exhausted before n_merges steps (tiny corpus): stop
            # the loop instead of fusing with an empty argmax. The DuckDB
            # twin mirrors this with LEFT JOIN ON TRUE + COALESCE (its
            # later m{i} CTEs stay empty, contributing no merge rows).
            break
        r = best_rows[0]
        merges.append((step, r["lsym"], r["rsym"], r["pair_count"]))
        if step < n_merges:
            s = (s.select("doc",
                          F.replace(
                              "s",
                              F.lit(f"<{r['lsym']}><{r['rsym']}>"),
                              F.lit(f"<{r['lsym']}+{r['rsym']}>"))
                          .alias("s"))
                 .localCheckpoint())
    return df.sparkSession.createDataFrame(merges, empty_schema)


def bpe_encode(df: DataFrame, id_col: str, text_col: str,
               merges_df: DataFrame) -> DataFrame:
    """Apply a learned BPE merge table (:func:`learn_bpe_merges`) to the
    corpus — the ENCODE side of the tokenizer pair. The merge table is a
    bounded driver-side side input (n_merges rows, the same contract as
    IVF codebooks): each merge becomes one literal string replace on the
    marker representation, chained in step order into a SINGLE map-only
    projection — encoding costs one corpus pass regardless of n_merges,
    no shuffle at all.

    Output: (doc_id, n_symbols, symbols_str) — the post-merge symbol
    sequence space-joined (scalar, oracle-hashable).
    """
    from casf_spark.functions.text import tokens as _tokens

    rows = merges_df.orderBy("step").collect()  # n_merges rows — bounded
    toks = _tokens(F.coalesce(F.col(text_col), F.lit("")))
    s = F.when(F.size(toks) > 0,
               F.concat(F.lit("<"), F.array_join(toks, "><"), F.lit(">"))
               ).otherwise(F.lit(""))
    for r in rows:
        s = F.replace(s, F.lit(f"<{r.lsym}><{r.rsym}>"),
                      F.lit(f"<{r.lsym}+{r.rsym}>"))
    base = df.select(F.col(id_col).cast("long").alias("doc_id"),
                     s.alias("s"))
    a = F.regexp_extract_all("s", F.lit("<([^>]*)>"), 1)
    return (base.select("doc_id", a.alias("a"))
            .select("doc_id",
                    F.size("a").cast("long").alias("n_symbols"),
                    F.array_join("a", " ").alias("symbols_str")))


def unigram_lm_pieces(df: DataFrame, id_col: str, text_col: str,
                      max_piece_len: int = 4,
                      vocab_size: int = 64) -> DataFrame:
    """SentencePiece-style unigram-LM piece vocabulary (Kudo 2018) —
    the EM-free frequency seed: every substring of every word token up
    to ``max_piece_len`` chars is a candidate piece; the top
    ``vocab_size`` by corpus occurrence count become the vocabulary,
    scored ``ln(cnt / total)`` (total = ALL candidate occurrences, so
    scores are comparable log-probabilities under the unigram model).
    Output: (rank, piece, cnt, score), rank by (cnt desc, piece asc).

    Scale shape: the substring explode multiplies tokens by
    O(len * max_piece_len) — bounded constant per token; one
    map-combined count aggregation; the vocabulary cut is
    orderBy().limit() (TakeOrderedAndProject — per-partition partial
    top-n, never a global sort of the candidate table); the total is a
    1-row aggregate broadcast; the rank window runs over the
    ``vocab_size`` surviving rows only.
    """
    from casf_spark.functions.text import tokens as _tokens

    toks = (df.select(F.explode(
        _tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("w")))
    w = F.col("w")
    subs = F.flatten(F.transform(
        F.sequence(F.lit(1), F.length(w)),
        lambda i: F.transform(
            F.sequence(F.lit(1),
                       F.least(F.lit(max_piece_len), F.length(w) - i + 1)),
            lambda l: F.substr(w, i, l))))
    pc = (toks.select(F.explode(subs).alias("piece"))
          .groupBy("piece").agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    total = pc.agg(F.sum("cnt").cast("double").alias("total"))
    top = pc.orderBy(F.desc("cnt"), F.asc("piece")).limit(vocab_size)
    win = Window.orderBy(F.desc("cnt"), F.asc("piece"))
    return (top.crossJoin(F.broadcast(total))
            .select("piece", "cnt",
                    F.round(F.log(F.col("cnt") / F.col("total")), 6)
                    .alias("score"))
            .withColumn("rank", F.row_number().over(win).cast("long"))
            .select("rank", "piece", "cnt", "score"))


#: unigram_lm_segment's broadcast-vocabulary guard: at most this many
#: distinct words are collected to the driver for the shuffle-free
#: lookup pass; larger vocabularies take the word-grain join path.
SEGMENT_BROADCAST_VOCAB_MAX = 1_000_000


def unigram_lm_segment(df: DataFrame, id_col: str, text_col: str,
                       pieces_df: DataFrame, piece_col: str = "piece",
                       score_col: str = "score",
                       broadcast_vocab_max: int =
                       SEGMENT_BROADCAST_VOCAB_MAX) -> DataFrame:
    """Viterbi segmentation of each word token under a unigram-LM piece
    vocabulary (:func:`unigram_lm_pieces`) — the ENCODE side of the
    SentencePiece pair: per token, the piece sequence maximizing the sum
    of piece scores. The piece table is a bounded driver-side side input
    (vocab_size rows — same contract as the BPE merge table).

    Determinism: characters absent from the vocabulary fall back to
    single-char pieces at (min_score - 10) each, so segmentation always
    succeeds; score ties prefer the longer final piece (the DP scans
    start positions left-to-right and keeps the first strict maximum).

    Scale shape (round-12 upgrade, VERDICT r11 item 3): the DP runs at
    VOCABULARY grain, not occurrence grain — each DISTINCT word of the
    corpus is segmented exactly ONCE (word-grain dedup → Arrow-batched
    mapInPandas over the distinct-word table; under the old per-task
    memo every task re-segmented nearly the full vocabulary, corpus DP
    cost ≈ tasks × |vocab|). Reassembly is adaptive: when the
    vocabulary fits ``broadcast_vocab_max`` (a guarded ``take`` — the
    overwhelmingly common case; real-corpus vocabularies are Zipf-
    bounded), the word→pieces map broadcasts and the corpus runs ONE
    shuffle-free Arrow-batched lookup pass, exactly the old plan minus
    the redundant DP; past the cap it falls back to a word-grain
    equi-join plus the doc-grain reassembly aggregation
    :func:`lm_causal_windows` already pays. Both paths are
    output-identical (pinned by test).

    Output: (doc_id, n_pieces, pieces_str) — space-joined per-document
    piece stream (scalar, oracle-hashable).
    """
    rows = pieces_df.select(piece_col, score_col).collect()  # bounded
    scores = {r[0]: float(r[1]) for r in rows}
    max_len = max((len(p) for p in scores), default=1)
    floor = (min(scores.values()) if scores else 0.0) - 10.0
    from casf_spark.functions.text import tokens as _tokens

    base = df.select(F.col(id_col).cast("long").alias("doc_id"),
                     _tokens(F.coalesce(F.col(text_col), F.lit("")))
                     .alias("toks"))

    def seg_word(word: str) -> list[str]:
        n = len(word)
        best = [float("-inf")] * (n + 1)
        back = [0] * (n + 1)
        best[0] = 0.0
        for j in range(1, n + 1):
            for i in range(max(0, j - max_len), j):
                piece = word[i:j]
                s = scores.get(piece)
                if s is None:
                    if j - i > 1:
                        continue
                    s = floor
                cand = best[i] + s
                if cand > best[j]:
                    best[j] = cand
                    back[j] = i
        out = []
        j = n
        while j > 0:
            i = back[j]
            out.append(word[i:j])
            j = i
        return out[::-1]

    def run(batches):
        import pandas as pd

        for pdf in batches:
            segs = [seg_word(w) for w in pdf["w"]]
            yield pd.DataFrame({
                "w": pdf["w"],
                "np": [len(s) for s in segs],
                "seg": [" ".join(s) for s in segs]})

    words = base.select(F.explode("toks").alias("w")).distinct()
    wordseg = words.mapInPandas(run, "w string, np long, seg string")

    head = wordseg.take(broadcast_vocab_max + 1)
    if len(head) <= broadcast_vocab_max:
        # broadcast fast path: the whole word→pieces map fits — one
        # shuffle-free Arrow-batched lookup pass over the corpus
        seg_map = {r["w"]: (r["np"], r["seg"]) for r in head}
        sc = df.sparkSession.sparkContext
        bc = sc.broadcast(seg_map)

        def assemble(batches):
            import pandas as pd

            m = bc.value
            for pdf in batches:
                nps, strs = [], []
                for toks in pdf["toks"]:
                    total, parts = 0, []
                    for w in toks:
                        np_, seg = m[w]
                        total += np_
                        parts.append(seg)
                    nps.append(total)
                    strs.append(" ".join(parts))
                yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                    "n_pieces": nps,
                                    "pieces_str": strs})

        return base.mapInPandas(
            assemble, "doc_id long, n_pieces long, pieces_str string")

    # join fallback: vocabulary too large to collect — word-grain
    # equi-join + doc-grain reassembly (output-identical, pinned)
    tok = base.select("doc_id", F.posexplode("toks").alias("pos", "w"))
    per = (tok.join(wordseg, "w")
           .groupBy("doc_id")
           .agg(F.sum("np").cast("long").alias("n_pieces"),
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(
                            F.struct("pos", "seg"))),
                        lambda s: s["seg"]), " ").alias("pieces_str")))
    # empty-token docs drop out of the posexplode — restore them with
    # (0, "") so every input row yields exactly one output row
    return (base.select("doc_id").join(per, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_pieces", F.lit(0)).cast("long")
                    .alias("n_pieces"),
                    F.coalesce("pieces_str", F.lit(""))
                    .alias("pieces_str")))


def mixture_plan(df: DataFrame, strata_col: str, text_col: str,
                 weights: dict[str, float], token_budget: int,
                 max_epochs: float = 4.0) -> DataFrame:
    """Data-mixture planning report: given measured per-stratum token
    counts, target mixture weights, and a total token budget, how many
    EPOCHS (passes) of each stratum does the recipe imply — and which
    strata would be repeated past the harm threshold (Muennighoff et al.
    2023 measure ~4 epochs as where repeated data stops helping). This is
    the sizing table a team reads BEFORE launching the expensive
    resample/training run — the planning companion to
    :func:`mixture_resample` (which executes a row-level mixture).

    Output per stratum: (stratum, n_docs, n_tokens, natural_share,
    target_weight, target_tokens, epochs, over_cap). Strata absent from
    ``weights`` get weight 0.0 (excluded from the recipe, epochs 0).

    Determinism: target_tokens is floor(weight * budget + 0.5) — an
    integer on both engines; epochs/natural_share divide integers and
    round 6dp, so the doubles are bit-identical. Scale shape: ONE
    map-combined aggregation to stratum grain (bounded rows); everything
    after is arithmetic on the tiny table.
    """
    from casf_spark.functions.text import tokens as _tokens

    w = F.lit(0.0)
    for k, v in sorted(weights.items()):
        w = F.when(F.col("stratum") == k, F.lit(float(v))).otherwise(w)
    ntok = F.size(_tokens(F.coalesce(F.col(text_col), F.lit(""))))
    per = (df.select(F.col(strata_col).alias("stratum"),
                     ntok.cast("long").alias("nt"))
           .groupBy("stratum")
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("nt").cast("long").alias("n_tokens")))
    total = per.agg(F.sum("n_tokens").cast("double").alias("total"))
    tgt = F.floor(w * F.lit(float(token_budget)) + F.lit(0.5)).cast("long")
    return (per.crossJoin(F.broadcast(total))
            .select(
                "stratum", "n_docs", "n_tokens",
                # greatest guard (the epochs column two lines down has
                # it already): an all-empty-text corpus has total = 0
                F.round(F.col("n_tokens")
                        / F.greatest(F.col("total"), F.lit(1.0)), 6)
                .alias("natural_share"),
                w.alias("target_weight"),
                tgt.alias("target_tokens"),
                F.round(tgt.cast("double")
                        / F.greatest(F.col("n_tokens"), F.lit(1)), 6)
                .alias("epochs"))
            .withColumn("over_cap",
                        F.col("epochs") > F.lit(float(max_epochs))))


def quantile_buckets(df: DataFrame, score_col: str, n_buckets: int = 10,
                     bucket_col: str = "bucket") -> DataFrame:
    """Global quantile bucketing — the curriculum-ordering primitive:
    every row gets the 1-based bucket of its score among ``n_buckets``
    equal-population quantile bands (decile 1 = easiest tenth). Unlike a
    global rank window (single-partition sort — the anti-pattern), the
    thresholds are ONE 1-row aggregation (n_buckets-1 exact quantiles,
    ROUNDED 6dp) broadcast back, and bucketing is a map-only fold:
    ``bucket = 1 + #(thresholds the score strictly exceeds)`` — ties at
    a threshold stay in the lower band on both engines. NULL scores get
    a NULL bucket (they are also invisible to F.percentile, so they
    influence no threshold) — without the explicit guard the when/
    otherwise fold would count zero exceeded thresholds and silently
    file NULL-score rows under bucket 1 ("easiest").

    At 100 TB swap F.percentile for percentile_approx with pinned
    accuracy; the plan shape (tiny agg broadcast + map-only compare) is
    unchanged — that is the point of threshold-join bucketing.
    """
    qs = [i / n_buckets for i in range(1, n_buckets)]
    th = df.agg(F.transform(
        F.percentile(score_col, F.array(*[F.lit(q) for q in qs])),
        lambda t: F.round(t, 6)).alias("_th"))
    b = F.lit(1) + F.aggregate(
        "_th", F.lit(0),
        lambda acc, t: acc + F.when(F.col(score_col) > t,
                                    F.lit(1)).otherwise(F.lit(0)))
    b = F.when(F.col(score_col).isNotNull(), b)
    return (df.crossJoin(F.broadcast(th))
            .withColumn(bucket_col, b.cast("long"))
            .drop("_th"))


def rank_buckets(df: DataFrame, group_col: str, score_col: str,
                 id_col: str,
                 labels: Sequence[str] = ("head", "middle", "tail"),
                 bucket_col: str = "bucket") -> DataFrame:
    """Per-group EXACT-rank bucketing — the CCNet move (Wenzek et al.
    2020): order each language's documents by LM surprise and split
    into equal head/middle/tail thirds (head = most fluent, the slice
    CCNet keeps). Generalized to ``len(labels)`` equal buckets.

    Buckets are defined by RANK under the total order ``(score, id)``,
    not by an interpolated quantile value: bucket j ends at rank
    ``ceil(j * n / k)`` (integer arithmetic), and the boundary element
    itself — (score, id), captured per group — is what rows compare
    against. That makes membership engine-exact: no interpolated
    percentile (two engines' ``a + (b-a)*frac`` vs ``a*(1-frac)+b*frac``
    can differ in the last bit), no tie ambiguity (the id breaks
    ties), and every bucket has exactly its integer share of rows.

    Plan shape: one group aggregation captures each group's sorted
    (score, id) list and picks the k-1 boundary elements; the
    boundaries table (group-cardinality rows) broadcasts back and rows
    fold map-only. The aggregation buffers each group — the same
    bounded-group caveat as :func:`group_quantile_flag`; at extreme
    per-group cardinality swap the boundary step for
    ``percentile_approx`` thresholds (same plan shape, approximate
    edges). Scores must be non-NULL (pre-round them — 6dp — so both
    engines of an oracle pair sort identical values); a NULL group is
    a real group (null-safe join, matching group_quantile_flag).
    """
    k = len(labels)
    if k < 2:
        raise ValueError("rank_buckets: need at least 2 labels")
    for c in df.columns:
        if c.startswith("__rb_"):
            raise ValueError(f"rank_buckets: input column {c!r} collides "
                             f"with internal __rb_ names")
    sorted_pairs = F.sort_array(F.collect_list(
        F.struct(F.col(score_col).alias("s"), F.col(id_col).alias("i"))))
    bounds = (df.groupBy(F.col(group_col).alias("__rb_g"))
              .agg(F.count(F.lit(1)).alias("__rb_n"),
                   sorted_pairs.alias("__rb_sorted"))
              .select("__rb_g",
                      *[F.expr(f"element_at(__rb_sorted, CAST((({j}) * "
                               f"__rb_n + {k - 1}) div {k} AS INT))")
                        .alias(f"__rb_b{j}") for j in range(1, k)]))
    out = df.join(F.broadcast(bounds),
                  F.col(group_col).eqNullSafe(F.col("__rb_g")))
    s, i = F.col(score_col), F.col(id_col)
    expr = None
    for j, label in enumerate(labels[:-1], start=1):
        b = F.col(f"__rb_b{j}")
        le = (s < b["s"]) | ((s == b["s"]) & (i <= b["i"]))
        expr = F.when(le, F.lit(label)) if expr is None else \
            expr.when(le, F.lit(label))
    expr = expr.otherwise(F.lit(labels[-1]))
    drop = [c for c in out.columns if c.startswith("__rb_")]
    return out.withColumn(bucket_col, expr).drop(*drop)


def t5_span_corruption(df: DataFrame, id_col: str, text_col: str,
                       every: int = 20, span_len: int = 3) -> DataFrame:
    """T5-style span-corruption example builder (Raffel et al. 2020):
    deterministic masked spans -> (input_text with ``<extra_id_K>``
    sentinels, target_text = sentinel + original tokens per span) — the
    denoising-pretraining data op, hash-seeded so the same document
    always yields the same example in every run and engine.

    Span starts are positions whose md5(doc:pos) hash is divisible by
    ``every`` (expected mask rate ~ span_len/every, the T5 ~15% at the
    20/3 default); each start masks ``span_len`` tokens; overlapping
    spans merge (maximal masked runs), and each run gets one sentinel,
    numbered left to right. Example for a span at positions 4-6:
    input ``... tok3 <extra_id_0> tok7 ...``, target
    ``<extra_id_0> tok4 tok5 tok6``.

    Plan shape: one token-grain explode + doc-partitioned windows (the
    masked-run construction is the LAG/running-SUM idiom of
    dedup.maximal_duplicated_spans — per-doc frames stay document-sized)
    and one per-doc re-assembly aggregation; shuffle volume is the
    token stream, the same class as any tokenize-and-shuffle operator.
    Docs with zero tokens produce no row (nothing to corrupt); a doc
    with no sampled start yields target_text = '' and input == tokens.

    Output: (doc, n_tokens, n_masked, n_spans, input_text, target_text).
    """
    if every < 2 or span_len < 1:
        raise ValueError(f"t5_span_corruption: need every >= 2 and "
                         f"span_len >= 1, got every={every}, "
                         f"span_len={span_len}")
    from casf_spark.functions.text import tokens as _tokens

    toks = df.select(
        F.col(id_col).cast("long").alias("doc"),
        F.posexplode(_tokens(F.coalesce(F.col(text_col), F.lit(""))))
        .alias("pos", "w"))
    flag = (md5_long(F.concat(F.col("doc").cast("string"), F.lit(":"),
                              F.col("pos").cast("string")))
            % F.lit(every) == 0)
    wdoc = Window.partitionBy("doc").orderBy("pos")
    t = toks.withColumn("__t5_start", flag)
    masked = (F.max(F.col("__t5_start").cast("int"))
              .over(wdoc.rowsBetween(-(span_len - 1), 0)) == 1)
    t = t.withColumn("__t5_masked", masked)
    begin = (F.col("__t5_masked") &
             ~F.coalesce(F.lag("__t5_masked").over(wdoc), F.lit(False)))
    t = t.withColumn("__t5_begin", begin)
    k = (F.sum(F.col("__t5_begin").cast("int"))
         .over(wdoc.rowsBetween(Window.unboundedPreceding, 0)) - 1)
    sentinel = F.concat(F.lit("<extra_id_"), k.cast("string"), F.lit(">"))
    inp = (F.when(~F.col("__t5_masked"), F.col("w"))
           .when(F.col("__t5_begin"), sentinel))
    tgt = F.when(F.col("__t5_begin"),
                 F.concat(sentinel, F.lit(" "), F.col("w"))) \
        .when(F.col("__t5_masked"), F.col("w"))
    t = t.select("doc", "pos", "__t5_masked", "__t5_begin",
                 inp.alias("__t5_in"), tgt.alias("__t5_tg"))

    def _joined(col):
        pieces = F.when(F.col(col).isNotNull(),
                        F.struct(F.col("pos"), F.col(col).alias("piece")))
        return F.array_join(
            F.transform(F.sort_array(F.collect_list(pieces)),
                        lambda s: s["piece"]), " ")

    return (t.groupBy("doc")
            .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                 F.sum(F.col("__t5_masked").cast("int")).cast("long")
                 .alias("n_masked"),
                 F.sum(F.col("__t5_begin").cast("int")).cast("long")
                 .alias("n_spans"),
                 _joined("__t5_in").alias("input_text"),
                 _joined("__t5_tg").alias("target_text")))


def unigram_lm_em_round(df: DataFrame, id_col: str, text_col: str,
                        max_piece_len: int = 4,
                        vocab_size: int = 64) -> DataFrame:
    """ONE EM round of the SentencePiece unigram LM (Kudo 2018),
    Viterbi-approximated: E-step segments every word occurrence under
    the frequency-seeded piece scores (:func:`unigram_lm_pieces` →
    :func:`unigram_lm_segment`); M-step re-estimates scores from the
    pieces the segmentation ACTUALLY USED — ln(use_count / total_uses).
    This is the re-estimation step the seed vocabulary is missing:
    substring counts double-count overlapping candidates ('th' and
    'the' both score high from the same occurrences), while usage
    counts are a proper partition of the token stream, so one round
    already shifts mass onto the pieces the model really segments with
    (the hard-EM variant of Kudo's E-step, deterministic by the
    longest-final-piece tie rule).

    Out-of-vocabulary single-char fallback pieces are counted too
    (old_score NULL) — exactly the candidates a pruning/expansion
    schedule would consider next. Output: (rank, piece, cnt, old_score,
    new_score); rank by (cnt desc, piece asc); the rank window runs
    over <= vocab_size + alphabet rows.

    Scale shape: the E-step is the segment pass (bounded side-input
    model, ONE Arrow-batched corpus pass, no shuffle) plus a
    piece-grain count aggregation (vocabulary-bounded key space →
    map-side combine); the M-step is a 1-row total broadcast.
    """
    pieces = unigram_lm_pieces(df, id_col, text_col,
                               max_piece_len=max_piece_len,
                               vocab_size=vocab_size)
    # materialize the learned vocabulary ONCE (r13 optimization, guide
    # §2.4): unigram_lm_segment collects pieces_df for its side-input
    # model, and the `old` join side below would otherwise re-run the
    # whole substring-explode + count + top-k pipeline a second time —
    # one extra full corpus pass for a 64-row table. The collected rows
    # are bounded (vocab_size) by the same contract segment relies on.
    pieces = df.sparkSession.createDataFrame(pieces.collect(),
                                             pieces.schema)
    seg = unigram_lm_segment(df, id_col, text_col, pieces)
    used = (seg.select(F.explode(F.split("pieces_str", " ")).alias("piece"))
            .where(F.col("piece") != ""))
    cnt = used.groupBy("piece").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"))
    tot = cnt.agg(F.sum("cnt").cast("double").alias("__em_t"))
    old = pieces.select("piece", F.col("score").alias("old_score"))
    win = Window.orderBy(F.desc("cnt"), F.asc("piece"))
    return (cnt.crossJoin(F.broadcast(tot))
            .join(F.broadcast(old), "piece", "left")
            .select("piece", "cnt", "old_score",
                    F.round(F.log(F.col("cnt") / F.col("__em_t")), 6)
                    .alias("new_score"))
            .withColumn("rank", F.row_number().over(win).cast("long"))
            .select("rank", "piece", "cnt", "old_score", "new_score"))


def lm_causal_windows(df: DataFrame, id_col: str, text_col: str,
                      ctx: int = 64, chunk: int = 1024) -> DataFrame:
    """GPT-style concat-and-chunk pretraining examples: the corpus'
    token stream in doc-id order is cut into fixed ``ctx``-token
    windows that CROSS document boundaries (the causal-LM counterpart
    of :func:`t5_span_corruption` — together they cover both
    pretraining objectives' data shapes). Output one row per window:
    (window_id, n_tokens, n_docs, first_doc, tokens_str); only the
    final window may be partial, and windows partition the stream
    exactly — no token dropped or duplicated.

    Scale design: each doc's GLOBAL start offset comes from the same
    two-level distributed prefix sum as :func:`pack_sequences` (per-
    chunk exclusive cumsum in parallel, the serial window only over
    the tiny chunk-totals table); tokens then explode with their
    global position and group by ``gpos div ctx`` — integer `div`, one
    token-grain shuffle, per-window frames bounded by ctx. The oracle
    twin uses the naive single global window (equal by associativity
    of +).
    """
    if ctx <= 0:
        raise ValueError(f"lm_causal_windows: ctx must be > 0, got {ctx}")
    from casf_spark.functions.text import tokens as _tokens

    base = df.select(
        F.col(id_col).cast("long").alias("doc"),
        _tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("toks"),
        F.floor(F.col(id_col).cast("long") / chunk).cast("long")
        .alias("ck"))
    base = base.withColumn("n_tok", F.size("toks").cast("long"))
    in_chunk = Window.partitionBy("ck").orderBy("doc") \
        .rowsBetween(Window.unboundedPreceding, -1)
    local = base.withColumn(
        "local_excl", F.coalesce(F.sum("n_tok").over(in_chunk), F.lit(0)))
    totals = base.groupBy("ck").agg(F.sum("n_tok").alias("ck_tok"))
    prior = Window.orderBy("ck").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "ck", F.coalesce(F.sum("ck_tok").over(prior), F.lit(0)).alias("off"))
    placed = (local.join(F.broadcast(offsets), "ck")
              .select("doc",
                      (F.col("off") + F.col("local_excl")).alias("start"),
                      F.posexplode("toks").alias("pos", "w"))
              .select("doc", "w",
                      (F.col("start") + F.col("pos")).alias("gpos"),
                      (F.col("pos") == 0).alias("doc_first"))
              .withColumn("window_id", F.expr(f"gpos div {ctx}")))
    pieces = F.sort_array(F.collect_list(F.struct("gpos", "w")))
    # in-window offsets where a NEW document begins — the positions a
    # trainer resets attention/loss at (a window whose first token
    # continues the previous window's doc has no leading 0)
    starts = F.array_join(
        F.transform(
            F.sort_array(F.collect_list(
                F.when(F.col("doc_first"),
                       F.col("gpos") % F.lit(ctx)))),
            lambda x: x.cast("string")), " ")
    return (placed.groupBy("window_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                 F.size(F.collect_set("doc")).cast("long").alias("n_docs"),
                 F.min("doc").alias("first_doc"),
                 starts.alias("doc_starts_str"),
                 F.array_join(F.transform(pieces, lambda s: s["w"]), " ")
                 .alias("tokens_str")))


def fim_examples(df: DataFrame, id_col: str, text_col: str,
                 min_tokens: int = 8) -> DataFrame:
    """Fill-in-the-middle example builder (Bavarian et al. 2022 — the
    code-LM infilling objective; with :func:`lm_causal_windows` and
    :func:`t5_span_corruption` this completes the pretraining-objective
    trio): each document splits at two hash-derived token cut points
    into (prefix, middle, suffix) and re-serializes in PSM order
    ``<PRE> prefix <SUF> suffix <MID> middle`` — the trained model
    learns to emit the middle given both sides.

    Cut points are ``md5(doc:a) % (n+1)`` and ``md5(doc:b) % (n+1)``,
    sorted — deterministic per document in every run and engine. Docs
    shorter than ``min_tokens`` are excluded (a FIM split of a tiny doc
    is noise — the published recipe transforms a fraction of documents,
    which callers control by sampling upstream). Degenerate cuts
    (p1 == p2, or a cut at the ends) are kept: empty segments are valid
    FIM training cases and serialize as empty strings.

    Map-only: one projection, array slices + joins, no shuffle at all.
    Output: (doc, n_tokens, p1, p2, fim_text).
    """
    if min_tokens < 1:
        raise ValueError("fim_examples: min_tokens must be >= 1")
    from casf_spark.functions.text import tokens as _tokens

    base = df.select(
        F.col(id_col).cast("long").alias("doc"),
        _tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("toks"))
    base = (base.withColumn("n_tokens", F.size("toks").cast("long"))
            .where(F.col("n_tokens") >= min_tokens))
    cut_a = md5_long(F.concat(F.col("doc").cast("string"), F.lit(":a"))) \
        % (F.col("n_tokens") + 1)
    cut_b = md5_long(F.concat(F.col("doc").cast("string"), F.lit(":b"))) \
        % (F.col("n_tokens") + 1)
    base = (base.withColumn("p1", F.least(cut_a, cut_b))
            .withColumn("p2", F.greatest(cut_a, cut_b)))
    # slice(arr, start, length) is 1-based; length 0 -> empty segment
    pre = F.array_join(F.slice("toks", F.lit(1), F.col("p1")), " ")
    mid = F.array_join(
        F.slice("toks", F.col("p1") + 1, F.col("p2") - F.col("p1")), " ")
    suf = F.array_join(
        F.slice("toks", F.col("p2") + 1,
                F.col("n_tokens") - F.col("p2")), " ")
    fim = F.concat(F.lit("<PRE> "), pre, F.lit(" <SUF> "), suf,
                   F.lit(" <MID> "), mid)
    return base.select("doc", "n_tokens",
                       F.col("p1").cast("long").alias("p1"),
                       F.col("p2").cast("long").alias("p2"),
                       fim.alias("fim_text"))


def filter_agreement_kappa(df: DataFrame, flag_a: Column,
                           flag_b: Column) -> DataFrame:
    """Cohen's kappa between two boolean filters — the agreement-
    beyond-chance diagnostic a curation stack runs before stacking
    quality gates (two filters that agree only at chance level are
    measuring different things; near-1 kappa means the second gate is
    redundant). ``kappa = (po - pe) / (1 - pe)`` with ``po`` the
    observed agreement rate and ``pe`` the chance rate implied by the
    two filters' marginals.

    ONE aggregation pass computes the full 2x2 confusion table (NULL
    flags count as FALSE — a filter that abstains rejects); po/pe/
    kappa derive from the integer counts with identical double
    arithmetic in both engines, rounded 6dp at output only. Constant
    filters (pe == 1) yield NULL kappa (undefined). Output: ONE row
    (n, n11, n10, n01, n00, po, pe, kappa).
    """
    a = F.coalesce(flag_a, F.lit(False))
    b = F.coalesce(flag_b, F.lit(False))

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    agg = df.agg(F.count(F.lit(1)).cast("long").alias("n"),
                 cnt(a & b).alias("n11"),
                 cnt(a & ~b).alias("n10"),
                 cnt(~a & b).alias("n01"),
                 cnt(~a & ~b).alias("n00"))
    # greatest guard: empty input -> n = 0 -> ANSI DIVIDE_BY_ZERO;
    # guarded, po = 0 and pe = 1 so kappa falls to its documented NULL
    nz = F.greatest(F.col("n"), F.lit(1))
    po = (F.col("n11") + F.col("n00")) / nz
    pa = (F.col("n11") + F.col("n10")) / nz
    pb = (F.col("n11") + F.col("n01")) / nz
    pe = pa * pb + (1 - pa) * (1 - pb)
    kappa = F.when(pe == 1.0, F.lit(None).cast("double")) \
        .otherwise(F.round((po - pe) / (1 - pe), 6))
    return agg.select("n", "n11", "n10", "n01", "n00",
                      F.round(po, 6).alias("po"),
                      F.round(pe, 6).alias("pe"),
                      kappa.alias("kappa"))


def boilerplate_lines(lines: DataFrame, group_col: str, doc_col: str,
                      line_col: str, min_frac: float = 0.5,
                      min_docs: int = 2) -> DataFrame:
    """Per-group boilerplate detection — the RefinedWeb/CCNet practice
    of stripping site chrome (headers, nav, cookie banners) by DOCUMENT
    frequency within a site: a line is boilerplate for a group (domain)
    when it appears in >= ``min_frac`` of the group's documents AND in
    at least ``min_docs`` documents (the floor keeps two-doc domains
    from declaring every shared line chrome). Output one row per
    detected (group, line): (group, line, line_docs, grp_docs).

    Scale shape: ONE aggregation to (group, line) grain with a
    count_distinct(doc) — map-side combined, keys bounded by DISTINCT
    lines (Zipf-light: most lines are unique and collapse to count 1
    in their map task) — plus a group-grain doc count joined back
    (broadcast: group cardinality << corpus). The threshold compare is
    ceil-based on exact integers, so both engines agree bit-for-bit.
    """
    if not 0.0 < min_frac <= 1.0:
        raise ValueError(f"boilerplate_lines: min_frac must be in "
                         f"(0, 1], got {min_frac}")
    # ONE pass over the line stream (r14, guide §2.4): the (group, line)
    # doc-frequency agg and the group doc-count agg are two consumers
    # with DIFFERENT keys, so exchange reuse cannot share them and the
    # caller's full line pipeline (tokenize -> chunk -> explode -> join)
    # ran twice. Both counts are counts over DISTINCT tuples, so dedup
    # once, materialize the deduped table (far smaller than the raw
    # stream), and derive each agg from it:
    #   count_distinct(doc) BY (group, line)  == count(doc) over distinct
    #     (group, line, doc) rows grouped by (group, line);
    #   count_distinct(doc) BY group          == count(doc) over distinct
    #     (group, doc) rows grouped by group.
    # count(doc_col), NOT count(*): count_distinct ignores NULL docs, and
    # distinct collapses them to one row that count(doc_col) also
    # ignores — bit-exact including all-NULL-doc groups.
    d3 = (lines.select(group_col, line_col, doc_col).distinct()
          .localCheckpoint())
    per = (d3.groupBy(group_col, line_col)
           .agg(F.count(F.col(doc_col)).cast("long").alias("line_docs")))
    gdocs = (d3.select(group_col, doc_col).distinct()
             .groupBy(group_col)
             .agg(F.count(F.col(doc_col)).cast("long").alias("grp_docs"))
             .withColumnRenamed(group_col, "__bp_grp"))
    # eqNullSafe: a NULL group (doc without a domain) is a real group
    # — this file's documented convention (group_quantile_flag) — and
    # a plain name join would exempt its lines from detection entirely
    return (per.join(F.broadcast(gdocs),
                     per[group_col].eqNullSafe(F.col("__bp_grp")))
            .where((F.col("line_docs")
                    >= F.ceil(F.col("grp_docs") * F.lit(float(min_frac))))
                   & (F.col("line_docs") >= F.lit(int(min_docs))))
            .select(group_col, line_col, "line_docs", "grp_docs"))


def contamination_flags_bloom(docs: DataFrame, benchmark: DataFrame,
                              id_col: str, text_col: str, n: int = 13,
                              min_hits: int = 1, m_bits: int = 1 << 20,
                              k: int = 5, seed: int = 7) -> DataFrame:
    """Bloom-gated test-set decontamination — OUTPUT-IDENTICAL to
    :func:`contamination_flags` (pinned by a differential test), but
    the corpus-side gram stream is pre-filtered MAP-ONLY through a
    fixed-size Bloom filter of the benchmark grams (the Dolma-BFF
    shape) before any join: at 100 TB the exact rule's broadcast of
    the full benchmark gram-hash set (8 bytes x grams) is replaced by
    an ``m_bits`` bitmap (fixed, independent of benchmark size), and
    the join input shrinks from every corpus gram occurrence to the
    maybe-hit residue (true contamination + the filter's fp rate).
    The exact rescue join then removes every false positive, so the
    gate changes the PLAN, never the answer.

    Size ``m_bits`` to the benchmark gram count (fp ~ (1-e^{-kn/m})^k);
    an undersized filter stays CORRECT — it just gates less and the
    rescue join pays the difference.
    """
    from .sketches import bloom_build, bloom_probe

    d = _shingles(docs, id_col, text_col, n, distinct=False)
    b = _shingles(benchmark, id_col, text_col, n, distinct=True) \
        .select("shingle").distinct()
    filt = bloom_build(b, F.col("shingle"), m_bits=m_bits, k=k, seed=seed)
    probed = bloom_probe(d, F.col("shingle"), filt, m_bits, k,
                         seed=seed, out_col="__ct_maybe")
    surv = probed.where(F.col("__ct_maybe")).drop("__ct_maybe")
    # exact rescue: survivors are contamination-sized, so this join
    # never sees corpus-scale input on either side (b is the benchmark
    # gram set; let AQE pick broadcast vs shuffle by its actual size)
    return (surv.join(b, "shingle")
            .groupBy("doc")
            .agg(F.countDistinct("shingle").alias("n_hits"))
            .where(F.col("n_hits") >= min_hits))


def quantile_normalize(df: DataFrame, group_col: str, doc_col: str,
                       score_col: str, k: int = 10) -> DataFrame:
    """Per-group quantile normalization — the score-harmonization step
    a multi-crawl pipeline runs before ranking documents from
    DIFFERENT sources on one scale (a 0.8 quality score from a clean
    crawl and from a spam-heavy crawl mean different things;
    CCNet-style pipelines compare ranks, not raw scores): every row's
    score is replaced by the GLOBAL distribution's value at its
    within-group quantile position. Discretized to ``k`` tiles: rows
    get their within-group NTILE(k) (ordered by (score, doc) — total,
    engine-stable), and map to the global quantile at the tile's
    midpoint ((tile - 0.5) / k), so after normalization every group's
    tile-j rows carry the same calibrated value.

    Output: df columns plus (tile, score_norm). NULL scores get NULL
    tile/score_norm (excluded from the window, invisible to the
    percentiles).

    Scale shape: ONE 1-row global aggregation (k midpoint percentiles,
    6dp-rounded) broadcast back, plus one shuffle on the group key for
    the NTILE window — per-group work, never a global sort. At extreme
    per-group cardinality swap F.percentile for percentile_approx with
    pinned accuracy; the shape is unchanged.
    """
    if k <= 1:
        raise ValueError(f"quantile_normalize: k must be > 1, got {k}")
    mids = [(i - 0.5) / k for i in range(1, k + 1)]
    gq = df.agg(F.transform(
        F.percentile(score_col, F.array(*[F.lit(q) for q in mids])),
        lambda t: F.round(t, 6)).alias("__qn_g"))
    w = Window.partitionBy(group_col).orderBy(F.col(score_col),
                                              F.col(doc_col))
    scored = df.where(F.col(score_col).isNotNull())
    out = (scored.withColumn("__qn_t", F.ntile(k).over(w))
           .crossJoin(F.broadcast(gq))
           .withColumn("score_norm",
                       F.element_at("__qn_g", F.col("__qn_t")))
           .withColumn("tile", F.col("__qn_t").cast("long"))
           .drop("__qn_t", "__qn_g"))
    nulls = (df.where(F.col(score_col).isNull())
             .withColumn("tile", F.lit(None).cast("long"))
             .withColumn("score_norm", F.lit(None).cast("double")))
    return out.unionByName(nulls)


def quantile_match(df: DataFrame, ref: DataFrame, group_col: str,
                   doc_col: str, score_col: str,
                   ref_score_col: str | None = None,
                   k: int = 10) -> DataFrame:
    """Two-corpus quantile matching — calibrate ``df``'s scores onto a
    REFERENCE corpus's distribution (the cross-corpus counterpart of
    :func:`quantile_normalize`, which calibrates onto the corpus's own
    global distribution): a new crawl's quality scores are mapped so
    that "p-th percentile of the new crawl, within its source" reads as
    the REFERENCE distribution's value at that percentile — the
    standard move before comparing or thresholding a fresh crawl with
    cutoffs tuned on a trusted one (quantile mapping / distribution
    matching, the same construction climate/statistics literature
    calls quantile-quantile calibration).

    Discretized to ``k`` tiles exactly like quantile_normalize: rows
    get their within-group NTILE(k) over the (score, doc) total order
    (engine-stable), and map to the REFERENCE corpus's quantile at the
    tile midpoint ((tile - 0.5) / k, 6dp-rounded). NULL scores get
    NULL tile/score_matched.

    Scale shape: ONE 1-row aggregation over the reference (k midpoint
    percentiles) broadcast back, plus one shuffle of ``df`` on the
    group key for the NTILE window — the reference corpus never joins
    row-to-row, never reshuffles ``df``. Output: df columns plus
    (tile, score_matched).
    """
    if k <= 1:
        raise ValueError(f"quantile_match: k must be > 1, got {k}")
    rcol = ref_score_col if ref_score_col is not None else score_col
    mids = [(i - 0.5) / k for i in range(1, k + 1)]
    gq = ref.agg(F.transform(
        F.percentile(rcol, F.array(*[F.lit(q) for q in mids])),
        lambda t: F.round(t, 6)).alias("__qm_g"))
    w = Window.partitionBy(group_col).orderBy(F.col(score_col),
                                              F.col(doc_col))
    scored = df.where(F.col(score_col).isNotNull())
    out = (scored.withColumn("__qm_t", F.ntile(k).over(w))
           .crossJoin(F.broadcast(gq))
           .withColumn("score_matched",
                       F.element_at("__qm_g", F.col("__qm_t")))
           .withColumn("tile", F.col("__qm_t").cast("long"))
           .drop("__qm_t", "__qm_g"))
    nulls = (df.where(F.col(score_col).isNull())
             .withColumn("tile", F.lit(None).cast("long"))
             .withColumn("score_matched", F.lit(None).cast("double")))
    return out.unionByName(nulls)
