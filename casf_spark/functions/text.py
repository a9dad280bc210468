"""Text-analysis functions: tokenization, term counts, quality scoring,
language ID, token counting, document fingerprinting.

Parity: the reference's demo front end (KeyWordsDemo.scala, "KWD") tokenizes
with the ansj Chinese segmenter inside a typed flatMap (KWD:47-58) and
filters stop words collected to the driver (KWD:31-43). Ours is a pluggable
``Column -> Column`` tokenizer (regex default; a CJK pandas_udf could slot
in), with stop-word removal as a JVM-side predicate / broadcast anti-join —
no driver collect, no Python in the hot path.

Everything here is built-in Column expressions → whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: the token pattern: split on any non-alphanumeric run (lowercased).
TOKEN_SPLIT_PATTERN = "[^a-z0-9]+"

#: small default English stop-word list (the demo's 746-entry Chinese list,
#: KWD src/test/data/中文停用词表.txt, is corpus-specific; ours matches the
#: synthetic English-ish test corpus).
DEFAULT_STOPWORDS = ("a", "the", "of", "and", "to", "in", "is", "it")

#: marker words per language for the n-gram/keyword language-ID heuristic.
LANG_MARKERS = {
    "en": ("the", "and", "is", "of", "a"),
    "es": ("el", "la", "los", "de", "y"),
    "fr": ("le", "les", "et", "une", "des"),
    "de": ("der", "die", "und", "das", "ein"),
}
LANG_PRIORITY = ("en", "es", "fr", "de")  # deterministic argmax tie-break


def tokens(col: Column | str) -> Column:
    """Lowercase + regex-split tokenizer returning array<string> with empty
    tokens removed. The pluggable seam replacing the demo's ansj flatMap
    (KWD:47-58). No lambda, so it stays inside whole-stage codegen."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(F.lower(c), TOKEN_SPLIT_PATTERN), "")


def tokenize(df: DataFrame, id_col: str, text_col: str,
             tokenizer=None) -> DataFrame:
    """Explode documents to (id, pos, word) — one row per token occurrence.

    ``tokenizer`` is the pluggable seam (Column -> Column(array<string>)):
    pass :func:`cjk_tokens` for mixed CJK text or :func:`jieba_tokenizer`'s
    result for dictionary segmentation; default is the regex tokenizer.
    """
    tok = (tokenizer(F.col(text_col)) if tokenizer is not None
           else tokens(text_col))
    return df.select(
        F.col(id_col).cast("string").alias("doc"),
        F.posexplode(tok).alias("pos", "word"),
    )


def term_counts(df: DataFrame, id_col: str, text_col: str,
                stopwords: Sequence[str] | DataFrame | None = DEFAULT_STOPWORDS,
                tokenizer=None) -> DataFrame:
    """Term-frequency COO matrix (y=doc, x=word, value=count) feeding
    CosineAnalyser — the KWD pipeline (tokenize -> stop-filter -> A5 count).

    ``stopwords`` may be a literal list (compiled to an IN predicate) or a
    one-column DataFrame (broadcast anti-join — replaces the reference's
    driver-side collectAsList, KWD:43). ``tokenizer`` plugs a custom
    Column->Column tokenizer through to :func:`tokenize`.
    """
    toks = tokenize(df, id_col, text_col, tokenizer)
    if isinstance(stopwords, DataFrame):
        sw = stopwords.select(F.col(stopwords.columns[0]).alias("word"))
        toks = toks.join(F.broadcast(sw), "word", "left_anti")
    elif stopwords:
        toks = toks.where(~F.col("word").isin(list(stopwords)))
    return (
        toks.groupBy(F.col("doc").alias("y"), F.col("word").alias("x"))
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
    )


def token_count(col: Column | str) -> Column:
    """Number of tokens in a text column."""
    return F.size(tokens(col))


#: CJK codepoint ranges: Han unified, hiragana/katakana, hangul syllables.
CJK_RUN_PATTERN = ("[\\u4e00-\\u9fff\\u3040-\\u30ff\\uac00-\\ud7af]+")


def cjk_tokens(col: Column | str) -> Column:
    """Tokenizer for mixed CJK/latin text: latin/digit word tokens plus
    **character bigrams** of each CJK run — the standard dictionary-free IR
    fallback for unsegmented scripts (CJK has no word whitespace, so the
    default regex tokenizer drops those chars entirely).

    Parity note: the reference demo segments Chinese with the ansj library
    inside a flatMap (KeyWordsDemo.scala:47-58). A dictionary segmenter is
    pluggable here via ``jieba_tokenizer()`` (pandas_udf, needs jieba
    installed); this bigram form is the deterministic, JVM-only default —
    bigram term vectors are the classic approximation for CJK cosine
    similarity. Single-char runs are kept whole.

    All Column expressions: regexp run extraction + per-run sliding
    substrings via transform (no Python, no shuffle).
    """
    c = F.col(col) if isinstance(col, str) else col
    latin = tokens(c)
    runs = F.regexp_extract_all(c, F.lit(CJK_RUN_PATTERN), F.lit(0))
    bigrams = F.flatten(F.transform(
        runs,
        lambda r: F.when(
            F.length(r) >= 2,
            F.transform(F.sequence(F.lit(1), F.length(r) - 1),
                        lambda i: F.substring(r, i, 2)),
        ).otherwise(F.array(r))))
    return F.concat(latin, bigrams)


def jieba_tokenizer(user_dict: str | None = None):
    """Dictionary-based Chinese segmentation as an Arrow-batched pandas_udf
    (Column -> Column(array<string>)) — the direct replacement for the
    reference's ansj flatMap when the ``jieba`` package is installed.

    Raises ImportError with guidance when jieba is absent (this container
    does not ship it); callers fall back to :func:`cjk_tokens`.
    """
    try:
        import jieba
    except ImportError as e:
        raise ImportError(
            "jieba is not installed; use cjk_tokens() (character bigrams) "
            "or pip-install jieba in your cluster image") from e
    if user_dict:
        jieba.load_userdict(user_dict)

    def segment(texts):
        return texts.map(lambda t: [w for w in jieba.lcut(t or "")
                                    if w.strip()])

    return _series_pandas_udf(segment, "array<string>")


def _series_pandas_udf(fn, return_type: str):
    """Wrap a Series->Series function as a SCALAR pandas_udf with explicit
    type hints. This module uses ``from __future__ import annotations``, so
    inline ``pd.Series`` hints stringify and PySpark's hint inference cannot
    resolve them against module globals — real annotations are attached
    here instead."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    fn.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(return_type)(fn)


def dict_tokenizer(vocab, stopwords=None):
    """Dictionary-based CJK segmentation with NO external dependency:
    forward maximum matching (FMM) over a caller-supplied vocabulary, as an
    Arrow-batched pandas_udf (Column -> Column(array<string>)).

    Runtime answer to the reference demo's ansj segmentation
    (KeyWordsDemo.scala:47-58) for containers without jieba: latin/digit
    runs tokenize as whole words; each CJK run is segmented greedily
    longest-match-first against ``vocab``; CJK chars not starting any vocab
    word fall out as single characters (the FMM convention). Deterministic
    — same vocab, same split.

    ``stopwords`` mirrors ansj's ``StopRecognition.insertStopWords``
    (KeyWordsDemo.scala:31-43): the filter applies to the SEGMENTED
    result, after matching — so a stopword that is also a vocab word is
    segmented as a unit and then dropped, exactly as
    ``ToAnalysis.parse(...).recognition(stopper)`` behaves. Punctuation
    needs no entry: the run pattern already passes only CJK/latin/digit
    chars (the demo's commented-out ``insertStopNatures("w")``).

    The vocab set ships inside the UDF closure (serialized once per task);
    for dictionaries beyond a few hundred thousand entries, distribute the
    file to executors and load lazily instead.
    """
    import re

    words = frozenset(w for w in vocab if w)
    stops = frozenset(stopwords or ())
    maxlen = max(map(len, words)) if words else 1
    # \uXXXX escapes parse identically in Python re and Java regex, so the
    # shared CJK_RUN_PATTERN constant is reused verbatim
    run_re = re.compile(r"[a-z0-9]+|" + CJK_RUN_PATTERN)
    latin_re = re.compile(r"[a-z0-9]+")

    def _fmm(run: str) -> list[str]:
        out, i, n = [], 0, len(run)
        while i < n:
            for ln in range(min(maxlen, n - i), 1, -1):
                if run[i:i + ln] in words:
                    out.append(run[i:i + ln])
                    i += ln
                    break
            else:
                out.append(run[i])
                i += 1
        return out

    def _seg(t: str) -> list[str]:
        toks: list[str] = []
        for m in run_re.finditer((t or "").lower()):
            s = m.group(0)
            if latin_re.fullmatch(s):
                toks.append(s)
            else:
                toks.extend(_fmm(s))
        if stops:
            toks = [w for w in toks if w not in stops]
        return toks

    def segment(texts):
        return texts.map(_seg)

    return _series_pandas_udf(segment, "array<string>")


#: BPE-ish pre-tokenizer pattern (GPT-2-style splitter, lowercased form):
#: contractions, space-prefixed word/number runs, punctuation runs. Uses no
#: lookarounds so it behaves identically under Java regex and RE2 (DuckDB).
BPE_ISH_PATTERN = r"'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9']+"


def bpe_ish_tokens(col: Column | str) -> Column:
    """BPE-style pre-tokenization of lowercased text — the token-count
    proxy an LLM-data pipeline uses for budget accounting (whitespace
    splitting undercounts punctuation-heavy text)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(BPE_ISH_PATTERN), F.lit(0))


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document token accounting: whitespace tokens, regex word tokens,
    BPE-ish tokens, chars."""
    return df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.size(whitespace_words(F.col(text_col))).cast("long")
        .alias("n_ws_tokens"),
        token_count(text_col).cast("long").alias("n_word_tokens"),
        F.size(bpe_ish_tokens(text_col)).cast("long").alias("n_bpe_tokens"),
        F.length(text_col).cast("long").alias("n_chars"),
    )


def whitespace_words(col: Column) -> Column:
    """Whitespace-split words, empty strings removed (Gopher's word unit)."""
    return F.array_remove(F.split(col, r"\s+"), "")


def nonempty_lines(col: Column) -> Column:
    """Newline-split lines that are not blank, i.e. not only spaces
    (Gopher's line unit): each newline-free run holding a non-space
    character. One regex and no lambda, so it stays inside whole-stage
    codegen."""
    return F.regexp_extract_all(col, F.lit(r"[^\n]*[^ \n][^\n]*"), F.lit(0))


#: the token-array columns :func:`with_token_arrays` adds and the feature
#: builders below read: regex tokens, whitespace words, non-empty lines
TOKS, WORDS, LINES = "_toks", "_words", "_lines"
TOKEN_ARRAYS = {TOKS: tokens, WORDS: whitespace_words, LINES: nonempty_lines}


def with_token_arrays(df: DataFrame, text_col: str, *names: str) -> DataFrame:
    """``df`` plus the named :data:`TOKEN_ARRAYS` of ``text_col``, each
    split exactly once per row — the one place the feature builders below
    get their arrays from.

    The arrays come out of a ``Generate`` (``explode`` over a one-element
    array of one struct: one output row per input row; a NULL text gives
    NULL arrays). A plain projection is not enough: Catalyst pushes a
    downstream filter below it and inlines the tokenizer into every
    reference, so the filter splits the text again, once per reference
    where a higher-order-function lambda around it keeps subexpression
    elimination from merging the copies (``curate_documents`` planned 54
    ``split`` calls per row that way). A filter that reads the arrays
    stops above the ``Generate``.

    The arrays are read as fields of the exploded struct, so when a
    projection sits directly on the ``Generate`` Catalyst prunes the
    fields no downstream column reads, and their splits with them. A
    filter on a feature directly above the ``Generate`` blocks that
    pruning: every named array is then built.
    """
    c = F.col(text_col)
    arrays = F.struct(*[TOKEN_ARRAYS[n](c).alias(n) for n in names])
    return (df.select("*", F.explode(F.array(arrays)).alias("_arrays"))
            .select("*", *[F.col("_arrays")[n].alias(n) for n in names])
            .drop("_arrays"))


def quality_exprs(text_col: str) -> dict[str, Column]:
    """The six quality-metric Columns keyed by output name — importable so
    composite pipelines (operators.pipeline.curate_documents) can evaluate
    them inline in ONE scan instead of joining per-feature outputs.

    The tokens are the :data:`TOKS` array of :func:`with_token_arrays`;
    ``text_col`` feeds only the character counts; ``stopword_ratio``
    counts :data:`DEFAULT_STOPWORDS`."""
    tok = F.col(TOKS)
    text = F.col(text_col)
    sw = F.array(*[F.lit(w) for w in DEFAULT_STOPWORDS])
    n_tokens = F.size(tok)
    n_chars = F.length(text)
    n_stop = F.size(F.filter(tok, lambda t: F.array_contains(sw, t)))
    total_tok_len = F.aggregate(
        F.transform(tok, lambda t: F.length(t)), F.lit(0),
        lambda acc, x: acc + x)
    n_digits = n_chars - F.length(F.regexp_replace(text, "[0-9]", ""))
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "avg_token_len": F.round(
            F.when(n_tokens > 0, total_tok_len.cast("double") / n_tokens)
            .otherwise(F.lit(0.0)), 6),
        "stopword_ratio": F.round(
            F.when(n_tokens > 0, n_stop.cast("double") / n_tokens)
            .otherwise(F.lit(0.0)), 6),
        "digit_ratio": F.round(
            n_digits.cast("double") / F.greatest(n_chars, F.lit(1)), 6),
        "punct_ratio": F.round(
            n_punct.cast("double") / F.greatest(n_chars, F.lit(1)), 6),
    }


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document quality metrics for pipeline filtering:

    n_chars, n_tokens, avg_token_len, stopword_ratio, digit_ratio,
    punct_ratio — all as JVM-side expressions over one pass, tokenizing
    each document once.
    """
    q = quality_exprs(text_col)
    return with_token_arrays(df, text_col, TOKS).select(
        F.col(id_col).alias("doc_id"),
        *[c.alias(name) for name, c in q.items()],
    )


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keyword-marker language-ID heuristic.

    Counts marker-word hits per language over the token stream; predicts the
    highest-scoring language in fixed priority order (ties and zero scores
    fall through to 'und'). Deterministic, SQL-expressible, cheap: one
    pass, no shuffle (scores are computed per row from the token array,
    not via explode), tokenizing each document once.
    """
    scores = lang_score_exprs()
    return with_token_arrays(df, text_col, TOKS).select(
        F.col(id_col).alias("doc_id"),
        *[scores[lang].cast("long").alias(f"score_{lang}")
          for lang in LANG_PRIORITY],
        lang_pred_expr().alias("pred_lang"),
    )


def lang_score_exprs() -> dict[str, Column]:
    """Per-language marker-hit counts over the :data:`TOKS` array (see
    lang_id)."""
    tok = F.col(TOKS)
    scores = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        scores[lang] = F.size(F.filter(tok, lambda t: F.array_contains(arr, t)))
    return scores


def lang_pred_expr() -> Column:
    """The lang_id decision over the :data:`TOKS` array as a single
    Column: the highest-scoring language, ties to the earlier one in
    :data:`LANG_PRIORITY`, 'und' when no marker hits or the text is NULL.
    One ``greatest`` over (score, priority, lang) structs, so each score
    is referenced once."""
    scores = lang_score_exprs()
    n = len(LANG_PRIORITY)
    best = F.greatest(*[
        F.struct(scores[lang].alias("score"), F.lit(n - i).alias("prio"),
                 F.lit(lang).alias("lang"))
        for i, lang in enumerate(LANG_PRIORITY)])
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def normalize_text(col: Column | str) -> Column:
    """Canonical text form for fingerprinting/dedup: lowercase, collapse
    whitespace runs, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    Stable across engines (DuckDB md5 produces identical digests), unlike
    Spark's murmur3 ``hash``."""
    return F.md5(normalize_text(col))


def collision_key(col: Column | str) -> Column:
    """OpenRefine-style clustering key: the document's DISTINCT tokens,
    sorted and re-joined. Token order, repetition, punctuation, and case
    all normalize away, so reordered/reworded-but-same-bag-of-words
    variants collide on one key — the classic key-collision fuzzy-match
    method (cheap, transitive, no pairwise comparison).

    DuckDB twin: ``array_to_string(list_sort(list_distinct(toks)), ' ')``.
    """
    return F.array_join(F.array_sort(F.array_distinct(tokens(col))),
                        " ")


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str,
                        k: int = 5, w: int = 4) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., "Winnowing: Local
    Algorithms for Document Fingerprinting", SIGMOD'03): hash every token
    k-gram, then keep the minimum hash of each sliding window of ``w``
    consecutive k-gram hashes. Two documents sharing a run of >= k+w-1
    tokens are *guaranteed* to share a fingerprint — the partial-overlap
    detector exact dedup misses and whole-doc hashing can't see.

    Everything runs inside array higher-order functions on one row — no
    explode until the final distinct-fingerprint emission, so the per-doc
    work never shuffles. Short docs (< k tokens) emit nothing; docs with
    fewer than ``w`` k-grams emit their global min. Output: (doc, fp)
    distinct, conforming to schemas.WINNOW_FP. Overlap candidates are then
    one self equi-join on ``fp`` (same shape as the shingle join in
    operators.dedup, but over the winnowed ~1/w subsample).
    """
    from pyspark.sql import Window

    # One projection per stage so each expression evaluates once per row:
    # referencing the raw ``tokens()`` expression inside an array lambda
    # re-tokenizes the document per lambda element — O(len²) per doc
    # (measured 28 s vs <1 s on 500 docs). Materializing ``toks`` as a
    # column first keeps it a single evaluation (CollapseProject declines
    # to re-inline a non-cheap alias referenced more than once).
    tok_df = df.select(F.col(id_col).cast("long").alias("doc"),
                       tokens(text_col).alias("toks"))
    grams = tok_df.select(
        "doc",
        F.when(
            F.size("toks") >= k,
            F.transform(F.sequence(F.lit(0), F.size("toks") - k),
                        lambda i: F.array_join(F.slice("toks", i + 1, k), " ")),
        ).otherwise(F.array().cast("array<string>")).alias("grams"))
    # one row per k-gram with its rolling 60-bit hash (md5-derived:
    # DuckDB-reproducible), then the window min per sliding group of w
    hashed = grams.select(
        "doc", F.posexplode("grams").alias("pos", "gram")
    ).select(
        "doc", "pos",
        F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10)
        .cast("long").alias("h"))
    win = Window.partitionBy("doc").orderBy("pos").rowsBetween(0, w - 1)
    whole = Window.partitionBy("doc")
    # keep only full windows (pos <= n-w); docs with fewer than w k-grams
    # keep pos 0, whose "window" min degrades to the global min
    out = (hashed
           .withColumn("wmin", F.min("h").over(win))
           .withColumn("n", F.count(F.lit(1)).over(whole))
           .where(F.col("pos") <= F.greatest(F.col("n") - w, F.lit(0)))
           .select("doc", F.col("wmin").alias("fp"))
           .distinct())
    from casf_spark import schemas
    return schemas.conform(out, schemas.WINNOW_FP)


#: the Gopher rule's required English words (Rae et al. 2021, A1.1):
#: a document must contain at least two of them to pass.
GOPHER_REQUIRED_WORDS = ("the", "be", "to", "of", "and", "that",
                         "have", "with")


def gopher_exprs(text_col: str) -> dict[str, Column]:
    """The Gopher quality-rule metric Columns (Rae et al. 2021,
    arXiv:2112.11446 Appendix A1.1 — the ruleset later reused by
    RedPajama/Dolma/DataTrove), keyed by output name. All shuffle-free
    single-pass expressions over whitespace words and newline lines:

      * n_words in [50, 100000]
      * mean word length in [3, 10]
      * '#'-or-'...'-to-word ratio <= 0.1
      * <= 90% of lines start with a bullet (-, *, •)
      * <= 30% of lines end with '...'
      * >= 80% of words contain an alphabetic character
      * at least 2 of :data:`GOPHER_REQUIRED_WORDS` present

    The arrays are :func:`with_token_arrays`' :data:`TOKS`, :data:`WORDS`
    and :data:`LINES` of the document; ``text_col`` feeds only the
    character counts. ``passes_gopher`` is the conjunction, computed FROM
    the rounded ratio columns so the oracle SQL compares bit-identical
    doubles.

    NULL text counts as empty (0 words / 0 lines, fails the word-count
    rule) rather than poisoning the metrics via Spark's size(NULL).
    """
    empty = F.array().cast("array<string>")
    txt = F.coalesce(F.col(text_col), F.lit(""))
    words = F.coalesce(F.col(WORDS), empty)
    lines = F.coalesce(F.col(LINES), empty)
    n_words = F.size(words)
    wdiv = F.greatest(n_words, F.lit(1))
    total_len = F.aggregate(F.transform(words, F.length), F.lit(0),
                            lambda acc, x: acc + x)
    mean_word_len = F.round(total_len.cast("double") / wdiv, 6)
    n_hash = F.length(txt) - F.length(F.replace(txt, F.lit("#"), F.lit("")))
    n_ellipsis = (F.length(txt) - F.length(
        F.replace(txt, F.lit("..."), F.lit("")))) / F.lit(3)
    symbol_word_ratio = F.round((n_hash + n_ellipsis) / wdiv, 6)
    ldiv = F.greatest(F.size(lines), F.lit(1))
    bullet_line_frac = F.round(
        F.size(F.filter(lines,
                        lambda l: F.trim(l).rlike(r"^[-*•]")))
        / ldiv, 6)
    ellipsis_line_frac = F.round(
        F.size(F.filter(lines, lambda l: F.trim(l).endswith(F.lit("..."))))
        / ldiv, 6)
    alpha_word_frac = F.round(
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / wdiv, 6)
    low = F.col(TOKS)
    n_required = F.size(F.filter(
        F.array(*[F.lit(w) for w in GOPHER_REQUIRED_WORDS]),
        lambda r: F.array_contains(low, r)))
    out: dict[str, Column] = {
        "n_words": n_words.cast("long"),
        "mean_word_len": mean_word_len,
        "symbol_word_ratio": symbol_word_ratio,
        "bullet_line_frac": bullet_line_frac,
        "ellipsis_line_frac": ellipsis_line_frac,
        "alpha_word_frac": alpha_word_frac,
        "n_required_stopwords": n_required.cast("long"),
    }
    out["passes_gopher"] = (
        (out["n_words"] >= 50) & (out["n_words"] <= 100_000)
        & (out["mean_word_len"] >= 3.0) & (out["mean_word_len"] <= 10.0)
        & (out["symbol_word_ratio"] <= 0.1)
        & (out["bullet_line_frac"] <= 0.9)
        & (out["ellipsis_line_frac"] <= 0.3)
        & (out["alpha_word_frac"] >= 0.8)
        & (out["n_required_stopwords"] >= 2))
    return out


def gopher_quality(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document Gopher rule metrics + pass flag (:func:`gopher_exprs`):
    one narrow map-only pass — no shuffle, no UDF, each array split once
    per document, and only the arrays the selected columns read
    (:func:`with_token_arrays`)."""
    g = gopher_exprs(text_col)
    return (with_token_arrays(df, text_col, TOKS, WORDS, LINES)
            .select(F.col(id_col).cast("long").alias("doc_id"),
                    *[c.alias(n) for n, c in g.items()]))
