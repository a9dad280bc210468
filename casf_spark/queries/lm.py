"""Language-model data preparation: n-gram and unigram-LM scoring,
BPE / unigram tokenizers, training examples, packing and shards."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from casf_spark.functions import text as TX
from casf_spark.operators import curation as CU
from casf_spark.operators import relevance as RV
from casf_spark.sources.tables import load_table
from casf_spark.queries._common import _TOKS
from casf_spark.queries._registry import query


#: learned BPE merge tables keyed by (sf_dir, n_merges) — plain driver-side
#: rows (no session binding), so q_bpe_encode can reuse the table learned by
#: q_bpe_merges in the same process instead of re-running the 8-pass loop
#: (the round-7 bench double-count). A fresh JVM (isolated bench leg) just
#: re-learns — the fallback stays self-contained and hash-identical.
_BPE_MERGE_CACHE: dict = {}


#: learned unigram-LM piece tables keyed by (sf_dir, max_piece_len,
#: vocab_size) — same contract as _BPE_MERGE_CACHE: q_unigram_lm_scores
#: fills it (the learning is ITS measured work), q_unigram_lm_segment
#: reuses it; a fresh JVM re-learns.
_UNIGRAM_PIECE_CACHE: dict = {}


def _learned_merges(spark, docs, sf, n_merges: int = 8):
    """The shared BPE merge table: serve from the in-process cache, else
    learn once AND fill the cache — so whichever of q_bpe_merges /
    q_bpe_encode / q_tokenizer_fertility runs first pays the 8-pass
    learning loop and the rest reuse the 8 collected rows. A fresh JVM
    (isolated bench leg) still re-learns — every query stays
    self-contained and hash-identical."""
    cached = _BPE_MERGE_CACHE.get((sf, n_merges))
    if cached is not None:
        rows, schema = cached
        return spark.createDataFrame(rows, schema)
    m = CU.learn_bpe_merges(docs, "doc_id", "text", n_merges=n_merges)
    rows = m.collect()  # n_merges rows — bounded
    _BPE_MERGE_CACHE[(sf, n_merges)] = (rows, m.schema)
    return spark.createDataFrame(rows, m.schema)


def _bpe_oracle(n_merges: int = 8, encode: bool = False) -> str:
    """bpe_merges twin: the identical chained merge stages — marker
    strings, pair counts from regexp re-extraction, 1-row argmax
    (count desc, lsym, rsym), literal replace — generated per step.
    With ``encode=True``, emits the fully-merged per-document symbol
    sequence instead of the merge table (the bpe_encode twin)."""
    toks = ("list_filter(regexp_split_to_array(lower(COALESCE(text, '')), "
            "'[^a-z0-9]+'), t -> t <> '')")
    parts = [f"""s0 AS (
  SELECT CAST(doc_id AS BIGINT) doc,
         CASE WHEN len(a) > 0
              THEN '<' || array_to_string(a, '><') || '>'
              ELSE '' END s
  FROM (SELECT doc_id, {toks} a FROM documents))"""]
    for i in range(1, n_merges + 1):
        parts.append(f"""t{i} AS MATERIALIZED (
  SELECT doc, regexp_extract_all(s, '<([^>]*)>', 1) a FROM s{i - 1}),
p{i} AS (
  SELECT a[j + 1] lsym, a[j + 2] rsym, COUNT(*) c
  FROM t{i}, unnest(range(len(a) - 1)) u(j) GROUP BY 1, 2),
m{i} AS (SELECT lsym, rsym, CAST(c AS BIGINT) pair_count FROM p{i}
         ORDER BY c DESC, lsym, rsym LIMIT 1)""")
        if i < n_merges or encode:
            # LEFT JOIN ON TRUE + COALESCE, not CROSS JOIN: when the
            # corpus exhausts adjacent pairs early, m{i} is empty and a
            # cross join would wipe every row (and the encode oracle
            # would return zero documents); NULL lsym/rsym makes the
            # replace NULL, so COALESCE falls back to the unchanged s —
            # mirroring the Spark operator's break-on-empty-argmax.
            parts.append(f"""s{i} AS MATERIALIZED (
  SELECT doc, COALESCE(replace(s, '<' || lsym || '><' || rsym || '>',
                      '<' || lsym || '+' || rsym || '>'), s) s
  FROM s{i - 1} LEFT JOIN m{i} ON TRUE)""")
    if encode:
        # COALESCE: duckdb array_to_string([]) is NULL, Spark array_join
        # of an empty array is '' (bit only on empty/NULL-text documents)
        tail = f"""SELECT doc AS doc_id,
       CAST(len(a) AS BIGINT) n_symbols,
       COALESCE(array_to_string(a, ' '), '') symbols_str
FROM (SELECT doc, regexp_extract_all(s, '<([^>]*)>', 1) a
      FROM s{n_merges})"""
    else:
        tail = "\nUNION ALL\n".join(
            f"SELECT CAST({i} AS BIGINT) step, lsym, rsym, pair_count "
            f"FROM m{i}"
            for i in range(1, n_merges + 1))
    return "WITH " + ",\n".join(parts) + "\n" + tail


def _viterbi_cte_parts(max_word_len: int = 12, max_piece_len: int = 4,
                       vocab_size: int = 64) -> list[str]:
    """Shared Viterbi CTE core: the EXACT Viterbi DP as chained
    position CTEs — b{j} holds, per distinct word of length >= j, the
    single best (cost, segmentation) of its first j characters. Each
    b{j} extends b{j-k} (k = 1..min(max_piece_len, j)) with the piece
    substr(word, j-k+1, k): vocabulary pieces score from the SAME
    frequency table as unigram_lm_scores; an out-of-vocabulary SINGLE
    character falls back to (min score - 10); longer OOV pieces are not
    candidates. Argmax per (word, j) is ORDER BY c DESC, i ASC —
    identical to the Spark DP's strictly-greater first-win scan (the
    smallest start index, i.e. the LONGEST final piece, wins ties).
    Because piece scores are 6dp-rounded and each path adds the same
    doubles in the same order, costs are bit-equal across engines and
    the argmax can never split. CTEs are MATERIALIZED (each b{j} is
    referenced by up to max_piece_len later stages — the kcenter
    exponential-inlining lesson). ``max_word_len`` must cover the
    corpus's longest token (measured 8 at sf0.1; 12 gives headroom) —
    and the guard is REAL: `final` carries an error() branch that makes
    DuckDB abort with a named error if any corpus word is longer, so an
    oversize word surfaces as a clear failure instead of a silently
    NULL-joined row and an opaque hash mismatch."""
    vocab = f"""toklist AS (
  SELECT CAST(doc_id AS BIGINT) doc,
         list_filter(regexp_split_to_array(lower(COALESCE(text, '')),
                                           '[^a-z0-9]+'),
                     t -> t <> '') a
  FROM documents),
tk AS (SELECT doc, generate_subscripts(a, 1) pos, unnest(a) w
       FROM toklist),
subs AS (
  SELECT unnest(flatten(list_transform(range(1, length(w) + 1),
           i -> list_transform(
                  range(1, LEAST({max_piece_len},
                                 length(w) - i + 1) + 1),
                  l -> substr(w, CAST(i AS INT), CAST(l AS INT))))))
         piece
  FROM tk),
pc AS (SELECT piece, CAST(COUNT(*) AS BIGINT) cnt FROM subs GROUP BY 1),
tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) total FROM pc),
top AS (SELECT piece, cnt FROM pc ORDER BY cnt DESC, piece
        LIMIT {vocab_size}),
pieces AS MATERIALIZED (
  SELECT piece, ROUND(ln(cnt / total), 6) s FROM top CROSS JOIN tot),
flo AS (SELECT MIN(s) - 10.0 f FROM pieces),
words AS (SELECT DISTINCT w word FROM tk),
b0 AS (SELECT word, CAST(0.0 AS DOUBLE) c, '' seg, 0 np FROM words)"""
    parts = [vocab]
    for j in range(1, max_word_len + 1):
        cands = []
        for k in range(1, min(max_piece_len, j) + 1):
            oov = (f"COALESCE(p.s, flo.f)" if k == 1 else "p.s")
            guard = "" if k == 1 else " AND p.piece IS NOT NULL"
            cands.append(f"""      SELECT b.word, b.c + {oov} c,
             b.seg || CASE WHEN b.seg = '' THEN '' ELSE ' ' END
                   || substr(b.word, {j - k + 1}, {k}) seg,
             b.np + 1 np, {j - k} i
      FROM b{j - k} b CROSS JOIN flo
      LEFT JOIN pieces p ON p.piece = substr(b.word, {j - k + 1}, {k})
      WHERE length(b.word) >= {j}{guard}""")
        union = "\n      UNION ALL\n".join(cands)
        parts.append(f"""b{j} AS MATERIALIZED (
  SELECT word, c, seg, np FROM (
    SELECT word, c, seg, np,
           ROW_NUMBER() OVER (PARTITION BY word
                              ORDER BY c DESC, i ASC) rn
    FROM (
{union}
    )) WHERE rn = 1)""")
    finals = "\n  UNION ALL\n".join(
        f"  SELECT word, seg, np FROM b{j} WHERE length(word) = {j}"
        for j in range(1, max_word_len + 1))
    # real oversize guard: a word longer than max_word_len matches no
    # length(word) = j branch above and would otherwise LEFT-JOIN to
    # NULL downstream (silent undercount -> opaque hash mismatch);
    # error() aborts the oracle with a named failure instead.
    finals += (
        "\n  UNION ALL\n  SELECT word, error('unigram_lm_segment oracle:"
        f" word exceeds max_word_len={max_word_len}: ' || word) seg,"
        f" 0 np FROM words WHERE length(word) > {max_word_len}")
    parts.append(f"""final AS (
{finals}
)""")
    return parts


def _viterbi_oracle(max_word_len: int = 12, max_piece_len: int = 4,
                    vocab_size: int = 64) -> str:
    """unigram_lm_segment twin: the shared Viterbi CTE core + per-doc
    piece-stream assembly (see :func:`_viterbi_cte_parts`)."""
    parts = _viterbi_cte_parts(max_word_len, max_piece_len, vocab_size)
    return "WITH " + ",\n".join(parts) + """
SELECT dl.doc AS doc_id,
       CAST(COALESCE(SUM(f.np), 0) AS BIGINT) n_pieces,
       COALESCE(string_agg(f.seg, ' ' ORDER BY t.pos), '') pieces_str
FROM (SELECT DISTINCT doc FROM toklist) dl
LEFT JOIN tk t ON t.doc = dl.doc
LEFT JOIN final f ON f.word = t.w
GROUP BY dl.doc"""


def _unigram_em_oracle(max_word_len: int = 12, max_piece_len: int = 4,
                       vocab_size: int = 64) -> str:
    """unigram_lm_em twin: the SAME Viterbi core (identical segments),
    then piece-usage counts weighted by word occurrence, re-scored
    ln(cnt/total); OOV fallback pieces carry a NULL old_score."""
    parts = _viterbi_cte_parts(max_word_len, max_piece_len, vocab_size)
    parts.append("""wc AS (SELECT w word, COUNT(*) occ FROM tk GROUP BY 1)""")
    parts.append("""use AS (
  SELECT unnest(string_split(f.seg, ' ')) piece, wc.occ
  FROM final f JOIN wc ON wc.word = f.word)""")
    parts.append("""ucnt AS (
  SELECT piece, CAST(SUM(occ) AS BIGINT) cnt FROM use
  WHERE piece <> '' GROUP BY 1)""")
    parts.append("""utot AS (SELECT CAST(SUM(cnt) AS DOUBLE) t FROM ucnt)""")
    return "WITH " + ",\n".join(parts) + """
SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, ucnt.piece) AS BIGINT)
         AS "rank",
       ucnt.piece AS piece, cnt, p.s AS old_score,
       ROUND(ln(cnt / utot.t), 6) AS new_score
FROM ucnt CROSS JOIN utot
LEFT JOIN pieces p ON p.piece = ucnt.piece"""


_BPE_ENCODE_SQL = _bpe_oracle(n_merges=8, encode=True)


# held-out Jelinek-Mercer LM scoring: full train+score replay;
# binary-exact 0.75/0.25 mix, nano-unit per-token folds
@query("lm_heldout_jm", oracle=f"""
WITH tl AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a,
                   doc_id % 5 = 0 AS held
            FROM documents),
tk AS (SELECT doc, held, generate_subscripts(a, 1) pos, unnest(a) w
       FROM tl),
tt AS (SELECT doc, pos, w FROM tk WHERE NOT held),
tbi AS (SELECT t1.w prev, t2.w FROM tt t1
        JOIN tt t2 ON t1.doc = t2.doc AND t2.pos = t1.pos + 1),
bc AS (SELECT prev, w, CAST(COUNT(*) AS DOUBLE) bc
       FROM tbi GROUP BY 1, 2),
uc AS (SELECT prev, CAST(COUNT(*) AS DOUBLE) uc FROM tbi GROUP BY 1),
uni AS (SELECT w, CAST(COUNT(*) AS DOUBLE) cu FROM tt GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) n,
               CAST(COUNT(DISTINCT w) AS DOUBLE) v FROM tt),
hk AS (SELECT doc, pos, w FROM tk WHERE held),
hp AS (SELECT h.doc, h.w, p.w prev
       FROM hk h LEFT JOIN hk p ON p.doc = h.doc
                              AND p.pos = h.pos - 1),
j AS (SELECT hp.doc, hp.prev,
             (COALESCE(uni.cu, 0) + 1.0)
               / (tot.n + tot.v + 1.0) p_uni,
             CASE WHEN COALESCE(uc.uc, 0) > 0
                  THEN COALESCE(bc.bc, 0) / uc.uc
                  ELSE 0.0 END p_bi
      FROM hp LEFT JOIN uni ON hp.w = uni.w
      LEFT JOIN bc ON hp.prev = bc.prev AND hp.w = bc.w
      LEFT JOIN uc ON hp.prev = uc.prev
      CROSS JOIN tot),
tx AS (SELECT doc,
              CAST(FLOOR(-ln(CASE WHEN prev IS NULL THEN p_uni
                                  ELSE CAST(0.75 AS DOUBLE) * p_bi
                                       + CAST(0.25 AS DOUBLE) * p_uni
                             END) * 1000000000.0 + 0.5)
                   AS BIGINT) tu
       FROM j)
SELECT doc, CAST(COUNT(*) AS BIGINT) n_tokens,
       ROUND(CAST(SUM(tu) AS BIGINT) / (COUNT(*) * 1e9), 6)
         AS avg_neg_logprob
FROM tx GROUP BY doc ORDER BY doc""")
def q_lm_heldout_jm(spark, sf):
    """Held-out Jelinek–Mercer perplexity scoring (operators.relevance
    .heldout_interpolated_logprob, lam = 0.75): the bigram/unigram LM
    learned on the 4/5 train split scores the held fifth — genuine
    unseen bigrams fall back to the unigram leg (the entire point of
    interpolation; the self-scoring bigram_logprob never sees one).
    Per-token -ln(p) folds to integer nano-units before the per-doc
    sum. Unigram leg is vocabulary-grain/broadcastable; the bigram
    joins carry the usual (prev, w) Zipf caveat."""
    docs = load_table(spark, sf, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    held = docs.where(F.col("doc_id") % 5 == 0)
    return (RV.heldout_interpolated_logprob(train, held, "doc_id",
                                            "text", lam=0.75)
            .orderBy("doc"))


@query("pack_bins", oracle=f"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) doc,
                  CAST(len({_TOKS}) AS BIGINT) n_tok FROM documents)
SELECT doc, n_tok,
  CAST(FLOOR(COALESCE(SUM(n_tok) OVER (ORDER BY doc
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0)
    AS BIGINT) bin
FROM t""")
def q_pack_bins(spark, sf):
    """Token-budget sequence packing via the two-level distributed prefix
    sum (operators.curation.pack_sequences — no global single-task
    window): docs in id order, 512-token bins."""
    docs = load_table(spark, sf, "documents")
    t = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                    TX.token_count("text").cast("long").alias("n_tokens"))
    return CU.pack_sequences(t, "doc_id", "n_tokens", budget=512, chunk=64)


@query("pack_greedy", oracle="""
SELECT 'pack_greedy_contract' AS metric,
       COUNT(*) AS n_packed, COUNT(*) AS n_docs, TRUE AS no_overflow
FROM documents""")
def q_pack_greedy(spark, sf):
    """True first-fit sequence packing (no bin overflow), oracle-checkable
    contract form: the greedy scan is sequential per id-chunk
    (applyInPandas) and its bin ids are not SQL-expressible, but its
    guarantees are — every doc packed exactly once (n_packed == corpus
    COUNT(*), statable by the oracle) and no multi-doc bin over budget.
    A packing bug (doc dropped/duplicated, budget ignored) flips the
    hash; exact bin assignments stay pytest-pinned (test_curation)."""
    docs = load_table(spark, sf, "documents")
    t = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                    TX.token_count("text").cast("long").alias("n_tokens"))
    packed = CU.pack_greedy_chunks(t, "doc_id", "n_tokens",
                                   budget=512, chunk=64)
    per_bin = (packed.groupBy("bin")
               .agg(F.sum("n_tok").alias("tot"),
                    F.count(F.lit(1)).alias("n_docs_in_bin")))
    bins_ok = per_bin.agg(
        F.min((F.col("tot") <= F.lit(512))
              | (F.col("n_docs_in_bin") == 1)).alias("no_overflow"))
    return (packed.agg(F.count(F.lit(1)).cast("long").alias("n_packed"),
                       F.countDistinct("doc").cast("long").alias("n_docs"))
            .crossJoin(bins_ok)
            .select(F.lit("pack_greedy_contract").alias("metric"),
                    "n_packed", "n_docs", "no_overflow"))


@query("curriculum_buckets", oracle=f"""
WITH toklist AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a
                 FROM documents),
toks AS (SELECT doc, unnest(a) w FROM toklist),
tc AS (SELECT w, COUNT(*) wc FROM toks GROUP BY 1),
tot AS (SELECT SUM(wc) tot FROM tc),
u AS (
  SELECT doc, CAST(COUNT(*) AS BIGINT) n_tokens,
         ROUND(-AVG(ln(tc.wc / tot.tot)), 6) avg_neg_logprob
  FROM toks JOIN tc USING (w) CROSS JOIN tot GROUP BY doc),
th AS (SELECT list_transform(
         quantile_cont(avg_neg_logprob,
                       [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
         x -> ROUND(x, 6)) t
       FROM u)
SELECT u.doc, u.n_tokens, u.avg_neg_logprob,
       CAST(1 + len(list_filter(th.t, x -> u.avg_neg_logprob > x))
            AS BIGINT) decile
FROM u CROSS JOIN th""")
def q_curriculum_buckets(spark, sf):
    """Curriculum difficulty deciles (operators.curation
    .quantile_buckets over relevance.unigram_logprob): every document's
    average negative unigram log-likelihood (the deterministic
    LM-surprise stand-in) bucketed into 10 equal-population bands —
    decile 1 = easiest — via the threshold-broadcast fold, NOT a global
    rank window (the single-partition-sort anti-pattern this operator
    exists to avoid). Curriculum schedules feed batches easy→hard."""
    docs = load_table(spark, sf, "documents")
    scored = RV.unigram_logprob(docs, "doc_id", "text")
    return CU.quantile_buckets(scored, "avg_neg_logprob", n_buckets=10,
                               bucket_col="decile")


@query("unigram_lm_scores", oracle=f"""
WITH toklist AS (SELECT {_TOKS} a FROM documents),
tk AS (SELECT unnest(a) w FROM toklist),
subs AS (
  SELECT unnest(flatten(list_transform(range(1, length(w) + 1),
           i -> list_transform(
                  range(1, LEAST(4, length(w) - i + 1) + 1),
                  l -> substr(w, CAST(i AS INT), CAST(l AS INT))))))
         piece
  FROM tk),
pc AS (SELECT piece, CAST(COUNT(*) AS BIGINT) cnt FROM subs GROUP BY 1),
tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) total FROM pc),
top AS (SELECT piece, cnt FROM pc ORDER BY cnt DESC, piece LIMIT 64)
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS BIGINT) rank,
       piece, cnt, ROUND(ln(cnt / total), 6) score
FROM top CROSS JOIN tot""")
def q_unigram_lm_scores(spark, sf):
    """SentencePiece-style unigram-LM piece vocabulary (operators
    .curation.unigram_lm_pieces, Kudo 2018): top-64 substring pieces
    (≤4 chars) by corpus occurrence, scored ln(cnt/total) — the EM-free
    frequency seed every unigram tokenizer trains from. The substring
    explode is a bounded constant per token; count agg map-combined;
    vocabulary cut is TakeOrderedAndProject; the companion Viterbi
    encoder (unigram_lm_segment, bounded piece side input + one
    mapInPandas pass) is segmentation-tested in tests/test_curation.py
    (iterative DP, ALSO oracle-checked — _viterbi_oracle replays the
    exact DP as chained position CTEs)."""
    docs = load_table(spark, sf, "documents")
    p = CU.unigram_lm_pieces(docs, "doc_id", "text",
                             max_piece_len=4, vocab_size=64)
    # stash the 64 learned rows so q_unigram_lm_segment skips the
    # re-learn (same in-process pattern as _BPE_MERGE_CACHE; a fresh
    # JVM just re-learns)
    rows = p.collect()
    _UNIGRAM_PIECE_CACHE[(sf, 4, 64)] = (rows, p.schema)
    return spark.createDataFrame(rows, p.schema)


@query("unigram_lm_segment", oracle=_viterbi_oracle(max_word_len=12))
def q_unigram_lm_segment(spark, sf):
    """Viterbi segmentation of the corpus under its own unigram-LM piece
    vocabulary (operators.curation.unigram_lm_segment over the
    unigram_lm_pieces table) — the ENCODE side of the SentencePiece
    pair, now oracle-checked: the DuckDB twin replays the exact DP as
    chained position CTEs over DISTINCT words (argmax = cost DESC,
    start-index ASC, matching the Spark scan's longest-final-piece tie
    rule), then reassembles per-document streams by token position.
    Spark side: bounded 64-row piece side input, ONE mapInPandas pass."""
    docs = load_table(spark, sf, "documents")
    cached = _UNIGRAM_PIECE_CACHE.get((sf, 4, 64))
    if cached is not None:
        rows, schema = cached
    else:
        # stash on miss too (round 13): the round-13 window rotation
        # moved this query BEFORE unigram_lm_scores in suite order, so
        # relying on scores to fill the cache silently re-learned the
        # 64-piece table here (+~2.3 s, the r13 bench 1.10 -> 3.91
        # "drift") — symmetric caching makes the measured number
        # order-independent; the vocab is a bounded 64-row side input
        # a production pipeline would persist, not re-learn per query
        p = CU.unigram_lm_pieces(docs, "doc_id", "text",
                                 max_piece_len=4, vocab_size=64)
        rows, schema = p.collect(), p.schema
        _UNIGRAM_PIECE_CACHE[(sf, 4, 64)] = (rows, schema)
    pieces = spark.createDataFrame(rows, schema)
    return CU.unigram_lm_segment(docs, "doc_id", "text", pieces)


@query("unigram_lm_em", oracle=_unigram_em_oracle(max_word_len=12))
def q_unigram_lm_em(spark, sf):
    """One Viterbi-EM round of the SentencePiece unigram LM
    (operators.curation.unigram_lm_em_round, Kudo 2018): E-step
    segments every word occurrence under the frequency-seeded scores,
    M-step re-estimates ln(use/total) from the pieces the segmentation
    actually used — the re-estimation step that corrects the seed's
    overlapping-substring double counting. OOV single-char fallback
    pieces surface with NULL old_score (the expansion candidates).
    Twin: the SAME chained-position-CTE Viterbi core as
    unigram_lm_segment, then occurrence-weighted usage counts."""
    docs = load_table(spark, sf, "documents")
    return CU.unigram_lm_em_round(docs, "doc_id", "text",
                                  max_piece_len=4, vocab_size=64)


@query("unigram_logprob", oracle=f"""
WITH toklist AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a
                 FROM documents),
toks AS (SELECT doc, unnest(a) w FROM toklist),
tc AS (SELECT w, COUNT(*) wc FROM toks GROUP BY 1),
tot AS (SELECT SUM(wc) tot FROM tc)
SELECT doc, CAST(COUNT(*) AS BIGINT) n_tokens,
       ROUND(-AVG(ln(tc.wc / tot.tot)), 6) avg_neg_logprob
FROM toks JOIN tc USING (w) CROSS JOIN tot GROUP BY doc""")
def q_unigram_logprob(spark, sf):
    """Average negative unigram log-likelihood per doc (perplexity-filter
    stand-in); vocabulary broadcast so token scoring is map-side."""
    docs = load_table(spark, sf, "documents")
    return RV.unigram_logprob(docs, "doc_id", "text")


@query("ccnet_buckets", oracle=f"""
WITH toklist AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a
                 FROM documents),
toks AS (SELECT doc, unnest(a) w FROM toklist),
tc AS (SELECT w, COUNT(*) wc FROM toks GROUP BY 1),
tot AS (SELECT SUM(wc) tot FROM tc),
scored AS (
  SELECT doc, CAST(COUNT(*) AS BIGINT) n_tokens,
         ROUND(-AVG(ln(tc.wc / tot.tot)), 6) avg_neg_logprob
  FROM toks JOIN tc USING (w) CROSS JOIN tot GROUP BY doc),
ranked AS (
  SELECT s.doc, d.lang, s.n_tokens, s.avg_neg_logprob,
         ROW_NUMBER() OVER (PARTITION BY d.lang
                            ORDER BY s.avg_neg_logprob, s.doc) rn,
         COUNT(*) OVER (PARTITION BY d.lang) n
  FROM scored s JOIN documents d ON CAST(d.doc_id AS BIGINT) = s.doc)
SELECT doc AS doc_id, lang, n_tokens, avg_neg_logprob,
       CASE WHEN rn <= (n + 2) // 3 THEN 'head'
            WHEN rn <= (2 * n + 2) // 3 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ranked""")
def q_ccnet_buckets(spark, sf):
    """CCNet-style per-language perplexity tertiles (Wenzek et al. 2020
    — operators.curation.rank_buckets over relevance.unigram_logprob):
    every document scored by average unigram surprise, then each
    language split into exact head/middle/tail thirds by RANK under
    the (score, doc) total order — head is the most-fluent slice CCNet
    keeps, tail is what its quality cascade drops. Rank bucketing (not
    interpolated percentiles) keeps membership engine-exact: boundary
    elements are real (6dp-rounded score, doc) pairs, ties broken by
    doc id, bucket sizes exactly ceil(j*n/3) by integer arithmetic.
    Scale: vocabulary-broadcast scoring (map-side), one per-doc agg,
    one lang-grain boundary agg broadcast back — the corpus never
    shuffles on a data-sized key after scoring."""
    docs = load_table(spark, sf, "documents")
    # rank_buckets consumes its input TWICE (boundary agg + flag join);
    # materialize the narrow (doc, lang, score) projection once so the
    # unigram scoring pipeline doesn't replay per consumer (the
    # q_url_incremental plan-hygiene lesson)
    scored = (RV.unigram_logprob(docs, "doc_id", "text")
              .join(docs.select(F.col("doc_id").cast("long").alias("doc"),
                                "lang"), "doc")
              .localCheckpoint())
    out = CU.rank_buckets(scored, "lang", "avg_neg_logprob", "doc")
    return out.select(F.col("doc").alias("doc_id"), "lang", "n_tokens",
                      "avg_neg_logprob", "bucket")


@query("bpe_merges", oracle=_bpe_oracle(n_merges=8))
def q_bpe_merges(spark, sf):
    """Distributed BPE merge learning (operators.curation
    .learn_bpe_merges, Sennrich et al. 2016): 8 exact merge steps over
    the corpus — per step one map-side-combined pair-count aggregation,
    a 1-row argmax broadcast, and a map-only literal replace on the
    marker-string representation (string replace is greedy
    non-overlapping on both engines, which IS BPE's within-sequence
    rule). Output: the learned merge table (step, lsym, rsym,
    pair_count) — the tokenizer-training artifact. Iterative-Spark
    shape: corpus strings checkpoint between steps."""
    docs = load_table(spark, sf, "documents")
    # deliberately does NOT serve from _BPE_MERGE_CACHE: the 8-pass
    # learning loop IS this query's measured work — reading the cache
    # would fake its bench number. (encode/fertility go through
    # _learned_merges and reuse whatever is cached.)
    m = CU.learn_bpe_merges(docs, "doc_id", "text", n_merges=8)
    # the loop already executed (localCheckpoint per step); collecting the
    # 8 checkpointed rows is free — stash them for the other BPE queries
    rows = m.collect()
    _BPE_MERGE_CACHE[(sf, 8)] = (rows, m.schema)
    return spark.createDataFrame(rows, m.schema)


@query("bpe_encode", oracle=_BPE_ENCODE_SQL)
def q_bpe_encode(spark, sf):
    """BPE encoding with the corpus-learned merges (operators.curation
    .bpe_encode): the merge table (8 rows — a bounded driver side input)
    chains into a SINGLE map-only projection of literal replaces, so
    encoding costs one corpus pass regardless of merge count — the
    apply side of the tokenizer pair. Output: per-doc merged symbol
    sequence (space-joined, scalar)."""
    docs = load_table(spark, sf, "documents")
    merges = _learned_merges(spark, docs, sf)
    return CU.bpe_encode(docs, "doc_id", "text", merges)


# tokenizer fertility composes the PROVEN bpe_encode oracle body, so
# the evaluate step can never drift from the encode contract
@query("tokenizer_fertility", oracle=f"""
WITH e AS ({_BPE_ENCODE_SQL}),
d AS (SELECT CAST(doc_id AS BIGINT) doc_id, lang,
             COALESCE({_TOKS}, []) a
      FROM documents),
w AS (SELECT doc_id, lang,
             CAST(length(a) AS BIGINT) n_words,
             CAST(COALESCE(list_sum(list_transform(a, t -> length(t))),
                           0) AS BIGINT) n_chars
      FROM d)
SELECT w.lang, CAST(COUNT(*) AS BIGINT) n_docs,
       CAST(SUM(w.n_words) AS BIGINT) n_words,
       CAST(SUM(e.n_symbols) AS BIGINT) n_symbols,
       ROUND(CAST(SUM(e.n_symbols) AS DOUBLE) / SUM(w.n_words), 6)
         symbols_per_word,
       ROUND(CAST(SUM(w.n_chars) AS DOUBLE) / SUM(e.n_symbols), 6)
         chars_per_symbol
FROM w JOIN e USING (doc_id)
GROUP BY 1 ORDER BY 1""")
def q_tokenizer_fertility(spark, sf):
    """Tokenizer fertility report — the EVALUATE step completing the
    BPE learn→encode pair: per language, symbols-per-word (sequence
    length per word after merges — ≤1 at this word-grain BPE, lower =
    the learned merges compress that language more) and
    chars-per-symbol (how much text each emitted symbol carries) under
    the corpus-learned 8-merge table. The per-language tokenizer-equity
    metric a multilingual pipeline reads before committing to a
    vocabulary: a language the merges don't cover pays more sequence
    length per unit of text. Reuses the in-process merge cache when
    q_bpe_merges ran first (same contract as q_bpe_encode); a fresh JVM
    re-learns, hash-identical. One map-only encode pass + one
    map-combined per-lang aggregation."""
    docs = load_table(spark, sf, "documents")
    merges = _learned_merges(spark, docs, sf)
    enc = CU.bpe_encode(docs, "doc_id", "text", merges) \
        .select("doc_id", "n_symbols")
    toks = TX.tokens(F.coalesce(F.col("text"), F.lit("")))
    w = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang",
        F.size(toks).cast("long").alias("n_words"),
        F.length(F.concat_ws("", toks)).cast("long").alias("n_chars"))
    return (w.join(enc, "doc_id")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_words").cast("long").alias("n_words"),
                 F.sum("n_symbols").cast("long").alias("n_symbols"),
                 F.round(F.sum("n_symbols") / F.sum("n_words"), 6)
                 .alias("symbols_per_word"),
                 F.round(F.sum("n_chars") / F.sum("n_symbols"), 6)
                 .alias("chars_per_symbol"))
            .orderBy("lang"))


@query("bigram_logprob", oracle=f"""
WITH toklist AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a
                 FROM documents),
toks AS (SELECT doc, generate_subscripts(a, 1) pos, unnest(a) w
         FROM toklist),
bi AS (SELECT t1.doc, t1.w prev, t2.w w
       FROM toks t1 JOIN toks t2 ON t1.doc = t2.doc
                                AND t2.pos = t1.pos + 1),
bc AS (SELECT prev, w, COUNT(*) bc FROM bi GROUP BY 1, 2),
uc AS (SELECT prev, COUNT(*) uc FROM bi GROUP BY 1),
v AS (SELECT COUNT(DISTINCT w) v FROM toks)
SELECT bi.doc, CAST(COUNT(*) AS BIGINT) n_bigrams,
  ROUND(-AVG(ln((bc.bc + 1) / (uc.uc + v.v))), 6) avg_neg_logprob
FROM bi JOIN bc USING (prev, w) JOIN uc USING (prev) CROSS JOIN v
GROUP BY bi.doc""")
def q_bigram_logprob(spark, sf):
    """Average negative bigram log-likelihood per doc (add-one-smoothed
    Markov model — the stronger perplexity-filter stand-in: flags common
    words in impossible orders)."""
    docs = load_table(spark, sf, "documents")
    return RV.bigram_logprob(docs, "doc_id", "text")


@query("t5_spans", oracle=f"""
WITH toklist AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a
                 FROM documents),
toks AS (SELECT doc, generate_subscripts(a, 1) - 1 AS pos, unnest(a) w
         FROM toklist),
f AS (SELECT doc, pos, w,
             (CAST('0x' || substr(md5(CAST(doc AS VARCHAR) || ':' ||
                    CAST(pos AS VARCHAR)), 1, 15) AS BIGINT) % 20 = 0)
               AS start
      FROM toks),
m AS (SELECT doc, pos, w, start,
             MAX(CASE WHEN start THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc ORDER BY pos
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) = 1
               AS masked
      FROM f),
b AS (SELECT doc, pos, w, masked,
             masked AND NOT COALESCE(
               LAG(masked) OVER (PARTITION BY doc ORDER BY pos), FALSE)
               AS begin_
      FROM m),
kk AS (SELECT doc, pos, w, masked, begin_,
              SUM(CASE WHEN begin_ THEN 1 ELSE 0 END)
                OVER (PARTITION BY doc ORDER BY pos
                      ROWS UNBOUNDED PRECEDING) - 1 AS k
       FROM b),
p AS (SELECT doc, pos, masked, begin_,
             CASE WHEN NOT masked THEN w
                  WHEN begin_ THEN '<extra_id_' || CAST(k AS VARCHAR) || '>'
             END AS inp,
             CASE WHEN begin_
                    THEN '<extra_id_' || CAST(k AS VARCHAR) || '> ' || w
                  WHEN masked THEN w
             END AS tgt
      FROM kk)
SELECT doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       CAST(SUM(CASE WHEN begin_ THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
       COALESCE(string_agg(inp, ' ' ORDER BY pos)
                  FILTER (WHERE inp IS NOT NULL), '') AS input_text,
       COALESCE(string_agg(tgt, ' ' ORDER BY pos)
                  FILTER (WHERE tgt IS NOT NULL), '') AS target_text
FROM p GROUP BY doc""")
def q_t5_spans(spark, sf):
    """T5 span-corruption examples (operators.curation.
    t5_span_corruption — Raffel et al. 2020 denoising objective): every
    document becomes a (input with <extra_id_K> sentinels, target =
    sentinel + masked tokens) pair, spans hash-seeded (md5(doc:pos) %
    20 starts a 3-token span => ~15% mask rate), overlapping spans
    merged, sentinels numbered left to right. One token-grain explode
    + per-doc windows + one re-assembly agg; everything string/integer
    so both engines build byte-identical examples."""
    docs = load_table(spark, sf, "documents")
    out = CU.t5_span_corruption(docs, "doc_id", "text",
                                every=20, span_len=3)
    return out.withColumnRenamed("doc", "doc_id")


@query("lm_windows", oracle=f"""
WITH toklist AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a
                 FROM documents),
st AS (SELECT doc, a,
              COALESCE(SUM(len(a)) OVER (ORDER BY doc
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS start
       FROM toklist),
placed AS (SELECT doc, unnest(a) w,
                  start + generate_subscripts(a, 1) - 1 AS gpos,
                  generate_subscripts(a, 1) = 1 AS doc_first
           FROM st)
SELECT CAST(gpos // 64 AS BIGINT) AS window_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs,
       MIN(doc) AS first_doc,
       COALESCE(string_agg(CAST(gpos % 64 AS VARCHAR), ' ' ORDER BY gpos)
                  FILTER (WHERE doc_first), '') AS doc_starts_str,
       string_agg(w, ' ' ORDER BY gpos) AS tokens_str
FROM placed GROUP BY 1""")
def q_lm_windows(spark, sf):
    """Causal-LM pretraining windows (operators.curation.
    lm_causal_windows): the corpus token stream in doc-id order cut
    into fixed 64-token examples crossing document boundaries — the
    concat-and-chunk objective's data shape (t5_spans covers the
    denoising one). Global offsets via the two-level distributed
    prefix sum (serial window only over chunk totals); integer-div
    window ids; windows partition the stream exactly. Twin: the naive
    single global window (equal by associativity of +)."""
    docs = load_table(spark, sf, "documents")
    return CU.lm_causal_windows(docs, "doc_id", "text", ctx=64)


@query("fim_examples", oracle=f"""
WITH toklist AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a
                 FROM documents),
base AS (SELECT doc, a, CAST(len(a) AS BIGINT) n FROM toklist
         WHERE len(a) >= 8),
cuts AS (SELECT doc, a, n,
           CAST('0x' || substr(md5(CAST(doc AS VARCHAR) || ':a'), 1, 15)
                AS BIGINT) % (n + 1) AS ca,
           CAST('0x' || substr(md5(CAST(doc AS VARCHAR) || ':b'), 1, 15)
                AS BIGINT) % (n + 1) AS cb
         FROM base),
pp AS (SELECT doc, a, n, LEAST(ca, cb) p1, GREATEST(ca, cb) p2 FROM cuts)
SELECT doc AS doc_id, n AS n_tokens, p1, p2,
       '<PRE> '
         || COALESCE(array_to_string(list_slice(a, 1, p1), ' '), '')
         || ' <SUF> '
         || COALESCE(array_to_string(list_slice(a, p2 + 1, n), ' '), '')
         || ' <MID> '
         || COALESCE(array_to_string(list_slice(a, p1 + 1, p2), ' '), '')
         AS fim_text
FROM pp""")
def q_fim_examples(spark, sf):
    """Fill-in-the-middle examples (operators.curation.fim_examples —
    Bavarian et al. 2022): every >= 8-token document splits at two
    hash-derived cut points into PSM order '<PRE> p <SUF> s <MID> m' —
    the infilling objective, completing the pretraining trio with
    t5_spans (denoising) and lm_windows (causal). Map-only: slices +
    joins in one projection, zero shuffle; byte-identical cross-engine
    (degenerate cuts serialize empty segments in both)."""
    docs = load_table(spark, sf, "documents")
    out = CU.fim_examples(docs, "doc_id", "text", min_tokens=8)
    return out.withColumnRenamed("doc", "doc_id")


@query("tokens_to_ids", oracle=f"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) doc_id, {_TOKS} a FROM documents),
occ AS (SELECT doc_id, generate_subscripts(a, 1) - 1 pos, unnest(a) token
        FROM t),
counts AS (SELECT token, COUNT(*) cnt FROM occ GROUP BY 1),
vocab AS (SELECT token,
                 ROW_NUMBER() OVER (ORDER BY cnt DESC, token) token_id
          FROM (SELECT * FROM counts ORDER BY cnt DESC, token LIMIT 512)),
m AS (SELECT o.doc_id, o.pos, COALESCE(v.token_id, 0) tid
      FROM occ o LEFT JOIN vocab v USING (token))
SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_tokens,
       CAST(SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) n_oov,
       ROUND(SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) * 1.0 / COUNT(*),
             6) oov_frac,
       array_to_string(array_agg(tid ORDER BY pos), ' ') ids_str
FROM m GROUP BY doc_id""")
def q_tokens_to_ids(spark, sf):
    """Vocabulary id mapping (operators.curation.build_vocab +
    tokenize_to_ids): the 512 most frequent tokens get deterministic ids
    (count desc, token asc; OOV -> 0) and every document becomes its
    order-preserving id sequence — the final representation step before
    training shards. Token-grain count agg + distributed partial top-512
    + broadcast vocab join + one doc-grain rebuild.

    The contract projection joins the id sequence to a space-separated
    string: the operator's native ``ids array<long>`` is the right API
    shape, but the grading harness's pandas canonicalizer cannot sort
    array cells (round-6 red row), and a joined string is hash-equivalent
    while staying scalar on both engines."""
    docs = load_table(spark, sf, "documents")
    vocab = CU.build_vocab(docs, "text", 512)
    out = CU.tokenize_to_ids(docs, "doc_id", "text", vocab)
    return out.select(
        "doc_id", "n_tokens", "n_oov", "oov_frac",
        F.array_join(F.transform("ids", lambda x: x.cast("string")), " ")
        .alias("ids_str"))


@query("train_shards", oracle="""
WITH h AS (
  SELECT CAST(doc_id AS BIGINT) doc_id,
         md5(CAST(doc_id AS VARCHAR) || '#epoch0') h
  FROM documents)
SELECT doc_id,
       CAST('0x' || substr(h, 1, 8) AS BIGINT) % 8 AS shard,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY CAST('0x' || substr(h, 1, 8) AS BIGINT) % 8
         ORDER BY h, doc_id) AS BIGINT) AS pos
FROM h""")
def q_train_shards(spark, sf):
    """Sharded training-order assignment — the write layout for shuffled
    training data: every doc gets (shard, position-in-shard) from a
    SEEDED md5 hash, so the global order is reproducible, re-runnable,
    and engine-independent. Two-level on purpose: shard = hash mod 8
    (one hash shuffle), position = row_number within the shard — there
    is NO global-order window (a single-partition sort is the classic
    100 TB scale-killer; within-shard windows parallelize per shard)."""
    docs = load_table(spark, sf, "documents")
    seed = "epoch0"
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#"),
                       F.lit(seed)))
    shard = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 8)
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                        h.alias("h"), shard.alias("shard"))
            .withColumn("pos", F.row_number().over(w).cast("long"))
            .select("doc_id", "shard", "pos"))
