"""Curation operators: repetition metrics, PII scrubbing, decontamination,
sequence packing, stratified sampling — hand-computed fixtures plus
properties on real testdata."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from casf_spark.operators import curation as CU
from casf_spark.sources.tables import load_table


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------- repetition

def test_repetition_hand_computed(spark):
    # "a b a b a": 2-grams = [a b, b a, a b, b a] -> all 4 occurrences
    # duplicated, top gram ("a b") share 2/4.
    # "x y z": 2-grams = [x y, y z] -> nothing duplicated, top 1/2.
    df = _docs(spark, [(1, "a b a b a"), (2, "x y z"), (3, "solo")])
    got = {r["doc"]: r.asDict()
           for r in CU.repetition_features(df, "doc_id", "text",
                                           ns=(2,)).collect()}
    assert got[1]["dup_gram_frac_2"] == 1.0
    assert got[1]["top_gram_frac_2"] == 0.5
    assert got[2]["dup_gram_frac_2"] == 0.0
    assert got[2]["top_gram_frac_2"] == 0.5
    # shorter than n: defined as 0.0, not null
    assert got[3]["dup_gram_frac_2"] == 0.0


def test_repetition_range(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    feats = CU.repetition_features(docs, "doc_id", "text", ns=(2, 3))
    bad = feats.where(
        (F.col("dup_gram_frac_2") < 0) | (F.col("dup_gram_frac_2") > 1)
        | (F.col("top_gram_frac_3") <= 0) | (F.col("top_gram_frac_3") > 1))
    assert bad.count() == 0
    assert feats.count() == docs.count()


# ----------------------------------------------------------------------- PII

def test_pii_counts_and_redaction(spark):
    df = _docs(spark, [
        (1, "mail a@b.com and c.d+x@e.org end"),
        (2, "server 10.0.0.1 called +49 171 5551234"),
        (3, "clean text only"),
    ])
    rep = {r["doc"]: r.asDict()
           for r in CU.pii_scrub_report(df, "doc_id", "text").collect()}
    assert rep[1]["n_email"] == 2
    assert rep[2]["n_ipv4"] == 1 and rep[2]["n_phone"] == 1
    assert all(rep[3][k] == 0 for k in ("n_email", "n_phone", "n_ipv4"))
    assert rep[1]["redacted"] == "mail <PII> and <PII> end"
    assert rep[2]["redacted"] == "server <PII> called <PII>"
    assert rep[3]["redacted"] == "clean text only"


def test_redacted_text_has_no_remaining_matches(spark):
    df = _docs(spark, [(1, "a@b.com 1.2.3.4 +12 345 6789 a@b.com")])
    red = CU.pii_scrub_report(df, "doc_id", "text")
    counts = CU.pii_scrub_report(red, "doc", "redacted").collect()[0]
    assert counts["n_email"] == 0
    assert counts["n_ipv4"] == 0
    assert counts["n_phone"] == 0


# ------------------------------------------------------------ decontamination

def test_contamination_exact_overlap(spark):
    bench = _docs(spark, [(100, "the quick brown fox jumps")])
    docs = _docs(spark, [
        (1, "lazy dogs avoid the quick brown fox jumps daily"),  # overlap
        (2, "completely different words here entirely"),          # clean
        (3, "the quick brown cat sits"),                          # 5-gram miss
    ])
    hits = {r["doc"]: r["n_hits"]
            for r in CU.contamination_flags(docs, bench, "doc_id", "text",
                                            n=5).collect()}
    assert 1 in hits and hits[1] >= 1
    assert 2 not in hits
    assert 3 not in hits


def test_contamination_self_is_total(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    long_enough = docs.where(CU.F.size(
        CU.F.split(CU.F.col("text"), " ")) >= 5)
    n = long_enough.count()
    hits = CU.contamination_flags(long_enough, long_enough,
                                  "doc_id", "text", n=5)
    assert hits.count() == n  # every doc overlaps itself


# ------------------------------------------------------------------- packing

def test_pack_sequences_matches_serial_prefix_sum(spark):
    rows = [(i, f"id{i}", (i * 37) % 90 + 10) for i in range(200)]
    df = spark.createDataFrame(
        [(i, n) for i, _, n in rows], "doc_id long, n_tokens long")
    got = {r["doc"]: r["bin"]
           for r in CU.pack_sequences(df, "doc_id", "n_tokens",
                                      budget=256, chunk=16).collect()}
    cum = 0
    for i, _, n in rows:
        assert got[i] == cum // 256, f"doc {i}"
        cum += n


def test_pack_greedy_respects_budget(spark):
    rows = [(i, (i * 53) % 120 + 5) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = CU.pack_greedy_chunks(df, "doc_id", "n_tokens",
                                budget=200, chunk=32).collect()
    assert len(out) == 300  # every doc assigned
    by_bin: dict[int, list] = {}
    for r in out:
        by_bin.setdefault(r["bin"], []).append(r)
    for rows_in_bin in by_bin.values():
        tot = sum(r["n_tok"] for r in rows_in_bin)
        assert tot <= 200 or len(rows_in_bin) == 1
    # deterministic across recomputation
    again = {(r["doc"], r["bin"])
             for r in CU.pack_greedy_chunks(df, "doc_id", "n_tokens",
                                            budget=200, chunk=32).collect()}
    assert {(r["doc"], r["bin"]) for r in out} == again


def test_pack_greedy_chunk_isolation(spark):
    # chunk boundaries reset packing: doc assignment inside a chunk must
    # not depend on other chunks' contents
    a = spark.createDataFrame(
        [(i, 50) for i in range(64)], "doc_id long, n_tokens long")
    b = spark.createDataFrame(
        [(i, 50) for i in range(32, 64)], "doc_id long, n_tokens long")
    got_a = {r["doc"]: r["bin"]
             for r in CU.pack_greedy_chunks(a, "doc_id", "n_tokens",
                                            budget=120, chunk=32).collect()}
    got_b = {r["doc"]: r["bin"]
             for r in CU.pack_greedy_chunks(b, "doc_id", "n_tokens",
                                            budget=120, chunk=32).collect()}
    for doc in got_b:
        assert got_a[doc] == got_b[doc]


# ------------------------------------------------------------------ sampling

def test_stratified_sample_deterministic_and_rate(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    rates = {"en": 0.5, "de": 1.0, "zh": 0.0}
    out = CU.stratified_sample(docs, F.col("doc_id").cast("string"),
                               "lang", rates)
    per = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    totals = {r["lang"]: r["n"] for r in
              docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per.get("de", 0) == totals["de"]      # rate 1.0 keeps all
    assert "zh" not in per                        # rate 0.0 drops all
    assert "fr" not in per                        # unlisted -> default 0.0
    if totals.get("en", 0) >= 20:
        frac = per.get("en", 0) / totals["en"]
        assert 0.2 < frac < 0.8                   # loose: hashed, not exact
    # engine-portable membership: python md5 agrees with the Spark expr
    kept_en = {r["doc_id"] for r in out.where(F.col("lang") == "en")
               .select("doc_id").collect()}
    all_en = [r["doc_id"] for r in docs.where(F.col("lang") == "en")
              .select("doc_id").collect()]
    for d in all_en:
        h = int(hashlib.md5(str(d).encode()).hexdigest()[:15], 16)
        expect = (h >> 30) / float(1 << 30) < 0.5
        assert (d in kept_en) == expect


def test_mixture_resample_rates_and_caps(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    totals = {r["source"]: r["n"] for r in
              docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    # src0 target exceeds its stratum size -> rate caps at 1.0 (keep all);
    # src1 gets a fractional rate; unlisted sources drop entirely
    big = 10 * totals["src0"]
    out = CU.mixture_resample(docs, F.col("doc_id").cast("string"), "source",
                              {"src0": 1.0, "src1": 0.5}, total_rows=big)
    per = {r["source"]: r["n"] for r in
           out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per["src0"] == totals["src0"]
    assert set(per) <= {"src0", "src1"}
    # deterministic: rerun picks the identical rows
    a = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in
               CU.mixture_resample(docs, F.col("doc_id").cast("string"),
                                   "source", {"src0": 1.0, "src1": 0.5},
                                   total_rows=big)
               .select("doc_id").collect())
    assert a == b


def test_mixture_resample_exact_membership(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    shares, total = {"src0": 0.6, "src1": 0.4}, 10
    totals = {r["source"]: r["n"] for r in
              docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    out = CU.mixture_resample(docs, F.col("doc_id").cast("string"), "source",
                              shares, total_rows=total)
    got = {r["doc_id"] for r in out.select("doc_id").collect()}
    # python reference: rate = min(1, share*total/n_s), md5-fraction accept
    want = set()
    for r in docs.select("doc_id", "source").collect():
        rate = min(1.0, shares.get(r["source"], 0.0) * total
                   / totals[r["source"]])
        h = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:15], 16)
        if (h >> 30) / float(1 << 30) < rate:
            want.add(r["doc_id"])
    assert got == want


def test_budget_select_matches_serial_cumsum(spark):
    rows = [(i, f"s{i % 3}", 10 + (i * 7) % 50) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tok long")
    budget = 300
    got = {(r["stratum"], r["doc"]) for r in
           CU.budget_select(df, "doc_id", "n_tok", "lang", budget,
                            n_chunks=8).collect()}
    # serial reference: per stratum, order by (md5-priority, doc), keep
    # while inclusive cumsum <= budget
    by_stratum = {}
    for doc, lang, ntok in rows:
        h = int(hashlib.md5(str(doc).encode()).hexdigest()[:15], 16)
        p = (h >> 30) / float(1 << 30)
        by_stratum.setdefault(lang, []).append((p, doc, ntok))
    want = set()
    for lang, items in by_stratum.items():
        acc = 0
        for p, doc, ntok in sorted(items):
            acc += ntok
            if acc > budget:
                break
            want.add((lang, doc))
    assert got == want


def test_budget_select_chunk_count_invariant(spark):
    rows = [(i, "only", 5 + i % 20) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tok long")
    one = {(r["doc"], r["n_tok"]) for r in
           CU.budget_select(df, "doc_id", "n_tok", "lang", 1000,
                            n_chunks=1).collect()}
    many = {(r["doc"], r["n_tok"]) for r in
            CU.budget_select(df, "doc_id", "n_tok", "lang", 1000,
                             n_chunks=32).collect()}
    assert one == many and len(one) > 0


# -------------------------------------------------------------------- funnel

def test_curation_funnel_cumulative(spark):
    df = spark.createDataFrame(
        [(1, "en", 100), (2, "en", 40), (3, "zh", 100), (4, "en", 100),
         (5, None, 100)],
        "doc_id long, lang string, n_chars long")
    got = {r["stage"]: r.asDict() for r in CU.curation_funnel(df, [
        ("long_enough", F.col("n_chars") >= 50),
        ("lang_en", F.col("lang") == "en"),
    ]).collect()}
    # 4 of 5 pass stage 1; of those, doc 3 is zh and doc 5's null lang
    # counts as fail -> 2 survive the cumulative stage 2
    assert got["long_enough"]["n_pass"] == 4
    assert got["long_enough"]["pass_rate"] == 0.8
    assert got["lang_en"]["n_pass"] == 2
    assert got["lang_en"]["pass_rate"] == 0.4
    assert got["long_enough"]["stage_idx"] == 1
    assert got["lang_en"]["stage_idx"] == 2


def test_temperature_resample_flattens_toward_uniform(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    totals = {r["lang"]: r["n"] for r in
              docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    n = sum(totals.values())
    # alpha=1 reproduces natural proportions' rates: total/n for all
    nat = CU.temperature_resample(docs, F.col("doc_id").cast("string"),
                                  "lang", alpha=1.0, total_rows=n)
    assert nat.count() == n  # rate = share*total/n_s = 1.0 for every s
    # alpha=0 -> uniform target: tail strata get HIGHER acceptance rates
    # than head strata; exact membership vs python reference
    total = n // 2
    out = CU.temperature_resample(docs, F.col("doc_id").cast("string"),
                                  "lang", alpha=0.0, total_rows=total)
    got = {r["doc_id"] for r in out.select("doc_id").collect()}
    k = len(totals)
    want = set()
    for r in docs.select("doc_id", "lang").collect():
        rate = min(1.0, (1.0 / k) * total / totals[r["lang"]])
        h = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:15], 16)
        if (h >> 30) / float(1 << 30) < rate:
            want.add(r["doc_id"])
    assert got == want


def test_content_defined_chunks_edit_stability(spark):
    """The CDC property fixed-stride chunking lacks: an edit near the
    front of a document leaves every chunk after the next boundary
    byte-identical, and chunks reassemble to the exact token stream."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi "
            "psi omega one two three four five six seven eight nine ten "
            "eleven twelve thirteen fourteen fifteen sixteen seventeen")
    edited = "INSERTED WORDS HERE " + base
    docs = spark.createDataFrame([(1, base), (2, edited)],
                                 "doc_id long, text string")
    out = CU.content_defined_chunks(docs, "doc_id", "text", divisor=4)
    rows = out.orderBy("doc_id", "chunk_id").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["chunk_text"])
    # chunks reassemble exactly
    assert " ".join(by_doc[1]) == base.lower()
    assert " ".join(by_doc[2]) == edited.lower()
    # n_tokens matches the chunk text
    assert all(r["n_tokens"] == len(r["chunk_text"].split())
               for r in rows)
    # suffix stability: after the first shared boundary, the chunk
    # streams are identical (compare as suffix sets of chunk_text)
    tail1, tail2 = by_doc[1][1:], by_doc[2][1:]
    k = min(len(tail1), len(tail2))
    assert k >= 1 and by_doc[1][-k:] == by_doc[2][-k:]


def test_content_defined_chunks_empty_and_boundaryless(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "zz yy xx"), (4, None)],
        "doc_id long, text string")
    out = CU.content_defined_chunks(docs, "doc_id", "text", divisor=1 << 60)
    rows = out.collect()
    # empty/NULL docs emit nothing; a boundaryless doc emits ONE final chunk
    assert {r["doc_id"] for r in rows} == {3}
    assert len(rows) == 1 and rows[0]["chunk_id"] == 0
    assert rows[0]["chunk_text"] == "zz yy xx"


# ---------------------------------------------------------------------------
# vocabulary id mapping
# ---------------------------------------------------------------------------

def test_build_vocab_rank_and_ties(spark):
    from casf_spark.operators.curation import build_vocab
    df = spark.createDataFrame(
        [(1, "aa bb aa cc aa bb dd")], "doc_id long, text string")
    v = {r.token: (r.token_id, r.cnt) for r in
         build_vocab(df, "text", 3).collect()}
    assert v == {"aa": (1, 3), "bb": (2, 2), "cc": (3, 1)}  # dd cut; cc<dd tie


def test_tokenize_to_ids_order_and_oov(spark):
    from casf_spark.operators.curation import build_vocab, tokenize_to_ids
    df = spark.createDataFrame(
        [(1, "aa bb aa cc aa bb dd"), (2, "dd dd aa")],
        "doc_id long, text string")
    # corpus counts: aa=4 -> id 1, dd=3 -> id 2, bb=2 -> id 3; cc is OOV
    vocab = build_vocab(df, "text", 3)
    out = {r.doc_id: r for r in
           tokenize_to_ids(df, "doc_id", "text", vocab).collect()}
    assert list(out[1].ids) == [1, 3, 1, 0, 1, 3, 2]
    assert out[1].n_oov == 1
    assert out[1].oov_frac == round(1 / 7, 6)
    assert list(out[2].ids) == [2, 2, 1]
    assert out[2].n_oov == 0 and out[2].oov_frac == 0.0


def test_c4_line_filter_rules(spark):
    from casf_spark.operators.curation import c4_line_filter
    good_line = "this line has enough words and ends properly."
    doc_ok = "\n".join([good_line] * 3)
    doc_short_lines = "\n".join(["too short."] * 5)       # < 5 words
    doc_no_punct = "\n".join(
        ["this line has five words here ok no punct"] * 4)
    doc_js = "\n".join([good_line, good_line,
                        "enable Javascript to view this page."])
    doc_brace = doc_ok + "\nvar x = { a: 1 };"
    doc_lorem = doc_ok + "\nLorem Ipsum dolor sit amet filler text here."
    df = spark.createDataFrame(
        [(1, doc_ok), (2, doc_short_lines), (3, doc_no_punct),
         (4, doc_js), (5, doc_brace), (6, doc_lorem), (7, None)],
        "doc_id long, text string")
    out = {r.doc_id: r for r in c4_line_filter(df, "doc_id", "text").collect()}
    assert out[1].passes_c4 and out[1].n_kept_lines == 3
    assert out[1].cleaned_text == doc_ok
    assert not out[2].passes_c4 and out[2].n_kept_lines == 0
    assert not out[3].passes_c4 and out[3].n_kept_lines == 0
    # the javascript line is dropped -> only 2 kept -> fails 3-line rule
    assert not out[4].passes_c4 and out[4].n_kept_lines == 2
    assert out[5].has_brace and not out[5].passes_c4
    assert out[5].n_kept_lines >= 3  # flag, not line filtering, fails it
    assert out[6].has_lorem_ipsum and not out[6].passes_c4
    assert not out[7].passes_c4 and out[7].n_lines == 0
    assert out[7].cleaned_text == ""


def test_tokenize_to_ids_round_trip(spark, sf_dir):
    """Bijectivity on in-vocabulary docs: mapping ids back through the
    vocab reproduces the exact token stream whenever the doc has no OOV
    tokens — the property that makes the id corpus a faithful
    representation, checked on real testdata with a full-size vocab."""
    docs = load_table(spark, sf_dir, "documents")
    from casf_spark.functions.text import tokens as _tokens
    # vocab covering every corpus token -> zero OOV anywhere
    n_vocab = (docs.select(F.explode(_tokens("text")).alias("t"))
               .select("t").distinct().count())
    vocab = CU.build_vocab(docs, "text", n_vocab)
    ids = CU.tokenize_to_ids(docs, "doc_id", "text", vocab)
    assert ids.where(F.col("n_oov") > 0).count() == 0
    inv = {r.token_id: r.token for r in vocab.collect()}
    orig = {r.doc_id: r.toks for r in
            docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                        _tokens("text").alias("toks")).collect()}
    for r in ids.collect():
        assert [inv[i] for i in r.ids] == list(orig[r.doc_id])


def test_group_quantile_flag_thresholds_per_group(spark):
    """Each group is cut at ITS OWN exact quantile: identical scores land
    on different sides of the flag depending on their group's
    distribution, and the threshold equals the textbook interpolated
    percentile."""
    from casf_spark.operators.curation import group_quantile_flag

    rows = [("a", i, float(v)) for i, v in enumerate([1, 2, 4, 8])] \
         + [("b", 10 + i, float(v)) for i, v in enumerate([100, 200, 400, 800])]
    df = spark.createDataFrame(rows, "g string, id long, score double")
    out = {r.id: (r.q_threshold, r.below_q)
           for r in group_quantile_flag(df, "g", "score", q=0.25).collect()}
    # p25 of [1,2,4,8] = 1.75; of [100,200,400,800] = 175.0
    assert out[0] == (1.75, True) and out[1] == (1.75, False)
    assert out[10] == (175.0, True) and out[11] == (175.0, False)
    # a score of 4 is ABOVE a's cut but a score of 150 is BELOW b's
    assert not out[2][1] and out[10][1]


def test_bpe_merges_hand_computed(spark):
    """BPE on a tiny corpus equals the merge sequence computed by hand,
    including the greedy within-sequence rule (an already-fused symbol
    is unavailable to the overlapping pair) and lexicographic
    tie-breaking."""
    from casf_spark.operators.curation import learn_bpe_merges

    docs = spark.createDataFrame(
        [(1, "a b a b a b"),     # 3x(a,b), 2x(b,a)
         (2, "a b c"),           # 1x(a,b), 1x(b,c)
         (3, "c c c")],          # 2x(c,c) -> greedy fuses ONE pair
        "doc_id long, text string")
    got = [(r.step, r.lsym, r.rsym, r.pair_count)
           for r in learn_bpe_merges(docs, "doc_id", "text", n_merges=3)
           .orderBy("step").collect()]
    # step 1: (a,b) x4 wins. doc1 -> [a+b a+b a+b], doc2 -> [a+b c]
    # step 2: pairs now (a+b,a+b) x2, (a+b,c) x1, (c,c) x2 ->
    #         tie at 2 between (a+b,a+b) and (c,c); 'a+b' < 'c' wins
    # step 3: doc1 -> [a+b+a+b a+b] -> remaining (a+b+a+b, a+b) x1,
    #         (a+b,c) x1, (c,c) x2 -> (c,c) wins
    assert got == [(1, "a", "b", 4),
                   (2, "a+b", "a+b", 2),
                   (3, "c", "c", 2)], got


def test_bpe_encode_roundtrip_and_conservation(spark):
    """Encoding with the learned merges: symbol counts only ever shrink
    (each merge fuses two symbols into one), splitting every symbol back
    on '+' reconstructs the original token stream exactly, and a doc
    with no tokens encodes to the empty sequence."""
    from casf_spark.operators.curation import bpe_encode, learn_bpe_merges

    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a b c"), (3, "c c c"), (4, None)],
        "doc_id long, text string")
    merges = learn_bpe_merges(docs, "doc_id", "text", n_merges=3)
    enc = {r.doc_id: (r.n_symbols, r.symbols_str)
           for r in bpe_encode(docs, "doc_id", "text", merges).collect()}
    # doc1: a b a b a b -> a+b x3 -> a+b+a+b, a+b
    assert enc[1] == (2, "a+b+a+b a+b")
    assert enc[2] == (2, "a+b c")
    assert enc[3] == (2, "c+c c")
    assert enc[4] == (0, "")
    # conservation: '+'-splitting reconstructs the original tokens
    for doc_id, text in [(1, "a b a b a b"), (2, "a b c"), (3, "c c c")]:
        rebuilt = " ".join(s.replace("+", " ")
                           for s in enc[doc_id][1].split())
        assert rebuilt == text


def test_unigram_lm_pieces_hand_computed(spark):
    """Piece counting, rank tie rules and ln(cnt/total) scoring on a
    corpus small enough to enumerate substrings by hand."""
    import math
    from casf_spark.operators.curation import unigram_lm_pieces

    # tokens: "ab" x2, "b" x1 -> candidates: per "ab": a, ab, b (3 each),
    # per "b": b -> counts: a=2, ab=2, b=3; total occurrences = 7
    docs = spark.createDataFrame([(1, "ab ab"), (2, "b")],
                                 "doc_id long, text string")
    got = [(r.rank, r.piece, r.cnt, r.score)
           for r in unigram_lm_pieces(docs, "doc_id", "text",
                                      max_piece_len=2, vocab_size=10)
           .orderBy("rank").collect()]
    total = 7.0
    assert got == [
        (1, "b", 3, round(math.log(3 / total), 6)),
        # cnt tie at 2: 'a' < 'ab' lexicographically
        (2, "a", 2, round(math.log(2 / total), 6)),
        (3, "ab", 2, round(math.log(2 / total), 6)),
    ], got


def test_unigram_lm_segment_viterbi(spark):
    """Viterbi segmentation: picks the max-score split (not greedy
    longest-first), falls back to floor-scored single chars for unknown
    characters, and '+'-free concatenation reconstructs the word."""
    from casf_spark.operators.curation import unigram_lm_segment

    pieces = spark.createDataFrame(
        [("ab", -1.0), ("abc", -5.0), ("c", -1.0),
         ("a", -2.0), ("b", -2.0), ("cd", -1.5), ("d", -2.0)],
        "piece string, score double")
    docs = spark.createDataFrame(
        [(1, "abc"),    # ab+c = -2.0 beats abc = -5.0 and a+b+c = -5.0
         (2, "abcd"),   # ab+cd = -2.5 beats ab+c+d = -4.0, abc+d = -7.0
         (3, "abxc"),   # x unknown -> floor single char, rest optimal
         (4, None)],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_pieces, r.pieces_str)
           for r in unigram_lm_segment(docs, "doc_id", "text",
                                       pieces).collect()}
    assert got[1] == (2, "ab c")
    assert got[2] == (2, "ab cd")
    assert got[3] == (3, "ab x c")
    assert got[4] == (0, "")
    # conservation: concatenating pieces rebuilds each token stream
    assert "".join(got[2][1].split()) == "abcd"


def test_mixture_plan_hand_computed(spark):
    """Epoch planning on hand-sized strata: natural shares, integer
    target_tokens, implied epochs, the >max_epochs repetition flag, and
    weight-0 exclusion for strata outside the recipe."""
    from casf_spark.operators.curation import mixture_plan

    docs = spark.createDataFrame(
        [(1, "a", "w " * 100), (2, "a", "w " * 100),   # a: 200 tokens
         (3, "b", "w " * 40),                          # b: 40 tokens
         (4, "c", "w " * 60)],                         # c: 60 tokens
        "doc_id long, source string, text string")
    got = {r.stratum: r.asDict()
           for r in mixture_plan(docs, "source", "text",
                                 {"a": 0.5, "b": 0.5},
                                 token_budget=1000,
                                 max_epochs=4.0).collect()}
    assert got["a"]["n_tokens"] == 200 and got["a"]["n_docs"] == 2
    assert got["a"]["natural_share"] == round(200 / 300, 6)
    assert got["a"]["target_tokens"] == 500
    assert got["a"]["epochs"] == 2.5 and got["a"]["over_cap"] is False
    # b: 500 target over 40 tokens = 12.5 epochs -> over the cap
    assert got["b"]["target_tokens"] == 500
    assert got["b"]["epochs"] == 12.5 and got["b"]["over_cap"] is True
    # c: not in the recipe -> weight 0, zero target, zero epochs
    assert got["c"]["target_weight"] == 0.0
    assert got["c"]["target_tokens"] == 0 and got["c"]["epochs"] == 0.0


def test_quantile_buckets_hand_computed(spark):
    """Threshold-fold bucketing: quartiles of 1..8 put two rows per band,
    a score exactly ON a threshold stays in the LOWER band, and bucket
    ids run 1..n_buckets."""
    from casf_spark.operators.curation import quantile_buckets

    df = spark.createDataFrame([(i, float(i)) for i in range(1, 9)],
                               "id long, s double")
    got = {r.id: r.bucket
           for r in quantile_buckets(df, "s", n_buckets=4).collect()}
    # quartile thresholds of 1..8: p25=2.75, p50=4.5, p75=6.25
    assert got == {1: 1, 2: 1, 3: 2, 4: 2, 5: 3, 6: 3, 7: 4, 8: 4}, got
    # a value exactly equal to a threshold is NOT above it
    df2 = spark.createDataFrame(
        [(1, 0.0), (2, 10.0), (3, 10.0), (4, 20.0)], "id long, s double")
    got2 = {r.id: r.bucket
            for r in quantile_buckets(df2, "s", n_buckets=2).collect()}
    # median of (0,10,10,20) = 10.0 -> the two 10s sit in band 1
    assert got2 == {1: 1, 2: 1, 3: 1, 4: 2}, got2


def test_quantile_buckets_null_score_gets_null_bucket(spark):
    """A NULL score must NOT be classified 'easiest': the fold would
    count zero exceeded thresholds and emit bucket 1; the explicit
    isNotNull guard emits NULL instead, and the NULL row influences no
    threshold (F.percentile ignores NULLs)."""
    from casf_spark.operators.curation import quantile_buckets

    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0), (5, None)],
        "id long, s double")
    got = {r.id: r.bucket
           for r in quantile_buckets(df, "s", n_buckets=2).collect()}
    # thresholds computed from the 4 non-NULL scores only (median 2.5)
    assert got == {1: 1, 2: 1, 3: 2, 4: 2, 5: None}, got


def test_self_dedup_chunks_hand_computed(spark):
    """First occurrence wins; the partial final chunk is its own
    identity; empty docs pass through as zero-chunk rows."""
    from casf_spark.operators.curation import self_dedup_chunks

    df = spark.createDataFrame(
        [(1, "a a b b a a"),    # chunks [a a][b b][a a] -> drop 3rd
         (2, "a b a"),          # chunks [a b][a] -> no dup (partial)
         (3, "x y x y x y"),    # [x y][x y][x y] -> keep first only
         (4, ""), (5, None)],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_chunks, r.n_removed, r.cleaned_text)
           for r in self_dedup_chunks(df, "doc_id", "text",
                                      chunk=2).collect()}
    assert got == {1: (3, 1, "a a b b"),
                   2: (2, 0, "a b a"),
                   3: (3, 2, "x y"),
                   4: (0, 0, ""),
                   5: (0, 0, "")}, got


def test_self_dedup_plant_guarantees_work(spark, sf_dir):
    """The q_text_self_dedup plant: every doc_id % 10 == 0 doc with
    >= 10 tokens removes >= 1 chunk (chunk 0 == chunk 1 by
    construction); unplanted docs are untouched on this corpus."""
    from casf_spark.queries.text import q_text_self_dedup
    from casf_spark.sources import load_table
    from casf_spark.functions.text import tokens

    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    eligible = {r.doc_id for r in docs.select(
        F.col("doc_id").cast("long").alias("doc_id"))
        .where((F.col("doc_id") % 10 == 0)
               & (F.size(tokens("text")) >= 10)).collect()}
    rows = q_text_self_dedup(spark, sf_dir).collect()
    removed = {r.doc_id for r in rows if r.n_removed > 0}
    assert eligible and eligible <= removed
    assert all(r.doc_id % 10 == 0 for r in rows if r.n_removed > 0)


# ---------------------------------------------------------------------------
# rank_buckets (CCNet head/middle/tail)
# ---------------------------------------------------------------------------

def _rank_bucket_rows(spark, rows, labels=("head", "middle", "tail")):
    from casf_spark.operators.curation import rank_buckets

    df = spark.createDataFrame(rows, "grp string, score double, id long")
    out = rank_buckets(df, "grp", "score", "id", labels=labels)
    return {(r.grp, r.id): r.bucket for r in out.collect()}


def test_rank_buckets_exact_thirds_and_python_reference(spark):
    """Bucket sizes are exactly ceil(j*n/k) prefixes of the (score, id)
    order — differential against a single-threaded reference."""
    import math

    rows = [("en", float((7 * i) % 10), i) for i in range(11)] \
        + [("de", 1.0, 100 + i) for i in range(5)]
    got = _rank_bucket_rows(spark, rows)

    by_grp: dict[str, list[tuple[float, int]]] = {}
    for g, s, i in rows:
        by_grp.setdefault(g, []).append((s, i))
    want = {}
    for g, pairs in by_grp.items():
        pairs.sort()
        n = len(pairs)
        k1, k2 = math.ceil(n / 3), math.ceil(2 * n / 3)
        for rank, (_, i) in enumerate(pairs, start=1):
            want[(g, i)] = ("head" if rank <= k1
                            else "middle" if rank <= k2 else "tail")
    assert got == want


def test_rank_buckets_ties_break_by_id(spark):
    """All-equal scores: membership is decided purely by id order, so
    the split is still exact thirds (the interpolated-quantile approach
    would put every row in one bucket)."""
    rows = [("en", 5.0, i) for i in range(9)]
    got = _rank_bucket_rows(spark, rows)
    assert [got[("en", i)] for i in range(9)] == \
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3


def test_rank_buckets_null_group_and_validation(spark):
    import pytest
    from pyspark.sql import functions as F
    from casf_spark.operators.curation import rank_buckets

    df = spark.createDataFrame(
        [(None, 1.0, 1), (None, 2.0, 2), ("en", 1.0, 3)],
        "grp string, score double, id long")
    out = rank_buckets(df, "grp", "score", "id", labels=("low", "high"))
    got = {r.id: r.bucket for r in out.collect()}
    assert got == {1: "low", 2: "high", 3: "low"}

    with pytest.raises(ValueError, match="labels"):
        rank_buckets(df, "grp", "score", "id", labels=("only",))
    bad = df.withColumn("__rb_n", F.lit(1))
    with pytest.raises(ValueError, match="__rb_"):
        rank_buckets(bad, "grp", "score", "id")


# ---------------------------------------------------------------------------
# t5_span_corruption
# ---------------------------------------------------------------------------

def _t5_rows(spark, docs, every=5, span_len=3):
    from casf_spark.operators.curation import t5_span_corruption

    df = spark.createDataFrame(docs, "doc_id long, text string")
    return {r.doc: r for r in
            t5_span_corruption(df, "doc_id", "text", every=every,
                               span_len=span_len).collect()}


def test_t5_spans_python_reference_and_reconstruction(spark):
    """Masks equal a single-threaded md5 replay, and splicing each
    target span back over its sentinel reconstructs the original
    token stream exactly (the denoising-objective invariant)."""
    import hashlib
    import re

    docs = [(i, " ".join(f"w{j}" for j in range(40))) for i in range(6)]
    got = _t5_rows(spark, docs, every=5, span_len=3)

    for doc_id, text in docs:
        toks = text.split()
        starts = set()
        for pos in range(len(toks)):
            h = int(hashlib.md5(f"{doc_id}:{pos}".encode())
                    .hexdigest()[:15], 16)
            if h % 5 == 0:
                starts.add(pos)
        masked = [any(p in starts for p in range(max(0, i - 2), i + 1))
                  for i in range(len(toks))]
        r = got[doc_id]
        assert r.n_tokens == len(toks)
        assert r.n_masked == sum(masked)
        # reconstruct: replace each sentinel in input by its target span
        tgt_spans = {}
        cur = None
        for piece in r.target_text.split():
            m = re.fullmatch(r"<extra_id_(\d+)>", piece)
            if m:
                cur = int(m.group(1))
                tgt_spans[cur] = []
            else:
                tgt_spans[cur].append(piece)
        assert len(tgt_spans) == r.n_spans
        rebuilt = []
        for piece in r.input_text.split():
            m = re.fullmatch(r"<extra_id_(\d+)>", piece)
            rebuilt.extend(tgt_spans[int(m.group(1))] if m else [piece])
        assert rebuilt == toks


def test_t5_spans_merge_and_edge_cases(spark):
    """Overlapping spans collapse to ONE sentinel; a doc with no
    sampled start keeps every token with an empty target; empty docs
    emit no row; args validate."""
    import pytest

    from casf_spark.operators.curation import t5_span_corruption

    # every=2 on a long doc: dense overlapping starts -> far fewer
    # spans than starts (merging), still reconstructable counts
    docs = [(1, " ".join(f"x{j}" for j in range(30))), (2, ""), (3, None)]
    got = _t5_rows(spark, docs, every=2, span_len=3)
    assert set(got) == {1}
    r = got[1]
    assert 0 < r.n_spans < r.n_masked  # merged runs: >1 token per span

    # improbable starts: every=10**9 -> no masks
    got2 = _t5_rows(spark, [(7, "a b c d e")], every=10**9)
    assert got2[7].input_text == "a b c d e"
    assert got2[7].target_text == ""
    assert got2[7].n_spans == 0

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="every"):
        t5_span_corruption(df, "doc_id", "text", every=1)


# ---------------------------------------------------------------------------
# unigram_lm_em_round
# ---------------------------------------------------------------------------

def test_unigram_em_usage_partition_and_concentration(spark):
    """Usage counts are a PARTITION of the token stream (piece lengths
    sum back to total token chars — the property seed substring counts
    lack), and on a corpus of one repeated word the whole mass lands on
    that word as a single piece."""
    from casf_spark.operators.curation import unigram_lm_em_round

    df = spark.createDataFrame(
        [(i, "abab abab abab") for i in range(4)],
        "doc_id long, text string")
    rows = unigram_lm_em_round(df, "doc_id", "text", max_piece_len=4,
                               vocab_size=16).collect()
    got = {r.piece: r for r in rows}
    # Viterbi's longest-final-piece rule segments 'abab' as one piece
    assert set(got) == {"abab"}
    assert got["abab"].cnt == 12  # 4 docs x 3 occurrences
    assert got["abab"].old_score is not None
    assert got["abab"].new_score == 0.0  # ln(12/12)
    assert got["abab"].rank == 1
    # conservation: piece chars == token chars
    assert sum(r.cnt * len(r.piece) for r in rows) == 12 * 4


def test_unigram_em_oov_fallback_counted_with_null_old_score(spark):
    """Chars outside a starved vocabulary appear as single-char usage
    rows with NULL old_score (the expansion candidates) — and the
    partition property still holds."""
    from casf_spark.operators.curation import unigram_lm_em_round

    df = spark.createDataFrame(
        [(1, "zz zz qx")], "doc_id long, text string")
    rows = unigram_lm_em_round(df, "doc_id", "text", max_piece_len=2,
                               vocab_size=1).collect()
    got = {r.piece: r for r in rows}
    # vocab_size=1 keeps only the top substring ('z': 4 occurrences),
    # so 'zz' segments as 'z z'; q and x fall back OOV
    assert set(got) == {"z", "q", "x"}
    assert got["z"].cnt == 4 and got["z"].old_score is not None
    oov = [r for r in rows if r.old_score is None]
    assert {r.piece for r in oov} == {"q", "x"}
    assert sum(r.cnt * len(r.piece) for r in rows) == 6


# ---------------------------------------------------------------------------
# lm_causal_windows
# ---------------------------------------------------------------------------

def test_lm_windows_partition_and_boundaries(spark):
    """Windows partition the doc-order token stream exactly: full ctx
    everywhere but the tail, concatenation reconstructs the stream,
    and boundary-straddling windows report n_docs > 1."""
    from casf_spark.operators.curation import lm_causal_windows

    docs = [(i, " ".join(f"d{i}t{j}" for j in range(10)))
            for i in range(7)]  # 70 tokens, ctx 16 -> 5 windows
    df = spark.createDataFrame(docs, "doc_id long, text string") \
        .repartition(4)
    rows = sorted(lm_causal_windows(df, "doc_id", "text", ctx=16)
                  .collect(), key=lambda r: r.window_id)
    assert [r.window_id for r in rows] == [0, 1, 2, 3, 4]
    assert [r.n_tokens for r in rows] == [16, 16, 16, 16, 6]
    stream = " ".join(r.tokens_str for r in rows).split()
    want = [f"d{i}t{j}" for i in range(7) for j in range(10)]
    assert stream == want
    # window 0 spans docs 0 and 1 (10 + 6 tokens)
    assert rows[0].n_docs == 2 and rows[0].first_doc == 0
    # attention-reset offsets: doc i starts at global 10*i -> in-window
    # offset (10*i) % 16 in window (10*i) // 16; window 1 starts
    # mid-doc-1 so its list has no leading 0
    starts = {r.window_id: r.doc_starts_str for r in rows}
    want_starts: dict[int, list[int]] = {}
    for i in range(7):
        g = 10 * i
        want_starts.setdefault(g // 16, []).append(g % 16)
    for wid in starts:
        offs = want_starts.get(wid, [])
        assert starts[wid] == " ".join(str(o) for o in offs)
    assert starts[0] == "0 10" and starts[4] == ""  # spot checks


def test_lm_windows_chunking_invariant_and_validation(spark):
    """The two-level prefix sum equals the naive global order at any
    chunk size (chunk=1 stress: every doc its own chunk)."""
    import pytest

    from casf_spark.operators.curation import lm_causal_windows

    docs = [(i, " ".join(f"w{i}_{j}" for j in range(1 + i % 5)))
            for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    a = {(r.window_id, r.tokens_str, r.n_docs, r.first_doc)
         for r in lm_causal_windows(df, "doc_id", "text", ctx=8,
                                    chunk=1024).collect()}
    b = {(r.window_id, r.tokens_str, r.n_docs, r.first_doc)
         for r in lm_causal_windows(df, "doc_id", "text", ctx=8,
                                    chunk=1).collect()}
    assert a == b and len(a) > 0
    with pytest.raises(ValueError, match="ctx"):
        lm_causal_windows(df, "doc_id", "text", ctx=0)


# ---------------------------------------------------------------------------
# fim_examples
# ---------------------------------------------------------------------------

def test_fim_python_reference_and_reconstruction(spark):
    """Cut points equal the md5 replay, and (prefix, middle, suffix)
    always reconstruct the token stream — including degenerate cuts
    (empty segments)."""
    import hashlib

    from casf_spark.operators.curation import fim_examples

    docs = [(i, " ".join(f"t{i}x{j}" for j in range(8 + i % 7)))
            for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r.doc: r for r in
            fim_examples(df, "doc_id", "text", min_tokens=8).collect()}
    assert set(rows) == {i for i, _ in docs}

    saw_empty = False
    for doc_id, text in docs:
        toks = text.split()
        n = len(toks)

        def cut(tag):
            h = int(hashlib.md5(f"{doc_id}:{tag}".encode())
                    .hexdigest()[:15], 16)
            return h % (n + 1)

        p1, p2 = sorted((cut("a"), cut("b")))
        r = rows[doc_id]
        assert (r.n_tokens, r.p1, r.p2) == (n, p1, p2)
        want = (f"<PRE> {' '.join(toks[:p1])} "
                f"<SUF> {' '.join(toks[p2:])} "
                f"<MID> {' '.join(toks[p1:p2])}")
        assert r.fim_text == want
        pre, rest = r.fim_text.split(" <SUF> ")
        suf, mid = rest.split(" <MID> ")
        rebuilt = (pre.removeprefix("<PRE>").split()
                   + mid.split() + suf.split())
        assert rebuilt == toks
        saw_empty = saw_empty or p1 == 0 or p1 == p2 or p2 == n
    assert saw_empty  # degenerate cuts occurred and serialized fine


def test_fim_min_tokens_and_validation(spark):
    import pytest

    from casf_spark.operators.curation import fim_examples

    df = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, "one two three four five six "
                                      "seven eight")],
        "doc_id long, text string")
    rows = fim_examples(df, "doc_id", "text", min_tokens=8).collect()
    assert [r.doc for r in rows] == [3]
    with pytest.raises(ValueError, match="min_tokens"):
        fim_examples(df, "doc_id", "text", min_tokens=0)


# ---------------------------------------------------------------------------
# filter_agreement_kappa
# ---------------------------------------------------------------------------

def test_kappa_hand_computed_and_edges(spark):
    from casf_spark.operators.curation import filter_agreement_kappa

    # 2x2 table: n11=4, n10=1, n01=1, n00=4 over n=10
    rows = ([(True, True)] * 4 + [(True, False)]
            + [(False, True)] + [(False, False)] * 4)
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    [r] = filter_agreement_kappa(df, F.col("a"), F.col("b")).collect()
    assert (r.n, r.n11, r.n10, r.n01, r.n00) == (10, 4, 1, 1, 4)
    assert r.po == 0.8 and r.pe == 0.5 and r.kappa == 0.6

    # perfect agreement -> kappa 1; NULL flags count as FALSE
    df2 = spark.createDataFrame(
        [(True, True), (None, False), (False, None)],
        "a boolean, b boolean")
    [r2] = filter_agreement_kappa(df2, F.col("a"), F.col("b")).collect()
    assert r2.kappa == 1.0 and r2.n00 == 2

    # constant filters -> pe == 1 -> NULL kappa
    df3 = spark.createDataFrame([(True, True)] * 5, "a boolean, b boolean")
    [r3] = filter_agreement_kappa(df3, F.col("a"), F.col("b")).collect()
    assert r3.kappa is None


def test_unigram_lm_segment_join_path_matches_broadcast(spark):
    """The vocabulary-cap fallback (word-grain join + doc-grain
    reassembly) is output-identical to the broadcast fast path —
    forced by broadcast_vocab_max=0."""
    from casf_spark.operators.curation import unigram_lm_segment

    pieces = spark.createDataFrame(
        [("ab", -1.0), ("abc", -5.0), ("c", -1.0),
         ("a", -2.0), ("b", -2.0), ("cd", -1.5), ("d", -2.0)],
        "piece string, score double")
    docs = spark.createDataFrame(
        [(1, "abc abcd ab"), (2, "abcd c abxc abcd"), (3, None),
         (4, ""), (5, "d d d")],
        "doc_id long, text string")
    fast = {r.doc_id: (r.n_pieces, r.pieces_str)
            for r in unigram_lm_segment(docs, "doc_id", "text",
                                        pieces).collect()}
    join = {r.doc_id: (r.n_pieces, r.pieces_str)
            for r in unigram_lm_segment(docs, "doc_id", "text", pieces,
                                        broadcast_vocab_max=0).collect()}
    assert fast == join
    assert fast[3] == (0, "") and fast[4] == (0, "")



def test_boilerplate_lines_threshold_and_floor(spark):
    """Detection: >= min_frac of the group's docs AND >= min_docs;
    under-threshold and under-floor lines are not reported."""
    from casf_spark.operators.curation import boilerplate_lines

    rows = []
    # domain A: 4 docs; 'hdr' in all 4 (boiler), 'promo' in 1 (kept)
    for d in range(4):
        rows += [("a.com", d, "hdr"), ("a.com", d, f"body {d}")]
    rows.append(("a.com", 0, "promo"))
    # domain B: 2 docs; 'hdr' in both — 100% but min_docs=3 floors it
    rows += [("b.com", 10, "hdr"), ("b.com", 11, "hdr"),
             ("b.com", 10, "body x")]
    df = spark.createDataFrame(rows, "dom string, doc long, line string")
    bp = {(r.dom, r.line): (r.line_docs, r.grp_docs)
          for r in boilerplate_lines(df, "dom", "doc", "line",
                                     min_frac=0.5, min_docs=3).collect()}
    assert bp == {("a.com", "hdr"): (4, 4)}


def test_boilerplate_lines_frac_validation(spark):
    import pytest
    from casf_spark.operators.curation import boilerplate_lines

    df = spark.createDataFrame([("a", 1, "x")],
                               "dom string, doc long, line string")
    with pytest.raises(ValueError, match="min_frac"):
        boilerplate_lines(df, "dom", "doc", "line", min_frac=0.0)


def test_contamination_flags_bloom_equals_exact(spark):
    """Differential: the Bloom-gated rule is output-identical to the
    exact rule (the rescue join removes every false positive), on a
    corpus sized so the tiny filter MUST produce false positives."""
    from casf_spark.operators.curation import (contamination_flags,
                                               contamination_flags_bloom)

    bench = spark.createDataFrame(
        [(100 + i, f"alpha beta gamma{i} delta epsilon") for i in range(6)],
        "doc_id long, text string")
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma{i % 9} delta epsilon zed{i}")
         for i in range(30)] + [(40, "totally unrelated words here")],
        "doc_id long, text string")
    exact = {(r.doc, r.n_hits)
             for r in contamination_flags(docs, bench, "doc_id", "text",
                                          n=4).collect()}
    # m_bits=64, k=2: with ~18 benchmark grams the filter saturates ->
    # heavy fp pressure, the rescue must still clean to exact
    gated = {(r.doc, r.n_hits)
             for r in contamination_flags_bloom(docs, bench, "doc_id",
                                                "text", n=4, m_bits=64,
                                                k=2).collect()}
    assert gated == exact and exact  # non-empty and identical


def test_quantile_normalize_calibrates_across_groups(spark):
    """Two groups with shifted score distributions land on the SAME
    global midpoint values per tile; NULL scores pass through with
    NULL tile; ntile ordering is (score, doc)-stable."""
    from casf_spark.operators.curation import quantile_normalize

    rows = ([(i, "a", float(i)) for i in range(10)]          # 0..9
            + [(100 + i, "b", float(100 + i)) for i in range(10)]
            + [(999, "a", None)])
    df = spark.createDataFrame(rows, "doc long, grp string, s double")
    got = {r.doc: (r.tile, r.score_norm)
           for r in quantile_normalize(df, "grp", "doc", "s",
                                       k=5).collect()}
    assert got[999] == (None, None)
    # group a docs 0..9 -> tiles 1..5 (2 per tile); group b likewise
    assert got[0][0] == 1 and got[1][0] == 1 and got[2][0] == 2
    assert got[100][0] == 1 and got[108][0] == 5
    # calibration: same tile -> same normalized value across groups
    for j in range(10):
        assert got[j] == got[100 + j], (j, got[j], got[100 + j])
    # normalized values are global percentiles -> monotone in tile
    vals = [got[2 * t][1] for t in range(5)]
    assert vals == sorted(vals)


def test_quantile_normalize_validation(spark):
    import pytest
    from casf_spark.operators.curation import quantile_normalize

    df = spark.createDataFrame([(1, "a", 1.0)],
                               "doc long, grp string, s double")
    with pytest.raises(ValueError, match="k must be"):
        quantile_normalize(df, "grp", "doc", "s", k=1)


def test_quantile_match_maps_onto_reference(spark):
    """Scores 0..9 in one source map, at their decile midpoints, onto
    the REFERENCE corpus's (uniform 100..200) percentiles — the
    two-corpus calibration contract; NULL scores pass through with
    NULL tile/score_matched; k <= 1 raises."""
    import pytest
    from casf_spark.operators.curation import quantile_match

    df = spark.createDataFrame(
        [(i, "s", float(i)) for i in range(10)] + [(99, "s", None)],
        "doc long, src string, score double")
    ref = spark.createDataFrame([(i, 100.0 + i) for i in range(101)],
                                "doc long, score double")
    got = {r.doc: (r.tile, r.score_matched) for r in
           quantile_match(df, ref, "src", "doc", "score", k=5).collect()}
    # ref percentiles at midpoints .1/.3/.5/.7/.9 of 100..200
    assert got[0] == (1, 110.0) and got[1] == (1, 110.0)
    assert got[4] == (3, 150.0) and got[9] == (5, 190.0)
    assert got[99] == (None, None)
    with pytest.raises(ValueError, match="k must be > 1"):
        quantile_match(df, ref, "src", "doc", "score", k=1)


def test_temperature_resample_null_stratum_is_real(spark):
    """A NULL stratum used to be silently DROPPED by the equality join
    while its count still deflated the other strata's shares through
    the power-weight normalizer; eqNullSafe keeps it as a real group
    (the file's group_quantile convention)."""
    from casf_spark.operators.curation import temperature_resample

    rows = [(i, "en" if i < 50 else None) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_resample(df, F.col("doc_id").cast("string"),
                               "lang", alpha=1.0, total_rows=100)
    got = out.groupBy("lang").count().collect()
    by = {r.lang: r["count"] for r in got}
    # alpha=1, total=100 => rate 1.0 for both strata: ALL rows survive,
    # including every NULL-stratum row
    assert by == {"en": 50, None: 50}


def test_boilerplate_null_group_detected(spark):
    """Documents without a domain (NULL group) form a real boilerplate
    group: their shared chrome is detected, instead of being exempted
    by a null-dropping equality join."""
    from casf_spark.operators.curation import boilerplate_lines

    rows = ([(None, d, "COOKIE BANNER") for d in range(4)]
            + [(None, d, f"body {d}") for d in range(4)]
            + [("a.com", d, f"text {d}") for d in range(3)])
    lines = spark.createDataFrame(rows, "dom string, doc long, line string")
    det = boilerplate_lines(lines, "dom", "doc", "line",
                            min_frac=0.5, min_docs=2).collect()
    assert [(r.dom, r.line) for r in det] == [(None, "COOKIE BANNER")]


def test_empty_corpus_reports_do_not_crash_under_ansi(spark):
    """curation_funnel, filter_agreement_kappa and mixture_plan used to
    divide by a zero total on empty/all-empty input — DIVIDE_BY_ZERO
    under Spark 4 ANSI mode; all three now degrade with guards."""
    from casf_spark.operators.curation import (curation_funnel,
                                               filter_agreement_kappa,
                                               mixture_plan)

    empty = spark.createDataFrame([], "doc_id long, text string, f1 boolean, f2 boolean")
    fr = curation_funnel(empty, [("f1", F.col("f1")),
                                 ("f2", F.col("f1") & F.col("f2"))]).collect()
    assert [r.pass_rate for r in fr] == [0.0, 0.0]
    kr = filter_agreement_kappa(empty, F.col("f1"), F.col("f2")).collect()
    assert kr[0].n == 0 and kr[0].kappa is None
    mp = mixture_plan(
        spark.createDataFrame([(1, " ", "s0")],
                              "doc_id long, text string, source string"),
        "source", "text", {"s0": 1.0}, 100).collect()
    assert mp[0].natural_share == 0.0  # zero tokens, guarded
