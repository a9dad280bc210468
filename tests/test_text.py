from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from casf_spark.functions import text as TX


@pytest.fixture(scope="module")
def docs(spark):
    data = [
        (1, "The quick brown fox, the lazy dog!"),
        (2, "el perro y el gato de la casa"),
        (3, "  Multiple   spaces\tand MIXED case  "),
        (4, ""),
        (5, "123 abc 456"),
    ]
    return spark.createDataFrame(data, "doc_id long, text string")


def test_tokens_lowercase_split(spark, docs):
    row = docs.where("doc_id = 1").select(TX.tokens("text").alias("t")).first()
    assert row.t == ["the", "quick", "brown", "fox", "the", "lazy", "dog"]


def test_tokens_empty_doc(spark, docs):
    row = docs.where("doc_id = 4").select(TX.tokens("text").alias("t")).first()
    assert row.t == []


def test_term_counts_stopwords_literal(spark, docs):
    tc = TX.term_counts(docs, "doc_id", "text", stopwords=["the", "el"])
    got = {(r.y, r.x): r.value for r in tc.collect()}
    assert ("1", "the") not in got
    assert got[("1", "quick")] == 1.0
    assert ("2", "el") not in got
    assert got[("2", "y")] == 1.0


def test_term_counts_stopwords_dataframe_antijoin(spark, docs):
    sw = spark.createDataFrame([("the",), ("el",)], "word string")
    tc = TX.term_counts(docs, "doc_id", "text", stopwords=sw)
    words = {r.x for r in tc.collect()}
    assert "the" not in words and "el" not in words


def test_quality_features(spark, docs):
    q = {r.doc_id: r for r in
         TX.quality_features(docs, "doc_id", "text").collect()}
    assert q[1].n_tokens == 7
    assert q[1].punct_ratio > 0
    assert q[4].n_tokens == 0 and q[4].avg_token_len == 0.0
    assert q[5].digit_ratio == pytest.approx(6 / 11, abs=1e-6)


def test_lang_id_markers(spark, docs):
    lid = {r.doc_id: r.pred_lang for r in
           TX.lang_id(docs, "doc_id", "text").collect()}
    assert lid[1] == "en"
    assert lid[2] == "es"
    assert lid[4] == "und"


def test_lang_id_ties_follow_priority(spark):
    """Equal marker counts go to the earlier language in LANG_PRIORITY;
    no marker and NULL text give 'und'."""
    df = spark.createDataFrame(
        [(1, "the and el la"),   # en 2, es 2
         (2, "el y le les"),     # es 2, fr 2
         (3, "zzz qqq"),         # no marker
         (4, None)],
        "doc_id long, text string")
    lid = {r.doc_id: r.pred_lang for r in
           TX.lang_id(df, "doc_id", "text").collect()}
    assert lid == {1: "en", 2: "es", 3: "und", 4: "und"}


def test_fingerprint_whitespace_and_case_invariant(spark):
    data = [(1, "Hello   World"), (2, "hello world"), (3, "hello  world "),
            (4, "different text")]
    df = spark.createDataFrame(data, "doc_id long, text string")
    fps = {r.doc_id: r.fp for r in
           df.select("doc_id", TX.fingerprint("text").alias("fp")).collect()}
    assert fps[1] == fps[2] == fps[3]
    assert fps[4] != fps[1]


def test_union_of_per_doc_matrices_equals_whole(spark, docs):
    """U1 parity: stacking per-document term matrices with unionByName
    yields the same COO relation as one grouped pass."""
    parts = [TX.term_counts(docs.where(F.col("doc_id") == i), "doc_id", "text")
             for i in (1, 2, 3, 4, 5)]
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    whole = TX.term_counts(docs, "doc_id", "text")
    assert ({tuple(r) for r in unioned.collect()}
            == {tuple(r) for r in whole.collect()})


def test_token_stats(spark):
    df = spark.createDataFrame(
        [(1, "It's 42 ok-ish,  really")], "doc_id long, text string")
    r = TX.token_stats(df, "doc_id", "text").first()
    assert r.n_ws_tokens == 4
    assert r.n_word_tokens == 6      # it s 42 ok ish really
    assert r.n_bpe_tokens > 0
    assert r.n_chars == 23


def test_token_count(spark, docs):
    n = docs.where("doc_id = 1").select(
        TX.token_count("text").alias("n")).first().n
    assert n == 7


def test_winnow_fingerprints(spark):
    """Winnowing guarantee (Schleimer et al. SIGMOD'03): documents sharing
    a run of >= k+w-1 tokens share at least one fingerprint; short docs
    degrade gracefully."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens = k+w-1
    df = spark.createDataFrame(
        [(1, f"intro words here {shared} tail one"),
         (2, f"{shared} completely different ending text"),
         (3, "nothing in common with the others at all whatsoever"),
         (4, "tiny doc"),                       # < k tokens -> no fingerprints
         (5, "exactly five tokens right here now")],  # k tokens, < w k-grams
        "doc_id long, text string")
    fp = TX.winnow_fingerprints(df, "doc_id", "text", k=5, w=4)
    rows = fp.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "overlapping docs must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert 4 not in by_doc
    assert len(by_doc[5]) == 1  # global-min fallback below w k-grams
    # self-join on fp is the candidate generator: doc pair (1,2) must appear
    a = fp.select(F.col("doc").alias("d0"), "fp")
    b = fp.select(F.col("doc").alias("d1"), "fp")
    cand = (a.join(b, "fp").where(F.col("d0") > F.col("d1"))
            .select("d0", "d1").distinct().collect())
    assert (2, 1) in [tuple(r) for r in cand] or (1, 2) in [
        tuple(r) for r in cand]


def test_cjk_tokens_and_cosine(spark):
    """CJK seam (reference KeyWordsDemo parity: Chinese corpus): character
    bigrams give a usable term matrix where the regex tokenizer sees
    nothing; near-identical sentences must out-score unrelated ones."""
    from casf_spark import CosineAnalyser

    df = spark.createDataFrame(
        [(1, "今天天气很好我们去公园散步"),
         (2, "今天天气很好我们去海边散步"),
         (3, "机器学习模型需要大量训练数据"),
         (4, "mixed 文本 with latin words")],
        "doc_id long, text string")
    # default regex tokenizer drops CJK entirely
    assert TX.term_counts(df.where("doc_id = 1"), "doc_id", "text",
                          stopwords=None).count() == 0
    toks = df.select(TX.cjk_tokens("text").alias("t")).collect()
    assert "今天" in toks[0].t and "天天" in toks[0].t  # sliding bigrams
    assert "mixed" in toks[3].t and "文本" in toks[3].t  # latin + CJK mix
    m = TX.term_counts(df, "doc_id", "text", stopwords=None,
                       tokenizer=TX.cjk_tokens)
    sims = {(r.vector0, r.vector1): r.similarity_value
            for r in CosineAnalyser(axis="y").fit(m, is_sparse=False)
            .all_similarity().collect()}
    assert sims[("2", "1")] > 0.6          # one-char edit: highly similar
    assert sims[("3", "1")] < sims[("2", "1")]
    assert sims[("3", "1")] < 0.2          # unrelated topic


def test_jieba_tokenizer_gated(spark):
    """Without jieba installed, the factory must raise an actionable
    ImportError (cjk_tokens is the documented fallback)."""
    try:
        import jieba  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="jieba"):
            TX.jieba_tokenizer()
    else:
        seg = TX.jieba_tokenizer()
        df = spark.createDataFrame([(1, "今天天气很好",)],
                                   "doc_id long, text string")
        assert df.select(seg(F.col("text"))).first()[0]


def test_dict_tokenizer_fmm(spark):
    """Pure-Python dictionary segmentation: greedy longest-match splits on
    vocab words, out-of-vocab CJK falls out as single chars, latin runs
    tokenize whole — end-to-end through term_counts."""
    vocab = ["北京", "天安门", "天气", "今天", "机器学习", "学习"]
    seg = TX.dict_tokenizer(vocab)
    df = spark.createDataFrame(
        [(1, "我爱北京天安门"),
         (2, "今天天气很好"),
         (3, "机器学习 with Latin2 text"),
         (4, "")],
        "doc_id long, text string")
    got = {r.doc_id: list(r.t)
           for r in df.select("doc_id", seg(F.col("text")).alias("t"))
                      .collect()}
    assert got[1] == ["我", "爱", "北京", "天安门"]
    assert got[2] == ["今天", "天气", "很", "好"]
    # longest match wins: 机器学习 (4) beats 学习 (2); latin lowercased
    assert got[3] == ["机器学习", "with", "latin2", "text"]
    assert got[4] == []
    m = TX.term_counts(df, "doc_id", "text", stopwords=None, tokenizer=seg)
    counts = {(r.y, r.x): r.value for r in m.collect()}
    assert counts[("1", "北京")] == 1.0 and counts[("2", "天气")] == 1.0


REF_DATA = "/root/reference/src/test/data"


@pytest.mark.skipif(not os.path.isdir(REF_DATA),
                    reason="reference fixture tree not present")
def test_dict_tokenizer_on_reference_articles(spark):
    """Segment the reference demo's ACTUAL fixture sentences
    (KeyWordsDemo.scala:19-27 reads these three articles + the stop-word
    table) with dict_tokenizer + the stopwords option that mirrors ansj's
    StopRecognition (filter applied to the segmented result), and pin
    hand-counted term triples for the opening sentence.

    Hand count for 国家的希望在青年，民族的未来在青年。 with the vocab
    below: 国家 希望 青年 民族 未来 青年 — 的/在 fall out as single
    chars and are dropped by the stop table (both appear in
    中文停用词表.txt); ，。 never enter (non-CJK codepoints)."""
    import pathlib

    stop_tbl = {w.strip() for w in pathlib.Path(
        REF_DATA, "中文停用词表.txt").read_text("utf-8").splitlines()
        if w.strip()}
    assert {"的", "在"} <= stop_tbl  # the hand count below relies on these

    vocab = ["国家", "希望", "青年", "民族", "未来", "理想", "本领",
             "担当", "前途", "时代", "中国"]
    seg = TX.dict_tokenizer(vocab, stopwords=stop_tbl)

    first_line = pathlib.Path(
        REF_DATA, "不辜负党的期望人民期待民族重托.txt"
    ).read_text("utf-8").strip().splitlines()[0].strip()
    assert first_line.startswith("国家的希望在青年")

    sent = first_line.split("。")[0] + "。"  # 国家的希望在青年，民族的未来在青年。
    df = spark.createDataFrame([(1, sent)], "doc_id long, text string")
    toks = df.select(seg(F.col("text")).alias("t")).first().t
    from collections import Counter

    assert Counter(toks) == {"青年": 2, "国家": 1, "希望": 1,
                             "民族": 1, "未来": 1}

    # end-to-end triples through term_counts (the MatrixElement(x, y,
    # value) shape of KeyWordsDemo.scala:55-62): article id, term, count
    m = TX.term_counts(df.select(F.lit("article1").alias("doc_id"), "text"),
                       "doc_id", "text", stopwords=None, tokenizer=seg)
    triples = {(r.y, r.x): r.value for r in m.collect()}
    assert triples[("article1", "青年")] == 2.0
    assert triples[("article1", "民族")] == 1.0


@pytest.mark.skipif(not os.path.isdir(REF_DATA),
                    reason="reference fixture tree not present")
def test_reference_articles_full_pipeline_stopwords_absent(spark):
    """All three fixture articles through segmentation with the real stop
    table: no stopword survives in any output token list (the
    StopRecognition contract), and every article yields terms."""
    import pathlib

    stop_tbl = {w.strip() for w in pathlib.Path(
        REF_DATA, "中文停用词表.txt").read_text("utf-8").splitlines()
        if w.strip()}
    vocab = ["国家", "希望", "青年", "民族", "未来", "时代", "中国",
             "信息", "强国", "道路", "复兴", "信心", "志向", "人民"]
    seg = TX.dict_tokenizer(vocab, stopwords=stop_tbl)
    arts = [p for p in pathlib.Path(REF_DATA).iterdir()
            if p.name != "中文停用词表.txt"]
    assert len(arts) == 3
    rows = [(p.stem, p.read_text("utf-8")) for p in arts]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = df.select("doc_id", seg(F.col("text")).alias("toks")).collect()
    for r in out:
        assert len(r.toks) > 0
        assert not (set(r.toks) & stop_tbl), sorted(set(r.toks) & stop_tbl)[:5]


# ---------------------------------------------------------------------------
# Gopher quality rules
# ---------------------------------------------------------------------------

def test_gopher_rules_rule_by_rule(spark):
    from casf_spark.functions.text import gopher_quality
    good = ("the quick brown fox jumps over the lazy dog and that have "
            "with be to of runs far " * 3).strip()  # 69 words, all alpha
    short = "the of and that"                        # fails word count
    hashy = good + " " + "# " * 30                   # symbol ratio > 0.1
    bullets = "\n".join(f"- item {i} " + good for i in range(10))
    numeric = " ".join(["12345"] * 60)               # no alpha, no stopwords
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, hashy), (4, bullets), (5, numeric),
         (6, None)],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           gopher_quality(df, "doc_id", "text").collect()}
    assert out[1].passes_gopher
    assert out[1].alpha_word_frac == 1.0
    assert out[1].n_required_stopwords >= 2
    assert not out[2].passes_gopher and out[2].n_words < 50
    assert not out[3].passes_gopher and out[3].symbol_word_ratio > 0.1
    assert not out[4].passes_gopher and out[4].bullet_line_frac == 1.0
    assert not out[5].passes_gopher
    assert out[5].alpha_word_frac == 0.0
    assert out[5].n_required_stopwords == 0
    # NULL text counts as empty, never size(NULL) = -1
    assert out[6].n_words == 0 and not out[6].passes_gopher


def test_gopher_ellipsis_lines(spark):
    from casf_spark.functions.text import gopher_quality
    base = "the and of that with be to have " * 8
    text = "\n".join([base + "..."] * 4 + [base] * 6)
    out = gopher_quality(
        spark.createDataFrame([(1, text)], "doc_id long, text string"),
        "doc_id", "text").first()
    assert out.ellipsis_line_frac == 0.4
    assert not out.passes_gopher  # 0.4 exceeds the 0.3 ellipsis-line cap
