"""SQL fragments and Spark builders shared by more than one query family.

Float parity discipline: every float output column is ROUND()ed identically
on both sides (6dp for ratios/cosines/averages, 2dp for money sums), because
Spark and DuckDB sum partitions in different orders.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from casf_spark.functions import text as TX
from casf_spark.functions.hashing import minhash_sql_exprs
from casf_spark.operators import urls as URL

STOPWORDS = list(TX.DEFAULT_STOPWORDS)


_SW_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


# tokens list per document (DuckDB twin of functions.text.tokens)
_TOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"


# Bloom filter shape shared by the Spark queries and their oracle twins
# (dedup_bloom, stream_bloom_state)
BLOOM_M, BLOOM_K = 1 << 16, 4


# content-defined chunks per document (DuckDB twin of
# operators.curation.content_defined_chunks, divisor 16): boundary where
# md5(token) % 16 == 0, final partial chunk always closed at n. Shared by
# the text_cdc_chunks contract, the dedup_chunks rollup, and (instantiated
# twice with distinct CTE names over different sources) cdc_chunk_reuse.
def _cdc_chunks_cte(src: str = "documents", out: str = "cdc_chunks",
                    pfx: str = "", win: int = 1) -> str:
    """The CDC-chunker CTE chain over relation ``src`` (must expose
    doc_id + text), emitting chunks as CTE ``out``; ``pfx`` uniquifies
    the intermediate CTE names so two instantiations can share one
    WITH clause. ``win`` > 1 hashes the k-token window ending at each
    position (curation.content_defined_chunks window=k twin)."""
    if win <= 1:
        bound = "md5(a[i])"
    else:
        bound = (f"md5(array_to_string("
                 f"a[GREATEST(i - {win} + 1, 1):i], ' '))")
    return f"""{pfx}t AS (SELECT CAST(doc_id AS BIGINT) doc_id, {_TOKS} a FROM {src}),
{pfx}p AS (SELECT doc_id, a, len(a) n FROM {pfx}t WHERE len(a) > 0),
{pfx}e AS (SELECT doc_id, a, n,
        list_filter(range(1, n + 1),
                    i -> CAST('0x' || substr({bound}, 1, 15) AS BIGINT)
                         % 16 = 0) ends0
      FROM {pfx}p),
{pfx}e2 AS (SELECT doc_id, a,
         CASE WHEN len(ends0) = 0 OR ends0[-1] <> n
              THEN list_append(ends0, n) ELSE ends0 END ends
       FROM {pfx}e),
{pfx}c AS (SELECT doc_id, a, ends, unnest(range(len(ends))) i FROM {pfx}e2),
{out} AS (
  SELECT doc_id, CAST(i AS BIGINT) chunk_id,
         CAST(ends[i + 1] - (CASE WHEN i = 0 THEN 0 ELSE ends[i] END)
              AS BIGINT) n_tokens,
         array_to_string(
           a[(CASE WHEN i = 0 THEN 0 ELSE ends[i] END) + 1 : ends[i + 1]],
           ' ') chunk_text
  FROM {pfx}c)"""


_CDC_CHUNKS_CTE = _cdc_chunks_cte()


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _planted_urls(docs):
    """Deterministic messy-URL plant over documents (operators.urls has
    no url column to chew on in the TPC-H-ish testdata, so — the round-8
    exact-plant discipline — the raw URL is a pure function of doc_id
    built from IDENTICAL literals in the DuckDB twins).

    Canonical identity is ``g = doc_id % 50``: scheme (https when g
    even), host ``[news.]site{g%10}.{tld[g%4]}`` (tlds com/org/net/co.uk
    — the last exercising the 2-label-suffix rule; groups 7/31 override
    to the 3-LABEL suffixes k12.ca.us / k12.ny.us, g=31 with the news.
    label, exercising PSL depth), path ``/a/g`` (g=25: root path; g=30:
    NO path), and the real query params (``id=g`` plus ``v=1`` when g
    even; g%5==4 groups have none). Group 13 carries a NON-default
    ``:8080`` port on every raw URL (canonical host keeps it;
    registered_domain must strip it). All other messiness varies with
    doc_id, NOT g — www. prefix (i%4==0), uppercased authority (i%4==2),
    uppercased scheme (i%8==0), default port (i%7==0), trailing slash
    (i%6==0), tracking params prepended (i%3==0), scrambled param order
    (i%9==0), bare '?' (paramless docs with i even), fragment (i%5==0) —
    so every doc in group g normalizes to the same canonical URL and the
    normalizer is exercised on every rule. 50 canonical URLs; group size
    = corpus/50.
    """
    i = F.col("doc_id")
    g = i % 50
    gs = g.cast("string")
    scheme = F.when(g % 2 == 0, "https").otherwise("http")
    scheme_raw = F.when(i % 8 == 0, F.upper(scheme)).otherwise(scheme)
    # groups 7 and 31 carry 3-LABEL public suffixes (k12.<state>.us —
    # real PSL entries): g=7 has no extra label (host IS suffix+1),
    # g=31 adds the news. label, so the depth-aware PSL rule must strip
    # exactly one; group 13 carries a NON-default port on every raw URL
    # (kept in the canonical host by contract, stripped by
    # registered_domain — the port-vs-domain boundary)
    tld = (F.when(g == 7, "k12.ca.us").when(g == 31, "k12.ny.us")
           .when(g % 4 == 0, "com").when(g % 4 == 1, "org")
           .when(g % 4 == 2, "net").otherwise("co.uk"))
    hostcore = F.concat(F.lit("site"), (g % 10).cast("string"),
                        F.lit("."), tld)
    hostc = F.when(g % 7 == 3,
                   F.concat(F.lit("news."), hostcore)).otherwise(hostcore)
    auth = F.when(i % 4 == 0,
                  F.concat(F.lit("www."), hostc)).otherwise(hostc)
    auth = F.when(i % 4 == 2, F.upper(auth)).otherwise(auth)
    port = (F.when(g == 13, ":8080")
            .when((i % 7 == 0) & (g % 2 == 0), ":443")
            .when(i % 7 == 0, ":80").otherwise(""))
    pcore = (F.when(g == 25, "/").when(g == 30, "")
             .otherwise(F.concat(F.lit("/a/"), gs)))
    praw = F.concat(pcore, F.when(i % 6 == 0, F.lit("/")).otherwise(""))
    real = (F.when(g % 5 == 4, "")
            .when((g % 2 == 0) & (i % 9 == 0),
                  F.concat(F.lit("v=1&id="), gs))
            .when(g % 2 == 0, F.concat(F.lit("id="), gs, F.lit("&v=1")))
            .otherwise(F.concat(F.lit("id="), gs)))
    track = F.when(
        i % 3 == 0,
        F.concat(F.lit("utm_source=feed&utm_campaign=c"),
                 (i % 2).cast("string"))).otherwise("")
    qstr = (F.when((track != "") & (real != ""),
                   F.concat(track, F.lit("&"), real))
            .when(track != "", track).otherwise(real))
    qseg = (F.when(qstr != "", F.concat(F.lit("?"), qstr))
            .when(i % 2 == 0, "?").otherwise(""))
    frag = F.when(i % 5 == 0,
                  F.concat(F.lit("#s"), (i % 3).cast("string"))) \
        .otherwise("")
    url = F.concat(scheme_raw, F.lit("://"), auth, port, praw, qseg, frag)
    return docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                       F.col("n_chars").cast("long").alias("n_chars"),
                       url.alias("url"))


def _toks_cte(extra_where: str = "") -> str:
    return f"""
toklist AS (SELECT doc_id, {_TOKS} a FROM documents {extra_where}),
toks AS (SELECT CAST(doc_id AS BIGINT) doc, generate_subscripts(a, 1) pos,
                unnest(a) w
         FROM toklist)"""


def _minhash_cte() -> str:
    """WITH-body fragment ending in a ``mh_cand(doc0, doc1)`` CTE of MinHash
    banding candidate pairs (doc0 > doc1 numerically)."""
    hash_sql = "CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)"
    exprs = minhash_sql_exprs(hash_sql, 12)
    mins = ",\n         ".join(
        f"MIN({e}) AS mh_{i}" for i, e in enumerate(exprs))
    bands = []
    for b in range(4):
        cols = " || '_' || ".join(
            f"CAST(mh_{b * 3 + r} AS VARCHAR)" for r in range(3))
        bands.append(f"SELECT doc, {b} AS band, {cols} AS bucket FROM sig")
    bands_sql = "\nUNION ALL\n".join(bands)
    return f"""{_toks_cte()},
sh AS (
  SELECT DISTINCT t1.doc, t1.w || ' ' || t2.w AS shingle
  FROM toks t1 JOIN toks t2 ON t1.doc = t2.doc AND t2.pos = t1.pos + 1),
sig AS (
  SELECT doc,
         {mins}
  FROM sh GROUP BY doc),
bands AS ({bands_sql}),
mh_cand AS MATERIALIZED (
  SELECT DISTINCT a.doc AS doc0, b.doc AS doc1
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc > b.doc)"""

  # ^ MATERIALIZED is load-bearing: DuckDB INLINES plain CTEs, so a
  # recursive walk whose recursive term touches (a CTE derived from)
  # mh_cand re-ran the whole tokenize->shingle->minhash->band pipeline
  # EVERY iteration — measured 26.8 s -> 0.8 s on the dedup_clusters
  # twin at sf0.1 with identical results. Non-recursive consumers that
  # reference mh_cand more than once (dedup_triangles' triple join)
  # benefit the same way.


def _vsql_sqd(a: str, b: str) -> str:
    """DuckDB squared-L2 between two list columns (cast-to-double cells —
    the exact expression V-side sq_dist evaluates)."""
    return (f"list_sum(list_transform(range(len({a})), "
            f"i -> (CAST({a}[i+1] AS DOUBLE) - CAST({b}[i+1] AS DOUBLE)) "
            f"* (CAST({a}[i+1] AS DOUBLE) - CAST({b}[i+1] AS DOUBLE))))")


_STOP_LIST = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


def _marker_score(markers: tuple[str, ...]) -> str:
    lst = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
    return f"CAST(len(list_filter(a, t -> list_contains({lst}, t))) AS BIGINT)"


def _url_cte() -> str:
    """Shared URL-family oracle chain: the raw-URL plant (IDENTICAL
    literal construction to _planted_urls, keyed on g = doc_id % 50)
    followed by the full operators.urls normalization pipeline run as
    SQL — relation ``u`` exposes (doc_id, n_chars, url, url_norm, host,
    reg_domain). Any divergence between the Spark rules and these SQL
    rules hash-fails all four url_* / domain_* contracts. The suffix
    IN-lists are generated from the SAME vendored PUBLIC_SUFFIXES table
    the Spark rule folds in — one source of truth for both engines."""
    two, three = URL._split_by_depth(URL.PUBLIC_SUFFIXES)
    suf2 = ", ".join(f"'{s}'" for s in two)
    suf3 = ", ".join(f"'{s}'" for s in three)
    labs = "string_split(hnp, '.')"
    last2 = f"{labs}[-2] || '.' || {labs}[-1]"
    last3 = f"{labs}[-3] || '.' || {last2}"
    return rf"""u_raw AS (
  SELECT CAST(doc_id AS BIGINT) doc_id, CAST(n_chars AS BIGINT) n_chars,
         CAST(doc_id % 50 AS BIGINT) g
  FROM documents),
u_p1 AS (
  SELECT *,
    CASE WHEN g % 2 = 0 THEN 'https' ELSE 'http' END sch,
    CASE WHEN g = 7 THEN 'k12.ca.us' WHEN g = 31 THEN 'k12.ny.us'
         ELSE CASE g % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                         WHEN 2 THEN 'net' ELSE 'co.uk' END END tld
  FROM u_raw),
u_p2 AS (
  SELECT *,
    CASE WHEN g % 7 = 3 THEN 'news.' ELSE '' END
      || 'site' || CAST(g % 10 AS VARCHAR) || '.' || tld hostc
  FROM u_p1),
u_p3 AS (
  SELECT *,
    CASE WHEN doc_id % 8 = 0 THEN upper(sch) ELSE sch END sch_raw,
    CASE WHEN doc_id % 4 = 0 THEN 'www.' || hostc
         WHEN doc_id % 4 = 2 THEN upper(hostc) ELSE hostc END auth,
    CASE WHEN g = 13 THEN ':8080'
         WHEN doc_id % 7 = 0 THEN
      CASE WHEN g % 2 = 0 THEN ':443' ELSE ':80' END ELSE '' END port,
    (CASE WHEN g = 25 THEN '/' WHEN g = 30 THEN ''
          ELSE '/a/' || CAST(g AS VARCHAR) END)
      || CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END praw,
    CASE WHEN g % 5 = 4 THEN ''
         WHEN g % 2 = 0 AND doc_id % 9 = 0
           THEN 'v=1&id=' || CAST(g AS VARCHAR)
         WHEN g % 2 = 0 THEN 'id=' || CAST(g AS VARCHAR) || '&v=1'
         ELSE 'id=' || CAST(g AS VARCHAR) END repar,
    CASE WHEN doc_id % 3 = 0
      THEN 'utm_source=feed&utm_campaign=c' || CAST(doc_id % 2 AS VARCHAR)
      ELSE '' END track
  FROM u_p2),
u_p4 AS (
  SELECT *,
    CASE WHEN track <> '' AND repar <> '' THEN track || '&' || repar
         WHEN track <> '' THEN track ELSE repar END qstr
  FROM u_p3),
u_p5 AS (
  SELECT doc_id, n_chars,
    sch_raw || '://' || auth || port || praw
      || CASE WHEN qstr <> '' THEN '?' || qstr
              WHEN doc_id % 2 = 0 THEN '?' ELSE '' END
      || CASE WHEN doc_id % 5 = 0
              THEN '#s' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END url
  FROM u_p4),
u_n1 AS (SELECT *, regexp_replace(url, '#.*$', '') nu FROM u_p5),
u_n2 AS (
  SELECT *,
    lower(regexp_extract(nu, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) scheme,
    lower(regexp_extract(nu,
          '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) auth0,
    regexp_extract(nu,
          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) p0,
    regexp_extract(nu, '\?([^#]*)', 1) q0
  FROM u_n1),
u_n3 AS (
  SELECT *,
    regexp_replace(
      CASE WHEN scheme = 'http' AND auth0 LIKE '%:80'
             THEN substr(auth0, 1, length(auth0) - 3)
           WHEN scheme = 'https' AND auth0 LIKE '%:443'
             THEN substr(auth0, 1, length(auth0) - 4)
           ELSE auth0 END, '^www\.', '') host,
    CASE WHEN regexp_replace(p0, '/+$', '') = '' THEN '/'
         ELSE regexp_replace(p0, '/+$', '') END path,
    COALESCE(array_to_string(list_sort(list_filter(string_split(q0, '&'),
      p -> p <> '' AND NOT regexp_matches(p,
        '^(utm_[a-z0-9_]*|fbclid|gclid|msclkid|ref)='))), '&'), '') qn
  FROM u_n2),
u_n4 AS (
  SELECT *, regexp_replace(host, ':[0-9]+$', '') hnp FROM u_n3),
u AS (
  SELECT doc_id, n_chars, url,
    CASE WHEN scheme = '' THEN NULL
         ELSE scheme || '://' || host || path
           || CASE WHEN qn = '' THEN '' ELSE '?' || qn END END url_norm,
    host,
    CASE WHEN length({labs}) <= 2 THEN hnp
         WHEN {last3} IN ({suf3}) AND length({labs}) >= 4
           THEN {labs}[-4] || '.' || {last3}
         WHEN {last3} IN ({suf3}) THEN hnp
         WHEN {last2} IN ({suf2}) THEN {labs}[-3] || '.' || {last2}
         ELSE {last2} END reg_domain
  FROM u_n4)"""


_GOPHER_QUALITY_SQL = f"""
WITH w AS (
  SELECT CAST(doc_id AS BIGINT) doc_id, COALESCE(text, '') txt,
         list_filter(regexp_split_to_array(COALESCE(text, ''), '\\s+'),
                     x -> x <> '') words,
         list_filter(regexp_split_to_array(COALESCE(text, ''), '\\n'),
                     l -> trim(l) <> '') lines,
         {_TOKS} low
  FROM documents),
m AS (
  SELECT doc_id,
    CAST(len(words) AS BIGINT) n_words,
    ROUND(COALESCE(list_sum(list_transform(words, x -> length(x))), 0)
          * 1.0 / GREATEST(len(words), 1), 6) mean_word_len,
    ROUND((length(txt) - length(replace(txt, '#', ''))
           + (length(txt) - length(replace(txt, '...', ''))) / 3)
          / GREATEST(len(words), 1), 6) symbol_word_ratio,
    ROUND(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]')))
          * 1.0 / GREATEST(len(lines), 1), 6) bullet_line_frac,
    ROUND(len(list_filter(lines, l -> ends_with(trim(l), '...')))
          * 1.0 / GREATEST(len(lines), 1), 6) ellipsis_line_frac,
    ROUND(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
          * 1.0 / GREATEST(len(words), 1), 6) alpha_word_frac,
    CAST(len(list_filter(['the', 'be', 'to', 'of', 'and', 'that', 'have',
                          'with'], r -> list_contains(low, r)))
         AS BIGINT) n_required_stopwords
  FROM w)
SELECT *,
       n_words >= 50 AND n_words <= 100000
       AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
       AND symbol_word_ratio <= 0.1
       AND bullet_line_frac <= 0.9
       AND ellipsis_line_frac <= 0.3
       AND alpha_word_frac >= 0.8
       AND n_required_stopwords >= 2 AS passes_gopher
FROM m"""


_DEDUP_EXACT_SQL = """
SELECT CAST(MIN(doc_id) AS BIGINT) doc_id,
       -- NULL text -> per-doc sentinel (each NULL doc its own
       -- singleton group), mirroring dedup._fp_or_unique
       COALESCE(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))),
                chr(0) || 'null:' || CAST(doc_id AS VARCHAR)) fingerprint
FROM documents
GROUP BY 2"""
