"""Web curation: URL canonicalization and dedup, public-suffix
registered domains, per-domain caps, blocklists and quality, and
HTML extraction."""

from __future__ import annotations

from pyspark.sql import functions as F

from casf_spark.functions import html as HT
from casf_spark.functions import text as TX
from casf_spark.operators import curation as CU
from casf_spark.operators import urls as URL
from casf_spark.operators import psl_data as PSL
from casf_spark.sources.tables import load_table
from casf_spark.queries._common import (_GOPHER_QUALITY_SQL, _TOKS,
                                        _planted_urls, _url_cte)
from casf_spark.queries._registry import query


# Blocklisted registered domains for q_domain_blocklist — chosen so each
# actually occurs in the plant (hostcore parity: g%10 and the tld index
# g%4 share g's parity, so e.g. site3.com can never occur while site3.org
# does). Identical literal list in the DuckDB twin.
_URL_BLOCKLIST = ["site3.org", "site6.net", "site0.com"]


# suffixes exercised by q_url_psl_domains: 36 entries present in the
# FULL vendored PSL snapshot but ABSENT from the small PUBLIC_SUFFIXES
# table (so the contract proves the large table is actually consulted),
# including four 3-label US-locality entries, plus 4 unlisted tails
# that must fall back to the plain last-two-labels default. Pinned
# against psl_data by tests/test_urls.py.
_PSL_PLANT_SUFFIXES = (
    "com.bo", "tokyo.jp", "hokkaido.jp", "osaka.jp", "bc.ca", "on.ca",
    "qc.ca", "gc.ca", "gouv.fr", "asso.fr", "tur.ar", "coop.br",
    "ac.ir", "com.lb", "com.np", "co.zw", "com.gh", "com.et",
    "gov.bf", "seoul.kr", "busan.kr", "com.kh", "com.mv", "edu.mv",
    "com.iq", "com.af", "ac.rw", "co.tz", "go.tz", "ac.mu", "com.na",
    "mil.ru", "cc.tx.us", "lib.ny.us", "cc.oh.us", "lib.wa.us",
    "com", "org", "io", "dev")


# host templates exercised by q_url_psl_rules — every wildcard /
# exception branch of the PSL algorithm: a wildcard child that IS a
# public suffix (0, 6, 11), registrable-under-wildcard at exactly one
# more label (1, 7, 12), deep hosts under a wildcard (2, 8), exception
# hosts at / under the rule (3-5, 9-10), literal interplay on the same
# TLD as a wildcard's sibling (13-14), and the plain default (15).
# Pinned against psl_data.PSL_RULES by tests/test_urls.py.
_PSL_RULE_PLANT_HOSTS = (
    "foo.ck", "bar.foo.ck", "x.bar.foo.ck",
    "www.ck", "sub.www.ck", "a.b.www.ck",
    "x9.kawasaki.jp", "a.x9.kawasaki.jp", "z.a.x9.kawasaki.jp",
    "city.kawasaki.jp", "q.city.kawasaki.jp",
    "s7.sch.uk", "my.s7.sch.uk",
    "a.co.uk", "deep.x.tokyo.jp", "plain.org")


# DuckDB label list of the host and its last two / three labels, shared by
# the url_psl_domains and url_psl_rules twins
_PSL_LABELS = "string_split(hnp, '.')"
_PSL_LAST2 = f"{_PSL_LABELS}[-2] || '.' || {_PSL_LABELS}[-1]"
_PSL_LAST3 = f"{_PSL_LABELS}[-3] || '.' || {_PSL_LAST2}"


# URL family: every twin shares _url_cte() — the identical raw
# plant PLUS the normalization rules re-run as SQL, so the
# Spark expressions and the SQL rules cross-check each other
@query("url_normalize", oracle=f"""
WITH {_url_cte()}
SELECT doc_id, url, url_norm, host, reg_domain FROM u ORDER BY doc_id""")
def q_url_normalize(spark, sf):
    """URL canonicalization + registered-domain extraction
    (operators.urls.normalize_url / url_host / registered_domain — the
    CCNet/RefinedWeb pre-text curation key): fragment and tracking
    params dropped, scheme/host lowercased, www. and default ports
    stripped, trailing slashes collapsed, surviving params sorted;
    registered domain = last 2 host labels (3 over a multi-part suffix
    like co.uk — the PSL seam). Pure regexp/array expression work, zero
    shuffle; the twin runs the SAME rules as SQL over the identically
    planted raw URLs, so any rule divergence hash-fails."""
    docs = load_table(spark, sf, "documents")
    u = _planted_urls(docs)
    host = URL.url_host(F.col("url"))
    return (u.select("doc_id", "url",
                     URL.normalize_url(F.col("url")).alias("url_norm"),
                     host.alias("host"),
                     URL.registered_domain(host).alias("reg_domain"))
            .orderBy("doc_id"))


@query("url_dedup", oracle=f"""
WITH {_url_cte()}
SELECT url_norm, MIN(doc_id) keep_id, CAST(COUNT(*) AS BIGINT) n_dups
FROM u GROUP BY url_norm HAVING COUNT(*) >= 2 ORDER BY url_norm""")
def q_url_dedup(spark, sf):
    """URL-exact dedup on the CANONICAL form (operators.urls
    .normalize_url + the dedup_exact group shape): one row per
    normalized URL with >=2 raw variants — keep_id = min doc_id, n_dups
    = group size. The plant guarantees every doc in group g = doc_id%50
    canonicalizes identically while raws differ, so the query proves
    normalize-then-hash-groupBy collapses what raw hashing cannot. ONE
    hash shuffle on the canonical key — the linear-cost first gate a
    100-TB web pipeline runs before any text ever loads."""
    docs = load_table(spark, sf, "documents")
    u = _planted_urls(docs)
    return (u.select("doc_id",
                     URL.normalize_url(F.col("url")).alias("url_norm"))
            .groupBy("url_norm")
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count(F.lit(1)).cast("long").alias("n_dups"))
            .where(F.col("n_dups") >= 2)
            .orderBy("url_norm"))


@query("domain_caps", oracle=f"""
WITH {_url_cte()},
ranked AS (
  SELECT reg_domain, doc_id, n_chars,
         CAST(ROW_NUMBER() OVER (PARTITION BY reg_domain
              ORDER BY n_chars DESC, doc_id) AS BIGINT) domain_rank
  FROM u)
SELECT reg_domain, doc_id, n_chars, domain_rank
FROM ranked WHERE domain_rank <= 15 ORDER BY reg_domain, domain_rank""")
def q_domain_caps(spark, sf):
    """Per-registered-domain document cap (operators.urls.domain_caps —
    RefinedWeb's anti-SEO-farm sampler): within each registered domain
    rank docs by (n_chars DESC, doc_id) and keep the top 15; the kept
    rank rides along as domain_rank. ONE shuffle on the domain key (the
    row_number window); no join-back. The twin is the same window in
    SQL."""
    docs = load_table(spark, sf, "documents")
    u = _planted_urls(docs)
    dom = URL.registered_domain(URL.url_host(F.col("url")))
    capped = URL.domain_caps(u.withColumn("reg_domain", dom),
                             "reg_domain", 15,
                             [F.desc("n_chars"), F.asc("doc_id")])
    return (capped.select("reg_domain", "doc_id", "n_chars",
                          "domain_rank")
            .orderBy("reg_domain", "domain_rank"))


@query("domain_blocklist", oracle=f"""
WITH {_url_cte()}
SELECT reg_domain, CAST(COUNT(*) AS BIGINT) n_docs
FROM u
WHERE reg_domain NOT IN ({", ".join(f"'{d}'" for d in _URL_BLOCKLIST)})
GROUP BY reg_domain ORDER BY reg_domain""")
def q_domain_blocklist(spark, sf):
    """Domain-blocklist gate (operators.urls.domain_blocklist_filter —
    the first cut of every public web pipeline): broadcast LEFT ANTI
    join of the corpus against a blocklist of registered domains
    (planted so each blocklisted name genuinely occurs), then surviving
    docs per domain. The corpus never shuffles for the gate itself —
    the blocklist ships to the executors; the only shuffle is the
    report's count aggregation."""
    docs = load_table(spark, sf, "documents")
    u = _planted_urls(docs)
    dom = URL.registered_domain(URL.url_host(F.col("url")))
    bl = spark.createDataFrame([(d,) for d in _URL_BLOCKLIST],
                               "reg_domain string")
    kept = URL.domain_blocklist_filter(
        u.withColumn("reg_domain", dom), "reg_domain", bl)
    return (kept.groupBy("reg_domain")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
            .orderBy("reg_domain"))


# crawl-ledger incremental URL dedup: shared _url_cte again
@query("url_incremental", oracle=f"""
WITH {_url_cte()},
nb AS (SELECT doc_id AS doc, url_norm FROM u WHERE doc_id % 4 = 0),
h AS (SELECT DISTINCT url_norm, TRUE AS seen
      FROM u WHERE doc_id % 4 <> 0 AND doc_id % 50 < 40),
m AS (SELECT nb.doc, nb.url_norm, COALESCE(h.seen, FALSE) seen,
             MIN(nb.doc) OVER (PARTITION BY nb.url_norm) mdoc
      FROM nb LEFT JOIN h USING (url_norm))
SELECT doc, url_norm,
       CASE WHEN url_norm IS NULL THEN 'invalid'
            WHEN seen THEN 'seen'
            WHEN doc > mdoc THEN 'batch_dup'
            ELSE 'new' END status
FROM m ORDER BY doc""")
def q_url_incremental(spark, sf):
    """Crawl-ledger incremental URL dedup (operators.urls
    .url_incremental_dedup — the dedup_incremental pattern keyed on
    canonical URL, NEXT.md's round-10 candidate): batch = every doc
    with doc_id % 4 == 0 (a messiness-level slice spanning all 50
    canonical groups), ledger = the other docs of groups g < 40 only —
    so batch rows in g < 40 come out 'seen', and in g >= 40 the
    batch's min doc per canonical URL is 'new' with the rest
    'batch_dup': all three live statuses are guaranteed by the plant
    ('invalid' needs scheme-less junk the plant never emits — unit-
    tested instead). History streams past the broadcast batch-key set
    map-side; only the batch shuffles for the first-occurrence
    window."""
    docs = load_table(spark, sf, "documents")
    # materialize the planted (doc_id, url) projection ONCE before
    # splitting batch/history: _planted_urls is a ~60-node nested-CASE/
    # regexp tree, and url_incremental_dedup normalizes its input on
    # the batch side, the distinct-key side, AND the history side —
    # without truncation the plant expression rides into every subtree
    # of one plan (the q_split_leakage_domain 44 MiB-task-binary
    # failure mode; round-10 verdict item 2). One localCheckpoint cuts
    # the 6.09 s sf0.1 outlier to the sub-second broadcast-join +
    # batch-window shape the operator actually is.
    u = _planted_urls(docs).localCheckpoint()
    batch = u.where(F.col("doc_id") % 4 == 0)
    history = u.where((F.col("doc_id") % 4 != 0)
                      & (F.col("doc_id") % 50 < 40))
    return (URL.url_incremental_dedup(batch, history, "doc_id", "url")
            .orderBy("doc"))


def _url_psl_domains_oracle() -> str:
    # registered domains against the FULL vendored PSL snapshot: the
    # IN-lists are generated from the SAME psl_data tuple the Spark
    # side-table join consumes — one source of truth; the plant's
    # suffix list is the SAME _PSL_PLANT_SUFFIXES literal
    psl2, psl3 = URL._split_by_depth(PSL.PSL_ICANN_FULL)
    psl2_sql = ", ".join(f"'{s}'" for s in psl2)
    psl3_sql = ", ".join(f"'{s}'" for s in psl3)
    plant_sql = ", ".join(f"'{s}'" for s in _PSL_PLANT_SUFFIXES)
    return f"""
WITH p1 AS (
  SELECT CAST(doc_id AS BIGINT) doc_id,
         CAST(doc_id % 40 AS INT) g
  FROM documents),
p2 AS (
  SELECT doc_id,
         'h' || CAST(g AS VARCHAR) || '.'
             || ([{plant_sql}])[g + 1] h0
  FROM p1),
p3 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 1 THEN 'sub.' || h0
              WHEN doc_id % 3 = 2 THEN 'a.b.' || h0
              ELSE h0 END h1
  FROM p2),
p4 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN h1 || ':8080' ELSE h1 END host
  FROM p3),
p5 AS (
  SELECT doc_id, host,
         regexp_replace(host, ':[0-9]+$', '') hnp
  FROM p4)
SELECT doc_id, host,
  CASE WHEN length({_PSL_LABELS}) <= 2 THEN hnp
       WHEN {_PSL_LAST3} IN ({psl3_sql}) AND length({_PSL_LABELS}) >= 4
         THEN {_PSL_LABELS}[-4] || '.' || {_PSL_LAST3}
       WHEN {_PSL_LAST3} IN ({psl3_sql}) THEN hnp
       WHEN {_PSL_LAST2} IN ({psl2_sql}) THEN {_PSL_LABELS}[-3] || '.' || {_PSL_LAST2}
       ELSE {_PSL_LAST2} END reg_domain
FROM p5 ORDER BY doc_id"""


@query("url_psl_domains", oracle=_url_psl_domains_oracle())
def q_url_psl_domains(spark, sf):
    """Registered-domain extraction against the FULL vendored PSL
    snapshot (operators.psl_data.PSL_ICANN_FULL, 1621 literal ICANN
    entries vs the 225-entry PUBLIC_SUFFIXES expression table), routed
    through the side-table-join spelling (operators.urls
    .registered_domain_join) — the round-10 verdict's PSL order. The
    plant keys a suffix from _PSL_PLANT_SUFFIXES on g = doc_id % 40
    (every one of the 36 listed suffixes is ABSENT from the small
    table, so a query that silently consulted the old table
    hash-fails), prepends 0-2 extra labels on doc_id % 3 and a :8080
    port on doc_id % 11 — exercising the suffix-only, one-more-label,
    deep-host, 3-label-beats-2-label, and default-tail branches of the
    longest-match rule. Scale shape: two broadcast hash equi-joins
    (one per suffix depth) — the corpus never shuffles."""
    docs = load_table(spark, sf, "documents")
    i = F.col("doc_id")
    g = (i % 40).cast("int")
    suffix = F.element_at(
        F.array(*[F.lit(s) for s in _PSL_PLANT_SUFFIXES]), g + 1)
    host = F.concat(F.lit("h"), g.cast("string"), F.lit("."), suffix)
    host = (F.when(i % 3 == 1, F.concat(F.lit("sub."), host))
            .when(i % 3 == 2, F.concat(F.lit("a.b."), host))
            .otherwise(host))
    host = F.when(i % 11 == 0,
                  F.concat(host, F.lit(":8080"))).otherwise(host)
    df = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                     host.alias("host"))
    return (URL.registered_domain_join(df, "host", PSL.PSL_ICANN_FULL)
            .select("doc_id", "host", "reg_domain")
            .orderBy("doc_id"))


def _url_psl_rules_oracle() -> str:
    # full PSL rule algorithm (exception > longest rule > default)
    # replayed in SQL; every IN-list is generated from the SAME
    # psl_data.PSL_ICANN_FULL_RULES tuple the Spark join consumes
    _lits = [s for s in PSL.PSL_ICANN_FULL_RULES
             if not s.startswith(("*", "!"))]
    _wild = [s[2:] for s in PSL.PSL_ICANN_FULL_RULES
             if s.startswith("*.")]
    _exc = [s[1:] for s in PSL.PSL_ICANN_FULL_RULES if s.startswith("!")]
    rl2 = ", ".join(f"'{s}'" for s in _lits if s.count(".") == 1)
    rl3 = ", ".join(f"'{s}'" for s in _lits if s.count(".") == 2)
    rw1 = ", ".join(f"'{s}'" for s in _wild if "." not in s)
    rw2 = ", ".join(f"'{s}'" for s in _wild if s.count(".") == 1)
    re2 = ", ".join(f"'{s}'" for s in _exc if s.count(".") == 1)
    re3 = ", ".join(f"'{s}'" for s in _exc if s.count(".") == 2)
    rhosts = ", ".join(f"'{h}'" for h in _PSL_RULE_PLANT_HOSTS)
    rlast1 = f"{_PSL_LABELS}[-1]"
    return f"""
WITH p1 AS (
  SELECT CAST(doc_id AS BIGINT) doc_id,
         ([{rhosts}])[CAST(doc_id % 16 AS INT) + 1] h0
  FROM documents),
p2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN h0 || ':8080' ELSE h0 END host
  FROM p1),
p3 AS (
  SELECT doc_id, host,
         regexp_replace(host, ':[0-9]+$', '') hnp
  FROM p2),
p4 AS (
  SELECT doc_id, host, hnp, length({_PSL_LABELS}) n,
         CASE WHEN {_PSL_LAST3} IN ({re3}) THEN 2
              WHEN {_PSL_LAST2} IN ({re2}) THEN 1
              WHEN {_PSL_LAST3} IN ({rl3}) THEN 3
              WHEN {_PSL_LAST2} IN ({rw2})
                   AND length({_PSL_LABELS}) >= 3 THEN 3
              WHEN {_PSL_LAST2} IN ({rl2}) THEN 2
              WHEN {rlast1} IN ({rw1})
                   AND length({_PSL_LABELS}) >= 2 THEN 2
              ELSE 1 END ps
  FROM p3)
SELECT doc_id, host,
  CASE WHEN n <= ps THEN hnp
       WHEN ps = 3 THEN {_PSL_LABELS}[-4] || '.' || {_PSL_LAST3}
       WHEN ps = 2 THEN {_PSL_LABELS}[-3] || '.' || {_PSL_LAST2}
       ELSE {_PSL_LAST2} END reg_domain
FROM p4 ORDER BY doc_id"""


@query("url_psl_rules", oracle=_url_psl_rules_oracle())
def q_url_psl_rules(spark, sf):
    """Registered-domain extraction under the FULL PSL rule set —
    wildcard (``*.ck``, ``*.kawasaki.jp``, ``*.sch.uk``) and exception
    (``!www.ck``, ``!city.kawasaki.jp``) rules resolved by the
    side-table-join spelling (operators.urls.registered_domain_join
    over psl_data.PSL_ICANN_FULL_RULES; the round-11 verdict's PSL
    order — the expression spelling keeps rejecting rules loudly, and
    that divergence is documented on both functions). The plant keys a
    host template from _PSL_RULE_PLANT_HOSTS on doc_id % 16 (every
    wildcard/exception branch: suffix-itself pass-through, registrable
    at wildcard+1 labels, deep hosts, exception at and under the rule,
    literal siblings, default) and appends a :8080 port on
    doc_id % 11 == 0. The twin replays the FULL PSL precedence
    (exception > longest rule > default) in SQL with IN-lists generated
    from the SAME rule tuple. Scale shape: six broadcast hash
    equi-joins, corpus never shuffles."""
    docs = load_table(spark, sf, "documents")
    i = F.col("doc_id")
    g = (i % 16).cast("int")
    host = F.element_at(
        F.array(*[F.lit(h) for h in _PSL_RULE_PLANT_HOSTS]), g + 1)
    host = F.when(i % 11 == 0,
                  F.concat(host, F.lit(":8080"))).otherwise(host)
    df = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                     host.alias("host"))
    return (URL.registered_domain_join(df, "host",
                                       PSL.PSL_ICANN_FULL_RULES)
            .select("doc_id", "host", "reg_domain")
            .orderBy("doc_id"))


# HTML extraction: identical doc_id-keyed markup plant, then the
# functions.html rules replayed as SQL (blocks -> tags ->
# entities with &amp; last -> whitespace collapse)
@query("html_extract", oracle=f"""
WITH h AS (
  SELECT CAST(doc_id AS BIGINT) doc_id,
    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
      || ' &amp; co</title>'
    || CASE WHEN doc_id % 3 = 0
            THEN '<script>var s = "</style>";' || chr(10)
                 || 'if (s) {{ go(); }}</script>'
            ELSE '' END
    || CASE WHEN doc_id % 4 = 0
            THEN '<style> p {{ color: #fff }} </style>' ELSE '' END
    || '</head><body>'
    || CASE WHEN doc_id % 5 = 0 THEN '<nav>Home &amp; About</nav>'
            ELSE '' END
    || '<p id="c' || CAST(doc_id AS VARCHAR) || '">'
    || CASE WHEN doc_id % 7 = 0
            THEN 'A &amp; B &lt;x&gt; &quot;q&quot; &#39;s&#39; '
            ELSE '' END
    || COALESCE(text, '') || '</p>'
    || CASE WHEN doc_id % 2 = 0 THEN '<div class="ft">&copy; 2024</div>'
            ELSE '' END
    || '</body></html>' html
  FROM documents),
s1 AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(html,
      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
      '(?s)<style[^>]*>.*?</style>', ' ', 'g') t,
    regexp_extract(html, '<title[^>]*>(.*?)</title>', 1) ti
  FROM h),
s2 AS (
  SELECT doc_id,
    replace(replace(replace(replace(replace(replace(
      regexp_replace(t, '<[^>]*>', ' ', 'g'),
      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
      '&nbsp;', ' '), '&amp;', '&') t,
    replace(replace(replace(replace(replace(replace(ti,
      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
      '&nbsp;', ' '), '&amp;', '&') ti
  FROM s1),
s3 AS (
  SELECT doc_id, trim(ti) title,
         trim(regexp_replace(t, '\\s+', ' ', 'g')) text_clean
  FROM s2)
SELECT doc_id, title, text_clean,
       CAST(length(text_clean) AS BIGINT) n_chars_clean
FROM s3 ORDER BY doc_id""")
def q_html_extract(spark, sf):
    """HTML text extraction (functions.html — the EXTRACT stage web
    pipelines run before any quality/dedup pass): script/style blocks
    removed with their content, tags stripped to spaces, common
    entities decoded (&amp; last — double-decode guard), whitespace
    collapsed; plus the <title> text. The corpus has no HTML column, so
    — the exact-plant discipline — each doc's text is wrapped in
    deterministic doc_id-keyed markup (title, optional script/style/nav
    blocks, an entity-bearing prefix every 7th doc, attributes,
    footer) built from IDENTICAL literals in the twin, which then
    replays the extraction rules as SQL: any rule divergence
    hash-fails on full extracted strings, not summaries. Pure
    expression work — raw HTML reduces to clean text inside the scan
    and never shuffles."""
    docs = load_table(spark, sf, "documents")
    i = F.col("doc_id")
    gs = i.cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "), gs, F.lit(" &amp; co</title>"),
        # multi-line body + an embedded "</style>" literal: proves the
        # DOTALL per-tag passes (a non-DOTALL or alternation-close regex
        # leaks the 'if (x)' line or truncates at the stray </style>)
        F.when(i % 3 == 0,
               "<script>var s = \"</style>\";\nif (s) { go(); }</script>")
        .otherwise(""),
        F.when(i % 4 == 0, "<style> p { color: #fff } </style>")
        .otherwise(""),
        F.lit("</head><body>"),
        F.when(i % 5 == 0, "<nav>Home &amp; About</nav>").otherwise(""),
        F.lit('<p id="c'), gs, F.lit('">'),
        F.when(i % 7 == 0,
               "A &amp; B &lt;x&gt; &quot;q&quot; &#39;s&#39; ")
        .otherwise(""),
        F.coalesce(F.col("text"), F.lit("")), F.lit("</p>"),
        F.when(i % 2 == 0, "<div class=\"ft\">&copy; 2024</div>")
        .otherwise(""),
        F.lit("</body></html>"))
    w = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                    html.alias("html"))
    return (w.select("doc_id",
                     HT.extract_title(F.col("html")).alias("title"),
                     HT.extract_text(F.col("html")).alias("text_clean"))
            .withColumn("n_chars_clean",
                        F.length("text_clean").cast("long"))
            .orderBy("doc_id"))


# per-domain triage composes the PROVEN gopher body with the shared
# URL plant+normalization chain — same drift-proofing as
# pipeline_curate_v2
@query("domain_quality", oracle=f"""
WITH {_url_cte()},
gq AS ({_GOPHER_QUALITY_SQL}),
j AS (SELECT u.reg_domain, u.url_norm, u.n_chars,
             CASE WHEN gq.passes_gopher THEN 1 ELSE 0 END p
      FROM u JOIN gq ON gq.doc_id = u.doc_id)
SELECT reg_domain, CAST(COUNT(*) AS BIGINT) n_docs,
       CAST(COUNT(DISTINCT url_norm) AS BIGINT) n_urls,
       CAST(SUM(p) AS BIGINT) n_gopher_pass,
       ROUND(SUM(p) * 1.0 / COUNT(*), 6) gopher_pass_rate,
       ROUND(AVG(n_chars), 6) avg_chars
FROM j GROUP BY reg_domain ORDER BY reg_domain""")
def q_domain_quality(spark, sf):
    """Per-domain quality triage (the FineWeb/RefinedWeb exploration
    report that decides which domains get capped, blocked, or kept):
    per registered domain — docs, DISTINCT canonical URLs (mirror
    pressure), Gopher pass count/rate, mean doc length. Composes the
    URL plant + operators.urls extraction with functions.text
    .gopher_quality; the twin composes the PROVEN gopher oracle body
    with the shared _url_cte, so the report can never drift from the
    per-doc contracts. One doc_id equi-join + one domain-grain agg;
    both rates are single divisions of exact integer sums."""
    docs = load_table(spark, sf, "documents")
    u = _planted_urls(docs)
    host = URL.url_host(F.col("url"))
    urls = u.select("doc_id", "n_chars",
                    URL.normalize_url(F.col("url")).alias("url_norm"),
                    URL.registered_domain(host).alias("reg_domain"))
    g = TX.gopher_quality(docs, "doc_id", "text") \
        .select("doc_id", "passes_gopher")
    np = F.sum(F.col("passes_gopher").cast("long"))
    return (urls.join(g, "doc_id")
            .groupBy("reg_domain")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.countDistinct("url_norm").cast("long").alias("n_urls"),
                 np.cast("long").alias("n_gopher_pass"),
                 F.round(np / F.count(F.lit(1)), 6)
                 .alias("gopher_pass_rate"),
                 F.round(F.avg("n_chars"), 6).alias("avg_chars"))
            .orderBy("reg_domain"))


# per-domain boilerplate detection: shared _url_cte domain + the
# text_line_dedup pseudo-chunking + the SAME hdr/promo plant
@query("domain_boilerplate", oracle=f"""
WITH {_url_cte()},
dm AS (SELECT doc_id AS doc, reg_domain FROM u),
t AS (SELECT CAST(doc_id AS BIGINT) doc, {_TOKS} a FROM documents),
chunks AS (
  SELECT doc,
         unnest(list_transform(range(CAST(ceil(len(a) / 10.0) AS BIGINT)),
                i -> array_to_string(
                       list_slice(a, i*10 + 1, i*10 + 10), ' '))) line
  FROM t WHERE len(a) > 0),
lns AS (
  SELECT l.doc, l.line, dm.reg_domain
  FROM (SELECT doc, 'hdr ' || reg_domain AS line FROM dm
        UNION ALL
        SELECT doc, 'promo ' || reg_domain FROM dm WHERE doc % 5 < 2
        UNION ALL
        SELECT doc, line FROM chunks) l
  JOIN dm ON l.doc = dm.doc),
per AS (SELECT reg_domain, line, COUNT(DISTINCT doc) line_docs
        FROM lns GROUP BY reg_domain, line),
gt AS (SELECT reg_domain, COUNT(DISTINCT doc) grp_docs
       FROM lns GROUP BY reg_domain)
SELECT per.reg_domain, line, CAST(line_docs AS BIGINT) AS line_docs,
       CAST(grp_docs AS BIGINT) AS grp_docs
FROM per JOIN gt USING (reg_domain)
WHERE line_docs >= CEIL(grp_docs * 0.5) AND line_docs >= 3
ORDER BY per.reg_domain, line""")
def q_domain_boilerplate(spark, sf):
    """Per-domain boilerplate line detection (operators.curation
    .boilerplate_lines — the RefinedWeb/CCNet site-chrome strip,
    document-frequency-within-domain rule): a line is chrome when it
    appears in >= 50% of its registered domain's documents and in at
    least 3 of them. The plant (exact-plant discipline): every doc's
    line stream is a 'hdr <domain>' header (100% of the domain — MUST
    be detected), a 'promo <domain>' line on doc_id % 5 < 2 (40% — MUST
    stay under the 50% bar), then the 10-token pseudo-chunks of the
    text (natural dup-group repeats detected only if they really cross
    half the domain). Scale shape: ONE (domain, line)-grain
    count_distinct agg + a broadcast domain-totals join; detection
    output is the tiny over-threshold table. Output: (reg_domain,
    line, line_docs, grp_docs)."""
    docs = load_table(spark, sf, "documents")
    u = _planted_urls(docs)
    # ONE localCheckpoint of the (doc, domain) projection: the URL
    # plant + PSL expression would otherwise replicate into all three
    # union branches AND the join side (the q_url_incremental
    # task-binary blowup; round-10 verdict item 2)
    dom = u.select(F.col("doc_id").cast("long").alias("doc"),
                   URL.registered_domain(
                       URL.url_host(F.col("url"))).alias("reg_domain")) \
        .localCheckpoint()
    tok_df = docs.select(F.col("doc_id").cast("long").alias("doc"),
                         TX.tokens("text").alias("toks"))
    n_chunks = F.ceil(F.size("toks") / F.lit(10.0)).cast("int")
    chunk_arr = F.when(
        F.size("toks") > 0,
        F.transform(F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(
                        F.slice("toks", i * 10 + 1, 10), " ")),
    ).otherwise(F.array().cast("array<string>"))
    chunks = tok_df.select("doc", F.explode(chunk_arr).alias("line"))
    hdr = dom.select("doc", F.concat(F.lit("hdr "), "reg_domain")
                     .alias("line"))
    promo = (dom.where(F.col("doc") % 5 < 2)
             .select("doc", F.concat(F.lit("promo "), "reg_domain")
                     .alias("line")))
    lines = (hdr.unionByName(promo).unionByName(chunks)
             .join(dom, "doc"))
    return (CU.boilerplate_lines(lines, "reg_domain", "doc", "line",
                                 min_frac=0.5, min_docs=3)
            .orderBy("reg_domain", "line"))
