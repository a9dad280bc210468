"""URL / domain curation operators — the pre-text filtering layer of
public web-corpus pipelines (CCNet, RefinedWeb, FineWeb all normalize,
dedup, cap, and blocklist by URL *before* touching document text, because
a URL decision costs bytes while a text decision costs kilobytes).

Absent from the reference (SURVEY.md §2 has no web-curation surface);
these are Phase-D extensions in the same contract style as
operators.curation: every transform is pure Catalyst expression work
(regexp / split / array ops — map-only, codegen'd, zero shuffle except
where a cap or dedup genuinely needs the domain/URL key), so each has an
exactly-matching DuckDB twin.

Normalization is deliberately regex-based rather than ``F.parse_url``:
the Hive parse_url builtin has engine-specific edge behavior (NULL on
malformed, Java URI quirks) that no other engine replicates bit-for-bit,
and a curation canonicalizer must be *portable* — the same rules here
run verbatim as SQL in the oracle twin.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "MULTI_PART_SUFFIXES",
    "PUBLIC_SUFFIXES",
    "TRACKING_PARAM_RE",
    "normalize_url",
    "url_host",
    "registered_domain",
    "registered_domain_join",
    "url_incremental_dedup",
    "domain_caps",
    "domain_blocklist_filter",
]

# Minimal multi-part public-suffix seed ("co.uk" is a suffix, so the
# registered domain of www.example.co.uk is example.co.uk, not co.uk).
# Kept as the OFFLINE FALLBACK for callers that want a tiny literal set;
# :data:`PUBLIC_SUFFIXES` below is the table that feeds
# :func:`registered_domain` by default.
MULTI_PART_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "co.in", "co.nz", "com.br", "com.cn", "com.mx",
)

# Vendored snapshot of the Mozilla Public Suffix List's MULTI-PART
# entries (ICANN section; single-label TLDs need no entry — "last two
# labels" is already the rule there). This is the side table the
# registered-domain rule is driven by: swap in the full ~9k-entry PSL
# dump for production (:func:`registered_domain_join` broadcasts it;
# :func:`registered_domain` folds it into the expression). Includes
# 3-label entries (``k12.ca.us``-style), which the old seed could not
# represent. Sorted tuples keyed once at import — a literal table, one
# source of truth for BOTH engines (the DuckDB oracle twins inline the
# same tuple).
PUBLIC_SUFFIXES = tuple(sorted({
    # United Kingdom
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk", "plc.uk",
    "ltd.uk", "sch.uk", "nhs.uk", "police.uk",
    # Australia (incl. the 3-label state education suffixes)
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "act.edu.au", "nsw.edu.au", "nt.edu.au", "qld.edu.au", "sa.edu.au",
    "tas.edu.au", "vic.edu.au", "wa.edu.au",
    # Japan
    "co.jp", "or.jp", "ne.jp", "ac.jp", "ad.jp", "ed.jp", "go.jp",
    "gr.jp", "lg.jp",
    # New Zealand
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "school.nz",
    "geek.nz", "gen.nz", "maori.nz",
    # India
    "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in",
    "ac.in", "edu.in", "res.in", "gov.in", "nic.in",
    # Brazil
    "com.br", "net.br", "org.br", "gov.br", "edu.br", "art.br", "adv.br",
    # China / Hong Kong / Taiwan
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "com.hk", "edu.hk", "gov.hk", "idv.hk", "net.hk", "org.hk",
    "com.tw", "org.tw", "net.tw", "edu.tw", "gov.tw", "idv.tw",
    # Mexico / Argentina / Colombia / Peru / Chile / Uruguay
    "com.mx", "org.mx", "gob.mx", "edu.mx", "net.mx",
    "com.ar", "org.ar", "net.ar", "gob.ar", "edu.ar",
    "com.co", "net.co", "org.co", "edu.co", "gov.co",
    "com.pe", "net.pe", "org.pe", "edu.pe", "gob.pe",
    "gob.cl", "co.cl",
    "com.uy", "edu.uy", "gub.uy", "net.uy", "org.uy",
    # Singapore / Malaysia / Philippines / Vietnam / Thailand / Indonesia
    "com.sg", "edu.sg", "gov.sg", "net.sg", "org.sg",
    "com.my", "net.my", "org.my", "gov.my", "edu.my",
    "com.ph", "net.ph", "org.ph", "gov.ph", "edu.ph",
    "com.vn", "net.vn", "org.vn", "edu.vn", "gov.vn",
    "co.th", "or.th", "ac.th", "go.th", "in.th", "net.th",
    "co.id", "or.id", "ac.id", "go.id", "web.id", "sch.id",
    # Korea
    "co.kr", "or.kr", "ne.kr", "go.kr", "ac.kr", "re.kr", "pe.kr",
    # Turkey / Israel / Ukraine / Poland / Greece
    "com.tr", "org.tr", "net.tr", "gov.tr", "edu.tr", "av.tr", "bel.tr",
    "co.il", "org.il", "net.il", "ac.il", "gov.il", "muni.il",
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua", "in.ua",
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "waw.pl",
    "com.gr", "edu.gr", "net.gr", "org.gr", "gov.gr",
    # Middle East / Africa
    "com.eg", "edu.eg", "gov.eg", "net.eg", "org.eg",
    "com.sa", "net.sa", "org.sa", "edu.sa", "gov.sa", "med.sa",
    "com.pk", "net.pk", "org.pk", "edu.pk", "gov.pk",
    "com.bd", "net.bd", "org.bd", "edu.bd", "gov.bd",
    "co.ke", "or.ke", "ne.ke", "go.ke", "ac.ke",
    "com.ng", "net.ng", "org.ng", "edu.ng", "gov.ng",
    "co.za", "org.za", "net.za", "gov.za", "ac.za", "web.za",
    # United States locality scheme (3-label: k12/cc/lib per state)
    "k12.ca.us", "k12.ny.us", "k12.tx.us", "k12.fl.us", "k12.il.us",
    "k12.ma.us", "k12.wa.us", "k12.pa.us", "k12.oh.us", "k12.mi.us",
    "cc.ca.us", "lib.ca.us",
}))

# Tracking / attribution query parameters stripped by normalization —
# the standard CCNet/snowplow removal set (utm_* plus the big click ids).
TRACKING_PARAM_RE = r"^(utm_[a-z0-9_]*|fbclid|gclid|msclkid|ref)="

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_AUTHORITY_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)"


def _stripped(url_col: Column) -> Column:
    """URL with the fragment removed — fragments are client-side only
    and never part of document identity."""
    return F.regexp_replace(url_col, r"#.*$", "")


def url_host(url_col: Column) -> Column:
    """Canonical host: authority lowercased, leading ``www.`` dropped,
    default port (``:80`` http / ``:443`` https) stripped, non-default
    ports kept. Pure expression — safe in a 100-TB scan projection."""
    u = _stripped(url_col)
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    auth = F.lower(F.regexp_extract(u, _AUTHORITY_RE, 1))
    auth = F.when(
        (scheme == "http") & auth.endswith(":80"),
        F.substring(auth, 1, F.length(auth) - 3)
    ).when(
        (scheme == "https") & auth.endswith(":443"),
        F.substring(auth, 1, F.length(auth) - 4)
    ).otherwise(auth)
    return F.regexp_replace(auth, r"^www\.", "")


def normalize_url(url_col: Column) -> Column:
    """Canonical form of a raw URL — the dedup/cap/blocklist key:

    * fragment dropped;
    * scheme and host lowercased, leading ``www.`` dropped, default
      port stripped (:func:`url_host`);
    * path: trailing ``/`` runs collapsed away (root stays ``/``; an
      empty path becomes ``/``);
    * query: tracking params (:data:`TRACKING_PARAM_RE`) and empty
      fragments removed, survivors sorted bytewise, ``?`` dropped when
      nothing survives.

    Everything is regexp/array expression work — map-only, whole-stage
    codegen, no Python. The exact same rules run as SQL in the oracle
    twin, which is the point: a canonicalizer two engines can't agree
    on is not canonical.

    Scheme-less input ("example.com/a") has no extractable host — rather
    than collapse every such row onto a ":///…" junk key (which would
    make url-dedup drop unrelated documents as duplicates), the result
    is NULL: not-a-canonical-URL, for the caller to filter or quarantine.
    """
    u = _stripped(url_col)
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    host = url_host(url_col)
    path = F.regexp_extract(u, _PATH_RE, 1)
    path = F.regexp_replace(path, r"/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    keep = F.array_sort(F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE)))
    qn = F.array_join(keep, "&")
    return F.when(scheme == "", F.lit(None).cast("string")).otherwise(
        F.concat(scheme, F.lit("://"), host, path,
                 F.when(qn == "", F.lit(""))
                 .otherwise(F.concat(F.lit("?"), qn))))


def _split_by_depth(suffixes) -> tuple[list[str], list[str]]:
    """Partition a multi-part suffix table into its 2-label and 3-label
    entries (the only depths the PSL's ICANN section uses beyond plain
    TLDs); reject anything else loudly rather than silently mis-rank.

    Only LITERAL ICANN entries are supported: real PSL dumps also carry
    wildcard rules (``*.ck``, ``*.kawasaki.jp``) and exception rules
    (``!www.ck``), which have ordinary label depth and would otherwise
    pass validation while being silently treated as never-matching
    literal suffixes — wrong registered domains for those TLDs. They
    are rejected here with the same loud-failure philosophy; strip or
    expand them upstream before vendoring a dump."""
    rules = [s for s in suffixes if "*" in s or s.startswith("!")]
    if rules:
        raise ValueError(
            "wildcard/exception PSL rules are not supported (literal "
            f"ICANN entries only): {sorted(rules)[:10]}")
    two = sorted(s for s in suffixes if s.count(".") == 1)
    three = sorted(s for s in suffixes if s.count(".") == 2)
    bad = [s for s in suffixes if s.count(".") not in (1, 2)]
    if bad:
        raise ValueError(f"unsupported suffix label depth: {bad}")
    return two, three


def registered_domain(host_col: Column,
                      suffixes=PUBLIC_SUFFIXES) -> Column:
    """Registered (pay-level) domain of a canonical host, driven by the
    public-suffix table: the PSL longest-match rule — find the longest
    listed suffix the host ends with (3-label entries like ``k12.ca.us``
    checked before 2-label ones like ``co.uk``; unlisted tails default
    to the plain TLD = last label) and take ONE more label.

    A trailing ``:port`` is stripped first: :func:`url_host` keeps
    non-default ports by contract (they are part of URL identity), but a
    port is never part of the DOMAIN — without the strip,
    ``a.example.co.uk:8080`` would tail-split to ``co.uk:8080``, miss
    the suffix table, and return a wrong pay-level domain (and plain
    ports would split one domain into per-port groups in
    :func:`domain_caps` / blocklists).

    Hosts with no label beyond the matched suffix (the host IS a public
    suffix) and hosts with fewer than two labels pass through unchanged.
    Pure expression work: the table folds into two IN-lists (Catalyst
    InSet — the few-hundred-entry vendored snapshot or the full ~9k PSL
    both stay map-only literals; :func:`registered_domain_join` is the
    side-table-join spelling of the same rule for tables managed as
    DataFrames)."""
    two, three = _split_by_depth(suffixes)
    h = F.regexp_replace(host_col, r":[0-9]+$", "")
    labels = F.split(h, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.element_at(labels, -2),
                        F.element_at(labels, -1))
    last3 = F.concat_ws(".", F.element_at(labels, -3), last2)
    last4 = F.concat_ws(".", F.element_at(labels, -4), last3)
    expr = F.when(n <= 2, h)
    if three:
        expr = (expr.when((n >= 4) & last3.isin(*three), last4)
                .when(last3.isin(*three), h))
    if two:
        expr = expr.when(last2.isin(*two), last3)
    return expr.otherwise(last2)


def registered_domain_join(df: DataFrame, host_col: str,
                           rules: Sequence[str],
                           out_col: str = "reg_domain") -> DataFrame:
    """Side-table spelling of :func:`registered_domain` for suffix lists
    too large or too dynamic to fold into an expression (the full PSL
    refreshed from upstream): per row, generate the host's label tails,
    broadcast-join them against the PSL ``rules`` (a plain sequence of
    rule strings — a bounded side input, classified once in Python with
    zero plan-build jobs), and take one more label than the public suffix
    the rules resolve (no match = plain-TLD default, last two labels).

    Unlike the expression spelling (which loudly rejects them — see
    ``_split_by_depth``), this form implements the FULL PSL rule set:
    literal entries (``co.uk``), wildcard rules (``*.ck`` — every
    direct child of ``ck`` is a public suffix, so ``foo.bar.ck``
    registers at three labels), and exception rules (``!www.ck`` —
    beats every other matching rule per the PSL algorithm, making
    ``www.ck`` itself registrable). Rule precedence is exception >
    longest rule > default; a host that IS a public suffix passes
    through unchanged.

    Scale shape: one broadcast hash EQUI-join per NON-EMPTY
    depth x kind class (literal-k, wildcard-parent-k, exception-k for
    every rule depth k the rules actually carry — the vendored ICANN
    snapshot (:data:`casf_spark.operators.psl_data.PSL_ICANN_FULL_RULES`)
    compiles to six; a private-section dump with
    ``*.compute.amazonaws.com``-style rules simply adds classes; each
    class is distinct-keyed, so every join matches at most once: no row
    multiplication, no dedup aggregation, and the corpus never
    shuffles); joins for empty classes are skipped, and a literal-only
    2/3-depth list compiles to exactly two joins.
    Output: ``df`` plus ``out_col``. Equivalent to the expression form
    on literal-only lists — pinned by a property test."""
    # classify by (kind, depth) with NO depth ceiling: every rule lands
    # in a class or raises — a silently-dropped rule is a silently
    # wrong reg_domain (the _split_by_depth loud-failure contract)
    lits: dict[int, set] = {}    # rule depth k -> suffixes (ps = k)
    wilds: dict[int, set] = {}   # PARENT depth k -> parents (ps = k+1)
    excs: dict[int, set] = {}    # rule depth k -> labels  (ps = k-1)
    for s in set(rules):
        nl = s.lstrip("!").count(".") + 1
        body = s[2:] if s.startswith("*.") else s.lstrip("!")
        if not body or "*" in body or nl < 1 or (s.startswith("!") and nl < 2):
            raise ValueError(f"unsupported PSL rule shape: {s!r}")
        if s.startswith("*."):
            wilds.setdefault(nl - 1, set()).add(body)
        elif s.startswith("!"):
            excs.setdefault(nl, set()).add(body)
        elif nl == 1:
            # plain-TLD literals ("com") are the implicit `*` default
            # (ps = 1) already — joining ~1500 of them from a raw full
            # PSL dump would be pure cost with zero outcome change
            continue
        else:
            lits.setdefault(nl, set()).add(body)
    classes = {f"__psl_s{k}": (k, vs) for k, vs in lits.items()}
    classes.update({f"__psl_w{k}": (k, vs) for k, vs in wilds.items()})
    classes.update({f"__psl_e{k}": (k, vs) for k, vs in excs.items()})
    # deepest tail any branch can need: literal-k reg = k+1 labels,
    # wildcard-parent-k reg = k+2, exception-k reg = k
    max_ps = max([1] + [k for k in lits] + [k + 1 for k in wilds]
                 + [k - 1 for k in excs])
    n_tails = max(2, max_ps + 1,
                  max([1] + [k for k, _ in classes.values()]))
    tmp = (["__psl_h", "__psl_n"] + [f"__psl_t{d}" for d in
           range(1, n_tails + 1)] + sorted(classes))
    # collision-resistant internal names: a caller column named
    # `__psl_h` etc. would otherwise be silently overwritten and
    # dropped (or hit an ambiguous-reference error) — loud failure
    clash = [c for c in df.columns if c in tmp]
    if clash:
        raise ValueError(
            f"registered_domain_join internal column collision: {clash}")
    h = F.regexp_replace(F.col(host_col), r":[0-9]+$", "")
    labels = F.split(h, r"\.")
    n = F.size(labels)
    joined = (df.withColumn("__psl_h", h).withColumn("__psl_n", n)
              .withColumn("__psl_t1", F.element_at(labels, -1)))
    for d in range(2, n_tails + 1):
        tail = F.concat_ws(".", F.element_at(labels, -d),
                           F.col(f"__psl_t{d - 1}"))
        joined = joined.withColumn(f"__psl_t{d}",
                                   F.when(n >= d, tail))
    spark = df.sparkSession
    for name in sorted(classes):
        depth, vals = classes[name]
        side = spark.createDataFrame(
            [(v,) for v in sorted(vals)], f"{name} string")
        joined = joined.join(F.broadcast(side),
                             F.col(f"__psl_t{depth}") == F.col(name),
                             "left")

    def hit(name):
        return F.col(name).isNotNull()

    nn = F.col("__psl_n")
    # public-suffix depth under PSL precedence: exception rule first
    # (deepest exception wins; ps = rule labels - 1), then longest rule
    # (a wildcard counts its parent + 1 and only matches when the host
    # HAS that extra label), then the implicit `*` default (ps = 1)
    ps = None
    for k in sorted(excs, reverse=True):
        cond, val = hit(f"__psl_e{k}"), F.lit(k - 1)
        ps = F.when(cond, val) if ps is None else ps.when(cond, val)
    for d in range(max_ps, 1, -1):
        if d in lits:
            cond, val = hit(f"__psl_s{d}"), F.lit(d)
            ps = F.when(cond, val) if ps is None else ps.when(cond, val)
        if d - 1 in wilds:
            cond = hit(f"__psl_w{d - 1}") & (nn >= d)
            ps = (F.when(cond, F.lit(d)) if ps is None
                  else ps.when(cond, F.lit(d)))
    ps = F.lit(1) if ps is None else ps.otherwise(F.lit(1))
    joined = joined.withColumn("__psl_ps", ps)
    psc = F.col("__psl_ps")
    reg = F.when(nn <= psc, F.col("__psl_h"))
    for d in range(max_ps, 1, -1):
        reg = reg.when(psc == d, F.col(f"__psl_t{d + 1}"))
    reg = reg.otherwise(F.col("__psl_t2"))
    return (joined.withColumn(out_col, reg)
            .drop(*tmp, "__psl_ps"))


def url_incremental_dedup(new: DataFrame, history: DataFrame,
                          id_col: str, url_col: str) -> DataFrame:
    """Crawl-ledger URL gate — dedup a NEW batch of raw URLs against the
    canonical-URL history (the cheapest incremental pass a continuous
    crawl runs: a URL verdict costs bytes before any document text is
    ever fetched or compared). Status per new row:

    * ``seen`` — canonical URL already in the ledger;
    * ``batch_dup`` — not in the ledger, but an earlier (lower-id) row
      of THIS batch claims the same canonical URL;
    * ``new`` — first sighting anywhere (the row the ledger ingests);
    * ``invalid`` — no canonical form (scheme-less junk; NULL canonical
      keys are never allowed to collide with each other).

    Scale shape mirrors :func:`casf_spark.operators.dedup
    .incremental_dedup`'s filter-then-reduce contract: the batch's
    canonical-URL set broadcasts, the 100-TB history streams past it
    map-side and only colliding keys aggregate (∝ duplication, not
    ledger size); the batch-internal first-occurrence window shuffles
    the BATCH only. Output: (doc, url_norm, status).
    """
    nn = new.select(F.col(id_col).cast("long").alias("doc"),
                    normalize_url(F.col(url_col)).alias("url_norm"))
    batch_keys = nn.where(F.col("url_norm").isNotNull()) \
        .select("url_norm").distinct()
    hits = (history
            .select(normalize_url(F.col(url_col)).alias("url_norm"))
            .where(F.col("url_norm").isNotNull())
            .join(F.broadcast(batch_keys), "url_norm")
            .distinct()
            .withColumn("seen", F.lit(True)))
    w = Window.partitionBy("url_norm")
    return (nn.join(F.broadcast(hits), "url_norm", "left")
            .withColumn("_mdoc", F.min("doc").over(w))
            .select("doc", "url_norm",
                    F.when(F.col("url_norm").isNull(), F.lit("invalid"))
                    .when(F.coalesce("seen", F.lit(False)), F.lit("seen"))
                    .when(F.col("doc") > F.col("_mdoc"), F.lit("batch_dup"))
                    .otherwise(F.lit("new")).alias("status")))


def domain_caps(df: DataFrame, domain_col: str, cap: int,
                order_cols: list[Column]) -> DataFrame:
    """Per-domain document cap — the anti-SEO-farm sampler (RefinedWeb
    caps URLs per registered domain so one mirror farm can't dominate
    the corpus): rank rows within each domain by ``order_cols`` (best
    first; make it total — tiebreak on a unique id) and keep
    ``rank <= cap``, with the rank kept as ``domain_rank``.

    Scale shape: ONE shuffle on the domain key (the row_number window);
    no join-back. Hot domains skew the window partition — at 100 TB
    pre-aggregate a per-domain count first and only window domains over
    the cap (everything under it passes untouched), or lean on AQE skew
    handling; the cap semantics are unchanged.
    """
    w = Window.partitionBy(domain_col).orderBy(*order_cols)
    return (df.withColumn("domain_rank",
                          F.row_number().over(w).cast("long"))
            .where(F.col("domain_rank") <= int(cap)))


def domain_blocklist_filter(df: DataFrame, domain_col: str,
                            blocklist: DataFrame) -> DataFrame:
    """Drop rows whose domain appears in a blocklist table (adult/spam/
    malware lists — the first gate of every public web pipeline).
    Broadcast LEFT ANTI join: the blocklist (thousands to low millions
    of rows — tiny next to the corpus) ships to every executor and the
    corpus never shuffles. ``blocklist`` must carry ``domain_col``."""
    return df.join(F.broadcast(blocklist.select(domain_col).distinct()),
                   domain_col, "left_anti")
