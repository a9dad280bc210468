"""operators.urls — URL normalization / registered domain / caps /
blocklist. Hand-computed contracts; the cross-engine equivalence of the
same rules is pinned by the url_* / domain_* oracle twins."""

import pytest
from pyspark.sql import functions as F

from casf_spark.operators.urls import (PUBLIC_SUFFIXES,
                                       domain_blocklist_filter, domain_caps,
                                       normalize_url, registered_domain,
                                       registered_domain_join, url_host)


def _norm(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [r.n for r in
            df.select(normalize_url(F.col("url")).alias("n")).collect()]


def test_normalize_url_hand_cases(spark):
    cases = {
        # fragment + tracking params dropped, survivors sorted
        "https://example.com/a?z=2&utm_source=x&id=1#frag":
            "https://example.com/a?id=1&z=2",
        # scheme/host case, www., default https port
        "HTTPS://WWW.Example.COM:443/a": "https://example.com/a",
        # http default port stripped; non-default port KEPT
        "http://example.com:80/a": "http://example.com/a",
        "http://example.com:8080/a": "http://example.com:8080/a",
        # trailing slash runs collapse; root stays /; empty path -> /
        "https://example.com/a///": "https://example.com/a",
        "https://example.com/": "https://example.com/",
        "https://example.com": "https://example.com/",
        # tracking-only query and bare ? disappear entirely
        "https://example.com/a?utm_campaign=c&gclid=g": "https://example.com/a",
        "https://example.com/a?": "https://example.com/a",
        # ref is a tracking param; 'referrer=x' is NOT (anchored match)
        "https://example.com/a?ref=tw&referrer=x":
            "https://example.com/a?referrer=x",
        # scheme-less input has no canonical form -> NULL, never a
        # ':///...' junk key that would collapse distinct hosts
        "example.com/a?x=1": None,
        "//cdn.example.com/lib.js": None,
    }
    got = _norm(spark, list(cases))
    assert got == list(cases.values()), dict(zip(cases, got))


REG_DOMAIN_CASES = {
    "example.com": "example.com",
    "a.b.example.com": "example.com",
    "example.co.uk": "example.co.uk",
    "news.example.co.uk": "example.co.uk",
    "deep.news.example.com.au": "example.com.au",
    "localhost": "localhost",          # <2 labels pass through
    # 3-label public suffixes (PSL depth — the old 2-label-only seed
    # could not represent these)
    "school.k12.ca.us": "school.k12.ca.us",
    "www.school.k12.ca.us": "school.k12.ca.us",
    "a.b.school.k12.ny.us": "school.k12.ny.us",
    "vale.nsw.edu.au": "vale.nsw.edu.au",
    "k12.ca.us": "k12.ca.us",          # host IS a suffix: pass through
    # a :port is never part of the domain (ADVICE r9): stripped before
    # the tail split, so the suffix table still matches
    "a.example.co.uk:8080": "example.co.uk",
    "example.com:8080": "example.com",
    "site.org:8080": "site.org",
}


def test_registered_domain_hand_cases(spark):
    df = spark.createDataFrame([(h,) for h in REG_DOMAIN_CASES],
                               "host string")
    got = [r.d for r in
           df.select(registered_domain(F.col("host")).alias("d")).collect()]
    assert got == list(REG_DOMAIN_CASES.values()), \
        dict(zip(REG_DOMAIN_CASES, got))


def test_registered_domain_join_matches_expression(spark):
    """The broadcast-side-table spelling is exactly the expression rule:
    same output on every hand case AND on hosts exercising every branch
    (no match / 2-label match / 3-label match / suffix-only / port)."""
    hosts = list(REG_DOMAIN_CASES) + [
        "x.y.z.example.net", "co.uk", "a.co.uk", "b.a.co.uk:9999"]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    expr = {r.host: r.d for r in df.select(
        "host", registered_domain(F.col("host")).alias("d")).collect()}
    join = {r.host: r.reg_domain for r in
            registered_domain_join(df, "host", PUBLIC_SUFFIXES).collect()}
    assert expr == join


def test_url_host_keeps_non_default_port(spark):
    df = spark.createDataFrame(
        [("https://www.Ex.com:444/p",), ("http://ex.com:443/p",)],
        "url string")
    got = [r.h for r in df.select(url_host(F.col("url")).alias("h")).collect()]
    # :444 is not https-default; :443 is not http-default -> both kept
    assert got == ["ex.com:444", "ex.com:443"]


def test_domain_caps_keeps_top_n_per_domain(spark):
    rows = [(i, "d1.com", 100 - i) for i in range(5)] + \
           [(10, "d2.com", 7), (11, "d2.com", 9)]
    df = spark.createDataFrame(rows, "doc_id long, dom string, q long")
    got = {(r.dom, r.doc_id): r.domain_rank
           for r in domain_caps(df, "dom", 2,
                                [F.desc("q"), F.asc("doc_id")]).collect()}
    # d1: q=100(doc0) rank1, q=99(doc1) rank2; d2: q=9(doc11) rank1
    assert got == {("d1.com", 0): 1, ("d1.com", 1): 2,
                   ("d2.com", 11): 1, ("d2.com", 10): 2}


def test_domain_blocklist_filter_anti_joins(spark):
    df = spark.createDataFrame(
        [(1, "ok.com"), (2, "bad.com"), (3, "ok.com"), (4, "worse.net")],
        "doc_id long, dom string")
    bl = spark.createDataFrame([("bad.com",), ("worse.net",), ("bad.com",)],
                               "dom string")
    got = sorted(r.doc_id
                 for r in domain_blocklist_filter(df, "dom", bl).collect())
    assert got == [1, 3]


def test_planted_urls_canonical_groups(spark, sf_dir):
    """The plant's contract: canonical URL is a function of doc_id % 50
    exactly — 50 distinct canons, every doc in a group agrees, and raw
    variants within a group genuinely differ (the normalizer has work
    to do)."""
    from casf_spark.queries._common import _planted_urls
    from casf_spark.sources import load_table

    u = _planted_urls(load_table(spark, sf_dir, "documents"))
    rows = u.select("doc_id", "url",
                    normalize_url(F.col("url")).alias("n")).collect()
    by_g = {}
    for r in rows:
        by_g.setdefault(r.doc_id % 50, set()).add(r.n)
    assert len(by_g) == 50
    assert all(len(v) == 1 for v in by_g.values()), \
        {g: v for g, v in by_g.items() if len(v) > 1}
    raws = {}
    for r in rows:
        raws.setdefault(r.doc_id % 50, set()).add(r.url)
    assert sum(len(v) > 1 for v in raws.values()) == 50


def test_registered_domain_rejects_psl_rule_entries(spark):
    """Wildcard (*.ck) and exception (!www.ck) PSL rules have literal
    label depths that would pass the depth check while silently never
    matching — rejected loudly instead (round-10 ADVICE)."""
    df = spark.createDataFrame([("a.example.ck",)], "host string")
    for bad in ("*.ck", "!www.ck", "*.kawasaki.jp"):
        with pytest.raises(ValueError, match="wildcard/exception"):
            df.select(registered_domain(
                F.col("host"), suffixes=PUBLIC_SUFFIXES + (bad,)))


def test_registered_domain_join_internal_collision_raises(spark):
    """The join spelling's internal temp columns are __psl_-prefixed; a
    caller column colliding with one raises instead of being silently
    overwritten and dropped (round-10 ADVICE)."""
    df = spark.createDataFrame([("ex.co.uk", 1)],
                               "host string, __psl_h int")
    with pytest.raises(ValueError, match="collision"):
        registered_domain_join(df, "host", PUBLIC_SUFFIXES)


def test_psl_full_snapshot_shape():
    """The full vendored snapshot is a strict superset of the small
    expression table, all-literal (no wildcard/exception rules — the
    depth splitter would raise), depths 2-3 only."""
    from casf_spark.operators.psl_data import PSL_ICANN_FULL
    from casf_spark.operators.urls import _split_by_depth

    assert set(PUBLIC_SUFFIXES) < set(PSL_ICANN_FULL)
    assert len(PSL_ICANN_FULL) > 1500
    two, three = _split_by_depth(PSL_ICANN_FULL)  # raises on bad entry
    assert len(two) + len(three) == len(PSL_ICANN_FULL)
    assert {"com.bo", "tokyo.jp", "bc.ca", "cc.tx.us",
            "lib.ny.us"} <= set(PSL_ICANN_FULL)


def test_registered_domain_expression_join_equivalence_full_table(spark):
    """Expression form == join form ON THE FULL 1621-entry snapshot
    (the round-10 verdict's pin): every branch exercised — suffix-only
    host, one-more-label, deep host, 3-label-beats-2-label, port,
    default tail."""
    from casf_spark.operators.psl_data import PSL_ICANN_FULL

    hosts = ["h.com.bo", "sub.h.com.bo", "a.b.h.tokyo.jp", "tokyo.jp",
             "x.cc.tx.us", "d.x.cc.tx.us:8080", "e.ca.us", "f.e.ca.us",
             "plain.com", "deep.plain.org", "h.gouv.fr", "io",
             "y.lib.wa.us", "k.seoul.kr", "h.mil.ru:9999"]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    expr = {r.host: r.d for r in df.select(
        "host",
        registered_domain(F.col("host"),
                          suffixes=PSL_ICANN_FULL).alias("d")).collect()}
    join = {r.host: r.reg_domain for r in
            registered_domain_join(df, "host", PSL_ICANN_FULL).collect()}
    assert expr == join
    # spot checks of the longest-match rule on the large table
    assert expr["sub.h.com.bo"] == "h.com.bo"
    assert expr["d.x.cc.tx.us:8080"] == "x.cc.tx.us"   # 3-label beats ca... tx.us
    assert expr["f.e.ca.us"] == "e.ca.us"              # 2-label state entry
    assert expr["deep.plain.org"] == "plain.org"       # default tail


def test_psl_plant_suffixes_pinned():
    """The url_psl_domains plant list: every dotted entry is in the
    FULL snapshot and ABSENT from the small table (so the contract
    proves the large table is consulted); tails are unlisted."""
    from casf_spark.queries.web import _PSL_PLANT_SUFFIXES
    from casf_spark.operators.psl_data import PSL_ICANN_FULL

    listed = [s for s in _PSL_PLANT_SUFFIXES if "." in s]
    tails = [s for s in _PSL_PLANT_SUFFIXES if "." not in s]
    assert len(_PSL_PLANT_SUFFIXES) == 40 and len(listed) == 36
    assert all(s in PSL_ICANN_FULL for s in listed)
    assert not any(s in PUBLIC_SUFFIXES for s in listed)
    assert all(t not in PSL_ICANN_FULL for t in tails)


def test_registered_domain_join_psl_rules(spark):
    """Wildcard / exception PSL rules in the join spelling (round 12):
    hand cases covering every branch of the rule precedence —
    exception > longest rule > default — including suffix-itself
    pass-through and ports. The expression spelling keeps raising."""
    from casf_spark.operators.psl_data import PSL_ICANN_FULL_RULES

    cases = {
        # *.ck: every direct child of ck is a public suffix
        "foo.ck": "foo.ck",                 # IS a public suffix
        "bar.foo.ck": "bar.foo.ck",         # registrable at 3 labels
        "x.bar.foo.ck": "bar.foo.ck",
        "ck": "ck",                         # bare wildcard parent
        # !www.ck beats *.ck
        "www.ck": "www.ck",
        "sub.www.ck": "www.ck",
        "a.b.www.ck": "www.ck",
        # *.kawasaki.jp (2-label wildcard parent) + !city.kawasaki.jp
        "x9.kawasaki.jp": "x9.kawasaki.jp",
        "a.x9.kawasaki.jp": "a.x9.kawasaki.jp",
        "z.a.x9.kawasaki.jp": "a.x9.kawasaki.jp",
        "kawasaki.jp": "kawasaki.jp",       # parent itself: default
        "city.kawasaki.jp": "city.kawasaki.jp",
        "q.city.kawasaki.jp": "city.kawasaki.jp",
        # *.sch.uk next to literal co.uk on the same TLD
        "s7.sch.uk": "s7.sch.uk",
        "my.s7.sch.uk": "my.s7.sch.uk",
        "a.co.uk": "a.co.uk",
        "b.a.co.uk:9999": "a.co.uk",        # port stripped
        # literal 2-label entry still wins at its depth
        "deep.x.tokyo.jp": "x.tokyo.jp",
        # default tail
        "plain.org": "plain.org",
        "deep.plain.org": "plain.org",
    }
    df = spark.createDataFrame([(h,) for h in cases], "host string")
    got = {r.host: r.reg_domain for r in
           registered_domain_join(df, "host",
                                  PSL_ICANN_FULL_RULES).collect()}
    assert got == cases, {h: (got[h], cases[h])
                          for h in cases if got[h] != cases[h]}


def test_registered_domain_expression_rejects_rules():
    """The expression spelling's loud raise on rule entries is pinned
    (the documented expression-vs-join divergence)."""
    import pytest
    from casf_spark.operators.psl_data import PSL_ICANN_FULL_RULES
    from casf_spark.operators.urls import _split_by_depth

    with pytest.raises(ValueError, match="wildcard/exception"):
        _split_by_depth(PSL_ICANN_FULL_RULES)


def test_psl_rule_plant_pinned():
    """The url_psl_rules plant: every template resolves under a rule or
    default branch that psl_data.PSL_RULES actually carries."""
    from casf_spark.queries.web import _PSL_RULE_PLANT_HOSTS
    from casf_spark.operators.psl_data import PSL_RULES

    assert len(_PSL_RULE_PLANT_HOSTS) == 16
    assert {"*.ck", "!www.ck", "*.kawasaki.jp", "!city.kawasaki.jp",
            "*.sch.uk"} <= set(PSL_RULES)
    assert all(r.startswith(("*.", "!")) for r in PSL_RULES)


def test_registered_domain_join_deep_rules(spark):
    """Depth-general rule classes (round-13 ADVICE): a real PSL dump
    carries 4+-label literals, 3+-label wildcard parents
    (*.compute.amazonaws.com) and 4-label exceptions — previously
    silently dropped into throwaway lists (wrong reg_domain), now
    first-class depth classes."""
    rules = ("co.uk",                        # depth-2 literal baseline
             "pvt.k12.ma.us",                # 4-label literal (ps 4)
             "*.compute.amazonaws.com",      # wildcard parent depth 3
             "!proxy.compute.amazonaws.com")  # 4-label exception
    cases = {
        # 4-label literal: registrable at 5 labels
        "pvt.k12.ma.us": "pvt.k12.ma.us",
        "school.pvt.k12.ma.us": "school.pvt.k12.ma.us",
        "www.school.pvt.k12.ma.us": "school.pvt.k12.ma.us",
        # wildcard *.compute.amazonaws.com: each region is a suffix
        "compute.amazonaws.com": "amazonaws.com",   # parent: default
        "eu-1.compute.amazonaws.com": "eu-1.compute.amazonaws.com",
        "vm.eu-1.compute.amazonaws.com": "vm.eu-1.compute.amazonaws.com",
        "x.vm.eu-1.compute.amazonaws.com": "vm.eu-1.compute.amazonaws.com",
        # exception beats the wildcard: proxy.compute... is registrable
        "proxy.compute.amazonaws.com": "proxy.compute.amazonaws.com",
        "a.proxy.compute.amazonaws.com": "proxy.compute.amazonaws.com",
        # depth-2 literal unaffected by deep classes
        "b.a.co.uk": "a.co.uk",
    }
    df = spark.createDataFrame([(h,) for h in cases], "host string")
    got = {r.host: r.reg_domain for r in
           registered_domain_join(df, "host", rules).collect()}
    assert got == cases, {h: (got[h], cases[h])
                          for h in cases if got[h] != cases[h]}


def test_registered_domain_join_bad_rule_shapes(spark):
    """Malformed rules raise loudly instead of classifying wrong:
    bare `*`, embedded wildcards, and single-label exceptions."""
    df = spark.createDataFrame([("x.com",)], "host string")
    for bad in ("*", "a.*.b", "!com"):
        with pytest.raises(ValueError, match="rule shape"):
            registered_domain_join(df, "host", ("co.uk", bad))


def test_registered_domain_join_skips_plain_tld_literals(spark):
    """Single-label literal TLD rules ("com") are the implicit default
    already; a raw full-PSL dump's ~1500 of them add no join class and
    no outcome change."""
    df = spark.createDataFrame(
        [("deep.plain.org",), ("b.a.co.uk",)], "host string")
    got = {r.host: r.reg_domain for r in
           registered_domain_join(
               df, "host", ("org", "com", "uk", "co.uk")).collect()}
    assert got == {"deep.plain.org": "plain.org", "b.a.co.uk": "a.co.uk"}
