#!/usr/bin/env python
"""End-to-end web-curation ladder demo — the pre-training pipeline the
round-9 operators complete, run the way a production corpus pass chains
them (CCNet/RefinedWeb/FineWeb order):

stage                         | operator
------------------------------|------------------------------------------
raw HTML -> text              | functions.html.extract_text / extract_title
URL canonicalization          | operators.urls.normalize_url / url_host
registered domain             | operators.urls.registered_domain
domain blocklist gate         | operators.urls.domain_blocklist_filter
URL-exact dedup               | normalize -> hash groupBy (keep min id)
per-domain cap                | operators.urls.domain_caps
in-doc boilerplate collapse   | operators.curation.self_dedup_chunks
quality gate                  | functions.text.gopher_quality
domain triage report          | the domain_quality aggregation

Every stage is pure DataFrame work — the whole ladder is ONE lazy plan
per output and nothing collects to the driver.

Run: python examples/web_curation_demo.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from casf_spark.functions import html as HT
from casf_spark.functions import text as TX
from casf_spark.operators import urls as URL
from casf_spark.operators.curation import self_dedup_chunks
from casf_spark.session import get_spark
from casf_spark.sources import load_table


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("web_curation_demo")

    # ---- synthesize a crawl: the documents table wrapped in markup +
    # ---- messy URLs (the same doc_id-keyed plants the contract queries
    # ---- use — a real deployment reads WARC records here)
    from casf_spark.queries._common import _planted_urls
    from casf_spark.queries.web import _URL_BLOCKLIST

    docs = load_table(spark, sf_dir, "documents")
    crawl = (_planted_urls(docs)
             .join(docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                               "text"), "doc_id"))
    i = F.col("doc_id")
    page = F.concat(F.lit("<html><head><title>Doc "), i.cast("string"),
                    F.lit("</title></head><body>"),
                    F.when(i % 5 == 0,
                           "<nav>Home &amp; About</nav>").otherwise(""),
                    F.lit("<p>"), F.coalesce(F.col("text"), F.lit("")),
                    F.lit("</p></body></html>"))
    crawl = crawl.select("doc_id", "url", page.alias("html"))

    # ---- extract + canonicalize (map-only; nothing shuffles yet)
    host = URL.url_host(F.col("url"))
    pages = crawl.select(
        "doc_id",
        URL.normalize_url(F.col("url")).alias("url_norm"),
        URL.registered_domain(host).alias("reg_domain"),
        HT.extract_title(F.col("html")).alias("title"),
        HT.extract_text(F.col("html")).alias("text"))

    # ---- blocklist gate (broadcast anti-join)
    bl = spark.createDataFrame([(d,) for d in _URL_BLOCKLIST],
                               "reg_domain string")
    pages = URL.domain_blocklist_filter(pages, "reg_domain", bl)

    # ---- URL-exact dedup: keep min doc_id per canonical URL
    keep = (pages.groupBy("url_norm")
            .agg(F.min("doc_id").alias("doc_id")))
    pages = pages.join(keep, ["url_norm", "doc_id"])

    # ---- per-domain cap, then in-doc collapse + quality gate
    pages = URL.domain_caps(pages, "reg_domain", cap=10,
                            order_cols=[F.length("text").desc(),
                                        F.asc("doc_id")])
    cleaned = self_dedup_chunks(pages, "doc_id", "text") \
        .select("doc_id", "cleaned_text")
    survivors = (pages.join(cleaned, "doc_id")
                 .join(TX.gopher_quality(pages, "doc_id", "text")
                       .select("doc_id", "passes_gopher"), "doc_id"))

    print("\n== survivors per stage ==")
    print("crawled:      ", crawl.count())
    print("post-gate:    ", survivors.count())
    print("gopher-pass:  ", survivors.where("passes_gopher").count())

    print("\n== per-domain triage ==")
    (survivors.groupBy("reg_domain")
     .agg(F.count(F.lit(1)).alias("n_docs"),
          F.sum(F.col("passes_gopher").cast("long")).alias("n_pass"))
     .orderBy("reg_domain")
     .show(25, truncate=False))

    print("== sample survivors ==")
    survivors.select("doc_id", "reg_domain", "url_norm", "title") \
        .orderBy("doc_id").show(5, truncate=60)
    spark.stop()


if __name__ == "__main__":
    main()
