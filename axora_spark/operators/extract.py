"""X3/X1 — link extraction + absolutization from fetched pages.

The reference fires OnHTML per `a[href]` anchor and resolves each against
the page URL (crawler/dom_handler.go:17-29). The fixture corpus carries
`out_links` directly (the DOM-parse step is upstream of this operator), so
extraction is `explode` + vectorized urljoin + canonicalize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from axora_spark.config import CrawlConfig
from axora_spark.operators.filters import apply_frontier_filters
from axora_spark.operators.priority import priority_col
from axora_spark.operators.urls import absolutize_udf, canonicalize_udf, url_hash, host_col


def links_from_fetched(fetched: DataFrame, cfg: CrawlConfig, wave: int
                       ) -> DataFrame:
    """Wave-(w+1) frontier candidates from wave-w fetched pages.

    W2 depth horizon: children enter at parent depth+1; rows whose child
    depth would exceed max_depth never materialize (colly MaxDepth(2),
    crawler/crawler.go:63). The depth filter is applied BEFORE the explode
    so deep pages don't even fan out."""
    parents = (fetched
               .filter(F.col("http_status") == 200)
               .filter(F.col("depth") + 1 <= cfg.max_depth)
               .select(F.col("url").alias("parent_url"),
                       (F.col("depth") + 1).alias("depth"),
                       F.explode_outer("out_links").alias("href"))
               .filter(F.col("href").isNotNull()))
    cands = (parents
             .withColumn("url", canonicalize_udf(
                 absolutize_udf(F.col("parent_url"), F.col("href"))))
             .filter(F.col("url") != "")
             .withColumn("host", host_col(F.col("url")))
             .select("url", "host", "depth"))
    cands = apply_frontier_filters(cands, cfg)
    return (cands
            .withColumn("url_hash", url_hash(F.col("url")))
            .withColumn("priority",
                        priority_col(cfg, F.col("url"), F.col("depth")))
            .withColumn("discovered_wave", F.lit(wave + 1))
            .withColumn("status", F.lit("pending")))


def edges_from_fetched(fetched: DataFrame) -> DataFrame:
    """Directed link edges (src, dst) as url_hash longs from a wave's
    fetched pages — the crawl's OWN link graph, accumulated in the
    `links` catalog table and power-iterated by operators/pagerank.py
    for priority_mode="pagerank" (VERDICT r4 #5).

    Deliberately WIDER than links_from_fetched: every 200 page
    contributes edges (even pages at the W2 depth horizon, whose
    children never enter the frontier) and every canonicalizable href
    counts (even filter-rejected targets) — link authority flows
    through pages the frontier won't crawl. Distinct per (src, dst):
    a page linking the same target five times is one endorsement."""
    pairs = (fetched.filter(F.col("http_status") == 200)
             .select(F.col("url").alias("src_url"),
                     F.explode_outer("out_links").alias("href"))
             .filter(F.col("href").isNotNull()))
    return (pairs
            .withColumn("dst_url", canonicalize_udf(
                absolutize_udf(F.col("src_url"), F.col("href"))))
            .filter(F.col("dst_url") != "")
            .select(url_hash(F.col("src_url")).alias("src"),
                    url_hash(F.col("dst_url")).alias("dst"))
            .distinct())
