"""What a wave records about itself: the A5 metrics rows (one grouped
pass) and the lineage rows (counts from each snapshot's metadata)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from axora_spark import datagen, schemas
from axora_spark.config import CrawlConfig
from axora_spark.plans import content, crawl


@pytest.fixture(scope="module")
def fixture_pages():
    return datagen.link_graph_rows(n_pages=120, seed=42)


def _four_aggregate_metrics(wave, candidates, admitted, union, frontier):
    """The per-host metrics as four groupBy aggregations and three joins
    — the formula the one-pass `crawl.wave_metrics` replaced."""
    pre = union.groupBy("host").agg(F.count("*").alias("_pre"))
    post = frontier.groupBy("host").agg(F.count("*").alias("_post"))
    dedup = (pre.join(post, "host", "left").na.fill(0, ["_post"])
             .select("host", (F.col("_pre") - F.col("_post"))
                     .alias("deduped")))
    cand = candidates.groupBy("host").agg(F.count("*").alias("candidates"))
    adm = admitted.groupBy("host").agg(F.count("*").alias("admitted"))
    return (cand.join(adm, "host", "left").join(dedup, "host", "left")
            .na.fill(0, ["admitted", "deduped"])
            .select(F.lit(wave).alias("wave"), "host", "candidates",
                    "admitted",
                    (F.col("candidates") - F.col("admitted"))
                    .alias("deferred"),
                    F.col("deduped").cast("long")))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _trap_quota_crawl(spark):
    """A calendar trap host (each day links the next 12 days) and a clean
    3-page host, under the trap gate and a domain quota: the budget (10
    a wave) defers calendar pages in wave 1, after which the trap host
    has used its quota of 11."""
    cal = [f"https://trap.example.com/cal/2025/1/{i}" for i in range(120)]
    chain = [f"https://ok.example.com/{c}" for c in "abc"]
    rows = [{"url": "https://trap.example.com/start",
             "out_links": cal[:12] + chain[:1]}]
    rows += [{"url": u, "out_links": cal[i + 12:i + 24]}
             for i, u in enumerate(cal)]
    rows += [{"url": u, "out_links": chain[i + 1:i + 2]}
             for i, u in enumerate(chain)]
    for r in rows:
        r.update(host=r["url"].split("/")[2], title=None, metas=None,
                 body_md="page")
    cfg = CrawlConfig(
        seeds=("https://trap.example.com/start",),
        allowed_domains=("trap.example.com", "ok.example.com"),
        max_depth=8, max_waves=5, per_host_parallelism=2,
        per_host_delay_s=5.0, wave_seconds=25.0,
        trap_detect=True, trap_min_urls=13, domain_quota=11)
    return cfg, spark.createDataFrame(rows, schemas.LINK_GRAPH)


@pytest.mark.parametrize("setup", ["fixture", "trap_quota"])
def test_wave_metrics_equal_four_aggregate_formula(
        spark, catalog, fixture_pages, monkeypatch, setup):
    if setup == "fixture":   # hot-host deferrals from wave 1
        cfg = datagen.fixture_config(fixture_pages)
        corpus = spark.createDataFrame(fixture_pages, schemas.LINK_GRAPH)
    else:
        cfg, corpus = _trap_quota_crawl(spark)
    pairs = []
    one_pass = crawl.wave_metrics

    def both(wave, candidates, admitted, union, frontier):
        met = one_pass(wave, candidates, admitted, union, frontier)
        pairs.append((_rows(met), _rows(_four_aggregate_metrics(
            wave, candidates, admitted, union, frontier))))
        return met

    monkeypatch.setattr(crawl, "wave_metrics", both)
    crawl.run_crawl(spark, catalog, cfg, corpus)
    assert len(pairs) > 1
    for got, want in pairs:
        assert got == want
    committed = _rows(catalog.read(spark, "metrics"))
    assert committed == sorted(r for got, _ in pairs for r in got)
    # both count columns the bench graph leaves at 0 are exercised
    assert any(r[4] > 0 for r in committed)   # deferred
    assert any(r[5] > 0 for r in committed)   # deduped


def test_lineage_rows_equal_snapshot_metadata(spark, catalog, fixture_pages):
    """Every lineage row carries its snapshot's n_rows / n_partitions —
    for the crawl tables, the pagerank and adaptive state and the
    content tables alike."""
    cfg = datagen.fixture_config(fixture_pages, priority_mode="pagerank",
                                 adaptive_politeness=True)
    schema = T.StructType(list(schemas.LINK_GRAPH.fields)
                          + [T.StructField("fetch_ms", T.LongType())])
    corpus = spark.createDataFrame(
        [dict(r, fetch_ms=250) for r in fixture_pages], schema)
    crawl.run_crawl(spark, catalog, cfg, corpus,
                    content_sink=content.make_content_sink(cfg))
    lineage = catalog.read(spark, "lineage").collect()
    for r in lineage:
        snap = catalog.snapshot(r.table, r.snapshot_id)
        assert (r.n_rows, r.n_partitions) == \
            (snap["n_rows"], snap["n_partitions"]), r
    tables = {r.table for r in lineage if r.n_rows > 0}
    assert {"admitted", "seen", "frontier", "metrics", "links", "ranks",
            "fetch_state", "documents", "chunks", "vectors"} <= tables
