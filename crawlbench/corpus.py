"""Seeded inputs for the three workloads.

Every generator is a pure function of (seed, size): the same seed gives
byte-identical inputs, and a different seed changes names, words and
which pages are on-topic but never the size or the shape, so timings
from different seeds are comparable.

* crawl graph  — H hosts x fan-out K raw-HTML pages in the page shape of
  the end-to-end crawl bench (a root links to K children, each child to
  K pages below the depth horizon); about 10% of the pages carry the
  on-topic meta keyword.
* frontier     — the `datagen.big_frontier` shape: N URLs over a fixed
  host count with a hot host, plus robots rules and crawl-delays on a few
  hosts.
* documents    — the bulk-query `documents` table from the repository's
  scale-factor generator (`tools/gen_bigsf.py`): 10-100 words from a
  small vocab, exact and near duplicates, lang/source columns.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from axora_spark import datagen
from tools import gen_bigsf

# --------------------------------------------------------------------------
# crawl graph
# --------------------------------------------------------------------------

_POOLS = (
    ("growth", "inflation", "exports", "wages", "credit", "housing",
     "energy", "retail"),
    ("policy", "tariffs", "budgets", "rates", "trade", "supply",
     "labor", "capital"),
    ("steady", "volatile", "improving", "slowing", "mixed", "resilient",
     "uneven", "firm"),
)


def _filler(uid: int) -> str:
    """~16 sentences x ~14 words, distinct-word richness inside the
    quality gate's band: three serials and three pool picks a sentence."""
    p0, p1, p2 = _POOLS
    return " ".join(
        f"The economy brief covers {p0[(uid + s) % 8]} and "
        f"{p1[(uid + 2 * s) % 8]} with a {p2[(uid + 3 * s) % 8]} outlook "
        f"across item {uid * 48 + 3 * s} ref {uid * 48 + 3 * s + 1} "
        f"code {uid * 48 + 3 * s + 2}."
        for s in range(16))


def _page(uid: int, hrefs: list[str]) -> str:
    # 'economy' goes second: the meta gate glues the first keyword onto
    # the field name, so a first-position keyword never matches
    kw = "growth,economy" if uid % 10 == 0 else "weather notes"
    anchors = "".join(f'<a href="{h}">next</a>' for h in hrefs)
    return (f"<html><head><title>Briefing node {uid}</title>"
            f'<meta name="keywords" content="{kw}"></head><body>'
            f"<h1>Node {uid}</h1><p>{_filler(uid)}</p>{anchors}"
            "</body></html>")


def graph_hosts(seed: int, n_hosts: int) -> list[str]:
    return [f"h{i}.s{seed % 100_000}.bench.example" for i in range(n_hosts)]


def graph_robots(hosts: list[str]) -> dict[str, str]:
    """robots.txt bodies: a crawl-delay on the second host whose budget
    still covers a whole wave, and a disallow of some children on the
    third."""
    return {hosts[1 % len(hosts)]: "User-agent: *\nCrawl-delay: 6\n",
            hosts[2 % len(hosts)]: "User-agent: *\nDisallow: /c1\n"}


def crawl_graph(seed: int, n_hosts: int, fanout: int) -> pa.Table:
    """(url, host, body_html) rows: each host's root links to its K
    children; each child links to K pages below it, which the crawl's
    depth horizon never fetches."""
    off = (seed % 1_000_003) * 7  # shifts every uid: words + on-topic set
    urls, hosts, bodies = [], [], []
    for i, host in enumerate(graph_hosts(seed, n_hosts)):
        base = f"https://{host}"
        urls.append(f"{base}/r")
        hosts.append(host)
        bodies.append(_page(i * 7919 + off,
                            [f"/c{j}" for j in range(fanout)]))
        for j in range(fanout):
            urls.append(f"{base}/c{j}")
            hosts.append(host)
            bodies.append(_page((i * fanout + j) * 31 + 1 + off,
                                [f"/c{j}/g{m}" for m in range(fanout)]))
    return pa.table({"url": urls, "host": hosts, "body_html": bodies})


# --------------------------------------------------------------------------
# frontier
# --------------------------------------------------------------------------

def frontier(spark: SparkSession, seed: int, n_urls: int,
             n_hosts: int) -> DataFrame:
    """FRONTIER rows: 30% of the URLs on host0, the rest spread over the
    other hosts by a seeded hash."""
    return datagen.big_frontier(spark, n_urls, n_hosts=n_hosts,
                                hot_share=0.3, seed=seed % (2 ** 31))


def frontier_robots() -> dict[str, str]:
    """robots.txt bodies: a crawl-delay on host1 (smaller budget), a path
    prefix disallow on host2, a crawl-delay plus disallow on host3."""
    return {
        "host1.bench.example": "User-agent: *\nCrawl-delay: 20\n",
        "host2.bench.example": "User-agent: *\nDisallow: /page/1\n",
        "host3.bench.example": ("User-agent: *\nCrawl-delay: 15\n"
                                "Disallow: /page/2\n"),
    }


# --------------------------------------------------------------------------
# documents
# --------------------------------------------------------------------------

def documents(seed: int, n: int) -> pa.Table:
    """(doc_id, text, lang, source, n_chars) from the repository's
    scale-factor generator, seeded."""
    rng = np.random.default_rng(seed % (2 ** 63))
    return gen_bigsf.gen_documents(n, rng)
