"""One per-host budget policy (politeness.host_budgets): robots
crawl-delay, latency-adaptive budgets and the cumulative domain quota
combine in a single table — engine byte-identical to the oracle, and
every source provably binds somewhere in the session."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from axora_spark import datagen, oracle, schemas
from axora_spark.config import CrawlConfig
from axora_spark.operators import politeness
from axora_spark.operators.robots import parse_robots
from axora_spark.plans import crawl

SLOW_HOST = datagen.HOSTS[0]   # 9 s observed latency → adaptive budget 2
# alpha: crawl-delay 30 s → budget 1; beta: crawl-delay 2 s → budget 15,
# above the static budget (6) — the quota must still cap it
ROBOTS = {datagen.HOSTS[1]: "User-agent: *\nCrawl-delay: 30\n",
          datagen.HOSTS[2]: "User-agent: *\nCrawl-delay: 2\n"}


@pytest.fixture(scope="module")
def pages():
    rows = datagen.link_graph_rows(n_pages=120, seed=42)
    for r in rows:
        r["fetch_ms"] = 9000 if r["host"] == SLOW_HOST else 400
    return rows


def _per_host_wave(res: oracle.OracleResult) -> dict[tuple[int, str], int]:
    n: dict[tuple[int, str], int] = {}
    for w, h, _, _, _ in res.admitted:
        n[(w, h)] = n.get((w, h), 0) + 1
    return n


def _binds(full: oracle.OracleResult, without: oracle.OracleResult) -> bool:
    """True when, at the first wave the two sessions differ, some host
    admitted fewer URLs with the source than without it — the source
    was that (host, wave)'s tightest budget."""
    a, b = _per_host_wave(full), _per_host_wave(without)
    for w in sorted({w for w, _ in a} | {w for w, _ in b}):
        hosts = {h for ww, h in a.keys() | b.keys() if ww == w}
        diff = [h for h in hosts if a.get((w, h), 0) != b.get((w, h), 0)]
        if diff:
            return any(a.get((w, h), 0) < b.get((w, h), 0) for h in diff)
    return False


@pytest.mark.parametrize("adaptive,quota", [(True, 5), (False, 4)])
def test_robots_quota_adaptive_compose(spark, catalog, pages, adaptive,
                                       quota):
    opts = dict(robots_mode=True, domain_quota=quota,
                adaptive_politeness=adaptive)
    cfg = datagen.fixture_config(pages, **opts)
    want = oracle.simulate(pages, cfg, robots_txt=ROBOTS)

    # each source is some (host, wave)'s tightest budget: removing it
    # admits more on its first differing wave
    removed = {"robots_mode": False, "domain_quota": None}
    if adaptive:
        removed["adaptive_politeness"] = False
    for key, off in removed.items():
        without = oracle.simulate(
            pages, datagen.fixture_config(pages, **{**opts, key: off}),
            robots_txt=ROBOTS)
        assert _binds(want, without), key

    schema = T.StructType(list(schemas.LINK_GRAPH.fields)
                          + [T.StructField("fetch_ms", T.LongType())])
    corpus = spark.createDataFrame(pages, schema)
    crawl.run_crawl(spark, catalog, cfg, corpus, robots_txt=ROBOTS)
    got = [(r.wave, r.host, r.rank, r.url, r.depth)
           for r in catalog.read(spark, "admitted")
           .orderBy("wave", "host", "rank").collect()]
    assert got == want.admitted
    seen = {r.url for r in catalog.read(spark, "seen").collect()}
    assert seen == want.seen


@pytest.mark.parametrize("quota", [None, 4])
def test_host_budgets_table(spark, quota):
    # static budget 3*10/5 = 6; adaptive budget = 30000 ms / max(2·est,
    # floor), floor = the host's robots delay, else the static 5 s
    cfg = CrawlConfig(seeds=(), allowed_domains=(), wave_seconds=10.0,
                      robots_mode=True, adaptive_politeness=True,
                      domain_quota=quota)
    rules = {h: parse_robots(f"User-agent: *\nCrawl-delay: {d}\n")
             for h, d in (("r_slow", 10), ("r_fast", 2), ("both", 10))}
    fetch_state = spark.createDataFrame(
        [("both", 9000.0, 1), ("a_fast", 400.0, 1), ("a_slow", 6000.0, 1)],
        schemas.FETCH_STATE)
    admitted = spark.createDataFrame(
        [(0, h, 1, f"https://{h}/{i}", 1)
         for h, n in (("r_slow", 2), ("hist", 3)) for i in range(n)],
        schemas.ADMITTED)
    default, budgets = politeness.host_budgets(
        spark, cfg, rules, admitted=admitted if quota else None,
        fetch_state=fetch_state)
    got = {r.host: r._budget for r in budgets.collect()}
    sources = {"r_slow": 3,    # robots 30/10
               "r_fast": 15,   # robots 30/2, above the static budget
               "both": 1,      # min(robots 3, adaptive 30000/18000)
               "a_fast": 6,    # adaptive, delay floored at 5 s
               "a_slow": 2}    # adaptive 30000/12000
    if quota is None:
        assert (default, got) == (6, sources)
    else:
        # the remaining quota caps every host; no history → all of it
        left = {"r_slow": quota - 2, "hist": quota - 3}
        want = {h: min(sources.get(h, 6), left.get(h, quota))
                for h in sources.keys() | left.keys()}
        assert (default, got) == (min(6, quota), want)
