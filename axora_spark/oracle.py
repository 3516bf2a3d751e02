"""Deterministic pure-Python re-simulation of the reference crawl rules —
the correctness oracle (SURVEY.md §5.2 item 2).

The Go reference's wall-clock behavior is nondeterministic (async workers
×3 + RandomDelay, crawler/crawler.go:64,89-91). Its deterministic closure —
what both this oracle and the Spark engine compute — is:

  wave-by-wave BFS; per wave: canonicalize (X2) → filters F1 ∧ F2 ∧ F3 →
  within-wave dedup (U1: min depth, max priority) → seen anti-join (J1) →
  per-host admission of the top `host_budget` by (priority DESC, url ASC)
  (W1/W4); admitted URLs are marked seen and fetched; their out-links are
  absolutized (X1) and become wave-(w+1) candidates if depth+1 ≤ max_depth
  (W2); deferred URLs carry over unchanged.

Every ambiguity resolved here is documented in SEMANTICS.md. The Spark
engine (axora_spark.plans.crawl) MUST match this simulation exactly on
(a) the admitted-URL sequence (wave, host, rank, url, depth) and (b) final
seen-set membership.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from axora_spark.config import CrawlConfig, SKIP_WORDS
from axora_spark.functions import urlnorm

import re

_SKIP_RE = re.compile("(" + "|".join(re.escape(w) for w in SKIP_WORDS) + ")",
                      re.IGNORECASE)


def passes_filters(canon_url: str, cfg: CrawlConfig) -> bool:
    """F1 ∧ F2 ∧ F3 on the canonical URL."""
    if not canon_url:
        return False
    if not urlnorm.matches_any(list(cfg.url_filters), canon_url):
        return False  # F1
    host = urlnorm.host_of(canon_url)
    if cfg.allowed_domains and host not in {d.lower() for d in cfg.allowed_domains}:
        return False  # F2
    if _SKIP_RE.search(urlnorm.skip_norm_path(canon_url)):
        return False  # F3
    return True


@dataclass
class OracleResult:
    admitted: list[tuple[int, str, int, str, int]]  # (wave,host,rank,url,depth)
    seen: set[str]                                   # canonical URLs
    waves_run: int = 0
    per_wave_metrics: list[dict] = field(default_factory=list)


def _round6(x: float) -> float:
    """Mirror Spark's F.round on doubles exactly: Spark rounds via
    BigDecimal.valueOf(x) (= the double's SHORTEST decimal repr) with
    HALF_UP; Python's repr(x) is the same shortest round-trip string,
    so Decimal(repr(x)) quantized HALF_UP is bit-equivalent. Plain
    round() is banker's rounding and diverges on .5 boundaries."""
    from decimal import ROUND_HALF_UP, Decimal
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                           ROUND_HALF_UP))


def _pagerank_py(edges: set[tuple[str, str]], iters: int = 5,
                 damp: float = 0.85, teleport: float = 0.15
                 ) -> dict[str, float]:
    """Pure-Python twin of operators/pagerank.pagerank over canonical
    URLs (the engine runs it over url_hash longs — same graph, keyed
    differently). Summation order differs from Spark's partial
    aggregation at ~1e-16 relative; the 6dp priority rounding on both
    sides absorbs it (plans/crawl._pagerank_priorities)."""
    # node universe from the UNFILTERED edge set: the engine derives
    # nodes from the links table BEFORE the operator drops self-loops
    # (plans/crawl._pagerank_priorities), so a page whose only link is
    # itself is still a (dangling) node that shifts N — code-review r5
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    e = {(s, d) for s, d in edges if s != d}
    n = len(nodes)
    if n == 0:
        return {}
    out: dict[str, list[str]] = {}
    for s, d in sorted(e):
        out.setdefault(s, []).append(d)
    r = {u: 1.0 / n for u in nodes}
    for _ in range(iters):
        inflow = {u: 0.0 for u in nodes}
        for s, ds in out.items():
            c = r[s] / len(ds)
            for d in ds:
                inflow[d] += c
        dmass = sum(r[u] for u in nodes if u not in out)
        r = {u: teleport / n + damp * (inflow[u] + dmass / n)
             for u in nodes}
    return r


def simulate(pages: list[dict], cfg: CrawlConfig,
             robots_txt: dict[str, str] | None = None) -> OracleResult:
    """`pages`: link_graph rows (url, host, out_links, ...).
    robots_txt: host → robots body; consulted only when cfg.robots_mode
    (same closure as the engine: disallowed candidates are dropped, never
    seen; crawl-delay overrides the host's budget)."""
    robots_rules: dict = {}
    budget_override: dict[str, int] = {}
    robots_delays_ms: dict[str, float] = {}  # adaptive delay floors
    if cfg.robots_mode and robots_txt:
        from axora_spark.operators import robots as robots_op
        robots_rules = {h: robots_op.parse_robots(t)
                        for h, t in robots_txt.items()}
        for h, r in robots_rules.items():
            if r.crawl_delay:
                budget_override[h] = robots_op.host_budget_with_robots(
                    cfg.host_budget, cfg.wave_seconds,
                    cfg.per_host_parallelism, r.crawl_delay)
                robots_delays_ms[h] = float(r.crawl_delay) * 1000.0

    page_by_url = {urlnorm.canonicalize(p["url"]): p for p in pages}

    if cfg.priority_mode == "url_score":
        from axora_spark.operators.priority import url_priority_py as _prio
    else:
        def _prio(url: str, depth: int) -> float:
            return 0.0

    # frontier: canon_url -> (depth, priority, discovered_wave)
    frontier: dict[str, tuple[int, float, int]] = {}
    for s in cfg.seeds:
        c = urlnorm.canonicalize(s)
        if c and passes_filters(c, cfg):
            p = _prio(c, 1)
            prev = frontier.get(c)
            if prev is None:
                frontier[c] = (1, p, 0)
            else:
                frontier[c] = (min(prev[0], 1), max(prev[1], p),
                               min(prev[2], 0))

    seen: set[str] = set()
    host_admitted: dict[str, int] = {}  # cumulative (domain_quota)
    # latency-adaptive politeness twin: host -> folded EWMA est_ms
    # (mirrors the engine's O(hosts) fetch_state table, not a log)
    lat_est: dict[str, float] = {}
    if cfg.adaptive_politeness:
        from axora_spark.operators import adaptive
        _adaptive_num_ms = (cfg.per_host_parallelism * cfg.wave_seconds
                            * 1000.0)
        _adaptive_prior = (cfg.per_host_delay_s * 1000.0
                           / adaptive.DELAY_FACTOR)
    link_edges: set[tuple[str, str]] = set()  # priority_mode="pagerank"
    ranks_cache: dict[str, float] = {}        # committed rank table twin
    admitted_log: list[tuple[int, str, int, str, int]] = []
    metrics: list[dict] = []
    wave = 0
    while frontier and wave < cfg.max_waves:
        # J1 — seen anti-join
        candidates = {u: v for u, v in frontier.items() if u not in seen}
        # robots gate (target mode): disallowed candidates drop permanently
        if robots_rules:
            from axora_spark.operators.robots import is_allowed
            candidates = {
                u: v for u, v in candidates.items()
                if is_allowed(robots_rules.get(urlnorm.host_of(u)),
                              urlnorm.path_of(u))}
        if not candidates:
            # closure alignment with the engine: a wave with zero
            # candidates (everything robots-blocked) ends the crawl WITHOUT
            # counting the wave or emitting metrics (plans/crawl.py sets
            # done at n_admitted==0 before any append)
            break
        # W1 — per-host admission
        by_host: dict[str, list[str]] = {}
        for u in candidates:
            by_host.setdefault(urlnorm.host_of(u), []).append(u)
        admitted: list[tuple[str, str, int]] = []  # (host, url, rank)
        deferred: dict[str, tuple[int, float, int]] = {}
        for host, urls in by_host.items():
            # most-polite-wins, mirroring politeness.host_budgets:
            # robots override and adaptive budget compose by MIN when
            # both exist; neither → static default
            cands: list[int] = []
            if host in budget_override:
                cands.append(budget_override[host])
            if cfg.adaptive_politeness and host in lat_est:
                cands.append(adaptive.budget_from_est_py(
                    lat_est[host], num_ms=_adaptive_num_ms,
                    # per-host floor: robots crawl-delay where declared
                    min_delay_ms=robots_delays_ms.get(
                        host, cfg.per_host_delay_s * 1000.0)))
            budget = min(cands) if cands else cfg.host_budget
            if cfg.domain_quota is not None:
                # cumulative per-host cap (engine: host_budgets' quota
                # cap from the admitted table)
                budget = min(budget,
                             max(0, cfg.domain_quota
                                 - host_admitted.get(host, 0)))
            urls.sort(key=lambda u: (-candidates[u][1], u))  # priority DESC, url ASC
            for rank, u in enumerate(urls, start=1):
                if rank <= budget:
                    admitted.append((host, u, rank))
                else:
                    deferred[u] = candidates[u]
        for host, u, _r in admitted:
            host_admitted[host] = host_admitted.get(host, 0) + 1
        for host, u, rank in admitted:
            admitted_log.append((wave, host, rank, u, candidates[u][0]))
            seen.add(u)

        # S3 fetch + X3/X1 link extraction → wave w+1 candidates
        next_frontier: dict[str, tuple[int, float, int]] = dict(deferred)
        n_links = 0
        for host, u, _rank in admitted:
            page = page_by_url.get(u)
            if page is None:
                continue  # fetch error — OnError just logs (crawler.go)
            if cfg.priority_mode == "pagerank":
                # link graph is WIDER than the frontier (extract.
                # edges_from_fetched): every fetched page contributes,
                # even at the depth horizon; every canonicalizable href
                # counts, even filter-rejected targets
                for href in page["out_links"] or []:
                    c_dst = urlnorm.canonicalize(
                        urlnorm.absolutize(u, href))
                    if c_dst:
                        link_edges.add((u, c_dst))
            depth = candidates[u][0]
            child_depth = depth + 1
            if child_depth > cfg.max_depth:  # W2 — colly MaxDepth
                continue
            for href in page["out_links"] or []:
                absu = urlnorm.absolutize(u, href)
                c = urlnorm.canonicalize(absu)
                if not c or not passes_filters(c, cfg):
                    continue
                n_links += 1
                p = _prio(c, child_depth)
                prev = next_frontier.get(c)
                if prev is None:
                    next_frontier[c] = (child_depth, p, wave + 1)
                else:  # U1 dedup: min depth, max priority, min wave
                    next_frontier[c] = (min(prev[0], child_depth),
                                        max(prev[1], p),
                                        min(prev[2], wave + 1))
        if cfg.adaptive_politeness:
            # fold this wave's latency observations into the EWMA
            # state (engine: observe_fetches → merge_latency_state
            # overwrite); fetch errors carry no latency, mirroring the
            # isNotNull filter; int() mirrors the per-row truncation
            per_host_ms: dict[str, list[int]] = {}
            for host, u, _rank in admitted:
                page = page_by_url.get(u)
                if page is not None and page.get("fetch_ms") is not None:
                    per_host_ms.setdefault(host, []).append(
                        int(page["fetch_ms"]))
            for h, vals in per_host_ms.items():
                lat_est[h] = adaptive.fold_latency_py(
                    lat_est.get(h), sum(vals) / len(vals),
                    prior_ms=_adaptive_prior)
        if cfg.domain_quota is not None:
            # exhausted hosts leave the frontier entirely — deferred AND
            # newly discovered rows (engine: the broadcast anti-join on
            # nxt after this wave's admitted-table append). The metrics
            # 'deferred' count above stays PRE-drop, matching the
            # engine's candidates-minus-admitted accounting.
            next_frontier = {
                u: v for u, v in next_frontier.items()
                if host_admitted.get(urlnorm.host_of(u), 0)
                < cfg.domain_quota}
        if cfg.priority_mode == "pagerank":
            # mirror plans/crawl._pagerank_priorities: recompute the
            # rank table on wave % rank_every == 0, reuse the committed
            # one otherwise; re-score the WHOLE next frontier, 6dp
            if wave % cfg.rank_every == 0:
                ranks_cache = _pagerank_py(link_edges)
            next_frontier = {
                u: (d, _round6(ranks_cache.get(u, 0.0)), w)
                for u, (d, _p, w) in next_frontier.items()}
        if cfg.frontier_host_cap is not None:
            # bounded frontier twin (cap_frontier_per_host): top-cap per
            # host by (priority DESC, url ASC), after priorities final.
            # The engine caps the SEEN-FILTERED set (nxt is built behind
            # anti_join_seen), so filter before capping here too —
            # otherwise already-seen discoveries would waste cap slots
            # the engine spends on unseen URLs.
            next_frontier = {u: v for u, v in next_frontier.items()
                             if u not in seen}
            by_h: dict[str, list[str]] = {}
            for u in next_frontier:
                by_h.setdefault(urlnorm.host_of(u), []).append(u)
            keep: set[str] = set()
            for h, urls in by_h.items():
                urls.sort(key=lambda u: (-next_frontier[u][1], u))
                keep.update(urls[:cfg.frontier_host_cap])
            next_frontier = {u: v for u, v in next_frontier.items()
                             if u in keep}
        metrics.append({
            "wave": wave, "candidates": len(candidates),
            "admitted": len(admitted), "deferred": len(deferred),
            "links_discovered": n_links,
        })
        frontier = {u: v for u, v in next_frontier.items() if u not in seen}
        wave += 1

    admitted_log.sort(key=lambda t: (t[0], t[1], t[2]))
    return OracleResult(admitted=admitted_log, seen=seen, waves_run=wave,
                        per_wave_metrics=metrics)
