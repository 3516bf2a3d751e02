"""The wave-loop crawl driver (SURVEY.md §3.3, §7.1 M2/M4).

One BFS wave = one batch job over the snapshot catalog:

    frontier(w) --J1 anti-join seen (bloom pre-pass)--> candidates
      --W1 politeness admit/defer--> admitted(w) + deferred
      --S3 fetch--> fetched(w)
      --[branch A] X3/X1 extract -> F1-F3 -> candidates(w+1) ∪ deferred
          -> U1 dedup -> frontier(w+1)
      --[branch B] content pipeline -> documents/chunks/vectors
      --A5 metrics + lineage append

Every wave commits its outputs to the catalog (that IS the checkpoint);
`_state.json` records the next wave, so a killed run resumes from the last
complete wave with identical results (north_rule: resumable with
per-partition lineage + metrics). Semantics are defined by and verified
against axora_spark.oracle.simulate.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from axora_spark import schemas
from axora_spark.catalog import SnapshotCatalog
from axora_spark.config import CrawlConfig
from axora_spark.operators import politeness
from axora_spark.operators.extract import edges_from_fetched, links_from_fetched
from axora_spark.operators.filters import apply_frontier_filters
from axora_spark.operators.frontier import (anti_join_seen,
                                            build_seen_filters,
                                            dedup_within_wave)
from axora_spark.operators.priority import priority_col
from axora_spark.operators.urls import canonicalize_udf, host_col, url_hash
from axora_spark.sources.fetch import corpus_from_link_graph, fetch_from_corpus


@dataclass
class CrawlRun:
    catalog: SnapshotCatalog
    cfg: CrawlConfig
    waves_run: int = 0
    seen_count: int = 0
    admitted_count: int = 0
    wave_metrics: list[dict] = field(default_factory=list)


def _state_path(catalog: SnapshotCatalog) -> str:
    return os.path.join(catalog.root, "_state.json")


def _save_state(catalog: SnapshotCatalog, state: dict) -> None:
    tmp = _state_path(catalog) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, _state_path(catalog))


def _load_state(catalog: SnapshotCatalog) -> dict | None:
    p = _state_path(catalog)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def seed_frontier(spark: SparkSession, cfg: CrawlConfig) -> DataFrame:
    """Wave-0 frontier from the seed list (S1; cmd/main.go:143-146)."""
    seeds = spark.createDataFrame([(s,) for s in cfg.seeds], "raw_url string")
    df = (seeds
          .withColumn("url", canonicalize_udf(F.col("raw_url")))
          .filter(F.col("url") != "")
          .withColumn("host", host_col(F.col("url")))
          .select("url", "host"))
    df = apply_frontier_filters(df, cfg)
    df = df.withColumn("depth", F.lit(1))
    return dedup_within_wave(
        df.withColumn("url_hash", url_hash(F.col("url")))
          .withColumn("priority",
                      priority_col(cfg, F.col("url"), F.col("depth")))
          .withColumn("discovered_wave", F.lit(0)))


def init_tables(catalog: SnapshotCatalog) -> None:
    catalog.create_table("frontier", schemas.FRONTIER)
    catalog.create_table("seen", schemas.SEEN)
    catalog.create_table("admitted", schemas.ADMITTED)
    catalog.create_table("lineage", schemas.LINEAGE)
    catalog.create_table("metrics", schemas.METRICS)
    catalog.create_table("links", schemas.LINKS)
    catalog.create_table("ranks", schemas.RANKS)
    catalog.create_table("trap_state", schemas.TRAP_STATE)
    catalog.create_table("fetch_state", schemas.FETCH_STATE)


def _lineage_entry(catalog: SnapshotCatalog, table: str,
                   sid: int) -> tuple[str, int, int, int]:
    """(table, snapshot id, n_rows, n_partitions) from the snapshot's own
    metadata — the rows and part files that commit wrote."""
    snap = catalog.snapshot(table, sid)
    return table, sid, snap["n_rows"], snap["n_partitions"]


def _record_lineage(spark: SparkSession, catalog: SnapshotCatalog, wave: int,
                    entries: list[tuple[str, int, int, int]]) -> None:
    rows = [(wave, t, int(sid), int(n), int(p)) for t, sid, n, p in entries]
    catalog.append(spark, "lineage",
                   spark.createDataFrame(rows, schemas.LINEAGE))


def expire_history(spark: SparkSession, catalog: SnapshotCatalog,
                   table: str, keep_last: int = 1) -> int:
    """Resume-safe snapshot expiry for crawl-managed tables: protects
    the LATEST lineage-referenced snapshot for `table` — the only one
    crash-rollback targets (_rollback_incomplete_wave rolls back to the
    last complete wave's snapshot, never older) — then delegates to
    catalog.expire_snapshots. Protecting every historical lineage id
    would protect every data dir (append snapshots carry cumulative dir
    lists) and expiry would reclaim nothing (code-review r3). Use this,
    not the raw catalog call, for any table in _MANAGED_TABLES.

    The protect set must cover BOTH resume targets, not just the global
    max lineage id: a crash between _record_lineage and _save_state
    leaves lineage rows for a wave >= the saved next_wave, and resume
    rolls back PAST them to the last committed wave's snapshot. Running
    expire(keep_last=1) in that crashed state with only the global max
    protected would expire the rollback target and make the crawl
    unresumable (code-review r4). So: protect the newest lineage id for
    waves < the saved next_wave (the rollback target) AND the global
    newest (the current tip); with no saved state, the two most recent
    lineage ids per table — still O(1) dirs protected, expiry still
    reclaims everything older."""
    protect: set[int] = set()
    if catalog.table_exists("lineage") and \
            catalog.current_snapshot("lineage") is not None:
        lin = (catalog.read(spark, "lineage")
               .filter(F.col("table") == table)
               .select("wave", "snapshot_id"))
        # top-2 by (wave, snapshot_id) via TakeOrderedAndProject — O(1)
        # driver rows however long the session (ADVICE r4: the previous
        # full collect grew linearly with wave count per call)
        top2 = (lin.orderBy(F.desc("wave"), F.desc("snapshot_id"))
                .limit(2).collect())
        if top2:
            protect.add(int(top2[0].snapshot_id))  # current tip
            state = _load_state(catalog)
            if state is not None:
                m = (lin.filter(F.col("wave") < state["next_wave"])
                     .agg(F.max(F.struct("wave", "snapshot_id"))
                          .alias("m")).first().m)
                if m is not None:
                    protect.add(int(m.snapshot_id))  # rollback target
            elif len(top2) == 2:
                protect.add(int(top2[1].snapshot_id))
    return catalog.expire_snapshots(table, keep_last=keep_last,
                                    protect_ids=protect)


# every table a wave mutates — the rollback set for mid-wave crash recovery
_MANAGED_TABLES = ("frontier", "seen", "admitted", "metrics", "links",
                   "ranks", "documents", "chunks", "vectors",
                   "sigs", "dup_log", "fetch_state")


def _rollback_incomplete_wave(spark: SparkSession, catalog: SnapshotCatalog,
                              next_wave: int) -> None:
    """Make resume idempotent for MID-WAVE crashes: wave w commits several
    appends (admitted/seen/content tables/frontier/metrics) BEFORE
    _save_state advances next_wave to w+1, so a kill inside the wave leaves
    partial appends that a naive re-run would duplicate. On resume, restore
    every managed table to its last lineage-recorded snapshot for waves <
    next_wave (None = empty), and trim lineage rows of the crashed wave."""
    if not catalog.table_exists("lineage"):
        return
    rows = catalog.read(spark, "lineage").collect()
    last: dict[str, tuple[int, int]] = {}
    crashed = False
    for r in rows:
        if r.wave >= next_wave:
            crashed = True
            continue
        if r.table not in last or r.wave > last[r.table][0]:
            last[r.table] = (r.wave, r.snapshot_id)
    for t in _MANAGED_TABLES:
        if not catalog.table_exists(t):
            continue
        want = last.get(t, (None, None))[1]
        if t == "frontier" and want is None:
            continue  # wave-0 crash: keep the seeded frontier overwrite
        if catalog.current_snapshot(t) != want:
            catalog.rollback(t, want)
    if crashed:
        keep = [(r.wave, r.table, r.snapshot_id, r.n_rows, r.n_partitions)
                for r in rows if r.wave < next_wave]
        catalog.overwrite(spark, "lineage",
                          spark.createDataFrame(keep, schemas.LINEAGE))


def _pagerank_priorities(spark: SparkSession, catalog: SnapshotCatalog,
                         nxt: DataFrame, wave: int, rank_every: int
                         ) -> tuple[DataFrame, int | None]:
    """Re-score a frontier with link-authority ranks
    (priority_mode="pagerank", VERDICT r4 #5): power-iterate the
    accumulated `links` graph (operators/pagerank.py — the exact code
    path the pagerank driver query verifies against DuckDB), COMMIT the
    rank table to the catalog, and overwrite `priority` with each
    candidate's rank. Returns (rescored frontier, ranks snapshot id or
    None when this wave reused the committed table).

    Cadence: the full power iteration runs only on waves where
    wave % rank_every == 0 (at 10^10 URLs it is the expensive step;
    the rank join is cheap and stays per-wave). Committing ranks to the
    catalog makes the off-waves free AND removes per-wave checkpoint
    juggling — the overwrite materializes the iteration, after which
    the operator's internal checkpoints release immediately
    (SCALE.md Memory, r5 no-op-unpersist lesson).

    Priorities are ROUNDED to 6dp at commit: the pure-Python oracle
    twin sums in-flows in a different order than Spark's partial
    aggregation (~1e-16 relative), so full-precision ordering could
    flip between engines for structurally-symmetric pages; at 6dp
    symmetric pages tie exactly on both sides and the W4 url-ASC
    tie-break decides — deterministically, in both. Candidates nobody
    links yet (possible only for never-fetched seeds) score 0.0."""
    from axora_spark.checkpoints import release
    from axora_spark.operators.pagerank import pagerank
    sid_ranks = None
    if wave % rank_every == 0:
        edges = (catalog.read(spark, "links")
                 .select("src", "dst").distinct())
        nodes = (edges.select(F.col("src").alias("doc_id"))
                 .unionByName(edges.select(F.col("dst").alias("doc_id")))
                 .distinct())
        handles: list = []
        ranks_df = (pagerank(edges, nodes, handles=handles)
                    .select(F.col("doc_id").alias("url_hash"),
                            F.round("r", 6).alias("rank")))
        sid_ranks = catalog.overwrite(spark, "ranks", ranks_df)
        for h in handles:
            release(h)
    ranks = catalog.read(spark, "ranks")
    cols = [f.name for f in schemas.FRONTIER.fields]
    out = (nxt.drop("priority")
           .join(ranks, "url_hash", "left")
           .withColumn("priority",
                       F.coalesce(F.col("rank"), F.lit(0.0)))
           .select(*cols))
    return out, sid_ranks


def wave_metrics(wave: int, candidates: DataFrame, admitted: DataFrame,
                 union: DataFrame, frontier: DataFrame) -> DataFrame:
    """A5 — one METRICS row per host with candidates this wave. deduped
    counts the rows of the discovered∪deferred `union` that did not reach
    the persisted next `frontier` (U1 collapse, the seen anti-join and the
    frontier gates). One grouped pass: each frame contributes a 1 to its
    own tag column, so the four per-host counts are one aggregation."""
    tags = {"candidates": candidates, "admitted": admitted,
            "_pre": union, "_post": frontier}
    tagged = reduce(DataFrame.unionByName, [
        df.select("host", *[F.lit(int(t == tag)).alias(t) for t in tags])
        for tag, df in tags.items()])
    return (tagged.groupBy("host")
            .agg(*[F.sum(t).alias(t) for t in tags])
            .filter(F.col("candidates") > 0)
            .select(F.lit(wave).alias("wave"), "host", "candidates",
                    "admitted",
                    (F.col("candidates") - F.col("admitted"))
                    .alias("deferred"),
                    (F.col("_pre") - F.col("_post")).alias("deduped")))


def run_crawl(spark: SparkSession, catalog: SnapshotCatalog, cfg: CrawlConfig,
              corpus: DataFrame | None, resume: bool = False,
              stop_after_wave: int | None = None,
              bloom_threshold: int = 100_000,
              content_sink=None,
              robots_txt: dict[str, str] | None = None,
              seen_filter_kind: str = "bloom",
              fetcher=None,
              compact_every: int | None = None,
              initial_frontier: DataFrame | None = None) -> CrawlRun:
    """Run (or resume) a crawl session to completion.

    corpus: fixture corpus (raw-HTML or pre-parsed; see sources.fetch),
    or None when `fetcher` is given.
    fetcher: optional callable (admitted_df, wave) -> FETCHED_RAW rows —
    the real S3 stage (sources.fetch.fetch_http with a transport); takes
    precedence over `corpus`.
    stop_after_wave: simulate a crash after wave k (resume testing).
    content_sink: optional callable (spark, catalog, fetched_df, wave) — the
    content pipeline branch (plans.content.process_wave); decoupled so the
    frontier loop is testable alone.
    robots_txt: host → robots.txt body. Only consulted when
    cfg.robots_mode (north_rule target mode): disallowed URLs are dropped
    from the candidate set (never admitted, never marked seen), and a
    host's crawl-delay sets its politeness budget (SEMANTICS.md) — one
    source of politeness.host_budgets, which composes it with the
    adaptive budget and the domain quota.
    compact_every: every N completed waves, compact the `seen` table
    (the one table that grows by one data dir per wave — after
    thousands of waves its reads would open thousands of dirs).
    Compaction only ADDS a consolidated snapshot, so mid-wave crash
    rollback to pre-compaction lineage snapshots stays valid; history
    expiry (catalog.expire_snapshots) is a separate offline decision.
    """
    robots_rules = None
    if cfg.robots_mode and robots_txt:
        from axora_spark.operators.robots import parse_robots
        robots_rules = {h: parse_robots(t) for h, t in robots_txt.items()}
    state = _load_state(catalog) if resume else None
    if state is None:
        init_tables(catalog)
        # initial_frontier: alternative wave-0 seeding (sitemap source —
        # sources.sitemap.sitemap_seed_frontier — or a revisit frontier
        # from operators.recrawl); must already be filtered + deduped in
        # FRONTIER shape. Default: the S1 seed list.
        frontier = initial_frontier if initial_frontier is not None \
            else seed_frontier(spark, cfg)
        sid = catalog.overwrite(spark, "frontier", frontier)
        # wave -1 lineage row pins the SEEDED frontier so a crash inside
        # wave 0 (after its frontier overwrite) can still roll back to it
        _record_lineage(spark, catalog, -1,
                        [_lineage_entry(catalog, "frontier", sid)])
        state = {"next_wave": 0, "done": False, "seen_count": 0,
                 "admitted_count": 0}
        _save_state(catalog, state)
    else:
        # forward-compat: a warehouse created before a managed table
        # existed must stay resumable — CREATE IF NOT EXISTS every
        # managed table before rollback touches them (code-review r5:
        # resuming a pre-fetch_state warehouse with adaptive on raised;
        # ADVICE r5: the one-table fix re-created the same failure for
        # trap_state — init_tables is idempotent, so run it whole)
        init_tables(catalog)
        # mid-wave crash recovery: roll every table back to the last
        # COMPLETE wave's snapshots before re-entering the loop
        _rollback_incomplete_wave(spark, catalog, state["next_wave"])

    run = CrawlRun(catalog=catalog, cfg=cfg,
                   seen_count=state.get("seen_count", 0),
                   admitted_count=state.get("admitted_count", 0))
    # corpus shapes: raw HTML (default — the engine parses X3/X4/X5 itself)
    # or pre-parsed link-graph rows (title/metas/body_md/out_links);
    # fetcher mode always yields raw HTML
    html_mode = fetcher is not None or "body_html" in corpus.columns
    if fetcher is None and (html_mode or "body_md" in corpus.columns):
        corpus = corpus_from_link_graph(corpus)

    wave = state["next_wave"]
    while not state["done"] and wave < cfg.max_waves:
        frontier = catalog.read(spark, "frontier")
        seen = catalog.read(spark, "seen")

        # J1 — anti-join seen, shard-local filter pre-pass once seen is
        # large. The filters handle is persisted so the build (a sha pass
        # over the whole seen table) runs once even though the tagged
        # split has two consumers.
        filters = None
        if run.seen_count >= bloom_threshold:
            filters = build_seen_filters(seen, n_shards=32,
                                         fpp=cfg.seen_bloom_fpp,
                                         kind=seen_filter_kind).persist()
        candidates = anti_join_seen(frontier, seen, filters)

        # robots gate (target mode): disallowed URLs leave the frontier
        if robots_rules:
            from axora_spark.operators.robots import robots_filter
            candidates = robots_filter(candidates, robots_rules)

        # persisted: W1 computes deferred as an anti-join over candidates
        # and the metrics stage aggregates them again — without the persist
        # the whole J1 pass (incl. the filter cogroup) re-executes per
        # consumer (VERDICT r2 'What's wrong' #2; bench.py already did this)
        candidates = candidates.persist()

        # W1 — politeness admission under the wave's per-host budgets
        # (robots crawl-delay, adaptive latency, domain quota: one
        # policy, politeness.host_budgets)
        default_budget, budgets = politeness.host_budgets(
            spark, cfg, robots_rules,
            admitted=(catalog.read(spark, "admitted")
                      if cfg.domain_quota is not None else None),
            fetch_state=(catalog.read(spark, "fetch_state")
                         if cfg.adaptive_politeness else None))
        admitted, deferred = politeness.admit(
            candidates, default_budget, salt=cfg.hot_host_salt,
            budget_overrides=budgets)
        admitted = admitted.persist()
        n_admitted = admitted.count()

        if n_admitted == 0:
            state["done"] = True
            _save_state(catalog, state)
            admitted.unpersist()
            candidates.unpersist()
            if filters is not None:
                filters.unpersist()
            break

        # commit admission log + seen
        adm_log = admitted.select(
            F.lit(wave).alias("wave"), "host", "rank", "url", "depth")
        sid_adm = catalog.append(spark, "admitted", adm_log)
        sid_seen = catalog.append(
            spark, "seen",
            admitted.select("url_hash", "url", F.lit(wave).alias("wave")))

        # S3 — fetch (+ the one-pass HTML parse stage when raw; X3/X4/X5)
        fetched = fetcher(admitted, wave) if fetcher is not None \
            else fetch_from_corpus(admitted, corpus, wave)
        if html_mode:
            from axora_spark.operators.html import parse_fetched_html
            fetched = parse_fetched_html(fetched)
        fetched = fetched.persist()

        sid_obs = None
        if cfg.adaptive_politeness and "fetch_ms" in fetched.columns:
            # per-URL latency collapses map-side to one mean per host,
            # then FOLDS into the O(hosts) EWMA state (overwrite —
            # lineage rollback makes a replayed wave fold exactly once)
            from axora_spark.operators import adaptive
            merged = adaptive.merge_latency_state(
                catalog.read(spark, "fetch_state"),
                adaptive.observe_fetches(fetched, wave),
                prior_ms=cfg.per_host_delay_s * 1000.0
                / adaptive.DELAY_FACTOR)
            sid_obs = catalog.overwrite(spark, "fetch_state", merged)

        # branch B — content pipeline
        if content_sink is not None:
            content_sink(spark, catalog, fetched, wave)

        # branch A — next frontier
        new_links = links_from_fetched(fetched, cfg, wave)
        union = (new_links
                 .unionByName(deferred.select(*new_links.columns))
                 .persist())
        nxt = dedup_within_wave(union)
        nxt = anti_join_seen(nxt, catalog.read(spark, "seen"), None)
        if cfg.domain_quota is not None:
            # drop frontier rows (deferred AND newly discovered) on hosts
            # whose cumulative quota is exhausted — bounded frontier
            # state instead of eternal deferral; the admitted table
            # already contains this wave's append, so the count is
            # current. One tiny keyed agg + a broadcast anti-join.
            exhausted = (catalog.read(spark, "admitted")
                         .groupBy("host").agg(F.count("*").alias("_n"))
                         .filter(F.col("_n") >= cfg.domain_quota)
                         .select("host"))
            nxt = nxt.join(F.broadcast(exhausted), "host", "left_anti")
        if cfg.trap_detect:
            # statistical crawl-trap pruning, INCREMENTAL (operators/
            # traps.py): the family profile lives in the catalog as a
            # mergeable state table at (host, template, bucket) register
            # grain. Per wave we profile ONLY this wave's URLs (admitted
            # + newly discovered — together they cover seeds and every
            # frontier row over the session), max-merge into the state
            # (idempotent under crash replay — every column is a max),
            # and flag families on read. Cost per wave scales with the
            # WAVE, never with the accumulated 10^10-row seen table the
            # old full-rescan form re-profiled each time; the gate
            # itself broadcasts the tiny flagged-family table.
            from axora_spark.operators.traps import (
                detect_traps_from_state, trap_filter, trap_profile_state)
            wave_urls = (admitted.select("url")
                         .unionByName(nxt.select("url")))
            new_prof = trap_profile_state(wave_urls)
            old_prof = catalog.read(spark, "trap_state")
            merged = (old_prof.unionByName(new_prof)
                      .groupBy("host", "template", "bucket")
                      .agg(F.max("m_reg").alias("m_reg"),
                           F.max("max_depth").alias("max_depth"),
                           F.max("max_params").alias("max_params")))
            catalog.overwrite(spark, "trap_state", merged)
            traps = detect_traps_from_state(
                catalog.read(spark, "trap_state"),
                min_urls=cfg.trap_min_urls,
                max_depth=cfg.trap_max_path_depth)
            nxt = trap_filter(nxt, traps)
        sid_links = None
        sid_ranks = None
        if cfg.priority_mode == "pagerank":
            # link-authority priorities (VERDICT r4 #5): accumulate this
            # wave's (src, dst) url_hash edges, power-iterate the WHOLE
            # graph so far, and re-score the next frontier — W1 then
            # admits by authority. The fixture recomputes per wave for
            # oracle determinism; a production session would rank every
            # k waves (the rank join is the same either way).
            edges_w = edges_from_fetched(fetched).select(
                F.lit(wave).alias("wave"), "src", "dst")
            sid_links = catalog.append(spark, "links", edges_w)
            nxt, sid_ranks = _pagerank_priorities(spark, catalog, nxt,
                                                  wave, cfg.rank_every)
        if cfg.frontier_host_cap is not None:
            # bounded frontier state — applied AFTER priorities are
            # final (pagerank rescore above) so the cap keeps the
            # highest-authority URLs, and BEFORE the overwrite so the
            # persisted table is the bounded one. Dropped rows count in
            # the metrics `deduped` column (pre-union minus persisted).
            from axora_spark.operators.frontier import \
                cap_frontier_per_host
            nxt = cap_frontier_per_host(nxt, cfg.frontier_host_cap,
                                        salt=cfg.hot_host_salt)
        sid_frontier = catalog.overwrite(spark, "frontier", nxt)

        met = wave_metrics(wave, candidates, admitted, union,
                           catalog.read(spark, "frontier"))
        sid_met = catalog.append(spark, "metrics", met)
        union.unpersist()        # the metrics pass reads it until this commit

        frontier_meta = catalog.snapshot("frontier", sid_frontier)
        wave_sids = [("admitted", sid_adm), ("seen", sid_seen),
                     ("frontier", sid_frontier), ("metrics", sid_met),
                     ("links", sid_links), ("fetch_state", sid_obs),
                     ("ranks", sid_ranks)]
        # content tables (written by the sink) join the rollback set so a
        # mid-wave crash can't duplicate documents/chunks/vectors on resume
        wave_sids += [(t, catalog.current_snapshot(t))
                      for t in ("documents", "chunks", "vectors", "sigs",
                                "dup_log") if catalog.table_exists(t)]
        _record_lineage(spark, catalog, wave,
                        [_lineage_entry(catalog, t, sid)
                         for t, sid in wave_sids if sid is not None])

        run.seen_count += n_admitted
        run.admitted_count += n_admitted
        run.wave_metrics.append({"wave": wave, "admitted": n_admitted,
                                 "frontier_next": frontier_meta["n_rows"]})
        fetched.unpersist()
        admitted.unpersist()
        candidates.unpersist()
        if filters is not None:
            filters.unpersist()

        wave += 1
        state.update({"next_wave": wave, "seen_count": run.seen_count,
                      "admitted_count": run.admitted_count,
                      "done": frontier_meta["n_rows"] == 0})
        _save_state(catalog, state)
        run.waves_run = wave

        if compact_every and wave % compact_every == 0 and \
                catalog.current_snapshot("seen") is not None:
            catalog.compact(spark, "seen")

        if stop_after_wave is not None and wave > stop_after_wave:
            break

    run.waves_run = wave
    return run
