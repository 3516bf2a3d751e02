"""W1 — per-host politeness scheduler as a salted, window-ranked priority
queue (SURVEY.md §2.5 W1, §4.3 item 2).

Reference semantics (crawler/crawler.go:87-92): colly LimitRule
{DomainGlob:"*", Parallelism:3, Delay:5s, RandomDelay:0-3s} — per host,
≤3 concurrent fetches and ≥5s between request starts. Time-based pacing is
nondeterministic; the deterministic closure is a per-wave COUNT budget:

    host_budget = parallelism * wave_seconds / delay_s

URLs over budget are DEFERRED: they stay in the frontier with unchanged
priority and compete again next wave.

Scale design: a naive `row_number() OVER (PARTITION BY host ...)` puts one
mega-host in one task (the whitelist in domains.yaml:2 contains wikipedia).
We run two-phase top-k instead:

  phase 1: rank within (host, salt) — salt = pmod(url_hash, S) — and keep
           rank ≤ budget per shard. A host's data now spreads over S tasks
           and at most S*budget rows per host survive.
  phase 2: rank the survivors within host (tiny: ≤ S*budget rows/host) and
           keep rank ≤ budget.

Phase 2's global per-host rank equals the single-window rank because the
per-shard cut can never evict a row that the global cut would keep (any row
in the global top-budget of a host is in the top-budget of its shard).
Deterministic order: priority DESC, url ASC (W4 tie-break).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from axora_spark.config import CrawlConfig
from axora_spark.operators import adaptive
from axora_spark.operators.robots import HostRules, host_budget_with_robots


def _order_cols():
    """Deterministic per-host order: priority DESC, url ASC (W4 tie-break).
    (Built lazily — Column construction needs an active SparkContext.)"""
    return [F.col("priority").desc(), F.col("url").asc()]


def salted_topk(df: DataFrame, budget, salt: int) -> DataFrame:
    """THE two-phase salted per-host top-k (single definition —
    code-review r5: the frontier cap re-implemented it): phase 1 prunes
    within (host, url_hash%salt) shards so a hot host's sort spreads
    over `salt` tasks; phase 2 ranks the ≤ salt·k survivors per host.
    Returns df + `rank` (1-based per host by _order_cols), filtered to
    rank ≤ budget. Pass `budget` as a literal int to get
    WindowGroupLimit (per-partition top-k pruning BEFORE each sort
    exchange) in BOTH windows; a Column budget (per-host overrides) trades
    that for per-row limits."""
    salted = df.withColumn(
        "_salt", F.pmod(F.col("url_hash"), F.lit(salt)).cast("int"))
    w1 = Window.partitionBy("host", "_salt").orderBy(*_order_cols())
    survivors = (salted
                 .withColumn("_srn", F.row_number().over(w1))
                 .filter(F.col("_srn") <= budget)
                 .drop("_srn"))
    w2 = Window.partitionBy("host").orderBy(*_order_cols())
    ranked = (survivors.withColumn("rank", F.row_number().over(w2))
              .drop("_salt"))
    return ranked.filter(F.col("rank") <= budget)


def host_budgets(spark: SparkSession, cfg: CrawlConfig,
                 robots_rules: dict[str, HostRules] | None = None,
                 admitted: DataFrame | None = None,
                 fetch_state: DataFrame | None = None
                 ) -> tuple[int, DataFrame | None]:
    """THE per-host budget policy of one wave: (default_budget, budgets)
    for ``admit(frontier, default_budget, budget_overrides=budgets)``.

    Sources — a host's budget is the SMALLEST (most polite) of its
    robots crawl-delay budget (`robots_rules`) and its latency-adaptive
    budget (cfg.adaptive_politeness, from `fetch_state`), else
    cfg.host_budget. The adaptive delay is floored at the host's OWN
    robots delay (else the static delay), so a robots-fast host keeps
    its raised budget unless its observed latency says otherwise.

    Quota — with cfg.domain_quota, the remaining quota (quota minus the
    host's rows in `admitted`) caps every host. A host with no history
    is absent from `admitted` and has the whole quota left, so the
    default is min(host_budget, quota) (ADVICE r5: an uncapped default
    let a new host's first wave blow through the quota).

    `budgets` is a (host, _budget) frame over the hosts with a source
    or history (the robots-table cardinality class, broadcast by
    admit), or None when nothing overrides the default — which keeps
    admit on its literal-budget plan. Pass `admitted` only with a quota
    and `fetch_state` only in adaptive mode."""
    cols = ("_robots", "_adaptive", "_cap")

    def source(df: DataFrame, col: str, value: Column) -> DataFrame:
        return df.select("host", *[
            (value if c == col else F.lit(None)).cast("int").alias(c)
            for c in cols])

    delays = {h: r.crawl_delay for h, r in (robots_rules or {}).items()
              if r.crawl_delay}
    parts: list[DataFrame] = []
    if delays:
        parts.append(source(spark.createDataFrame(
            [(h, host_budget_with_robots(cfg.host_budget, cfg.wave_seconds,
                                         cfg.per_host_parallelism, d))
             for h, d in delays.items()], "host string, b int"),
            "_robots", F.col("b")))
    if cfg.adaptive_politeness:
        floors = spark.createDataFrame(
            [(h, d * 1000.0) for h, d in delays.items()],
            "host string, _floor_ms double") if delays else None
        parts.append(source(adaptive.budgets_from_state(
            fetch_state,
            num_ms=cfg.per_host_parallelism * cfg.wave_seconds * 1000.0,
            min_delay_ms=cfg.per_host_delay_s * 1000.0,
            delay_floors=floors), "_adaptive", F.col("_budget")))
    default = cfg.host_budget
    if cfg.domain_quota is not None:
        default = min(default, cfg.domain_quota)
        parts.append(source(
            admitted.groupBy("host").agg(F.count("*").alias("n")), "_cap",
            F.greatest(F.lit(0), F.lit(cfg.domain_quota) - F.col("n"))))
    if not parts:
        return default, None
    table = parts[0]
    for p in parts[1:]:
        table = table.unionByName(p)
    if len(parts) > 1:
        # one row per host: each source filled only its own column
        table = table.groupBy("host").agg(*[F.min(c).alias(c) for c in cols])
    # F.least skips nulls: one source → its budget, both → the smaller
    budget = F.coalesce(F.least("_robots", "_adaptive"),
                        F.lit(cfg.host_budget))
    if cfg.domain_quota is not None:
        budget = F.least(budget, F.coalesce(F.col("_cap"),
                                            F.lit(cfg.domain_quota)))
    return default, table.select("host", budget.alias("_budget"))


def admit(frontier: DataFrame, host_budget: int, salt: int = 8,
          budget_overrides: dict[str, int] | DataFrame | None = None
          ) -> tuple[DataFrame, DataFrame]:
    """Split a wave's candidate frontier into (admitted, deferred).

    admitted carries `rank` (1-based, per host, deterministic);
    deferred is the remainder, untouched.

    budget_overrides: per-host budgets — a host → int dict or a
    (host, _budget) frame (the table host_budgets builds), broadcast-
    joined; hosts absent from it use `host_budget`.

    Without overrides the ranks are compared against the LITERAL
    budget, not a `_budget` column: a row_number filter against a
    foldable constant lets Spark insert WindowGroupLimit — a
    per-partition top-k pruning pass BEFORE the window sort/exchange —
    while a column-vs-column comparison disables it (this was the
    r2→r3 politeness_rank regression: the override plumbing added a
    constant `_budget` column even when no overrides existed;
    plan-gated now)."""
    if isinstance(budget_overrides, dict):
        budget_overrides = frontier.sparkSession.createDataFrame(
            [(h, int(b)) for h, b in budget_overrides.items()],
            "host string, _budget int") if budget_overrides else None
    if budget_overrides is None:
        admitted = salted_topk(frontier, F.lit(host_budget), salt)
    else:
        frontier = (frontier
                    .join(F.broadcast(budget_overrides
                                      .select("host", "_budget")),
                          on="host", how="left")
                    .withColumn("_budget", F.coalesce(F.col("_budget"),
                                                      F.lit(host_budget))))
        admitted = salted_topk(frontier, F.col("_budget"), salt) \
            .drop("_budget")
        frontier = frontier.drop("_budget")
    # Deferred = everything not admitted. Anti-join on url_hash (unique per
    # wave after frontier dedup) keeps this a co-partitioned hash join.
    deferred = frontier.join(
        admitted.select("url_hash"), on="url_hash", how="left_anti")
    return admitted, deferred
