"""Latency-adaptive politeness budgets (the Heritrix delay-factor
analog; IRLbot budgets slow hosts the same way).

The reference fixes Delay=5s for EVERY host (crawler/crawler.go:87-92).
A web-scale session cannot: politeness delay should track what the host
can actually serve — Heritrix waits ``delayFactor × last fetch
duration``; a fixed delay either hammers slow hosts or starves fast
ones. This module derives a per-host per-wave COUNT budget (the
deterministic closure of time-based politeness, config.py) from the
crawl's own fetch-latency observations:

    est_0  = prior_ms
    est   <- (1-alpha) * est + alpha * mean_ms(wave)      (wave order)
    delay  = max(delay_factor * est, min_delay_ms)
    budget = clamp(floor(num_ms / delay), min_budget, max_budget)

The EWMA is expressed CLOSED-FORM so the whole computation is one
declarative plan (no driver fixpoint):

    est = (1-alpha)^n * prior + sum_i alpha * (1-alpha)^{k_i} * mean_i

with ``k_i`` = number of observed waves after wave i. alpha = 0.5 keeps
every weight an exact power of two — a power-of-two multiply only
shifts the exponent, so each TERM is exact whenever the per-wave mean
is (integer-ms observations with per-host-constant latency, the
fixture contract), and engine/oracle sums then agree exactly. For
arbitrary means the terms round and double addition is not
associative, so summation order can differ by ulps across engines —
the est output is round-guarded at 6dp and the budget divides through
a round6-then-floor (code-review r5: the original claim overstated
this as order-independent).

Scale shape: input is the (host, wave, sum_ms, n) state table the
crawl maintains — host × wave grain, NOT per-URL (the wave loop
pre-aggregates map-side before appending, so the table grows by
#hosts-fetched rows per wave however many URLs were fetched). One
host-keyed exchange is shared by the ranking window and the EWMA
aggregate; output is one row per observed host — the same cardinality
class as the robots-rules table, broadcast into W1's admit.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# politeness delay as a multiple of the observed latency (Heritrix's
# delayFactor default); the crawl, its oracle and the prior (static
# delay / DELAY_FACTOR) all use this one value
DELAY_FACTOR = 2.0


def observe_fetches(fetched: DataFrame, wave: int) -> DataFrame:
    """(host, wave, sum_ms, n) partial-aggregate rows for one wave's
    fetches — only rows that carry a latency observation count. This is
    the map-side collapse: per-URL latency never reaches the state
    table.

    Latency contract is INTEGER milliseconds: each observation is
    truncated per row BEFORE the sum (and the crawl oracle mirrors
    int()), so sums are exact longs and engine/oracle parity never
    depends on float-summation order (code-review r5: a long cast on
    the SUM of fractional latencies diverged from the oracle's exact
    float mean)."""
    return (fetched
            .filter(F.col("fetch_ms").isNotNull())
            .groupBy("host")
            .agg(F.sum(F.col("fetch_ms").cast("long")).alias("sum_ms"),
                 F.count("*").alias("n"))
            .select("host", F.lit(wave).alias("wave"), "sum_ms", "n"))


def _budget_col(est: Column, num_ms: float, delay_factor: float,
                min_delay_ms, min_budget: int,
                max_budget: int | None) -> Column:
    # hard 1 ms delay floor: min_delay_ms=0 (politeness disabled) with
    # an all-zero-latency host would otherwise divide by zero — the
    # Spark side would null-propagate to min_budget while the Python
    # twin raised (code-review r5). round-before-floor collapses
    # summation-order ulps away from quotient boundaries.
    floor_col = min_delay_ms if isinstance(min_delay_ms, Column) \
        else F.lit(min_delay_ms)
    delay = F.greatest(est * F.lit(delay_factor), floor_col, F.lit(1.0))
    b = F.floor(F.round(F.lit(num_ms) / delay, 6))
    b = F.greatest(F.lit(min_budget).cast("long"), b)
    if max_budget is not None:
        b = F.least(F.lit(max_budget).cast("long"), b)
    return b.cast("int")


def latency_budgets(obs: DataFrame, num_ms: float,
                    delay_factor: float = DELAY_FACTOR, alpha: float = 0.5,
                    prior_ms: float = 2500.0, min_delay_ms: float = 100.0,
                    min_budget: int = 1,
                    max_budget: int | None = None) -> DataFrame:
    """(host, n_waves, est_ms, _budget) from the fetch-observation state
    table. ``num_ms`` is the budget numerator — parallelism ×
    wave_seconds × 1000 under the config closure. Hosts absent from
    `obs` are absent from the output (they use the caller's default)."""
    mw = (obs.groupBy("host", "wave")
          .agg((F.sum("sum_ms") / F.sum("n")).alias("mw")))
    w = Window.partitionBy("host").orderBy(F.desc("wave"))
    ranked = mw.withColumn("_k", F.row_number().over(w) - 1)
    est = (ranked.groupBy("host")
           .agg((F.sum(F.col("mw") * F.lit(alpha)
                       * F.pow(F.lit(1.0 - alpha), F.col("_k")))
                 + F.pow(F.lit(1.0 - alpha), F.count("*"))
                 * F.lit(prior_ms)).alias("est_ms"),
                F.count("*").alias("n_waves")))
    return est.select(
        "host", "n_waves", "est_ms",
        _budget_col(F.col("est_ms"), num_ms, delay_factor, min_delay_ms,
                    min_budget, max_budget).alias("_budget"))


def latency_budget_py(means: list[tuple[int, float]], num_ms: float,
                      delay_factor: float = DELAY_FACTOR, alpha: float = 0.5,
                      prior_ms: float = 2500.0, min_delay_ms: float = 100.0,
                      min_budget: int = 1,
                      max_budget: int | None = None) -> int:
    """Pure-Python twin of latency_budgets for ONE host — the crawl
    oracle's mirror (oracle.simulate). `means` = [(wave, mean_ms)].
    Uses the same closed form (not the fold) so the arithmetic is
    operation-for-operation identical to the Spark plan."""
    n = len(means)
    orderd = sorted(means, key=lambda t: -t[0])
    est = sum(m * alpha * (1.0 - alpha) ** k
              for k, (_, m) in enumerate(orderd))
    est += (1.0 - alpha) ** n * prior_ms
    delay = max(delay_factor * est, min_delay_ms, 1.0)
    b = int(math.floor(round(num_ms / delay, 6)))
    b = max(min_budget, b)
    if max_budget is not None:
        b = min(max_budget, b)
    return b


# --------------------------------------------------------------------------
# Incremental EWMA state (the trap_state lesson applied here): instead of
# logging (host, wave) observations forever and re-folding the whole
# history into est each wave — a table that grows hosts × waves over a
# long session — the crawl keeps ONE row per host (host, est_ms, n_waves)
# and folds each wave's mean in place:
#
#     est' = (1-alpha) * coalesce(est, prior) + alpha * mean_ms(wave)
#
# ENGINE and ORACLE both execute this identical fold sequence, so
# engine↔oracle parity is bit-exact for ANY latencies. (The fold and
# the log-based closed form in latency_budgets compute the same terms
# but round at different points — equal bit-for-bit on exact-dyadic
# means (pinned by test), within ulps otherwise; the round-guards in
# _budget_col stay load-bearing for the ANALYTICS form's DuckDB
# parity.) Per-wave cost: one
# full-outer keyed merge of two host-cardinality frames; state size is
# O(hosts) however long the session runs. Crash replay is handled the
# same way as every overwrite table: lineage rollback restores the
# pre-wave snapshot, so a replayed wave folds exactly once.
# --------------------------------------------------------------------------


def merge_latency_state(state: DataFrame, wave_obs: DataFrame,
                        alpha: float = 0.5,
                        prior_ms: float = 2500.0) -> DataFrame:
    """(host, est_ms, n_waves) ⟗ this wave's (host, sum_ms, n) →
    folded state. Hosts unseen this wave carry over; new hosts fold
    from the prior."""
    mw = (wave_obs.groupBy("host")
          .agg((F.sum("sum_ms") / F.sum("n")).alias("_mw")))
    merged = state.select("host", "est_ms", "n_waves") \
        .join(mw, on="host", how="full_outer")
    folded = F.lit(1.0 - alpha) * F.coalesce(F.col("est_ms"),
                                             F.lit(prior_ms)) \
        + F.lit(alpha) * F.col("_mw")
    return merged.select(
        "host",
        F.when(F.col("_mw").isNotNull(), folded)
         .otherwise(F.col("est_ms")).alias("est_ms"),
        (F.coalesce(F.col("n_waves"), F.lit(0))
         + F.when(F.col("_mw").isNotNull(), F.lit(1)).otherwise(F.lit(0)))
        .cast("int").alias("n_waves"))


def budgets_from_state(state: DataFrame, num_ms: float,
                       delay_factor: float = DELAY_FACTOR,
                       min_delay_ms: float = 100.0, min_budget: int = 1,
                       max_budget: int | None = None,
                       delay_floors: DataFrame | None = None) -> DataFrame:
    """(host, _budget) from the folded state — row-wise arithmetic,
    no window, no aggregation: the per-wave budget derivation is a
    single O(hosts) projection.

    delay_floors: optional (host, _floor_ms) frame of PER-HOST delay
    floors (robots crawl-delay — a host that declared its own delay is
    floored there, not at the global default, so a robots-fast host
    keeps its robots-granted budget unless its OBSERVED latency says
    otherwise; code-review r5: a global floor silently capped
    robots-permitted fast hosts at the static budget forever). With the
    floor in the delay, budget ≤ floor(num_ms / floor_ms) automatically
    — an explicit max_budget is usually redundant."""
    floor_col = F.lit(min_delay_ms)
    if delay_floors is not None:
        state = state.join(
            F.broadcast(delay_floors.select("host", "_floor_ms")),
            on="host", how="left")
        floor_col = F.coalesce(F.col("_floor_ms"), F.lit(min_delay_ms))
    return state.select(
        "host",
        _budget_col(F.col("est_ms"), num_ms, delay_factor, floor_col,
                    min_budget, max_budget).alias("_budget"))


def fold_latency_py(est: float | None, mean_ms: float,
                    alpha: float = 0.5,
                    prior_ms: float = 2500.0) -> float:
    """Pure-Python twin of merge_latency_state's fold for ONE host-wave
    — operation-for-operation identical to the Spark expression."""
    base = est if est is not None else prior_ms
    return (1.0 - alpha) * base + alpha * mean_ms


def budget_from_est_py(est: float, num_ms: float,
                       delay_factor: float = DELAY_FACTOR,
                       min_delay_ms: float = 100.0, min_budget: int = 1,
                       max_budget: int | None = None) -> int:
    """Pure-Python twin of budgets_from_state for one host."""
    delay = max(est * delay_factor, min_delay_ms, 1.0)
    b = int(math.floor(round(num_ms / delay, 6)))
    b = max(min_budget, b)
    if max_budget is not None:
        b = min(max_budget, b)
    return b
