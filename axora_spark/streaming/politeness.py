"""Custom stateful streaming operator: per-host politeness admission via
applyInPandasWithState — W1's streaming twin (SURVEY.md §2.9).

The batch engine admits top-budget URLs per host per wave (salted
two-phase rank, operators/politeness.py). A continuous-ingest crawl has
no waves, so the streaming governor meters by EVENT-TIME windows instead:
each host gets `budget` admissions per `window_s`-second window; the
window is derived from the URL's own timestamp (floor(ts / window_s)),
NOT from processing time, so the admission decision for a given input
set is deterministic no matter how micro-batches slice it — pinned by
the batch-equivalence test (tests/test_streaming_politeness.py: same
URLs in 1 batch and in K batches → identical admit/defer verdicts).

State per host is two numbers (window_start, n_admitted) — O(hosts),
constant per key, no growth with crawl length. Within a batch rows are
processed in (ts, url) order; the cross-batch arrival contract matches
the sessionizer (per-key event-time-ordered arrival across batches — a
time-partitioned source); deferred URLs re-enter the stream later with
a NEW timestamp (their retry time), which is exactly how they land in a
later window.

The hot-host skew story differs from batch W1 on purpose: there is no
rank/shuffle at all here — each host's decisions are a LINEAR scan
inside its state group, so one hot host costs one task's linear time,
not a window sort. (The batch path needs the salted top-k because a
wave admits the BEST `budget` by priority; the stream admits the FIRST
`budget` per window — first-come metering, the standard shape for a
continuous politeness gate.)
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

ADMIT_OUT = T.StructType([
    T.StructField("host", T.StringType()),
    T.StructField("url", T.StringType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("window_start", T.DoubleType()),  # epoch seconds
    T.StructField("admitted", T.BooleanType()),
])

_STATE = T.StructType([
    T.StructField("window_start", T.DoubleType()),
    T.StructField("n_admitted", T.LongType()),
])


def _admit(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState,
           budget: int, window_s: float,
           per_host: bool) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:   # pragma: no cover - timeout not used in tests
        state.remove()
        return
    win, n_adm = state.get if state.exists else (None, 0)
    pdf = pd.concat(list(pdfs)).sort_values(["ts", "url"])
    b = budget
    if per_host:
        # stream-static budget join upstream: every row of a host group
        # carries the same _budget (NaN = host absent from the table)
        v = pdf["_budget"].iloc[0]
        if pd.notna(v):
            b = int(v)
    out = {"host": [], "url": [], "ts": [], "window_start": [],
           "admitted": []}
    for _, row in pdf.iterrows():
        t = row["ts"].timestamp()
        w = (t // window_s) * window_s
        if win is None or w > win:
            win, n_adm = w, 0
        ok = n_adm < b
        if ok:
            n_adm += 1
        out["host"].append(key[0])
        out["url"].append(row["url"])
        out["ts"].append(row["ts"])
        out["window_start"].append(win)
        out["admitted"].append(ok)
    state.update((float(win), int(n_adm)))
    yield pd.DataFrame(out)


def politeness_stream(urls: DataFrame, budget: int = 5,
                      window_s: float = 60.0,
                      budgets: DataFrame | None = None) -> DataFrame:
    """urls(host string, url string, ts timestamp) → every row with its
    admit/defer verdict and the event-time window it was metered in.

    budgets: optional STATIC (host, _budget) frame — the
    latency-adaptive budget table the batch side computes
    (operators/adaptive.latency_budgets); joined stream-static onto the
    URL stream so each host meters at its own rate (hosts absent from
    the frame use `budget`). This is the continuous twin of W1's
    per-host budget table (politeness.host_budgets): rate derivation
    stays a batch job on the fetch_state table, the stream only
    METERS — the same
    batch-computes/stream-joins split as pagerank priorities."""
    src = urls.select("host", "url", "ts")
    per_host = budgets is not None
    if per_host:
        src = src.join(budgets.select("host", "_budget"),
                       on="host", how="left")

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        return _admit(key, pdfs, state, budget, window_s, per_host)

    return (src
            .groupBy("host")
            .applyInPandasWithState(
                fn, outputStructType=ADMIT_OUT, stateStructType=_STATE,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


def politeness_batch_py(rows: list[tuple[str, str, float]],
                        budget: int = 5,
                        window_s: float = 60.0,
                        budgets: dict[str, int] | None = None
                        ) -> dict[tuple[str, str], bool]:
    """Pure-Python oracle: [(host, url, epoch_s)] → (host, url) →
    admitted. Same closure the streaming operator applies; `budgets`
    mirrors the stream-static per-host budget join."""
    by_host: dict[str, list[tuple[float, str]]] = {}
    for h, u, t in rows:
        by_host.setdefault(h, []).append((t, u))
    out: dict[tuple[str, str], bool] = {}
    for h, items in by_host.items():
        items.sort()
        b = budgets.get(h, budget) if budgets else budget
        win: float | None = None
        n = 0
        for t, u in items:
            w = (t // window_s) * window_s
            if win is None or w > win:
                win, n = w, 0
            ok = n < b
            if ok:
                n += 1
            out[(h, u)] = ok
    return out
