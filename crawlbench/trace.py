"""Tracing for the benchmark's traced runs, from the benchmark's own files.

Part (a) — spans around the real run. The entry points `plans.crawl`
calls are wrapped for the duration of one traced unit: the catalog
writes and reads (a `SnapshotCatalog` subclass), the fetcher, the content
sink and its three builders, `parse_fetched_html`, `links_from_fetched`,
`dedup_within_wave`, `build_seen_filters`, `anti_join_seen`,
`politeness.admit` and `robots_filter`. Each wrapper records a span
(name, layer, start, end, parent, wave) and labels the Spark jobs it
starts with its layer through `setJobDescription`; the event log then
attributes executor time, shuffle, spill and GC to layers.

Part (b) — DataFrame builders are lazy, so a span around
`anti_join_seen` times only plan construction. `replay_wave` therefore
replays one recorded wave layer by layer: each layer's inputs are
stored and counted untimed, then the layer's public function is timed
writing its output to a noop sink, which gives each layer's self time.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from axora_spark import schemas
from axora_spark.catalog import SnapshotCatalog
from axora_spark.operators import html as html_op
from axora_spark.operators import politeness, robots
from axora_spark.plans import content, crawl

_DESC = "spark.job.description"


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    wave: int
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder. `wave` advances after each lineage
    commit, which closes a crawl wave; `wave_ends` keeps those instants."""
    spark: SparkSession
    spans: list[Span] = field(default_factory=list)
    wave: int = -1
    wave_ends: list[float] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(_DESC)
        sp = Span(len(self.spans), self._stack[-1].id if self._stack
                  else None, layer, name, self.wave, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        sc.setLocalProperty(_DESC, layer)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty(_DESC, prev)

    def wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(layer, name):
                return fn(*a, **kw)
        return traced

    def close_wave(self) -> None:
        self.wave_ends.append(time.perf_counter())
        self.wave += 1

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class TracedCatalog(SnapshotCatalog):
    """SnapshotCatalog whose reads and writes record catalog spans."""

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer
        self.read_dirs: list[int] = []

    def read(self, spark, name, snapshot_id=None):
        with self.tracer.span("catalog", "catalog.read"):
            sid = self.current_snapshot(name) if snapshot_id is None \
                else snapshot_id
            self.read_dirs.append(next(
                (len(s["dirs"]) for s in self.snapshots(name)
                 if s["id"] == sid), 0))
            return super().read(spark, name, snapshot_id)

    def append(self, spark, name, df, skip_empty=False):
        with self.tracer.span("catalog", "catalog.append"):
            sid = super().append(spark, name, df, skip_empty)
        if name == "lineage":
            self.tracer.close_wave()
        return sid

    def overwrite(self, spark, name, df):
        with self.tracer.span("catalog", "catalog.overwrite"):
            return super().overwrite(spark, name, df)

    def merge_insert_if_absent(self, spark, name, df, key):
        with self.tracer.span("catalog", "catalog.merge"):
            return super().merge_insert_if_absent(spark, name, df, key)


# (module, attribute, layer) of every function plans.crawl reaches by
# module lookup at call time
_PATCHES = (
    (crawl, "anti_join_seen", "frontier"),
    (crawl, "build_seen_filters", "frontier"),
    (crawl, "dedup_within_wave", "frontier"),
    (crawl, "links_from_fetched", "extract"),
    (politeness, "admit", "politeness"),
    (robots, "robots_filter", "robots"),
    (html_op, "parse_fetched_html", "html"),
    (content, "documents_from_fetched", "content"),
    (content, "chunks_from_documents", "content"),
    (content, "vectors_from_chunks", "content"),
)


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the crawl's entry points for the duration of the block."""
    saved = [(m, a, getattr(m, a)) for m, a, _ in _PATCHES]
    try:
        for m, a, layer in _PATCHES:
            setattr(m, a, tracer.wrap(layer, f"{layer}.{a}", getattr(m, a)))
        yield
    finally:
        for m, a, fn in saved:
            setattr(m, a, fn)


@contextlib.contextmanager
def traced_region(tracer: Tracer):
    """Instrument the crawl and open its first wave."""
    with instrument(tracer), tracer.span("crawl", "crawl.run_crawl"):
        tracer.wave_ends.append(time.perf_counter())
        yield


def wrap_io(tracer: Tracer):
    """Decorator pair for the fetcher and the content sink."""
    def wrap(fetcher, sink):
        return (tracer.wrap("fetch", "fetch.fetcher", fetcher),
                tracer.wrap("content", "content.sink", sink))
    return wrap


# --------------------------------------------------------------------------
# part (a) summaries
# --------------------------------------------------------------------------

def wave_summary(tracer: Tracer) -> list[dict]:
    """Per wave: wall time and the driver gap (wall minus the time inside
    top-level traced layer calls of that wave)."""
    root = next(s for s in tracer.spans if s.name == "crawl.run_crawl")
    top = [s for s in tracer.spans if s.parent == root.id]
    out = []
    first = root.wave
    for i, (t0, t1) in enumerate(zip(tracer.wave_ends,
                                     tracer.wave_ends[1:])):
        inside = sum(s.dur for s in top if s.wave == first + i)
        out.append({"wave": first + i, "wall_s": t1 - t0,
                    "driver_gap_s": (t1 - t0) - inside})
    return out


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job-description label: executor run time, GC time, shuffle
    bytes written, bytes spilled to disk, and every task's duration."""
    stage_label: dict[int, str] = {}
    by_label: dict[str, dict] = {}
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir)
                   for f in fs if f.startswith(("events_", "local-")))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    label = (ev.get("Properties") or {}).get(_DESC)
                    if label:
                        stage_label[ev["Stage Info"]["Stage ID"]] = label
                elif kind == "SparkListenerTaskEnd":
                    label = stage_label.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if label is None or m is None:
                        continue
                    agg = by_label.setdefault(label, {
                        "executor_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0,
                        "spill_mb": 0.0, "task_s": []})
                    info = ev["Task Info"]
                    agg["executor_s"] += m["Executor Run Time"] / 1e3
                    agg["gc_s"] += m["JVM GC Time"] / 1e3
                    agg["shuffle_mb"] += m["Shuffle Write Metrics"][
                        "Shuffle Bytes Written"] / 1e6
                    agg["spill_mb"] += m["Disk Bytes Spilled"] / 1e6
                    agg["task_s"].append(
                        (info["Finish Time"] - info["Launch Time"]) / 1e3)
    return by_label


def layer_exec_metrics(by_label: dict[str, dict], layer: str,
                       labels: list[str]) -> dict[str, float]:
    aggs = [by_label[lb] for lb in labels if lb in by_label]
    out = {f"{layer}.{k}": sum(a[k] for a in aggs)
           for k in ("executor_s", "shuffle_mb", "spill_mb", "gc_s")}
    tasks = [t for a in aggs for t in a["task_s"]]
    med = statistics.median(tasks) if tasks else 0.0
    out[f"{layer}.task_skew"] = max(tasks) / med if med > 0 else 0.0
    return out


# --------------------------------------------------------------------------
# part (b) — layer-by-layer replay of one recorded wave
# --------------------------------------------------------------------------

class Replay:
    """Stores inputs untimed and times layer calls into a noop sink."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark, self.root = spark, root
        self.self_s: dict[str, float] = {}

    def store(self, df: DataFrame, name: str) -> tuple[DataFrame, int]:
        path = os.path.join(self.root, name)
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        return out, out.count()

    @contextlib.contextmanager
    def timed(self, metric: str, layer: str):
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(_DESC)
        sc.setLocalProperty(_DESC, f"replay:{layer}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.self_s[metric] = self.self_s.get(metric, 0.0) + \
                time.perf_counter() - t0
            sc.setLocalProperty(_DESC, prev)

    def run(self, metric: str, layer: str, build) -> None:
        """Time `build()` and the noop write of every frame it returns."""
        with self.timed(metric, layer):
            out = build()
            for df in (out if isinstance(out, tuple) else (out,)):
                df.write.format("noop").mode("overwrite").save()


def _lineage(spark, catalog: SnapshotCatalog) -> dict:
    return {(r.wave, r.table): r.snapshot_id
            for r in catalog.read(spark, "lineage").collect()}


def _state_before(catalog, lineage, table, wave):
    """Snapshot id of `table` as the wave found it (None = empty)."""
    ids = [(w, sid) for (w, t), sid in lineage.items()
           if t == table and w < wave]
    return max(ids)[1] if ids else None


def _read_at(spark, catalog, table, sid):
    if sid is None:
        return spark.createDataFrame([], catalog.schema_of(table))
    return catalog.read(spark, table, sid)


def replay_wave(spark: SparkSession, work: str, wl, catalog_root: str,
                wave: int) -> tuple[dict[str, float], dict[str, float]]:
    """Replay wave `wave` of the crawl stored at `catalog_root` one layer
    at a time. Returns (self times, counts)."""
    cfg = wl.cfg
    cat = SnapshotCatalog(catalog_root)
    lin = _lineage(spark, cat)
    rp = Replay(spark, os.path.join(work, "replay"))
    n: dict[str, float] = {}

    with rp.timed("catalog.read_s", "catalog"):
        cat.read(spark, "frontier")
        cat.read(spark, "seen")
    front, n["frontier.rows_in"] = rp.store(
        _read_at(spark, cat, "frontier",
                 _state_before(cat, lin, "frontier", wave)), "frontier")
    seen, n_seen = rp.store(
        _read_at(spark, cat, "seen", _state_before(cat, lin, "seen", wave)),
        "seen")

    # J1 (+ the shard-local filter pre-pass when the crawl used it)
    filters = None
    if n_seen >= wl.bloom_threshold:
        with rp.timed("frontier.seen_filter_build_s", "frontier"):
            filters = crawl.build_seen_filters(
                seen, n_shards=32, fpp=cfg.seen_bloom_fpp).persist()
            filters.df.write.format("noop").mode("overwrite").save()
    rp.run("frontier.antijoin_s", "frontier",
           lambda: crawl.anti_join_seen(front, seen, filters))
    cands, n["frontier.candidates_out"] = rp.store(
        crawl.anti_join_seen(front, seen, filters), "candidates")
    if filters is not None:
        filters.unpersist()

    rules = {h: robots.parse_robots(t) for h, t in
             (wl.robots_txt or {}).items()} if cfg.robots_mode else None
    n["robots.dropped"] = 0
    if rules:
        rp.run("robots.filter_s", "robots",
               lambda: robots.robots_filter(cands, rules))
        allowed, n_allowed = rp.store(robots.robots_filter(cands, rules),
                                      "allowed")
        n["robots.dropped"] = n["frontier.candidates_out"] - n_allowed
        cands = allowed

    # W1 with the crawl's own budget overrides (robots crawl-delays)
    overrides = {h: robots.host_budget_with_robots(
        cfg.host_budget, cfg.wave_seconds, cfg.per_host_parallelism,
        r.crawl_delay) for h, r in (rules or {}).items() if r.crawl_delay}

    def admit():
        return politeness.admit(cands, cfg.host_budget,
                                salt=cfg.hot_host_salt,
                                budget_overrides=overrides or None)
    rp.run("politeness.admit_s", "politeness", admit)
    adm_df, _deferred = admit()
    admitted, n_adm = rp.store(adm_df, "admitted")
    n_cand = max(1, n["frontier.candidates_out"] - n["robots.dropped"])
    n["politeness.admit_ratio"] = n_adm / n_cand

    rp.run("fetch.s", "fetch", lambda: wl.fetch(admitted, wave))
    raw, n_fetched = rp.store(wl.fetch(admitted, wave), "fetched_raw")
    agg = raw.agg(F.sum((F.col("http_status") == 200).cast("long")),
                  F.sum(F.length("body_html"))).first()
    n["fetch.ok_ratio"] = (agg[0] or 0) / max(1, n_fetched)
    n["html.mb_in"] = (agg[1] or 0) / 1e6

    rp.run("html.parse_s", "html",
           lambda: html_op.parse_fetched_html(raw))
    fetched, _ = rp.store(html_op.parse_fetched_html(raw), "fetched")
    n_ok = fetched.filter(F.col("http_status") == 200).count()

    rp.run("content.documents_s", "content",
           lambda: content.documents_from_fetched(fetched, cfg))
    docs, n_docs = rp.store(content.documents_from_fetched(fetched, cfg),
                            "documents")
    rp.run("content.chunks_s", "content",
           lambda: content.chunks_from_documents(docs, cfg))
    chunks, n_chunks = rp.store(content.chunks_from_documents(docs, cfg),
                                "chunks")
    rp.run("content.vectors_s", "content",
           lambda: content.vectors_from_chunks(chunks, cfg))
    vectors, _ = rp.store(content.vectors_from_chunks(chunks, cfg),
                          "vectors")
    n["content.doc_yield"] = n_docs / max(1, n_ok)
    n["content.chunk_yield"] = n_chunks / max(1, n_docs)

    rp.run("extract.links_s", "extract",
           lambda: crawl.links_from_fetched(fetched, cfg, wave))
    links, n["extract.links_out"] = rp.store(
        crawl.links_from_fetched(fetched, cfg, wave), "links")
    seen_after = _read_at(spark, cat, "seen",
                          _state_before(cat, lin, "seen", wave + 1))
    n_new = crawl.anti_join_seen(crawl.dedup_within_wave(links),
                                 seen_after).count()
    n["extract.new_url_ratio"] = n_new / max(1, n["extract.links_out"])

    _replay_commits(spark, rp, cat, lin, wave, admitted, docs, chunks,
                    vectors)
    return rp.self_s, n


def _replay_commits(spark, rp: Replay, cat: SnapshotCatalog, lin: dict,
                    wave: int, admitted, docs, chunks, vectors) -> None:
    """The wave's catalog writes, into a scratch catalog holding the
    content tables as the wave found them."""
    scratch = SnapshotCatalog(os.path.join(rp.root, "catalog"))
    for t, schema in (("admitted", schemas.ADMITTED),
                      ("seen", schemas.SEEN),
                      ("frontier", schemas.FRONTIER),
                      ("metrics", schemas.METRICS),
                      ("lineage", schemas.LINEAGE),
                      ("documents", schemas.DOCUMENTS),
                      ("chunks", schemas.CHUNKS),
                      ("vectors", schemas.VECTORS)):
        scratch.create_table(t, schema)
    for t in ("documents", "vectors"):
        if cat.table_exists(t):
            prior = _state_before(cat, lin, t, wave)
            if prior is not None:
                scratch.overwrite(spark, t, cat.read(spark, t, prior))
    nxt, _ = rp.store(cat.read(spark, "frontier", lin[(wave, "frontier")]),
                      "next_frontier")
    met, _ = rp.store(cat.read(spark, "metrics")
                      .filter(F.col("wave") == wave), "metrics")

    with rp.timed("catalog.append_s", "catalog"):
        scratch.append(spark, "admitted", admitted.select(
            F.lit(wave).alias("wave"), "host", "rank", "url", "depth"))
        scratch.append(spark, "seen", admitted.select(
            "url_hash", "url", F.lit(wave).alias("wave")))
        scratch.append(spark, "chunks", chunks.select(
            "doc_id", "chunk_index", "text", "token_count"))
        scratch.append(spark, "metrics", met)
        scratch.append(spark, "lineage", spark.createDataFrame(
            [(wave, "frontier", 1, 0, 0)], schemas.LINEAGE))
    with rp.timed("catalog.overwrite_s", "catalog"):
        scratch.overwrite(spark, "frontier", nxt)
    with rp.timed("catalog.merge_s", "catalog"):
        scratch.merge_insert_if_absent(
            spark, "documents",
            docs.select("doc_id", "url", "spans", "metadata"), "doc_id")
        scratch.merge_insert_if_absent(spark, "vectors", vectors,
                                       "content_hash")
