"""The three workloads: inputs, one measured unit, and the output check.

A unit is the piece of work a run repeats for its measuring window:

* crawl_session  — `run_crawl` over the raw-HTML graph, content sink on,
  resumed from the roots' wave (the warm-up) to an empty frontier.
* frontier_drain — `run_crawl` for a fixed number of waves over a seeded
  frontier, fetched against an empty corpus (every fetch is a 404).
* corpus_batch   — the fixed query list, each query a fresh plan written
  to a noop sink.

Each unit is checked: the crawl units against `oracle.simulate` (and, for
crawl_session, the content oracle), the batch against the DuckDB oracles.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from axora_spark import oracle, oracle_content, schemas
from axora_spark.catalog import SnapshotCatalog
from axora_spark.config import CrawlConfig
from axora_spark.operators.html import parse_page
from axora_spark.plans import content, crawl
from axora_spark.sources.fetch import fetch_from_corpus

from crawlbench import corpus

# sizes of the timed inputs; `tiny` sizes serve the smoke tests
SIZES = {
    "crawl_session": {"full": {"hosts": 100, "fanout": 50},
                      "tiny": {"hosts": 3, "fanout": 4}},
    "frontier_drain": {"full": {"urls": 20_000, "hosts": 20, "waves": 5,
                                "budget": 300, "bloom_threshold": 8_000},
                       "tiny": {"urls": 600, "hosts": 6, "waves": 3,
                                "budget": 40, "bloom_threshold": 200}},
    "corpus_batch": {"full": {"docs": 1000}, "tiny": {"docs": 60}},
}

BATCH_QUERIES = ("html_main_md", "meta_gate", "interleaved_spans",
                 "quality_scores", "chunk_pipeline", "wordpiece_tokens",
                 "minhash_near_dup", "dedup_clusters", "pipeline_funnel")
# DuckDB needs ~0.1 s a document for these three oracles (their shingle
# SQL re-splits each text once per shingle), so they are checked on the
# first CHECK_DOCS documents; the other six on all of them
HEAVY_ORACLES = ("minhash_near_dup", "dedup_clusters", "pipeline_funnel")
CHECK_DOCS = 50


@dataclass
class Unit:
    """One measured unit: its wall time, the work items it completed
    (pages fetched, URLs admitted, document-queries), the wall time of
    each step (wave or query) and the check's findings."""
    wall_s: float
    items: int
    steps_s: list[float]
    counts: dict = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)
    catalog_root: str | None = None
    # CPU seconds the hypervisor gave other guests while the unit ran
    steal_s: float = 0.0


def last_job_id(spark: SparkSession) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup()
    return max(ids) if ids else -1


def job_submit_times(spark: SparkSession, after_id: int) -> list[float]:
    """Submission instants (epoch s) of the jobs after `after_id`, from
    the status store behind statusTracker()."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() > after_id and j.submissionTime().isDefined():
            out.append(j.submissionTime().get().getTime() / 1e3)
    return out


def per_interval(instants: list[float], bounds: list[float]) -> list[int]:
    return [sum(1 for t in instants if a < t <= b)
            for a, b in zip(bounds, bounds[1:])]


def catalog_counts(catalog: SnapshotCatalog, bounds: list[float]) -> dict:
    """Exact commit and byte counts from the catalog's own metadata;
    commits are counted between consecutive wave `bounds`."""
    tables = [d for d in os.listdir(catalog.root) if catalog.table_exists(d)]
    commits = [s["ts"] for t in tables for s in catalog.snapshots(t)]
    data_bytes = total_bytes = 0
    for dirpath, _dirs, files in os.walk(catalog.root):
        for f in files:
            n = os.path.getsize(os.path.join(dirpath, f))
            total_bytes += n
            if f.endswith(".parquet"):
                data_bytes += n
    return {"catalog.commits_per_wave": per_interval(commits, bounds),
            "catalog.bytes_written": data_bytes,
            "warehouse_mb": total_bytes / 1e6}


def committed_rows(catalog: SnapshotCatalog, table: str,
                   columns: list[str]) -> list[dict]:
    """The table's current snapshot, read straight from its parquet
    files (no Spark job)."""
    sid = catalog.current_snapshot(table)
    dirs = next((s["dirs"] for s in catalog.snapshots(table)
                 if s["id"] == sid), [])
    files = [os.path.join(d, f) for d in dirs for f in sorted(os.listdir(d))
             if f.endswith(".parquet")]
    return [r for f in files
            for r in pq.read_table(f, columns=columns).to_pylist()]


def per_wave_rows(catalog: SnapshotCatalog) -> dict:
    """Rows in and out of each layer per wave, from the metrics table
    the crawl commits (candidates, admitted, deferred, deduped)."""
    cols = ("candidates", "admitted", "deferred", "deduped")
    by_wave: dict[int, list[int]] = {}
    for r in committed_rows(catalog, "metrics", ["wave", *cols]):
        acc = by_wave.setdefault(r["wave"], [0] * len(cols))
        for i, c in enumerate(cols):
            acc[i] += r[c]
    return {f"rows.{c}_per_wave": [by_wave[w][i] for w in sorted(by_wave)]
            for i, c in enumerate(cols)}


def _diff(name: str, got, want) -> list[str]:
    if got == want:
        return []
    gs, ws = set(got), set(want)
    return [f"{name}: {len(got)} rows vs {len(want)} expected; "
            f"extra {sorted(gs - ws)[:2]} missing {sorted(ws - gs)[:2]}"]


def check_crawl(admitted: list[tuple], seen: set[str],
                expected: oracle.OracleResult) -> list[str]:
    """Admitted (wave, host, rank, url, depth) rows, hence each wave's
    admitted set, and the final seen set must equal the oracle's."""
    errs = _diff("admitted", sorted(admitted), sorted(expected.admitted))
    errs += _diff("seen", sorted(seen), sorted(expected.seen))
    return errs


def span_digest(docs: dict[str, list]) -> str:
    """sha256 over (doc_id, [(kind, text, media_ref, offset)...]) in
    doc_id order — the span-sequence equality key."""
    h = hashlib.sha256()
    for doc_id in sorted(docs):
        h.update(doc_id.encode())
        for s in docs[doc_id]:
            h.update(repr((s["kind"], s["text"], s["media_ref"],
                           int(s["offset"]))).encode())
    return h.hexdigest()


def check_content(got: dict, want: dict) -> list[str]:
    return [f"{k}: {got.get(k)} vs {want[k]} expected"
            for k in sorted(want) if got.get(k) != want[k]]


class CrawlWorkload:
    """Shared driver of the two crawl workloads: a fresh catalog per
    unit, `run_crawl` timed from call to return, outputs checked after."""

    name = ""
    checks_units = True
    first_measured_wave = 1
    min_units = 1

    def __init__(self, spark: SparkSession, work: str, seed: int,
                 size: str):
        self.spark, self.work, self.seed = spark, work, seed
        self.size = SIZES[self.name][size]
        self.n_units = 0
        self.checkpoint = ""
        self.expected: oracle.OracleResult | None = None

    # set by subclasses in setup()
    cfg: CrawlConfig
    robots_txt: dict[str, str] | None = None
    bloom_threshold: int = 100_000

    def crawl_kwargs(self) -> dict:
        raise NotImplementedError

    def fetch(self, admitted: DataFrame, wave: int) -> DataFrame:
        raise NotImplementedError

    def _crawl(self, catalog: SnapshotCatalog, fetcher, sink, **kw):
        return crawl.run_crawl(self.spark, catalog, self.cfg, corpus=None,
                               fetcher=fetcher, content_sink=sink,
                               robots_txt=self.robots_txt,
                               bloom_threshold=self.bloom_threshold,
                               **self.crawl_kwargs(), **kw)

    def run(self, catalog_cls=SnapshotCatalog, wrap=None,
            around=contextlib.nullcontext) -> Unit:
        """One crawl session, unchecked: a copy of the warm-up's wave-0
        checkpoint, resumed and timed over every later wave. `wrap`
        decorates its fetcher and content sink and `around` encloses its
        `run_crawl` (tracing). The copy's wave-0 snapshots still name
        the checkpoint's data files, which nothing rewrites."""
        root = os.path.join(self.work, f"wh{self.n_units}")
        self.n_units += 1
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(self.checkpoint, root)

        catalog = catalog_cls(root)
        fetcher, sink = self.fetch, content.make_content_sink(self.cfg)
        if wrap is not None:
            fetcher, sink = wrap(fetcher, sink)
        jobs0 = last_job_id(self.spark)
        start = time.time()
        t0 = time.perf_counter()
        with around():
            run = self._crawl(catalog, fetcher, sink, resume=True)
        wall = time.perf_counter() - t0
        # a wave ends at its lineage commit
        bounds = [start] + [s["ts"] for s in catalog.snapshots("lineage")
                            if s["ts"] > start]
        counts = {
            "crawl.jobs": last_job_id(self.spark) - jobs0,
            "crawl.jobs_per_wave": per_interval(
                job_submit_times(self.spark, jobs0), bounds),
            "crawl.measured_waves": [m["wave"] for m in run.wave_metrics],
            "crawl.admitted_per_wave": [m["admitted"]
                                        for m in run.wave_metrics],
            "crawl.frontier_next_per_wave": [m["frontier_next"]
                                             for m in run.wave_metrics]}
        counts.update(catalog_counts(catalog, bounds))
        return Unit(wall_s=wall,
                    items=sum(m["admitted"] for m in run.wave_metrics),
                    steps_s=[b - a for a, b in zip(bounds, bounds[1:])],
                    counts=counts, catalog_root=root)

    def warm_up(self) -> None:
        """Wave 0 into the checkpoint catalog every unit starts from; it
        warms the session (Python workers, codegen, file caches)."""
        self.checkpoint = os.path.join(self.work, "wave0")
        self._crawl(SnapshotCatalog(self.checkpoint), self.fetch,
                    content.make_content_sink(self.cfg), stop_after_wave=0)

    def set_expected(self, result) -> None:
        self.expected = result

    def check_run(self) -> tuple[list[str], dict]:
        return [], {}

    def check(self, unit: Unit) -> list[str]:
        """Check the unit's committed outputs; per-wave row counts join
        its counts."""
        cat = SnapshotCatalog(unit.catalog_root)
        adm = [tuple(r.values()) for r in committed_rows(
            cat, "admitted", ["wave", "host", "rank", "url", "depth"])]
        seen = {r["url"] for r in committed_rows(cat, "seen", ["url"])}
        unit.counts.update(per_wave_rows(cat))
        return check_crawl(adm, seen, self.expected)


class CrawlSession(CrawlWorkload):
    """Seeds to an empty frontier over the raw-HTML graph: the roots'
    wave, then the K-times wider children's wave, which adds per-page
    HTML parsing, the content chain and the content merges to the fixed
    cost of a wave (about 65 Spark jobs). Two hosts carry robots rules
    (a crawl-delay that still admits a whole wave, a disallow of some
    children) and the children's wave runs the seen-filter pre-pass, so
    every crawl layer does work."""

    name = "crawl_session"

    def setup(self) -> None:
        h, k = self.size["hosts"], self.size["fanout"]
        path = os.path.join(self.work, "corpus.parquet")
        os.makedirs(self.work, exist_ok=True)
        self.pages = corpus.crawl_graph(self.seed, h, k)
        pq.write_table(self.pages, path)
        self.corpus = self.spark.read.parquet(path)
        hosts = corpus.graph_hosts(self.seed, h)
        self.robots_txt = corpus.graph_robots(hosts)
        # the seen filters take over once the roots are seen
        self.bloom_threshold = h
        self.cfg = CrawlConfig(
            seeds=tuple(f"https://{x}/r" for x in hosts),
            allowed_domains=tuple(hosts), robots_mode=True,
            max_depth=2,           # seeds are depth 1: one hop
            wave_seconds=k * 2.0,  # budget 1.2 k: no deferrals
            url_filters=(r"^https://h\d+\.s\d+\.bench\.example/.*$",))

    def crawl_kwargs(self) -> dict:
        return {}

    def fetch(self, admitted, wave):
        return fetch_from_corpus(admitted, self.corpus, wave,
                                 broadcast_corpus=False)

    def expected_job(self):
        return session_oracle, (self.pages, self.cfg, self.robots_txt)

    def set_expected(self, result) -> None:
        self.expected, self.expected_content = result

    def check(self, unit):
        errs = super().check(unit)
        cat = SnapshotCatalog(unit.catalog_root)
        docs = {r["doc_id"]: r["spans"] for r in
                committed_rows(cat, "documents", ["doc_id", "spans"])}
        got = {"documents": len(docs),
               "chunks": len(committed_rows(cat, "chunks", ["doc_id"])),
               "vectors": len(committed_rows(cat, "vectors",
                                             ["content_hash"])),
               "span_digest": span_digest(docs)}
        unit.counts.update({f"rows.{k}": v for k, v in got.items()
                            if k != "span_digest"})
        return errs + check_content(got, self.expected_content)


def session_oracle(pages_table, cfg: CrawlConfig,
                   robots_txt: dict[str, str]) -> tuple[oracle.OracleResult,
                                                        dict]:
    """The crawl oracle and the content counts and span digest for the
    raw-HTML graph, each page parsed by the engine's pure-Python parser."""
    pages = []
    for r in pages_table.to_pylist():
        p = parse_page(r["body_html"])
        p.update(url=r["url"], host=r["host"])
        pages.append(p)
    expected = oracle.simulate(pages, cfg, robots_txt)
    admitted = {u for (_w, _h, _r, u, _d) in expected.admitted}
    docs = oracle_content.expected_documents(pages, admitted, cfg)
    chunks = oracle_content.expected_chunks(docs, cfg)
    return expected, {
        "documents": len(docs), "chunks": len(chunks),
        "vectors": len({oracle_content.sha256_hex(c[2]) for c in chunks}),
        "span_digest": span_digest({d: v["spans"]
                                    for d, v in docs.items()})}


class FrontierDrain(CrawlWorkload):
    """A fixed number of waves over a skewed seeded frontier fetched
    against an empty corpus: the work is dedup, the seen anti-join (with
    the Bloom pre-pass once enough URLs are seen), robots, admission and
    the catalog rewrites; HTML and content see only null bodies."""

    name = "frontier_drain"

    def setup(self) -> None:
        s = self.size
        path = os.path.join(self.work, "frontier")
        cols = [f.name for f in schemas.FRONTIER.fields]
        corpus.frontier(self.spark, self.seed, s["urls"], s["hosts"]) \
            .select(*cols).write.mode("overwrite").parquet(path)
        self.frontier = self.spark.read.parquet(path)
        self.empty = self.spark.createDataFrame(
            [], "url string, body_html string")
        hosts = tuple(f"host{i}.bench.example" for i in range(s["hosts"]))
        self.robots_txt = corpus.frontier_robots()
        self.bloom_threshold = s["bloom_threshold"]
        self.cfg = CrawlConfig(
            seeds=(), allowed_domains=hosts, robots_mode=True,
            wave_seconds=s["budget"] * 5 / 3, max_waves=s["waves"])

    def crawl_kwargs(self) -> dict:
        return {"initial_frontier": self.frontier}

    def fetch(self, admitted, wave):
        return fetch_from_corpus(admitted, self.empty, wave)

    def expected_job(self):
        # the same URLs given to the oracle as seeds, with no pages
        urls = tuple(r.url for r in self.frontier.select("url").collect())
        cfg = CrawlConfig(**{**self.cfg.__dict__, "seeds": urls})
        return oracle.simulate, ([], cfg, self.robots_txt)


# --------------------------------------------------------------------------
# corpus_batch
# --------------------------------------------------------------------------

def norm_value(v) -> str:
    """Order-insensitive comparison key of one value: floats to 6 places,
    numpy scalars unwrapped, sequences recursed."""
    import math

    import numpy as np
    if v is None:
        return "None"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(round(f, 6))
    if isinstance(v, (bool, np.bool_)):
        return repr(bool(v))
    if isinstance(v, (int, np.integer)):
        return repr(int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    return repr(v)


def normalize_rows(pdf) -> list[str]:
    cols = sorted(pdf.columns)
    return sorted("|".join(norm_value(r[c]) for c in cols)
                  for _, r in pdf.iterrows())


def check_query(name: str, got: list[str], want: list[str]) -> list[str]:
    if got == want:
        return []
    return [f"query {name}: {len(got)} rows vs {len(want)} expected"
            + ("" if len(got) != len(want) else " (values differ)")]


class CorpusBatch:
    """The fixed query list over seeded documents: the content operators
    in one bulk read-only pass with no per-wave driver and no catalog."""

    name = "corpus_batch"
    first_measured_wave = 0
    checks_units = False  # noop sinks: checked once, on the warm-up pass
    # a run measures at least two passes; a third would add about 9 s to
    # every run
    min_units = 2

    def __init__(self, spark: SparkSession, work: str, seed: int,
                 size: str):
        self.spark, self.work, self.seed = spark, work, seed
        self.size = SIZES[self.name][size]
        self.dir = os.path.join(work, "sf")
        self.check_dir = os.path.join(work, "sf_check")
        self.got: dict[str, list[str]] = {}
        self.want: dict[str, list[str]] = {}

    def setup(self) -> None:
        docs = corpus.documents(self.seed, self.size["docs"])
        for d, t in ((self.dir, docs),
                     (self.check_dir, docs.slice(0, CHECK_DOCS))):
            os.makedirs(d, exist_ok=True)
            pq.write_table(t, os.path.join(d, "documents.parquet"))

    def run(self, span=None) -> Unit:
        from axora_spark.queries import QUERIES
        jobs0 = last_job_id(self.spark)
        steps = []
        for name in BATCH_QUERIES:
            t0 = time.perf_counter()
            if span is None:
                _noop(QUERIES[name](self.spark, self.dir))
            else:
                with span("queries", f"queries.{name}"):
                    _noop(QUERIES[name](self.spark, self.dir))
            steps.append(time.perf_counter() - t0)
        return Unit(wall_s=sum(steps),
                    items=self.size["docs"] * len(BATCH_QUERIES),
                    steps_s=steps,
                    counts={"queries.n": len(BATCH_QUERIES),
                            "queries.jobs": last_job_id(self.spark) - jobs0})

    def expected_job(self):
        return batch_oracle, (self.dir, self.check_dir,
                              os.path.join(self.work, "fixtures"))

    def set_expected(self, result) -> None:
        self.want = result

    def warm_up(self) -> None:
        """One untimed pass, which yields the outputs the check compares:
        every query once through pandas, the heavy-oracle queries over
        the check subset."""
        from axora_spark.queries import QUERIES
        self.got = {n: normalize_rows(
            QUERIES[n](self.spark, self._check_dir(n)).toPandas())
            for n in BATCH_QUERIES}

    def _check_dir(self, name: str) -> str:
        return self.check_dir if name in HEAVY_ORACLES else self.dir

    def check_run(self) -> tuple[list[str], dict]:
        errs = [e for n in BATCH_QUERIES
                for e in check_query(n, self.got[n], self.want[n])]
        return errs, {f"rows.{n}": len(self.got[n]) for n in BATCH_QUERIES}


def batch_oracle(sf_dir: str, check_dir: str,
                 fixtures: str) -> dict[str, list[str]]:
    """Each query's rows from its DuckDB oracle over the same parquet
    (the heavy oracles over the check subset). The three oracles that
    join a fixture table (operators DuckDB cannot express) read fixtures
    built here for these documents (`write_fixtures`)."""
    import duckdb

    from axora_spark import queries
    write_fixtures(sf_dir, fixtures)
    out = {}
    for d in (sf_dir, check_dir):
        con = duckdb.connect()
        try:
            con.sql("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{os.path.join(d, 'documents.parquet')}')")
            for n in BATCH_QUERIES:
                if (check_dir if n in HEAVY_ORACLES else sf_dir) == d:
                    sql = queries.ORACLES[n].replace(queries._FIXTURES,
                                                     fixtures)
                    out[n] = normalize_rows(con.sql(sql).df())
        finally:
            con.close()
    return out



def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def write_fixtures(sf_dir: str, out_dir: str) -> None:
    """meta_gate / chunks / wordpiece_counts fixture tables for the
    documents under `sf_dir`, built as `tools/make_fixtures.py` builds the
    shipped ones. Its wordpiece and chunk builders demand the real
    tokenizer, so those two tables are built here with the counter the
    queries resolve themselves (the estimate when tokenizer.json is
    absent)."""
    import pyarrow as pa

    from axora_spark.operators.chunking import (chunk_text_py,
                                                resolve_token_counter)
    from tools import make_fixtures as mf

    os.makedirs(out_dir, exist_ok=True)
    count = resolve_token_counter("wordpiece")
    texts = sorted(mf.distinct_texts([sf_dir]).items())
    chunks = [{"text_sha": s, "chunk_index": i, "chunk_sha": mf._sha(c),
               "token_count": tc}
              for s, t in texts
              for i, c in enumerate(x.strip() for x in chunk_text_py(t, "sen"))
              if c and 75 <= (tc := count(c)) <= 480]
    tables = (
        ("wordpiece_counts",
         [{"text_sha": s, "wp_tokens": count(t)} for s, t in texts],
         [("text_sha", pa.string()), ("wp_tokens", pa.int32())]),
        ("chunks", chunks,
         [("text_sha", pa.string()), ("chunk_index", pa.int32()),
          ("chunk_sha", pa.string()), ("token_count", pa.int32())]),
        ("meta_gate", mf.meta_gate_rows(mf.max_doc_id([sf_dir]) + 1),
         [("doc_id", pa.int64()), ("relevant", pa.bool_())]))
    for name, rows, schema in tables:
        pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(schema)),
                       os.path.join(out_dir, f"{name}.parquet"))


WORKLOADS = {w.name: w for w in (CrawlSession, FrontierDrain, CorpusBatch)}
