"""Crawl-engine benchmark: one workload per run, one JSON result line.

    python3 crawlbench/run.py --workload crawl_session --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The engine runs on local[nproc] in this
process, driven only through its public Python API. A run sets up
(session start, seeded inputs, warm-up), repeats the workload's unit for
`--seconds` (at least its `min_units` times), checks the outputs, and
prints two JSON lines on stdout: diagnostics (host controls, exact
counts, environment), then the result
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer ones. The exit
code is 0 only when every output check passed.

Everything the run writes stays under `.crawlbench/` in the repository
root; spans of traced runs are kept in `.crawlbench/out/`.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl_session", "frontier_drain", "corpus_batch")
SETUP_REPS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: smoke-test inputs")
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def environment(spark) -> dict:
    import pyarrow
    import pyspark
    return {"nproc": nproc(), "master": spark.sparkContext.master,
            "spark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty(
                "java.version"),
            "python": sys.version.split()[0], "pyarrow": pyarrow.__version__}


def measure(args, work: str, out_dir: str) -> tuple[dict, dict, bool]:
    """Set up, run units for the window, check; returns (metrics,
    diagnostics, correct). The session is stopped before returning."""
    from axora_spark.session import get_spark
    from crawlbench import hostprobe, trace, workloads

    diag = {"host.cpu_control_s": hostprobe.cpu_control_s(),
            "host.mem_scan_s": hostprobe.mem_scan_s()}
    traced = bool(args.trace)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with hostprobe.PeakRss() as rss:
        t0 = time.perf_counter()
        spark = get_spark("crawlbench", cores=nproc(),
                          extra_conf=session_conf(work, traced))
        session_s = time.perf_counter() - t0
        try:
            diag["env"] = environment(spark)
            wl = workloads.WORKLOADS[args.workload](
                spark, os.path.join(work, "run"), args.seed, args.size)
            gen = []
            for _ in range(SETUP_REPS):
                t0 = time.perf_counter()
                wl.setup()
                gen.append(time.perf_counter() - t0)
            # the expected outputs are computed while the engine warms up
            src, dst = (os.path.join(work, f"expect.{x}") for x in "io")
            with open(src, "wb") as f:
                pickle.dump(wl.expected_job(), f)
            with subprocess.Popen([sys.executable, "-m", "crawlbench.expect",
                                   src, dst], cwd=ROOT) as oracle:
                t0 = time.perf_counter()
                wl.warm_up()
                warm_s = time.perf_counter() - t0
            if oracle.returncode != 0:
                raise RuntimeError("computing the expected outputs failed")
            with open(dst, "rb") as f:
                wl.set_expected(pickle.load(f))

            plain, spanned, errors = [], [], []
            tracer = None
            t_end = time.perf_counter() + args.seconds
            while (len(plain) < wl.min_units or (traced and not spanned)
                   or time.perf_counter() < t_end):
                # untraced and traced units alternate, untraced first
                if traced and len(spanned) < len(plain):
                    tracer = trace.Tracer(spark, wave=wl.first_measured_wave)
                    unit = run_traced(wl, tracer)
                    spanned.append(unit)
                else:
                    steal0 = hostprobe.steal_s()
                    unit = wl.run()
                    unit.steal_s = hostprobe.steal_s() - steal0
                    plain.append(unit)
                if wl.checks_units:
                    unit.errors = wl.check(unit)
                errors += unit.errors
            errs, rows = wl.check_run()
            errors += errs
            plain[-1].counts.update(rows)

            units = plain + spanned
            setup_s = session_s + median(gen) + warm_s
            diag.update({"setup.session_s": session_s,
                         "setup.inputs_s": gen, "setup.warmup_s": warm_s})
            failed = sum(1 for u in units if u.errors) + \
                (1 if errors and not any(u.errors for u in units) else 0)
            diag.update({
                "attempted": len(units), "failed": failed,
                "error_rate": failed / len(units),
                "errors": errors[:10],
                "units.wall_s": [u.wall_s for u in plain],
                "units.steal_s": [u.steal_s for u in plain],
                # median wave (crawls) or query (batch) wall time: too
                # noisy from run to run on corpus_batch to be gated
                "units.step_p50_s": median([median(u.steps_s)
                                            for u in plain]),
                "counts": plain[-1].counts,
            })
            metrics = {
                "setup_s": (setup_s, "s"),
                "throughput_per_s": (median([u.items / u.wall_s
                                             for u in plain]), "1/s"),
            }
            if traced:
                metrics = layer_metrics(spark, wl, work, tracer, plain,
                                        spanned, session_s)
                tracer.dump(os.path.join(
                    out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        finally:
            hostprobe.stop_spark(spark)
    if traced:
        by_label = trace.read_event_log(os.path.join(work, "eventlog"))
        metrics.update(exec_metrics(by_label))
    diag["peak_rss_mb"] = rss.peak_mb
    return metrics, diag, not errors


def run_traced(wl, tracer):
    """One unit with every layer boundary wrapped (part a)."""
    from crawlbench import trace
    if wl.name == "corpus_batch":
        with tracer.span("queries", "queries.batch"):
            return wl.run(span=tracer.span)
    cats = []

    def traced_catalog(root):
        cats.append(trace.TracedCatalog(root, tracer))
        return cats[-1]

    unit = wl.run(traced_catalog, wrap=trace.wrap_io(tracer),
                  around=lambda: trace.traced_region(tracer))
    dirs = cats[0].read_dirs
    unit.counts["catalog.dirs_per_read"] = sum(dirs) / max(1, len(dirs))
    return unit


# every per-layer metric with its unit (BENCHMARK.json per_layer)
EXEC_LAYERS = ("crawl", "catalog", "frontier", "robots", "politeness",
               "fetch", "html", "extract", "content", "queries")


def layer_metrics(spark, wl, work, tracer, plain, spanned, session_s):
    from crawlbench import trace, workloads
    m = {name: (0.0, unit) for name, unit in PER_LAYER}
    m["session.start_s"] = (session_s, "s")
    m["bench.trace_overhead_s"] = (
        median([u.wall_s for u in spanned]) -
        median([u.wall_s for u in plain]), "s")
    last = spanned[-1]
    if wl.name == "corpus_batch":
        for q, t in zip(workloads.BATCH_QUERIES,
                        map(median, zip(*[u.steps_s for u in spanned]))):
            m[f"queries.{q}_s"] = (t, "s")
        return m

    waves = trace.wave_summary(tracer)
    c = last.counts
    m.update({
        "crawl.wave_s": (median([w["wall_s"] for w in waves]), "s"),
        "crawl.jobs_per_wave": (median(c["crawl.jobs_per_wave"]),
                                "count"),
        "catalog.commits_per_wave": (median(c["catalog.commits_per_wave"]),
                                     "count"),
        "catalog.bytes_written": (c["catalog.bytes_written"], "bytes"),
        "catalog.warehouse_mb": (c["warehouse_mb"], "MB"),
        "catalog.dirs_per_read": (c["catalog.dirs_per_read"], "count"),
    })
    # replay the widest measured wave (most URLs admitted, first on ties)
    adm = c["crawl.admitted_per_wave"]
    w = c["crawl.measured_waves"][adm.index(max(adm))]
    self_s, counts = trace.replay_wave(spark, work, wl, last.catalog_root,
                                       w)
    wave = next(x for x in waves if x["wave"] == w)
    m["crawl.driver_gap_s"] = (wave["driver_gap_s"], "s")
    m["crawl.replay_accounted_ratio"] = (
        (sum(self_s.values()) + wave["driver_gap_s"]) / wave["wall_s"],
        "ratio")
    for k, v in {**self_s, **counts}.items():
        m[k] = (v, dict(PER_LAYER)[k])
    return m


def exec_metrics(by_label: dict) -> dict:
    from crawlbench import trace
    out = {}
    for layer in EXEC_LAYERS:
        labels = [layer] if layer in ("crawl", "queries") \
            else [f"replay:{layer}"]
        vals = trace.layer_exec_metrics(by_label, layer, labels)
        for k in ("executor_s", "shuffle_mb", "spill_mb", "gc_s"):
            name = f"{layer}.{k}"
            out[name] = (vals[name], dict(PER_LAYER)[name])
        if layer == "politeness":
            out["politeness.task_skew"] = (vals["politeness.task_skew"],
                                           "ratio")
    return out


PER_LAYER = [
    ("session.start_s", "s"),
    ("bench.trace_overhead_s", "s"),
    ("crawl.wave_s", "s"), ("crawl.jobs_per_wave", "count"),
    ("crawl.driver_gap_s", "s"), ("crawl.replay_accounted_ratio", "ratio"),
    ("catalog.append_s", "s"), ("catalog.overwrite_s", "s"),
    ("catalog.merge_s", "s"), ("catalog.read_s", "s"),
    ("catalog.commits_per_wave", "count"), ("catalog.bytes_written", "bytes"),
    ("catalog.dirs_per_read", "count"), ("catalog.warehouse_mb", "MB"),
    ("frontier.antijoin_s", "s"), ("frontier.seen_filter_build_s", "s"),
    ("frontier.rows_in", "count"), ("frontier.candidates_out", "count"),
    ("robots.filter_s", "s"), ("robots.dropped", "count"),
    ("politeness.admit_s", "s"), ("politeness.admit_ratio", "ratio"),
    ("politeness.task_skew", "ratio"),
    ("fetch.s", "s"), ("fetch.ok_ratio", "ratio"),
    ("html.parse_s", "s"), ("html.mb_in", "MB"),
    ("extract.links_s", "s"), ("extract.links_out", "count"),
    ("extract.new_url_ratio", "ratio"),
    ("content.documents_s", "s"), ("content.chunks_s", "s"),
    ("content.vectors_s", "s"), ("content.doc_yield", "ratio"),
    ("content.chunk_yield", "ratio"),
    *[(f"queries.{q}_s", "s") for q in (
        "html_main_md", "meta_gate", "interleaved_spans", "quality_scores",
        "chunk_pipeline", "wordpiece_tokens", "minhash_near_dup",
        "dedup_clusters", "pipeline_funnel")],
    *[(f"{layer}.{k}", u) for layer in EXEC_LAYERS
      for k, u in (("executor_s", "s"), ("shuffle_mb", "MB"),
                   ("spill_mb", "MB"), ("gc_s", "s"))],
]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "axora_spark", "__init__.py")):
        print(f"crawlbench: no axora_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".crawlbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    # keep every file the engine and Spark write inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["AXORA_WAREHOUSE"] = os.path.join(work, "warehouse")
    try:
        metrics, diag, correct = measure(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"diagnostics": diag}, default=str))
    print(json.dumps({
        "correct": correct, "attempted": diag["attempted"],
        "failed": diag["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
