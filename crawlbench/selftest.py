"""The benchmark's own tests: the output checks reject a dropped admitted
URL, document or query row, and every workload runs end to end at a
tiny size.

    python -m pytest crawlbench/selftest.py -q

The file name keeps these runs out of the repository's default pytest
collection: the smoke runs start Spark six times.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from axora_spark import oracle
from crawlbench import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _oracle_result() -> oracle.OracleResult:
    adm = [(0, "a.example", 1, "https://a.example/", 1),
           (0, "b.example", 1, "https://b.example/", 1),
           (1, "a.example", 1, "https://a.example/x", 2)]
    return oracle.OracleResult(admitted=adm, seen={r[3] for r in adm})


def test_crawl_check_accepts_equal_outputs():
    want = _oracle_result()
    assert workloads.check_crawl(list(want.admitted), set(want.seen),
                                 want) == []


def test_crawl_check_rejects_one_dropped_admitted_url():
    want = _oracle_result()
    got = list(want.admitted[:-1])
    errs = workloads.check_crawl(got, {r[3] for r in got}, want)
    assert errs and any("admitted" in e for e in errs)
    assert any("seen" in e for e in errs)


def test_crawl_check_rejects_a_url_moved_to_another_wave():
    want = _oracle_result()
    w, h, r, u, d = want.admitted[-1]
    got = list(want.admitted[:-1]) + [(w + 1, h, r, u, d)]
    assert workloads.check_crawl(got, set(want.seen), want)


def _docs() -> dict[str, list[dict]]:
    span = {"kind": "text", "text": "t", "media_ref": "", "offset": 0}
    return {f"d{i}": [dict(span, text=f"t{i}")] for i in range(3)}


def test_content_check_rejects_one_dropped_document():
    docs = _docs()
    want = {"documents": 3, "chunks": 5, "vectors": 5,
            "span_digest": workloads.span_digest(docs)}
    assert workloads.check_content(dict(want), want) == []
    del docs["d1"]
    got = dict(want, documents=2, span_digest=workloads.span_digest(docs))
    errs = workloads.check_content(got, want)
    assert any(e.startswith("documents") for e in errs)
    assert any(e.startswith("span_digest") for e in errs)


def test_span_digest_sees_span_order():
    docs = _docs()
    docs["d0"] = [dict(docs["d0"][0], offset=1), docs["d0"][0]]
    swapped = dict(docs, d0=list(reversed(docs["d0"])))
    assert workloads.span_digest(docs) != workloads.span_digest(swapped)


def test_query_check_rejects_one_dropped_row():
    import pandas as pd
    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "score": [0.5, 1.25, 2.0]})
    want = workloads.normalize_rows(pdf)
    assert workloads.check_query("q", want, want) == []
    got = workloads.normalize_rows(pdf.iloc[:-1])
    assert workloads.check_query("q", got, want)


def test_query_check_rejects_a_changed_value():
    import pandas as pd
    pdf = pd.DataFrame({"doc_id": [1, 2], "score": [0.5, 1.25]})
    want = workloads.normalize_rows(pdf)
    got = workloads.normalize_rows(pdf.assign(score=[0.5, 1.5]))
    assert workloads.check_query("q", got, want)


def test_inputs_depend_only_on_the_seed():
    from crawlbench import corpus
    a, b = corpus.documents(7, 50), corpus.documents(7, 50)
    assert a.equals(b)
    assert not a.equals(corpus.documents(8, 50))
    assert a.num_rows == corpus.documents(8, 50).num_rows


@pytest.mark.parametrize("workload", ["crawl_session", "frontier_drain",
                                      "corpus_batch"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    """A tiny run checks its outputs and prints every metric."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "crawlbench", "run.py"),
         "--workload", workload, "--seed", "5", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in
             bench["per_layer" if trace else "end_to_end"]]
    assert sorted(result["metrics"]) == sorted(names)


def test_run_without_the_engine_fails_without_a_result(tmp_path):
    """A checkout holding only the benchmark exits non-zero, printing no
    result line."""
    import shutil
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "crawlbench"), tmp_path / "crawlbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "crawlbench/run.py", "--workload", "corpus_batch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
