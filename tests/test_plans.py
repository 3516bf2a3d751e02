"""Physical-plan audits (the 100-TB discipline): filters push to the scan,
columns prune, small dims broadcast, and the hot frontier path contains no
Python evaluation. These are shape assertions on `.explain("formatted")`.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_str(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode))


def test_filter_pushdown_to_parquet(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = (li.filter(F.col("l_shipdate") <= "1998-09-02")
           .select("l_orderkey", "l_quantity"))
    p = plan_str(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p


def test_column_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.select("l_orderkey", "l_quantity")
    p = plan_str(q)
    # ReadSchema carries only the projected columns
    rs = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert rs and "l_extendedprice" not in rs[0] and "l_orderkey" in rs[0]


def test_broadcast_join_selected(spark):
    from axora_spark.queries import q_broadcast_join_agg
    p = plan_str(q_broadcast_join_agg(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_frontier_filters_are_jvm_only(spark):
    """F1∧F2∧F3 must stay in whole-stage codegen: no Arrow/Python eval."""
    from axora_spark.config import CrawlConfig
    from axora_spark.operators.filters import apply_frontier_filters
    from axora_spark import datagen
    cfg = CrawlConfig(seeds=(), allowed_domains=("host1.bench.example",))
    fr = datagen.big_frontier(spark, 1000)
    p = plan_str(apply_frontier_filters(fr, cfg))
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "codegen id" in p  # whole-stage codegen spans the filter


def test_politeness_admit_no_python(spark):
    from axora_spark import datagen
    from axora_spark.operators import politeness
    fr = datagen.big_frontier(spark, 1000)
    admitted, deferred = politeness.admit(fr, 10, salt=4)
    for df in (admitted, deferred):
        p = plan_str(df)
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_quality_gate_is_native(spark):
    from axora_spark.functions.quality import quality_gate
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_str(docs.filter(quality_gate(F.col("text"))))
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_anti_join_plain_is_single_join(spark):
    from axora_spark import datagen
    from axora_spark.operators.frontier import anti_join_seen
    fr = datagen.big_frontier(spark, 1000)
    seen = datagen.big_frontier(spark, 500).select("url_hash")
    p = plan_str(anti_join_seen(fr, seen))
    assert "LeftAnti" in p
    assert "ArrowEvalPython" not in p


def test_plans_md_fresh_at_head():
    # VERDICT r4 #3: the r4 plan-audit artifact was stale at HEAD and
    # actively misled the contamination review. Gate BOTH properties:
    # section set == registered query set, and the generation-time
    # source hash == queries.py at HEAD (any query change without a
    # tools/dump_plans.py rerun fails here).
    import re

    from axora_spark.queries import QUERIES
    text = open("/root/repo/PLANS.md").read()
    # heading scan must skip ``` fences: plan literals can embed the
    # fixture corpus's own markdown text ("## Setup" etc.)
    sections, fenced = set(), False
    for ln in text.splitlines():
        if ln.startswith("```"):
            fenced = not fenced
        elif not fenced:
            m = re.fullmatch(r"## (\w+)", ln)
            if m:
                sections.add(m.group(1))
    assert sections == set(QUERIES), sorted(sections ^ set(QUERIES))
    import sys
    sys.path.insert(0, "/root/repo/tools")
    import dump_plans
    want = dump_plans.plans_source_hash()  # covers every plan-shaping
    # module, not just queries.py (code-review r5)
    m = re.search(r"Source-hash: ([0-9a-f]{16})", text)
    assert m and m.group(1) == want, \
        "PLANS.md stale — rerun tools/dump_plans.py"


def test_driver_table_schema_inferred_once(spark, count_jobs, tmp_path):
    """queries._t infers a table's schema on the first read of the file
    and reuses it after (no Spark job); a table rewritten at the same
    path is inferred again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from axora_spark.queries import _t
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2], "v": ["a", "b"]}), path)
    _, first = count_jobs(lambda: _t(spark, str(tmp_path), "t"))
    assert first >= 1                      # the inference job
    df, again = count_jobs(lambda: _t(spark, str(tmp_path), "t"))
    assert again == 0
    assert sorted(df.columns) == ["k", "v"]

    pq.write_table(pa.table({"k": [3], "w": [1.5], "x": [True]}), path)
    df, rewritten = count_jobs(lambda: _t(spark, str(tmp_path), "t"))
    assert rewritten >= 1
    assert [tuple(r) for r in df.collect()] == [(3, 1.5, True)]
