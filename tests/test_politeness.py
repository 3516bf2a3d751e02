"""W1 — two-phase salted admission must equal the naive global window."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from axora_spark.operators import politeness


def _frontier(spark, n=500, hosts=("hot", "a", "b"), hot_weight=8, seed=1):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        host = rng.choices(hosts, weights=[hot_weight] + [1] * (len(hosts) - 1))[0]
        url = f"https://{host}.x/p/{i}"
        rows.append((url, rng.getrandbits(62) - 2**61, host, 1,
                     float(rng.randint(0, 3)), 0, "pending"))
    return spark.createDataFrame(
        rows, "url string, url_hash long, host string, depth int, "
              "priority double, discovered_wave int, status string")


OVERRIDES = {"hot": 3, "a": 12}   # "b" keeps the default budget


@pytest.mark.parametrize("overrides", ["none", "dict", "frame"])
def test_matches_naive_window(spark, overrides):
    # per-host budgets as a dict or as the equivalent (host, _budget)
    # frame must admit and defer exactly the rows the naive global
    # window does under the same budgets
    df = _frontier(spark).cache()
    budget = 10
    per_host = {} if overrides == "none" else OVERRIDES
    arg = {"none": None, "dict": OVERRIDES,
           "frame": spark.createDataFrame(list(OVERRIDES.items()),
                                          "host string, _budget int")
           }[overrides]
    admitted, deferred = politeness.admit(df, budget, salt=4,
                                          budget_overrides=arg)
    assert sorted(admitted.columns) == sorted(df.columns + ["rank"])
    assert sorted(deferred.columns) == sorted(df.columns)

    w = Window.partitionBy("host").orderBy(F.col("priority").desc(),
                                           F.col("url").asc())
    naive = df.withColumn("rank", F.row_number().over(w)).collect()
    got = {(r.host, r.rank, r.url) for r in admitted.collect()}
    want = {(r.host, r.rank, r.url) for r in naive
            if r.rank <= per_host.get(r.host, budget)}
    assert got == want

    # deferred = complement, row for row: no overlap, nothing lost
    adm_urls = {u for _, _, u in got}
    got_def = sorted(tuple(r) for r in
                     deferred.select(*df.columns).collect())
    want_def = sorted(tuple(r) for r in df.collect()
                      if r.url not in adm_urls)
    assert got_def == want_def


def test_budget_respected_per_host(spark):
    df = _frontier(spark, n=300)
    admitted, _ = politeness.admit(df, 5, salt=8)
    per_host = admitted.groupBy("host").count().collect()
    assert all(r["count"] <= 5 for r in per_host)
    # ranks are 1..k contiguous per host
    ranks = admitted.groupBy("host").agg(
        F.min("rank").alias("lo"), F.max("rank").alias("hi"),
        F.count("*").alias("n")).collect()
    for r in ranks:
        assert r.lo == 1 and r.hi == r.n
