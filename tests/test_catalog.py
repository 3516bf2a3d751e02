from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMA = T.StructType([
    T.StructField("k", T.LongType(), False),
    T.StructField("v", T.StringType(), True),
])


def test_append_and_time_travel(spark, catalog):
    catalog.create_table("t", SCHEMA)
    s1 = catalog.append(spark, "t", spark.createDataFrame([(1, "a")], SCHEMA))
    s2 = catalog.append(spark, "t", spark.createDataFrame([(2, "b")], SCHEMA))
    assert catalog.current_snapshot("t") == s2
    assert catalog.read(spark, "t").count() == 2
    assert catalog.read(spark, "t", snapshot_id=s1).count() == 1
    catalog.rollback("t", s1)
    assert catalog.read(spark, "t").count() == 1


def test_overwrite(spark, catalog):
    catalog.create_table("t", SCHEMA)
    catalog.append(spark, "t", spark.createDataFrame([(1, "a")], SCHEMA))
    catalog.overwrite(spark, "t", spark.createDataFrame([(9, "z")], SCHEMA))
    rows = catalog.read(spark, "t").collect()
    assert [(r.k, r.v) for r in rows] == [(9, "z")]


def test_empty_read_has_schema(spark, catalog):
    catalog.create_table("t", SCHEMA)
    df = catalog.read(spark, "t")
    assert df.count() == 0
    assert df.schema == SCHEMA


def test_merge_insert_if_absent(spark, catalog):
    """Get-before-upsert idempotency (reference qdrantdb/crawl_vector.go:47-56)."""
    catalog.create_table("t", SCHEMA)
    catalog.append(spark, "t", spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA))
    catalog.merge_insert_if_absent(
        spark, "t",
        spark.createDataFrame([(2, "DUP"), (3, "c"), (3, "cc")], SCHEMA), "k")
    rows = {r.k for r in catalog.read(spark, "t").collect()}
    assert rows == {1, 2, 3}
    assert catalog.read(spark, "t").count() == 3
    # existing row untouched
    vals = {r.k: r.v for r in catalog.read(spark, "t").collect()}
    assert vals[2] == "b"


def test_merge_duplicate_keys_collapse_deterministically(spark, catalog):
    """Same-batch duplicate keys pick the struct-min of the orderable
    non-key columns, reproducibly across replays (ADVICE r1 #5 — the old
    dropDuplicates kept an arbitrary row)."""
    catalog.create_table("t", SCHEMA)
    batch = [(7, "zeta"), (7, "alpha"), (7, "midd")]
    for attempt in range(3):
        cat2 = type(catalog)(catalog.root + f"_rep{attempt}")
        cat2.create_table("t", SCHEMA)
        import random
        rng = random.Random(attempt)
        shuffled = batch[:]
        rng.shuffle(shuffled)
        cat2.merge_insert_if_absent(
            spark, "t", spark.createDataFrame(shuffled, SCHEMA), "k")
        vals = {r.k: r.v for r in cat2.read(spark, "t").collect()}
        assert vals == {7: "alpha"}, attempt
        cat2.drop("t")


def test_merge_with_unorderable_metadata_struct(spark, catalog):
    """documents carry a map-bearing metadata struct (unorderable);
    merge must still work, collapsing on the orderable columns."""
    from axora_spark import schemas
    catalog.create_table("docs", schemas.DOCUMENTS)
    span = {"kind": "text", "text": "x", "media_ref": "", "offset": 0}
    meta = {"title": "T", "raw_metadata": {"a": "1"}}
    rows = [("d1", "https://h/1", [span], meta),
            ("d1", "https://h/0", [span], meta)]
    catalog.merge_insert_if_absent(
        spark, "docs", spark.createDataFrame(rows, schemas.DOCUMENTS),
        key="doc_id")
    got = catalog.read(spark, "docs").collect()
    assert len(got) == 1
    assert got[0].url == "https://h/0"  # min over orderable url
    assert got[0].metadata.title == "T"


def test_compact_preserves_state_and_history(spark, catalog):
    catalog.create_table("t", T.StructType(
        [T.StructField("k", T.LongType()),
         T.StructField("v", T.StringType())]))
    for i in range(4):
        catalog.append(spark, "t", spark.createDataFrame(
            [(i, f"v{i}")], "k long, v string"))
    pre = sorted((r.k, r.v) for r in catalog.read(spark, "t").collect())
    pre_sid = catalog.current_snapshot("t")
    sid = catalog.compact(spark, "t")
    meta_dirs = [s for s in catalog.snapshots("t") if s["id"] == sid][0]
    assert len(meta_dirs["dirs"]) == 1  # the whole point
    assert sorted((r.k, r.v)
                  for r in catalog.read(spark, "t").collect()) == pre
    # history still time-travels (compaction deletes nothing)
    old = catalog.read(spark, "t", snapshot_id=pre_sid)
    assert sorted((r.k, r.v) for r in old.collect()) == pre


def test_expire_snapshots_bounds_disk(spark, catalog):
    import os
    catalog.create_table("t", T.StructType(
        [T.StructField("k", T.LongType())]))
    for i in range(5):
        catalog.append(spark, "t", spark.createDataFrame(
            [(i,)], "k long"))
    catalog.compact(spark, "t")
    removed = catalog.expire_snapshots("t", keep_last=1)
    assert removed == 5  # the five pre-compaction append dirs
    assert len(catalog.snapshots("t")) == 1
    got = sorted(r.k for r in catalog.read(spark, "t").collect())
    assert got == [0, 1, 2, 3, 4]
    # expired data dirs are gone from disk
    data_root = os.path.join(catalog.root, "t", "data")
    assert len(os.listdir(data_root)) == 1


def _data_dirs(catalog, name):
    return sorted(os.listdir(os.path.join(catalog.root, name, "data")))


def _check_counts(catalog, name, sid, want_rows):
    """The snapshot's n_rows / n_partitions equal the rows and part files
    its new data dir really holds."""
    import pyarrow.parquet as pq
    snap = catalog.snapshot(name, sid)
    new_dir = snap["dirs"][-1]
    parts = [f for f in os.listdir(new_dir) if f.startswith("part-")]
    assert snap["n_rows"] == want_rows
    assert sum(pq.read_metadata(os.path.join(new_dir, f)).num_rows
               for f in parts) == want_rows
    assert snap["n_partitions"] == len(parts)


def test_snapshot_n_rows_counts_committed_rows(spark, catalog):
    catalog.create_table("t", SCHEMA)
    rows = [(i, f"v{i}") for i in range(7)]
    sid = catalog.append(spark, "t",
                         spark.createDataFrame(rows, SCHEMA).repartition(3))
    _check_counts(catalog, "t", sid, 7)
    sid = catalog.overwrite(spark, "t",
                            spark.createDataFrame(rows[:5], SCHEMA))
    _check_counts(catalog, "t", sid, 5)
    # merge: key 1 exists, key 9 arrives twice in the batch -> 2 new rows
    sid = catalog.merge_insert_if_absent(
        spark, "t", spark.createDataFrame(
            [(1, "dup"), (9, "x"), (9, "y"), (10, "z")], SCHEMA), "k")
    _check_counts(catalog, "t", sid, 2)
    sid = catalog.compact(spark, "t", n_files=1)
    _check_counts(catalog, "t", sid, 7)
    assert catalog.snapshot("t", sid)["n_partitions"] == 1
    # latest-wins upsert rewrites the table: 7 keys + 1 new
    sid = catalog.merge_upsert_latest(
        spark, "t", spark.createDataFrame(
            [(0, "zz"), (0, "zzz"), (11, "n")], SCHEMA), "k", "v")
    _check_counts(catalog, "t", sid, 8)
    assert catalog.read(spark, "t").count() == 8


_EMPTY_INPUTS = {
    "createDataFrame": lambda spark, df: spark.createDataFrame([], SCHEMA),
    "filter_lit_false": lambda spark, df: df.filter(F.lit(False)),
    "filter_no_match": lambda spark, df: df.filter(F.col("k") > 100),
    "limit_0": lambda spark, df: df.limit(0),
    "anti_join_all": lambda spark, df: df.join(df.select("k"), "k",
                                               "left_anti"),
}


@pytest.mark.parametrize("kind", sorted(_EMPTY_INPUTS))
def test_empty_write_records_zero(spark, catalog, kind):
    """An input with no rows still finishes its observed count: the
    commit records 0 (a write whose plan never reports the metric would
    block in `Observation.get`)."""
    catalog.create_table("t", SCHEMA)
    src = spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA)
    empty = _EMPTY_INPUTS[kind](spark, src)
    out = {}
    worker = threading.Thread(
        target=lambda: out.update(
            sid=catalog.append(spark, "t", empty)), daemon=True)
    worker.start()
    worker.join(120)
    assert not worker.is_alive(), f"{kind}: append did not finish"
    assert catalog.snapshot("t", out["sid"])["n_rows"] == 0
    assert catalog.read(spark, "t").count() == 0


def test_merge_of_existing_keys_commits_nothing(spark, catalog):
    catalog.create_table("t", SCHEMA)
    sid = catalog.append(spark, "t", spark.createDataFrame(
        [(1, "a"), (2, "b")], SCHEMA))
    dirs = _data_dirs(catalog, "t")
    got = catalog.merge_insert_if_absent(
        spark, "t", spark.createDataFrame([(2, "x"), (1, "y")], SCHEMA), "k")
    assert got == sid
    assert [s["id"] for s in catalog.snapshots("t")] == [sid]
    assert _data_dirs(catalog, "t") == dirs


def test_append_of_cached_frame_is_one_job(spark, catalog, count_jobs):
    """The write's own job counts the rows: no read-back of the new
    files (schema inference + count)."""
    catalog.create_table("t", SCHEMA)
    df = spark.createDataFrame([(i, "v") for i in range(50)],
                               SCHEMA).persist()
    try:
        df.count()
        sid, jobs = count_jobs(lambda: catalog.append(spark, "t", df))
    finally:
        df.unpersist()
    assert jobs == 1
    assert catalog.snapshot("t", sid)["n_rows"] == 50
