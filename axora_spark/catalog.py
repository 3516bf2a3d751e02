"""Snapshot-versioned parquet table store with Iceberg-like semantics.

The design targets real Iceberg (SURVEY.md §1.1 D1/D2, §4.3): bucket-
partitioned frontier/seen tables, snapshot ids for lineage + resume,
append/overwrite/merge-into. The sandbox image has no Iceberg jars, so this
module implements the same contract over parquet with JSON manifests:

  warehouse/<table>/
    data/s<id>/part-*.parquet   one directory per snapshot's NEW files
    _meta.json                  {"current", "snapshots": [...], "schema"}

- append    = write only the new rows; child manifest = parent ∪ new dir
  (O(new data), like an Iceberg fast-append).
- overwrite = new manifest with only the new dir.
- merge_insert_if_absent = anti-join new vs current on key, then append
  (replicates the reference sink's get-before-upsert idempotency,
  pkg/qdrantdb/crawl_vector.go:47-56, as `MERGE ... WHEN NOT MATCHED`).
- read(snapshot_id=...) = time travel; the lineage table records the
  snapshot id per wave so a restart resumes from the last complete wave.

Each snapshot records `n_rows` and `n_partitions` for its new data dir.
`n_rows` is counted by the write itself (an observed metric on the
written plan, `_write_data`), never by reading the files back;
`n_partitions` is the number of part files the write left.

If a real Iceberg catalog is on the classpath, the same call sites can be
swapped to `spark.table`/`MERGE INTO` — the contract is identical.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class SnapshotCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ---------- metadata ----------
    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _meta_path(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "_meta.json")

    def _load_meta(self, name: str) -> dict:
        p = self._meta_path(name)
        if not os.path.exists(p):
            return {"current": None, "snapshots": [], "schema": None}
        with open(p) as f:
            return json.load(f)

    def _store_meta(self, name: str, meta: dict) -> None:
        d = self._table_dir(name)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f"_meta.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_path(name))  # atomic commit

    def table_exists(self, name: str) -> bool:
        return os.path.exists(self._meta_path(name))

    def create_table(self, name: str, schema: T.StructType) -> None:
        """CREATE TABLE IF NOT EXISTS (reference S5 analog)."""
        if not self.table_exists(name):
            self._store_meta(name, {"current": None, "snapshots": [],
                                    "schema": schema.json()})

    def schema_of(self, name: str) -> T.StructType:
        meta = self._load_meta(name)
        if meta["schema"] is None:
            raise ValueError(f"table {name} has no schema yet")
        return T.StructType.fromJson(json.loads(meta["schema"]))

    def current_snapshot(self, name: str) -> int | None:
        return self._load_meta(name)["current"]

    def snapshots(self, name: str) -> list[dict]:
        return self._load_meta(name)["snapshots"]

    # ---------- reads ----------
    def snapshot(self, name: str, snapshot_id: int) -> dict:
        """One snapshot's metadata (id, parent, op, dirs, n_rows,
        n_partitions, ts)."""
        return self._find(self._load_meta(name), snapshot_id)

    @staticmethod
    def _find(meta: dict, snapshot_id: int) -> dict:
        for s in meta["snapshots"]:
            if s["id"] == snapshot_id:
                return s
        raise ValueError(f"unknown snapshot {snapshot_id}")

    def _dirs_for(self, meta: dict, snapshot_id: int | None) -> list[str]:
        sid = meta["current"] if snapshot_id is None else snapshot_id
        if sid is None:
            return []
        return self._find(meta, sid)["dirs"]

    def read(self, spark: SparkSession, name: str,
             snapshot_id: int | None = None) -> DataFrame:
        """Current table state, or time travel to `snapshot_id`."""
        meta = self._load_meta(name)
        dirs = self._dirs_for(meta, snapshot_id)
        if not dirs:
            if meta["schema"] is None:
                raise ValueError(f"table {name} is empty and schema-less")
            return spark.createDataFrame([], self.schema_of(name))
        return spark.read.schema(self.schema_of(name)).parquet(*dirs)

    # ---------- writes ----------
    def _commit(self, name: str, df: DataFrame, parent_dirs: list[str],
                op: str, n_rows: int, n_partitions: int,
                new_dir: str | None) -> int:
        meta = self._load_meta(name)
        sid = (meta["snapshots"][-1]["id"] + 1) if meta["snapshots"] else 1
        dirs = list(parent_dirs) + ([new_dir] if new_dir else [])
        meta["snapshots"].append({
            "id": sid, "parent": meta["current"], "op": op, "dirs": dirs,
            "n_rows": n_rows, "n_partitions": n_partitions, "ts": time.time(),
        })
        meta["current"] = sid
        if meta["schema"] is None:
            meta["schema"] = df.schema.json()
        self._store_meta(name, meta)
        return sid

    def _write_data(self, name: str, df: DataFrame) -> tuple[str, int, int]:
        sid_dir = os.path.join(self._table_dir(name), "data",
                               f"s{uuid.uuid4().hex[:12]}")
        # the write's own job counts its rows (CollectMetrics), as an
        # Iceberg writer records each data file's row count in the
        # manifest; reading the new files back would add three jobs
        # (schema inference, a count stage and its final stage)
        obs = Observation()
        (df.observe(obs, F.count(F.lit(1)).alias("n"))
         .write.mode("overwrite").parquet(sid_dir))
        n = obs.get["n"]
        n_parts = sum(1 for f in os.listdir(sid_dir) if f.startswith("part-"))
        return sid_dir, n, n_parts

    def append(self, spark: SparkSession, name: str, df: DataFrame,
               skip_empty: bool = False) -> int | None:
        """Fast-append: writes only the new rows. skip_empty=True avoids
        committing a snapshot (and an empty data dir) when df has no
        rows — a long-running keyed ingest whose batches are mostly
        replays would otherwise grow one dir per batch forever; the
        current snapshot id (None for a never-written table — the same
        'no snapshot' convention every other API uses; real ids start
        at 1) is returned unchanged in that case."""
        meta = self._load_meta(name)
        parent_dirs = self._dirs_for(meta, None)
        new_dir, n, n_parts = self._write_data(name, df)
        if skip_empty and n == 0:
            import shutil
            shutil.rmtree(new_dir, ignore_errors=True)
            return meta["current"]
        return self._commit(name, df, parent_dirs, "append", n, n_parts, new_dir)

    def overwrite(self, spark: SparkSession, name: str, df: DataFrame) -> int:
        new_dir, n, n_parts = self._write_data(name, df)
        return self._commit(name, df, [], "overwrite", n, n_parts, new_dir)

    def merge_insert_if_absent(self, spark: SparkSession, name: str,
                               df: DataFrame, key: str) -> int | None:
        """MERGE INTO t USING df ON t.key = df.key WHEN NOT MATCHED INSERT *.

        Duplicate keys *within* df collapse DETERMINISTICALLY to the
        struct-minimum of the non-key columns (dropDuplicates keeps an
        arbitrary row, which would make replays nondeterministic when the
        same content_hash arrives from different pages) — the sink stays a
        keyed set with reproducible non-key columns; matches the reference
        sink where point id is derived from the content hash
        (pkg/qdrantdb/crawl_vector.go:42-45)."""
        existing = self.read(spark, name).select(key)
        others = [c for c in df.columns if c != key]

        def _orderable(dt: T.DataType) -> bool:
            if isinstance(dt, T.MapType):
                return False
            if isinstance(dt, T.StructType):
                return all(_orderable(f.dataType) for f in dt.fields)
            if isinstance(dt, T.ArrayType):
                return _orderable(dt.elementType)
            return True

        ord_cols = [c for c in others
                    if _orderable(df.schema[c].dataType)]
        if ord_cols:
            # min_by over the orderable columns: rows tying on every
            # orderable column are identical for our sinks (same key ⇒
            # same source row), so the pick is reproducible
            collapsed = (df.groupBy(key)
                         .agg(F.min_by(F.struct(*others),
                                       F.struct(*ord_cols)).alias("_row"))
                         .select(key, *[F.col(f"_row.{c}").alias(c)
                                        for c in others])
                         .select(*df.columns))
        else:
            collapsed = df.dropDuplicates([key])
        fresh = collapsed.join(existing, on=key, how="left_anti")
        return self.append(spark, name, fresh, skip_empty=True)

    def merge_upsert_latest(self, spark: SparkSession, name: str,
                            df: DataFrame, key: str, order_col: str) -> int:
        """MERGE INTO t USING df ON t.key = df.key
        WHEN MATCHED AND df.order > t.order THEN UPDATE *
        WHEN NOT MATCHED THEN INSERT * — latest-wins upsert (the cookie
        jar's SetCookies overwrite semantics, crawler/boltdb.go:103-113).

        Per key the row with the greatest `order_col` survives; ties
        resolve by the struct-max of the remaining columns so replays are
        deterministic (a crash-resumed wave re-upserts identical rows —
        idempotent by construction). Implemented as read ∪ new → max_by →
        overwrite; on real Iceberg this call site becomes MERGE INTO with
        file-level copy-on-write. O(table) per merge — acceptable for the
        small keyed-state tables this serves (cookies: O(hosts that ever
        answered Set-Cookie), orders below `seen`)."""
        incoming = df.select(*df.columns)
        if self.table_exists(name) and \
                self.current_snapshot(name) is not None:
            incoming = (self.read(spark, name).select(*df.columns)
                        .unionByName(incoming))
        others = [c for c in df.columns if c != key]
        tie = [c for c in others if c != order_col]
        merged = (incoming.groupBy(key)
                  .agg(F.max_by(F.struct(*others),
                                F.struct(order_col, *tie)).alias("_row"))
                  .select(key, *[F.col(f"_row.{c}").alias(c)
                                 for c in others])
                  .select(*df.columns))
        return self.overwrite(spark, name, merged)

    def compact(self, spark: SparkSession, name: str,
                n_files: int | None = None) -> int:
        """Rewrite the CURRENT table state into one consolidated data dir
        (Iceberg's `rewrite_data_files`). A crawl appends one dir per
        wave per table; after thousands of waves every read opens
        thousands of directories and the manifest union dominates scan
        planning. Compaction makes the current snapshot a single dir;
        HISTORY stays readable (old snapshots keep their dir lists and
        their files — nothing is deleted here; see expire_snapshots).
        A crash-rollback to a pre-compaction snapshot is CONTENT-equal
        (compaction rewrites the same rows), so losing the compaction
        on rollback costs only the consolidation, never data.
        `n_files` coalesces the rewrite (None keeps the plan's
        partitioning)."""
        df = self.read(spark, name)
        if n_files is not None:
            df = df.coalesce(n_files)
        new_dir, n, n_parts = self._write_data(name, df)
        return self._commit(name, df, [], "compact", n, n_parts, new_dir)

    def expire_snapshots(self, name: str, keep_last: int = 1,
                         protect_ids: set[int] | None = None) -> int:
        """Drop snapshot history older than the last `keep_last` entries
        and DELETE data dirs no surviving snapshot references (Iceberg's
        `expire_snapshots`): bounds metadata and disk for a long-running
        crawl. The current snapshot always survives; time travel and
        rollback beyond the horizon become errors by design. Returns the
        number of data dirs removed.

        protect_ids: snapshot ids that must also survive — for a table
        managed by the crawl loop, pass the ids the LINEAGE table still
        references (plans/crawl.expire_history does this), otherwise a
        crash-resume that rolls back to a lineage snapshot this call
        expired would raise `unknown snapshot` and the crawl becomes
        unresumable."""
        import shutil
        meta = self._load_meta(name)
        snaps = meta["snapshots"]
        if not snaps:
            return 0
        keep_ids = set(protect_ids or ())
        if meta["current"] is not None:
            keep_ids.add(meta["current"])
        keep_ids.update(s["id"] for s in snaps[-max(keep_last, 1):])
        kept = [s for s in snaps if s["id"] in keep_ids]
        live = {d for s in kept for d in s["dirs"]}
        dead = {d for s in snaps for d in s["dirs"]} - live
        for d in sorted(dead):
            shutil.rmtree(d, ignore_errors=True)
        meta["snapshots"] = kept
        self._store_meta(name, meta)
        return len(dead)

    def rollback(self, name: str, snapshot_id: int | None) -> None:
        """Point `current` at an older snapshot; None = the empty table
        (pre-first-commit state) — used by mid-wave crash recovery."""
        meta = self._load_meta(name)
        if snapshot_id is not None and \
                all(s["id"] != snapshot_id for s in meta["snapshots"]):
            raise ValueError(f"unknown snapshot {snapshot_id}")
        meta["current"] = snapshot_id
        self._store_meta(name, meta)

    def drop(self, name: str) -> None:
        import shutil
        if os.path.exists(self._table_dir(name)):
            shutil.rmtree(self._table_dir(name))
