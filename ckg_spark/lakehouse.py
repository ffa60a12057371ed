"""Snapshot-committed parquet table layer (Iceberg-shaped).

The reference loads its graph into Neo4j with idempotent Cypher
``MERGE ... ON CREATE SET`` in 10k-row periodic commits
(/root/reference src/graphdb_builder/builder/cypher.yml:20-33, repeated ~100x)
and gets "backup" by tar-ing the import dir (builder/loader.py:305-320).
Here the same guarantees come from a table format:

- every write is a **snapshot commit**: data files land first, then a single
  atomic manifest rename publishes them (readers never see partial writes);
- ``merge_insert_absent`` is the Cypher-MERGE equivalent — insert rows whose
  key is not already present (left-anti join against current state);
- time travel: any previous snapshot id can be read (≙ Iceberg snapshots,
  and the reference's archive step for free);
- per-snapshot, per-data-file row counts are recorded in the manifest —
  the lineage/metrics record the north rule requires (≙ the reference's
  HDF5 import-stats sink, builder/importer.py:169-265).

On a real cluster this module is replaced 1:1 by Iceberg
(``df.writeTo(t).append()`` / ``MERGE INTO``); the API here is shaped so the
swap is mechanical. The local format is plain parquet + a JSON manifest, so
DuckDB / pyarrow can audit every table.

Scale notes: merge_insert_absent anti-joins on the key columns — a shuffle
on the key, which Iceberg would also do; dedup-before-merge is pushed into
the same shuffle. Reads give Spark the list of parquet dirs, so column
pruning and predicate pushdown reach the scan unchanged.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession


class RowCountUnavailable(RuntimeError):
    """A just-written data file's parquet footer could not be read, so the
    snapshot's row count is unknown (a manifest sum would read it as 0)."""


@dataclass
class Snapshot:
    id: int
    op: str
    dirs: list[str]
    ts: float
    rows_written: int
    files: list[dict[str, Any]] = field(default_factory=list)
    meta: dict[str, Any] = field(default_factory=dict)


class Table:
    """One snapshot-versioned table rooted at ``<warehouse>/<name>``."""

    def __init__(self, warehouse: str, name: str):
        self.name = name
        self.root = os.path.join(warehouse, name)
        self.manifest_path = os.path.join(self.root, "manifest.json")
        os.makedirs(self.root, exist_ok=True)

    # -- manifest ---------------------------------------------------------
    def _load(self) -> dict[str, Any]:
        if not os.path.exists(self.manifest_path):
            return {"current": 0, "snapshots": []}
        with open(self.manifest_path) as f:
            return json.load(f)

    def _publish(self, manifest: dict[str, Any]) -> None:
        tmp = self.manifest_path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self.manifest_path)  # atomic on POSIX

    def exists(self) -> bool:
        return self._load()["current"] > 0

    def current_snapshot(self) -> int:
        return self._load()["current"]

    def snapshots(self) -> list[Snapshot]:
        return [Snapshot(**s) for s in self._load()["snapshots"]]

    def row_count(self, snapshot_id: int | None = None) -> int:
        """Total rows at a snapshot from the manifest alone — no footer
        reads, no Spark job (≙ Iceberg's snapshot summary counts). Each data
        dir is written by exactly one snapshot, whose ``rows_written`` is
        that dir's row count; a snapshot's total sums the dirs it lists."""
        m = self._load()
        sid = m["current"] if snapshot_id is None else snapshot_id
        dir_rows: dict[str, int] = {}
        for s in m["snapshots"]:
            new = [d for d in s["dirs"] if d not in dir_rows]
            dir_rows.update((d, s["rows_written"]) for d in new)
            if s["id"] == sid:
                return sum(dir_rows[d] for d in s["dirs"])
        return 0

    # -- read -------------------------------------------------------------
    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        m = self._load()
        sid = m["current"] if snapshot_id is None else snapshot_id
        snaps = {s["id"]: s for s in m["snapshots"]}
        if sid == 0 or sid not in snaps:
            raise FileNotFoundError(f"table {self.name}: no snapshot {snapshot_id!r}")
        dirs = [os.path.join(self.root, d) for d in snaps[sid]["dirs"]]
        # snapshots record their schema at write time: an EMPTY result set
        # (a filter stage that dropped everything) writes zero parquet
        # files, and schema inference over no files would fail the re-read
        schema_json = (snaps[sid].get("meta") or {}).get("_schema")
        reader = spark.read
        if schema_json:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
        if not dirs:
            # append_empty on a never-written table commits schema + zero
            # dirs: materialize the empty frame from the recorded schema
            if not schema_json:
                raise FileNotFoundError(
                    f"table {self.name}: snapshot {sid} has no data dirs and no schema"
                )
            from pyspark.sql.types import StructType

            return spark.createDataFrame(
                [], StructType.fromJson(json.loads(schema_json))
            )
        if len(dirs) == 1:
            return reader.parquet(dirs[0])
        # multi-snapshot read: each data dir is read as its OWN root and
        # the scans union. Passing several PARTITIONED roots to one
        # .parquet(...) call makes partition discovery infer a different
        # base per root and raise CONFLICTING_DIRECTORY_STRUCTURES (the
        # first non-empty incremental merge into a partitioned table hits
        # this). Per-root scans keep partition pruning: a pred/label
        # filter pushes into every branch of the union.
        from functools import reduce

        return reduce(DataFrame.unionByName, (reader.parquet(d) for d in dirs))

    # -- write ------------------------------------------------------------
    def _commit(
        self,
        op: str,
        df: DataFrame | None,
        schema_json: str,
        partition_by: list[str] | None = None,
        meta: dict[str, Any] | None = None,
    ) -> int:
        """Write ``df`` (if any) as one new data dir, then publish snapshot
        N+1: the new dir alone (overwrite) or after the current snapshot's
        dirs (append). Row counts come from the new files' parquet
        footers; an unreadable footer raises ``RowCountUnavailable``
        BEFORE the manifest is published, so no snapshot with an unknown
        row count ever becomes current."""
        dirs: list[str] = []
        files: list[dict[str, Any]] = []
        if df is not None:
            rel = f"data-{uuid.uuid4().hex[:12]}"
            path = os.path.join(self.root, rel)
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(path)
            files = _walk_row_counts(path)
            unread = [f["file"] for f in files if f["rows"] is None]
            if unread:
                raise RowCountUnavailable(
                    f"table {self.name} (stage {(meta or {}).get('stage')}): no row "
                    f"count for {len(unread)} file(s) of the new {op} snapshot, "
                    f"e.g. {rel}/{unread[0]}"
                )
            dirs = [rel]
        m = self._load()
        if op == "append" and m["current"]:
            prev = next(s for s in m["snapshots"] if s["id"] == m["current"])
            dirs = prev["dirs"] + dirs
        sid = m["current"] + 1
        m["snapshots"].append(
            {
                "id": sid,
                "op": op,
                "dirs": dirs,
                "ts": time.time(),
                "rows_written": sum(f["rows"] for f in files),
                "files": files,
                "meta": {**(meta or {}), "_schema": schema_json},
            }
        )
        m["current"] = sid
        self._publish(m)
        return sid

    def overwrite(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        meta: dict[str, Any] | None = None,
    ) -> int:
        return self._commit("overwrite", df, df.schema.json(), partition_by, meta)

    def append(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        meta: dict[str, Any] | None = None,
    ) -> int:
        return self._commit("append", df, df.schema.json(), partition_by, meta)

    def append_empty(self, schema_json: str, meta: dict[str, Any] | None = None) -> int:
        """Commit a snapshot that appends ZERO rows without running a
        Spark job: same dir list as the current snapshot (nothing new to
        read), rows_written 0, schema recorded for empty-table re-reads.
        For callers that have PROVEN emptiness driver-side (e.g. the
        zero-orphan shortcut) — writing an empty DataFrame through the
        executor path costs a full job submission + commit for nothing."""
        return self._commit("append", None, schema_json, meta=meta)

    def merge_insert_absent(
        self,
        spark: SparkSession,
        df: DataFrame,
        key_cols: list[str],
        partition_by: list[str] | None = None,
        meta: dict[str, Any] | None = None,
        assume_unique: bool = False,
        prune_on: list[str] | None = None,
    ) -> int:
        """Insert rows whose key is not already in the table (Cypher-MERGE /
        Iceberg ``MERGE INTO ... WHEN NOT MATCHED THEN INSERT`` semantics).

        Re-running the same load is a no-op — the idempotency the reference
        gets from Neo4j MERGE (cypher.yml:24) and from set()-dedup in every
        parser (e.g. src/graphdb_builder/databases/parsers/stringParser.py:54-58).

        ``assume_unique=True`` skips the staging dedup shuffle when the
        caller guarantees key uniqueness (e.g. the output of a groupBy on
        the key) — one less full shuffle of the fact table.

        ``prune_on`` (columns that are both merge keys AND table partition
        columns, e.g. ``["pred"]``) restricts the current-side read to the
        partitions the staged batch actually touches: the staged batch's
        distinct prune values are dimension-sized (relationship types), so
        they collect cheaply and become a partition filter on the scan —
        an incremental load of one ``pred`` no longer rescans a 100×-grown
        table's every partition for its anti-join. Requires
        ``prune_on ⊆ key_cols`` (same key ⇒ same prune value, so dropping
        other partitions cannot lose a match).

        Staging dedup is DETERMINISTIC: duplicate keys keep the row whose
        non-key struct is the lexicographic minimum (dropDuplicates keeps
        whichever row the shuffle delivers first — the surviving values
        would vary run to run, violating the engine's explicit-total-order
        rule). Same shuffle count as dropDuplicates (one hash agg with
        map-side combine); non-key columns must be orderable (arrays are,
        maps are not — such tables should pass ``assume_unique``)."""
        if assume_unique:
            staged = df
        else:
            other = [c for c in df.columns if c not in key_cols]
            if other:
                from pyspark.sql import functions as F

                staged = (
                    df.groupBy(*key_cols)
                    .agg(F.min(F.struct(*other)).alias("_r"))
                    .select(
                        *key_cols, *[F.col(f"_r.{c}").alias(c) for c in other]
                    )
                    .select(*df.columns)
                )
            else:
                staged = df.distinct()
        cached = None
        if self.exists():
            if prune_on:
                # the staged batch feeds two jobs (distinct prune values,
                # then the anti-join+append) — persist so the second doesn't
                # recompute its lineage; jobs are sequential, so persist
                # (not localCheckpoint) is safe. Released below: repeated
                # incremental merges must not accumulate cached blocks.
                cached = staged = staged.persist()
            staged = self._absent_only(spark, staged, key_cols, prune_on)
        try:
            return self.append(staged, partition_by=partition_by, meta=meta)
        finally:
            if cached is not None:
                cached.unpersist()

    def _absent_only(
        self,
        spark: SparkSession,
        staged: DataFrame,
        key_cols: list[str],
        prune_on: list[str] | None = None,
    ) -> DataFrame:
        """staged minus rows whose key exists in the current snapshot; with
        ``prune_on``, the current side scans only the touched partitions.
        Split out so tests can assert the partition filter in the plan."""
        from pyspark.sql import functions as F

        current = self.read(spark)
        if prune_on:
            missing = set(prune_on) - set(key_cols)
            if missing:
                raise ValueError(
                    f"prune_on columns must be merge keys, got extra {sorted(missing)}"
                )
            # caching for the two jobs this frame feeds (distinct prune
            # values, then the anti-join+append) is the CALLER's job —
            # merge_insert_absent persists around this call and unpersists
            # after the append, so merges don't leak cached blocks
            for col in prune_on:
                vals = [r[0] for r in staged.select(col).distinct().collect()]
                current = current.filter(F.col(col).isin(vals))
        return staged.join(current.select(*key_cols), on=key_cols, how="left_anti")


def _walk_row_counts(data_dir: str) -> list[dict[str, Any]]:
    """Row counts for flat or hive-partitioned dirs. Footer reads release
    the GIL in pyarrow, so a thread pool turns ~hundreds of serial metadata
    reads per commit into one parallel sweep."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    paths: list[tuple[str, str]] = []
    for dirpath, _dirnames, filenames in os.walk(data_dir):
        for name in sorted(filenames):
            if name.endswith(".parquet"):
                p = os.path.join(dirpath, name)
                paths.append((os.path.relpath(p, data_dir), p))

    def one(item: tuple[str, str]) -> dict[str, Any]:
        rel, path = item
        try:
            return {
                "file": rel,
                "rows": pq.read_metadata(path).num_rows,
                "bytes": os.path.getsize(path),
            }
        except Exception:
            return {"file": rel, "rows": None, "bytes": os.path.getsize(path)}

    if len(paths) <= 4:
        return [one(p) for p in paths]
    with ThreadPoolExecutor(max_workers=16) as pool:
        return list(pool.map(one, paths))


class Warehouse:
    """A directory of snapshot tables + a metrics journal."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.metrics_path = os.path.join(root, "_metrics.jsonl")

    def table(self, name: str) -> Table:
        return Table(self.root, name)

    def log_metric(self, stage: str, **kv: Any) -> None:
        """Append one lineage/metrics record (≙ the reference's import-stats
        HDF5 append, src/graphdb_builder/builder/importer.py:169-265)."""
        rec = {"stage": stage, "ts": time.time(), **kv}
        with open(self.metrics_path, "a") as f:
            f.write(json.dumps(rec) + "\n")

    def metrics(self) -> list[dict[str, Any]]:
        if not os.path.exists(self.metrics_path):
            return []
        with open(self.metrics_path) as f:
            return [json.loads(line) for line in f if line.strip()]
