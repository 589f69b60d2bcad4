"""Snapshot-versioned table store — Iceberg semantics over parquet.

The north rule requires Iceberg tables (atomic snapshot-per-crawl-round,
time travel for resume, per-partition lineage + metrics).  The sandbox
has no Iceberg runtime jar and no network, so this module provides a
minimal, swappable stand-in with the same *semantics*:

- every commit (append or overwrite) writes new parquet files under a
  unique ``data/set=<id>/`` directory, then atomically publishes a JSON
  manifest (``os.link`` claims it exclusively on POSIX).  The manifest
  owns the table's format: the live file-sets by schema vintage, each
  vintage's Spark schema as written and its partition columns, and the
  schema-evolution ops;
- readers resolve the latest (or any historical) manifest → snapshot
  isolation and time travel.  A snapshot reads as one parquet scan per
  schema vintage with the recorded schema supplied, its commit dirs as
  ``set=`` partitions of one ``data/`` root: no schema-inference job,
  and one ``FileScan`` for a table that never evolved;
- each manifest carries per-partition row-count lineage, the
  cumulative row count and free-form metrics, mirroring Iceberg
  snapshot summaries.

On a real cluster, ``Catalog`` is replaced by ``spark.table`` /
``df.writeTo(...).append()`` against an Iceberg catalog — the engine
code only touches the four methods below, so the swap is one class.
All data stays distributed: manifests hold file paths and small count
maps, never rows.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _footer_lineage(
    root: str, partition_cols: list[str] | None
) -> dict[str, int]:
    """Row counts per partition (or ``__all__``) from parquet footers.

    The footer reads run on a driver-side thread pool: a partitioned
    sink writes tasks×dirs files (thousands per commit at bench scale),
    and pyarrow's metadata read releases the GIL, so a serial walk was
    pure added commit latency — and an ANTI-scaling one (more write
    tasks at higher parallelism → more files → a LONGER serial walk)."""
    import pyarrow.parquet as pq
    from concurrent.futures import ThreadPoolExecutor

    dirs: list[tuple[str, list[str]]] = []
    for dirpath, _dirs, files in os.walk(root):
        pq_files = [f for f in files if f.endswith(".parquet")]
        if pq_files:
            dirs.append((dirpath, pq_files))
    all_paths = [os.path.join(d, f) for d, fs in dirs for f in fs]
    with ThreadPoolExecutor(max_workers=16) as pool:
        rows = dict(
            zip(
                all_paths,
                pool.map(lambda p: pq.read_metadata(p).num_rows, all_paths),
            )
        )
    counts: dict[str, int] = {}
    for dirpath, pq_files in dirs:
        n = sum(rows[os.path.join(dirpath, f)] for f in pq_files)
        if n == 0:
            continue
        if partition_cols:
            from urllib.parse import unquote

            rel = os.path.relpath(dirpath, root)
            vals = dict(
                p.split("=", 1) for p in rel.split(os.sep) if "=" in p
            )
            key = "|".join(unquote(vals.get(c, "")) for c in partition_cols)
        else:
            key = "__all__"
        counts[key] = counts.get(key, 0) + n
    return counts


def _atomic_write_json(path: str, payload: dict) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    os.rename(tmp, path)


def _as_nullable(t):
    """Schema JSON with every field, element and value nullable, as a
    file scan reports it, so commits of one plan record one schema."""
    if isinstance(t, dict):
        return {
            k: True
            if k in ("nullable", "containsNull", "valueContainsNull")
            else _as_nullable(x)
            for k, x in t.items()
        }
    if isinstance(t, list):
        return [_as_nullable(x) for x in t]
    return t


def _add_sets(
    vintages: list[dict],
    ops: int,
    partition_cols: list[str],
    schema: StructType,
    sets: list[str],
) -> list[dict]:
    """``vintages`` plus ``sets``, written with ``schema`` under ``ops``
    schema ops.  They join the newest vintage when it has the same op
    count and layout and no column of another type (its schema gains
    their new columns, which read as NULL on its older sets); else they
    start a vintage."""
    fields = _as_nullable(schema.jsonValue())["fields"]
    new = {"ops": ops, "partition_cols": partition_cols, "sets": sets,
           "schema": {"type": "struct", "fields": fields}}
    if vintages:
        last = vintages[-1]
        have = {f["name"]: f["type"] for f in last["schema"]["fields"]}
        if (last["ops"], last["partition_cols"]) == (ops, partition_cols) \
                and all(have.get(f["name"], f["type"]) == f["type"]
                        for f in fields):
            new["sets"] = last["sets"] + sets
            new["schema"]["fields"] = last["schema"]["fields"] + [
                f for f in fields if f["name"] not in have
            ]
            return vintages[:-1] + [new]
    return vintages + [new]


def apply_schema_ops(df: DataFrame, ops: list | None) -> DataFrame:
    """Replay a snapshot's schema-evolution ops over one vintage's scan
    (Iceberg resolves the same thing through field IDs).  Ops are
    IDEMPOTENT per file vintage: a file written after a rename already
    carries the new name, so the rename is a no-op on it; a file
    written after an add already has the column.  That is what lets
    one ordered op list serve every vintage in the snapshot.

    Catalyst pushes the downstream projection through the renames, so
    column pruning still reaches the parquet scan; an added column is
    a literal — no data is read for it."""
    for op in ops or []:
        kind = op["op"]
        if kind == "rename":
            if op["from"] in df.columns and op["to"] not in df.columns:
                df = df.withColumnRenamed(op["from"], op["to"])
        elif kind == "add":
            if op["name"] not in df.columns:
                df = df.withColumn(
                    op["name"], F.lit(op.get("default")).cast(op["type"])
                )
        elif kind == "drop":
            if op["name"] in df.columns:
                df = df.drop(op["name"])
        else:  # pragma: no cover - manifests are engine-written
            raise ValueError(f"unknown schema op {kind!r}")
    return df


class ConcurrentCommitError(RuntimeError):
    """Two writers raced a commit on one table and the loser could not
    be serialized (see Table._claim_version)."""


@dataclass
class Snapshot:
    version: int
    lineage: dict[str, Any]
    metrics: dict[str, Any]
    # cumulative live-row count at this version (appends accumulate,
    # overwrites reset)
    total_rows: int
    # ordered schema-evolution ops applied at read time (Iceberg
    # schema-evolution analogue; see Table.evolve_schema).  None = the
    # table has never evolved.
    schema_ops: list | None
    # the live file sets by schema vintage, oldest first: {"ops": schema
    # ops in force when the sets were written, "partition_cols": [...],
    # "schema": Spark schema JSON, "sets": [...]}
    vintages: list[dict]

    @property
    def file_sets(self) -> list[str]:
        return [s for vin in self.vintages for s in vin["sets"]]

    @property
    def partition_cols(self) -> list[str]:
        """Directory partitioning of the newest sets; rewrites keep it."""
        return self.vintages[-1]["partition_cols"] if self.vintages else []


class Table:
    """One snapshot-versioned table.  Each commit writes its files under
    ``data/set=<id>/`` (its partition dirs below that), so a snapshot's
    sets read as partitions of one ``data/`` root."""

    def __init__(self, spark: SparkSession, root: str, name: str):
        self.spark = spark
        self.name = name
        self.dir = os.path.join(root, name)
        self.snap_dir = os.path.join(self.dir, "snapshots")
        self.data_dir = os.path.join(self.dir, "data")
        os.makedirs(self.snap_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- snapshot resolution -------------------------------------------------

    def versions(self) -> list[int]:
        return sorted(
            int(f[1:6])
            for f in os.listdir(self.snap_dir)
            if f.endswith(".json") and f.startswith("v")
        )

    def current_version(self) -> int:
        vs = self.versions()
        return vs[-1] if vs else 0

    def snapshot(self, version: int | None = None) -> Snapshot | None:
        v = self.current_version() if version is None else version
        if v == 0:
            return None
        path = os.path.join(self.snap_dir, f"v{v:05d}.json")
        if not os.path.exists(path):
            return None  # expired (expire_snapshots) — history is gone
        with open(path) as f:
            d = json.load(f)
        if "vintages" not in d:
            raise ValueError(
                f"table {self.name}: manifest {path} records no schema "
                "(written by an older store format); rebuild the store"
            )
        return Snapshot(
            d["version"], d["lineage"], d["metrics"], d["total_rows"],
            d.get("schema_ops"), d["vintages"],
        )

    # -- commit serialization --------------------------------------------------

    def _claim_version(self, build_payload, retries: int = 20) -> int:
        """Publish a manifest under optimistic concurrency (the Iceberg
        commit model): pick version = current + 1, build the payload
        against the FRESH predecessor, and claim the manifest path with
        an atomic exclusive create (``os.link`` fails on an existing
        path where ``os.rename`` would silently overwrite).  A loser
        re-reads the new current version and retries, so two writers
        appending to one table serialize instead of last-writer-wins
        dropping a commit; persistent contention fails loudly."""
        for _ in range(retries):
            v = self.current_version() + 1
            payload = build_payload(v)
            path = os.path.join(self.snap_dir, f"v{v:05d}.json")
            tmp = f"{path}.tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump(payload, f, indent=1, sort_keys=True)
            try:
                os.link(tmp, path)
                return v
            except FileExistsError:
                continue  # another writer claimed v — rebuild against it
            finally:
                os.remove(tmp)
        raise ConcurrentCommitError(
            f"table {self.name}: could not claim a version after "
            f"{retries} attempts (concurrent writers)"
        )

    def _publish(
        self,
        metrics: dict[str, Any] | None,
        new_sets: list[str] = (),
        schema: StructType | None = None,
        partition_cols: list[str] | None = None,
        lineage: dict[str, int] | None = None,
        *,
        overwrite: bool = False,
        replaced: list[str] = (),
        base: Snapshot | None = None,
        ops: list[dict] = (),
        retries: int = 20,
    ) -> int:
        """The one manifest builder every commit goes through.  The new
        snapshot is the predecessor's sets minus ``replaced`` (minus all
        of them on ``overwrite``) plus ``new_sets``, written with
        ``schema`` and ``partition_cols``, whose rows ``lineage``
        counts; ``ops`` extend the schema-op list.  With ``base`` the
        commit rewrites that snapshot and is conflict-checked: if any
        other writer committed since, it aborts instead of silently
        dropping that commit's rows (Iceberg validation)."""
        lineage = lineage or {}

        def build(v: int) -> dict:
            prev = self.snapshot(v - 1) if v > 1 else None
            if base is not None and (
                prev is None or prev.version != base.version
                or set(prev.file_sets) != set(base.file_sets)
            ):
                raise ConcurrentCommitError(
                    f"table {self.name}: snapshot advanced past "
                    f"v{base.version} during a row-level rewrite; "
                    "re-run it against the new snapshot"
                )
            vintages, total = [], 0
            if prev is not None and not overwrite:
                gone = set(replaced)
                vintages = [
                    dict(vin, sets=[s for s in vin["sets"] if s not in gone])
                    for vin in prev.vintages
                ]
                vintages = [vin for vin in vintages if vin["sets"]]
                total = prev.total_rows - self._set_rows(replaced)
            # table-level property: evolution ops survive appends AND
            # overwrites (new data arrives already in current schema;
            # ops are idempotent on it)
            schema_ops = (prev and prev.schema_ops or []) + list(ops)
            if new_sets:
                vintages = _add_sets(
                    vintages, len(schema_ops), list(partition_cols or []),
                    schema, list(new_sets),
                )
            payload = {
                "version": v,
                "vintages": vintages,
                "lineage": lineage,
                "metrics": metrics or {},
                "total_rows": total + sum(lineage.values()),
            }
            if schema_ops:
                payload["schema_ops"] = schema_ops
            return payload

        return self._claim_version(build, retries)

    # -- read ----------------------------------------------------------------

    def _scan(self, snap: Snapshot, sets: list[str] | None = None):
        """The one read path: per schema vintage, ONE parquet scan given
        the schema the manifest recorded (no schema inference, so no
        Spark job), with the snapshot's schema ops replayed; vintages
        are unioned by name.  A table that never evolved is one scan.
        ``sets`` limits the scan to those file sets."""
        keep = set(snap.file_sets if sets is None else sets)
        scans = []
        for vin in snap.vintages:
            paths = [s for s in vin["sets"] if s in keep]
            if paths:
                df = self._parquet(StructType.fromJson(vin["schema"]), paths)
                scans.append(apply_schema_ops(df, snap.schema_ops))
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), scans
        )

    def _parquet(self, schema: StructType, sets: list[str]) -> DataFrame:
        """Commit dirs read as partitions of ``data/``: ``set`` is the
        first partition column (typed string, or Spark would type-infer
        the hex ids), the table's own partition columns follow."""
        return (
            self.spark.read.schema(schema.add("set", "string"))
            .option("basePath", self.data_dir)
            .parquet(*sets)
        )

    def read(self, version: int | None = None) -> DataFrame | None:
        """DataFrame over the snapshot's file sets; None if table empty.

        Every commit of a schema vintage is in one scan, so partition
        pruning and column pruning act on all of them at once (see
        ``_scan``)."""
        snap = self.snapshot(version)
        if snap is None or not snap.file_sets:
            return None
        return self._scan(snap).drop("set")

    # -- write ---------------------------------------------------------------

    def _write_set(
        self, df: DataFrame, partition_cols: list[str] | None
    ) -> tuple[str, dict[str, int]]:
        """Write one commit's files under a fresh ``data/set=<id>/``;
        returns the dir and its per-partition lineage, read from the
        parquet footers (driver-side file walk, no Spark job — the
        Iceberg analogue is snapshot summary stats, likewise
        metadata-only)."""
        new_set = os.path.join(self.data_dir, f"set={uuid.uuid4().hex}")
        writer = df.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(new_set)
        return new_set, _footer_lineage(new_set, partition_cols)

    def _set_rows(self, sets: list[str]) -> int:
        return sum(sum(_footer_lineage(p, None).values()) for p in sets)

    def _commit(
        self,
        df: DataFrame,
        mode: str,
        partition_cols: list[str] | None,
        metrics: dict[str, Any] | None,
    ) -> int:
        new_set, lineage = self._write_set(df, partition_cols)
        return self._publish(
            metrics, [new_set], df.schema, partition_cols, lineage,
            overwrite=mode != "append",
        )

    def append(
        self,
        df: DataFrame,
        partition_cols: list[str] | None = None,
        metrics: dict[str, Any] | None = None,
    ) -> int:
        return self._commit(df, "append", partition_cols, metrics)

    def overwrite(
        self,
        df: DataFrame,
        partition_cols: list[str] | None = None,
        metrics: dict[str, Any] | None = None,
    ) -> int:
        return self._commit(df, "overwrite", partition_cols, metrics)

    # -- row-level changes (copy-on-write) -------------------------------------

    def _sets_holding(self, base: Snapshot, rows: DataFrame) -> list[str]:
        """The file sets of ``base`` that hold any of ``rows`` (a scan of
        ``base`` with its ``set`` column); one small collect."""
        ids = {r["set"] for r in rows.select("set").distinct().collect()}
        return [
            s for s in base.file_sets
            if os.path.basename(s).partition("=")[2] in ids
        ]

    def _swap_sets(
        self,
        base: Snapshot,
        touched: list[str],
        replacement: DataFrame,
        metrics: dict[str, Any] | None,
    ) -> int:
        """Commit ``replacement`` in place of the ``touched`` file sets
        (Iceberg copy-on-write), in the table's partition layout:
        untouched sets carry over in the new manifest with ZERO data
        movement; only the touched fraction is rewritten.
        Conflict-checked against ``base`` (see ``_publish``)."""
        new_set, lineage = self._write_set(replacement, base.partition_cols)
        keep = bool(lineage)  # every touched row deleted: publish no set
        try:
            return self._publish(
                metrics, [new_set] if keep else [], replacement.schema,
                base.partition_cols, lineage,
                replaced=touched, base=base, retries=1,
            )
        except Exception:
            keep = False
            raise
        finally:
            if not keep:
                shutil.rmtree(new_set, ignore_errors=True)

    def merge_upsert(
        self,
        src: DataFrame,
        key_cols: list[str],
        metrics: dict[str, Any] | None = None,
    ) -> int:
        """``MERGE INTO ... WHEN MATCHED THEN UPDATE SET * WHEN NOT
        MATCHED THEN INSERT *`` (Iceberg copy-on-write merge).

        Rows of the table whose ``key_cols`` appear in ``src`` are
        replaced by the ``src`` row; unmatched ``src`` rows are
        inserted.  Caller contract: ``src`` is distinct on ``key_cols``
        (duplicate source keys would insert duplicates, same as SQL
        MERGE's multiple-matched-rows error class).

        Scale shape: one key-column-pruned probe scan finds the file
        sets that contain matched keys (left-semi join); ONLY those
        sets are rewritten (survivors anti-join + union with src) —
        untouched sets move into the new manifest without touching a
        byte, the exact Iceberg COW contract.  Old sets stay on disk
        for time travel until ``expire_snapshots``.
        """
        base = self.snapshot()
        if base is None or not base.file_sets:
            return self.overwrite(src, metrics=metrics)
        src_keys = src.select(*key_cols).distinct()
        touched = self._sets_holding(
            base,
            self._scan(base).select(*key_cols, "set")
            .join(src_keys, key_cols, "left_semi"),
        )
        if not touched:
            # pure insert — append-shaped commit, no rewrite at all
            return self.append(src, base.partition_cols, metrics)
        survivors = (
            self._scan(base, touched).drop("set")
            .join(src_keys, key_cols, "left_anti")
        )
        merged = survivors.unionByName(src, allowMissingColumns=True)
        return self._swap_sets(base, touched, merged, metrics)

    def delete_where(
        self, cond, metrics: dict[str, Any] | None = None
    ) -> int | None:
        """Row-level DELETE (Iceberg copy-on-write): rewrite only the
        file sets containing a matching row; carry the rest forward
        untouched.  ``cond`` is a Column or SQL string.  Returns the
        new version, or None when nothing matched (no commit)."""
        base = self.snapshot()
        if base is None or not base.file_sets:
            return None
        cond = F.expr(cond) if isinstance(cond, str) else cond
        touched = self._sets_holding(base, self._scan(base).filter(cond))
        if not touched:
            return None
        # survivors = rows where cond is NOT TRUE (a NULL predicate row
        # is kept — SQL DELETE semantics; a bare ~cond would drop it)
        survivors = (
            self._scan(base, touched).drop("set")
            .filter(~F.coalesce(cond, F.lit(False)))
        )
        return self._swap_sets(base, touched, survivors, metrics)

    def approx_rows(self, version: int | None = None) -> int:
        """Row count from the manifest (no Spark job).

        Each manifest stores its CUMULATIVE ``total_rows`` at commit
        time, so the count does not depend on predecessor manifests
        surviving expiry — a checkpoint-protected snapshot below the
        expiry horizon (whose predecessors' manifests are gone) still
        reports the full count (seen.py sizes bloom filters from
        this)."""
        snap = self.snapshot(version)
        return 0 if snap is None else snap.total_rows

    # -- schema evolution ------------------------------------------------------

    def evolve_schema(
        self,
        ops: list[dict],
        metrics: dict[str, Any] | None = None,
    ) -> int:
        """Metadata-only schema evolution (the Iceberg ALTER TABLE
        analogue): publish a new snapshot with the SAME file sets and
        an extended op list — zero data rewritten, the whole point of
        table-format schema evolution at 100 TB (a column rename that
        rewrote the data would be a full-table job).

        Ops (applied in order at read time, per file vintage):
        ``{"op": "rename", "from": a, "to": b}``,
        ``{"op": "add", "name": c, "type": "int", "default": 0}``,
        ``{"op": "drop", "name": d}``.

        Readers of OLD versions still see the old schema (the op list
        is part of the snapshot, not the table dir) — time travel
        crosses evolutions faithfully.  New writes arrive in current
        schema and start a new vintage; ops are idempotent on them.
        ``compact()`` physically materializes the current schema (it
        rewrites through ``read()``), after which the ops are no-ops on
        every file.
        """
        for op in ops:
            if op.get("op") not in ("rename", "add", "drop"):
                raise ValueError(f"unknown schema op: {op!r}")
            if op["op"] == "add" and "type" not in op:
                raise ValueError(f"add op needs a type: {op!r}")
        return self._publish(metrics or {"schema_evolution": True}, ops=ops)

    def compact(self) -> int | None:
        """Fold a many-commit snapshot into one file set (the Iceberg
        rewrite_data_files maintenance action), in the table's partition
        layout.  Semantically a no-op."""
        snap = self.snapshot()
        if snap is None or len(snap.file_sets) <= 1:
            return None
        return self.overwrite(
            self.read(), snap.partition_cols, {"compaction": True}
        )

    def rollback(self, version: int) -> None:
        """Drop snapshots after ``version`` (time-travel restart)."""
        for v in self.versions():
            if v > version:
                os.remove(os.path.join(self.snap_dir, f"v{v:05d}.json"))

    def expire_snapshots(
        self, keep_last: int = 2, protect: tuple[int, ...] = ()
    ) -> dict[str, int]:
        """Iceberg ``expire_snapshots`` analogue: drop old manifests and
        DELETE data files no remaining snapshot references.

        Without this, every ``compact()``/``overwrite()`` strands its
        predecessors' files forever — at a 10^10-row frontier that is
        an unbounded storage leak (the whole reason Iceberg ships the
        maintenance action).

        The keep horizon (``keep_last`` newest versions, plus any
        ``protect``-ed ones, e.g. checkpoint-referenced) is walked BACK
        to the nearest full-rewrite boundary (a snapshot sharing no
        file set with its predecessor — an overwrite/compaction), so
        the surviving manifest chain still attributes every live file's
        rows and ``approx_rows`` stays exact.  Time travel below the
        horizon is gone — that is the semantics of expiry.
        """
        vs = self.versions()
        if not vs:
            return {"snapshots_removed": 0, "file_sets_removed": 0}
        horizon = vs[0] if len(vs) <= keep_last else vs[-keep_last]

        def sets(v: int) -> set[str]:
            return set(self.snapshot(v).file_sets)

        b = horizon
        while b > vs[0]:
            prev = vs[vs.index(b) - 1]
            if not (sets(b) & sets(prev)):
                break  # b is a fresh rewrite: chain restarts here
            b = prev
        keep = {v for v in vs if v >= b} | {v for v in protect if v in vs}
        live: set[str] = set()
        for v in keep:
            live.update(sets(v))
        removed_snaps = 0
        for v in vs:
            if v not in keep:
                os.remove(os.path.join(self.snap_dir, f"v{v:05d}.json"))
                removed_snaps += 1
        removed_sets = 0
        for entry in sorted(os.listdir(self.data_dir)):
            p = os.path.join(self.data_dir, entry)
            if p in live or entry in live:
                continue  # Table refs abs dirs; BucketedLog refs names
            if entry.startswith(("_", ".")):
                continue  # catalog markers (_SUCCESS, _bucket_spec…)
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)
            removed_sets += 1
        return {
            "snapshots_removed": removed_snaps,
            "file_sets_removed": removed_sets,
        }


# staging partition column of a bucketed write: each row's bucket id
BUCKET_DIR = "lss_bucket"


class BucketedLog(Table):
    """Append-only log stored as a BUCKETED external parquet table
    (Iceberg bucket-partitioning analogue, VERDICT r1 item 5).

    Why: a crawl round joins its logs on ``canon_url`` (pending()'s
    exact anti-join against ``crawl_log``, the admission anti-join
    against ``frontier_log``); over a plain parquet scan each is a
    full-log Exchange even when the round touches a fraction of the
    frontier.  A bucketed table satisfies the join's (or a ``groupBy``'s)
    ClusteredDistribution at scan time — it runs with NO Exchange over
    the log, so the per-round cost is a co-located scan, never a
    10^10-row shuffle.  (At cluster scale this is
    Iceberg's ``bucket(N, canon_url)`` partition transform; here it is
    Spark native bucketing over an external table.)

    Mechanics: the table is registered in the session catalog
    (``CREATE TABLE ... CLUSTERED BY ... LOCATION ...``, typed from the
    committed schema, never inferred) pointing at this Table's data
    dir; commits write bucket-aligned files (see ``_stage``); the
    snapshot manifest records the FILE NAMES each commit added
    (bucketed files live flat in one location), which keeps atomic
    snapshots, time travel, and rollback working exactly as for
    ``Table``.  A ``_bucket_spec.json`` marker
    makes the storage self-describing — ``Catalog.table`` returns a
    ``BucketedLog`` for any table dir that carries one, so resume in a
    fresh session re-registers the catalog table automatically.
    """

    SPEC_FILE = "_bucket_spec.json"

    def evolve_schema(self, ops, metrics=None) -> int:
        """Not supported: the bucketed log's schema is pinned by its
        catalog DDL (CREATE TABLE ... CLUSTERED BY).  Evolve by
        rewriting into a new log (the Iceberg equivalent of changing a
        partition transform — also a new table)."""
        raise NotImplementedError(
            "BucketedLog schema is pinned by its bucket DDL; "
            "rewrite into a new log to change it"
        )

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        name: str,
        bucket_col: str | None = None,
        n_buckets: int | None = None,
    ):
        super().__init__(spark, root, name)
        spec_path = os.path.join(self.dir, self.SPEC_FILE)
        if bucket_col is not None:
            self.bucket_col, self.n_buckets = bucket_col, int(n_buckets)
            if not os.path.exists(spec_path):
                _atomic_write_json(
                    spec_path,
                    {"bucket_col": bucket_col, "n_buckets": self.n_buckets},
                )
        else:
            with open(spec_path) as f:
                d = json.load(f)
            self.bucket_col, self.n_buckets = d["bucket_col"], d["n_buckets"]
        # catalog identity is derived from the store path — unique per
        # store, stable across sessions (resume re-registers it)
        import hashlib as _hl

        self.cat_name = (
            f"lss_{name}_{_hl.md5(self.dir.encode()).hexdigest()[:10]}"
        )
        self._registered = False

    @property
    def retired_dir(self) -> str:
        """Retention area for files replaced by overwrite or compaction.
        The catalog scan reads ``data_dir`` wholesale, so
        replaced files cannot stay there (the Exchange-free fast path
        requires data_dir == current snapshot) — but deleting them
        outright broke crash-resume: a rollback to a checkpoint BELOW a
        compaction pointed at deleted files (found by direct repro in
        round 4).  Retired files are restored by :meth:`rollback`,
        resolved by historical reads, and purged by
        :meth:`expire_snapshots` once no surviving manifest references
        them."""
        return os.path.join(self.dir, "_retired")

    def _retire(self, names) -> None:
        names = sorted(names)
        if not names:
            return
        os.makedirs(self.retired_dir, exist_ok=True)
        for f in names:
            os.replace(
                os.path.join(self.data_dir, f),
                os.path.join(self.retired_dir, f),
            )

    def _resolve(self, fname: str) -> str:
        """Path of a manifest-referenced file: live dir, else retired."""
        p = os.path.join(self.data_dir, fname)
        return p if os.path.exists(p) else os.path.join(
            self.retired_dir, fname
        )

    def _data_files(self) -> set[str]:
        return {
            f
            for f in os.listdir(self.data_dir)
            if not f.startswith(("_", "."))
        }

    def _register(self, schema: StructType) -> None:
        """The catalog table over ``data_dir`` with the bucket DDL, once
        per session; typed from the schema given, never inferred."""
        if self._registered:
            return
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema
        )
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.cat_name} ({cols}) "
            f"USING PARQUET CLUSTERED BY ({self.bucket_col}) "
            f"INTO {self.n_buckets} BUCKETS LOCATION '{self.data_dir}'"
        )
        self._registered = True

    def _parquet(self, schema: StructType, files: list[str]) -> DataFrame:
        # flat bucket files, live or retired: nothing to discover
        return self.spark.read.schema(schema).parquet(
            *[self._resolve(f) for f in files]
        )

    def _set_rows(self, files: list[str]) -> int:
        import pyarrow.parquet as pq

        return sum(pq.read_metadata(self._resolve(f)).num_rows for f in files)

    def _bucket_id(self):
        """Each row's bucket: pmod(murmur3(bucket_col), n_buckets), the
        function of the bucket spec and of ``repartition(n, col)``."""
        return F.pmod(F.hash(F.col(self.bucket_col)), F.lit(self.n_buckets))

    def _stage(self, df: DataFrame) -> list[str]:
        """Write ``df`` as bucket files and rename them into
        ``data_dir``; returns the new file names.

        The files are written OUTSIDE the catalog write path.  Two
        reasons, both measured:
        - ``insertInto`` ends with an automatic refreshByPath, which
          invalidates EVERY cached plan scanning this table — a crawl
          round's parsed cache reads the frontier, so each frontier
          append silently forced later sinks to recompute the whole
          fetch+parse chain (≈77 s/round at local[4]).
        - an unaligned insert writes (input partitions × buckets)
          files per commit, tripping the compactor every round.
        Mechanics: the staging write is partitioned by each row's
        bucket (:meth:`_bucket_id`), so a file's bucket comes from its
        rows, not from the task that wrote it (Spark drops the
        ``repartition`` below for a frame already hash-partitioned on
        the column at ``n`` partitions, and AQE may then coalesce the
        shuffle left into fewer tasks than buckets).  The bucket id is
        carried in the file NAME (Spark's BucketingUtils parses the
        trailing ``_NNNNN`` group), so a rename turns plain parquet
        output into valid bucket files.  Stray renamed files are
        invisible until a manifest names them: every read path goes
        through file_sets."""
        staging = os.path.join(self.dir, f"_staging_{uuid.uuid4().hex}")
        new_files: list[str] = []
        try:
            (
                # one task, so one file, per bucket
                df.repartition(self.n_buckets, F.col(self.bucket_col))
                .withColumn(BUCKET_DIR, self._bucket_id())
                .write.partitionBy(BUCKET_DIR)
                .mode("overwrite")
                .parquet(staging)
            )
            for d in sorted(os.listdir(staging)):
                if not d.startswith(f"{BUCKET_DIR}="):
                    continue
                b = int(d.partition("=")[2])
                for f in sorted(os.listdir(os.path.join(staging, d))):
                    if not f.startswith("part-"):
                        continue
                    stem, dot, ext = f.partition(".")
                    dst = f"{stem}_{b:05d}{dot}{ext}"
                    os.rename(
                        os.path.join(staging, d, f),
                        os.path.join(self.data_dir, dst),
                    )
                    new_files.append(dst)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return sorted(new_files)

    def _commit(self, df, mode, partition_cols, metrics) -> int:
        """Publish ``df``'s staged files; an overwrite replaces every
        live file and then RETIRES them (not delete: rollback below
        this commit must stay readable; expire_snapshots reclaims them
        once unreferenced).  retries=1: a bucketed log is SINGLE-WRITER
        by contract — the staged-rename scheme assumes no concurrent
        writer is renaming files into data_dir, so a lost claim means
        another writer exists and the commit must fail loudly."""
        assert not partition_cols, "bucketed log: no dir partitions"
        # the live files are retired only after the manifest claim
        # succeeds: a crash in between leaves the current snapshot's
        # files in place
        replaced = self._data_files() if mode != "append" else set()
        new_files = self._stage(df)
        try:
            v = self._publish(
                metrics, new_files, df.schema, None,
                {"__all__": self._set_rows(new_files)},
                replaced=replaced, retries=1, overwrite=mode != "append",
            )
        except Exception:
            # claim lost/failed: roll the renames back so the directory
            # matches the (still-current) previous snapshot exactly
            for f in new_files:
                try:
                    os.remove(os.path.join(self.data_dir, f))
                except OSError:
                    pass
            raise
        self._retire(replaced - set(new_files))
        # register with the first commit, as a later read would: keeps
        # the catalog DDL off the read path of the next round
        self._register(df.schema)
        return v

    def read(self, version: int | None = None) -> DataFrame | None:
        snap = self.snapshot(version)
        if snap is None or not snap.file_sets:
            return None
        if set(snap.file_sets) != self._data_files():
            # historical read (time travel): the file-list scan — correct
            # rows, no bucket metadata (Iceberg keeps it; acceptable
            # here).  Files replaced since ``version`` live in the
            # retired dir.
            return self._scan(snap)
        # current state == snapshot → the BUCKETED catalog scan
        # (groupBy/join on bucket_col runs without Exchange); a fresh
        # session registers it from the manifest's schema
        self._register(StructType.fromJson(snap.vintages[-1]["schema"]))
        # REFRESH happens here, at read time — NOT at commit: a refresh
        # invalidates every cached plan that scans this table, and a
        # crawl round's parsed cache reads the frontier, so a
        # post-append refresh silently forced later sinks to recompute
        # the whole fetch+parse chain (measured 77 s/round at local[4]).
        self.spark.sql(f"REFRESH TABLE {self.cat_name}")
        return self.spark.table(self.cat_name)

    def compact(self) -> int | None:
        snap = self.snapshot()
        if snap is None or len(snap.file_sets) <= self.n_buckets:
            return None
        # the staging write in _stage reads every replaced file before
        # any new one is renamed in or an old one retired, so the log
        # can be rewritten from its own scan; the repartition there
        # re-aligns it to exactly one file per bucket
        return self.overwrite(self.read(), metrics={"compaction": True})

    def rollback(self, version: int) -> None:
        keep = set()
        snap = self.snapshot(version) if version > 0 else None
        if snap is not None:
            keep = set(snap.file_sets)
        # restore files the target snapshot references that a later
        # overwrite/compaction retired (crash-resume across a rewrite:
        # the checkpointed version must read again)
        for f in keep:
            live = os.path.join(self.data_dir, f)
            retired = os.path.join(self.retired_dir, f)
            if not os.path.exists(live) and os.path.exists(retired):
                os.replace(retired, live)
        for f in self._data_files() - keep:
            os.remove(os.path.join(self.data_dir, f))
        # a writer killed inside _stage leaves its staging dir behind;
        # rollback runs only from resume, and the log is single-writer
        for d in os.listdir(self.dir):
            if d.startswith("_staging_"):
                shutil.rmtree(os.path.join(self.dir, d), ignore_errors=True)
        super().rollback(version)
        if self._registered:
            self.spark.sql(f"REFRESH TABLE {self.cat_name}")

    def expire_snapshots(
        self, keep_last: int = 2, protect: tuple[int, ...] = ()
    ) -> dict[str, int]:
        out = super().expire_snapshots(keep_last, protect)
        # reclaim retired files once no surviving manifest references
        # them — the storage-leak backstop for the retention dir
        if os.path.isdir(self.retired_dir):
            live: set[str] = set()
            for v in self.versions():
                live.update(self.snapshot(v).file_sets)
            for f in sorted(os.listdir(self.retired_dir)):
                if f not in live:
                    os.remove(os.path.join(self.retired_dir, f))
                    out["file_sets_removed"] += 1
        return out


class Catalog:
    """Directory of snapshot tables (one crawl-store root).

    Also provides *multi-table checkpoints* (the Iceberg analogue is a
    multi-table transaction / WAP tag): after a crawl round commits all
    its tables, ``save_checkpoint`` records every table's snapshot
    version atomically.  ``restore_last_checkpoint`` rolls every table
    back to the last complete round, so a crash mid-round never leaves
    a torn multi-table state — this is what makes crawls resumable with
    exactly-once table effects (north rule: resumable from checkpoint
    with per-partition lineage).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.ckpt_dir = os.path.join(root, "_checkpoints")
        os.makedirs(root, exist_ok=True)
        os.makedirs(self.ckpt_dir, exist_ok=True)

    def table(self, name: str) -> Table:
        spec = os.path.join(self.root, name, BucketedLog.SPEC_FILE)
        if os.path.exists(spec):
            return BucketedLog(self.spark, self.root, name)
        return Table(self.spark, self.root, name)

    def bucketed_log(
        self, name: str, bucket_col: str, n_buckets: int
    ) -> BucketedLog:
        """Create-or-open a bucket-partitioned append log (see
        BucketedLog).  Self-describing: later ``table(name)`` calls —
        including resume in a fresh session — return the bucketed
        implementation automatically."""
        return BucketedLog(self.spark, self.root, name, bucket_col, n_buckets)

    def save_checkpoint(self, tag: int, versions: dict[str, int],
                        metrics: dict[str, Any] | None = None) -> None:
        _atomic_write_json(
            os.path.join(self.ckpt_dir, f"c{tag:06d}.json"),
            {"tag": tag, "versions": versions, "metrics": metrics or {}},
        )

    def checkpoints(self) -> list[int]:
        return sorted(
            int(f[1:7])
            for f in os.listdir(self.ckpt_dir)
            if f.startswith("c") and f.endswith(".json")
        )

    def load_checkpoint(self, tag: int) -> dict:
        with open(os.path.join(self.ckpt_dir, f"c{tag:06d}.json")) as f:
            return json.load(f)

    def expire_all(
        self, keep_last: int = 2, keep_checkpoints: int = 2
    ) -> dict[str, dict[str, int]]:
        """Store-wide maintenance: trim the checkpoint log to the last
        ``keep_checkpoints`` entries, then expire every table's
        snapshots — versions referenced by the REMAINING checkpoints are
        protected, so ``restore_last_checkpoint`` keeps working."""
        tags = self.checkpoints()
        for t in tags[: max(0, len(tags) - keep_checkpoints)]:
            os.remove(os.path.join(self.ckpt_dir, f"c{t:06d}.json"))
        protect: dict[str, set[int]] = {}
        for t in self.checkpoints():
            for name, v in self.load_checkpoint(t)["versions"].items():
                protect.setdefault(name, set()).add(v)
        out: dict[str, dict[str, int]] = {}
        for name in sorted(os.listdir(self.root)):
            if name.startswith("_") or not os.path.isdir(
                os.path.join(self.root, name)
            ):
                continue
            out[name] = self.table(name).expire_snapshots(
                keep_last, tuple(protect.get(name, ()))
            )
        return out

    def restore_last_checkpoint(self) -> int | None:
        """Roll every table back to the last complete checkpoint.
        Returns its tag, or None if no checkpoint exists."""
        tags = self.checkpoints()
        if not tags:
            return None
        ck = self.load_checkpoint(tags[-1])
        for name, version in ck["versions"].items():
            self.table(name).rollback(version)
        return ck["tag"]


def compaction_plan(
    files: DataFrame,
    target_bytes: int,
    partition_cols: tuple[str, ...] = ("partition",),
    path_col: str = "path",
    size_col: str = "size_bytes",
) -> DataFrame:
    """Small-file compaction planner — the Iceberg
    ``rewrite_data_files(strategy => 'binpack')`` analogue for this
    catalog: group each partition's data files into rewrite groups of
    ~``target_bytes`` so a maintenance job can rewrite each group as
    one task.  The small-files problem is THE operational tax of a
    long-running crawl's append-heavy tables (every round appends a
    few files per bucket; a year of rounds is 10^5 files whose
    per-file open/footer cost dominates scans).

    Packing rule (deterministic, cross-engine): within each partition,
    order files by size DESC then path, and assign
    ``group_id = floor(running_size_before / target_bytes)`` — the
    SQL-friendly segment packing used where true first-fit-decreasing
    would need a sequential fold.  Size-desc ordering keeps groups
    balanced (big files first, tails of small files fill the last
    groups); a group may overshoot by less than its last file, which
    is the same tolerance Iceberg's binpack accepts.  Files already
    ≥ target get a group of their own by construction.

    Returns ``files`` + ``group_id`` (int).

    Scale/plan: the input is the file MANIFEST — O(files), not
    O(data) — so the per-partition window sorts config-sized frames;
    one exchange on the partition key, body bytes never move.  The
    plan's group count is what the rewrite job fans out over.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.desc(size_col), path_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(size_col).over(w), F.lit(0))
    return files.withColumn(
        "group_id", F.floor(before / F.lit(target_bytes)).cast("int")
    )


def analyze_stats(
    df: DataFrame, cols: tuple[str, ...]
) -> DataFrame:
    """``ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS`` analogue:
    per-column row count, null count, exact NDV, and min/max (as
    strings) in LONG format — the column statistics a catalog stores
    so planners can pick broadcast sides, pre-size bloom shards
    (operators/seen.py reads ``total_rows`` today), and choose the
    Jaccard bitset-vs-hash path (operators/dedup.py's vocab probe is
    exactly an NDV stat this table would cache).

    Plan shape: ONE aggregation pass over the data — all per-column
    aggregates ride a single scan.  Multiple exact COUNT(DISTINCT)s
    make Catalyst plan an Expand (one duplicated row-stream per
    distinct column): cost is O(n_cols) × scan, the standard price of
    exact multi-column NDV (this is the maintenance/ANALYZE tier, run
    rarely; swap `approx_count_distinct` in for the cheap variant —
    kept exact here so the DuckDB oracle matches bit-for-bit).  The
    long format comes from exploding an in-row struct array built
    from the single agg row — no driver collect.
    """
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"_null_{c}"),
            F.countDistinct(F.col(c)).alias(f"_ndv_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_max_{c}"),
        ]
    one = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("_n").alias("n_rows"),
                F.col(f"_null_{c}").alias("n_nulls"),
                F.col(f"_ndv_{c}").alias("n_distinct"),
                F.col(f"_min_{c}").alias("min_value"),
                F.col(f"_max_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(entries).alias("s")).select("s.*")


def zorder_key2(a, b, bits: int = 16):
    """Z-order (Morton) interleave of two non-negative int columns —
    the multi-dimensional clustering key behind Delta/Iceberg
    ``OPTIMIZE ZORDER BY (a, b)``: sorting a table by this key keeps
    rows close in BOTH dimensions close on disk, so min/max file
    statistics prune scans for predicates on EITHER column (a
    host-hash × time z-order lets the same crawl-log file set serve
    per-host reads and per-round reads).  Takes the low ``bits`` of
    each input; bit i of ``a`` lands at output bit 2i, bit i of ``b``
    at 2i+1.

    Pure integer codegen (shift/mask folds unrolled at plan build —
    no loop, no UDF), bit-identical across engines; the DuckDB oracle
    runs the same arithmetic.  Use as ``df.repartitionByRange(N,
    zkey).sortWithinPartitions(zkey)`` ahead of a file write.
    """
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = (
            out
            + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(
                F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return out
