"""Snapshot-versioned table store — Iceberg semantics over parquet.

The north rule requires Iceberg tables (atomic snapshot-per-crawl-round,
time travel for resume, per-partition lineage + metrics).  The sandbox
has no Iceberg runtime jar and no network, so this module provides a
minimal, swappable stand-in with the same *semantics*:

- every commit (append or overwrite) writes new parquet files under a
  unique directory, then atomically publishes a JSON manifest listing
  the table's live file-sets (``os.rename`` is atomic on POSIX);
- readers resolve the latest (or any historical) manifest → snapshot
  isolation and time travel;
- each manifest carries per-partition row-count lineage and free-form
  metrics, mirroring Iceberg snapshot summaries.

On a real cluster, ``Catalog`` is replaced by ``spark.table`` /
``df.writeTo(...).append()`` against an Iceberg catalog — the engine
code only touches the four methods below, so the swap is one class.
All data stays distributed: manifests hold file paths and small count
maps, never rows.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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


def apply_schema_ops(df: DataFrame, ops: list | None) -> DataFrame:
    """Replay a snapshot's schema-evolution ops over one file set's raw
    scan (Iceberg resolves the same thing through field IDs).  Ops are
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
    file_sets: list[str]
    lineage: dict[str, Any]
    metrics: dict[str, Any]
    # cumulative live-row count at this version (appends accumulate,
    # overwrites reset).  None only for manifests written before this
    # field existed — readers fall back to the lineage-chain walk.
    total_rows: int | None = None
    # ordered schema-evolution ops applied at read time (Iceberg
    # schema-evolution analogue; see Table.evolve_schema).  None/empty
    # = the table has never evolved.
    schema_ops: list | None = None


class Table:
    """One snapshot-versioned table."""

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
        return Snapshot(
            d["version"], d["file_sets"], d["lineage"], d["metrics"],
            d.get("total_rows"), d.get("schema_ops"),
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

    # -- read ----------------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame | None:
        """DataFrame over the snapshot's file sets; None if table empty.

        Each commit's file set is its own partitioned parquet root, so
        multi-commit snapshots are unioned by name (Spark refuses mixed
        partition roots in one scan).  Partition pruning still applies
        within each set; Iceberg would give a single pruned scan.
        """
        snap = self.snapshot(version)
        if snap is None or not snap.file_sets:
            return None
        # schema ops replay PER SET (sets are vintages: files written
        # before an evolution need the rename/add, later ones don't)
        dfs = [
            apply_schema_ops(self.spark.read.parquet(p), snap.schema_ops)
            for p in snap.file_sets
        ]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    # -- write ---------------------------------------------------------------

    def _commit(
        self,
        df: DataFrame,
        mode: str,
        partition_cols: list[str] | None,
        metrics: dict[str, Any] | None,
    ) -> int:
        new_set = os.path.join(self.data_dir, uuid.uuid4().hex)
        writer = df.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(new_set)
        # per-partition lineage for THIS commit, read from parquet footer
        # metadata (driver-side file walk, no Spark job — the Iceberg
        # analogue is snapshot summary stats, likewise metadata-only)
        lineage = _footer_lineage(new_set, partition_cols)
        commit_rows = sum(lineage.values())

        def build(v: int) -> dict:
            prev = self.snapshot(v - 1) if v > 1 else None
            if mode == "append" and prev is not None:
                file_sets = prev.file_sets + [new_set]
                prev_total = (
                    prev.total_rows
                    if prev.total_rows is not None
                    else self.approx_rows(prev.version)
                )
            else:
                file_sets = [new_set]
                prev_total = 0
            payload = {
                "version": v,
                "file_sets": file_sets,
                "lineage": lineage,
                "metrics": metrics or {},
                "total_rows": prev_total + commit_rows,
            }
            # table-level property: evolution ops survive appends AND
            # overwrites (new data arrives already in current schema;
            # ops are idempotent on it)
            if prev is not None and prev.schema_ops:
                payload["schema_ops"] = prev.schema_ops
            return payload

        return self._claim_version(build)

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

    def _tagged_sets(self, snap: Snapshot, cols: list[str] | None = None):
        """Union of per-set scans, each tagged with its set path.

        Column pruning: when ``cols`` is given only those columns reach
        the parquet scan (the probe job for merge/delete reads key or
        predicate columns, never full rows)."""
        parts = []
        for p in snap.file_sets:
            # current-schema view per vintage, so merge/delete keys and
            # predicates written against the evolved schema resolve on
            # pre-evolution files too
            d = apply_schema_ops(self.spark.read.parquet(p), snap.schema_ops)
            if cols is not None:
                d = d.select(*cols)
            parts.append(d.withColumn("_set", F.lit(p)))
        out = parts[0]
        for d in parts[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    def _swap_sets(
        self,
        base: Snapshot,
        touched: list[str],
        replacement: DataFrame,
        metrics: dict[str, Any] | None,
    ) -> int:
        """Commit ``replacement`` in place of the ``touched`` file sets
        (Iceberg copy-on-write): untouched sets carry over in the new
        manifest with ZERO data movement; only the touched fraction is
        rewritten.  Conflict-checked — if any other writer commits
        between the base read and the claim, the merge aborts instead
        of silently dropping that commit's rows (Iceberg validation)."""
        new_set = os.path.join(self.data_dir, uuid.uuid4().hex)
        replacement.write.mode("overwrite").parquet(new_set)
        lineage = _footer_lineage(new_set, None)
        new_rows = sum(lineage.values())
        touched_rows = sum(
            sum(_footer_lineage(p, None).values()) for p in touched
        )
        # every touched row deleted → don't publish an empty set (a
        # part-file-less parquet dir breaks schema inference on read)
        publish = [new_set] if new_rows > 0 else []

        def build(v: int) -> dict:
            prev = self.snapshot(v - 1) if v > 1 else None
            if prev is None or prev.version != base.version or set(
                prev.file_sets
            ) != set(base.file_sets):
                raise ConcurrentCommitError(
                    f"table {self.name}: snapshot advanced past "
                    f"v{base.version} during a row-level rewrite; "
                    "re-run the merge/delete against the new snapshot"
                )
            prev_total = (
                prev.total_rows
                if prev.total_rows is not None
                else self.approx_rows(prev.version)
            )
            payload = {
                "version": v,
                "file_sets": [
                    s for s in prev.file_sets if s not in set(touched)
                ] + publish,
                "lineage": lineage,
                "metrics": metrics or {},
                "total_rows": prev_total - touched_rows + new_rows,
            }
            if prev.schema_ops:
                payload["schema_ops"] = prev.schema_ops
            return payload

        try:
            v = self._claim_version(build, retries=1)
        except Exception:
            import shutil

            shutil.rmtree(new_set, ignore_errors=True)
            raise
        if not publish:
            import shutil

            shutil.rmtree(new_set, ignore_errors=True)
        return v

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
        touched = [
            r["_set"]
            for r in self._tagged_sets(base, key_cols)
            .join(src_keys, key_cols, "left_semi")
            .select("_set")
            .distinct()
            .collect()
        ]
        if not touched:
            # pure insert — append-shaped commit, no rewrite at all
            return self.append(src, metrics=metrics)
        survivors = (
            self._tagged_sets(
                Snapshot(base.version, touched, {}, {},
                         None, base.schema_ops),
                None,
            )
            .drop("_set")
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
        touched = [
            r["_set"]
            for r in self._tagged_sets(base)
            .filter(cond)
            .select("_set")
            .distinct()
            .collect()
        ]
        if not touched:
            return None
        # survivors = rows where cond is NOT TRUE (a NULL predicate row
        # is kept — SQL DELETE semantics; a bare ~cond would drop it)
        survivors = (
            self._tagged_sets(
                Snapshot(base.version, touched, {}, {},
                         None, base.schema_ops)
            )
            .drop("_set")
            .filter(~F.coalesce(cond, F.lit(False)))
        )
        return self._swap_sets(base, touched, survivors, metrics)

    def approx_rows(self, version: int | None = None) -> int:
        """Row count from manifest lineage (no Spark job).

        Exact for append-only tables.  Each manifest stores its
        CUMULATIVE ``total_rows`` at commit time, so the count does not
        depend on predecessor manifests surviving expiry — a
        checkpoint-protected snapshot below the expiry horizon (whose
        predecessors' manifests are gone) still reports the full count
        (ADVICE r2 item 1; seen.py sizes bloom filters from this).
        Manifests written before the field existed fall back to the
        lineage-chain walk.
        """
        snap = self.snapshot(version)
        if snap is None:
            return 0
        if snap.total_rows is not None:
            return snap.total_rows
        total = 0
        live = set(snap.file_sets)
        for v in self.versions():
            if v > snap.version:
                break
            s = self.snapshot(v)
            # an expired predecessor means v starts a chain at a full
            # rewrite (expire_snapshots only drops history up to such a
            # boundary), so its lineage covers all of its file sets
            prev = self.snapshot(v - 1) if v > 1 else None
            new_sets = set(s.file_sets) - (
                set(prev.file_sets) if prev is not None else set()
            )
            if new_sets & live:
                total += sum(s.lineage.values())
        return total

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
        schema; ops are idempotent on them.  ``compact()`` physically
        materializes the current schema (it rewrites through
        ``read()``), after which the ops are no-ops on every file.
        """
        for op in ops:
            if op.get("op") not in ("rename", "add", "drop"):
                raise ValueError(f"unknown schema op: {op!r}")
            if op["op"] == "add" and "type" not in op:
                raise ValueError(f"add op needs a type: {op!r}")

        def build(v: int) -> dict:
            prev = self.snapshot(v - 1) if v > 1 else None
            prev_total = 0
            if prev is not None and prev.total_rows is not None:
                prev_total = prev.total_rows
            elif prev is not None:
                prev_total = self.approx_rows(prev.version)
            return {
                "version": v,
                "file_sets": prev.file_sets if prev else [],
                "lineage": {},
                "metrics": metrics or {"schema_evolution": True},
                "total_rows": prev_total,
                "schema_ops": (
                    (prev.schema_ops or []) if prev else []
                ) + list(ops),
            }

        return self._claim_version(build)

    def compact(self) -> int | None:
        """Fold a many-commit snapshot into one file set (the Iceberg
        rewrite_data_files maintenance action).  Semantically a no-op."""
        snap = self.snapshot()
        if snap is None or len(snap.file_sets) <= 1:
            return None
        return self.overwrite(self.read(), metrics={"compaction": True})

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
        import shutil

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


class BucketedLog(Table):
    """Append-only log stored as a BUCKETED external parquet table
    (Iceberg bucket-partitioning analogue, VERDICT r1 item 5).

    Why: ``pending()`` dedupes the frontier log with
    ``groupBy(canon_url)`` every round; over a plain parquet scan that
    is a full-log Exchange even when the round touches a fraction of
    the frontier.  A bucketed table satisfies the aggregation's
    ClusteredDistribution at scan time — ``groupBy`` on the bucket
    column runs with NO Exchange, so the per-round cost is a co-located
    scan+agg, never a 10^10-row shuffle.  (At cluster scale this is
    Iceberg's ``bucket(N, canon_url)`` partition transform; here it is
    Spark native bucketing over an external table.)

    Mechanics: the table is registered in the session catalog
    (``CREATE TABLE ... CLUSTERED BY ... LOCATION ...``) pointing at
    this Table's data dir; appends go through ``insertInto`` so every
    file carries bucket metadata; the snapshot manifest records the
    FILE NAMES each commit added (bucketed files live flat in one
    location), which keeps atomic snapshots, time travel, and rollback
    working exactly as for ``Table``.  A ``_bucket_spec.json`` marker
    makes the storage self-describing — ``Catalog.table`` returns a
    ``BucketedLog`` for any table dir that carries one, so resume in a
    fresh session re-registers the catalog table automatically.
    """

    SPEC_FILE = "_bucket_spec.json"

    def evolve_schema(self, ops, metrics=None) -> int:
        """Not supported: the bucketed log's schema is pinned by its
        catalog DDL (CREATE TABLE ... CLUSTERED BY) and every
        ``insertInto`` is position-based against it.  Evolve by
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
        """Retention area for files replaced by overwrite / compaction /
        merge_upsert.  The catalog scan reads ``data_dir`` wholesale, so
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

    def _register(self, df_schema) -> None:
        if self._registered:
            return
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in df_schema
        )
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.cat_name} ({cols}) "
            f"USING PARQUET CLUSTERED BY ({self.bucket_col}) "
            f"INTO {self.n_buckets} BUCKETS LOCATION '{self.data_dir}'"
        )
        self._registered = True

    def _commit(self, df, mode, partition_cols, metrics) -> int:
        assert partition_cols is None, "bucketed log: no dir partitions"
        self._register(df.schema)
        # Write bucket-aligned files OUTSIDE the catalog write path.
        # Two reasons, both measured in round 3:
        # - ``insertInto`` ends with an automatic refreshByPath, which
        #   invalidates EVERY cached plan scanning this table — a crawl
        #   round's parsed cache reads the frontier, so each frontier
        #   append silently forced later sinks to recompute the whole
        #   fetch+parse chain (≈77 s/round at local[4]).
        # - an unaligned insert writes (input partitions × buckets)
        #   files per commit, tripping the compactor every round.
        # Mechanics: ``repartition(n, col)`` assigns partition id
        # pmod(murmur3(col), n) — the SAME function the bucket spec
        # uses — so staged partition i holds exactly bucket i's rows,
        # and the bucket id is carried in the file NAME (Spark's
        # BucketingUtils parses the trailing ``_NNNNN`` group), so a
        # rename turns plain parquet output into valid bucket files.
        import shutil as _sh

        staging = os.path.join(self.dir, f"_staging_{uuid.uuid4().hex}")
        new_files: list[str] = []
        try:
            (
                df.repartition(self.n_buckets, F.col(self.bucket_col))
                .write.mode("overwrite")
                .parquet(staging)
            )
            staged = []
            for f in sorted(os.listdir(staging)):
                if not f.startswith("part-"):
                    continue
                i = int(f.split("-", 2)[1])
                stem, dot, ext = f.partition(".")
                staged.append((f, f"{stem}_{i:05d}{dot}{ext}"))
            # Overwrite renames the staged files IN first and deletes
            # the replaced files only after the manifest claim succeeds
            # (below): a crash between the two steps leaves the current
            # snapshot's file_sets fully readable (stray new files are
            # invisible — every read path goes through file_sets).  The
            # old order (delete → rename) had a window where the live
            # snapshot pointed at deleted files (r3 ADVICE).
            old_files = (
                self._data_files() if mode != "append" else set()
            )
            for src, dst in staged:
                os.rename(
                    os.path.join(staging, src),
                    os.path.join(self.data_dir, dst),
                )
                new_files.append(dst)
        finally:
            _sh.rmtree(staging, ignore_errors=True)
        new_files = sorted(new_files)
        import pyarrow.parquet as pq

        n = sum(
            pq.read_metadata(os.path.join(self.data_dir, f)).num_rows
            for f in new_files
        )

        def build(v: int) -> dict:
            prev = self.snapshot(v - 1) if v > 1 else None
            if mode == "append" and prev is not None:
                file_sets = prev.file_sets + new_files
                prev_total = (
                    prev.total_rows
                    if prev.total_rows is not None
                    else self.approx_rows(prev.version)
                )
            else:
                file_sets = new_files
                prev_total = 0
            return {
                "version": v,
                "file_sets": file_sets,
                "lineage": {"__all__": n},
                "metrics": metrics or {},
                "total_rows": prev_total + n,
            }

        # retries=1: a bucketed log is SINGLE-WRITER by contract — the
        # staged-rename scheme assumes no concurrent writer is renaming
        # files into data_dir, so a lost claim means another writer
        # exists and the commit must fail loudly rather than serialize.
        try:
            v = self._claim_version(build, retries=1)
        except Exception:
            # claim lost/failed: roll the rename back so the directory
            # matches the (still-current) previous snapshot exactly
            for f in new_files:
                try:
                    os.remove(os.path.join(self.data_dir, f))
                except OSError:
                    pass
            raise
        # manifest now points at new_files only — RETIRE replaced files
        # (not delete: rollback below this commit must stay readable;
        # expire_snapshots reclaims them once unreferenced)
        self._retire(old_files - set(new_files))
        return v

    def merge_upsert(
        self, src: DataFrame, metrics: dict[str, Any] | None = None
    ) -> int:
        """MERGE keyed on the bucket column, with BUCKET-level pruning.

        Rows whose ``bucket_col`` appears in ``src`` are replaced by the
        ``src`` row; unmatched ``src`` rows are inserted (caller
        contract: ``src`` distinct on the bucket column).  This is the
        crawl-state upsert — revisit outcomes updating a URL-keyed
        frontier/state log in place.

        Scale shape: no probe scan at all — matched keys can only live
        in the buckets ``pmod(murmur3(key), n)`` of the source keys (the
        same function the bucket spec, ``repartition`` and the staged
        file names use), so the affected-bucket set comes from one
        O(|src|)→O(n_buckets) aggregation, and ONLY files of affected
        buckets are read and rewritten.  An upsert touching k hosts'
        URLs rewrites ≤ k buckets of a 10^10-row log; every other file
        moves into the new manifest untouched.  Replaced files are
        RETIRED once the claim succeeds (moved to ``retired_dir`` —
        the bucketed catalog scan requires data_dir == current
        snapshot, but rollback/time-travel below the rewrite must stay
        readable; expire_snapshots reclaims retired files once
        unreferenced).
        """
        snap = self.snapshot()
        if snap is None or not snap.file_sets:
            return self.append(src, metrics=metrics)
        key, n = self.bucket_col, self.n_buckets
        affected = {
            r["b"]
            for r in src.select(
                F.pmod(F.hash(F.col(key)), F.lit(n)).alias("b")
            )
            .distinct()
            .collect()
        }

        def bucket_of(fname: str) -> int:
            return int(fname.partition(".")[0].rsplit("_", 1)[1])

        touched = [f for f in snap.file_sets if bucket_of(f) in affected]
        if touched:
            old = self.spark.read.parquet(
                *[os.path.join(self.data_dir, f) for f in touched]
            )
            merged = old.join(
                src.select(key).distinct(), [key], "left_anti"
            ).unionByName(src, allowMissingColumns=True)
        else:
            merged = src
        self._register(merged.schema)
        import shutil as _sh

        staging = os.path.join(self.dir, f"_staging_{uuid.uuid4().hex}")
        new_files: list[str] = []
        try:
            (
                merged.repartition(n, F.col(key))
                .write.mode("overwrite")
                .parquet(staging)
            )
            for f in sorted(os.listdir(staging)):
                if not f.startswith("part-"):
                    continue
                i = int(f.split("-", 2)[1])
                if i not in affected:
                    # merged rows hash only to affected buckets by
                    # construction; anything here is an empty part file
                    continue
                stem, dot, ext = f.partition(".")
                dst = f"{stem}_{i:05d}{dot}{ext}"
                os.rename(
                    os.path.join(staging, f),
                    os.path.join(self.data_dir, dst),
                )
                new_files.append(dst)
        finally:
            _sh.rmtree(staging, ignore_errors=True)
        new_files = sorted(new_files)
        import pyarrow.parquet as pq

        def _rows(names: list[str]) -> int:
            return sum(
                pq.read_metadata(
                    os.path.join(self.data_dir, f)
                ).num_rows
                for f in names
            )

        new_rows, touched_rows = _rows(new_files), _rows(touched)

        def build(v: int) -> dict:
            prev = self.snapshot(v - 1) if v > 1 else None
            if prev is None or prev.version != snap.version or set(
                prev.file_sets
            ) != set(snap.file_sets):
                raise ConcurrentCommitError(
                    f"bucketed log {self.name}: snapshot advanced past "
                    f"v{snap.version} during merge_upsert"
                )
            prev_total = (
                prev.total_rows
                if prev.total_rows is not None
                else self.approx_rows(prev.version)
            )
            return {
                "version": v,
                "file_sets": [
                    f for f in prev.file_sets if f not in set(touched)
                ] + new_files,
                "lineage": {"__all__": new_rows},
                "metrics": metrics or {},
                "total_rows": prev_total - touched_rows + new_rows,
            }

        try:
            v = self._claim_version(build, retries=1)
        except Exception:
            for f in new_files:
                try:
                    os.remove(os.path.join(self.data_dir, f))
                except OSError:
                    pass
            raise
        self._retire(set(touched) - set(new_files))
        return v

    def read(self, version: int | None = None) -> DataFrame | None:
        snap = self.snapshot(version)
        if snap is None or not snap.file_sets:
            return None
        if set(snap.file_sets) == self._data_files():
            # current state == snapshot → the BUCKETED catalog scan
            # (groupBy/join on bucket_col runs without Exchange).
            # REFRESH happens here, at read time — NOT in _commit: a
            # refresh invalidates every cached plan that scans this
            # table, and a crawl round's parsed cache reads the
            # frontier, so a post-append refresh silently forced later
            # sinks to recompute the whole fetch+parse chain (measured
            # 77 s/round at local[4]).
            if not self._registered:  # schema inference is a Spark job
                self._register(
                    self.spark.read.parquet(
                        os.path.join(self.data_dir, snap.file_sets[0])
                    ).schema
                )
            self.spark.sql(f"REFRESH TABLE {self.cat_name}")
            return self.spark.table(self.cat_name)
        # historical read (time travel): plain file-list scan — correct
        # rows, no bucket metadata (Iceberg keeps it; acceptable here).
        # Files replaced since ``version`` live in the retired dir.
        return self.spark.read.parquet(
            *[self._resolve(f) for f in snap.file_sets]
        )

    def compact(self) -> int | None:
        snap = self.snapshot()
        if snap is None or len(snap.file_sets) <= self.n_buckets:
            return None
        # overwrite-from-self would delete the very files the lazy plan
        # reads; stage through a scratch parquet dir first (disk-backed
        # and distributed — safe at any table size, unlike a
        # localCheckpoint into executor memory)
        import shutil
        import tempfile

        staging = tempfile.mkdtemp(prefix=f"compact_{self.name}_")
        try:
            self.read().write.mode("overwrite").parquet(staging)
            # overwrite re-aligns to one file per bucket via the
            # repartition in _commit, so a compacted log is exactly
            # n_buckets files
            v = self.overwrite(
                self.spark.read.parquet(staging),
                metrics={"compaction": True},
            )
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return v

    def rollback(self, version: int) -> None:
        keep = set()
        snap = self.snapshot(version) if version > 0 else None
        if snap is not None:
            keep = set(snap.file_sets)
        # restore files the target snapshot references that a later
        # overwrite/compaction/merge retired (crash-resume across a
        # rewrite: the checkpointed version must read again)
        for f in keep:
            live = os.path.join(self.data_dir, f)
            retired = os.path.join(self.retired_dir, f)
            if not os.path.exists(live) and os.path.exists(retired):
                os.replace(retired, live)
        for f in self._data_files() - keep:
            os.remove(os.path.join(self.data_dir, f))
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
