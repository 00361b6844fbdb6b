"""Manifest snapshots: Iceberg's metadata layer re-built on bare parquet.

Bare parquet has no commit protocol, and versioning a table by FULL copy
makes an append or a small merge rewrite the whole table, which is
exactly what Iceberg's manifests exist to avoid (reference:
elt-common/src/elt_common/iceberg/io.py:63-144 works on a real Iceberg
catalog; maintenance/__init__.py:28-62 drives the four maintenance
procedures). This module implements the same metadata design directly:

    root/
      data/<op-uuid>/part-*.parquet   immutable data files
      manifests/v<NNNN>.json          snapshot = file list + per-file stats
      _latest                         pointer to the live snapshot (atomic)

A snapshot manifest lists every live data file with row count, byte size
and per-column min/max/null-count stats. That single structure buys, at
any table size:

- **O(batch) append** — new manifest = parent's file list + the new files;
  nothing is rewritten, commit cost is independent of table size.
- **Copy-on-write merge that SKIPS files** — only files whose stats
  range intersects the update keys are rewritten; the rest carry over
  by reference. A 1 GB merge into a 100 TB table
  touches the overlapping files, not the table (Iceberg CoW MERGE's file
  skipping, realized with the same min/max pruning).
- **Stats-based scan pruning** — `scan()` drops files whose min/max
  cannot satisfy the filter BEFORE Spark ever lists them (the manifest
  half of Iceberg scan planning; parquet footer pruning still applies
  within each file that survives).
- **Executable maintenance** — the reference's four nightly procedures
  (rewrite_data_files / rewrite_manifests / expire_snapshots /
  remove_orphan_files, maintenance/__init__.py:34-51) run for real here:
  see :func:`snapshot_maintenance`.

Commit protocol: data files are written first (invisible until
referenced), the manifest is created with ``O_EXCL`` (two racing writers
for the same version → exactly one wins, the loser gets
:class:`CommitConflict` and retries on the new parent), then the pointer
flips via ``os.replace`` (atomic on POSIX). A crash at ANY point leaves
readers on the previous snapshot; half-written data dirs are garbage
collected later by ``remove_orphan_files``. Object stores without atomic
rename need a catalog for the pointer flip — same caveat as every
filesystem commit protocol, documented not hidden.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

_POINTER = "_latest"

# stats are kept for leaf columns of these Spark simpleString() types —
# orderable scalars where min/max pruning is sound
_STATS_TYPES = {
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "date", "string", "boolean",
}


class CommitConflict(RuntimeError):
    """Another writer committed the same snapshot version first. The data
    files written by the losing writer are unreferenced (orphans); retry
    the operation against the new live snapshot."""


@dataclass
class DataFile:
    path: str
    rows: int
    bytes: int
    # col -> {"min": v, "max": v, "nulls": n} (JSON-encodable scalars)
    stats: dict[str, dict] = field(default_factory=dict)

    def to_json(self) -> dict:
        return {"path": self.path, "rows": self.rows, "bytes": self.bytes, "stats": self.stats}

    @staticmethod
    def from_json(d: dict) -> "DataFile":
        return DataFile(d["path"], d["rows"], d["bytes"], d.get("stats", {}))

    def may_contain(self, col: str, lo, hi) -> bool:
        """Could this file hold a row with ``col`` in [lo, hi]? True when
        unknown (no stats / all-null col tracked as nulls-only → False
        only for non-null ranges). Date/datetime bounds are compared in
        the same ISO-string form the manifest stores (order-preserving)."""
        s = self.stats.get(col)
        if s is None:
            return True
        if s.get("min") is None or s.get("max") is None:
            # nulls-only file: cannot satisfy a non-null range predicate
            return False
        lo, hi = _jsonable(lo), _jsonable(hi)
        return not (s["max"] < lo or s["min"] > hi)


@dataclass
class Snapshot:
    version: int
    parent: int | None
    op: str
    ts: float
    files: list[DataFile]
    # merge-on-read equality-delete files: [{"path":…, "keys":[…], "rows":N}]
    delete_files: list[dict] = field(default_factory=list)

    @property
    def rows(self) -> int:
        return sum(f.rows for f in self.files)


class SnapshotTable:
    def __init__(self, spark: SparkSession, root: str, stats_cols: list[str] | None = None,
                 cluster_by: list[str] | None = None, cluster_files: int | None = None):
        """``stats_cols`` limits per-file stats collection (None = every
        orderable leaf column). Stats come from the metadata of the freshly
        written batch (:meth:`_write_files`) — never from the whole table.

        ``cluster_by`` range-partitions each written batch on the given
        columns: every data file then covers a TIGHT value range, which is
        what makes the manifest min/max stats actually prune (on unsorted
        data every file spans the whole domain and ``scan``/CoW skipping
        degrade to full scans — same reason Iceberg pairs its metadata
        with a write sort order). ``cluster_files`` pins the
        range-partition count per batch (AQE otherwise coalesces small
        batches to one file, defeating the layout at test scale; at
        production scale leave it None)."""
        self.spark = spark
        self.root = root
        self.stats_cols = stats_cols
        self.cluster_by = cluster_by
        self.cluster_files = cluster_files
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)

    # -- snapshot bookkeeping ------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, "manifests", f"v{version:06d}.json")

    def current_version(self) -> int | None:
        try:
            with open(os.path.join(self.root, _POINTER)) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def versions(self) -> list[int]:
        out = []
        for name in os.listdir(os.path.join(self.root, "manifests")):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def snapshot(self, version: int | None = None) -> Snapshot:
        v = self.current_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"snapshot table {self.root} has no committed snapshot")
        with open(self._manifest_path(v)) as f:
            d = json.load(f)
        return Snapshot(
            d["version"], d.get("parent"), d["op"], d["ts"],
            [DataFile.from_json(x) for x in d["files"]],
            d.get("delete_files", []),
        )

    def history(self) -> list[dict]:
        """Snapshot log (version, op, ts, file/row counts) — the audit
        surface Iceberg exposes as the ``snapshots`` metadata table."""
        out = []
        for v in self.versions():
            s = self.snapshot(v)
            out.append({
                "version": s.version, "parent": s.parent, "op": s.op,
                "ts": s.ts, "n_files": len(s.files), "rows": s.rows,
            })
        return out

    def _commit(self, files: list[DataFile], op: str,
                schema_json: str | None = None,
                properties: dict[str, str] | None = None,
                delete_files: list[dict] | None = None) -> int:
        parent = self.current_version()
        if schema_json is None and parent is not None:
            schema_json = self._schema_json(parent)
        if properties is None and parent is not None:
            properties = self._manifest_field(parent, "properties") or {}
        if delete_files is None and parent is not None:
            delete_files = self._manifest_field(parent, "delete_files") or []
        next_v = (max(self.versions(), default=0)) + 1
        manifest = {
            "version": next_v,
            "parent": parent,
            "op": op,
            "ts": time.time(),
            "schema": schema_json,
            "properties": properties or {},
            "delete_files": delete_files or [],
            "files": [f.to_json() for f in files],
        }
        path = self._manifest_path(next_v)
        try:
            fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        except FileExistsError as exc:
            raise CommitConflict(
                f"snapshot v{next_v} of {self.root} was committed concurrently; "
                "retry against the new live snapshot"
            ) from exc
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        # The pointer flip must be atomic WITH a parent re-check. The
        # O_EXCL manifest create only conflicts when two committers race
        # to the SAME next_v; a committer whose parent went stale between
        # reading it and numbering its manifest (the other side already
        # committed, so max(versions)+1 moved past the collision) would
        # otherwise flip the pointer onto a lineage that silently DROPS
        # the winner's rows. The lock guards two file ops (microseconds,
        # no data work); a lock abandoned by a crash is stolen by age.
        lock = os.path.join(self.root, _POINTER + ".lock")
        deadline = time.time() + 30.0
        while True:
            try:
                lfd = os.open(lock, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
                break
            except FileExistsError:
                try:
                    held = time.time() - os.path.getmtime(lock)
                except FileNotFoundError:
                    continue  # released between open and stat — retry now
                if held > 10.0:
                    try:
                        os.unlink(lock)  # crashed holder; section is fast
                    except FileNotFoundError:
                        pass
                    continue
                if time.time() > deadline:
                    raise
                time.sleep(0.005)
        try:
            if self.current_version() != parent:
                os.unlink(path)  # our manifest never became current
                raise CommitConflict(
                    f"snapshot of {self.root} advanced past v{parent} while "
                    f"v{next_v} was being prepared; retry against the new "
                    "live snapshot"
                )
            # unique tmp per committer: a SHARED tmp name let a racing
            # commit rename it away and the loser die on FileNotFoundError
            tmp = os.path.join(
                self.root, f"{_POINTER}.tmp.{uuid.uuid4().hex}"
            )
            with open(tmp, "w") as f:
                f.write(str(next_v))
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, os.path.join(self.root, _POINTER))
        finally:
            os.close(lfd)
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass  # a >10s stall got our lock stolen; flip already done
        return next_v

    # -- data-file production ------------------------------------------------

    def _write_files(self, df: DataFrame) -> list[DataFile]:
        """Write ``df`` into a fresh immutable dir and enumerate the files
        with per-file stats — O(batch), never O(table). The stats come from
        the parquet footers the write produced, with no second Spark job
        (:func:`footer_datafiles`; ``session.py`` pins
        ``parquet.statistics.truncate.length`` so parquet-mr never
        truncates string bounds). Where a footer holds no exact bound —
        string min + max of 4 KB or more, a NaN, a missing null count, or
        string/float bounds of the driver-side (pyarrow) writer — one
        per-file aggregation over the just-written files, read with
        ``df``'s schema, takes its place."""
        d = os.path.join(self.root, "data", uuid.uuid4().hex)
        if self.cluster_by:
            parts = [self.cluster_files] if self.cluster_files else []
            df = df.repartitionByRange(*parts, *self.cluster_by).sortWithinPartitions(
                *self.cluster_by
            )
        if not self._try_local_write(df, d):
            df.write.mode("errorifexists").parquet(d)
        cols = self._statable_cols(df.schema)
        out = footer_datafiles(d, cols)
        return out if out is not None else self._scan_datafiles(d, df.schema, cols)

    def _scan_datafiles(self, d: str, schema, cols: list[str]) -> list[DataFile]:
        """The stats fallback: ONE per-file (map-side) aggregation, grouped
        by ``input_file_name()``, over the files just written to ``d``."""
        written = self.spark.read.schema(schema).parquet(d)
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in cols:
            aggs += [
                F.min(c).alias(f"__min_{c}"),
                F.max(c).alias(f"__max_{c}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}"),
            ]
        per_file = (
            written.groupBy(F.input_file_name().alias("__path")).agg(*aggs).collect()
        )
        by_path = {_strip_scheme(r["__path"]): r for r in per_file}
        out = []
        for p in _parquet_files(d):
            r = by_path.get(p)
            if r is None:
                continue  # zero-row part file: reference nothing, GC later
            stats = {
                c: {
                    "min": _jsonable(r[f"__min_{c}"]),
                    "max": _jsonable(r[f"__max_{c}"]),
                    "nulls": r[f"__nulls_{c}"],
                }
                for c in cols
            }
            out.append(DataFile(p, r["__rows"], os.path.getsize(p), stats))
        return out

    _LOCAL_WRITE_TYPES = {
        "tinyint": "int8", "smallint": "int16", "int": "int32",
        "bigint": "int64", "float": "float32", "double": "float64",
        "string": "string", "boolean": "bool_", "date": "date32",
    }

    def _try_local_write(self, df: DataFrame, d: str) -> bool:
        """Driver-side parquet write for LITERAL frames — plans Spark can
        collect without executors (``createDataFrame`` of an Arrow table or
        pandas frame; a Python list plans as an RDD scan). The executor write
        path costs a full Spark job (task launch + commit protocol) to
        produce one tiny file; pyarrow writes the same file in-process.
        Scalar types only; anything else (and any non-local plan, which
        includes every cluster_by write — repartition makes the
        frame non-local) takes the normal executor write. The footer/scan
        stats enumeration downstream reads the file identically."""
        try:
            if not df.isLocal():
                return False
        except Exception:
            return False
        types = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        if not types or any(t not in self._LOCAL_WRITE_TYPES for _, t in types):
            return False
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = df.collect()
        cols = [
            pa.array(
                [r[i] for r in rows],
                type=getattr(pa, self._LOCAL_WRITE_TYPES[t])(),
            )
            for i, (_, t) in enumerate(types)
        ]
        table = pa.Table.from_arrays(cols, names=[n for n, _ in types])
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "part-00000-local.parquet"))
        return True

    def _statable_cols(self, schema) -> list[str]:
        cols = [
            f.name for f in schema.fields
            if f.dataType.simpleString() in _STATS_TYPES
        ]
        if self.stats_cols is not None:
            cols = [c for c in cols if c in self.stats_cols]
        return cols

    # -- writes --------------------------------------------------------------

    def replace(self, df: DataFrame) -> int:
        return self.commit_staged_replace(self._write_files(df), df.schema)

    def commit_staged_replace(self, files: list[DataFile], schema) -> int:
        """Commit pre-written files (:meth:`_write_files`) as a replace —
        the driver-side half, for transactions that stage writes first."""
        return self._commit(files, "replace", schema.json())

    def append(self, df: DataFrame) -> int:
        """O(batch): parent files carried over by reference.

        Additive schema evolution: batch columns the table lacks extend
        the table schema (recorded in the manifest — readers project old
        files to the merged schema, surfacing NULLs, with no per-file
        footer merge); table columns the batch lacks arrive as NULLs.
        Type changes on an existing column are rejected."""
        return self.commit_staged_append(self._write_files(df), df.schema)

    def commit_staged_append(self, files: list[DataFile], schema) -> int:
        """Commit pre-written files (:meth:`_write_files`) as an append —
        the driver-side half, for transactions that stage writes first.
        Schema-evolution semantics are :meth:`append`'s, evaluated against
        the table state at COMMIT time."""
        if self.current_version() is None:
            return self._commit(files, "append", schema.json())
        merged = self._merge_schema(self._read_schema(), schema)
        parent = self.snapshot().files
        return self._commit(parent + files, "append", merged.json())

    def merge(self, updates: DataFrame, keys: list[str], op: str = "merge") -> int:
        """Copy-on-write upsert with file skipping.

        Files whose key-range stats cannot intersect the update batch's
        key range carry over BY REFERENCE; only intersecting files are
        read, anti-joined and rewritten together with the updates. This is
        the pruning Iceberg's CoW MERGE performs from manifest stats — the
        reason merging 1 GB into 100 TB does not rewrite 100 TB.
        """
        if self.current_version() is None:
            return self._commit(self._write_files(updates), op, updates.schema.json())
        self._require_no_pending_deletes("merge")
        updates = updates.persist()
        try:
            row = updates.agg(
                *[F.min(k).alias(f"lo_{k}") for k in keys],
                *[F.max(k).alias(f"hi_{k}") for k in keys],
            ).collect()[0]
            lows = {k: row[f"lo_{k}"] for k in keys}
            his = {k: row[f"hi_{k}"] for k in keys}
            files = self.snapshot().files
            if any(lows[k] is None for k in keys):
                # empty batch or null keys: no sound pruning bound
                touched, kept = list(files), []
            else:
                touched, kept = [], []
                for fl in files:
                    hit = all(fl.may_contain(k, lows[k], his[k]) for k in keys)
                    (touched if hit else kept).append(fl)
            if touched:
                current = self._read_files([f.path for f in touched])
                survivors = current.join(
                    updates.select(*keys).distinct(), keys, "left_anti"
                )
                rewritten = self._write_files(
                    survivors.unionByName(updates.select(*current.columns))
                )
            else:
                rewritten = self._write_files(updates)
            return self._commit(kept + rewritten, op)
        finally:
            updates.unpersist()

    def _require_no_pending_deletes(self, op: str) -> None:
        if self.current_version() is not None and self.snapshot().delete_files:
            raise ValueError(
                f"{op} on a table with pending merge-on-read deletes would "
                "mix delete semantics; call apply_deletes() first"
            )

    # -- merge-on-read equality deletes (Iceberg v2 delete files) ------------

    def delete_keys_mor(
        self, keys: DataFrame, key_cols: list[str], distinct: bool = True
    ) -> int:
        """Merge-on-read DELETE: write the key tuples as an equality-delete
        file and commit — O(|keys|), NO data file is rewritten (a
        copy-on-write delete would rewrite every candidate file; at 100 TB a
        trickle of row deletes cannot afford that). Readers anti-join the
        delete file against the data files it applies to.

        Sequence semantics match Iceberg: the delete applies only to data
        files ALREADY PRESENT at commit time (``applies_to``) — rows
        appended later with the same key are NOT deleted. Reads stay
        O(data + deletes); ``apply_deletes`` materializes and clears.
        """
        return self.commit_staged_deletes(
            [self.stage_delete_keys(keys, key_cols, distinct=distinct)]
        )

    def stage_delete_keys(
        self, keys: DataFrame, key_cols: list[str], distinct: bool = True
    ) -> dict:
        """Write an equality-delete key file WITHOUT committing — the
        write half of :meth:`delete_keys_mor`, so a multi-part transaction
        can run every part's write jobs concurrently and apply the ordered
        manifest commits afterwards (driver-side microseconds). Returns
        the manifest entry stub; ``applies_to`` is filled at commit time
        so the delete binds to exactly the files present then. The row
        count comes from the parquet footers (no read-back job).
        ``distinct=False`` skips the pre-write dedup shuffle when the
        caller's keys are unique by construction — duplicate keys in a
        delete file would be semantically harmless (the read side is an
        anti-join), so the flag only affects file size."""
        import pyarrow.parquet as pq

        d = os.path.join(self.root, "data", uuid.uuid4().hex)
        sel = keys.select(*key_cols)
        if distinct:
            sel = sel.distinct()
        sel.coalesce(1).write.parquet(d)
        paths = [
            os.path.join(d, n) for n in sorted(os.listdir(d)) if n.endswith(".parquet")
        ]
        n = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
        return {
            "path": paths[0],
            "extra_paths": paths[1:],
            "key_cols": key_cols,
            "rows": n,
        }

    def commit_staged_deletes(self, stubs: list[dict]) -> int:
        """Commit staged equality-delete files as ONE new version. Multiple
        stubs in one commit are equivalent to committing them back-to-back
        (each entry anti-joins independently and a delete-mor commit does
        not change the data file set), for a single manifest write."""
        snap = self.snapshot()
        applies = [f.path for f in snap.files]
        entries = [{**s, "applies_to": applies} for s in stubs]
        return self._commit(
            snap.files, "delete-mor", delete_files=snap.delete_files + entries
        )

    def apply_deletes(self) -> int:
        """Materialize pending equality deletes (the read-side anti-joins)
        into rewritten data files and clear the delete list — the
        compaction step that keeps merge-on-read read costs bounded. A
        table built with ``cluster_by`` keeps its layout
        through the rewrite (``_write_files`` clusters every batch), so
        stats-pruned reads survive compaction."""
        s = self.snapshot()
        if not s.delete_files:
            return s.version
        rewritten = self._write_files(self.read())
        return self._commit(rewritten, "apply-deletes", delete_files=[])

    def _apply_delete_files(self, df: DataFrame, applicable: list[dict]) -> DataFrame:
        for entry in applicable:
            paths = [entry["path"], *entry.get("extra_paths", [])]
            keys = self.spark.read.parquet(*paths)
            # delete files are O(deleted keys) by construction — broadcast
            # them so the data side streams map-side instead of shuffling
            # the whole table to apply a trickle of deletes
            df = df.join(F.broadcast(keys), entry["key_cols"], "left_anti")
        return df

    # -- reads ---------------------------------------------------------------

    def _read_files(self, paths: list[str], version: int | None = None) -> DataFrame:
        """Read specific data files projected to the table schema of
        ``version`` (default live): post-evolution and pre-evolution files
        align, missing columns surface as NULL."""
        reader = self.spark.read
        schema = self._read_schema(version)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    def _manifest_field(self, version: int, key: str):
        with open(self._manifest_path(version)) as f:
            return json.load(f).get(key)

    def _schema_json(self, version: int | None = None) -> str | None:
        v = self.current_version() if version is None else version
        if v is None:
            return None
        return self._manifest_field(v, "schema")

    # -- table properties (the state store TableIO keeps in TBLPROPERTIES;
    #    here they ride the manifest, so property updates are snapshots too
    #    and roll back / time-travel WITH the data they describe) ----------

    def set_properties(self, props: dict[str, str]) -> int:
        cur = dict(self.properties())
        cur.update(props)
        files = self.snapshot().files if self.current_version() else []
        return self._commit(files, "set-properties", properties=cur)

    def properties(self, version: int | None = None) -> dict[str, str]:
        v = self.current_version() if version is None else version
        if v is None:
            return {}
        return self._manifest_field(v, "properties") or {}

    def get_property(self, key: str) -> str | None:
        return self.properties().get(key)

    def _read_schema(self, version: int | None = None):
        from pyspark.sql.types import StructType

        sj = self._schema_json(version)
        return StructType.fromJson(json.loads(sj)) if sj else None

    @staticmethod
    def _merge_schema(current, incoming):
        """Additive union: current fields keep their order/types; unseen
        incoming fields append. A type change is an error, not a cast."""
        from pyspark.sql.types import StructType

        if current is None:
            return incoming
        by_name = {f.name: f for f in incoming.fields}
        for f in current.fields:
            inc = by_name.get(f.name)
            if inc is not None and inc.dataType != f.dataType:
                raise ValueError(
                    f"schema evolution is additive-only: column {f.name!r} "
                    f"changed type {f.dataType.simpleString()} -> "
                    f"{inc.dataType.simpleString()}"
                )
        extra = [f for f in incoming.fields if f.name not in {g.name for g in current.fields}]
        return StructType(current.fields + extra)

    def read(self, version: int | None = None) -> DataFrame:
        s = self.snapshot(version)
        if not s.files:
            # a zero-file snapshot (e.g. a state part a takedown emptied)
            # is an empty table with the manifest schema
            schema = self._read_schema(version)
            if schema is None:
                raise FileNotFoundError(
                    f"snapshot v{s.version} of {self.root} is empty and records no schema"
                )
            return self.spark.createDataFrame([], schema)
        return self._mor_grouped_read(s, [f.path for f in s.files], version)

    def _mor_grouped_read(
        self, s: Snapshot, paths: list[str], version: int | None
    ) -> DataFrame:
        """Read the given subset of a snapshot's data files with its
        merge-on-read deletes applied: group files by WHICH delete files
        apply (sequence semantics — a delete touches only files present
        at its commit), anti-join each group, union the groups back."""
        if not s.delete_files:
            return self._read_files(paths, version)
        wanted = set(paths)
        applies = [set(e["applies_to"]) for e in s.delete_files]
        groups: dict[tuple[int, ...], list[str]] = {}
        for f in s.files:
            if f.path not in wanted:
                continue
            key = tuple(i for i, a in enumerate(applies) if f.path in a)
            groups.setdefault(key, []).append(f.path)
        parts = []
        for key, grp in sorted(groups.items()):
            df = self._read_files(grp, version)
            parts.append(
                self._apply_delete_files(df, [s.delete_files[i] for i in key])
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def files_in(
        self, col: str, values, version: int | None = None
    ) -> list[str]:
        """Manifest-stat file pruning for a VALUE-SET predicate: the paths
        of files whose [min, max] for ``col`` can contain at least one of
        ``values`` (files with no stats for the column are kept — pruning
        must never drop a possible match)."""
        s = self.snapshot(version)
        vals = sorted(set(values))
        return [
            f.path
            for f in s.files
            if any(f.may_contain(col, v, v) for v in vals)
        ]

    def scan_in(self, col: str, values, version: int | None = None) -> DataFrame:
        """Value-set pruned scan — partition-style pruning over a CLUSTERED
        column (files written range-partitioned on ``col`` carry tight
        min/max stats, so a small value set touches few files; unclustered
        files degrade to a full read, never to a wrong one). Merge-on-read
        deletes apply to the pruned subset; the row filter
        ``col IN values`` is applied on top (stats prune files, not rows)."""
        vals = sorted(set(values))
        if not vals:
            return self.read(version).where(F.lit(False))
        paths = self.files_in(col, vals, version)
        if not paths:
            return self.read(version).where(F.lit(False))
        s = self.snapshot(version)
        return self._mor_grouped_read(s, paths, version).where(
            F.col(col).isin(*vals)
        )

    def scan(self, col: str, lo, hi, version: int | None = None) -> DataFrame:
        """Manifest-pruned range scan: only files whose [min, max] for
        ``col`` intersects [lo, hi] reach Spark's file listing; the range
        filter is still applied (stats prune files, not rows). Pending
        merge-on-read deletes apply to the candidate files only, so the
        pruning holds before ``apply_deletes`` too."""
        s = self.snapshot(version)
        candidates = [f.path for f in s.files if f.may_contain(col, lo, hi)]
        if not candidates:
            return self.read(version).where(F.lit(False))
        return self._mor_grouped_read(s, candidates, version).where(
            (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
        )

    def changelog(
        self,
        from_version: int,
        to_version: int | None = None,
        key_cols: list[str] | None = None,
    ) -> tuple[DataFrame, DataFrame]:
        """(appeared_rows, evicted_keys) across a snapshot range, derived
        ENTIRELY from the commit manifests — Iceberg's CDC/changelog read.
        ``appeared_rows`` are the rows of data files ADDED in the range
        with the range's merge-on-read deletes applied (a row appended and
        then deleted inside the range nets to zero); ``evicted_keys`` are
        the key tuples of equality-delete files COMMITTED in the range,
        minus keys introduced by intra-range appends (never live at
        ``from_version``). Cost is O(delta): the file-set subtraction is
        manifest metadata, and only delta-sized files are ever read — no
        version-diff join, nothing state-sized shuffles.

        Exact under append lineage + the writer discipline the incremental
        pipeline enforces: commits in the range are appends /
        merge-on-read deletes / rebase rollbacks, delete files carry only
        keys live at their commit, and appends never re-introduce a live
        key (the stable-id precondition). Rewrites (apply_deletes,
        compaction, replace, CoW delete/update) surface full contents in
        an incremental read, so a range containing one refuses loudly —
        compute changelogs per tick, or before maintenance windows."""
        if key_cols is None:
            raise ValueError("changelog requires key_cols (the equality-delete key)")
        s_from = self.snapshot(from_version)
        s_to = self.snapshot(to_version)
        old_paths = {f.path for f in s_from.files}
        to_paths = {f.path for f in s_to.files}
        missing = old_paths - to_paths
        if missing:
            raise ValueError(
                f"changelog({from_version}..{s_to.version}) on {self.root}: "
                f"{len(missing)} data file(s) present at from_version are gone "
                "— the range contains a rewrite (apply_deletes / compaction / "
                "replace / CoW DML); changelog requires append lineage"
            )
        old_dels = {e["path"] for e in s_from.delete_files}
        to_dels = {e["path"] for e in s_to.delete_files}
        if old_dels - to_dels:
            raise ValueError(
                f"changelog({from_version}..{s_to.version}) on {self.root}: "
                "delete files present at from_version were materialized in "
                "the range; changelog requires append lineage"
            )
        new_paths = [f.path for f in s_to.files if f.path not in old_paths]
        if new_paths:
            appeared = self._mor_grouped_read(s_to, new_paths, s_to.version)
        else:
            schema = self._read_schema(s_to.version)
            appeared = (
                self.spark.createDataFrame([], schema)
                if schema is not None
                else self.read(s_to.version).where(F.lit(False))
            )
        new_entries = [e for e in s_to.delete_files if e["path"] not in old_dels]
        evicted = None
        for e in new_entries:
            if list(e["key_cols"]) != list(key_cols):
                raise ValueError(
                    f"delete file {e['path']} is keyed on {e['key_cols']}, "
                    f"changelog asked for {key_cols}"
                )
            keys = self.spark.read.parquet(e["path"], *e.get("extra_paths", []))
            evicted = keys if evicted is None else evicted.unionByName(keys)
        if evicted is None:
            evicted = appeared.select(*key_cols).where(F.lit(False))
        else:
            evicted = evicted.distinct()
            if new_paths:
                # a key appended inside the range and deleted later in the
                # range was never live at from_version — net zero (both
                # sides are delta-sized; nothing resident is touched)
                evicted = evicted.join(
                    self.spark.read.parquet(*new_paths).select(*key_cols),
                    list(key_cols),
                    "left_anti",
                )
        return appeared, evicted

    # -- refs: branches and tags (Iceberg's named references) ----------------

    def _refs_path(self) -> str:
        return os.path.join(self.root, "_refs.json")

    def refs(self) -> dict[str, int]:
        try:
            with open(self._refs_path()) as f:
                return {k: int(v) for k, v in json.load(f).items()}
        except FileNotFoundError:
            return {}

    def _write_refs(self, refs: dict[str, int]) -> None:
        tmp = self._refs_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(refs, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._refs_path())

    def set_ref(self, name: str, version: int | None = None) -> int:
        """Create/move a named ref (tag or branch head) to ``version``
        (default: the live snapshot). Refs pin snapshots against
        ``expire_snapshots`` via :meth:`resolve_ref` consumers passing
        them as keep roots — and give audits a stable name
        ('prod', 'audit-2026-08-14') instead of a raw version number."""
        v = self.current_version() if version is None else version
        if v not in self.versions():
            raise FileNotFoundError(f"cannot ref missing version {v}")
        refs = self.refs()
        refs[name] = v
        self._write_refs(refs)
        return v

    def resolve_ref(self, name: str) -> int:
        refs = self.refs()
        if name not in refs:
            raise KeyError(f"no ref {name!r} on {self.root}")
        return refs[name]

    def drop_ref(self, name: str) -> None:
        refs = self.refs()
        refs.pop(name, None)
        self._write_refs(refs)

    # -- metadata tables (Iceberg's `snapshots` / `files` inspection) --------

    def rollback(self, version: int) -> int:
        """Roll back = new snapshot referencing the old snapshot's files,
        schema, properties AND merge-on-read delete files (Iceberg's
        rollback keeps history linear; a raw pointer flip would orphan the
        intermediate snapshots' lineage). Restoring properties with the
        files is what keeps manifest-resident state — e.g. the ingest
        watermark — consistent with the data after a restore; restoring
        the DELETE list is what stops a rolled-back MOR delete from still
        applying to the restored files (its ``applies_to`` names them)."""
        old = self.snapshot(version)
        return self._commit(
            old.files,
            f"rollback(v{version})",
            schema_json=self._schema_json(version),
            properties=self._manifest_field(version, "properties") or {},
            delete_files=old.delete_files,
        )

    # -- maintenance (executable M1-M4) --------------------------------------

    def rewrite_data_files(self, target_file_bytes: int = 128 * 1024 * 1024,
                           min_input_files: int = 2) -> dict:
        """M1 ``rewrite_data_files`` (binpack): coalesce undersized files
        into ~target-size files; files already at target carry over BY
        REFERENCE. Commits a new snapshot; old files stay for time travel
        until expired.

        The small files are read with the manifest schema (no inference
        job; after an additive evolution an inferred schema would come from
        ONE file and drop the columns older files lack) and narrowed with
        ``coalesce`` (no exchange), so a binpack is one write job."""
        s = self.snapshot()
        if s.delete_files:
            # binpack would resurrect MOR-deleted rows; materialize first
            self.apply_deletes()
            s = self.snapshot()
        small = [f for f in s.files if f.bytes < target_file_bytes // 2]
        big = [f for f in s.files if f.bytes >= target_file_bytes // 2]
        if len(small) < min_input_files:
            return {"rewritten": 0, "kept": len(s.files), "version": s.version}
        df = self._read_files([f.path for f in small])
        total = sum(f.bytes for f in small)
        parts = max(1, -(-total // target_file_bytes))
        rewritten = self._write_files(df.coalesce(parts))
        v = self._commit(big + rewritten, "rewrite_data_files")
        return {"rewritten": len(small), "kept": len(big), "version": v}

    def rewrite_manifests(self) -> int:
        """M2 ``rewrite_manifests``: re-emit the live manifest with
        re-verified file sizes and deterministic ordering (our manifests
        are one JSON per snapshot; the Iceberg operation re-groups avro
        manifest files — the invariant re-established is the same: the
        metadata exactly matches the live data files)."""
        s = self.snapshot()
        files = sorted(
            (DataFile(f.path, f.rows, os.path.getsize(f.path), f.stats) for f in s.files),
            key=lambda f: f.path,
        )
        return self._commit(files, "rewrite_manifests")

    def expire_snapshots(self, keep_last: int = 3, older_than_ts: float | None = None) -> dict:
        """M3 ``expire_snapshots``: drop old manifests (never the live
        one), then delete data files no surviving snapshot references.
        Bounds time-travel history AND reclaims storage — running it is
        what makes copy-on-write sustainable."""
        live = self.current_version()
        vs = self.versions()
        expire = set(vs[:-keep_last]) if keep_last else set(vs)
        if older_than_ts is not None:
            expire = {v for v in expire if self.snapshot(v).ts < older_than_ts}
        expire.discard(live)
        for ref_v in self.refs().values():
            expire.discard(ref_v)  # named refs pin their snapshots
        survivors = [v for v in vs if v not in expire]
        referenced = {
            f.path for v in survivors for f in self.snapshot(v).files
        } | {
            p
            for v in survivors
            for e in self.snapshot(v).delete_files
            for p in (e["path"], *e.get("extra_paths", []))
        }
        removed_files = 0
        doomed = (
            {f.path for v in expire for f in self.snapshot(v).files}
            | {
                p
                for v in expire
                for e in self.snapshot(v).delete_files
                for p in (e["path"], *e.get("extra_paths", []))
            }
        ) - referenced
        for p in doomed:
            if os.path.exists(p):
                os.remove(p)
                removed_files += 1
        for v in expire:
            os.remove(self._manifest_path(v))
        self._sweep_empty_data_dirs()
        return {"expired_snapshots": sorted(expire), "removed_files": removed_files}

    def remove_orphan_files(self, older_than_s: float = 0.0) -> list[str]:
        """M4 ``remove_orphan_files``: delete files under ``data/`` that no
        manifest references (crashed writes, losers of commit races).
        ``older_than_s`` guards in-flight writers — production default is
        hours; tests pass 0."""
        referenced = {
            f.path for v in self.versions() for f in self.snapshot(v).files
        } | {
            p
            for v in self.versions()
            for e in self.snapshot(v).delete_files
            for p in (e["path"], *e.get("extra_paths", []))
        }
        now = time.time()
        removed = []
        data_root = os.path.join(self.root, "data")
        for sub in os.listdir(data_root):
            d = os.path.join(data_root, sub)
            for name in os.listdir(d):
                p = os.path.join(d, name)
                if p in referenced or not os.path.isfile(p):
                    continue
                if now - os.path.getmtime(p) >= older_than_s:
                    os.remove(p)
                    removed.append(p)
        self._sweep_empty_data_dirs()
        return removed

    def _sweep_empty_data_dirs(self) -> None:
        data_root = os.path.join(self.root, "data")
        for sub in os.listdir(data_root):
            d = os.path.join(data_root, sub)
            if os.path.isdir(d) and not any(
                n.endswith(".parquet") for n in os.listdir(d)
            ):
                shutil.rmtree(d)


def snapshot_maintenance(table: SnapshotTable, keep_last: int = 3,
                         target_file_bytes: int = 128 * 1024 * 1024) -> dict:
    """The reference's nightly maintenance sequence
    (maintenance/__init__.py:34-51) EXECUTED: binpack data files, rewrite
    the manifest, expire old snapshots, remove orphans. Returns one report
    dict per procedure — the loop `tables/maintenance.py::run_maintenance`
    emits for catalog tables."""
    report = {"rewrite_data_files": table.rewrite_data_files(target_file_bytes)}
    table.rewrite_manifests()
    report["rewrite_manifests"] = table.current_version()
    report["expire_snapshots"] = table.expire_snapshots(keep_last=keep_last)
    report["remove_orphan_files"] = len(table.remove_orphan_files())
    return report


def _parquet_files(d: str) -> list[str]:
    return [os.path.join(d, n) for n in sorted(os.listdir(d)) if n.endswith(".parquet")]


# parquet physical types whose footer bounds only parquet-mr writes exactly
_INEXACT_FOREIGN = {"BYTE_ARRAY", "FLOAT", "DOUBLE"}


def footer_datafiles(d: str, cols: list[str]) -> list[DataFile] | None:
    """Enumerate the parquet files in ``d`` with rows + per-column
    min/max/nulls read from their footers — metadata reads, no Spark job.
    Returns ``None`` (the caller scans instead) when any footer lacks an
    exact bound for a requested column:

    - a row group with non-null values but no min/max: parquet-mr drops
      the bounds of a string chunk whose min + max reach 4 KB;
    - a NaN bound: parquet-mr records NaN as a bound, and NaN does not
      order, so row groups cannot be merged by comparison;
    - a missing null count, or a column the footer does not expose under
      its plain name;
    - a string or float bound from a writer other than parquet-mr: pyarrow
      16 bounds skip values over 4 KB and NaNs, so ``["b", "c" * 5000]``
      records max ``""`` and ``[1.0, nan]`` max ``1.0``; a driver-side
      write (:meth:`SnapshotTable._try_local_write`) scans for them.

    An all-null column is NOT a fallback: min/max None with a full null
    count is exactly what the scan path records."""
    import pyarrow.parquet as pq

    out: list[DataFile] = []
    for p in _parquet_files(d):
        md = pq.ParquetFile(p).metadata
        if md.num_rows == 0:
            continue  # zero-row part file: reference nothing, GC later
        exact_all = md.created_by.startswith("parquet-mr ")
        col_idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
        stats: dict[str, dict] = {}
        for c in cols:
            i = col_idx.get(c)
            if i is None:
                return None
            mn = mx = None
            nulls = 0
            for rg in range(md.num_row_groups):
                group = md.row_group(rg)
                chunk = group.column(i)
                st = chunk.statistics
                if st is None or not st.has_null_count:
                    return None
                nulls += st.null_count
                if group.num_rows == st.null_count:
                    continue  # all-null row group: no bounds to merge
                if not st.has_min_max or st.min != st.min or st.max != st.max:
                    return None  # no bounds, or NaN ones
                if not exact_all and chunk.physical_type in _INEXACT_FOREIGN:
                    return None
                if mn is None or st.min < mn:
                    mn = st.min
                if mx is None or st.max > mx:
                    mx = st.max
            stats[c] = {"min": _jsonable(mn), "max": _jsonable(mx), "nulls": nulls}
        out.append(DataFile(p, md.num_rows, os.path.getsize(p), stats))
    return out


def _strip_scheme(p: str) -> str:
    """file:///x/y (input_file_name URI form) -> /x/y."""
    if p.startswith("file:"):
        p = p[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
    return p


def _jsonable(v):
    import datetime as dt

    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    return v
