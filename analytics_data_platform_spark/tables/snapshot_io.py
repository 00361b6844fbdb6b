"""SnapshotTableIO — run the ELT pipeline on manifest snapshot tables.

`elt/runner.py` drives any sink exposing the small TableIO surface
(namespace lifecycle, write_table with append/merge/replace, watermark
properties). This adapter binds that contract to `tables/snapshots.py`,
which upgrades every ingest semantics the catalog backend only
approximates:

- each chunk write is ONE atomic manifest commit (the Iceberg behavior
  the reference relies on, elt-common/src/elt_common/iceberg/io.py:63-144)
  — a crashed run leaves the previous snapshot live plus orphan files
  that `remove_orphan_files` collects, never a half-written table;
- merge is copy-on-write with file skipping — a small incremental batch
  rewrites only the key-range-intersecting files;
- the watermark rides the manifest (`set_properties` is itself a
  snapshot), so rollback/time travel restore the DATA AND its watermark
  together — the catalog backend's TBLPROPERTIES cannot do that.

Namespaces are directories under the warehouse root; tables are snapshot
roots beneath them.
"""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import DataFrame, SparkSession

from analytics_data_platform_spark.tables.io import WRITE_MODES, WriteResult
from analytics_data_platform_spark.tables.snapshots import SnapshotTable

WATERMARK_PROP = "ingest.watermark"
LAST_UPDATED_PROP = "ingest.last_updated_at"


class SnapshotTableIO:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)
        self._tables: dict[str, SnapshotTable] = {}

    # -- namespace / table lifecycle ----------------------------------------

    def ensure_namespace(self, namespace: str) -> None:
        os.makedirs(os.path.join(self.warehouse, namespace), exist_ok=True)

    def table(self, table: str) -> SnapshotTable:
        if table not in self._tables:
            root = os.path.join(self.warehouse, *table.split("."))
            self._tables[table] = SnapshotTable(self.spark, root)
        return self._tables[table]

    def table_exists(self, table: str) -> bool:
        return self.table(table).current_version() is not None

    def read(self, table: str) -> DataFrame:
        return self.table(table).read()

    # -- write path (runner contract) ----------------------------------------

    def write_table(
        self,
        df: DataFrame,
        table: str,
        mode: str = "append",
        merge_on: list[str] | None = None,
        partition_spec: dict[str, str] | None = None,
        sort_spec: list[str] | None = None,
        known_rows: int | None = None,
        **_ignored,
    ) -> WriteResult:
        if mode not in WRITE_MODES:
            raise ValueError(f"write mode {mode!r} not in {WRITE_MODES}")
        if mode == "merge" and not merge_on:
            raise ValueError("merge mode requires merge_on join columns")
        t = self.table(table)
        if sort_spec:
            t.cluster_by = list(sort_spec)  # write-sort → clustered files
        created = t.current_version() is None

        if known_rows == 0:
            return WriteResult(table, mode, 0, created=False)

        before = {f.path for f in t.snapshot().files} if not created else set()
        if created or mode == "replace":
            v = t.replace(df) if (mode == "replace" or created) else None
        elif mode == "append":
            v = t.append(df)
        else:
            v = t.merge(df, merge_on or [])
        snap = t.snapshot(v)
        if known_rows is not None and known_rows >= 0:
            rows = known_rows
        else:
            # new-file rows from manifest metadata — no extra scan (also
            # covers known_rows=ROWS_OBSERVED: the manifest count is free
            # and exact, so the observe sentinel never surfaces to callers)
            rows = sum(f.rows for f in snap.files if f.path not in before)
        return WriteResult(table, mode, rows, created)

    # -- watermark state (manifest-resident) ----------------------------------

    def get_watermark_json(self, table: str) -> dict | None:
        if not self.table_exists(table):
            return None
        raw = self.table(table).get_property(WATERMARK_PROP)
        return json.loads(raw) if raw else None

    def set_watermark_json(self, table: str, payload: dict) -> None:
        self.table(table).set_properties(
            {
                WATERMARK_PROP: json.dumps(payload),
                LAST_UPDATED_PROP: dt.datetime.now(dt.timezone.utc).isoformat(),
            }
        )


def discover_snapshot_tables(warehouse: str) -> list[str]:
    """Enumerate `<ns>.<table>` snapshot roots under a warehouse dir (a
    snapshot root is any directory holding a `manifests/` child)."""
    out = []
    for ns in sorted(os.listdir(warehouse)):
        ns_dir = os.path.join(warehouse, ns)
        if not os.path.isdir(ns_dir):
            continue
        for tbl in sorted(os.listdir(ns_dir)):
            if os.path.isdir(os.path.join(ns_dir, tbl, "manifests")):
                out.append(f"{ns}.{tbl}")
    return out


def maintain_snapshot_warehouse(
    spark: SparkSession,
    warehouse: str,
    keep_last: int = 3,
    target_file_mb: int = 128,
) -> list[str]:
    """The M6 nightly loop for snapshot warehouses: run the four
    executable procedures (`snapshots.snapshot_maintenance`) over every
    discovered table; one report line per table, errors kept non-fatal
    like `tables/maintenance.run_maintenance`."""
    from analytics_data_platform_spark.tables.snapshots import snapshot_maintenance

    sio = SnapshotTableIO(spark, warehouse)
    lines = []
    for name in discover_snapshot_tables(warehouse):
        try:
            rep = snapshot_maintenance(
                sio.table(name),
                keep_last=keep_last,
                target_file_bytes=target_file_mb * 1024 * 1024,
            )
            lines.append(
                f"{name}: rewrote {rep['rewrite_data_files']['rewritten']} files, "
                f"expired {len(rep['expire_snapshots']['expired_snapshots'])} snapshots, "
                f"removed {rep['remove_orphan_files']} orphans"
            )
        except Exception as exc:  # noqa: BLE001 — keep the loop running
            lines.append(f"{name}: ERROR {exc}")
    return lines
