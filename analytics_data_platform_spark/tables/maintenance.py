"""Table maintenance (SURVEY §2.11 M1-M6).

The reference drives Iceberg maintenance through Trino ``ALTER TABLE
EXECUTE`` statements on every table nightly
(reference: elt-common/src/elt_common/iceberg/maintenance/__init__.py:28-101).
On an Iceberg-enabled Spark catalog the same four operations are stored
procedures — :func:`iceberg_maintenance_sql` emits them (pure string
generation, unit-testable exactly like the reference's maintenance tests).
On the plain catalog backend the meaningful local analogue is small-file
compaction, implemented as a size-aware rewrite.
"""

from __future__ import annotations

import os
import re

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from analytics_data_platform_spark.tables.io import TableIO


def iceberg_maintenance_sql(
    catalog: str, table: str, retention_days: int = 7
) -> list[str]:
    """The four Iceberg maintenance calls for one table (M1-M4).

    Mirrors maintenance/__init__.py:34-51 with the 7-day default (:67).
    """
    return [
        f"CALL {catalog}.system.rewrite_data_files(table => '{table}')",
        f"CALL {catalog}.system.rewrite_manifests(table => '{table}')",
        (
            f"CALL {catalog}.system.expire_snapshots(table => '{table}', "
            f"older_than => TIMESTAMP '{{now_minus_{retention_days}d}}')"
        ),
        (
            f"CALL {catalog}.system.remove_orphan_files(table => '{table}', "
            f"older_than => TIMESTAMP '{{now_minus_{retention_days}d}}')"
        ),
    ]


def list_all_tables(spark: SparkSession, namespaces: list[str] | None = None) -> list[str]:
    """Enumerate tables (M5 — reference queries system.iceberg_tables)."""
    if namespaces is None:
        namespaces = [db.name for db in spark.catalog.listDatabases()]
    out: list[str] = []
    for ns in namespaces:
        try:
            out.extend(f"{ns}.{t.name}" for t in spark.catalog.listTables(ns))
        except Exception:
            continue  # namespace vanished mid-listing
    return sorted(out)


def table_file_stats(spark: SparkSession, table: str) -> tuple[int, int]:
    """(n_files, total_bytes) from the table's input files."""
    files = spark.table(table).inputFiles()
    sc = spark.sparkContext
    hadoop_conf = sc._jsc.hadoopConfiguration()
    total = 0
    for f in files:
        p = sc._jvm.org.apache.hadoop.fs.Path(f)
        fs = p.getFileSystem(hadoop_conf)
        total += fs.getFileStatus(p).getLen()
    return len(files), total


def compact_table(
    spark: SparkSession, table: str, target_file_mb: int = 128, min_files: int = 4
) -> str:
    """Small-file compaction (M1 analogue on the plain catalog).

    Rewrites the table at ~target_file_mb per file when it has more than
    ``min_files`` undersized files. State properties survive the rewrite.
    """
    n_files, total_bytes = table_file_stats(spark, table)
    target = target_file_mb * 1024 * 1024
    if n_files <= min_files or total_bytes / max(n_files, 1) >= target / 2:
        return f"{table}: skip ({n_files} files, {total_bytes} bytes)"

    io = TableIO(spark)
    df = spark.table(table)
    parts = max(1, int(total_bytes / target) + 1)
    # stage + INSERT OVERWRITE in place: table identity (and therefore
    # properties + cached listings across sessions) survives the rewrite
    stage = table + "__compact"
    df.repartition(parts).write.format("parquet").mode("overwrite").saveAsTable(stage)
    # on failure the stage is kept for TableIO.restore_from_stage (a
    # finally-drop would delete the only complete copy mid-overwrite)
    io.swap_stage(stage, table)
    return f"{table}: compacted {n_files} files -> {parts}"


def run_maintenance(
    spark: SparkSession,
    namespaces: list[str] | None = None,
    retention_days: int = 7,
    target_file_mb: int = 128,
) -> list[str]:
    """Nightly maintenance loop over all tables (M6;
    reference elt_cron_tasks.yml:52-60 + maintenance/__init__.py:86-101)."""
    results = []
    for table in list_all_tables(spark, namespaces):
        try:
            results.append(compact_table(spark, table, target_file_mb))
        except Exception as exc:  # noqa: BLE001 — keep the loop running
            results.append(f"{table}: ERROR {exc}")
    return results


def recover_posting_compaction(idx_dir: str, prefix: str = "bucket=") -> list[str]:
    """Crash recovery for :func:`compact_posting_buckets`: a torn
    compaction leaves either ``_old.bucket=N`` alone (died between
    retiring the resident dir and installing the staged one → rename it
    back) or both ``_old.bucket=N`` and ``bucket=N`` (died before the
    cleanup → the install completed; drop the retired copy). Underscore
    prefixes keep retired dirs invisible to Spark's partition discovery
    throughout. Returns the actions taken."""
    import os
    import shutil

    actions: list[str] = []
    for name in sorted(os.listdir(idx_dir)):
        if name.startswith("_stage."):  # staged-but-never-installed rewrite
            shutil.rmtree(os.path.join(idx_dir, name))
            actions.append(f"dropped stale stage {name}")
            continue
        if not name.startswith(f"_old.{prefix}"):
            continue
        live = os.path.join(idx_dir, name[len("_old."):])
        old = os.path.join(idx_dir, name)
        if os.path.exists(live):
            shutil.rmtree(old)
            actions.append(f"dropped retired {name}")
        else:
            os.rename(old, live)
            actions.append(f"restored {name}")
    return actions


def compact_posting_buckets(
    spark: SparkSession,
    idx_dir: str,
    min_files: int = 2,
    prefix: str = "bucket=",
) -> list[str]:
    """Per-bucket small-file compaction for a term-partitioned posting
    index (queries/search_ops.py): partition-wise incremental appends
    accumulate one file per ingest tick inside every ``bucket=N``
    directory — exactly the small-file debt merge-on-read deletes
    accumulate on the state tables (``compact_state_deletes``), applied
    to the index family. Each oversized bucket is rewritten to
    one file and swapped in with two atomic renames
    (stage → retire resident as ``_old.bucket=N`` → install → drop);
    :func:`recover_posting_compaction` (run first) heals any torn swap,
    and serving hashes are pinned unchanged across compaction by
    tests/test_posting_compaction.py. Single-writer maintenance-window
    semantics, like the reference's nightly Iceberg maintenance loop
    (elt-common/src/elt_common/iceberg/maintenance/__init__.py:28-62).
    ``prefix`` selects the partition-directory family ("bucket=" for the
    term index, "_cell=" for the IVF vector index). Returns a per-bucket
    report of compactions performed.

    All oversized buckets are rewritten by ONE Spark job (each bucket dir
    read as its own root path with the partition value re-attached as a
    literal — underscore-prefixed families like ``_cell=`` are invisible
    to partition DISCOVERY, so inference is never relied on — then
    repartitioned on the partition column so every bucket's rows land in
    one task and written ``partitionBy`` into a single underscore-staged
    root), then installed with the same two-renames-per-bucket swap as
    before. The previous shape — one driver-sequential coalesce job PER
    bucket — cost |buckets| × per-job latency regardless of data volume
    (the optimization guide's fewer-jobs discipline, §2.6); crash windows
    are unchanged because the staged root is invisible to readers and
    :func:`recover_posting_compaction` drops any ``_stage.*`` leftover
    and heals per-bucket ``_old.*`` states."""
    import os
    import shutil
    import tempfile

    recover_posting_compaction(idx_dir, prefix=prefix)
    oversized: list[tuple[str, int]] = []
    for name in sorted(os.listdir(idx_dir)):
        if not name.startswith(prefix):
            continue
        bucket_dir = os.path.join(idx_dir, name)
        files = [f for f in os.listdir(bucket_dir) if f.endswith(".parquet")]
        if len(files) < max(min_files, 2):
            continue
        oversized.append((name, len(files)))
    if not oversized:
        return []
    done: list[str] = []
    part_col = prefix[:-1]
    raw_vals = [n[len(prefix):] for n, _ in oversized]
    all_int = all(v.lstrip("-").isdigit() for v in raw_vals)
    # ONE multi-root read (bucket dirs are ROOT paths, exempt from the
    # hidden-path filter that hides e.g. ``_cell=`` from discovery);
    # the partition value is recovered from the file path — a per-dir
    # read-and-union would pay one driver-side schema inference per
    # bucket, which dominated the job on wide fleets. The schema comes
    # from a footer, so the read runs no inference job at all.
    from analytics_data_platform_spark.operators.search_index import footer_schema

    val = F.regexp_extract(
        F.input_file_name(), re.escape(prefix) + "([^/]+)/", 1
    )
    roots = [os.path.join(idx_dir, n) for n, _ in oversized]
    frame = (
        spark.read.schema(footer_schema(roots[0]))
        .parquet(*roots)
        .withColumn(part_col, val.cast("int") if all_int else val)
    )
    # underscore prefix keeps the stage invisible to partition
    # discovery even if this process dies mid-write
    staged_root = tempfile.mkdtemp(prefix="_stage.", dir=idx_dir)
    (
        # one partition per bucket value -> exactly one staged file per
        # bucket dir (a hash collision merely puts two buckets in one
        # task; each still writes its own single file)
        frame.repartition(len(oversized), part_col)
        .write.mode("overwrite")
        .partitionBy(part_col)
        .parquet(staged_root)
    )
    for name, n_files in oversized:
        staged = os.path.join(staged_root, name)
        if not os.path.isdir(staged):
            # zero-row bucket (partitionBy writes no dir for it):
            # still owes its file-count debt — rewrite the N empty
            # resident files to ONE empty file with the same footer
            # schema, driver-side (no Spark job), so a fleet of
            # many-file empty buckets cannot dodge compaction forever
            import pyarrow.parquet as _pq

            bucket_dir = os.path.join(idx_dir, name)
            first = next(
                f
                for f in sorted(os.listdir(bucket_dir))
                if f.endswith(".parquet")
            )
            os.makedirs(staged, exist_ok=True)
            _pq.write_table(
                _pq.read_schema(os.path.join(bucket_dir, first)).empty_table(),
                os.path.join(staged, "part-00000-compacted-empty.parquet"),
            )
        for extra in os.listdir(staged):  # _SUCCESS etc. stay out
            if not extra.endswith(".parquet"):
                os.remove(os.path.join(staged, extra))
        old = os.path.join(idx_dir, f"_old.{name}")
        os.rename(os.path.join(idx_dir, name), old)
        os.rename(staged, os.path.join(idx_dir, name))
        shutil.rmtree(old)
        done.append(f"{name}: {n_files} -> 1 file(s)")
    shutil.rmtree(staged_root)
    return done


def discover_index_roots(root: str) -> list[tuple[str, str]]:
    """(kind, path) of every serving index under ``root``: a directory
    holding a ``_meta.json`` with a SearchIndex layout (mode + buckets)
    or a VectorIndex layout (centroids). Mid-merge SOURCE segments
    (``consumed_by`` marked) are skipped — their owning target's torn
    merge consumes them when the fleet loop resumes it. Index internals
    are not descended into (an index cannot nest inside another)."""
    import json
    import os

    out: list[tuple[str, str]] = []
    for dirpath, dirs, files in os.walk(root):
        if "_meta.json" not in files:
            continue
        dirs[:] = []  # never descend into an index's own tree
        try:
            with open(os.path.join(dirpath, "_meta.json")) as f:
                meta = json.load(f)
        except (OSError, ValueError):
            continue
        if meta.get("consumed_by"):
            continue
        if "mode" in meta and "buckets" in meta:
            out.append(("search", dirpath))
        elif "centroids" in meta:
            out.append(("vector", dirpath))
    return sorted(out, key=lambda t: t[1])


def _index_data_bytes(data_dir: str) -> int:
    """Total parquet bytes under an index's data tree (local-fs fleet
    roots — the same walk discover_index_roots does)."""
    total = 0
    for dirpath, _dirs, files in os.walk(data_dir):
        for f in files:
            if f.endswith(".parquet"):
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
    return total


def _grown_partitions(current: int, total_bytes: int, target_bytes: int) -> int:
    """Smallest power-of-two multiple of ``current`` that brings the
    average partition under ``target_bytes`` (capped at 4096 — beyond
    that the fleet needs a topology decision, not a cron)."""
    n = current
    while n < 4096 and total_bytes / n > target_bytes:
        n *= 2
    return min(n, 4096)


def maintain_index_fleet(
    spark: SparkSession,
    root: str,
    min_files: int = 2,
    grow_target_mb: float | None = None,
):
    """Maintenance loop over a FLEET of serving indexes — the index-tier
    analog of :func:`run_maintenance`'s table loop (the reference runs
    table maintenance as a cron over every namespace,
    infra/ansible/roles/elt/tasks/elt_cron_tasks.yml:52-60; at scale the
    index tier accretes the same debt: torn merges from crashed jobs,
    unapplied merge-on-read deletes, one small file per append tick).

    Per discovered index, in dependency order:
      1. heal torn atomic-swap windows (postings/docmeta/cells), and —
         via the first ``stats()`` read — finish any torn
         reshard/retrain forward (their markers commit only after the
         staged tree is complete, so resume is pure renames);
      2. RESUME a torn segment merge — the ``pending_merge`` marker pins
         the source root, so the crashed merge finishes here and the
         index becomes mutable again;
      3. materialize eligible merge-on-read deletes (bounds the serve-
         time anti-join state);
      4. compact small append files (buckets / cells / docmeta);
      5. with ``grow_target_mb`` set, GROW capacity: when the average
         bucket/cell exceeds the target, reshard/retrain to the smallest
         power-of-two multiple that brings it back under (the operational
         face of ``SearchIndex.reshard`` / ``VectorIndex.retrain`` —
         appends steadily fatten a fixed layout, and the cron is where
         that debt should be paid, not a 3 a.m. page). sq8 vector tiers
         are reported and skipped (retrain needs full-precision vectors).

    Yields one line per action; exceptions propagate per index AFTER the
    loop visits the remaining fleet (one sick index must not starve the
    rest — the cron pattern), re-raised as a summary RuntimeError."""
    from analytics_data_platform_spark.operators.search_index import SearchIndex
    from analytics_data_platform_spark.operators.vector_index import VectorIndex

    failures: list[str] = []
    for kind, path in discover_index_roots(root):
        try:
            if kind == "search":
                import json as _json

                with open(f"{path}/_meta.json") as f:
                    m = _json.load(f)  # layout resolves from the sidecar
                idx = SearchIndex(spark, path, mode=m["mode"], buckets=int(m["buckets"]))
            else:
                idx = VectorIndex(spark, path)
            idx._recover_swap()
            pending = (idx._read_meta() or {}).get("pending_merge")
            if pending is not None:
                src = pending["src"]
                if kind == "search":
                    other = SearchIndex(spark, src, mode=idx.mode, buckets=idx.buckets)
                else:
                    other = VectorIndex(spark, src)
                idx.merge_from(other)
                yield f"{path}: resumed torn merge from {src}"
            if idx.apply_deletes():
                yield f"{path}: materialized pending deletes"
            for line in idx.compact(min_files=min_files):
                yield f"{path}: compacted {line}"
            if grow_target_mb is not None:
                target = float(grow_target_mb) * 1024 * 1024
                if target <= 0:
                    raise ValueError("grow_target_mb must be > 0")
                if kind == "search":
                    total = _index_data_bytes(idx.postings_dir)
                    grown = _grown_partitions(idx.buckets, total, target)
                    if grown > idx.buckets:
                        was = idx.buckets
                        idx.reshard(grown)
                        yield f"{path}: resharded {was} -> {grown} buckets"
                elif idx.storage == "sq8":
                    total = _index_data_bytes(idx.cells_dir)
                    if _grown_partitions(idx.nlist, total, target) > idx.nlist:
                        yield (
                            f"{path}: oversized cells but storage=sq8 — "
                            "retrain needs the source corpus, skipped"
                        )
                else:
                    total = _index_data_bytes(idx.cells_dir)
                    grown = _grown_partitions(idx.nlist, total, target)
                    if grown > idx.nlist:
                        was = idx.nlist
                        idx.retrain(nlist=grown)
                        yield f"{path}: retrained {was} -> {idx.nlist} cells"
            yield f"{path}: ok ({kind})"
        except Exception as exc:  # noqa: BLE001 — cron loop: report, continue
            failures.append(f"{path}: {exc}")
            yield f"{path}: FAILED ({exc})"
    if failures:
        raise RuntimeError(
            f"{len(failures)} index(es) failed maintenance: " + "; ".join(failures)
        )
