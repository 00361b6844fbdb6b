"""warehouse_refresh: the reference's own EL + transform flow.

Set-up lands the five in-repo ``facility_ops_landing`` jobs through
``run_ingest`` into a ``SnapshotTableIO`` warehouse and builds the marts
with ``plans.facility_ops.dag.run``. The timed window then repeats one
maintenance cycle:

- write op: one refresh — a seeded Opralog delta (new entries plus
  updates with an advancing ``last_changed``) lands through ``run_ingest``
  with merge and the watermark, then ``dag.run`` rebuilds the marts and
  runs their data tests (a ``DataTestError`` is a failed op);
- read op: one analyst page — a filtered group-by over the downtime mart
  plus a ``SnapshotTable.scan`` over an ``entry_id`` range of the landing
  entries, both collected;
- after each refresh and its reads, one maintenance pass runs
  ``snapshot_maintenance`` over every table.
"""

from __future__ import annotations

import os
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

import gen
from harness import Run

OPRALOG_ENTRIES = 1000  # initial landing size
DELTA_NEW, DELTA_UPD = 40, 80  # rows per refresh
WARMUP_READS = 1  # no warm-up refresh: the run budget has no room for one
WRITES_PER_CYCLE, READS_PER_WRITE = 1, 8
CYCLE_S = 15.0  # nominal cycle length on a 4-core host; sets the cycle count

LANDING = "accelerator_opralogweb"
MARTS = "facility_ops"
MART = f"{MARTS}.mcr_equipment_downtime_records"


def cycles_for(seconds: int) -> int:
    """Whole maintenance cycles in a window of ``seconds`` — a function of
    the argument only, so both sides of a comparison do identical work."""
    return max(1, round(seconds / CYCLE_S))


def read_params(seed: int, n: int, max_id: int) -> list[tuple[float, int, int]]:
    """(downtime threshold, scan lo, scan hi) per read op."""
    r = gen.rng(seed, "warehouse.reads")
    out = []
    for _ in range(n):
        lo = int(r.integers(1, max_id))
        out.append((float(r.integers(0, 10)), lo, lo + int(r.integers(50, 400))))
    return out


class Warehouse:
    def __init__(self, run: Run, checkout: str):
        from analytics_data_platform_spark.tables.snapshot_io import SnapshotTableIO

        self.run = run
        self.spark = run.spark
        self.jobs_root = Path(checkout) / "warehouses"
        self.wh_root = run.path("wh")
        self.sio = SnapshotTableIO(self.spark, self.wh_root)
        self.inputs = run.path("inputs")
        self.next_id = OPRALOG_ENTRIES + 1
        self.refreshes = 0
        self.generated_ids = set(range(1, OPRALOG_ENTRIES + 1))
        self.max_changed = None

    # -- set-up ---------------------------------------------------------------

    def _archive(self) -> str:
        """The moderator job's archive mount: three run files, one of them
        low-charge (skipped by the job)."""
        root = self.run.path("archive")
        d = os.path.join(root, "NDXmari", "Instrument", "data", "cycle_24_2")
        os.makedirs(d)
        for r in (4100, 4101, 4114):
            Path(d, f"mari{r}.nxs").touch()
        return root

    def land_initial(self) -> None:
        from analytics_data_platform_spark.elt.pipeline import find_job, load_extract_class
        from analytics_data_platform_spark.elt.runner import run_ingest

        kwargs = {
            "opralogweb": {"n_entries": str(OPRALOG_ENTRIES)},
            "statusdisplay": {},
            "accelerator_sharepoint": {},
            "electricity_sharepoint": {},
            "moderator_performance": {"archive_mount": self._archive(), "mode": "full"},
        }
        for job, kw in kwargs.items():
            manifest = find_job(self.jobs_root, job)
            with self.run.span("elt.run_ingest"):
                run_ingest(self.spark, load_extract_class(manifest)(**kw), manifest.namespace, io=self.sio)

    def sources(self) -> dict[tuple[str, str], DataFrame]:
        from analytics_data_platform_spark.plans.facility_ops import dag

        return {
            (s, t): self.sio.read(f"{s}.{t}")
            for s, t in dag.required_sources()
            if self.sio.table_exists(f"{s}.{t}")
        }

    def build_marts(self) -> None:
        from analytics_data_platform_spark.plans.facility_ops import dag

        with self.run.span("plans.dag_run"):
            dag.run(self.spark, sources=self.sources(), target_namespace=MARTS, io=self.sio)

    # -- ops ------------------------------------------------------------------

    def _delta_extract(self, paths: dict[str, str]):
        from analytics_data_platform_spark.elt.extract import Extract, ResourceProperties
        from analytics_data_platform_spark.functions.html import html_to_markdown_col

        spark = self.spark

        class OpralogDelta(Extract):
            """The opralogweb resources a refresh touches, read from the
            seeded delta files."""

            def extract_resource_properties(self):
                def entries(wm):
                    df = spark.read.parquet(paths["entries"])
                    if wm is not None:
                        df = df.where(F.col("last_changed") > F.lit(wm.value).cast("timestamp"))
                    yield df.withColumn("additional_comment", html_to_markdown_col("additional_comment"))

                yield "entries", ResourceProperties(
                    entries, write_mode="merge", merge_on=["entry_id"], watermark_column="last_changed"
                )
                yield "chapter_entry", ResourceProperties(
                    lambda wm: iter([spark.read.parquet(paths["chapter_entry"])]),
                    write_mode="merge", merge_on=["entry_id"],
                )
                yield "more_entry_columns", ResourceProperties(
                    lambda wm: iter([spark.read.parquet(paths["more_entry_columns"])]),
                    write_mode="merge", merge_on=["more_entry_column_id"],
                )

        return OpralogDelta()

    def make_delta(self) -> dict[str, str]:
        """Generate and stage refresh ``k``'s delta files (input, untimed)."""
        import pyarrow.parquet as pq

        k = self.refreshes
        tables = gen.opralog_delta(self.run.seed, k, self.next_id, DELTA_NEW, DELTA_UPD)
        paths = {}
        for name, t in tables.items():
            paths[name] = os.path.join(self.inputs, f"delta{k:03d}_{name}.parquet")
            os.makedirs(self.inputs, exist_ok=True)
            pq.write_table(t, paths[name])
        self.next_id += DELTA_NEW
        self.refreshes += 1
        ids = tables["entries"].column("entry_id").to_pylist()
        self.generated_ids.update(ids)
        changed = max(tables["entries"].column("last_changed").to_pylist())
        self.max_changed = changed if self.max_changed is None else max(self.max_changed, changed)
        return paths

    def refresh(self, paths: dict[str, str]) -> None:
        from analytics_data_platform_spark.elt.runner import run_ingest

        run = self.run
        entries = self.sio.table(f"{LANDING}.entries")
        before = {f.path: f.bytes for f in entries.snapshot().files} if run.trace else {}
        with run.span("elt.run_ingest"):
            stats = run_ingest(self.spark, self._delta_extract(paths), LANDING, io=self.sio)
        if run.trace:
            after = {f.path: f.bytes for f in entries.snapshot().files}
            run.layer_count("elt.rows_landed", sum(r.rows for r in stats.resources.values()))
            run.layer_count(
                "tables.merge_rewrite_ratio", len(set(before) - set(after)) / max(1, len(before))
            )
            added = sum(b for p, b in after.items() if p not in before)
            run.layer_count("tables.write_amp", added / os.path.getsize(paths["entries"]))
        self.build_marts()

    def read(self, params: tuple[float, int, int]) -> None:
        threshold, lo, hi = params
        run = self.run
        with run.span("warehouse.mart_query"):
            (
                self.sio.read(MART)
                .where(F.col("downtime_mins") > threshold)
                .groupBy("equipment")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("downtime_mins").alias("mins"))
                .collect()
            )
        entries = self.sio.table(f"{LANDING}.entries")
        with run.span("tables.scan"):
            entries.scan("entry_id", lo, hi).count()
        if run.trace:
            snap = entries.snapshot()
            hit = sum(1 for f in snap.files if f.may_contain("entry_id", lo, hi))
            run.layer_count("tables.scan_prune_ratio", hit / max(1, len(snap.files)))
            run.layer_count("tables.live_files", len(snap.files))

    def maintain(self) -> None:
        from analytics_data_platform_spark.tables.snapshot_io import discover_snapshot_tables
        from analytics_data_platform_spark.tables.snapshots import snapshot_maintenance

        run = self.run
        rewritten = expired = orphans = 0
        with run.span("tables.snapshot_maintenance"):
            for name in discover_snapshot_tables(self.wh_root):
                rep = snapshot_maintenance(self.sio.table(name))
                rewritten += rep["rewrite_data_files"]["rewritten"]
                expired += len(rep["expire_snapshots"]["expired_snapshots"])
                orphans += rep["remove_orphan_files"]
        run.layer_count("tables.files_rewritten", rewritten)
        run.layer_count("tables.snapshots_expired", expired)
        run.layer_count("tables.orphans_removed", orphans)

    # -- run-end figures and checks -------------------------------------------

    def stored_per_live(self) -> float:
        from analytics_data_platform_spark.tables.snapshot_io import discover_snapshot_tables

        live = sum(
            f.bytes
            for name in discover_snapshot_tables(self.wh_root)
            for f in self.sio.table(name).snapshot().files
        )
        return gen.dir_bytes(self.wh_root)[1] / live

    def sizes(self) -> dict:
        files, nbytes = gen.dir_bytes(self.wh_root)
        rows = self.sio.table(f"{LANDING}.entries").snapshot().rows
        return {"entries_rows": rows, "files": files, "bytes": nbytes}

    def check(self) -> list[str]:
        """Landing ``entries`` keeps ``entry_id`` unique, holds exactly the
        generated ids, and its persisted watermark is the largest generated
        ``last_changed``."""
        import datetime as dt

        problems = []
        entries = self.sio.read(f"{LANDING}.entries")
        row = entries.agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("entry_id").alias("ids")
        ).collect()[0]
        if row["n"] != row["ids"]:
            problems.append(f"entries: {row['n']} rows but {row['ids']} distinct entry_id")
        if row["n"] != len(self.generated_ids):
            problems.append(f"entries: {row['n']} rows, {len(self.generated_ids)} ids generated")
        wm = self.sio.get_watermark_json(f"{LANDING}.entries") or {}
        want = self.max_changed.astimezone(dt.timezone.utc).replace(tzinfo=None)
        got = dt.datetime.fromisoformat(str(wm.get("value"))).replace(tzinfo=None)
        if got != want:
            problems.append(f"entries watermark {got} != max generated last_changed {want}")
        return problems


def run_workload(run: Run, checkout: str) -> dict:
    """Set up, warm up, run the timed window and check. Returns the raw
    figures ``run.py`` reports."""
    import time

    from harness import OpFailed

    wh = Warehouse(run, checkout)
    with run.span("setup"):
        wh.land_initial()
        wh.build_marts()
    n_cycles = cycles_for(run.seconds)
    n_writes = n_cycles * WRITES_PER_CYCLE
    writes = iter([wh.make_delta() for _ in range(n_writes)])
    reads = iter(read_params(run.seed, WARMUP_READS + n_writes * READS_PER_WRITE, OPRALOG_ENTRIES))

    def attempt(kind, fn, *args):
        try:
            run.op(kind, fn, *args)
        except OpFailed as exc:
            print(exc, flush=True)

    for _ in range(WARMUP_READS):
        run.op("read", wh.read, next(reads), timed=False)
    setup_done = time.perf_counter()
    sizes_start = wh.sizes()

    run.in_window = True
    for _ in range(n_cycles):
        for _ in range(WRITES_PER_CYCLE):
            attempt("write", wh.refresh, next(writes))
            for _ in range(READS_PER_WRITE):
                attempt("read", wh.read, next(reads))
        attempt("maintain", wh.maintain)
    window_s = time.perf_counter() - setup_done
    run.in_window = False
    return {
        "setup_done": setup_done,
        "window_s": window_s,
        "sizes": {"start": sizes_start, "end": wh.sizes()},
        "stored_bytes_per_live_byte": wh.stored_per_live(),
        "problems": wh.check(),
    }
