"""TableIO — lakehouse table writes with append / merge / replace semantics.

Re-expresses the reference's Iceberg write layer
(reference: elt-common/src/elt_common/iceberg/io.py:63-144 and
dlt_destinations/pyiceberg/pyiceberg.py:380-425) on Spark:

- ``append``  → append into the catalog table (S12)
- ``merge``   → upsert on join keys: when-matched-update-all /
  when-not-matched-insert-all (S13)
- ``replace`` → full overwrite (S14; the runner applies the
  first-chunk-replaces-then-append rule)

plus empty-batch skip (io.py:86-88), strict additive schema evolution
(schema_policy), partition/sort specs (partition DSL), and the
table-property state store used for watermarks (S17, io.py:41-61).

Catalog backends
----------------
On a real cluster with the Iceberg runtime, ``merge`` is a single atomic
``MERGE INTO`` and ``replace`` is ``INSERT OVERWRITE`` — TableIO emits those
when the target catalog supports row-level operations (``iceberg_merge``).
This box has no Iceberg jars, so the default backend realizes the same
logical semantics on the built-in catalog: merge = anti-join rewrite staged
to a shadow table then swapped in. The swap is not atomic (two catalog ops);
at 100 TB you run the Iceberg backend where it is one snapshot commit —
the anti-join rewrite itself is exactly what Iceberg copy-on-write MERGE
executes under the hood, so the plan shape carries over.
"""

from __future__ import annotations

import datetime as dt
import json
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from analytics_data_platform_spark.tables.partition import (
    apply_partitioning,
    apply_sort,
    parse_partition_spec,
    parse_sort_spec,
)
from analytics_data_platform_spark.tables.schema_policy import diff_schemas

WATERMARK_PROP = "ingest.watermark"
LAST_UPDATED_PROP = "ingest.last_updated_at"

WRITE_MODES = ("append", "merge", "replace")

# ``known_rows`` sentinel: the caller guarantees the batch is non-empty and
# collects row count / watermark stats itself via ``Dataset.observe`` on the
# write job (elt/runner.py) — write_table must neither persist nor count.
ROWS_OBSERVED = -1

# providers with DSv2 row-level operation support (MERGE INTO executes as
# one atomic snapshot commit)
ROW_LEVEL_PROVIDERS = {"iceberg", "delta"}


def merge_into_sql(target: str, source_view: str, keys: list[str]) -> str:
    """The MERGE statement an Iceberg/Delta-backed merge executes
    (update-all / insert-all semantics — reference iceberg/io.py:95-106)."""
    on = " AND ".join(f"t.`{k}` = s.`{k}`" for k in keys)
    return (
        f"MERGE INTO {_q(target)} t USING {source_view} s ON {on} "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )


@dataclass
class WriteResult:
    table: str
    mode: str
    rows: int
    created: bool


class StageSwapError(RuntimeError):
    """A staged rewrite failed while overwriting the target in place.

    The stage table — the only complete copy of the rewritten rows — is
    KEPT; ``TableIO.restore_from_stage`` retries the swap.
    """

    def __init__(self, msg: str, table: str, stage: str):
        super().__init__(msg)
        self.table = table
        self.stage = stage


class TableIO:
    """Creates parquet tables; appends to EXISTING tables follow the
    table's own provider (e.g. an Iceberg table on a real catalog)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    # -- namespace lifecycle (S16; reference io.py:35-39) ------------------

    def ensure_namespace(self, namespace: str) -> None:
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS `{namespace}`")

    def drop_namespace(self, namespace: str) -> None:
        self.spark.sql(f"DROP DATABASE IF EXISTS `{namespace}` CASCADE")

    def table_exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(table)

    def drop_table(self, table: str) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {_q(table)}")

    def read(self, table: str) -> DataFrame:
        return self.spark.table(table)

    # -- properties / state store (S17; reference io.py:41-61) -------------

    def set_properties(self, table: str, props: dict[str, str]) -> None:
        kv = ", ".join(f"'{_esc(k)}'='{_esc(v)}'" for k, v in props.items())
        self.spark.sql(f"ALTER TABLE {_q(table)} SET TBLPROPERTIES ({kv})")

    def get_property(self, table: str, key: str) -> str | None:
        rows = self.spark.sql(f"SHOW TBLPROPERTIES {_q(table)}").collect()
        for r in rows:
            if r["key"] == key:
                return r["value"]
        return None

    # -- main write path (S12-S15; reference io.py:63-144) -----------------

    def write_table(
        self,
        df: DataFrame,
        table: str,
        mode: str = "append",
        merge_on: list[str] | None = None,
        partition_spec: dict[str, str] | None = None,
        sort_spec: list[str] | None = None,
        properties: dict[str, str] | None = None,
        known_rows: int | None = None,
    ) -> WriteResult:
        """Write one batch with EXACTLY ONE evaluation of ``df``.

        The batch is persisted and fully materialized by a single count()
        (which also yields ``WriteResult.rows``); the empty-batch skip
        (reference io.py:86-88) and the write itself then read the cache.
        This both removes the 2 extra source executions the naive
        isEmpty→write→count sequence costs on every ingest batch, and
        guarantees the skip-check, row count, watermark (runner) and the
        written rows all come from ONE source snapshot — a live JDBC/REST
        extract re-queried per action could otherwise persist a watermark
        for rows it never wrote.

        Callers that already persisted + counted the batch (the ingest
        runner folds count+watermark-max into one aggregation) pass
        ``known_rows`` to skip the internal materialization. Callers that
        collect stats from the write job itself via ``Dataset.observe``
        pass ``known_rows=ROWS_OBSERVED`` (append/replace only — merge
        re-evaluates the source, so observed metrics would double-fire):
        no persist, no count, and ``WriteResult.rows`` comes back as the
        sentinel for the caller to replace with the observed count.
        """
        if mode not in WRITE_MODES:
            raise ValueError(f"write mode {mode!r} not in {WRITE_MODES}")
        if mode == "merge" and not merge_on:
            raise ValueError("merge mode requires merge_on join columns")
        if known_rows == ROWS_OBSERVED and mode == "merge":
            raise ValueError(
                "observed-stats writes require a single-action mode; merge "
                "evaluates the source more than once — use the persist path"
            )
        self_persisted = known_rows is None
        if self_persisted:
            df = df.persist()
            rows = df.count()  # one full scan; populates the cache completely
        else:
            rows = known_rows
        try:
            # empty-batch skip (reference io.py:86-88)
            if rows == 0:
                return WriteResult(table, mode, 0, created=False)

            pfields = parse_partition_spec(partition_spec)
            sfields = parse_sort_spec(sort_spec)
            created = not self.table_exists(table)

            if created:
                out, pcols = apply_partitioning(df, pfields)
                writer = apply_sort(out, sfields).write.format("parquet")
                if pcols:
                    writer = writer.partitionBy(*pcols)
                writer.saveAsTable(table)
            elif mode == "replace":
                out, pcols = apply_partitioning(df, pfields)
                writer = apply_sort(out, sfields).write.format("parquet").mode("overwrite")
                if pcols:
                    writer = writer.partitionBy(*pcols)
                writer.saveAsTable(table)
            elif mode == "append":
                aligned = self._evolve_and_align(df, table, pfields)
                # follow the EXISTING table's provider: saveAsTable refuses
                # to append to a table of another format rather than adopt it
                fmt = self.table_provider(table) or "parquet"
                apply_sort(aligned, sfields).write.format(fmt).mode("append").saveAsTable(table)
            else:  # merge
                self._merge(df, table, merge_on or [], pfields, sfields)
        finally:
            if self_persisted:
                df.unpersist()

        if properties:
            self.set_properties(table, properties)
        return WriteResult(table, mode, rows, created)

    def _evolve_and_align(self, df: DataFrame, table: str, pfields) -> DataFrame:
        """Additive evolution + column alignment for by-name appends.

        New batch columns are ALTER TABLE ADDed; table columns missing from
        the batch are filled with NULL (removed-source-column behavior,
        reference e2e test test_pyiceberg_pipeline.py:470-499).
        """
        out, _ = apply_partitioning(df, pfields)
        target = self.spark.table(table)
        delta = diff_schemas(target.schema, out.schema)
        if delta.added:
            cols_ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in delta.added)
            self.spark.sql(f"ALTER TABLE {_q(table)} ADD COLUMNS ({cols_ddl})")
            target = self.spark.table(table)
        batch_cols = set(out.columns)
        aligned = out.select(
            *[
                F.col(f.name) if f.name in batch_cols else F.lit(None).cast(f.dataType).alias(f.name)
                for f in target.schema.fields
            ]
        )
        return aligned

    def table_provider(self, table: str) -> str | None:
        """The table's storage provider (lower-cased), e.g. 'parquet',
        'iceberg', 'delta'."""
        for row in self.spark.sql(f"DESCRIBE TABLE EXTENDED {_q(table)}").collect():
            if row["col_name"] == "Provider":
                return (row["data_type"] or "").strip().lower()
        return None

    def table_location(self, table: str) -> str | None:
        for row in self.spark.sql(f"DESCRIBE TABLE EXTENDED {_q(table)}").collect():
            if row["col_name"] == "Location":
                return (row["data_type"] or "").strip()
        return None

    def invalidate_caches(self, table: str) -> None:
        """Drop BOTH cache layers for a rewritten table: the session's
        relation cache (refreshTable) and the SparkContext-wide shared
        file-status cache (refreshByPath) — the latter outlives session
        clones (streaming foreachBatch), so skipping it leaves other
        sessions reading deleted files after an in-place rewrite."""
        self.spark.catalog.refreshTable(table)
        loc = self.table_location(table)
        if loc:
            self.spark.catalog.refreshByPath(loc)

    def supports_row_level_ops(self, table: str) -> bool:
        return self.table_provider(table) in ROW_LEVEL_PROVIDERS

    def _merge(self, df: DataFrame, table: str, keys: list[str], pfields, sfields) -> None:
        """Upsert: matched rows take the source version, unmatched target
        rows are kept, new source rows are inserted.

        On a row-level-capable provider (Iceberg/Delta) this executes ONE
        atomic ``MERGE INTO`` snapshot commit; on the plain parquet catalog
        the same semantics are realized as target-anti-join ∪ source staged
        to a shadow table and swapped (the copy-on-write rewrite Iceberg
        would perform internally).
        """
        source = self._evolve_and_align(df, table, pfields)
        if self.supports_row_level_ops(table):
            view = f"_merge_src_{abs(hash(table)) % 10**8}"
            source.createOrReplaceTempView(view)
            try:
                self.spark.sql(merge_into_sql(table, view, keys))
            finally:
                self.spark.catalog.dropTempView(view)
            return
        target = self.spark.table(table)
        kept = target.join(source.select(*keys), on=keys, how="left_anti")
        merged = apply_sort(kept.unionByName(source), sfields)

        # Self-overwrite needs materialization: stage the merged rows, then
        # INSERT OVERWRITE the target in place. Keeping the table identity
        # (no drop/rename) keeps properties AND every session's file-status
        # cache coherent — a rename-swap leaves clones of the session (e.g.
        # streaming foreachBatch) holding dead file listings.
        stage = table + "__stage"
        merged.write.format("parquet").mode("overwrite").saveAsTable(stage)
        self.swap_stage(stage, table)

    def swap_stage(self, stage: str, table: str) -> None:
        """INSERT OVERWRITE the staged rows into the target in place.

        On failure the stage table is KEPT and a :class:`StageSwapError`
        carries the recovery hint — a ``finally: drop`` here would destroy
        the only complete copy of the result while the target may be
        partially overwritten, making the failure unrecoverable. The stage
        is dropped only after the overwrite succeeds.
        """
        try:
            self.spark.table(stage).write.mode("overwrite").insertInto(table)
        except BaseException as exc:
            raise StageSwapError(
                f"swap of stage {stage!r} into {table!r} failed; the target may "
                f"be partially overwritten. The staged result was kept — call "
                f"TableIO.restore_from_stage({table!r}, {stage!r}) to retry.",
                table,
                stage,
            ) from exc
        self.drop_table(stage)
        self.invalidate_caches(table)

    def restore_from_stage(self, table: str, stage: str | None = None) -> None:
        """Recover from a failed :meth:`swap_stage`: re-apply the kept stage
        table onto the target (idempotent — INSERT OVERWRITE), then drop it."""
        stage = stage or table + "__stage"
        if not self.table_exists(stage):
            raise ValueError(f"no stage table {stage!r} to restore {table!r} from")
        self.swap_stage(stage, table)

    # -- watermark state (reference extract.py:22-60, runner.py:112-122) ---

    def get_watermark_json(self, table: str) -> dict | None:
        if not self.table_exists(table):
            return None
        raw = self.get_property(table, WATERMARK_PROP)
        return json.loads(raw) if raw else None

    def set_watermark_json(self, table: str, payload: dict) -> None:
        self.set_properties(
            table,
            {
                WATERMARK_PROP: json.dumps(payload),
                LAST_UPDATED_PROP: dt.datetime.now(dt.timezone.utc).isoformat(),
            },
        )


def _q(table: str) -> str:
    return ".".join(f"`{p}`" for p in table.split("."))


def _esc(s: str) -> str:
    return s.replace("'", "''")
