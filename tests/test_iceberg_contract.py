"""Iceberg/Delta provider-routing contract (no Spark session needed).

The container ships no iceberg-spark-runtime jar, so the row-level MERGE
path cannot execute end-to-end here. This test pins the CONTRACT instead:
against a (mocked) row-level provider, ``TableIO._merge`` must submit
exactly the atomic ``MERGE INTO ... UPDATE SET * / INSERT *`` statement
(reference elt-common/src/elt_common/iceberg/io.py:95-106) and never the
staged anti-join rewrite; against plain parquet it must never submit
MERGE INTO. If someone silently regresses the routing (e.g. inverts the
provider check or alters the SQL), the first real-Iceberg user would get
corrupt upserts — this makes that failure loud at CI time instead.
"""

from __future__ import annotations

import pytest

from analytics_data_platform_spark.tables.io import TableIO, merge_into_sql
from analytics_data_platform_spark.tables.maintenance import iceberg_maintenance_sql


class _RecordingCatalog:
    def __init__(self):
        self.dropped_views: list[str] = []

    def dropTempView(self, name):
        self.dropped_views.append(name)


class _RecordingSpark:
    """Stands in for SparkSession: records every SQL statement."""

    def __init__(self):
        self.statements: list[str] = []
        self.catalog = _RecordingCatalog()

    def sql(self, stmt: str):
        self.statements.append(stmt)
        return None

    def table(self, name):  # pragma: no cover - parquet path must not run
        raise AssertionError(
            f"row-level merge must not read the target table ({name}) — "
            "that is the staged copy-on-write path"
        )


class _StubSource:
    """Stands in for the aligned source DataFrame."""

    def __init__(self):
        self.registered: list[str] = []

    def createOrReplaceTempView(self, name):
        self.registered.append(name)


class _ContractIO(TableIO):
    """TableIO with the environment-dependent pieces pinned: provider is
    forced (what DESCRIBE TABLE EXTENDED would report) and schema
    alignment is identity (no catalog to consult)."""

    def __init__(self, spark, provider: str):
        # bypass TableIO.__init__'s real-session assumptions
        self.spark = spark
        self._provider = provider

    def table_provider(self, table):
        return self._provider

    def _evolve_and_align(self, df, table, pfields):
        return df


def test_merge_into_sql_shape():
    sql = merge_into_sql("lake.db.events", "src_view", ["event_id", "ts"])
    assert sql == (
        "MERGE INTO `lake`.`db`.`events` t USING src_view s "
        "ON t.`event_id` = s.`event_id` AND t.`ts` = s.`ts` "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )


@pytest.mark.parametrize("provider", ["iceberg", "delta"])
def test_row_level_provider_routes_to_merge_into(provider):
    spark = _RecordingSpark()
    io = _ContractIO(spark, provider)
    src = _StubSource()

    io._merge(src, "db.tbl", ["k"], pfields=None, sfields=None)

    assert len(spark.statements) == 1, spark.statements
    stmt = spark.statements[0]
    assert stmt.startswith("MERGE INTO `db`.`tbl` t USING ")
    assert "ON t.`k` = s.`k`" in stmt
    assert "WHEN MATCHED THEN UPDATE SET *" in stmt
    assert "WHEN NOT MATCHED THEN INSERT *" in stmt
    # the temp source view is registered before and dropped after (even on
    # success), matching the view name inside the statement
    assert src.registered == spark.catalog.dropped_views
    assert src.registered[0] in stmt


def test_row_level_merge_drops_view_even_on_failure():
    spark = _RecordingSpark()

    def failing_sql(stmt):
        spark.statements.append(stmt)
        raise RuntimeError("MERGE rejected")

    spark.sql = failing_sql
    io = _ContractIO(spark, "iceberg")
    src = _StubSource()
    with pytest.raises(RuntimeError, match="MERGE rejected"):
        io._merge(src, "db.tbl", ["k"], pfields=None, sfields=None)
    assert src.registered == spark.catalog.dropped_views  # no leaked view


def test_parquet_provider_never_emits_merge_into():
    """The parquet path goes through the staged rewrite (covered end-to-end
    by test_tableio.py); here we only pin that it does NOT submit MERGE
    INTO — _RecordingSpark.table raises, proving the code took the
    target-read branch, and no MERGE statement was recorded first."""
    spark = _RecordingSpark()
    io = _ContractIO(spark, "parquet")
    with pytest.raises(AssertionError, match="staged copy-on-write path"):
        io._merge(_StubSource(), "db.tbl", ["k"], pfields=None, sfields=None)
    assert not any("MERGE INTO" in s for s in spark.statements)


def test_maintenance_procedure_sql_contract():
    stmts = iceberg_maintenance_sql("lake", "db.events")
    joined = "\n".join(stmts)
    assert "CALL lake.system.rewrite_data_files(table => 'db.events')" in joined
    assert "CALL lake.system.rewrite_manifests(table => 'db.events')" in joined
    assert "expire_snapshots" in joined and "remove_orphan_files" in joined
