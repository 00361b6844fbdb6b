"""Opralog logbook ingestion job.

The Spark re-expression of the reference's opralogweb pipeline
(reference: elt-pipelines/facility_ops/ingest/accelerator/opralogweb/
opralogweb.py): six source tables land in ``accelerator_opralogweb`` with
merge write modes, an incremental watermark on the entries change cursor,
and the HTML comment column converted to markdown during ingestion (X1).

Source binding: the job runs against a deterministic in-memory fake of
the Opralog schema — the same fake-source strategy the reference's
warehouse e2e tests use (warehouses/.../opralogweb/tests/fake_source/
opralogmodel.py:58-106), with PascalCase→snake_case ingest normalization
applied here. The production binding to the Opralog SQL Server is not
implemented: setting ``OPRALOGWEB__JDBC_URL`` raises rather than quietly
landing fake rows (sources.jdbc holds the reader such a binding would use).
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from analytics_data_platform_spark.elt.extract import Extract, ResourceProperties, Watermark
from analytics_data_platform_spark.functions.html import html_to_markdown_col

EPOCH = dt.datetime(2024, 1, 1, 0, 0, 0)


def _spark() -> SparkSession:
    s = SparkSession.getActiveSession()
    if s is None:
        raise RuntimeError("no active SparkSession")
    return s


class OpralogwebExtract(Extract):
    def __init__(self, jdbc_url: str = "", n_entries: str = "40", changed_offset: str = "0"):
        if jdbc_url:
            raise ValueError(
                "OPRALOGWEB__JDBC_URL is set, but this repo does not implement the "
                "production Opralog JDBC binding; unset it to run on the fake source"
            )
        self.n_entries = int(n_entries)
        # fake-source mutation knob: entries with index >= offset get a new
        # LastChangedDate (drives the incremental re-run test, nruns=2)
        self.changed_offset = int(changed_offset)

    # -- fake Opralog source (deterministic) ------------------------------

    def _entries(self) -> DataFrame:
        spark = _spark()
        rows = []
        for i in range(1, self.n_entries + 1):
            changed = EPOCH + dt.timedelta(hours=i)
            if i >= self.changed_offset > 0:
                changed = EPOCH + dt.timedelta(days=30, hours=i)
            rows.append(
                (
                    i,
                    EPOCH + dt.timedelta(hours=i),
                    f"<p>Fault <b>{i}</b> in sector {i % 4}</p>",
                    changed,
                    "Y" if i % 10 == 0 else "N",
                )
            )
        return spark.createDataFrame(
            rows,
            "entry_id int, entry_timestamp timestamp, additional_comment string, "
            "last_changed timestamp, logically_deleted string",
        )

    def _more_entry_columns(self) -> DataFrame:
        spark = _spark()
        rows = []
        mid = 1
        for i in range(1, self.n_entries + 1):
            rows.append((mid, i, f"Magnet  PSU {i % 5}", None, 1)); mid += 1
            rows.append((mid, i, f"Group {i % 3}", None, 2)); mid += 1
            rows.append((mid, i, None, float(5 + i % 7), 3)); mid += 1
        return spark.createDataFrame(
            rows,
            "more_entry_column_id int, entry_id int, col_data string, "
            "number_value double, additional_column_id int",
        )

    def extract_resource_properties(self):
        spark = _spark()

        def static(df_fn):
            return lambda wm: iter([df_fn()])

        yield "logbooks", ResourceProperties(
            static(lambda: spark.createDataFrame(
                [(24, "MCR Running Log"), (25, "Beam Physics")],
                "logbook_id int, logbook_name string")),
            write_mode="replace",
        )
        yield "logbook_chapter", ResourceProperties(
            static(lambda: spark.createDataFrame(
                [(1, 24), (2, 25)], "logbook_chapter_no int, logbook_id int")),
            write_mode="replace",
        )
        yield "chapter_entry", ResourceProperties(
            static(lambda: spark.createDataFrame(
                [(i, 24, 1, 24) for i in range(1, self.n_entries + 1)],
                "entry_id int, principal_logbook int, logbook_chapter_no int, logbook_id int")),
            write_mode="merge",
            merge_on=["entry_id"],
        )
        yield "additional_columns", ResourceProperties(
            static(lambda: spark.createDataFrame(
                [(1, "Equipment"), (2, "Group"), (3, "Lost Time"), (4, "Group Leader comments")],
                "additional_column_id int, col_title string")),
            write_mode="replace",
        )

        def entries_extractor(wm: Watermark | None):
            df = self._entries()
            if wm is not None:
                df = df.where(F.col("last_changed") > F.lit(wm.value).cast("timestamp"))
            # X1: HTML → markdown during ingestion (reference add_map hook)
            yield df.withColumn("additional_comment", html_to_markdown_col("additional_comment"))

        yield "entries", ResourceProperties(
            entries_extractor,
            write_mode="merge",
            merge_on=["entry_id"],
            watermark_column="last_changed",
        )

        def mec_extractor(wm):
            yield self._more_entry_columns()

        yield "more_entry_columns", ResourceProperties(
            mec_extractor, write_mode="merge", merge_on=["more_entry_column_id"]
        )
