"""Accelerator SharePoint ingestion job (S7+S9).

Lands the historical equipment-downtime sheet and the equipment→category
mapping (reference: warehouses/facility_ops_landing/ingest/accelerator/
accelerator_sharepoint/accelerator_sharepoint.py:25-81). Deterministic
canned rows represent the parsed sheets — columns exactly as the Excel
reader emits them (all-string dtypes, FIXTURES.md §3). The production
read of the xlsx exports (sources.m365 + sources.files.read_excel_table)
is not bound by this job.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from analytics_data_platform_spark.elt.extract import Extract, ResourceProperties

DOWNTIME_ROWS = [
    # equipment, user_run, downtime_minutesx, fault_date, fault_time, group,
    # fault_description, managerscomments
    ("Septum", ".98", 10.0, "1998-07-01 00:00:00", "junk12:30:00", "Ops", "septum trip", None),
    ("Kicker", "04", 3.5, "2004-01-15", "08:00:00", "Ops", "kicker fault", "checked"),
    ("Magnet PSU 1", "04", 7.5, "2004-02-20", "09:15:00", "Power", "psu glitch", None),
]

MAPPING_ROWS = [
    ("  Magnet   PSU 1 ", "magnets"),
    ("magnet psu 1", "magnets"),
    ("Septum", "injection"),
    ("Kicker", "extraction"),
    ("Magnet PSU 0", "magnets"),
    ("Magnet PSU 2", "magnets"),
    ("Magnet PSU 3", "magnets"),
    ("Magnet PSU 4", "magnets"),
]


class AcceleratorSharepointExtract(Extract):
    def extract_resource_properties(self):
        spark = SparkSession.getActiveSession()
        assert spark is not None

        downtime = spark.createDataFrame(
            DOWNTIME_ROWS,
            "equipment string, user_run string, downtime_minutesx double, "
            "fault_date string, fault_time string, group string, "
            "fault_description string, managerscomments string",
        )
        mapping = spark.createDataFrame(
            MAPPING_ROWS, "equipment_name string, equipment_category string"
        )
        yield "equipment_downtime_data_11_08_24", ResourceProperties(
            lambda wm: iter([downtime]), write_mode="replace"
        )
        yield "edr_equipment_mapping", ResourceProperties(
            lambda wm: iter([mapping]), write_mode="replace"
        )
