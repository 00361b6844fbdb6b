"""Electricity RDM ingestion job (S7+S8).

Source: a local directory of the RDM CSV exports
(``ELECTRICITY_SHAREPOINT__CSV_DIR``), or a built-in sample when unset.
The parse is the distributed ``read_power_csv_files`` path and the table
lands merged on date_time, partitioned by year (reference:
electricity_sharepoint.py:278-285). The production SharePoint listing is
not implemented: setting ``ELECTRICITY_SHAREPOINT__SITE_URL`` raises
rather than quietly landing the sample rows (sources.m365 holds the
client such a binding would use).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from analytics_data_platform_spark.elt.extract import Extract, ResourceProperties
from analytics_data_platform_spark.sources.files import read_power_csv_files

SAMPLE_CSV = """Site Information:
RAL ISIS RDM
Controller: ISIS

Time,Date,ISIS Elec Total Power
00:00:00,15/01/24,2.5
01:00:00,15/01/24,2.6
02:00:00,15/01/24,2.7
Site Information:
RAL ISIS RDM

Time,Date,ISIS Elec Total Power
00:00:00,16/01/24,2.8
01:00:00,16/01/24,2.9
"""


class ElectricitySharepointExtract(Extract):
    def __init__(self, csv_dir: str = "", site_url: str = ""):
        if site_url:
            raise ValueError(
                "ELECTRICITY_SHAREPOINT__SITE_URL is set, but this repo does not "
                "implement the production SharePoint binding; use "
                "ELECTRICITY_SHAREPOINT__CSV_DIR for local exports"
            )
        self.csv_dir = csv_dir

    def extract_resource_properties(self):
        spark = SparkSession.getActiveSession()
        assert spark is not None

        def extractor(wm):
            if self.csv_dir:
                df = read_power_csv_files(spark, f"{self.csv_dir}/*.csv")
            else:
                import tempfile
                from pathlib import Path

                d = Path(tempfile.mkdtemp(prefix="rdm_sample_"))
                (d / "sample.csv").write_text(SAMPLE_CSV)
                df = read_power_csv_files(spark, f"{d}/*.csv")
            if wm is not None:
                df = df.where(F.col("date_time") > F.lit(wm.value).cast("timestamp"))
            yield df

        yield "rdm_data", ResourceProperties(
            extractor,
            write_mode="merge",
            merge_on=["date_time"],
            watermark_column="date_time",
            partition={"date_time": "year"},
        )
