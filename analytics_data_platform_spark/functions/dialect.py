"""Trino-dialect → Spark translations used across the transform models.

The reference's dbt models are written in Trino SQL; these helpers pin down
the handful of constructs whose semantics differ in Spark (SURVEY.md §2.8,
risk register §7.3). Each helper cites the reference usage it mirrors.
All are pure Column expressions — they stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F


def normalize_whitespace(col: Column | str) -> Column:
    """``regexp_replace(trim(x), '\\s+', ' ')``.

    Reference: warehouses/facility_ops/transform/macros/normalize_whitespace.sql:6-8.
    """
    return F.regexp_replace(F.trim(F.col(col) if isinstance(col, str) else col), r"\s+", " ")


def equipment_category_key(col: Column | str) -> Column:
    """Case/whitespace-insensitive join key: ``lower(normalize_whitespace(x))``.

    Reference: macros/create_equipment_category_key.sql:1-4 (used by the J2
    computed-key join in mcr_equipment_downtime_records.sql:125).
    """
    return F.lower(normalize_whitespace(col))


def substring_from_end(col: Column | str, n: int) -> Column:
    """Trino ``substring(s, -n)`` (last n chars). Spark needs explicit length.

    Reference: stg_accelerator_sharepoint__equipment_downtime_data_11_08_24.sql:15-17.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(c, -n, n)


def date_diff_minutes(start: Column, end: Column) -> Column:
    """Trino ``date_diff('minute', start, end)``.

    NB Trino argument order is (unit, from, to); Spark ``timestamp_diff``
    also takes (unit, start, end) — and Trino's ``date_diff`` truncates
    toward zero on sub-minute remainders exactly like timestamp_diff.
    Reference: mcr_equipment_downtime_records.sql:96-99.
    """
    return F.timestamp_diff("MINUTE", start, end)


def add_fractional_minutes(ts: Column, minutes: Column) -> Column:
    """Trino ``ts + interval '1' minute * x`` with fractional x.

    Implemented as whole seconds to keep µs-timestamp semantics
    (Iceberg/parquet store µs; fractional-minute drift beyond seconds is not
    representable in the reference either).
    Reference: mcr_equipment_downtime_records.sql:75.
    """
    return F.timestamp_add("SECOND", F.round(minutes * 60).cast("long"), ts)


def parse_utc_timestamp(date_str: Column, time_str: Column, tz: str = "Europe/London") -> Column:
    """Civil date+time strings in ``tz`` → UTC timestamp.

    Trino: ``parse_datetime(...) AT TIME ZONE 'UTC'`` with a source zone
    (macros/parse_utc_timestamp.sql:7-16). Spark parses then shifts with
    ``to_utc_timestamp``. NOTE Spark silently resolves DST-ambiguous local
    times (picks the earlier offset); the reference *rejects* ambiguous rows
    (electricity_sharepoint.py:82-117).
    """
    ts = F.to_timestamp(F.concat_ws(" ", date_str, time_str), "yyyy-MM-dd HH:mm:ss")
    return F.to_utc_timestamp(ts, tz)
