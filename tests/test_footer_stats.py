"""Snapshot-table file stats taken from parquet footers must be
BYTE-IDENTICAL to the per-file scan aggregation they replace: the
manifest records them as exact min/max, and ``scan``/``merge`` skip files
by them, so one bound that is too narrow silently drops rows. Where a
footer holds no exact bound the write must fall back to the scan — and
the case list pins where that happens for each writer (Spark's
parquet-mr executor write, the driver-side pyarrow write), so the fast
path can neither take a bogus bound nor quietly stop engaging.
Adversarial shapes cover every place footer and scan can disagree:
multi-byte UTF-8 (byte vs code-point order), the empty string,
parquet-mr's 4 KB bound limit on either side of the edge, a short min
with a long max, all-null columns, several row groups, and NaN doubles.

``test_foreign_footer_bounds_refused`` needs no Spark and runs in
``tools/preflight.py``'s structural gate: pyarrow 16 writes wrong string
bounds past 4 KB and NaN-blind float bounds, and the footer reader must
refuse them rather than record them."""

from __future__ import annotations

import json
import os

import pytest

from analytics_data_platform_spark.session import _NO_TRUNCATE, STATS_TRUNCATE
from analytics_data_platform_spark.tables.snapshots import (
    SnapshotTable,
    footer_datafiles,
)

NAN = float("nan")
SCHEMA = "k bigint, s string, x double"

# case -> (rows, footer path engages for the executor write, ... for the
# driver-side write). parquet-mr drops a string chunk's bounds once
# len(min) + len(max) reaches 4096 bytes (a lone value counts twice), and
# records NaN as a bound; pyarrow's string and float bounds are refused.
CASES = {
    "multibyte": (
        [(1, "é", 1.5), (2, "z", -2.0), (3, "😀", 0.0), (4, "ß", None),
         (5, "日本語", 3.25), (None, "a\x00b", 7.0), (7, "Ω≈ç", None)],
        True, False,
    ),
    "empty_string": ([(1, "", 1.0), (2, "a", 2.0), (3, None, None)], True, False),
    "short_min_long_max": ([(1, "a", 1.0), (2, "z" * 3000, 2.0)], True, False),
    "bounds_just_under_4k": ([(1, "a" * 2047, 1.0), (2, "b" * 2048, 2.0)], True, False),
    "bounds_exactly_4k": ([(1, "a" * 2048, 1.0), (2, "b" * 2048, 2.0)], False, False),
    "value_exactly_4k": ([(1, "q" * 4096, 1.0)], False, False),
    "value_just_over_4k": ([(1, "b", 1.0), (2, "c" * 4097, 2.0)], False, False),
    "all_null": ([(None, None, None), (None, None, None)], True, True),
    "nan_double": ([(1, "a", 1.0), (2, "b", NAN), (3, "c", None)], False, False),
}


def _manifest(files) -> str:
    return json.dumps(
        sorted((os.path.basename(f.path), f.rows, f.bytes, f.stats) for f in files),
        sort_keys=True,
    )


def _write_both_ways(spark, tmp_path, monkeypatch, frame):
    """``_write_files(frame)`` as the manifest records it, the scan
    aggregation over the same files, and whether the footer path engaged
    (no fallback scan ran inside the write)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    fallbacks = []
    real = SnapshotTable._scan_datafiles

    def spy(self, *args):
        fallbacks.append(args)
        return real(self, *args)

    monkeypatch.setattr(SnapshotTable, "_scan_datafiles", spy)
    files = t._write_files(frame)
    monkeypatch.undo()
    d = os.path.dirname(files[0].path)
    scan = t._scan_datafiles(d, frame.schema, t._statable_cols(frame.schema))
    return files, scan, not fallbacks


@pytest.mark.parametrize("writer", ["executor", "local"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_footer_stats_equal_scan_stats(spark, tmp_path, monkeypatch, case, writer):
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows, on_executor, on_local = CASES[case]
    if writer == "executor":
        # a Python list plans as an RDD scan: not local, the executor
        # write; one file, so each case's values share one chunk's bounds
        frame = spark.createDataFrame(rows, SCHEMA).coalesce(1)
    else:
        # an Arrow table plans as a LocalRelation: the driver-side write
        cols = list(zip(*rows))
        types = (pa.int64(), pa.string(), pa.float64())
        frame = spark.createDataFrame(
            pa.table({n: pa.array(v, t) for n, v, t in zip("ksx", cols, types)})
        )
    files, scan, engaged = _write_both_ways(spark, tmp_path, monkeypatch, frame)
    assert _manifest(files) == _manifest(scan)
    assert engaged == (on_executor if writer == "executor" else on_local)
    created_by = pq.read_metadata(files[0].path).created_by
    assert created_by.startswith("parquet-mr " if writer == "executor" else "parquet-cpp")


def test_several_row_groups_and_files(spark, tmp_path, monkeypatch):
    """Bounds merged across row groups and split across files: rows in
    descending order, so each group's bounds differ from the file's."""
    rows = [
        (i if i % 7 else None, f"{i:05d}-é" if i % 11 else None, i * 0.5)
        for i in range(3000, 0, -1)
    ]
    frame = spark.createDataFrame(rows, SCHEMA).repartition(2)
    spark.conf.set("parquet.block.size", "4096")
    try:
        files, scan, engaged = _write_both_ways(spark, tmp_path, monkeypatch, frame)
    finally:
        spark.conf.unset("parquet.block.size")
    import pyarrow.parquet as pq

    assert len(files) == 2
    assert all(pq.read_metadata(f.path).num_row_groups > 1 for f in files)
    assert engaged
    assert _manifest(files) == _manifest(scan)


def test_stats_truncate_length_is_pinned(spark):
    """parquet-mr truncates footer string bounds to this length; the
    footer path records them as exact, so the session pins no truncation."""
    hadoop = spark.sparkContext._jsc.hadoopConfiguration()
    assert hadoop.get(STATS_TRUNCATE) == _NO_TRUNCATE
    assert spark.conf.get(STATS_TRUNCATE) == _NO_TRUNCATE


def test_foreign_footer_bounds_refused(tmp_path):
    """No Spark. pyarrow 16 records ``["b", "c" * 5000]`` as max ``""``,
    ``["", "z" * 5000]`` as max ``""`` and ``[1.0, nan]`` as max ``1.0``:
    string and float bounds from a writer other than parquet-mr are
    refused. Integer bounds stay exact across several row groups,
    all-null groups included."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def footer(name, table, **kw):
        d = tmp_path / name
        d.mkdir()
        pq.write_table(table, str(d / "part-0.parquet"), **kw)
        return footer_datafiles(str(d), table.column_names)

    for vals in (["b", "c" * 5000], ["", "z" * 5000], ["a" * 5000, "b"], ["é", "z"]):
        name = f"s{len(os.listdir(tmp_path))}"
        assert footer(name, pa.table({"s": pa.array(vals)})) is None, vals
    for vals in ([1.0, NAN], [NAN, None], [1.0, 2.0]):
        name = f"x{len(os.listdir(tmp_path))}"
        assert footer(name, pa.table({"x": pa.array(vals, pa.float64())})) is None, vals
    ints = [None, None, None, 9, -4, 7, None, 3, 12, -8, None]
    out = footer("k", pa.table({"k": pa.array(ints, pa.int64())}), row_group_size=3)
    assert pq.read_metadata(out[0].path).num_row_groups == 4
    assert out[0].stats == {"k": {"min": -8, "max": 12, "nulls": 5}}
    assert out[0].rows == len(ints)
