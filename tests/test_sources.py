"""Source connector tests: JDBC query construction, REST normalization,
multi-section CSV with DST rejection, archive discovery + gaussian fit."""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pytest

from analytics_data_platform_spark.sources import archive, files, jdbc, rest

# --- JDBC (S4/P2/P3) ------------------------------------------------------


def test_jdbc_watermark_pushdown():
    src = jdbc.IncrementalJdbcSource(
        url="jdbc:postgresql://db/ops",
        table="entries",
        watermark_column="last_changed",
        extra_predicates=["logically_deleted = 'N'"],
        row_limit=1000,
    )
    sql = src.query_sql(dt.datetime(2024, 1, 1, 12, 0, 0))
    assert sql == (
        "SELECT * FROM entries WHERE (logically_deleted = 'N') "
        "AND (last_changed > TIMESTAMP '2024-01-01 12:00:00') LIMIT 1000"
    )
    assert src.query_sql(None) == (
        "SELECT * FROM entries WHERE (logically_deleted = 'N') LIMIT 1000"
    )


def test_jdbc_reader_options_partitioned():
    src = jdbc.IncrementalJdbcSource(
        url="jdbc:sqlserver://db",
        table="t",
        fetchsize=50000,  # opralogweb chunk size
        partition_column="id",
        lower_bound=0,
        upper_bound=1000000,
        num_partitions=16,
    )
    opts = src.reader_options()
    assert opts["fetchsize"] == "50000"
    assert opts["numPartitions"] == "16"
    assert opts["dbtable"] == "(SELECT * FROM t) src"
    bad = jdbc.IncrementalJdbcSource(url="u", table="t", partition_column="id")
    with pytest.raises(ValueError, match="partition_column requires"):
        bad.reader_options()


def test_jdbc_in_batches_and_literals():
    preds = jdbc.in_batch_predicates("entry_id", list(range(1200)), batch_size=500)
    assert len(preds) == 3
    assert preds[0].startswith("entry_id IN (0, 1,")
    assert jdbc.in_batch_predicates("x", []) == ["1 = 0"]
    assert jdbc.sql_literal("o'brien") == "'o''brien'"
    assert jdbc.sql_literal(None) == "NULL"
    assert jdbc.sql_literal(True) == "TRUE"


# --- REST/JSON (S6/J3) ----------------------------------------------------

CYCLES_PAYLOAD = [
    {
        "label": "2024/2",
        "phases": [
            {"type": "user-time", "target": 1,
             "start": "2024-07-09T07:30:00", "end": "2024-07-24T07:30:00"},
            {"type": "run-up", "target": 1,
             "start": "2024-07-01T07:30:00", "end": "2024-07-09T07:30:00"},
        ],
    },
    {"label": "2024/3", "phases": [
        {"type": "machine-physics", "target": 2,
         "start": "2024-09-01T07:30:00", "end": "2024-09-10T07:30:00"}]},
]


def test_rest_fetch_with_injected_fetcher():
    records = rest.fetch_records("https://example.invalid/cycles", lambda url: CYCLES_PAYLOAD)
    assert len(records) == 2


def test_rest_normalize_nested_parent_child(spark):
    tables = rest.normalize_nested(spark, CYCLES_PAYLOAD, "cycles")
    assert set(tables) == {"cycles", "cycles__phases"}
    parents = tables["cycles"].collect()
    children = tables["cycles__phases"].collect()
    assert len(parents) == 2 and len(children) == 3
    pid = {r["label"]: r["_dlt_id"] for r in parents}
    for ch in children:
        assert ch["_dlt_parent_id"] in pid.values()
    # deterministic lineage: same payload → same ids
    again = rest.normalize_nested(spark, CYCLES_PAYLOAD, "cycles")
    assert {r["_dlt_id"] for r in again["cycles"].collect()} == set(pid.values())


# --- multi-section CSV (S8/F16) -------------------------------------------

AUTOMATED_SECTION = """Site Information:
RAL ISIS RDM
Controller: ISIS

Time,Date,ISIS Elec Total Power
00:00:00,15/01/24,2.5
01:00:00,15/01/24,2.6
Site Information:
RAL ISIS RDM

Time,Date,ISIS Elec Total Power
02:00:00,15/01/24,2.7
"""

MANUAL_SECTION = """Time,ISIS Elec Total Energy,ISIS Elec Total Power
15/06/24 12:00:00,999,3.1
15/06/24 13:00:00,999,3.2
"""

DST_AMBIGUOUS_SECTION = """Time,Date,ISIS Elec Total Power
01:30:00,27/10/24,9.9
"""


def test_parse_automated_sections():
    df = files.parse_power_csv(AUTOMATED_SECTION, "a.csv")
    assert df is not None and len(df) == 3
    # GMT in January: local == UTC
    assert df["date_time"].iloc[0] == dt.datetime(2024, 1, 15, 0, 0, 0)
    assert list(df["isis_elec_total_power_mw"]) == [2.5, 2.6, 2.7]


def test_parse_manual_format_bst_shift():
    df = files.parse_power_csv(MANUAL_SECTION, "m.csv")
    assert df is not None and len(df) == 2
    # BST in June: 12:00 local → 11:00 UTC
    assert df["date_time"].iloc[0] == dt.datetime(2024, 6, 15, 11, 0, 0)


def test_dst_ambiguous_section_rejected():
    # 2024-10-27 01:30 Europe/London occurs twice (clocks fall back) —
    # the whole section must be rejected, not silently resolved
    df = files.parse_power_csv(DST_AMBIGUOUS_SECTION, "dst.csv")
    assert df is None
    # and a good section in the same file still survives
    combined = DST_AMBIGUOUS_SECTION + AUTOMATED_SECTION
    df2 = files.parse_power_csv(combined, "mixed.csv")
    assert df2 is not None and len(df2) == 3


def test_distributed_csv_read(spark, tmp_path):
    (tmp_path / "f1.csv").write_text(AUTOMATED_SECTION)
    (tmp_path / "f2.csv").write_text(MANUAL_SECTION)
    out = files.read_power_csv_files(spark, str(tmp_path / "*.csv"))
    rows = out.collect()
    assert len(rows) == 5
    assert {Path(r["file_name"]).name.split("/")[-1] for r in rows} >= set()


def _make_xlsx(rows: list[list]) -> bytes:
    """Minimal in-test .xlsx writer (zip + XML) — no openpyxl needed."""
    import io as _io
    import zipfile

    def col_ref(i):
        s = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            s = chr(65 + r) + s
        return s

    shared: list[str] = []
    body = []
    for rn, row in enumerate(rows, start=1):
        cells = []
        for ci, v in enumerate(row):
            ref = f"{col_ref(ci)}{rn}"
            if v is None:
                continue
            if isinstance(v, bool):
                cells.append(f'<c r="{ref}" t="b"><v>{1 if v else 0}</v></c>')
            elif isinstance(v, (int, float)):
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                if v not in shared:
                    shared.append(v)
                cells.append(f'<c r="{ref}" t="s"><v>{shared.index(v)}</v></c>')
        body.append(f'<row r="{rn}">{"".join(cells)}</row>')
    sheet = ('<?xml version="1.0"?><worksheet xmlns='
             '"http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
             f'<sheetData>{"".join(body)}</sheetData></worksheet>')
    sst = ('<?xml version="1.0"?><sst xmlns='
           '"http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
           + "".join(f"<si><t>{s}</t></si>" for s in shared) + "</sst>")
    buf = _io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("[Content_Types].xml", "<Types/>")
        zf.writestr("xl/workbook.xml", "<workbook/>")
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
        zf.writestr("xl/sharedStrings.xml", sst)
    return buf.getvalue()


def test_excel_reads_xlsx_without_openpyxl():
    """S9 end-to-end: the stdlib zip+XML fallback parses a real workbook —
    header row, shared strings, numerics, skiprows and renames."""
    content = _make_xlsx([
        ["export metadata", None, None],
        ["site", "reading", "ok"],
        ["alpha", 1.5, True],
        ["beta", 2.0, False],
        ["alpha", 3.25, True],
    ])
    df = files.read_excel_table(content, skiprows=1, renames={"reading": "power_mw"})
    assert list(df.columns) == ["site", "power_mw", "ok"]
    assert len(df) == 3
    assert df["power_mw"].tolist() == [1.5, 2.0, 3.25]
    assert df["site"].tolist() == ["alpha", "beta", "alpha"]
    assert df["ok"].tolist() == [True, False, True]


def test_excel_rejects_non_workbook():
    with pytest.raises(ValueError, match="xlsx"):
        files.read_excel_table(b"fake")


# --- archive discovery + gaussian fit (S10/S11/X2) ------------------------


def _make_archive(tmp_path: Path) -> Path:
    data = tmp_path / "NDXmari" / "Instrument" / "data"
    for cycle, runs in [("cycle_98_1", [10, 11]), ("cycle_24_1", [100]), ("cycle_24_2", [200, 201])]:
        d = data / cycle
        d.mkdir(parents=True)
        for r in runs:
            (d / f"mari{r:06d}.nxs").touch()
        (d / "mari_notarun.nxs").touch()  # unparsable stem → skipped
    return tmp_path


def test_discover_runs_incremental_latest_cycle(tmp_path):
    root = _make_archive(tmp_path)
    got = archive.discover_runs(root, "mari", mode="incremental")
    assert [(c, r) for c, r, _ in got] == [("cycle_24_2", 200), ("cycle_24_2", 201)]


def test_discover_runs_full_with_century_sort_and_skip(tmp_path):
    root = _make_archive(tmp_path)
    got = archive.discover_runs(root, "mari", mode="full", skip=(201,))
    cycles = [c for c, _, _ in got]
    # newest first; 1998 sorts OLDEST despite '98' > '24' lexically
    assert cycles == ["cycle_24_2", "cycle_24_1", "cycle_98_1", "cycle_98_1"]
    assert 201 not in [r for _, r, _ in got]
    got_start = archive.discover_runs(root, "mari", mode="full", cycle_start="24_2")
    assert {c for c, _, _ in got_start} == {"cycle_24_2"}


def test_discover_runs_missing_dir(tmp_path):
    with pytest.raises(ValueError, match="does not exist"):
        archive.discover_runs(tmp_path, "nope")


def test_fit_gaussian_recovers_truth():
    rng = np.random.RandomState(3)
    x = np.linspace(0, 100, 400)
    true = archive.gaussian(x, 50.0, 42.0, 5.0)
    ye = np.full_like(x, 0.5)
    y = true + rng.randn(len(x)) * 0.5
    popt, perr = archive.fit_gaussian(x, y, ye, p0=(30.0, 40.0, 8.0))
    assert abs(popt[0] - 50.0) < 1.0
    assert abs(popt[1] - 42.0) < 0.2
    assert abs(popt[2] - 5.0) < 0.5
    assert np.all(perr > 0) and np.all(perr < 1.0)


def test_fit_monitor_peaks_pipeline(spark):
    """Distributed fit with an injected synthetic NeXus reader; the
    low-charge run is skipped (fit_monitor.py:139-141)."""
    tof = np.linspace(0.0, 200.0, 201)  # unit-width bins

    def fake_reader(path: str) -> dict:
        run = int(path.split("/")[-1].removeprefix("mari").removesuffix(".nxs"))
        pcharge = 0.5 if run == 300 else 90.0
        x = 0.5 * (tof[:-1] + tof[1:])
        rng = np.random.RandomState(run)
        counts = archive.gaussian(x, 4000.0, 50.0, 6.0) * pcharge / 90.0 + rng.poisson(
            5, len(x)
        )
        return {
            "run_number": run,
            "run_start": dt.datetime(2024, 7, 1, 8, 0, 0) + dt.timedelta(hours=run % 48),
            "proton_charge": pcharge,
            "tof": tof,
            "counts": counts,
        }

    cfg = {"mari": archive.MonitorFitConfig(x_range=(20.0, 80.0), p0=(10.0, 45.0, 10.0))}
    runs = [
        ("mari", "cycle_24_2", 100, "/archive/mari100.nxs"),
        ("mari", "cycle_24_2", 200, "/archive/mari200.nxs"),
        ("mari", "cycle_24_2", 300, "/archive/mari300.nxs"),  # low charge → skipped
    ]
    out = archive.fit_monitor_peaks(spark, runs, cfg, reader=fake_reader)
    rows = {r["run_number"]: r for r in out.collect()}
    assert set(rows) == {100, 200}
    for r in rows.values():
        assert abs(r["peak_centre"] - 50.0) < 1.0
        assert abs(r["peak_sigma"] - 6.0) < 1.0
        assert r["peak_centre_error"] > 0
        assert r["proton_charge"] == 90.0


def test_h5_reader_gated():
    with pytest.raises(NotImplementedError, match="h5py"):
        archive.read_monitor_h5("/nonexistent.nxs")
