"""File sources: multi-section CSV (S8) and spreadsheet (S9).

The electricity RDM exports are concatenated CSVs with repeated preambles;
sections start at a header line beginning with "time" and metadata blocks
begin with "site information"
(reference: warehouses/facility_ops_landing/ingest/estates/
electricity_sharepoint/electricity_sharepoint.py:35-165). Two column
layouts exist (automated: Time,Date,Power; manual: "DD/mm/YY HH:MM:SS"
combined) — both in Europe/London civil time converted to UTC, and a
section whose times hit a DST fold/gap is REJECTED whole (the reference's
explicit ambiguity policy, F16 — Spark's to_utc_timestamp would silently
pick an offset).

Scale shape: parsing is per-file and driver-independent — files stream
through Spark's binaryFile source and parse inside ``mapInPandas`` on
executors; a 100k-file archive parses with full cluster parallelism.
"""

from __future__ import annotations

import io
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

CSV_PREAMBLE_ANCHOR = "time"
METADATA_ANCHOR = "site information"
COL_DATE_TIME = "date_time"
COL_TOTAL_POWER = "isis_elec_total_power_mw"
RDM_TIMEZONE = "Europe/London"

POWER_SCHEMA = f"{COL_DATE_TIME} timestamp, {COL_TOTAL_POWER} double, file_name string"


def _to_utc(ts: pd.Series) -> pd.Series:
    return ts.dt.tz_localize(RDM_TIMEZONE).dt.tz_convert("UTC")


def csv_section_to_df(file_name: str, lines: list[str]) -> pd.DataFrame | None:
    """One header-anchored section → rows, or None when DST-ambiguous."""
    raw = pd.read_csv(io.StringIO("\n".join(lines)))
    raw.columns = raw.columns.str.strip()
    cols = list(raw.columns)
    if len(cols) != 3:
        raise ValueError(f"{file_name}: expected 3 columns, got {cols}")
    try:
        if cols[1].strip() == "Date":  # automated export: Time + Date split
            ts = _to_utc(pd.to_datetime(raw["Date"] + " " + raw["Time"], format="%d/%m/%y %H:%M:%S"))
        else:  # manual export: combined timestamp in col 0
            ts = _to_utc(pd.to_datetime(raw["Time"], format="%d/%m/%y %H:%M:%S"))
    except Exception as exc:  # pandas raises pytz errors / ValueError by version
        msg = str(exc).lower()
        if "ambiguous" in msg or "nonexistent" in msg or "non-existent" in msg:
            return None  # reject the section (reference policy)
        raise
    if "power" not in cols[2].lower():
        raise ValueError(f"{file_name}: third column {cols[2]!r} is not a power column")
    out = ts.dt.tz_localize(None).to_frame(name=COL_DATE_TIME)
    out[COL_TOTAL_POWER] = raw[cols[2]]
    return out


def parse_power_csv(content: str, file_name: str) -> pd.DataFrame | None:
    """Split concatenated export into sections and parse each."""
    sections: list[pd.DataFrame] = []
    current: list[str] = []
    in_data = False
    for line in content.splitlines():
        line = line.strip()
        lower = line.lower()
        if lower.startswith(CSV_PREAMBLE_ANCHOR):
            if current and (df := csv_section_to_df(file_name, current)) is not None:
                sections.append(df)
            current = [line]
            in_data = True
        elif in_data:
            if lower.startswith(METADATA_ANCHOR):
                in_data = False
            elif line:
                current.append(line)
    if current and (df := csv_section_to_df(file_name, current)) is not None:
        sections.append(df)
    if not sections:
        return None
    out = pd.concat(sections, ignore_index=True)
    out["file_name"] = file_name
    return out


def read_power_csv_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed parse: binaryFile scan → per-file parse on executors."""
    files = spark.read.format("binaryFile").load(path_glob).select("path", "content")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for path, content in zip(pdf["path"], pdf["content"]):
                parsed = parse_power_csv(bytes(content).decode("utf-8"), path)
                if parsed is not None:
                    frames.append(parsed)
            if frames:
                yield pd.concat(frames, ignore_index=True)
            else:
                yield pd.DataFrame(
                    {COL_DATE_TIME: pd.Series(dtype="datetime64[us]"),
                     COL_TOTAL_POWER: pd.Series(dtype="float64"),
                     "file_name": pd.Series(dtype="object")}
                )

    return files.mapInPandas(parse, schema=POWER_SCHEMA)


_XLSX_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _xlsx_col_index(ref: str) -> int:
    """'BC12' → 54 (0-based column index from an A1-style cell reference)."""
    n = 0
    for ch in ref:
        if not ch.isalpha():
            break
        n = n * 26 + (ord(ch.upper()) - 64)
    return n - 1


def _parse_xlsx_grid(content: bytes) -> list[list]:
    """Minimal stdlib XLSX parser (zipfile + ElementTree): first worksheet
    as a row-major grid. Handles shared strings, inline strings, booleans
    and numerics — the cell types tabular RDM exports actually use.
    Formula caches read their stored <v> like any client does.
    """
    import re
    import zipfile
    from xml.etree import ElementTree as ET

    try:
        zf = zipfile.ZipFile(io.BytesIO(content))
        names = set(zf.namelist())
        shared: list[str] = []
        if "xl/sharedStrings.xml" in names:
            root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            shared = [
                "".join(t.text or "" for t in si.iter(f"{_XLSX_NS}t"))
                for si in root.findall(f"{_XLSX_NS}si")
            ]
        sheets = sorted(n for n in names if re.match(r"xl/worksheets/sheet\d+\.xml$", n))
        if not sheets:
            raise ValueError("no worksheets in workbook")
        root = ET.fromstring(zf.read(sheets[0]))
    except (zipfile.BadZipFile, ET.ParseError, KeyError) as exc:
        raise ValueError(f"not a readable .xlsx workbook: {exc}") from exc

    rows: list[dict[int, object]] = []
    for row in root.iter(f"{_XLSX_NS}row"):
        cells: dict[int, object] = {}
        for i, c in enumerate(row.findall(f"{_XLSX_NS}c")):
            idx = _xlsx_col_index(c.get("r") or "")
            if idx < 0:
                idx = i  # cells without refs are positional
            t = c.get("t")
            v = c.find(f"{_XLSX_NS}v")
            if t == "inlineStr":
                is_el = c.find(f"{_XLSX_NS}is")
                val = (
                    "".join(tt.text or "" for tt in is_el.iter(f"{_XLSX_NS}t"))
                    if is_el is not None
                    else None
                )
            elif v is None or v.text is None:
                val = None
            elif t == "s":
                val = shared[int(v.text)]
            elif t == "b":
                val = v.text == "1"
            elif t in ("str", "e"):
                val = v.text
            else:
                val = float(v.text)
            cells[idx] = val
        rows.append(cells)
    width = max((max(r) + 1 for r in rows if r), default=0)
    return [[r.get(i) for i in range(width)] for r in rows]


def read_excel_table(
    content: bytes,
    skiprows: int = 0,
    dtype_overrides: dict | None = None,
    renames: dict[str, str] | None = None,
) -> pd.DataFrame:
    """Excel reader (S9). Uses pandas/openpyxl when the cluster image
    ships it; otherwise falls back to the stdlib XLSX parser above (zip +
    XML — no extra dependency), so .xlsx ingestion works end-to-end in
    any environment. Header = first row after ``skiprows`` (pd.read_excel
    semantics)."""
    try:
        import openpyxl  # noqa: F401

        df = pd.read_excel(io.BytesIO(content), skiprows=skiprows, dtype=dtype_overrides)
    except ImportError:
        grid = _parse_xlsx_grid(content)[skiprows:]
        if not grid:
            raise ValueError("workbook has no rows after skiprows")
        header = [str(h) for h in grid[0]]
        df = pd.DataFrame(grid[1:], columns=header).infer_objects()
        if dtype_overrides:
            df = df.astype(dtype_overrides)
    if renames:
        df = df.rename(columns=renames)
    return df
