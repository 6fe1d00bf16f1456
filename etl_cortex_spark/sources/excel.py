"""XLSX source (SURVEY §2 rows A1-A3): scan sheet 0 with header detection.

The reference reads uploads with ``pd.read_excel(sheet_name=0,
header=None, engine="openpyxl")`` (``/root/reference/app.py:170``),
scans for the header row (``detect_header_index``, app.py:154-163),
then slices/renames (app.py:173-181). openpyxl/xlsxwriter are not
available in this environment, and xlsx is not a splittable format
anyway, so the parser here is a self-contained stdlib implementation
(zipfile + ElementTree) with pandas-compatible typing:

- shared strings, inline strings, booleans, numbers;
- date cells detected via styles.xml number formats (builtin date
  numFmtIds and custom codes containing date tokens) and converted
  from Excel serials to ``datetime`` — matching what pandas/openpyxl
  return for date-formatted cells;
- integral floats collapse to int (openpyxl yields int for "1");

Scale story (SURVEY §7 "what's hard" #3): one xlsx file is a zipped
XML archive — per-file parallelism is the ceiling. The distributed
path maps each file's bytes through ``mapInPandas`` over a
``binaryFile`` scan, so 10k files parse on executors in parallel; a
single 100 GB xlsx cannot be split by anyone.
"""

from __future__ import annotations

import io
import re
import zipfile
from collections.abc import Iterable, Iterator, Sequence
from datetime import datetime, timedelta
from xml.etree import ElementTree as ET

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from etl_cortex_spark.operators.cleaning import norm_col
from etl_cortex_spark.operators.localframe import local_df

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"

#: Excel serial day 0 (the 1900 system, offset chosen so serial 61+ —
#: i.e. any date after Feb 1900 — converts correctly despite the
#: Lotus-1-2-3 leap-year bug).
_EXCEL_EPOCH = datetime(1899, 12, 30)
#: Mac-origin workbooks (workbookPr date1904="1") count from 1904.
_EXCEL_EPOCH_1904 = datetime(1904, 1, 1)

#: builtin numFmtIds that render as dates/times (ECMA-376 §18.8.30).
_DATE_NUMFMT_IDS = frozenset(range(14, 23)) | frozenset(range(45, 48))

#: header-detection candidate set, app.py:141-146.
CANDIDATE_COLS = (
    "Endpoint Name",
    "Endpoint Type",
    "Operating System",
    "Agent Version",
)


def _col_index(cell_ref: str) -> int:
    """'A1' → 0, 'AB7' → 27 (0-based column index)."""
    idx = 0
    for ch in cell_ref:
        if ch.isalpha():
            idx = idx * 26 + (ord(ch.upper()) - ord("A") + 1)
        else:
            break
    return idx - 1


def _is_date_fmt(code: str) -> bool:
    """True when a custom number-format code renders a date/time.

    Date tokens (y/m/d/h/s) count only outside quoted literals and
    [] sections (e.g. [Red], [$-409]).
    """
    bare = re.sub(r'"[^"]*"|\[[^\]]*\]', "", code)
    return bool(re.search(r"[ymdhs]", bare, re.IGNORECASE))


def _date_styles(z: zipfile.ZipFile) -> frozenset[int]:
    """Indices into cellXfs whose number format renders a date."""
    try:
        root = ET.fromstring(z.read("xl/styles.xml"))
    except (KeyError, ET.ParseError):
        return frozenset()
    custom_date_ids = {
        int(nf.get("numFmtId", "-1"))
        for nf in root.iter(f"{_NS}numFmt")
        if _is_date_fmt(nf.get("formatCode", ""))
    }
    date_ids = _DATE_NUMFMT_IDS | custom_date_ids
    xfs = root.find(f"{_NS}cellXfs")
    if xfs is None:
        return frozenset()
    return frozenset(
        i
        for i, xf in enumerate(xfs.findall(f"{_NS}xf"))
        if int(xf.get("numFmtId", "0")) in date_ids
    )


def _shared_strings(z: zipfile.ZipFile) -> list[str]:
    try:
        root = ET.fromstring(z.read("xl/sharedStrings.xml"))
    except (KeyError, ET.ParseError):
        return []
    out = []
    for si in root.findall(f"{_NS}si"):
        # plain <t> or rich-text runs <r><t> — explicitly NOT si.iter:
        # that would also pick up <rPh> phonetic (furigana) runs and
        # concatenate them into the cell text.
        parts = [t.text or "" for t in si.findall(f"{_NS}t")]
        parts += [t.text or "" for t in si.findall(f"{_NS}r/{_NS}t")]
        out.append("".join(parts))
    return out


def _is_date1904(z: zipfile.ZipFile) -> bool:
    """True when the workbook uses the 1904 date system (Mac origin)."""
    try:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        pr = wb.find(f"{_NS}workbookPr")
        return pr is not None and pr.get("date1904", "0").lower() in ("1", "true")
    except (KeyError, ET.ParseError):
        return False


def _first_sheet_path(z: zipfile.ZipFile) -> str:
    """Resolve sheet 0 (workbook order) through the rels table."""
    try:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        rel_map = {
            r.get("Id"): r.get("Target")
            for r in rels.iter(
                "{http://schemas.openxmlformats.org/package/2006/relationships}Relationship"
            )
        }
        first = next(iter(wb.iter(f"{_NS}sheet")))
        # OPC targets may be workbook-relative ("worksheets/sheet1.xml")
        # or absolute ("/xl/worksheets/sheet1.xml") — normalize both.
        target = rel_map[first.get(f"{_REL_NS}id")].lstrip("/")
        return target if target.startswith("xl/") else f"xl/{target}"
    except (KeyError, ET.ParseError, StopIteration):
        return "xl/worksheets/sheet1.xml"


def _cell_value(
    c: ET.Element,
    shared: list[str],
    date_xfs: frozenset[int],
    epoch: datetime = _EXCEL_EPOCH,
):
    t = c.get("t", "n")
    if t == "inlineStr":
        return "".join(e.text or "" for e in c.iter(f"{_NS}t")) or None
    v = c.find(f"{_NS}v")
    if v is None or v.text is None:
        return None
    raw = v.text
    if t == "s":
        return shared[int(raw)]
    if t in ("str", "e"):
        return raw
    if t == "b":
        return raw == "1"
    num = float(raw)
    if int(c.get("s", "0")) in date_xfs:
        return epoch + timedelta(days=num)
    return int(num) if num.is_integer() else num


def parse_xlsx_rows(data: bytes) -> list[list]:
    """Sheet 0 of an xlsx as a rectangular list of rows (A1 semantics:
    ``header=None`` — no header interpretation, absent cells → None)."""
    with zipfile.ZipFile(io.BytesIO(data)) as z:
        shared = _shared_strings(z)
        date_xfs = _date_styles(z)
        epoch = _EXCEL_EPOCH_1904 if _is_date1904(z) else _EXCEL_EPOCH
        root = ET.fromstring(z.read(_first_sheet_path(z)))
        rows: list[list] = []
        width = 0
        for row_el in root.iter(f"{_NS}row"):
            row: list = []
            for c in row_el.findall(f"{_NS}c"):
                ref = c.get("r")
                idx = _col_index(ref) if ref else len(row)
                while len(row) < idx:
                    row.append(None)
                row.append(_cell_value(c, shared, date_xfs, epoch))
            rows.append(row)
            width = max(width, len(row))
        for row in rows:
            row.extend([None] * (width - len(row)))
        return rows


def detect_header_index(
    rows: Sequence[Sequence], candidates: Iterable[str] = CANDIDATE_COLS
) -> int:
    """A2 (app.py:154-163): first row whose non-null values contain every
    candidate column name; fallback index 1."""
    want = {str(c).strip().lower() for c in candidates}
    for i, row in enumerate(rows):
        have = {str(v).strip().lower() for v in row if v is not None}
        if want <= have:
            return i
    return 1


def rows_to_pandas(rows: Sequence[Sequence], header_idx: int) -> pd.DataFrame:
    """A3 (app.py:173-181): header row → snake_case column names, rows
    below → data, all-null rows/cols dropped (A4/A5, app.py:178).
    Sheets too short to hold the (possibly fallback) header index parse
    as empty rather than crashing."""
    if not rows or header_idx >= len(rows):
        return pd.DataFrame()
    header = [
        norm_col(h) if h is not None else f"unnamed_{i}"
        for i, h in enumerate(rows[header_idx])
    ]
    pdf = pd.DataFrame(list(rows[header_idx + 1 :]), columns=header)
    pdf = pdf.dropna(axis=1, how="all").dropna(how="all").reset_index(drop=True)
    return pdf


def parse_cortex_xlsx(data: bytes) -> tuple[pd.DataFrame, int]:
    """A1-A3 composed: bytes → (clean pandas frame, detected header idx)."""
    rows = parse_xlsx_rows(data)
    hdr = detect_header_index(rows)
    return rows_to_pandas(rows, hdr), hdr


def _align_types(dfs: list[DataFrame]) -> list[DataFrame]:
    """Cast a column to string in every file when its type differs
    across files (a date-typed ``Last Seen`` in one upload, the text
    ``never`` in another). ``unionByName`` would otherwise cast the
    strings to the other file's type and fail the job; the reference's
    ``pd.concat`` keeps them as objects and silver's coercion turns
    the unparseable ones into NULL. Numeric-only differences are left
    to the union's widening, as ``pd.concat`` promotes int to float.
    When every file agrees, the frames come back untouched."""
    types: dict[str, set] = {}
    for df in dfs:
        for f in df.schema.fields:
            types.setdefault(f.name, set()).add(f.dataType)
    clash = {
        c
        for c, ts in types.items()
        if len(ts) > 1 and not all(isinstance(t, NumericType) for t in ts)
    }
    if not clash:
        return dfs
    return [
        df.withColumns(
            {c: F.col(f"`{c}`").cast("string") for c in df.columns if c in clash}
        )
        for df in dfs
    ]


def read_excel(spark: SparkSession, paths: Sequence[str]) -> DataFrame:
    """Driver-side xlsx ingest for small file counts (the reference's
    regime: a handful of uploads). Full type fidelity per file, then
    ``unionByName(allowMissingColumns=True)`` (A11 semantics) after
    ``_align_types`` settles columns whose type differs by file."""
    from etl_cortex_spark.operators.gold import union_all

    dfs = []
    for p in paths:
        with open(p, "rb") as f:
            pdf, _ = parse_cortex_xlsx(f.read())
        if len(pdf):
            dfs.append(spark.createDataFrame(pdf))
    if not dfs:
        return local_df(spark, [], "unused string").limit(0).drop("unused")
    return union_all(_align_types(dfs))


def read_excel_distributed(
    spark: SparkSession, path_glob: str, columns: Sequence[str]
) -> DataFrame:
    """Executor-side xlsx ingest for large file counts.

    ``binaryFile`` scan → ``mapInPandas`` parses each file where its
    bytes landed — no driver bottleneck, linear scale-out in file
    count. mapInPandas needs a fixed output schema, so the caller
    names the (normalized) columns; every value is emitted as string
    plus a ``_src_file`` lineage column, and missing columns are NULL
    (the same alignment ``unionByName(allowMissingColumns=True)``
    would do). Downstream silver typing (A7 ``try_to_timestamp`` etc.)
    restores types — the same order of operations as the reference,
    which also parses first and types later (app.py:170→184).
    """
    out_cols = [norm_col(c) for c in columns]
    schema = (
        ", ".join(f"`{c}` string" for c in out_cols)
        + ", `_src_file` string, `_parse_error` boolean"
    )

    def parse_files(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            for path, content in zip(batch["path"], batch["content"]):
                try:
                    pdf, _ = parse_cortex_xlsx(bytes(content))
                except Exception:
                    # one corrupt upload (bad zip, broken XML, hostile
                    # sharedStrings index) must degrade to a skipped
                    # file, not a failed job after task retries; the
                    # marker row keeps the path visible downstream
                    # (filter `_parse_error` to quarantine or drop)
                    bad = pd.DataFrame(
                        {c: pd.Series([None], dtype="string") for c in out_cols}
                    )
                    bad["_src_file"] = path
                    bad["_parse_error"] = pd.Series([True])
                    yield bad
                    continue
                # Series-valued columns even when absent from this file:
                # an all-scalar dict would raise for files sharing no
                # expected columns (one bad upload must not fail the job)
                aligned = pd.DataFrame(
                    {
                        c: pdf[c].astype("string")
                        if c in pdf.columns
                        else pd.Series([None] * len(pdf), dtype="string")
                        for c in out_cols
                    }
                )
                aligned["_src_file"] = path
                aligned["_parse_error"] = pd.Series([False] * len(pdf))
                yield aligned

    files = spark.read.format("binaryFile").load(path_glob).select("path", "content")
    return files.mapInPandas(parse_files, schema=schema)
