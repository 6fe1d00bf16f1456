"""A1-A3 xlsx ingest, A20 xlsx sink, B9/B10 file sinks, and the golden
end-to-end cortex pipeline (SURVEY §5.2 items 2 and 3).

The reference app (``/root/reference/app.py``) is a pandas/Streamlit
script; its semantics are reproduced here Spark-first. The fixture
follows FIXTURES.md §1: junk title row above the header, empty
rows/columns, multi-valued IP cells, mixed-case statuses, duplicate
endpoints across files with differing recency, one file missing an
optional column.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from etl_cortex_spark.pipeline import export_xlsx, run_pipeline, silver_clean
from etl_cortex_spark.sinks.files import write_csv, write_parquet
from etl_cortex_spark.sinks.xlsx import df_to_xlsx_bytes
from etl_cortex_spark.sources.excel import (
    detect_header_index,
    parse_cortex_xlsx,
    parse_xlsx_rows,
    read_excel,
    read_excel_distributed,
)

# ---------------------------------------------------------------------------
# fixture builders: write xlsx via the sink, then feed it to the source —
# plus a pandas cross-check so the roundtrip isn't self-consistent-but-wrong.
# ---------------------------------------------------------------------------

RAW_COLS = [
    "Endpoint Name",
    "Endpoint Alias",
    "Endpoint Type",
    "Endpoint Status",
    "Operating System",
    "Agent Version",
    "IP Address",
    "IPv6 Address",
    "Last Seen",
    "Last Upgrade Status",
]


def _file_one() -> pd.DataFrame:
    """Header on row 2 (junk title + blank row above), one empty column."""
    rows = [
        ["Cortex XDR export", None, None, None, None, None, None, None, None, None],
        [None] * 10,
        RAW_COLS,
        [
            "host-a",
            "alias-a",
            "Workstation",
            " connected ",
            "Windows 10",
            "8.2.1",
            "junk 10.0.0.5, 192.168.1.7",
            "garbage, fe80::1, fe80::2",
            dt.datetime(2024, 1, 10, 12, 0, 0),
            "Success",
        ],
        [
            "host-b",
            "alias-b",
            "Server",
            "LOST",
            "Ubuntu 22.04",
            "8.2.0",
            "no ip here",
            "nothing",
            dt.datetime(2024, 1, 5, 9, 30, 0),
            "Failed - Timed Out",
        ],
        [None] * 10,  # fully empty row (A5)
        [
            "host-c",
            None,
            "Workstation",
            "disconnected",
            "Windows 10",
            "8.1.9",
            None,
            None,
            dt.datetime(2024, 1, 8, 8, 0, 0),
            "error: disk faulty",
        ],
    ]
    pdf = pd.DataFrame(rows)
    pdf["empty_col"] = None  # all-null column (A4)
    return pdf


def _file_two() -> pd.DataFrame:
    """Header on row 0; newer host-a record; no IPv6 column (A11 gap)."""
    cols = [c for c in RAW_COLS if c != "IPv6 Address"]
    rows = [
        cols,
        [
            "host-a",
            "alias-a",
            "Workstation",
            "connected",
            "Windows 11",
            "8.3.0",
            "172.16.0.9",
            dt.datetime(2024, 2, 1, 10, 0, 0),
            "Success",
        ],
        [
            "host-d",
            "alias-d",
            "Server",
            "Connected",
            "RHEL 9",
            "8.3.0",
            "10.1.1.1, 10.1.1.2",
            dt.datetime(2024, 1, 20, 11, 0, 0),
            "upgrade lost connection",
        ],
    ]
    return pd.DataFrame(rows)


def _write_headerless_xlsx(pdf: pd.DataFrame) -> bytes:
    """Serialize raw fixture rows as sheet rows. The sink always writes
    the frame's column names as row 1, so c0..cN becomes a junk row
    ABOVE the real in-data header — exactly the messiness the header
    detector exists for (FIXTURES.md: junk title rows)."""
    shifted = pd.DataFrame(pdf.values, columns=[f"c{i}" for i in range(pdf.shape[1])])
    return df_to_xlsx_bytes({"Sheet1": shifted}, drop_empty_after_first=False)


@pytest.fixture(scope="module")
def xlsx_files(tmp_path_factory):
    d = tmp_path_factory.mktemp("xlsx")
    paths = []
    for i, pdf in enumerate([_file_one(), _file_two()]):
        p = d / f"file{i}.xlsx"
        p.write_bytes(_write_headerless_xlsx(pdf))
        paths.append(str(p))
    return paths


# ---------------------------------------------------------------------------
# xlsx writer → reader roundtrip (self-check + typed values)
# ---------------------------------------------------------------------------


def test_xlsx_roundtrip_types():
    pdf = pd.DataFrame(
        {
            "s": ["a", "b,c", "<&>'\""],
            "i": [1, 2, 30000000000],
            "f": [1.5, -2.25, 0.125],
            "t": pd.to_datetime(
                ["2024-01-01 12:34:56", "2023-06-30 00:00:00", "2024-02-29 23:59:59"]
            ),
        }
    )
    data = df_to_xlsx_bytes({"T": pdf}, drop_empty_after_first=False)
    rows = parse_xlsx_rows(data)
    assert rows[0] == ["s", "i", "f", "t"]
    assert rows[1][0] == "a" and rows[3][0] == "<&>'\""
    assert rows[3][1] == 30000000000 and isinstance(rows[3][1], int)
    assert rows[2][2] == -2.25
    assert rows[1][3] == dt.datetime(2024, 1, 1, 12, 34, 56)
    assert rows[3][3] == dt.datetime(2024, 2, 29, 23, 59, 59)


def test_xlsx_sheet_rules():
    base = pd.DataFrame({"x": [1]})
    empty = pd.DataFrame({"y": []})
    name = "a/very:long*sheet?name[that]exceeds_31_chars"
    data = df_to_xlsx_bytes({name: base, "Empty": empty})
    import io
    import zipfile

    with zipfile.ZipFile(io.BytesIO(data)) as z:
        wb = z.read("xl/workbook.xml").decode()
        # empty non-first sheet suppressed (A18); name sanitized+truncated
        assert "Empty" not in wb
        assert "a_very_long_sheet_name_that_exc" in wb
        sheets = [n for n in z.namelist() if n.startswith("xl/worksheets/")]
        assert len(sheets) == 1
        # frozen header pane present (A20)
        assert 'ySplit="1"' in z.read(sheets[0]).decode()


def test_xlsx_empty_book_raises():
    with pytest.raises(ValueError):
        df_to_xlsx_bytes({})


# ---------------------------------------------------------------------------
# header detection (A2)
# ---------------------------------------------------------------------------


def test_detect_header_index_scans_past_junk():
    rows = parse_xlsx_rows(_write_headerless_xlsx(_file_one()))
    # row 0 = synthetic c0.. header, rows 1.. = our fixture rows, so the
    # real header ("Endpoint Name"...) sits at index 3
    assert detect_header_index(rows) == 3


def test_detect_header_index_fallback_is_1():
    assert detect_header_index([["x", "y"], ["a", "b"], ["c", "d"]]) == 1


def test_parse_cortex_xlsx_cleans(xlsx_files):
    pdf, hdr = parse_cortex_xlsx(open(xlsx_files[0], "rb").read())
    assert hdr == 3
    assert "endpoint_name" in pdf.columns  # A6 snake_case
    assert len(pdf.columns) == 10  # A4: the all-null 11th column dropped
    assert len(pdf) == 3  # A5: empty row dropped
    assert pdf["last_seen"].iloc[0] == dt.datetime(2024, 1, 10, 12, 0, 0)


# ---------------------------------------------------------------------------
# golden end-to-end pipeline (SURVEY §5.2 item 2)
# ---------------------------------------------------------------------------


def test_golden_pipeline(spark, xlsx_files):
    sheets = run_pipeline(spark, xlsx_files)
    base = sheets["Base_Limpa"].toPandas().sort_values("endpoint_name")

    # 5 input rows → 4 distinct endpoints; host-a deduped to newest (A13)
    assert list(base["endpoint_name"]) == ["host-a", "host-b", "host-c", "host-d"]
    a = base[base["endpoint_name"] == "host-a"].iloc[0]
    assert a["operating_system"] == "Windows 11" and a["agent_version"] == "8.3.0"

    # silver derivations: first IPv4 (A9), first IPv6 (A10), title-case (A8)
    by_name = base.set_index("endpoint_name")
    assert by_name.loc["host-d", "ipv4"] == "10.1.1.1"
    assert by_name.loc["host-b", "ipv4"] is None or pd.isna(by_name.loc["host-b", "ipv4"])
    assert by_name.loc["host-c", "endpoint_status"] == "Disconnected"
    assert by_name.loc["host-b", "endpoint_status"] == "Lost"
    # host-a's surviving record came from file2 which has no IPv6 column
    assert pd.isna(by_name.loc["host-a", "ipv6"])

    # summaries (A15): counts over the deduped base, desc
    status = sheets["Resumo_Status"].toPandas()
    assert status.columns.tolist() == ["endpoint_status", "qtd"]
    assert status["qtd"].sum() == len(base)
    assert status["qtd"].is_monotonic_decreasing

    # failure slice (A16/A17): host-b (Timed Out), host-c (error/faulty),
    # host-d (lost) — host-a is Success
    fail = sheets["Falhas_Upgrade"].toPandas()
    assert sorted(fail["endpoint_name"]) == ["host-b", "host-c", "host-d"]

    # export (A20): book renders, all 4 sheets survive (none empty)
    book = export_xlsx(sheets)
    import io
    import zipfile

    with zipfile.ZipFile(io.BytesIO(book)) as z:
        assert len([n for n in z.namelist() if n.startswith("xl/worksheets/")]) == 4


def test_distributed_ingest_matches_driver_path(spark, xlsx_files):
    import os

    cols = [
        "endpoint_name",
        "endpoint_alias",
        "endpoint_status",
        "operating_system",
        "agent_version",
        "last_seen",
    ]
    glob = os.path.join(os.path.dirname(xlsx_files[0]), "*.xlsx")
    dist = read_excel_distributed(spark, glob, cols)
    got = dist.toPandas()
    assert len(got) == 5  # 3 + 2 rows, pre-dedup
    assert set(got["_src_file"].str.contains("file").tolist()) == {True}
    assert not got["_parse_error"].any()
    # every requested column present, strings or null
    assert [c for c in got.columns if c not in ("_src_file", "_parse_error")] == cols
    # silver typing restores timestamps from the string payload (A7)
    silver = silver_clean(dist.drop("_src_file", "_parse_error"))
    ts = silver.select("last_seen").toPandas()["last_seen"]
    assert ts.notna().all()


def test_distributed_ingest_survives_corrupt_file(spark, xlsx_files, tmp_path):
    """A corrupt upload degrades to one quarantine-marker row, not a
    failed job (ADVICE r1): good files parse normally alongside it."""
    import os
    import shutil

    d = tmp_path / "mixed"
    d.mkdir()
    for f in xlsx_files:
        shutil.copy(f, d / os.path.basename(f))
    (d / "corrupt.xlsx").write_bytes(b"this is not a zip archive at all")
    cols = ["endpoint_name", "endpoint_status"]
    got = read_excel_distributed(spark, str(d / "*.xlsx"), cols).toPandas()
    bad = got[got["_parse_error"]]
    assert len(bad) == 1 and bad["_src_file"].str.contains("corrupt").all()
    good = got[~got["_parse_error"]]
    assert len(good) == 5 and good["endpoint_name"].notna().all()


def test_read_excel_mixed_types_coerce_to_null(spark, xlsx_files, tmp_path):
    """One file types `Last Seen` as a date, another holds the text
    `never`: the pipeline runs and the text becomes NULL, as the
    reference's pd.concat + to_datetime(errors="coerce") gives NaT. An
    int-vs-float column stays numeric, as pd.concat promotes it. Files
    whose types agree reach the union untouched."""
    from etl_cortex_spark.sources.excel import _align_types

    cols = ["Endpoint Name", "Endpoint Status", "Last Seen", "Open Ports"]
    rows = {
        "dated": ["host-a", "Connected", dt.datetime(2024, 1, 10, 12, 0, 0), 3],
        "never": ["host-b", "Lost", "never", 2.5],
    }
    paths = []
    for name, row in rows.items():
        p = tmp_path / f"{name}.xlsx"
        p.write_bytes(_write_headerless_xlsx(pd.DataFrame([cols, row])))
        paths.append(str(p))
    base = run_pipeline(spark, paths)["Base_Limpa"].toPandas()
    seen = base.set_index("endpoint_name")["last_seen"]
    assert seen["host-a"] == pd.Timestamp(2024, 1, 10, 12, 0, 0)
    assert pd.isna(seen["host-b"])
    ports = base.set_index("endpoint_name")["open_ports"]
    assert ports["host-a"] == 3.0 and ports["host-b"] == 2.5

    same = [
        spark.createDataFrame(parse_cortex_xlsx(open(p, "rb").read())[0])
        for p in xlsx_files
    ]
    assert _align_types(same) is same


# ---------------------------------------------------------------------------
# file sinks (B9/B10)
# ---------------------------------------------------------------------------


def test_file_sinks_roundtrip(spark, tmp_path):
    df = spark.range(100).selectExpr("id", "id % 7 AS k", "cast(id * 1.5 as double) AS v")
    pq = str(tmp_path / "pq")
    write_parquet(df, pq, partition_by=["k"])
    back = spark.read.parquet(pq)
    assert back.count() == 100
    # directory partitioning visible → partition pruning works (C5)
    pruned = back.filter("k = 3")
    assert pruned.count() == 15 or pruned.count() == 14

    csv = str(tmp_path / "csv")
    write_csv(df, csv, coalesce_to=1)
    back_csv = spark.read.option("header", True).csv(csv)
    assert back_csv.count() == 100 and back_csv.columns == ["id", "k", "v"]

def test_xlsx_1904_date_epoch():
    """Mac-origin workbooks (workbookPr date1904) shift serials by
    1462 days; the reader must honor the flag."""
    import io
    import zipfile

    pdf = pd.DataFrame({"t": pd.to_datetime(["2024-01-01 12:00:00"])})
    data = df_to_xlsx_bytes({"T": pdf}, drop_empty_after_first=False)

    # rewrite workbook.xml with the date1904 flag set
    src = zipfile.ZipFile(io.BytesIO(data))
    out = io.BytesIO()
    with zipfile.ZipFile(out, "w") as z:
        for name in src.namelist():
            content = src.read(name)
            if name == "xl/workbook.xml":
                content = content.replace(
                    b"<sheets>", b'<workbookPr date1904="1"/><sheets>'
                )
            z.writestr(name, content)

    rows_1900 = parse_xlsx_rows(data)
    rows_1904 = parse_xlsx_rows(out.getvalue())
    # same serial, different epoch: 1904 reading is 1462 days later
    delta = rows_1904[1][0] - rows_1900[1][0]
    assert delta == dt.timedelta(days=1462)


def test_xlsx_writer_hostile_values():
    """Quotes in sheet names, inf/NA values, control chars, duplicate
    columns — none may corrupt the output or crash the writer."""
    import io
    import zipfile

    import numpy as np

    pdf = pd.DataFrame(
        {
            "a": [1.0, float("inf"), float("-inf")],
            "b": pd.array([1, None, 3], dtype="Int64"),  # pd.NA path
            "c": ["ok", "ctrl\x01char", "fine"],
        }
    )
    dup = pd.concat([pdf, pdf[["a"]]], axis=1)  # duplicate column name 'a'
    data = df_to_xlsx_bytes({'Q3 "Final" & more': dup}, drop_empty_after_first=False)
    with zipfile.ZipFile(io.BytesIO(data)) as z:
        from xml.etree import ElementTree as ET

        for name in z.namelist():
            if name.endswith(".xml"):
                ET.fromstring(z.read(name))  # every part is valid XML
    rows = parse_xlsx_rows(data)
    assert rows[0] == ["a", "b", "a", "a"] or rows[0][:2] == ["a", "b"]
    assert rows[2][0] is None  # inf → empty cell
    assert rows[2][1] is None  # pd.NA → empty cell
    assert rows[2][2] == "ctrlchar"  # control char stripped


def test_xlsx_reader_edge_cases():
    """Absolute rel targets, phonetic runs, and too-short sheets."""
    import io
    import zipfile

    pdf = pd.DataFrame({"x": ["hello"]})
    data = df_to_xlsx_bytes({"S": pdf}, drop_empty_after_first=False)
    src = zipfile.ZipFile(io.BytesIO(data))

    # rewrite: absolute worksheet target + a phonetic run in sharedStrings
    out = io.BytesIO()
    with zipfile.ZipFile(out, "w") as z:
        for name in src.namelist():
            content = src.read(name)
            if name == "xl/_rels/workbook.xml.rels":
                content = content.replace(
                    b'Target="worksheets/sheet1.xml"',
                    b'Target="/xl/worksheets/sheet1.xml"',
                )
            z.writestr(name, content)
        z.writestr(
            "xl/sharedStrings.xml",
            '<?xml version="1.0"?><sst xmlns='
            '"http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            "<si><r><t>Tokyo</t></r><rPh><t>TOKYO-YOMI</t></rPh></si></sst>",
        )
    rows = parse_xlsx_rows(out.getvalue())
    assert rows[0] == ["x"]  # absolute target resolved

    from etl_cortex_spark.sources.excel import _shared_strings

    shared = _shared_strings(zipfile.ZipFile(out))
    assert shared == ["Tokyo"]  # phonetic run excluded

    # single-row sheet + fallback header index 1 → empty frame, no crash
    from etl_cortex_spark.sources.excel import rows_to_pandas

    assert len(rows_to_pandas([["only", "row"]], 1)) == 0
