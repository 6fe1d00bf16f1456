"""Seeded benchmark inputs: Cortex XDR endpoint exports and warehouse tables.

Everything here is a pure function of the seed, so two runs with the same
seed see byte-identical inputs. The program under test only ever sees the
files written here.
"""

from __future__ import annotations

import os
import random
from collections import Counter
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from etl_cortex_spark.sinks.xlsx import df_to_xlsx_bytes

# ---------------------------------------------------------------------------
# Cortex XDR exports (FIXTURES.md section 1)
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
    "Last Upgrade Status Time",
    "Last Upgrade Status",
    "Last Upgrade Failure Reason",
]
#: status spellings per canonical value: trim + title-case folds them together
STATUS_SPELLINGS = {
    "Connected": [" connected ", "Connected", "CONNECTED"],
    "Disconnected": ["disconnected", "Disconnected ", "DISCONNECTED"],
    "Lost": ["LOST", "lost", " Lost"],
}
OPERATING_SYSTEMS = ["Windows 10", "Windows 11", "Ubuntu 22.04", "macOS 14", "RHEL 9", None]
#: (status, failure reason); the first four match the failure keywords
UPGRADE_OUTCOMES = [
    ("Failed", "disk full"),
    ("Timed Out", None),
    ("FAULTY", None),
    ("Success", "error: retry budget"),
    ("Success", None),
    ("Pending", None),
]
FAIL_OUTCOMES = 4
N_FILES = 4
ROWS_PER_FILE = 2000
#: the endpoint pool is smaller than the total row count, so files overlap
POOL = 5000


@dataclass
class CortexExports:
    paths: list[str]
    #: distinct (endpoint_name, endpoint_alias) keys over all files
    n_endpoints: int
    status_counts: Counter
    os_counts: Counter
    n_failures: int


def _endpoint(rng: random.Random, i: int) -> dict:
    status = rng.choice([*STATUS_SPELLINGS, None])
    upgrade, reason = rng.choice(UPGRADE_OUTCOMES)
    return {
        "name": f"EP-{i:05d}",
        "alias": None if rng.random() < 0.1 else f"alias-{i % 997:03d}",
        "type": rng.choice(["Workstation", "Server"]),
        "status": status,
        "os": rng.choice(OPERATING_SYSTEMS),
        "agent": f"8.{rng.randint(0, 4)}.{rng.randint(0, 9)}",
        "upgrade": upgrade,
        "reason": reason,
        "fail": UPGRADE_OUTCOMES.index((upgrade, reason)) < FAIL_OUTCOMES,
    }


def _ip_cell(rng: random.Random):
    roll = rng.random()
    ip = f"10.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(1, 254)}"
    if roll < 0.5:
        return ip
    if roll < 0.7:
        return f"{ip}, 192.168.{rng.randint(0, 255)}.{rng.randint(1, 254)}"
    if roll < 0.8:
        return f"vpn-gw {ip}"
    return None if roll < 0.9 else ""


def _ipv6_cell(rng: random.Random):
    roll = rng.random()
    if roll < 0.5:
        return f"fe80::{rng.randint(0, 0xFFFF):x}:{rng.randint(0, 0xFFFF):x}"
    if roll < 0.7:
        return f"n/a, fe80::{rng.randint(0, 0xFFFF):x}"
    return "none" if roll < 0.85 else None


def _timestamp(rng: random.Random) -> datetime:
    return datetime(2024, 1, 1) + timedelta(seconds=rng.randint(0, 180 * 86400))


def _timestamp_text(rng: random.Random) -> str:
    return "never" if rng.random() < 0.05 else f"{_timestamp(rng):%Y-%m-%d %H:%M:%S}"


def _export_rows(
    rng: random.Random, eps: list[dict], f: int
) -> tuple[list[list], list[dict]]:
    """One export file as sheet rows (header row included) and the
    endpoint behind each data row.

    File 0 has its header on row 0; the others carry a junk title row and
    a blank row above it. File 1 has no IPv6 column and writes Last Seen
    as text, so the union mixes date cells with timestamp strings. Every
    file has one empty column and a few empty rows, and writes Last
    Upgrade Status Time as text with unparseable cells.

    Unparseable text stays out of Last Seen: where another file types
    that column as dates, the union's cast to timestamp rejects it and
    the whole report fails (CAST_INVALID_INPUT) instead of coercing the
    cell to NULL.
    """
    cols = [c for c in RAW_COLS if not (f == 1 and c == "IPv6 Address")]
    cols.insert(3, "")  # empty column, no header
    rows: list[list] = [] if f == 0 else [["Cortex XDR - All Endpoints"], []]
    rows.append(cols)
    drawn = []
    for n in range(ROWS_PER_FILE):
        if n % 500 == 250:
            rows.append([])
        ep = rng.choice(eps)
        drawn.append(ep)
        status = ep["status"] and rng.choice(STATUS_SPELLINGS[ep["status"]])
        cells = {
            "Endpoint Name": ep["name"],
            "Endpoint Alias": ep["alias"],
            "Endpoint Type": ep["type"],
            "Endpoint Status": status,
            "Operating System": ep["os"],
            "Agent Version": ep["agent"],
            "IP Address": _ip_cell(rng),
            "IPv6 Address": _ipv6_cell(rng),
            "Last Seen": f"{_timestamp(rng):%Y-%m-%d %H:%M:%S}" if f == 1 else _timestamp(rng),
            "Last Upgrade Status Time": _timestamp_text(rng),
            "Last Upgrade Status": ep["upgrade"],
            "Last Upgrade Failure Reason": ep["reason"],
        }
        rows.append([cells.get(c) for c in cols])
    return rows, drawn


def _rows_to_xlsx(rows: list[list]) -> bytes:
    """Write sheet rows through the program's own xlsx sink: the first
    row becomes the sink's header row, blank header cells stay blank."""
    width = max(len(r) for r in rows)
    body = [r + [None] * (width - len(r)) for r in rows]
    header = [h if h else "" for h in body[0]]
    return df_to_xlsx_bytes({"Endpoints": pd.DataFrame(body[1:], columns=header, dtype=object)})


def make_cortex_exports(seed: int, out_dir: str) -> CortexExports:
    rng = random.Random(seed)
    pool = [_endpoint(rng, i) for i in range(POOL)]
    os.makedirs(out_dir, exist_ok=True)
    paths, seen = [], {}
    for f in range(N_FILES):
        # each file draws from an overlapping window of the pool
        lo = f * POOL // (N_FILES + 2)
        rows, drawn = _export_rows(rng, pool[lo : lo + POOL // 2], f)
        seen.update(((ep["name"], ep["alias"]), ep) for ep in drawn)
        path = os.path.join(out_dir, f"cortex_export_{f}.xlsx")
        with open(path, "wb") as fh:
            fh.write(_rows_to_xlsx(rows))
        paths.append(path)
    eps = list(seen.values())
    return CortexExports(
        paths=paths,
        n_endpoints=len(seen),
        status_counts=Counter(e["status"] for e in eps),
        os_counts=Counter(e["os"] for e in eps),
        n_failures=sum(e["fail"] for e in eps),
    )


# ---------------------------------------------------------------------------
# Warehouse tables (the TPC-H-like star plus events and documents)
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
LANGS = ["en", "en", "fr", "es", "zh", "de"]
WORDS = (
    "a the data spark query table join group sort scan filter window row "
    "column value key hash merge batch stream part line order customer "
    "agg vector fast slow big small"
).split()
#: tables the warehouse refresh reads; fact tables are split into files
FACT_TABLES = ("lineitem", "orders", "events", "documents")


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    start, end = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((end - start).astype(int))
    return (start + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users, n_docs = int(1_000_000 * sf), int(15_000 * sf), int(50_000 * sf)

    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, int(200_000 * sf), n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
        }
    )
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    events = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(60.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    lengths = rng.integers(8, 80, n_docs)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lengths.sum()))]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lengths)[:-1])]
    # exact duplicates: ~3% of documents repeat an earlier document's text
    for i in np.flatnonzero(rng.random(n_docs) < 0.03):
        if i:
            texts[i] = texts[int(rng.integers(0, i))]
    documents = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str, n_files: int) -> None:
    """Dimensions as one file each; fact tables as ``n_files`` parquet
    files in a ``<table>.parquet`` directory, the layout a real ingest
    produces (one file is one scan task, so a single-file fact table
    would serialise every scan)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if name not in FACT_TABLES:
            pq.write_table(tab, path)
            continue
        os.makedirs(path, exist_ok=True)
        bounds = np.linspace(0, tab.num_rows, n_files + 1).astype(int)
        for i in range(n_files):
            part = tab.slice(bounds[i], bounds[i + 1] - bounds[i])
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))
