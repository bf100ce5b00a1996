"""Seeded inputs for the benchmark.

Two kinds of input, both made here from the ``--seed`` alone:

- the ten TPC-H-style tables the registered queries read
  (``catalog.TABLES``), one parquet file each, with the schemas and value
  domains of the repository's sf0.001 testdata;
- Excel workbooks for the connector operations, written by the small
  SpreadsheetML writer below rather than by ``sources.minixlsx``, so that a
  change to the program's codec cannot change the benchmark's inputs.

The program only ever sees the files; the frames returned here are the
truth the output checks compare against.
"""

from __future__ import annotations

import datetime as dt
import os
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table, about the repository's sf0.001 testdata
TABLE_ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "bright"]
_PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "valve"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def tpch_tables(seed: int) -> dict[str, pa.Table]:
    """The ten tables of ``catalog.TABLES`` for one seed."""
    rng = np.random.default_rng(seed)
    n = TABLE_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    c = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
            "c_mktsegment": rng.choice(_SEGMENTS, c),
        }
    )
    s = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s), 2),
        }
    )
    p = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(p), pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(_PART_ADJ, p), rng.choice(_PART_NOUN, p))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
            "p_type": rng.choice(_PART_TYPES, p),
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2),
        }
    )
    o = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], o),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, o), 2),
            "o_orderdate": _days(rng, o, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": rng.choice(_PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, li), 2),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], li),
            "l_linestatus": rng.choice(["F", "O"], li),
            "l_shipdate": _days(rng, li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    e = n["events"]
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, e)) + np.datetime64("2024-01-01", "us")
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(e), pa.int64()),
            "ts": ts.astype("datetime64[us]"),
            "user_id": pa.array(rng.integers(0, 150, e), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, e),
            "value": np.round(rng.exponential(60.0, e) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng, d: int) -> pa.Table:
    """Word-salad documents; one in twenty is a near-duplicate of an
    earlier one (its text plus one or two ``dup`` tokens), so the dedup
    operators have pairs to find."""
    texts: list[str] = []
    for i in range(d):
        if i > 10 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 100)))))
    return pa.table(
        {
            "doc_id": pa.array(range(d), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, d, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )


def _embeddings(rng, v: int, dim: int = 64) -> pa.Table:
    """Unit vectors around ten label centroids."""
    label = rng.integers(0, 10, v)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    x = centroids[label] * 0.15 + rng.normal(0.0, 1.0, (v, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(range(v), pa.int64()),
            "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Excel inputs
# ---------------------------------------------------------------------------

CATEGORIES = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]


def sheet_frame(rng, n_rows: int, first_id: int) -> pd.DataFrame:
    """Rows of ``id`` (int), ``amount`` (float), ``category`` (string) and
    ``day`` (date), with nulls in every column but ``id``."""
    ids = np.arange(first_id, first_id + n_rows, dtype=np.int64)
    amount = np.round(rng.uniform(-500.0, 5000.0, n_rows), 2)
    category = rng.choice(CATEGORIES, n_rows).astype(object)
    base = dt.date(2020, 1, 1)
    day = [base + dt.timedelta(days=int(k)) for k in rng.integers(0, 1500, n_rows)]
    frame = pd.DataFrame(
        {
            "id": ids,
            "amount": amount,
            "category": category,
            "day": pd.Series(day, dtype=object),
        }
    )
    # one null in ~25 cells per nullable column; never a whole column
    for col in ("amount", "category", "day"):
        mask = rng.random(n_rows) < 0.04
        mask[0] = False
        frame[col] = frame[col].astype(object).where(~mask, None)
    return frame


def _col_letter(idx: int) -> str:
    s = ""
    idx += 1
    while idx:
        idx, r = divmod(idx - 1, 26)
        s = chr(65 + r) + s
    return s


_EXCEL_EPOCH = dt.date(1899, 12, 30)

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    '<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>'
    '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
    "</Types>"
)
_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    "</Relationships>"
)
_WORKBOOK = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
    '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
)
_WORKBOOK_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
    '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>'
    '<Relationship Id="rId3" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
    "</Relationships>"
)
#: cellXfs 1 = built-in date format 14 (m/d/yyyy)
_STYLES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
    '<fonts count="1"><font/></fonts><fills count="1"><fill/></fills>'
    '<borders count="1"><border/></borders><cellStyleXfs count="1"><xf/></cellStyleXfs>'
    '<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/></cellXfs>'
    "</styleSheet>"
)
_NS = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'


def write_workbook(path: str, frame: pd.DataFrame) -> None:
    """One-sheet .xlsx with a header row: strings go to the shared-string
    table (as Excel writes them), dates are serials with a date style,
    and a null is an absent cell."""
    strings: dict[str, int] = {}

    def sst(v: str) -> int:
        return strings.setdefault(v, len(strings))

    cols = list(frame.columns)
    letters = [_col_letter(i) for i in range(len(cols))]
    rows = [
        '<row r="1">'
        + "".join(
            f'<c r="{letters[i]}1" t="s"><v>{sst(str(c))}</v></c>'
            for i, c in enumerate(cols)
        )
        + "</row>"
    ]
    for r, rec in enumerate(frame.itertuples(index=False, name=None), start=2):
        cells = []
        for i, v in enumerate(rec):
            if v is None or (isinstance(v, float) and np.isnan(v)):
                continue
            ref = f"{letters[i]}{r}"
            if isinstance(v, str):
                cells.append(f'<c r="{ref}" t="s"><v>{sst(v)}</v></c>')
            elif isinstance(v, dt.date):
                cells.append(f'<c r="{ref}" s="1"><v>{(v - _EXCEL_EPOCH).days}</v></c>')
            elif isinstance(v, (int, np.integer)):
                cells.append(f'<c r="{ref}"><v>{int(v)}</v></c>')
            else:
                cells.append(f'<c r="{ref}"><v>{float(v)!r}</v></c>')
        rows.append(f'<row r="{r}">' + "".join(cells) + "</row>")
    sheet = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><worksheet {_NS}>'
        "<sheetData>" + "".join(rows) + "</sheetData></worksheet>"
    )
    shared = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<sst {_NS} count="{len(strings)}" uniqueCount="{len(strings)}">'
        + "".join(f"<si><t>{escape(s)}</t></si>" for s in strings)
        + "</sst>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES)
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr("xl/workbook.xml", _WORKBOOK)
        zf.writestr("xl/_rels/workbook.xml.rels", _WORKBOOK_RELS)
        zf.writestr("xl/styles.xml", _STYLES)
        zf.writestr("xl/sharedStrings.xml", shared)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)


def workbook_dir(seed: int, out_dir: str, n_files: int, rows_per_file: int) -> pd.DataFrame:
    """Write ``n_files`` workbooks; return the union of their rows."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    frames = []
    for k in range(n_files):
        frame = sheet_frame(rng, rows_per_file, k * rows_per_file)
        write_workbook(os.path.join(out_dir, f"part-{k:02d}.xlsx"), frame)
        frames.append(frame)
    return pd.concat(frames, ignore_index=True)


def sink_frame(seed: int, n_rows: int) -> pd.DataFrame:
    """The rows the Excel sink operation writes."""
    return sheet_frame(np.random.default_rng([seed, 2]), n_rows, 0)
