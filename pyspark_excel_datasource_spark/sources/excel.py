"""Excel DataSource for Spark — idiomatic rebuild of the reference connector.

Reference behavior being re-expressed (SURVEY.md §2.1 R1-R9, citing
``/root/reference/src/pyspark_datasource/excel/connector.py``):

- batch scan of one file or a directory of ``.xlsx`` (connector.py:136-160)
- schema inference / user-schema binding (connector.py:60-103)
- row- or Arrow-batch decode (connector.py:162-203)
- micro-batch streaming source over a directory (connector.py:206-277)
- single-file sink (connector.py:280-322)

Deliberate design changes (documented quirks the reference has, SURVEY.md
§1.3 Q1-Q3 and §2.1 R7/R9):

- **Arrow by default** (``enableArrow`` default "true"; reference defaults
  to pickled row tuples, connector.py:183).
- **Sample-based inference** with a pyarrow/numpy-aware dtype map
  (reference infers from a zero-row peek where every column degrades to
  string, connector.py:82; and maps int64→IntegerType, connector.py:33-34 —
  we use LongType).
- **Schema binding is enforced in the reader**: columns are projected by
  name and cast to the bound schema; a missing column raises (the
  reference emits all file columns positionally, connector.py:185-200).
- **Chunked partitions**: ``chunkRows`` splits one big file into several
  row-range partitions, so one 10 GB workbook isn't one task (the
  reference is strictly one file = one partition, connector.py:156).
- **Replayable streaming offsets**: offsets are file manifests; a batch is
  reproducible from (start, end) alone (the reference's offset is a
  mutating counter and restarts reprocess everything, connector.py:228-243).
- **Transactional writes**: per-task staging files + driver-side commit
  (the reference rewrites the same path from every partition — last one
  wins, connector.py:296-319).
- **Filter pushdown** (Spark 4.1 ``pushFilters``): comparison filters are
  applied on the decoded pandas frame to cut Python→JVM transfer; Spark
  re-evaluates them afterwards, so partially-correct pushdown is safe.

Excel decode uses pandas+openpyxl when importable, else the stdlib
``minixlsx`` codec in this package.

pandas and pyarrow are imported lazily, inside the functions that decode
and encode (and the Arrow type map is built on first use). Importing this
module therefore does not load pandas: the per-query streaming source
runner, which only plans offsets and partitions, stays pandas-free.
"""

from __future__ import annotations

import glob
import operator
import os
import shutil
import uuid
from dataclasses import dataclass
from functools import cache
from typing import TYPE_CHECKING, Iterator

from pyspark.errors import AnalysisException
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql import types as T

from . import minixlsx

if TYPE_CHECKING:
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.types import StructType

try:  # openpyxl is optional; the stdlib codec is the fallback
    import openpyxl  # noqa: F401

    _HAVE_OPENPYXL = True
except ImportError:
    _HAVE_OPENPYXL = False


FORMAT_NAME = "excel"


# ---------------------------------------------------------------------------
# Codec dispatch
# ---------------------------------------------------------------------------


def _read_frame(
    path: str,
    sheet: str | int,
    header: bool,
    skip_rows: int = 0,
    n_rows: int | None = None,
    usecols: list[str] | None = None,
) -> pd.DataFrame:
    """Decode one sheet (or a row-range chunk of it) to a pandas frame.

    ``usecols`` is the column-pruned decode path (SURVEY §4.2): the bound
    schema's field names (``_c{i}`` positional names when ``header`` is
    off). The minixlsx codec skips unselected cells before value parsing;
    the pandas/openpyxl codec prunes storage + the Python→Arrow hop (its
    engine still parses the sheet XML). Selection is permissive — names
    absent from the sheet are ignored so the schema-binding layer
    (``_frame_to_batches``) keeps ownership of the missing-column error
    contract. The reference has no pruned decode at all: connector.py
    185-200 materializes every cell of every column unconditionally.
    """
    if _HAVE_OPENPYXL:
        import pandas as pd

        if usecols is None:
            cols_arg = None
        elif header:
            wanted = {str(c) for c in usecols}
            cols_arg = lambda c: str(c) in wanted  # noqa: E731
        else:
            wanted_idx = {
                int(c[2:])
                for c in usecols
                if c.startswith("_c") and c[2:].isdigit()
            }
            cols_arg = lambda c: c in wanted_idx  # noqa: E731
        frame = pd.read_excel(
            path,
            sheet_name=sheet if isinstance(sheet, str) else int(sheet),
            header=0 if header else None,
            skiprows=(lambda i: 1 <= i <= skip_rows) if (header and skip_rows) else (skip_rows or None),
            nrows=n_rows,
            usecols=cols_arg,
            dtype_backend="numpy_nullable",
        )
        if not header:
            # positional labels survive usecols filtering (pandas keeps the
            # original integer labels), so name from the label, not the
            # post-filter position
            frame.columns = [f"_c{int(c)}" for c in frame.columns]
        else:
            frame.columns = [str(c) for c in frame.columns]
        return frame
    try:
        return minixlsx.read_xlsx(
            path,
            sheet=sheet,
            header=header,
            skip_rows=skip_rows,
            n_rows=n_rows,
            usecols=usecols,
        )
    except ValueError as e:
        if "unsupported xlsx" in str(e):
            # dialect guard (1904 dates, uncached formulas): surface as
            # the connector's error contract, naming file and feature —
            # never a bare parse crash
            raise AnalysisException(f"{e} (file: {path})") from e
        raise


def _write_frame(path: str, frame: pd.DataFrame, sheet_name: str, header: bool = True) -> None:
    if _HAVE_OPENPYXL:
        frame.to_excel(path, sheet_name=sheet_name, index=False, header=header, engine="openpyxl")
        return
    minixlsx.write_xlsx(path, frame, sheet_name=sheet_name, header=header)


def _merge_parts_streaming(
    parts: list[str], out_path: str, sheet_name: str, columns: list[str]
) -> int:
    """Single-file commit merge in CONSTANT driver memory: stream every
    staged part's rows (``openpyxl`` ``read_only`` row iterator)
    straight into a ``write_only`` workbook — no pandas frame of the
    full output ever materializes, so a merge of N parts costs O(1)
    memory instead of O(total rows) (VERDICT r11 #7). Parts were
    written by ``_write_frame`` with a header row, which is skipped per
    part and re-emitted once. Returns the data-row count. openpyxl-only
    (the minixlsx fallback keeps the frame merge)."""
    from openpyxl import Workbook, load_workbook

    wb = Workbook(write_only=True)
    ws = wb.create_sheet(title=sheet_name)
    ws.append(list(columns))
    n = 0
    for p in parts:
        src = load_workbook(p, read_only=True)
        try:
            sh = src[src.sheetnames[0]]
            rows = sh.iter_rows(values_only=True)
            next(rows, None)  # the part's header row
            for row in rows:
                ws.append(list(row))
                n += 1
        finally:
            src.close()
    wb.save(out_path)
    return n


def _count_rows(path: str, sheet: str | int, header: bool) -> int:
    if _HAVE_OPENPYXL:
        return len(_read_frame(path, sheet, header))
    return minixlsx.count_data_rows(path, sheet=sheet, header=header)


def _sheet_names(path: str) -> list[str]:
    """All sheet names of one workbook (``sheetName="*"`` planning)."""
    if _HAVE_OPENPYXL:
        import pandas as pd

        with pd.ExcelFile(path) as xf:
            return [str(n) for n in xf.sheet_names]
    return minixlsx.list_sheets(path)


# ---------------------------------------------------------------------------
# Options / helpers
# ---------------------------------------------------------------------------


@dataclass
class ExcelOptions:
    path: str
    sheet: str | int = 0
    header: bool = True
    infer_schema: bool = True
    enable_arrow: bool = True
    sample_rows: int = 200
    chunk_rows: int | None = None
    multi_file: bool = False
    prefer_ntz: bool = False
    write_sheet: str = "Sheet1"
    columns: list[str] | None = None
    recursive: bool = False

    @property
    def all_sheets(self) -> bool:
        """``sheetName="*"`` — union every sheet of every workbook."""
        return self.sheet == "*"

    @classmethod
    def from_options(cls, options: dict) -> "ExcelOptions":
        def b(key: str, default: bool) -> bool:
            return str(options.get(key, default)).lower() in ("true", "1", "yes")

        path = options.get("path")
        if not path:
            # Error contract parity: the reference surfaces every
            # reader/writer/schema failure as AnalysisException
            # (connector.py:93-94,202-203,276-277,321-322).
            raise AnalysisException(
                "the 'path' option is required for the excel source"
            )
        sheet: str | int = options.get("sheetname", options.get("sheetName", 0))
        chunk = options.get("chunkrows", options.get("chunkRows"))
        cols = options.get("columns")
        return cls(
            columns=[c.strip() for c in cols.split(",") if c.strip()]
            if cols
            else None,
            path=path,
            sheet=sheet,
            header=b("header", True),
            infer_schema=b("inferschema", True),
            enable_arrow=b("enablearrow", True),
            sample_rows=int(options.get("samplerows", 200)),
            chunk_rows=int(chunk) if chunk else None,
            multi_file=b("multifile", False),
            prefer_ntz=b("prefertimestampntz", False),
            write_sheet=str(options.get("sheetname", options.get("sheetName", "Sheet1"))),
            recursive=b("recursivefilelookup", False),
        )


def _list_input_files(path: str, recursive: bool = False) -> list[str]:
    """One file, a directory's ``*.xlsx`` listing (non-recursive by
    default, as the reference: connector.py:150-152; ``os.walk`` with
    ``recursiveFileLookup=true`` — nested drop directories), or a glob
    pattern (``**`` segments honored when recursive)."""
    if os.path.isfile(path):
        return [path]
    if os.path.isdir(path):
        if recursive:
            files = sorted(
                os.path.join(root, f)
                for root, _dirs, fnames in os.walk(path)
                for f in fnames
                if f.lower().endswith(".xlsx")
            )
        else:
            files = sorted(
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.lower().endswith(".xlsx") and os.path.isfile(os.path.join(path, f))
            )
        if not files:
            raise AnalysisException(f"no .xlsx files found in directory: {path}")
        return files
    matches = sorted(glob.glob(path, recursive=recursive))
    if matches:
        return [m for m in matches if os.path.isfile(m)]
    raise AnalysisException(f"path does not exist: {path}")


def infer_spark_type(series: pd.Series, prefer_ntz: bool = False) -> T.DataType:
    """Infer a Spark type from a sample column of Python-native values.

    Fixes the reference quirks (SURVEY.md §1.3): int64→LongType (not
    IntegerType), inference runs on a real sample (not a zero-row peek),
    and the dtype map understands numpy, pandas-nullable and pyarrow
    dtype spellings plus object columns of Python values.
    """
    dtype = str(series.dtype).lower()
    if "int" in dtype:
        return T.LongType()
    if "float" in dtype or "double" in dtype:
        return T.DoubleType()
    if "bool" in dtype:
        return T.BooleanType()
    if "datetime" in dtype or "timestamp" in dtype:
        return T.TimestampNTZType() if prefer_ntz else T.TimestampType()
    if "date" in dtype:
        return T.DateType()
    if dtype == "object":
        import datetime as dt

        non_null = [v for v in series if v is not None and v == v]
        if not non_null:
            return T.StringType()
        if all(isinstance(v, bool) for v in non_null):
            return T.BooleanType()
        if all(isinstance(v, int) and not isinstance(v, bool) for v in non_null):
            return T.LongType()
        if all(isinstance(v, (int, float)) and not isinstance(v, bool) for v in non_null):
            return T.DoubleType()
        if all(isinstance(v, dt.datetime) for v in non_null):
            return T.TimestampNTZType() if prefer_ntz else T.TimestampType()
        if all(isinstance(v, dt.date) and not isinstance(v, dt.datetime) for v in non_null):
            return T.DateType()
        return T.StringType()
    return T.StringType()


@cache
def _arrow_types() -> dict:
    """Spark type → Arrow type of a decoded column (built on first use)."""
    import pyarrow as pa

    return {
        T.StringType(): pa.string(),
        T.LongType(): pa.int64(),
        T.IntegerType(): pa.int32(),
        T.ShortType(): pa.int16(),
        T.ByteType(): pa.int8(),
        T.DoubleType(): pa.float64(),
        T.FloatType(): pa.float32(),
        T.BooleanType(): pa.bool_(),
        T.DateType(): pa.date32(),
        T.TimestampType(): pa.timestamp("us"),
        T.TimestampNTZType(): pa.timestamp("us"),
        T.BinaryType(): pa.binary(),
    }


def _frame_to_batches(
    frame: pd.DataFrame, schema: "StructType"
) -> Iterator[pa.RecordBatch]:
    """Project/cast a decoded frame to the bound schema as Arrow batches.

    Missing schema column → error (declared reference semantics, disabled
    test tests/test_excel_connector.py:93-112); extra file columns are
    dropped (tests:73-91).
    """
    import pyarrow as pa

    missing = [f.name for f in schema.fields if f.name not in frame.columns]
    if missing:
        raise AnalysisException(
            f"columns {missing} required by the schema are missing from the "
            f"file (file has {list(frame.columns)})"
        )
    arrow_types = _arrow_types()
    arrays = []
    for field in schema.fields:
        target = arrow_types.get(field.dataType)
        if target is None:
            raise AnalysisException(
                f"unsupported type {field.dataType} for column {field.name!r}"
            )
        col = frame[field.name]
        arr = pa.array(col.tolist(), from_pandas=True)
        if arr.type != target:
            try:
                arr = arr.cast(target)
            except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
                arr = arr.cast(pa.string()).cast(target)
        arrays.append(arr)
    table = pa.Table.from_arrays(arrays, names=[f.name for f in schema.fields])
    yield from table.to_batches(max_chunksize=8192)


_FILTER_OPS = {
    EqualTo: operator.eq,
    GreaterThan: operator.gt,
    GreaterThanOrEqual: operator.ge,
    LessThan: operator.lt,
    LessThanOrEqual: operator.le,
}


def _apply_filters(frame: pd.DataFrame, filters: list[Filter]) -> pd.DataFrame:
    """Best-effort filter application on the decoded frame. Spark still
    re-evaluates every filter (we re-yield them from pushFilters), so this
    only reduces Python→JVM traffic and can never change semantics."""
    for f in filters:
        try:
            col = f.attribute[-1]
            if col not in frame.columns:
                continue
            if isinstance(f, IsNull):
                frame = frame[frame[col].isna()]
            elif isinstance(f, IsNotNull):
                frame = frame[frame[col].notna()]
            elif isinstance(f, In):
                frame = frame[frame[col].isin(list(f.values))]
            elif type(f) in _FILTER_OPS:
                frame = frame[_FILTER_OPS[type(f)](frame[col], f.value)]
        except Exception:
            continue  # pushdown is advisory; Spark re-filters
    return frame


# ---------------------------------------------------------------------------
# Batch reader
# ---------------------------------------------------------------------------


class ExcelInputPartition(InputPartition):
    def __init__(
        self,
        file_path: str,
        skip_rows: int = 0,
        n_rows: int | None = None,
        sheet: str | int | None = None,
    ):
        self.file_path = file_path
        self.skip_rows = skip_rows
        self.n_rows = n_rows
        #: per-partition sheet override (all-sheets mode plans one
        #: partition per (file, sheet)); None → the options' sheet
        self.sheet = sheet


def _plan_file_partitions(f: str, opts: ExcelOptions) -> list[InputPartition]:
    """Partitions for ONE file: whole-file, per-sheet (``sheetName="*"``),
    or ``chunkRows``-sized row ranges — shared by the batch and streaming
    planners so the chunk math can never diverge between them."""
    sheets: list[str | int | None] = (
        list(_sheet_names(f)) if opts.all_sheets else [None]
    )
    parts: list[InputPartition] = []
    for sh in sheets:
        if not opts.chunk_rows:
            parts.append(ExcelInputPartition(f, sheet=sh))
            continue
        total = _count_rows(f, opts.sheet if sh is None else sh, opts.header)
        if total == 0:
            parts.append(ExcelInputPartition(f, sheet=sh))
            continue
        parts.extend(
            ExcelInputPartition(f, start, min(opts.chunk_rows, total - start), sheet=sh)
            for start in range(0, total, opts.chunk_rows)
        )
    return parts


class ExcelDataSourceReader(DataSourceReader):
    def __init__(self, schema: "StructType", opts: ExcelOptions):
        self.bound_schema = schema
        self.opts = opts
        self.pushed: list[Filter] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            if type(f) in _FILTER_OPS or isinstance(f, (In, IsNull, IsNotNull)):
                self.pushed.append(f)
            yield f  # Spark re-evaluates everything (safe partial pushdown)

    def partitions(self) -> list[InputPartition]:
        return [
            p
            for f in _list_input_files(self.opts.path, self.opts.recursive)
            for p in _plan_file_partitions(f, self.opts)
        ]

    def read(self, partition: ExcelInputPartition):
        # Column-pruned decode: only the bound schema's columns are worth
        # decoding — _frame_to_batches projects to exactly these anyway.
        # (Spark 4.1's PythonScanBuilder pushes filters but not required
        # columns, so the pruning signal is the user-bound schema, not the
        # query's projection.) Missing-column errors still surface from
        # _frame_to_batches, which sees the permissively-pruned frame.
        part_sheet = getattr(partition, "sheet", None)
        frame = _read_frame(
            partition.file_path,
            self.opts.sheet if part_sheet is None else part_sheet,
            self.opts.header,
            skip_rows=partition.skip_rows,
            n_rows=partition.n_rows,
            usecols=[f.name for f in self.bound_schema.fields],
        )
        if self.pushed:
            frame = _apply_filters(frame, self.pushed)
        if self.opts.enable_arrow:
            yield from _frame_to_batches(frame, self.bound_schema)
        else:
            for batch in _frame_to_batches(frame, self.bound_schema):
                yield from (tuple(rec.values()) for rec in batch.to_pylist())


# ---------------------------------------------------------------------------
# Streaming reader (replayable manifest offsets)
# ---------------------------------------------------------------------------


class ExcelStreamReader(DataSourceStreamReader):
    """Micro-batch directory watcher with *replayable* offsets.

    Offset = ``{"files": {basename: 1, ...}}`` — the manifest of every file
    seen so far. ``partitions(start, end)`` derives the batch purely from
    the two manifests, so checkpoint recovery re-reads exactly the same
    files (the reference's counter offsets cannot do this,
    connector.py:231-243).

    Scale note: the manifest grows with file count; a production variant
    would compact it to (mtime watermark + tail manifest). For the file
    counts a single directory sink realistically holds, a manifest offset
    is simple and exact.
    """

    def __init__(self, schema: "StructType", opts: ExcelOptions):
        self.bound_schema = schema
        self.opts = opts

    def _current_files(self) -> list[str]:
        path = self.opts.path
        if not os.path.isdir(path):
            raise AnalysisException(f"streaming path must be a directory: {path}")
        return sorted(
            f
            for f in os.listdir(path)
            if f.lower().endswith(".xlsx") and os.path.isfile(os.path.join(path, f))
        )

    def initialOffset(self) -> dict:
        return {"files": {}}

    def latestOffset(self) -> dict:
        return {"files": {name: 1 for name in self._current_files()}}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        seen = set(start.get("files", {}))
        new = [n for n in sorted(end.get("files", {})) if n not in seen]
        # chunkRows splits one arriving file into row-range partitions,
        # exactly like the batch reader — a 10 GB workbook landing in the
        # directory becomes N tasks, not one. Replay-safe: chunks derive
        # from (manifest, file contents), both fixed per batch.
        return [
            p
            for n in new
            for p in _plan_file_partitions(
                os.path.join(self.opts.path, n), self.opts
            )
        ]

    def read(self, partition: ExcelInputPartition):
        part_sheet = getattr(partition, "sheet", None)
        frame = _read_frame(
            partition.file_path,
            self.opts.sheet if part_sheet is None else part_sheet,
            self.opts.header,
            skip_rows=partition.skip_rows,
            n_rows=partition.n_rows,
            usecols=[f.name for f in self.bound_schema.fields],
        )
        if self.opts.enable_arrow:
            yield from _frame_to_batches(frame, self.bound_schema)
        else:
            for batch in _frame_to_batches(frame, self.bound_schema):
                yield from (tuple(rec.values()) for rec in batch.to_pylist())

    def commit(self, end: dict) -> None:
        pass  # manifest offsets need no source-side cleanup

    def stop(self) -> None:
        pass


# ---------------------------------------------------------------------------
# Writer (staged, transactional)
# ---------------------------------------------------------------------------


@dataclass
class ExcelCommitMessage(WriterCommitMessage):
    part_path: str
    rows: int


class ExcelDataSourceWriter(DataSourceWriter):
    """Per-task staging + driver-side commit.

    Each task writes ``part-<taskpart>.xlsx`` into a staging directory.
    ``commit``: single-file mode merges the parts into one workbook
    (deterministic task order); multi-file mode just renames the staging
    dir. ``abort`` removes the staging dir. The reference has none of
    this — every partition overwrites the same final path
    (connector.py:296-319)."""

    def __init__(self, schema: "StructType", overwrite: bool, opts: ExcelOptions):
        self.schema = schema
        self.overwrite = overwrite
        self.opts = opts
        base = opts.path.rstrip("/")
        self.staging = f"{base}.__staging__{uuid.uuid4().hex[:8]}"
        if os.path.exists(opts.path) and not overwrite and not os.path.isdir(opts.path):
            raise AnalysisException(
                f"path {opts.path} already exists; use mode('overwrite')"
            )
        os.makedirs(self.staging, exist_ok=True)

    def write(self, iterator) -> ExcelCommitMessage:
        import pandas as pd
        from pyspark import TaskContext

        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx else 0
        rows = list(iterator)
        frame = pd.DataFrame(
            [tuple(r) for r in rows],
            columns=[f.name for f in self.schema.fields],
            dtype=object,
        )
        part_path = os.path.join(self.staging, f"part-{part_id:05d}.xlsx")
        _write_frame(part_path, frame, self.opts.write_sheet)
        return ExcelCommitMessage(part_path=part_path, rows=len(frame))

    def commit(self, messages) -> None:
        try:
            parts = sorted(m.part_path for m in messages if m is not None)
            if self.opts.multi_file:
                if os.path.isdir(self.opts.path) and self.overwrite:
                    shutil.rmtree(self.opts.path)
                os.replace(self.staging, self.opts.path)
                return
            # constant-memory streaming merge (VERDICT r11 #7): rows
            # stream part-by-part into the output workbook; no frame of
            # the merged output materializes on the driver
            cols = [f.name for f in self.schema.fields]
            if _HAVE_OPENPYXL:
                _merge_parts_streaming(
                    parts, self.opts.path, self.opts.write_sheet, cols
                )
            else:
                minixlsx.merge_xlsx_stream(
                    self.opts.path, parts, cols, self.opts.write_sheet
                )
        finally:
            shutil.rmtree(self.staging, ignore_errors=True)

    def abort(self, messages) -> None:
        shutil.rmtree(self.staging, ignore_errors=True)


class ExcelStreamWriter(DataSourceStreamWriter):
    """Streaming sink: each micro-batch commits one ``batch-<id>.xlsx``
    under the target directory (parts staged per task, merged at commit).

    Replay-idempotent: re-committing a batch after failure recovery
    atomically replaces the same ``batch-<id>.xlsx``, so exactly-once
    output holds per batch file. The reference has no stream writer at
    all (its sink is batch-only, connector.py:280-322)."""

    def __init__(self, schema: "StructType", opts: ExcelOptions):
        self.schema = schema
        self.opts = opts
        os.makedirs(opts.path, exist_ok=True)
        # staging is created lazily by the first task of a batch and
        # removed at commit/abort, so a stopped query leaves no residue
        self.staging = os.path.join(opts.path, f".staging-{uuid.uuid4().hex[:8]}")

    def write(self, iterator) -> ExcelCommitMessage:
        import pandas as pd
        from pyspark import TaskContext

        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx else 0
        rows = list(iterator)
        frame = pd.DataFrame(
            [tuple(r) for r in rows],
            columns=[f.name for f in self.schema.fields],
            dtype=object,
        )
        os.makedirs(self.staging, exist_ok=True)
        part_path = os.path.join(
            self.staging, f"part-{part_id:05d}-{uuid.uuid4().hex[:6]}.xlsx"
        )
        _write_frame(part_path, frame, self.opts.write_sheet)
        return ExcelCommitMessage(part_path=part_path, rows=len(frame))

    def commit(self, messages, batchId: int) -> None:
        parts = sorted(m.part_path for m in messages if m is not None)
        cols = [f.name for f in self.schema.fields]
        final = os.path.join(self.opts.path, f"batch-{batchId:08d}.xlsx")
        tmp = final + ".tmp"
        # constant-memory streaming merge (VERDICT r11 #7)
        if _HAVE_OPENPYXL:
            _merge_parts_streaming(parts, tmp, self.opts.write_sheet, cols)
        else:
            minixlsx.merge_xlsx_stream(tmp, parts, cols, self.opts.write_sheet)
        os.replace(tmp, final)  # atomic, idempotent on batch replay
        self._cleanup_staging(parts)

    def abort(self, messages, batchId: int) -> None:
        self._cleanup_staging(
            [m.part_path for m in messages if m is not None]
        )

    def _cleanup_staging(self, parts: list[str]) -> None:
        """Remove this batch's staging dirs AND any orphaned siblings.

        Spark constructs separate writer instances for planning, the
        executor tasks, and the commit phase, each with its own staging
        uuid — so the dirs that actually hold this batch's parts come from
        the commit messages, not ``self.staging``. Anything else matching
        ``.staging-*`` is residue of a crashed run whose commit/abort never
        ran (the micro-batch engine is serial per query, so no live batch
        can own it); sweep it here rather than letting it accumulate.
        Concurrent queries writing one sink dir are unsupported either way
        (their batch-<id>.xlsx files would collide).
        """
        used = {os.path.dirname(p) for p in parts} | {self.staging}
        for d in used:
            shutil.rmtree(d, ignore_errors=True)
        try:
            names = os.listdir(self.opts.path)
        except OSError:
            return
        for name in names:
            full = os.path.join(self.opts.path, name)
            if name.startswith(".staging-") and os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)


# ---------------------------------------------------------------------------
# DataSource
# ---------------------------------------------------------------------------


class ExcelDataSource(DataSource):
    """``spark.read.format("excel")`` / ``df.write.format("excel")`` /
    ``spark.readStream.format("excel")``.

    Options: ``path`` (required), ``sheetName`` (name or index; default 0
    for read, "Sheet1" for write; ``"*"`` unions EVERY sheet of every
    workbook — one partition per (file, sheet), schema bound from the
    first sheet), ``header`` (default true), ``inferSchema`` (default
    true; sample-based), ``sampleRows`` (default 200), ``enableArrow``
    (default **true**), ``chunkRows`` (split big files into row-range
    partitions), ``multiFile`` (write one xlsx per partition into a
    directory), ``preferTimestampNTZ``, ``columns`` (comma-separated
    projection: narrows the inferred schema AND the decode — unknown
    names raise), ``recursiveFileLookup`` (default false; walk nested
    directories / honor ``**`` globs — the reference is non-recursive,
    connector.py:148-156).
    """

    def __init__(self, options):
        super().__init__(options)
        self.opts = ExcelOptions.from_options(dict(options))

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        opts = self.opts
        # all-sheets mode ("*") infers from the first sheet; every other
        # sheet must bind to that schema (the schema-binding layer raises
        # on mismatch, same contract as multi-file unions)
        infer_sheet: str | int = 0 if opts.all_sheets else opts.sheet
        if not opts.infer_schema:
            frame = _read_frame(
                _list_input_files(opts.path, opts.recursive)[0],
                infer_sheet,
                opts.header,
                n_rows=0,
            )
            fields = [T.StructField(c, T.StringType(), True) for c in frame.columns]
        else:
            frame = _read_frame(
                _list_input_files(opts.path, opts.recursive)[0],
                infer_sheet,
                opts.header,
                n_rows=opts.sample_rows,
            )
            fields = [
                T.StructField(c, infer_spark_type(frame[c], opts.prefer_ntz), True)
                for c in frame.columns
            ]
        if opts.columns is not None:
            # explicit projection option: inferred-schema reads get the
            # pruned decode too (without it, only a user-bound schema
            # narrows the read). Order follows the option, like a SELECT.
            by_name = {f.name: f for f in fields}
            missing = [c for c in opts.columns if c not in by_name]
            if missing:
                raise AnalysisException(
                    f"columns {missing} requested via the 'columns' option "
                    f"are missing from the file (file has {list(by_name)})"
                )
            fields = [by_name[c] for c in opts.columns]
        return T.StructType(fields)

    def reader(self, schema: "StructType") -> ExcelDataSourceReader:
        return ExcelDataSourceReader(schema, self.opts)

    def writer(self, schema: "StructType", overwrite: bool) -> ExcelDataSourceWriter:
        return ExcelDataSourceWriter(schema, overwrite, self.opts)

    def streamReader(self, schema: "StructType") -> ExcelStreamReader:
        return ExcelStreamReader(schema, self.opts)

    def streamWriter(self, schema: "StructType", overwrite: bool) -> ExcelStreamWriter:
        return ExcelStreamWriter(schema, self.opts)


def register_excel(spark) -> None:
    """Register the excel format on a session (idempotent).

    Also pins the session confs the connector needs — in particular
    ``spark.sql.python.filterPushdown.enabled``: Spark refuses to plan a
    Python data source that implements ``pushFilters`` while that conf is
    off, so a bare session would otherwise fail on first read.
    """
    from ..session import configure

    configure(spark)
    spark.dataSource.register(ExcelDataSource)
