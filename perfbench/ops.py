"""The benchmark's workloads: which operations each one runs, how an
operation is called through the program's public entry points, and how
its output is checked against truth.

Every operation is split into ``build`` (driver-side plan construction:
the registered query callable, or the connector's ``load``/``save``
definition) and ``execute`` (the action). Registered queries are
materialized through the ``noop`` sink on timed calls; their one checked
call collects the result instead and compares it with the query's DuckDB
oracle through ``testing.compare_query``. Connector operations return a
small result on every call, and that result is checked against truth
computed from the generator's own frames.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from dataclasses import dataclass
from typing import Any, Callable

import pandas as pd

#: Each workload's operations and nominal round time, with its reasons,
#: input sizes and the layer metrics it is expected to move and hold
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "workloads.json")) as _fh:
    WORKLOADS: dict[str, dict] = json.load(_fh)["workloads"]

#: Excel input shape: files x rows per file, the chunk size of the
#: chunked scan, and the rows the sink writes from four partitions
XLSX_FILES = 2
XLSX_ROWS = 1000
CHUNK_ROWS = 500
SINK_ROWS = 1000
SINK_PARTITIONS = 4
#: the pushed filter of the chunked scan
FILTER_MIN_AMOUNT = 1000.0

USER_SCHEMA = "id BIGINT, amount DOUBLE, category STRING, day DATE"


class CheckFailed(Exception):
    """An operation returned a result that disagrees with truth."""


@dataclass
class Inputs:
    """Everything an operation needs: the session, the query registry, the
    generated table directory and the generator's truth frames."""

    spark: Any
    queries: dict
    oracles: dict
    sf_dir: str
    xlsx_dir: str
    xlsx_truth: pd.DataFrame
    sink_truth: pd.DataFrame
    work_dir: str
    sink_df: Any = None


@dataclass
class Call:
    """One operation: ``build`` returns a handle, ``execute`` runs it and
    returns what the check needs. ``collect`` is the execute used on the
    checked call when it differs from the timed one."""

    build: Callable[[Inputs], Any]
    execute: Callable[[Any], Any]
    check: Callable[[Inputs, Any], None]
    collect: Callable[[Any], Any] | None = None


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------


class _Collected:
    """A collected Arrow table behind the ``toArrow()`` method that
    ``testing.compare_query`` calls, so the oracle comparison reuses the
    checked call's own result instead of running the query again."""

    def __init__(self, table):
        self._table = table

    def toArrow(self):
        return self._table


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _registered(name: str) -> Call:
    def build(inp: Inputs):
        return inp.queries[name](inp.spark, inp.sf_dir)

    def check(inp: Inputs, table) -> None:
        from pyspark_excel_datasource_spark.testing import compare_query

        report = compare_query(_Collected(table), inp.oracles[name], inp.sf_dir)
        if not report["ok"]:
            raise CheckFailed(f"{name}: {report['problems'][:2]}")

    return Call(build, _noop, check, collect=lambda df: df.toArrow())


# ---------------------------------------------------------------------------
# Excel connector
# ---------------------------------------------------------------------------


def _rows_digest(frame: pd.DataFrame) -> str:
    """Order-insensitive digest of a frame's rows (nulls normalized)."""
    cols = sorted(frame.columns)
    lines = sorted(
        "|".join("" if pd.isna(v) else str(v) for v in rec)
        for rec in frame[cols].itertuples(index=False, name=None)
    )
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _canon(frame: pd.DataFrame) -> pd.DataFrame:
    """Generator and Spark frames in one representation: int ids,
    floats, strings and ISO dates."""
    return pd.DataFrame(
        {
            "id": frame["id"].astype("int64"),
            "amount": pd.to_numeric(frame["amount"]).astype(float),
            "category": frame["category"].astype(object),
            "day": [None if pd.isna(d) else str(pd.Timestamp(d).date()) for d in frame["day"]],
        }
    )


def _excel_scan_chunked() -> Call:
    """User-schema scan split into ``chunkRows`` partitions with a filter
    the connector receives through ``pushFilters``."""

    def build(inp: Inputs):
        from pyspark.sql import functions as F

        return (
            inp.spark.read.format("excel")
            .schema(USER_SCHEMA)
            .option("chunkRows", str(CHUNK_ROWS))
            .load(inp.xlsx_dir)
            .filter(F.col("amount") > FILTER_MIN_AMOUNT)
        )

    def check(inp: Inputs, table) -> None:
        truth = _canon(inp.xlsx_truth)
        want = truth[truth["amount"] > FILTER_MIN_AMOUNT]
        got = _canon(table.to_pandas())
        if len(got) != len(want) or _rows_digest(got) != _rows_digest(want):
            raise CheckFailed(f"excel_scan_chunked rows {len(got)} != {len(want)}")

    return Call(build, lambda df: df.toArrow(), check)


def _excel_read_direct() -> Call:
    """``sources.minixlsx.read_xlsx`` of one workbook, no Spark."""

    def build(inp: Inputs):
        return os.path.join(inp.xlsx_dir, "part-00.xlsx")

    def execute(path):
        from pyspark_excel_datasource_spark.sources import minixlsx

        return minixlsx.read_xlsx(path)

    def check(inp: Inputs, frame) -> None:
        want = _canon(inp.xlsx_truth.iloc[:XLSX_ROWS])
        got = _canon(frame)
        if _rows_digest(got) != _rows_digest(want):
            raise CheckFailed("excel_read_direct rows differ from the workbook")

    return Call(build, execute, check)


def _excel_sink() -> Call:
    """Write a DataFrame of four partitions through the Excel sink (staged
    parts merged into one workbook at commit), then read it back with an
    inferred schema."""

    def build(inp: Inputs):
        out = os.path.join(inp.work_dir, "sink", "out.xlsx")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        return inp, out

    def execute(handle):
        inp, out = handle
        inp.sink_df.write.format("excel").mode("overwrite").save(out)
        return inp.spark.read.format("excel").load(out).toArrow()

    def check(inp: Inputs, table) -> None:
        got = _canon(table.to_pandas())
        want = _canon(inp.sink_truth)
        if len(got) != len(want) or _rows_digest(got) != _rows_digest(want):
            raise CheckFailed(f"excel_sink readback {len(got)} rows differ")

    return Call(build, execute, check)


def _excel_stream() -> Call:
    """Drain the workbook directory with an ``availableNow`` stream into
    the ``noop`` sink, from a fresh checkpoint on every call."""

    def build(inp: Inputs):
        ckpt = os.path.join(inp.work_dir, "stream", uuid.uuid4().hex)
        stream = inp.spark.readStream.format("excel").schema(USER_SCHEMA).load(inp.xlsx_dir)
        return stream, ckpt

    def execute(handle):
        stream, ckpt = handle
        q = (
            stream.writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
            rows = sum(p["numInputRows"] for p in q.recentProgress)
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
        return rows

    def check(inp: Inputs, rows) -> None:
        if rows != len(inp.xlsx_truth):
            raise CheckFailed(f"excel_stream drained {rows} != {len(inp.xlsx_truth)}")

    return Call(build, execute, check)


_CONNECTOR = {
    "excel_scan_chunked": _excel_scan_chunked,
    "excel_read_direct": _excel_read_direct,
    "excel_sink": _excel_sink,
    "excel_stream": _excel_stream,
}


def operation(name: str) -> Call:
    make = _CONNECTOR.get(name)
    return make() if make else _registered(name)
