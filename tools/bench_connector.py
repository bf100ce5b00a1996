#!/usr/bin/env python
"""Excel connector throughput bench (the reference's own domain).

Writes N rows through the Excel sink, then times: chunked-partition scan,
whole-file scan, and row-mode scan. Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark_excel_datasource_spark.session import get_session
from pyspark_excel_datasource_spark.sources.excel import register_excel

N_ROWS = 100_000


def main() -> None:
    spark = get_session("bench-connector")
    register_excel(spark)
    d = tempfile.mkdtemp()
    out = os.path.join(d, "bench.xlsx")
    try:
        df = spark.range(N_ROWS).selectExpr(
            "id", "cast(id * 1.5 as double) as v", "concat('name_', id) as name"
        )
        t0 = time.perf_counter()
        df.repartition(8).write.format("excel").option("path", out).mode(
            "overwrite"
        ).save()
        t_write = time.perf_counter() - t0

        schema = "id long, v double, name string"

        def scan(**opts) -> float:
            r = spark.read.format("excel").schema(schema).option("path", out)
            for k, v in opts.items():
                r = r.option(k, v)
            t0 = time.perf_counter()
            assert r.load().count() == N_ROWS
            return time.perf_counter() - t0

        scan()  # warm
        timings = {
            "write_sec": round(t_write, 2),
            "scan_whole_sec": round(scan(), 2),
            "scan_chunked_sec": round(scan(chunkRows="12500"), 2),
            "scan_rowmode_sec": round(scan(enableArrow="false"), 2),
        }
        print(
            json.dumps(
                {
                    "metric": "excel_connector_100k_rows",
                    "rows": N_ROWS,
                    **timings,
                    "rows_per_sec_scan": int(N_ROWS / timings["scan_chunked_sec"]),
                }
            )
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
