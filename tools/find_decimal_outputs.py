"""List every registered query whose output schema contains a DecimalType.

Round 2's probe matrix (retired in round 6; see CORRECTNESS_r02.json) proved the
driver's value hash rejects DECIMAL128 output columns categorically — even
single-row constant literals — while string/double/int/timestamp columns pass.
So the engine-wide invariant is: no oracled query may EMIT a decimal column
(decimals are fine internally; the final select canonicalizes via
``functions.determinism.canon``).

Usage: python tools/find_decimal_outputs.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

from pyspark.sql.types import DataType, DecimalType

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark_excel_datasource_spark.plans.registry import load_all_queries
from pyspark_excel_datasource_spark.session import get_session


def _contains_decimal(dt: DataType) -> bool:
    if isinstance(dt, DecimalType):
        return True
    # walk nested types (struct/array/map)
    for attr in ("elementType", "keyType", "valueType"):
        inner = getattr(dt, attr, None)
        if inner is not None and _contains_decimal(inner):
            return True
    fields = getattr(dt, "fields", None)
    if fields:
        return any(_contains_decimal(f.dataType) for f in fields)
    return False


#: Queries allowed to emit decimals: the UDAF's integer-cents decimal has
#: hash-passed in every round it was verdicted. (The round-2/3 hash probes
#: that characterized the driver hasher's decimal gap were retired in
#: round 6 — the canon() convention they motivated is pinned by every
#: real query now; see CORRECTNESS_r02/r03.json for the record.)
ALLOWED = {
    "q_udaf_grouped",
    # avg_yearly decimal(38,4): driver hash-green r09 with this exact
    # schema (CORRECTNESS_r09.json) — pinned precedent that the driver
    # hasher accepts fixed-scale decimals
    "q_tpch_q17ish",
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_session()
    offenders: list[tuple[str, list[str]]] = []
    errors: list[tuple[str, str]] = []
    queries = load_all_queries()
    for name, fn in queries.items():
        try:
            df = fn(spark, sf_dir)
            bad = [
                f"{f.name}:{f.dataType.simpleString()}"
                for f in df.schema.fields
                if _contains_decimal(f.dataType)
            ]
            if bad:
                offenders.append((name, bad))
        except Exception as exc:  # noqa: BLE001 - survey pass, report all
            errors.append((name, f"{type(exc).__name__}: {exc}"[:200]))
    print(f"checked {len(queries)} queries")
    for name, bad in offenders:
        print(f"DECIMAL  {name}: {', '.join(bad)}")
    for name, err in errors:
        print(f"ERROR    {name}: {err}")
    print(f"{len(offenders)} decimal-emitting, {len(errors)} errored")
    # Gate-usable exit status (mirrors run_parity.py): fail on any
    # unexpected decimal emitter or load error.
    unexpected = [n for n, _ in offenders if n not in ALLOWED]
    return 1 if (unexpected or errors) else 0


if __name__ == "__main__":
    sys.exit(main())
