"""One-shot sweep: canonical dtype-family parity for every oracle-paired
query, without executing the Spark side.

The Spark schema comes from the analyzed (lazy) plan; the oracle dtypes
from a DuckDB run at sf0.001.  Flags any column whose family differs —
the DuckDB HUGEINT -> pandas float64 leak class that hash-fails at the
driver (VERDICT r4 item #2).
"""
from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pandas as pd

from crypto_data_ingestion_module_spark.session import get_spark
from crypto_data_ingestion_module_spark.plans.queries import QUERY_SPECS
from tests.oracle_harness import duck_connection

SF_DIR = "/root/testdata/sf0.001"

# Plan-schema vs pandas false positives: columns whose NULLs coerce BOTH
# engines' pandas frames to the same wider dtype at runtime (CUBE total
# rows -> int->float; nullable bool -> object).  Verified green under the
# hardened runtime harness (tests/oracle_harness.py dtype check).
ALLOW = {
    ("bollinger_breakouts_20", "above_band"),
    ("bollinger_breakouts_20", "below_band"),
    ("order_cube_status_year", "order_year"),
}


def spark_family(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "datetime"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.StringType):
        return "string"
    return type(dt).__name__


def pandas_family(s: pd.Series) -> str:
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if s.dtype == object and len(s) and all(
        hasattr(v, "as_integer_ratio") is False for v in s.dropna().head(3)
    ):
        return "string"
    return "string" if s.dtype in (object, "string") else str(s.dtype)


def main() -> int:
    spark = get_spark()
    con = duck_connection(SF_DIR)
    bad = []
    for name, spec in sorted(QUERY_SPECS.items()):
        if spec.oracle is None:
            continue
        try:
            sdf = spec.spark(spark, SF_DIR)
            sfam = {f.name: spark_family(f.dataType) for f in sdf.schema.fields}
        except Exception as e:  # noqa: BLE001
            bad.append((name, "<spark-plan>", f"ERROR {e}"))
            continue
        try:
            odf = con.sql(spec.oracle).df()
        except Exception as e:  # noqa: BLE001
            bad.append((name, "<oracle>", f"ERROR {e}"))
            continue
        for c in odf.columns:
            if c not in sfam:
                bad.append((name, c, "missing on spark side"))
                continue
            ofam = pandas_family(odf[c])
            if sfam[c] != ofam and (name, c) not in ALLOW:
                bad.append((name, c, f"spark={sfam[c]} oracle={ofam}"))
    con.close()
    if bad:
        print(f"FAMILY MISMATCHES: {len(bad)}")
        for name, col, msg in bad:
            print(f"  {name}.{col}: {msg}")
        return 1
    print(f"all {sum(1 for s in QUERY_SPECS.values() if s.oracle)} oracle-paired queries dtype-clean")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
