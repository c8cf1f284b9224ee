#!/usr/bin/env python
"""Strict pandas-dtype/value-repr parity audit: Spark vs DuckDB oracle.

Round-4 finding (the two-round q81/q83/q91 driver-red stall): DuckDB
types ``sum(BIGINT)`` as HUGEINT, which ``fetchdf()`` converts to
float64, so the driver's value formatter sees ``1500.0`` where Spark
collected ``1500`` — a guaranteed hash mismatch on every engine build
and every fixture, invisible to any amount of arithmetic rewriting.
The local harness's canon (tests/oracle_check.py) normalized
integer-valued floats to ints for ordering, which HID exactly this
class: local said green, the driver said red, for two rounds.

The five r03 driver-red queries (q81/q83/q91/q98/q157) are precisely
the five driver-checked queries whose oracle emits a HUGEINT column.
Zero overlap with the 135 driver-green rows. This audit makes the
class (and its relatives) measurable locally:

for every oracle-able registered query, collect BOTH sides to pandas
exactly as a driver would (``toPandas()`` / ``fetchdf()``) and flag
  1. dtype-class mismatches that change the printed form of a value
     (int64 vs float64, object-Decimal vs float64, datetime64 vs
     object-date) — these break any formatter-based hash;
  2. strict repr mismatches on a sample of cells even where dtypes
     agree (catches Decimal scale skew like '1.5' vs '1.50').

int32-vs-int64 and similar width-only pairs are allowed: every
integer prints identically. Exit 1 on any finding; the per-query
list names the column and the two reprs, so the fix (usually a
``CAST(... AS BIGINT)`` in the oracle) is mechanical.

Usage: python tools/dtype_audit.py [sf_dir] [name-substr ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# dtype "print classes": two columns in the same class render every
# shared value identically under str()/repr() formatting
_PRINT_CLASS = {
    "int8": "int", "int16": "int", "int32": "int", "int64": "int",
    "uint8": "int", "uint16": "int", "uint32": "int", "uint64": "int",
    "Int8": "int", "Int16": "int", "Int32": "int", "Int64": "int",
    "float32": "float32", "float64": "float",
    "bool": "bool", "boolean": "bool",
    "object": "object",
    "datetime64[ns]": "ts", "datetime64[us]": "ts", "datetime64[ms]": "ts",
    "string": "object",
}


def _print_class(dtype: str) -> str:
    return _PRINT_CLASS.get(str(dtype), str(dtype))


def _cell_repr(v) -> str | None:
    """The formatted form a driver-style hasher would see."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if v != v:  # pandas NaT etc.
        return None
    if hasattr(v, "tolist") and not hasattr(v, "isoformat"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(str(_cell_repr(x)) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def audit_one(name, spark_df, duck_rel) -> list[str]:
    findings: list[str] = []
    duck_types = {
        c.lower(): str(t) for c, t in zip(duck_rel.columns, duck_rel.types)
    }
    spdf = spark_df.toPandas()
    ddf = duck_rel.df()
    spdf.columns = [c.lower() for c in spdf.columns]
    ddf.columns = [c.lower() for c in ddf.columns]
    for col in spdf.columns:
        if col not in ddf.columns:
            findings.append(f"{name}.{col}: missing on oracle side")
            continue
        sc, dc = _print_class(spdf[col].dtype), _print_class(ddf[col].dtype)
        if sc != dc:
            findings.append(
                f"{name}.{col}: dtype-class spark={spdf[col].dtype} "
                f"duck={ddf[col].dtype} (duck SQL {duck_types.get(col)})"
            )
            continue
        # dtypes agree: strict repr check on aligned sorted samples
        sv = sorted(
            (r for r in spdf[col].map(_cell_repr).tolist() if r is not None)
        )
        dv = sorted(
            (r for r in ddf[col].map(_cell_repr).tolist() if r is not None)
        )
        if sv != dv:
            bad = next(
                ((a, b) for a, b in zip(sv, dv) if a != b),
                (len(sv), len(dv)),
            )
            findings.append(f"{name}.{col}: repr mismatch {bad}")
    return findings


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.001"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]

    from batch_processing_new_spark.registry import all_specs
    from batch_processing_new_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    failed = []
    for name, spec in all_specs().items():
        if spec.oracle is None:
            continue
        if args and not any(a in name for a in args):
            continue
        try:
            findings = audit_one(name, spec.fn(spark, sf_dir), con.sql(spec.oracle))
        except Exception as ex:  # noqa: BLE001 - a crash is a finding
            findings = [f"{name}: ERROR {type(ex).__name__}: {str(ex)[:160]}"]
        for f in findings:
            print("FLAG", f)
            failed.append(f)
    print(f"dtype_audit: {len(failed)} finding(s)")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
