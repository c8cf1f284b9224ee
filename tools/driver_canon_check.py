#!/usr/bin/env python
"""Replicate the DRIVER's pandas-based hasher over every oracle pair —
the strictest local gate: dtype-sensitive and float-BIT-exact.

Evidence for the model (r04 reconstruction): the r01 driver failure on
q65's ``array<string>`` column was ``TypeError: unhashable type:
'list'`` — the signature of ``pd.util.hash_pandas_object`` over an
object column, not of any string formatter. A pandas object hash is

  1. DTYPE-SENSITIVE: int64 ``1500`` and float64 ``1500.0`` hash
     differently even though the values compare equal. This is exactly
     how DuckDB's HUGEINT outputs (pandas float64) put five queries
     driver-red for two rounds while every string-based local canon —
     including this tool's previous ``%.9g`` formatting, which renders
     ``1500.0`` as ``"1500"`` — said green.
  2. BIT-EXACT ON FLOATS: a 1-ulp engine difference flips the hash,
     where ``%.9g`` forgives anything below the 9th significant digit.
     The DECIMAL-discipline pipeline is designed to make both engines
     produce the same double via one deterministic rounding, so
     bit-equality is the honest bar — this tool now enforces it.

Checks per query, in order: pandas dtype print-class parity (the
r04 red mechanism), row count, and cell-level comparison where float64
columns are compared on raw IEEE BITS (uint64 views, NaNs must
coincide) and everything else on exact reprs. Rows are aligned by a
string lexsort of both frames — alignment only; the comparison itself
never goes through a lossy format.

Usage: python tools/driver_canon_check.py [--hostile MODE] [name-substr ...]

``SPARK_GRAFT_SF_DIR`` overrides the fixture dir (run at sf0.1 too
after touching any oracle or float pipeline — rule 19 was invisible at
sf0.01). ``--hostile poison|empty|single|constant`` builds the
corresponding hostile fixture set (poison_sweep / degenerate_sweep
builders) in a tempdir and sweeps there; the full r04 battery
(3 SFs + poison + 3 degenerate modes) ran 0 FAILED.
"""

from __future__ import annotations

import importlib.util
import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

# script dir (tools/) is what python puts on sys.path, not the repo
# root — same bootstrap as explain_audit.py
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
from batch_processing_new_spark.sources.readers import TABLES  # noqa: E402

_PRINT_CLASSES = {
    "int8": "int", "int16": "int", "int32": "int", "int64": "int",
    "uint8": "int", "uint16": "int", "uint32": "int", "uint64": "int",
    "float32": "float32", "float64": "float",
    "bool": "bool", "object": "object", "string": "object",
    "datetime64[ns]": "ts", "datetime64[us]": "ts", "datetime64[ms]": "ts",
}


def _print_class(s: pd.Series) -> str:
    cls = _PRINT_CLASSES.get(str(s.dtype), str(s.dtype))
    if cls == "object":
        vals = [v for v in s if v is not None]
        if vals and all(
            isinstance(v, int) and not isinstance(v, bool) for v in vals
        ):
            return "int"
    return cls


def _sort_cell(v) -> str:
    """Alignment-key canon for one cell: int-ify integer-valued floats
    so the exempted nullable-int-promotion split (int64 vs
    float64-with-NaN) sorts both frames identically — str() keys
    '3' vs '3.0' could align DIFFERENT rows and report spurious value
    mismatches (ADVICE r04)."""
    if isinstance(v, np.generic):
        # numpy SCALARS also have .tolist() — recursing on their
        # unboxed Python value keeps them out of the sequence branch
        # (np.int64(3).tolist() is an int; iterating it would raise)
        # and gives them the same int-ify canon as boxed cells
        # (ADVICE r05)
        return _sort_cell(v.item())
    if isinstance(v, (list, tuple, np.ndarray)):
        # sequences BEFORE pd.isna: a 1-element array like [nan]
        # truth-tests pd.isna() to True and would collapse to the
        # scalar-null key, aligning [nan] cells against None cells
        # (r06 self-review)
        seq = v.tolist() if isinstance(v, np.ndarray) else v
        return str([_sort_cell(x) for x in seq])
    try:
        if pd.isna(v):
            return "\0"
    except (TypeError, ValueError):
        pass  # non-scalar oddballs: fall through to str()
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float) and v.is_integer() and abs(v) < 2**53:
        return str(int(v))
    return str(v)


def _sort_key(df: pd.DataFrame) -> pd.DataFrame:
    """Deterministic row alignment: lexsort on stringified cells.
    Alignment only — comparison happens on the raw values."""
    key = df.apply(lambda row: tuple(_sort_cell(v) for v in row), axis=1)
    return df.iloc[key.argsort(kind="mergesort").values].reset_index(drop=True)


def compare(name: str, spdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    spdf = spdf.copy()
    ddf = ddf.copy()
    spdf.columns = [c.lower() for c in spdf.columns]
    ddf.columns = [c.lower() for c in ddf.columns]
    if sorted(spdf.columns) != sorted(ddf.columns):
        return [f"columns spark={sorted(spdf.columns)} duck={sorted(ddf.columns)}"]
    spdf = spdf[sorted(spdf.columns)]
    ddf = ddf[sorted(ddf.columns)]
    for c in spdf.columns:
        sc, dc = _print_class(spdf[c]), _print_class(ddf[c])
        if sc != dc:
            # pandas cannot represent a nullable int as int64; a float
            # column WITH NaN against an int column is promotion, not a
            # query bug (compared numerically below after alignment)
            fl = spdf[c] if sc == "float" else ddf[c]
            if {sc, dc} == {"int", "float"} and fl.isna().any():
                continue
            problems.append(f"{c}: dtype-class spark={sc} duck={dc}")
    if problems:
        return problems
    if len(spdf) != len(ddf):
        return [f"rowcount spark={len(spdf)} duck={len(ddf)}"]
    a, b = _sort_key(spdf), _sort_key(ddf)
    for c in a.columns:
        sa, sb = a[c], b[c]
        if str(sa.dtype) == "float64" and str(sb.dtype) == "float64":
            va, vb = sa.to_numpy(), sb.to_numpy()
            na, nb = np.isnan(va), np.isnan(vb)
            if not np.array_equal(na, nb):
                problems.append(f"{c}: NaN placement differs")
                continue
            bits_a = va[~na].view(np.uint64)
            bits_b = vb[~nb].view(np.uint64)
            if not np.array_equal(bits_a, bits_b):
                i = int(np.nonzero(bits_a != bits_b)[0][0])
                problems.append(
                    f"{c}: float BITS differ at aligned-row {i}: "
                    f"{va[~na][i]!r} vs {vb[~nb][i]!r}"
                )
        else:
            for i, (x, y) in enumerate(zip(sa.tolist(), sb.tolist())):
                xn = x is None or (isinstance(x, float) and math.isnan(x)) or x is pd.NaT
                yn = y is None or (isinstance(y, float) and math.isnan(y)) or y is pd.NaT
                if xn or yn:
                    if xn != yn:
                        problems.append(f"{c}: null mismatch at row {i}")
                        break
                    continue
                if isinstance(x, float) or isinstance(y, float):
                    # object-column floats (nullable promotion): bit-compare
                    if np.float64(x).tobytes() != np.float64(y).tobytes():
                        problems.append(
                            f"{c}: float BITS differ at row {i}: {x!r} vs {y!r}"
                        )
                        break
                    continue
                if str(x) != str(y):
                    problems.append(f"{c}: {x!r} != {y!r} at aligned-row {i}")
                    break
    return problems


def main() -> int:
    global SF_DIR
    from pyspark.sql import SparkSession

    if "--hostile" in sys.argv:
        import tempfile

        i = sys.argv.index("--hostile")
        mode = sys.argv[i + 1]
        del sys.argv[i : i + 2]
        tmp = tempfile.mkdtemp(prefix=f"canon_{mode}_")
        if mode == "poison":
            from poison_sweep import build_poisoned_dir

            build_poisoned_dir(tmp)
        else:
            from degenerate_sweep import build_degenerate_dir

            build_degenerate_dir(tmp, mode)
        SF_DIR = tmp
        print(f"hostile mode {mode}: fixtures in {tmp}")

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    queries, oracles = mod.queries(), mod.oracle_sql()
    args = sys.argv[1:]
    failed = []
    for name, fn in sorted(queries.items()):
        if name not in oracles:
            continue
        if args and not any(a in name for a in args):
            continue
        try:
            spdf = fn(spark, SF_DIR).toPandas()
            ddf = con.sql(oracles[name]).df()
            problems = compare(name, spdf, ddf)
        except Exception as exc:  # noqa: BLE001
            print(f"FAILED {name}: {type(exc).__name__}: {exc}")
            failed.append(name)
            continue
        if problems:
            print(f"FAILED {name}: " + "; ".join(problems[:3]))
            failed.append(name)
        else:
            print(f"ok     {name} ({len(spdf)} rows, bit-exact)")
    print(f"\n{len(failed)} FAILED"
          + (f": {failed}" if failed else " — ALL BIT-EXACT"))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
