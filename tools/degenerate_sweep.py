#!/usr/bin/env python
"""Degenerate-cardinality robustness sweep: EMPTY (0-row) and SINGLE
(1-row) relations for every table, verified over every oracle-able
query.

The poison sweep (tools/poison_sweep.py) covers dirty CELLS; this
covers degenerate CARDINALITY, which the pristine fixtures also never
exhibit. At 100 TB both states are routine, not exotic: a date filter
that matches nothing, a partition with a single surviving row, a
source that landed an empty batch. An engine whose operator crashes or
silently disagrees with SQL semantics on the empty relation fails on
the first quiet day of a real deployment. Known hazard classes probed
here:

- driver-side seed/vocab collects that index into an empty result
  (``collect()[0]``, ``centroids[i]``, top-K vocab of nothing);
- global aggregates: both engines must agree that ``SELECT sum(x)``
  over the empty relation is ONE row of NULL, and downstream
  arithmetic must not turn that NULL into a crash or a fabricated 0;
- single-sample statistics: stddev/variance of one row (NULL, not
  NaN/0), windows with one frame row, medians of singletons;
- empty-array folds in the similarity family (argmin over zero
  centroids, top-k of an empty corpus).

1. copy sf0.001 into a temp dir, truncating every table to 0 rows
   (``empty`` mode), its min-key row (``single`` mode), or — the
   third axis — keeping every row but collapsing ALL dispersion
   (``constant`` mode: every measure, timestamp, text, and embedding
   identical across rows; keys stay unique). Zero dispersion at full
   cardinality is a DIFFERENT hazard set from the 1-row relation:
   zero variance with n > 1 (regression slopes, z-scores), zero time
   spread (rates per elapsed day), a 1-token vocabulary, an
   all-duplicates corpus, and universal ties (every ranking decided
   only by the tiebreaker);
2. run EVERY registered oracle-able query, Spark vs DuckDB, with the
   run_verify canon;
3. report any query whose sides disagree — a CRASH is a finding,
   not noise.

Usage: python tools/degenerate_sweep.py [empty|single|constant] [name-substr ...]
       # default mode: empty
Exit 1 on any divergence/crash.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.001"

from batch_processing_new_spark.sources.readers import TABLES  # noqa: E402

# min-key column per table: `single` mode keeps exactly the first row
# under this order so the fixture is deterministic across runs
_KEY = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey, l_linenumber",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


# constant mode: per-table projections that keep keys/categoricals
# but collapse every measure, timestamp, text, and embedding to one
# shared value (types match the source schema exactly)
_CONST_TEXT = "the quick brown fox jumps over the lazy dog"
_CONST = {
    "customer": (
        "c_custkey, c_name, c_nationkey, CAST(1000.0 AS DOUBLE) AS"
        " c_acctbal, c_mktsegment"
    ),
    "supplier": (
        "s_suppkey, s_name, s_nationkey, CAST(1000.0 AS DOUBLE) AS"
        " s_acctbal"
    ),
    "part": (
        "p_partkey, p_name, p_brand, p_type, CAST(10 AS INTEGER) AS"
        " p_size, CAST(500.0 AS DOUBLE) AS p_retailprice"
    ),
    "orders": (
        "o_orderkey, o_custkey, o_orderstatus, CAST(100000.0 AS DOUBLE)"
        " AS o_totalprice, {ts_o} AS o_orderdate, o_orderpriority"
    ),
    "lineitem": (
        "l_orderkey, l_partkey, l_suppkey, l_linenumber,"
        " CAST(25.0 AS DOUBLE) AS l_quantity,"
        " CAST(1000.0 AS DOUBLE) AS l_extendedprice,"
        " CAST(0.05 AS DOUBLE) AS l_discount,"
        " CAST(0.02 AS DOUBLE) AS l_tax,"
        " l_returnflag, l_linestatus, {ts_l} AS l_shipdate"
    ),
    "events": (
        "event_id, {ts_e} AS ts, user_id, event_type,"
        " CAST(10.0 AS DOUBLE) AS value, props"
    ),
    "documents": (
        f"doc_id, '{_CONST_TEXT}' AS text, lang, source,"
        f" CAST({len(_CONST_TEXT)} AS BIGINT) AS n_chars"
    ),
    "embeddings": (
        "vec_id, (SELECT embedding FROM src ORDER BY vec_id LIMIT 1)"
        " AS embedding, label"
    ),
}


def build_degenerate_dir(dst: str, mode: str) -> None:
    con = duckdb.connect()
    for t in TABLES:
        src = os.path.join(BASE, f"{t}.parquet")
        out = os.path.join(dst, f"{t}.parquet")
        if mode == "empty":
            sel = f"SELECT * FROM read_parquet('{src}') WHERE false"
        elif mode == "single":
            sel = (
                f"SELECT * FROM read_parquet('{src}') "
                f"ORDER BY {_KEY[t]} LIMIT 1"
            )
        else:  # constant
            proj = _CONST.get(t)
            if proj is None:  # region/nation: keys+names only, keep
                sel = f"SELECT * FROM read_parquet('{src}')"
            else:
                # every timestamp collapses to the table's min (a
                # real instant of the right parquet logical type)
                proj = proj.format(
                    ts_o="(SELECT min(o_orderdate) FROM src)",
                    ts_l="(SELECT min(l_shipdate) FROM src)",
                    ts_e="(SELECT min(ts) FROM src)",
                )
                sel = (
                    f"WITH src AS (SELECT * FROM read_parquet('{src}')) "
                    f"SELECT {proj} FROM src"
                )
        con.sql(f"COPY ({sel}) TO '{out}' (FORMAT PARQUET)")
    con.close()


def main(argv: list[str]) -> int:
    import importlib.util

    from pyspark.sql import SparkSession

    mode = "empty"
    if argv and argv[0] in ("empty", "single", "constant"):
        mode, argv = argv[0], argv[1:]

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "__spark_entry__.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from batch_processing_new_spark import registry

    tmp = tempfile.mkdtemp(prefix=f"degen_{mode}_")
    build_degenerate_dir(tmp, mode)
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
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tmp}/{t}.parquet')"
        )

    # the run_verify canon (shared import keeps ONE comparison contract)
    from tests.run_verify import canon_rows  # type: ignore

    names = [
        name
        for name, s in sorted(registry.all_specs().items())
        if s.oracle
        and (not argv or any(sub in name for sub in argv))
    ]
    failed: list[str] = []
    for name in names:
        s = registry.all_specs()[name]
        try:
            sdf = s.fn(spark, tmp)
            a = canon_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
            rel = con.sql(s.oracle)
            b = canon_rows(rel.columns, rel.fetchall())
        except Exception as exc:  # noqa: BLE001
            print(f"CRASH  {name}: {type(exc).__name__}: {str(exc)[:200]}")
            failed.append(name)
            continue
        if a != b:
            diff = next(
                (
                    (i, x, y)
                    for i, (x, y) in enumerate(zip(a, b))
                    if x != y
                ),
                None,
            )
            print(
                f"DIFF   {name}: rows spark={len(a)} duck={len(b)}"
                + (
                    f" first-diff@{diff[0]}: {diff[1][:90]} | {diff[2][:90]}"
                    if diff
                    else ""
                )
            )
            failed.append(name)
        else:
            print(f"ok     {name} ({len(a)} rows)")
    shutil.rmtree(tmp, ignore_errors=True)
    print(
        f"\n{len(failed)} DIVERGENT of {len(names)} oracle-able queries "
        f"on the {mode} fixture"
        + (f": {failed}" if failed else " — ALL ROBUST")
    )
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
