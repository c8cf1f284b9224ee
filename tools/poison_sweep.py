#!/usr/bin/env python
"""Poisoned-fixture robustness sweep: NULL/degenerate cells in every
CUSTOM table, verified over every oracle-able query.

The driver fixtures are pristine — no NULL text, no NULL event values,
no malformed props, no NULL embeddings — so neither the local sweep nor
the driver can exhibit the divergence class found (and fixed) in q95,
the dedup family, multimodal, and scoring: Spark's NULL-array/
NULL-skipping expression semantics vs a SQL oracle's NULL-propagating /
zero-row-unnest semantics. A FUTURE fixture generation (or any real
deployment — 100 TB corpora are never NULL-free) would silently split
the two sides. This sweep makes the class testable NOW:

1. copy sf0.001 into a temp dir and append adversarial rows:
   - documents: one NULL-text doc, one empty-string-text doc, and
     eight unicode-adversarial docs (tab/NBSP/vertical-tab
     whitespace, spaceless CJK, emoji+ZWJ, NFC-vs-NFD accents,
     Turkish U+0130 / sharp s, runs of spaces) — the axis that
     caught full-vs-simple case mapping splitting fingerprints
     (ascii_lower rule);
   - events: one row with NULL value + NULL props, one with malformed
     (non-JSON) props, one with NULL user_id, one with NULL event_type
     (ts stays valid — a NULL timestamp is ingest-rejected data, not a
     representable event);
   - embeddings: one row with a NULL embedding, one with an empty
     array (vector dim stays fixed otherwise — wrong-dim vectors
     violate the declared FLOAT[64] contract);
2. run EVERY registered oracle-able query, Spark vs DuckDB, with the
   run_verify canon;
3. report any query whose two sides disagree on the poisoned fixture.

The r03 first run (documents-only variant) found 12 divergent queries
that six per-module adversarial reviews had missed. A crash here is a
finding, not noise. tests/test_poison_robustness.py runs this as a
permanent gate.

Usage: python tools/poison_sweep.py [name-substr ...]
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


def _max_id(con, src: str, col: str) -> int:
    return con.sql(f"SELECT max({col}) FROM read_parquet('{src}')").fetchone()[0]


def _sql_str(s: str) -> str:
    """A DuckDB string literal carrying arbitrary unicode/control chars
    (chr() concatenation for non-printables, '' escaping for quotes)."""
    parts, run = [], ""
    for ch in s:
        if ch.isprintable() and ch != "'":
            run += ch
        else:
            if run:
                parts.append(f"'{run}'")
                run = ""
            parts.append(f"chr({ord(ch)})")
    if run:
        parts.append(f"'{run}'")
    return " || ".join(parts) if parts else "''"


# unicode-adversarial texts (r03): tab / NBSP / vertical-tab
# whitespace (Java \s includes \x0B, RE2's does not), CJK with no
# spaces, emoji + ZWJ, NFC-vs-NFD accents, Turkish U+0130 + sharp s
# (full vs simple case mapping — the class that forced ascii_lower
# for fingerprints), runs of spaces. Module-level so
# tools/build_zlib_lookup.py keeps q100's oracle lookup covering
# exactly this set by import, not by copy.
POISON_DOC_TEXTS = [
    "tab\tseparated\ttokens and spaces",
    "nbsp\u00a0between\u00a0words here",
    "vertical\x0btab and\x0bmore",
    "\u4e2d\u6587\u6ca1\u6709\u7a7a\u683c\u7684\u957f"
    "\u53e5\u5b50\u6d4b\u8bd5\u4e00\u4e0b\u5206\u8bcd",
    "emoji \U0001f642 and zwj "
    "\U0001f469\u200d\U0001f4bb done",
    "caf\u00e9 versus cafe\u0301 nfc nfd",
    "Turkish \u0130stanbul and stra\u00dfe",
    "MIXED Case PUNCT!!! ???  double  spaces",
]


def build_poisoned_dir(dst: str) -> None:
    con = duckdb.connect()
    for t in TABLES:
        src = os.path.join(BASE, f"{t}.parquet")
        out = os.path.join(dst, f"{t}.parquet")
        if t == "documents":
            mx = _max_id(con, src, "doc_id")
            uni = POISON_DOC_TEXTS
            uni_rows = " UNION ALL ".join(
                f"SELECT {mx + 3 + i}, {_sql_str(s)}, 'en', 'poison', "
                f"{len(s)}"
                for i, s in enumerate(uni)
            )
            con.sql(
                f"""
                COPY (
                    SELECT * FROM read_parquet('{src}')
                    UNION ALL
                    SELECT {mx + 1}, NULL, 'en', 'poison', NULL
                    UNION ALL
                    SELECT {mx + 2}, '', 'en', 'poison', 0
                    UNION ALL
                    {uni_rows}
                ) TO '{out}' (FORMAT PARQUET)
                """
            )
        elif t == "events":
            mx = _max_id(con, src, "event_id")
            anchor = con.sql(
                f"SELECT max(ts) FROM read_parquet('{src}')"
            ).fetchone()[0]
            ts = f"TIMESTAMP '{anchor}'"
            con.sql(
                f"""
                COPY (
                    SELECT * FROM read_parquet('{src}')
                    UNION ALL
                    SELECT {mx + 1}, {ts}, 7, 'view', NULL, NULL
                    UNION ALL
                    SELECT {mx + 2}, {ts}, 8, 'click', 1.0, '{{k: broken'
                    UNION ALL
                    SELECT {mx + 3}, {ts}, NULL, 'purchase', 2.0, '{{"k": 1}}'
                    UNION ALL
                    SELECT {mx + 4}, {ts}, 9, NULL, 3.0, '{{"k": 2}}'
                    UNION ALL
                    -- HEAVY NULL dose (~10% of rows get a NULL-value
                    -- clone): ONE null row shifts a cumulative rank by
                    -- 1, which rarely crosses a histogram-bin edge —
                    -- q81's engine-specific window null placement
                    -- (Spark NULLS FIRST vs DuckDB NULLS LAST) survived
                    -- the single-row dose for two driver-red rounds and
                    -- only reproduces at volume
                    SELECT event_id + {mx + 10}, ts, user_id, event_type,
                           NULL, props
                    FROM read_parquet('{src}') WHERE event_id % 10 = 0
                ) TO '{out}' (FORMAT PARQUET)
                """
            )
        elif t == "orders":
            mx = _max_id(con, src, "o_orderkey")
            con.sql(
                f"""
                COPY (
                    SELECT * FROM read_parquet('{src}')
                    UNION ALL
                    SELECT o_orderkey + {mx + 1}, o_custkey, o_orderstatus,
                           NULL, o_orderdate, o_orderpriority
                    FROM read_parquet('{src}') WHERE o_orderkey % 20 = 0
                ) TO '{out}' (FORMAT PARQUET)
                """
            )
        elif t == "embeddings":
            mx = _max_id(con, src, "vec_id")
            con.sql(
                f"""
                COPY (
                    SELECT * FROM read_parquet('{src}')
                    UNION ALL
                    SELECT {mx + 1}, NULL, 0
                    UNION ALL
                    SELECT {mx + 2}, []::FLOAT[], 1
                ) TO '{out}' (FORMAT PARQUET)
                """
            )
        else:
            shutil.copyfile(src, out)
    con.close()


def main(argv: list[str]) -> int:
    import importlib.util

    from pyspark.sql import SparkSession

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

    tmp = tempfile.mkdtemp(prefix="poison_")
    build_poisoned_dir(tmp)
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
                + (f" first-diff@{diff[0]}: {diff[1][:90]} | {diff[2][:90]}" if diff else "")
            )
            failed.append(name)
        else:
            print(f"ok     {name} ({len(a)} rows)")
    shutil.rmtree(tmp, ignore_errors=True)
    print(
        f"\n{len(failed)} DIVERGENT of {len(names)} oracle-able queries "
        "on the poisoned fixture"
        + (f": {failed}" if failed else " — ALL ROBUST")
    )
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
