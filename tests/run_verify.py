"""Verify recipe runner (see .claude/skills/verify/SKILL.md).

Replicates the driver's gate: vanilla SparkSession, module loaded by
path, smoke `entry()`, then every `queries()` entry vs its
`oracle_sql()` DuckDB twin at sf=0.01, canonicalized and compared.

Usage: python tests/run_verify.py [--json OUT.json] [name ...]
       # default: all queries; --json writes a driver-format
       # CORRECTNESS artifact (rows/schema/hash per query) so full
       # 135-query coverage is recorded even though the driver's own
       # per-round artifact caps at the first 50 registered queries.

Environment-perturbation flags (driver-skew simulation — r02 went
red on three queries that were green under this script's pinned
defaults, so robustness now gets tested, not assumed):
  --tz ZONE     set spark.sql.session.timeZone (default UTC pin;
                pass e.g. America/New_York to shake out TZ-dependent
                truncations/renderings)
  --shuffle N   spark.sql.shuffle.partitions (default 8; perturbing
                it reorders float reductions — order-dependent sums
                flip under it)
  --cores N     local[N] master (default 8; changes scan/partial-agg
                parallelism, another reduction-order axis)
  --arrow       enable Arrow collect (different timestamp/decimal
                python materialization path than row collect)
  --ansi MODE   spark.sql.ansi.enabled true|false (default: leave the
                build's default — Spark 4 ships ANSI ON; a driver
                running Spark 3.x would have it OFF, where div-by-zero
                and bad casts return NULL instead of raising — the
                r04 environment-hardening axis: every query must
                produce IDENTICAL output under both)
  --aqe MODE    spark.sql.adaptive.enabled true|false (default: leave
                the build's default, ON in Spark 4 — AQE coalesces
                shuffle partitions and re-plans joins at runtime, so
                turning it OFF is another plan-shape/reduction-order
                axis; the r06 matrix runs the full registry under
                --aqe false)
  --conf K=V    arbitrary extra SparkSession config, repeatable —
                future axes without flag creep (r06 uses it for
                spark.sql.codegen.wholeStage=false: interpreted
                expression eval vs whole-stage codegen is the classic
                split for expression-semantics bugs)
"""

from __future__ import annotations

import importlib.util
import json
import sys
import time

import duckdb

# sf0.01 is the driver's correctness SF; override to sweep another
# fixture (e.g. SPARK_GRAFT_VERIFY_SF_DIR=/root/testdata/sf0.1 checks
# for constants that only hold at the default SF)
import os as _os

SF_DIR = _os.environ.get(
    "SPARK_GRAFT_VERIFY_SF_DIR", "/root/testdata/sf0.01"
)
# single source of truth for the table list (conftest does the same)
sys.path.insert(0, "/root/repo")
from batch_processing_new_spark.sources.readers import TABLES  # noqa: E402


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())

    def cell(v):
        if v is None or v != v:
            return "NULL"
        if isinstance(v, float):
            return f"{v:.9g}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        if hasattr(v, "isoformat"):
            return v.isoformat().replace("T", " ")
        return str(v)

    return sorted("|".join(cell(r[i]) for i in order) for r in rows)


def _pop_opt(args: list[str], flag: str, default: str | None) -> str | None:
    if flag in args:
        i = args.index(flag)
        if i + 1 >= len(args) or args[i + 1].startswith("--"):
            # a missing value must be a usage error, not an IndexError
            # (and must never silently eat the NEXT flag as its value)
            raise SystemExit(f"usage error: {flag} requires a value")
        val = args[i + 1]
        del args[i : i + 2]
        return val
    return default


def main() -> int:
    from pyspark.sql import SparkSession

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    perturb_args = sys.argv[1:]
    tz = _pop_opt(perturb_args, "--tz", "UTC")
    shuffle = _pop_opt(perturb_args, "--shuffle", "8")
    cores = _pop_opt(perturb_args, "--cores", "8")
    ansi = _pop_opt(perturb_args, "--ansi", None)
    # AQE re-plans joins/shuffles at runtime (Spark 4 default ON), so
    # it is another reduction-order / plan-shape axis a driver build
    # could differ on (r06 axis)
    aqe = _pop_opt(perturb_args, "--aqe", None)
    extra_confs: list[tuple[str, str]] = []
    while "--conf" in perturb_args:
        kv = _pop_opt(perturb_args, "--conf", None)
        if kv is None or "=" not in kv:
            raise SystemExit("usage error: --conf requires KEY=VALUE")
        k, _, v = kv.partition("=")
        extra_confs.append((k, v))
    arrow = "--arrow" in perturb_args
    if arrow:
        perturb_args.remove("--arrow")
    sys.argv[1:] = perturb_args

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.session.timeZone", tz)
        .config("spark.sql.execution.arrow.pyspark.enabled", str(arrow).lower())
        .config("spark.ui.enabled", "false")
    )
    if ansi is not None:
        builder = builder.config("spark.sql.ansi.enabled", ansi)
    if aqe is not None:
        builder = builder.config("spark.sql.adaptive.enabled", aqe)
    for k, v in extra_confs:
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (tz, shuffle, cores, arrow, ansi, aqe, extra_confs) != (
        "UTC", "8", "8", False, None, None, []
    ):
        print(
            f"PERTURBED env: tz={tz} shuffle={shuffle} cores={cores} "
            f"arrow={arrow} ansi={ansi} aqe={aqe} conf={extra_confs}"
        )

    n = mod.entry(spark).count()
    print(f"SMOKE entry(): {n} rows {'OK' if n > 0 else 'FAILED'}")
    if n <= 0:
        return 2

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    queries = mod.queries()
    oracles = mod.oracle_sql()
    # args select queries by exact name OR unique prefix ("q91" ->
    # "q91_max_concurrency"); an arg matching nothing is an ERROR — a
    # filter that silently selects zero queries reports a vacuous
    # "ALL OK" (this bit us: short names verified nothing).
    args = sys.argv[1:]
    json_out: str | None = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    only: set[str] = set()
    for arg in args:
        hits = [n for n in queries if n == arg or n.startswith(arg)]
        if not hits:
            print(f"ERROR: no query matches {arg!r}")
            return 2
        only.update(hits)
    failed = []
    report: dict[str, dict] = {}
    # DuckDB output types pandas renders differently from Spark's
    # ints/doubles — a formatted-value hash diverges even when every
    # value is numerically equal (the r03 driver-red mechanism:
    # sum(BIGINT) types as HUGEINT -> float64 '1500.0' vs '1500').
    # fetchall() below masks it (HUGEINT -> python int), so the check
    # must be on the relation's TYPES, not the collected values.
    _HOSTILE_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")

    def record(name, *, rows=None, orows=None, ok=None, err=None):
        report[name] = {
            "rows_match": ok,
            "schema_match": ok,
            "hash_match": ok,
            "spark_rows": rows,
            "oracle_rows": orows,
            "err": err,
        }

    for name, fn in sorted(queries.items()):
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            if arrow:
                # ACTUALLY exercise the Arrow path: the conf alone is a
                # no-op for collect() — only toPandas() materializes
                # through Arrow batches (different timestamp/decimal/
                # NaN conversions than row collect)
                import numpy as _np

                def _norm(v):
                    if isinstance(v, _np.ndarray):
                        return [_norm(x) for x in v.tolist()]
                    if isinstance(v, _np.generic):
                        return v.item()
                    return v

                srows = [
                    tuple(_norm(v) for v in r)
                    for r in sdf.toPandas().itertuples(index=False, name=None)
                ]
            else:
                srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAILED {name}: spark error {type(exc).__name__}: {exc}")
            failed.append(name)
            record(name, err=f"spark: {type(exc).__name__}: {exc}")
            continue
        dt = time.perf_counter() - t0
        if name not in oracles:
            print(f"ok     {name}: rows-only {len(srows)} rows ({dt:.1f}s)")
            record(name, rows=len(srows), err="no_oracle")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = rel.columns
            hostile = [
                f"{c}:{t}"
                for c, t in zip(dcols, map(str, rel.types))
                if any(t.startswith(h) for h in _HOSTILE_TYPES)
            ]
            drows = rel.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAILED {name}: oracle error {type(exc).__name__}: {exc}")
            failed.append(name)
            record(name, rows=len(srows), err=f"oracle: {type(exc).__name__}: {exc}")
            continue
        if hostile:
            msg = f"hash-hostile oracle type(s) {hostile}"
            print(f"FAILED {name}: {msg} — pandas would floatify; "
                  "CAST the projection AS BIGINT/DOUBLE")
            failed.append(name)
            record(name, rows=len(srows), orows=len(drows), ok=False,
                   err=msg)
            continue
        if len(srows) != len(drows):
            print(
                f"FAILED {name}: rowcount spark={len(srows)} duck={len(drows)}"
            )
            failed.append(name)
            record(name, rows=len(srows), orows=len(drows), ok=False,
                   err="rowcount mismatch")
            continue
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
            print(f"FAILED {name}: cols spark={scols} duck={dcols}")
            failed.append(name)
            record(name, rows=len(srows), orows=len(drows), ok=False,
                   err="schema mismatch")
            continue
        a, b = canon_rows(scols, srows), canon_rows(dcols, drows)
        if a != b:
            diff = next(
                (i, x, y) for i, (x, y) in enumerate(zip(a, b)) if x != y
            )
            print(f"FAILED {name}: values differ at sorted-row {diff[0]}:")
            print(f"  spark: {diff[1][:200]}")
            print(f"  duck : {diff[2][:200]}")
            failed.append(name)
            record(name, rows=len(srows), orows=len(drows), ok=False,
                   err="value mismatch")
            continue
        print(f"ok     {name}: {len(srows)} rows hash-match ({dt:.1f}s)")
        record(name, rows=len(srows), orows=len(drows), ok=True)

    if json_out:
        with open(json_out, "w") as f:
            json.dump(report, f, indent=2)
        print(f"wrote {json_out} ({len(report)} queries)")

    print(
        f"\n{len(failed)} FAILED of {len(only) or len(queries)}"
        + (f": {failed}" if failed else " — ALL OK")
    )
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
