"""Oracle output-type gate: no driver-hash-hostile DuckDB types.

DuckDB types ``sum(BIGINT)`` (and window sums over integers) as
HUGEINT, which pandas renders as float64 — so a driver that hashes
FORMATTED values sees ``1500.0`` from the oracle where Spark collected
``1500``. That single typing rule produced all five r03 driver-red
queries (q81/q83/q91/q98/q157: the exact set of driver-checked queries
with a HUGEINT output column) while two rounds of arithmetic rewrites
chased float semantics that were never the problem. The fix is a
mechanical ``CAST(... AS BIGINT)`` on the projected aggregate.

This gate binds every registered oracle (type inference only — no data
is scanned, so the whole registry checks in seconds) and fails on any
output column whose DuckDB type pandas would print differently from
the Spark side's integer/double:

- HUGEINT / UHUGEINT  -> float64 (prints ``1500.0``)
- DECIMAL(p,s)        -> float64, while Spark DecimalType collects as
                         ``Decimal('1.50')`` objects (prints scale)

``tools/dtype_audit.py`` is the heavyweight companion (executes both
sides, compares pandas dtypes AND strict value reprs); this test keeps
the class from regressing on every pytest run.
"""

from __future__ import annotations

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_HOSTILE = ("HUGEINT", "UHUGEINT")


@pytest.fixture(scope="module")
def oracle_types():
    from batch_processing_new_spark.registry import all_specs

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    out = {}
    for name, spec in all_specs().items():
        if spec.oracle is None:
            continue
        rel = con.sql(spec.oracle)
        out[name] = dict(zip([c.lower() for c in rel.columns],
                             [str(t) for t in rel.types]))
    con.close()
    return out


def test_no_hugeint_outputs(oracle_types):
    bad = {
        name: {c: t for c, t in cols.items() if t in _HOSTILE}
        for name, cols in oracle_types.items()
    }
    bad = {n: c for n, c in bad.items() if c}
    assert not bad, (
        "oracle output columns typed HUGEINT — pandas floatifies them and "
        f"a formatted-value hash diverges from Spark's int64: {bad}. "
        "CAST the projected aggregate AS BIGINT."
    )


def test_no_decimal_outputs(oracle_types):
    bad = {
        name: {c: t for c, t in cols.items() if t.startswith("DECIMAL")}
        for name, cols in oracle_types.items()
    }
    bad = {n: c for n, c in bad.items() if c}
    assert not bad, (
        "oracle output columns typed DECIMAL — pandas float64 vs Spark's "
        f"Decimal objects print differently at fixed scale: {bad}. "
        "CAST the projection AS DOUBLE (after the exact DECIMAL math) on "
        "both sides."
    )


# -- engine-conversion canaries (TESTDATA.md rules 19/20) -----------------
#
# These pin the MEASURED DuckDB 1.0 conversion semantics the oracle
# discipline is built around. If a sandbox/driver DuckDB upgrade changes
# any of them, these fail loudly and rules 19/20 must be re-adjudicated.


def test_duckdb_decimal_to_double_double_rounds():
    """Rule 19's reason to exist: direct scale>0 DECIMAL→DOUBLE casts
    double-round past 2^53, varchar mediation is correctly rounded."""
    con = duckdb.connect()
    s = "7385942569.15"
    direct = con.sql(f"SELECT CAST(CAST('{s}' AS DECIMAL(30,8)) AS DOUBLE)").fetchone()[0]
    viastr = con.sql(
        f"SELECT CAST(CAST(CAST('{s}' AS DECIMAL(30,8)) AS VARCHAR) AS DOUBLE)"
    ).fetchone()[0]
    assert viastr == float(s), "varchar mediation must be correctly rounded"
    assert direct != float(s), (
        "DuckDB now rounds scale>0 DECIMAL→DOUBLE correctly — rule 19's "
        "varchar mediation is redundant (harmless) on this engine; "
        "re-adjudicate TESTDATA.md rule 19"
    )


def test_duckdb_decimal_to_varchar_is_exact_fixed_point():
    """Rule 19's fix depends on DECIMAL→VARCHAR printing exact digits."""
    con = duckdb.connect()
    out = con.sql(
        "SELECT CAST(CAST('7385942569.15' AS DECIMAL(30,8)) AS VARCHAR)"
    ).fetchone()[0]
    assert out == "7385942569.15000000"


def test_duckdb_double_to_varchar_not_shortest_roundtrip():
    """Rule 20: DOUBLE→VARCHAR on DuckDB 1.0 is NOT shortest-round-trip,
    so input-side double→decimal tie quantization cannot be made
    Spark-identical by varchar mediation."""
    con = duckdb.connect()
    t = 10000000 + 1 / 2**9  # exactly representable; repr ends ...125
    out = con.sql(f"SELECT CAST(CAST({t!r} AS DOUBLE) AS VARCHAR)").fetchone()[0]
    if out == repr(t):
        pytest.fail(
            "DuckDB now renders doubles shortest-round-trip — rule 20's "
            "adjudication can be revisited (varchar-mediated input "
            "quantization would become Spark-identical)"
        )


def test_duckdb_double_to_decimal_tie_rounds_down_at_magnitude():
    """Rule 20's measured split: large-magnitude exact ties round DOWN in
    DuckDB 1.0's direct double→decimal cast (Spark: HALF_UP via repr)."""
    con = duckdb.connect()
    t = 1000 + 1 / 2**9
    out = con.sql(f"SELECT CAST(CAST({t!r} AS DOUBLE) AS DECIMAL(30,8))").fetchone()[0]
    assert str(out) in ("1000.00195312", "1000.00195313")
    if str(out) == "1000.00195313":
        pytest.fail(
            "DuckDB's double→decimal tie now matches Spark's HALF_UP — "
            "rule 20 latent hazard may be closed on this engine"
        )
