"""Unit tests for the measurement kernels of the audit tools.

The audits gate correctness claims (fragility margins, poisoned-fixture
parity), so their own kernels need pinning: a wrong margin formula
passes everything silently (the first draft had the boundary distance
INVERTED — values exactly ON a representable 9-digit number measured as
margin 0 instead of maximal).
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from tests.conftest import load_tool

_fragility = load_tool("fragility_audit")
margin_ulps = _fragility.margin_ulps
ulp_delta = _fragility.ulp_delta


def _fmt(v: float) -> str:
    return f"{v:.9g}"


def test_margin_zero_means_format_flip_within_one_ulp():
    """A cell whose margin measures < 1 ulp must actually flip its
    %.9g rendering under a 1-ulp nudge — the property the audit's
    threshold reasons about."""
    # 10-digit odd integer ending in 5: exactly ON the 9-digit boundary
    v = 1234567895.0
    m = margin_ulps(np.array([v]))[0]
    assert m < 1.0
    assert _fmt(v) != _fmt(math.nextafter(v, math.inf)) or _fmt(
        v
    ) != _fmt(math.nextafter(v, -math.inf))


def test_margin_large_means_format_stable():
    """Values representable in <= 9 significant digits sit maximally
    FAR from the boundary (the inverted-formula regression): round(x,6)
    outputs must measure millions of ulps, and the rendering must be
    1-ulp stable."""
    for v in (0.123456, 3.75, 123456789.0, 0.5, 1e-6):
        m = margin_ulps(np.array([v]))[0]
        assert m > 1e5, (v, m)
        assert _fmt(v) == _fmt(math.nextafter(v, math.inf))
        assert _fmt(v) == _fmt(math.nextafter(v, -math.inf))


def test_margin_handles_nonfinite_and_zero():
    out = margin_ulps(np.array([0.0, math.nan, math.inf, -0.0]))
    assert all(x == math.inf for x in out)


def test_margin_monotone_near_boundary():
    """Moving k ulps off the boundary measures ~k ulps of margin."""
    v = 1234567895.0
    for k in (1, 5, 50):
        moved = v
        for _ in range(k):
            moved = math.nextafter(moved, math.inf)
        m = margin_ulps(np.array([moved]))[0]
        assert k - 1.5 <= m <= k + 1.5, (k, m)


def test_ulp_delta_symmetric_and_scaled():
    a = np.array([1.0, 1e300, 2.5])
    b = np.array([math.nextafter(1.0, 2.0), 1e300, 2.5])
    d = ulp_delta(a, b)
    assert d[0] == pytest.approx(1.0)
    assert d[1] == 0.0
    assert d[2] == 0.0


def test_poisoned_fixture_builder_shape(tmp_path):
    """The poison rows land with the adversarial cells the sweep's
    findings depend on (NULL text, malformed props, NULL vector...)."""
    import duckdb

    build_poisoned_dir = load_tool("poison_sweep").build_poisoned_dir

    build_poisoned_dir(str(tmp_path))
    con = duckdb.connect()
    docs = f"read_parquet('{tmp_path}/documents.parquet')"
    ev = f"read_parquet('{tmp_path}/events.parquet')"
    emb = f"read_parquet('{tmp_path}/embeddings.parquet')"
    assert con.sql(f"SELECT count(*) FROM {docs} WHERE text IS NULL").fetchone()[0] == 1
    assert con.sql(f"SELECT count(*) FROM {docs} WHERE text = ''").fetchone()[0] >= 1
    assert con.sql(
        f"SELECT count(*) FROM {ev} WHERE props IS NOT NULL AND NOT json_valid(props)"
    ).fetchone()[0] == 1
    # r04: a HEAVY null dose (1 explicit row + ~10% NULL-value clones)
    # — one null shifts a cumulative window rank by 1, which almost
    # never crosses a histogram-bin edge; the q81 null-order split
    # survived two driver-red rounds behind the old single-row dose
    n_null_value = con.sql(
        f"SELECT count(*) FROM {ev} WHERE value IS NULL"
    ).fetchone()[0]
    n_events = con.sql(f"SELECT count(*) FROM {ev}").fetchone()[0]
    assert n_null_value >= n_events // 20, (
        f"null-value dose too small: {n_null_value}/{n_events}"
    )
    assert con.sql(f"SELECT count(*) FROM {ev} WHERE user_id IS NULL").fetchone()[0] == 1
    assert con.sql(f"SELECT count(*) FROM {ev} WHERE event_type IS NULL").fetchone()[0] == 1
    assert con.sql(f"SELECT count(*) FROM {emb} WHERE embedding IS NULL").fetchone()[0] == 1
    assert con.sql(
        f"SELECT count(*) FROM {emb} WHERE embedding IS NOT NULL AND len(embedding) = 0"
    ).fetchone()[0] == 1
    # the poisoned tables still contain the full original fixture
    # 500 originals + NULL + empty + the 8 unicode-adversarial docs
    assert con.sql(f"SELECT count(*) FROM {docs}").fetchone()[0] == 510
    # the unicode axis is present: at least one non-ASCII doc and one
    # with embedded control/NBSP whitespace (TESTDATA.md rule 13-15
    # classes stay exercised if the row set is ever edited)
    assert con.sql(
        f"SELECT count(*) FROM {docs} "
        "WHERE octet_length(encode(text)) > length(text)"
    ).fetchone()[0] >= 3
    assert con.sql(
        f"SELECT count(*) FROM {docs} "
        "WHERE text LIKE '%' || chr(9) || '%' "
        "   OR text LIKE '%' || chr(11) || '%'"
    ).fetchone()[0] >= 2


# -- round_report kernels ------------------------------------------------

status = load_tool("round_report").status


def test_round_report_status_classification():
    assert status({"hash_match": True}) == "green"
    assert status({"hash_match": False, "rows_match": True}) == "red"
    assert (
        status({"hash_match": None, "err": "no_oracle", "spark_rows": 5})
        == "rows_only"
    )
    # an erroring rows-only query (spark side crashed) is NOT evidence
    assert (
        status({"hash_match": None, "err": "no_oracle", "spark_rows": None})
        != "rows_only"
    )
    assert status({"hash_match": None, "err": "boom"}) == "err:boom"


def test_round_report_evidence_ages():
    """Staleness kernel (VERDICT r05 #3): age = analyzed round minus
    the most recent green/rows-only round; reds and later rounds don't
    count; never-evidenced queries are omitted."""
    evidence_ages = load_tool("round_report").evidence_ages

    rounds = {
        1: {"qa": {"hash_match": True}, "qb": {"hash_match": True}},
        2: {"qa": {"hash_match": True},
            "qc": {"err": "no_oracle", "spark_rows": 3}},
        3: {"qb": {"hash_match": False}},  # red: not evidence
        4: {"qd": {"hash_match": True}},   # after n: ignored below
    }
    ages = evidence_ages(rounds, 3, ["qa", "qb", "qc", "qd", "qe"])
    assert ages == {"qa": 1, "qb": 2, "qc": 1}


def test_canon_sort_cell_numpy_scalars():
    """ADVICE r05: numpy SCALARS in an object column have .tolist()
    but are not sequences — the alignment key must canon them like
    their boxed Python twins, not crash iterating an int."""
    _sort_cell = load_tool("driver_canon_check")._sort_cell

    assert _sort_cell(np.int64(3)) == _sort_cell(3)
    assert _sort_cell(np.float64(3.0)) == _sort_cell(3)  # int-ify canon
    assert _sort_cell(np.float64(2.5)) == _sort_cell(2.5)
    assert _sort_cell(np.bool_(True)) == _sort_cell(True)
    # arrays still canon elementwise, recursing into nested cells
    assert _sort_cell(np.array([1.0, 2.0])) == _sort_cell([1, 2])
    assert _sort_cell(np.array([np.float64(1.5)])) == _sort_cell([1.5])


def test_canon_sort_cell_single_nan_array_is_not_null():
    """r06 self-review: pd.isna of a 1-element [nan] array truth-tests
    True — it must key as a LIST holding a null, never collapse to the
    scalar-null key, or [nan] cells align against None cells and report
    spurious mismatches on bit-identical frames."""
    import math

    _sort_cell = load_tool("driver_canon_check")._sort_cell

    assert _sort_cell(np.array([math.nan])) != _sort_cell(None)
    assert _sort_cell(np.array([math.nan])) == _sort_cell([math.nan])
    assert _sort_cell([math.nan]) != _sort_cell(math.nan)
    # and the scalar null key is still shared across null flavors
    assert _sort_cell(None) == _sort_cell(math.nan)


def test_scale_stress_events_slice_constant():
    """ADVICE r10: the events replay layout's slice count is one
    constant shared by the repartitionByRange producer and the
    post-write file-count guard — no drifting literals."""
    import inspect

    ss = load_tool("scale_stress")
    assert ss.EVENTS_TS_SLICES == 10
    src = inspect.getsource(ss.build)
    # both sites (producer + guard) use the shared constant, and
    # neither carries its own hard-coded 10 anymore
    assert src.count("EVENTS_TS_SLICES") >= 2
    assert "repartitionByRange(10" not in src
    assert "!= 10:" not in src
