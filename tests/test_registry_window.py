"""Driver-window mechanics regression tests (registry.py).

The driver hash-checks exactly the FIRST 50 entries of ``queries()``
per round, so ``all_specs`` ordering IS the round's evidence plan.
These tests pin the two guarantees the round-5 rewire established:

1. ``_WINDOW_PRIORITY`` leads, verbatim, even over the proven flag
   (stale rows-only rows must not hide upgraded oracles);
2. never-driver-evidenced queries precede proven ones, and among
   proven ones the STALEST green round re-enters first (freshness
   rotation).
"""

from __future__ import annotations

import json
import os

from batch_processing_new_spark import registry


def test_window_priority_leads_verbatim():
    names = list(registry.all_specs())
    k = len(registry._WINDOW_PRIORITY)
    assert names[:k] == registry._WINDOW_PRIORITY


def test_unproven_precede_proven():
    names = list(registry.all_specs())
    proven = registry._driver_verified()
    rest = names[len(registry._WINDOW_PRIORITY):]
    # unproven queries (if any outside priority) lead proven ones
    flags = [n in proven for n in rest]
    assert flags == sorted(flags), "an unproven query sorts after a proven one"
    # freshness rotation: proven tail is non-decreasing in last-green round
    rounds = [proven[n] for n in rest if n in proven]
    assert rounds == sorted(rounds), "stale evidence must re-enter first"


def test_scan_driver_artifacts_rotation_semantics(tmp_path):
    """Synthetic artifacts: latest green round wins, rows-only counts
    as evidenced, LOCAL artifacts and non-dict rows are ignored."""
    (tmp_path / "CORRECTNESS_r1.json").write_text(json.dumps({
        "qa": {"hash_match": True},
        "qb": {"hash_match": True},
        "qc": {"err": "no_oracle", "spark_rows": 5},
        "qd": {"hash_match": False},
        "junk": "not-a-dict",
    }))
    (tmp_path / "CORRECTNESS_r2.json").write_text(json.dumps({
        "qb": {"hash_match": True},
    }))
    (tmp_path / "CORRECTNESS_LOCAL_r3.json").write_text(json.dumps({
        "qe": {"hash_match": True},
    }))
    got = registry._scan_driver_artifacts(root=os.fspath(tmp_path))
    assert got == {"qa": 1, "qb": 2, "qc": 1}


def test_scan_survives_one_malformed_artifact(tmp_path, capsys):
    """A truncated artifact (driver interrupted mid-write) must be
    skipped with a warning, NOT discard the evidence from every intact
    round — that would silently reset the window plan."""
    (tmp_path / "CORRECTNESS_r1.json").write_text(json.dumps({
        "qa": {"hash_match": True},
    }))
    (tmp_path / "CORRECTNESS_r2.json").write_text('{"qb": {"hash_m')
    got = registry._scan_driver_artifacts(root=os.fspath(tmp_path))
    assert got == {"qa": 1}
    assert "malformed driver artifact" in capsys.readouterr().err
