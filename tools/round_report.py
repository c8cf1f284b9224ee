#!/usr/bin/env python
"""Turn a driver CORRECTNESS_r{N}.json into a round-opening action list.

Run this FIRST at the top of a round, before touching any code
(ROUNDLOG round-5 handoff step 1). It reads every driver artifact,
classifies each checked query's transition against the prior rounds'
last-known driver status, and prints:

1. status transitions — newly green / still red / NEW red / rows-only
   / errored — each with the action the standing rules require;
2. cumulative driver coverage vs the registry, the remaining
   never-checked list, evidence staleness, and the predicted
   next-round 50-slot window (first 50 of registry order, which
   already resorts on the new artifact).

Registry order is imported live, so the predicted window reflects the
artifact being analyzed. Works on any past round number too.

Usage: python tools/round_report.py [N]   (default: latest artifact)
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def status(row: dict) -> str:
    if not isinstance(row, dict):
        return "other"
    if row.get("hash_match") is True:
        return "green"
    if row.get("hash_match") is False:
        return "red"
    if row.get("err") == "no_oracle" and row.get("spark_rows") is not None:
        return "rows_only"
    return f"err:{row.get('err')}"


def evidence_ages(
    rounds: dict[int, dict], n: int, qnames: list[str]
) -> dict[str, int]:
    """Evidence age per query at round ``n``: n minus the most recent
    round whose driver row was green or justified rows-only. Queries
    with no evidence at all are omitted (they show in never-evidenced).
    Rounds after ``n`` are ignored so past rounds replay faithfully."""
    last: dict[str, int] = {}
    for r in sorted(k for k in rounds if k <= n):
        for name, row in rounds[r].items():
            if status(row) in ("green", "rows_only"):
                last[name] = r
    return {q: n - last[q] for q in qnames if q in last}


def load_rounds() -> dict[int, dict]:
    rounds = {}
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as f:
            rounds[int(m.group(1))] = json.load(f)
    return rounds


def main() -> int:
    rounds = load_rounds()
    if not rounds:
        print("no CORRECTNESS_r*.json artifacts found")
        return 1
    n = int(sys.argv[1]) if len(sys.argv) > 1 else max(rounds)
    if n not in rounds:
        print(f"no artifact for round {n}; have {sorted(rounds)}")
        return 1
    art = rounds[n]
    prior: dict[str, str] = {}
    for r in sorted(k for k in rounds if k < n):
        for name, row in rounds[r].items():
            prior[name] = status(row)

    print(f"== round {n} driver artifact: {len(art)} rows ==")

    buckets: dict[str, list[str]] = {
        "newly_green": [], "first_green": [], "still_red": [],
        "new_red": [], "rows_only": [], "errored": [],
    }
    for name, row in sorted(art.items()):
        st, was = status(row), prior.get(name)
        if st == "green":
            buckets["newly_green" if was == "red" else "first_green"].append(name)
        elif st == "red":
            tag = f"{name} (spark_rows={row.get('spark_rows')} oracle_rows={row.get('oracle_rows')})"
            buckets["still_red" if was == "red" else "new_red"].append(tag)
        elif st == "rows_only":
            buckets["rows_only"].append(f"{name} ({row.get('spark_rows')} rows)")
        else:
            buckets["errored"].append(f"{name} ({st})")

    print("\n-- transitions --")
    for key, label in [
        ("newly_green", "NEWLY GREEN (was driver-red; mark closed, drop from _WINDOW_PRIORITY)"),
        ("first_green", "green, first driver evidence"),
        ("still_red", "STILL RED (do NOT blind-rewrite: reproduce mechanism locally first — dtype_audit, driver_canon_check, hostile fixtures)"),
        ("new_red", "NEW RED (same rule: mechanism before edit)"),
        ("rows_only", "rows-only recorded"),
        ("errored", "ERRORED (investigate the err string first)"),
    ]:
        if buckets[key]:
            print(f"  {label}: {len(buckets[key])}")
            for q in buckets[key]:
                print(f"    {q}")

    # cumulative coverage + predicted next window, using live registry
    # order (which already resorts on the artifact just analyzed)
    from batch_processing_new_spark import registry

    specs = registry.all_specs()
    qnames = list(specs)
    # one evidence scan serves both the coverage count and the
    # staleness report (an evidenced query is exactly one with an age)
    ages = evidence_ages(rounds, n, qnames)
    never = [q for q in qnames if q not in ages]
    print(f"\n-- coverage --")
    print(f"  driver-evidenced union through r{n:02d}: "
          f"{len(ages)}/{len(qnames)}")
    print(f"  never-evidenced ({len(never)}): {never}")

    # staleness report (VERDICT r05 #3): with 196 real queries and 50
    # slots/round the freshness rotation should refresh every entry
    # about every 4 rounds — print window health as a number, not an
    # inference. Age = analyzed round minus the MOST RECENT evidence
    # round (green or justified rows-only).
    if ages:
        stale = sorted((q for q, a in ages.items() if a > 4),
                       key=lambda q: -ages[q])
        hist: dict[int, int] = {}
        for a in ages.values():
            hist[a] = hist.get(a, 0) + 1
        print(f"\n-- evidence staleness (rotation health) --")
        print(f"  max evidence age: {max(ages.values())} rounds"
              f" ({max(ages, key=ages.get)})")
        print(f"  entries >4 rounds stale: {len(stale)}"
              + (f" {stale[:10]}{'...' if len(stale) > 10 else ''}"
                 if stale else ""))
        print(f"  age histogram (age: count): "
              + ", ".join(f"{a}: {hist[a]}" for a in sorted(hist)))
    window = [q for q in specs][:50]
    print(f"\n-- predicted next-round window (first 50 of registry order) --")
    print(f"  {window}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
