"""Named-query registry: the single source of truth for the driver contract.

Every implemented operator registers a query here via the ``@query``
decorator; ``__spark_entry__.py`` re-exports the registry. A query carries:

- ``fn(spark, sf_dir) -> DataFrame`` — the Spark-first implementation;
- ``oracle`` — an equivalent ANSI/DuckDB SQL string over the pre-registered
  views (``region nation customer supplier part orders lineitem events
  documents embeddings``), or ``None`` for non-SQL-expressible operators
  (those get a rows-only check from the driver plus dedicated pytest
  invariants in ``tests/``).

Column-name contract: every computed column is aliased identically on both
sides (the driver sorts columns by name before value-hashing).
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import re
import sys
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}

# Modules whose import registers queries.
_QUERY_MODULES = [
    "batch_processing_new_spark.operators.relational",
    "batch_processing_new_spark.operators.relational_ext",
    "batch_processing_new_spark.operators.grouped_map",
    "batch_processing_new_spark.operators.text_analysis",
    "batch_processing_new_spark.operators.dedup",
    "batch_processing_new_spark.operators.analytics",
    "batch_processing_new_spark.operators.similarity",
    "batch_processing_new_spark.operators.enrich_queries",
    "batch_processing_new_spark.operators.multimodal",
    "batch_processing_new_spark.operators.training_mix",
    "batch_processing_new_spark.operators.udtf_ops",
    "batch_processing_new_spark.operators.scale",
    "batch_processing_new_spark.operators.web_prep",
    "batch_processing_new_spark.operators.corpus_stats",
    "batch_processing_new_spark.operators.layout",
    "batch_processing_new_spark.operators.scoring",
    "batch_processing_new_spark.operators.graph",
    "batch_processing_new_spark.operators.experiments",
    "batch_processing_new_spark.operators.bpe",
    "batch_processing_new_spark.operators.activity",
    "batch_processing_new_spark.operators.quality_audit",
    "batch_processing_new_spark.operators.versioning",
    "batch_processing_new_spark.operators.evaluation",
    "batch_processing_new_spark.operators.clustering",
    "batch_processing_new_spark.plans.corpus_pipeline",
    "batch_processing_new_spark.sources.excel",
    "batch_processing_new_spark.sources.scraped",
    "batch_processing_new_spark.sources.pydatasource",
    "batch_processing_new_spark.sources.kafka_shim",
    "batch_processing_new_spark.streaming.stream_queries",
    "batch_processing_new_spark.streaming.incremental",
]

_loaded = False
_proven_cache: dict[str, int] | None = None


def query(name: str, oracle: str | None = None, doc: str = ""):
    """Register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, doc or (fn.__doc__ or ""))
        return fn

    return deco


def _load() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    _loaded = True


def _driver_verified() -> dict[str, int]:
    """Query name -> round of its MOST RECENT green row in any driver
    CORRECTNESS_r*.json (absent = never driver-evidenced).

    The driver verifies exactly the FIRST 50 entries of ``queries()``
    per round, so registration order decides which queries get a hard
    correctness signal. Not-yet-verified queries sort first so
    coverage accumulates; among verified ones the STALEST evidence
    sorts first (freshness rotation, r05) so old green rows get
    re-confirmed instead of the same registration-order prefix
    re-running forever. ``tests/run_verify.py`` still checks all
    queries every run regardless of order.
    """
    return _scan_driver_artifacts()


def _scan_driver_artifacts(root: str | None = None) -> dict[str, int]:
    """Implementation of ``_driver_verified``; ``root`` overrides the
    repo root and bypasses the cache (unit tests feed a tmp dir of
    synthetic CORRECTNESS files)."""
    global _proven_cache
    use_cache = root is None
    if use_cache and _proven_cache is not None:
        return _proven_cache
    green: dict[str, int] = {}
    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue  # e.g. CORRECTNESS_LOCAL_* must never count
        rnd = int(m.group(1))
        # per-file isolation: ONE truncated/partially-written artifact
        # (driver interrupted mid-write) must not discard the evidence
        # parsed from every intact round — that would silently reset
        # the whole window plan to registration order
        try:
            with open(path) as f:
                data = json.load(f)
        except Exception as e:
            print(
                f"registry: skipping malformed driver artifact {path}: {e}",
                file=sys.stderr,
            )
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            if row.get("hash_match") is True or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            ):
                green[name] = max(green.get(name, 0), rnd)
    if use_cache:
        _proven_cache = green
    return green


# Round-6 window (VERDICT r05 "Next round" #1): EMPTY — with all 196
# operator queries driver-evidenced as of CORRECTNESS_r05 (193 hash +
# 3 justified rows-only) there is nothing left to force-lead, so the
# freshness rotation (r05, commit 3240976) owns the window: the 50
# stalest-evidenced real queries re-enter first, every entry refreshes
# about every 4 rounds, zero manual curation. Re-populate ONLY when a
# driver red needs closure or an oracle upgrade needs its first hash
# row (the rows-only rule in _driver_verified would otherwise hide it
# as "proven").
_WINDOW_PRIORITY: list[str] = []

# Unproven queries explicitly PUSHED BEHIND every other unproven query
# (none this round: the former 12-entry defer set IS round 5's window).
_WINDOW_DEFER: set[str] = set()


def all_specs() -> dict[str, QuerySpec]:
    _load()
    proven = _driver_verified()
    prio = {n: i for i, n in enumerate(_WINDOW_PRIORITY)}
    idx = {n: i for i, n in enumerate(_REGISTRY)}
    base = len(prio)
    ordered = sorted(
        _REGISTRY,
        key=lambda n: (
            # explicit window entries lead even when a stale driver
            # row marks them proven (rows-only rows hide upgraded
            # oracles; re-confirmation rows are wanted twice)
            n not in prio,
            prio.get(n, 0),
            n in proven,
            base + 1 if n in _WINDOW_DEFER else base,
            # freshness rotation (r05): among proven queries the
            # STALEST green row re-enters the window first, so driver
            # evidence refreshes round-robin instead of the same
            # registration-order prefix re-running forever
            proven.get(n, 0),
            idx[n],
        ),
    )
    return {n: _REGISTRY[n] for n in ordered}


def all_queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def all_oracles() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in all_specs().items()
        if spec.oracle is not None
    }
