#!/usr/bin/env python
"""Physical-plan audit: dump explain("formatted") for the headline
queries and grade each plan against the scale checklist (pushdown,
pruning, broadcast, codegen, no cartesian products).

Writes PLANS.md at the repo root. Run after adding/changing operators:
a green test with a bad plan is not done (the plan IS the product at
100 TB).
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Audit EVERYTHING in the registry except the queries whose plan
# CONSTRUCTION is itself an expensive driver-side loop at sf0.1 (their
# shapes are pinned by dedicated tests instead). A skip-list (not an
# include-list) means every newly registered query gets the
# cartesian/nested-loop gate by default.
SKIP = {
    # BPE: building the plan runs the per-merge collect loop at sf0.1
    # (tens of driver round-trips); shapes pinned in tests/test_bpe.py
    "q169_bpe_vocab",
    "q180_bpe_tokenize_corpus",
    # Streaming queries DRAIN their whole stream during fn() (the
    # returned frame reads the finished memory/foreachBatch sink), so
    # "explaining" them executes a full streaming job at sf0.1 and the
    # printed plan is only a Scan ExistingRDD over the sink — zero
    # audit signal for real cost. Their streaming shapes are covered by
    # tests/test_streaming.py equivalence tests and SHUFFLE.md.
    "q50_stream_tumbling_window",
    "q51_stream_sliding_window",
    "q52_stream_session_window",
    "q53_stream_dedupe",
    "q67_stream_stream_join",
    "q78_stateful_running_stats",
    "q86_incremental_user_stats",
    "q92_hll_distinct_mv",
    "q103_stream_left_outer_join",
    "q124_stream_static_join",
}

CHECKS = {
    "pushed_filter": re.compile(r"PushedFilters: \[(?!\])"),
    "pruned_schema": re.compile(r"ReadSchema:"),
    "codegen": re.compile(r"codegen id :"),
    "broadcast_join": re.compile(r"BroadcastHashJoin"),
    "CARTESIAN(!)": re.compile(r"CartesianProduct"),
    "BNLJ(!)": re.compile(r"BroadcastNestedLoopJoin"),
}


def main() -> None:
    from batch_processing_new_spark.registry import all_specs
    from batch_processing_new_spark.session import get_spark

    spark = get_spark(app_name="explain_audit")
    # AQE rewrites plans at runtime and hides codegen annotations in the
    # pre-execution explain; disable it for the AUDIT ONLY so the static
    # plan shows codegen spans and join strategies (production sessions
    # keep AQE on — see session.get_spark).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    specs = all_specs()
    audited = [n for n in specs if n not in SKIP]

    out = [
        "# PLANS — physical-plan audit of the full query registry",
        "",
        f"Generated by tools/explain_audit.py at sf dir `{SF_DIR}`. "
        "Checklist per plan: filters pushed to the parquet scan, schema "
        "pruned, whole-stage codegen present, dimension joins broadcast, "
        "and NO cartesian/nested-loop joins (flagged with `!`).",
        "",
    ]
    # Queries where a nested-loop join IS the intended plan: brute-force
    # top-k broadcasts a handful of query vectors against the streaming
    # corpus — the non-equi "condition" is just self-pair exclusion.
    # q94/q108/q123: a ONE-row global aggregate (quantile grid / spine
    # bounds / row total) cross-joined broadcast to the other side —
    # a 1xN nested loop is the right plan. (q99 left this set when its
    # scoring moved to a literal-map fold.)
    NESTED_LOOP_OK = {
        "q40_cosine_topk",
        # 1-row (min, max) stats aggregate broadcast into the binning
        # pass — the two-pass equi-width-histogram scalar broadcast
        "q77_histogram",
        "q94_quantile_drift",
        "q108_interpolate_gaps",
        "q123_benford_check",
        # 1-row (n_docs, avgdl) corpus-stats aggregate broadcast into the
        # scoring join — a 1xN scalar broadcast, not a data-scale product
        "q141_bm25_topk",
        # q40's documented pattern: 5 query vectors broadcast against the
        # corpus scan (exactness baseline); the filter only shrinks it
        "q145_filtered_ann",
        # the hybrid vector leg broadcasts ONE query vector against the
        # corpus scan (q40's pattern), and the BM25 leg carries q141's
        # 1-row corpus-stats broadcast
        "q151_hybrid_rrf",
        # jackknife: 1-row totals / mbar / var aggregates broadcast
        # back over the 8-row shard set — three 1xN scalar broadcasts
        "q157_jackknife_ci",
        # KS: 1-row (n_a, n_b) totals broadcast over the CDF rows
        "q162_ks_statistic",
        # PMI: 1-row grand-total broadcast over the (source, lang) cells
        "q164_source_lang_pmi",
        # q40's pattern: 5 anchors broadcast against the corpus scan with
        # the label-mismatch predicate as the join condition
        "q168_hard_negatives",
        # CUPED: 1-row (theta, mean) broadcast back over users
        "q172_cuped",
        # per-edge crossJoin of two 1-row aggregate scalars
        "q174_fk_orphan_audit",
        # broadcast 10-row eval set against the corpus scan (q40 shape)
        "q176_semantic_decontam",
        # 1-row total / anchor-day / marginal-grid scalar broadcasts
        "q177_temperature_mix",
        "q186_largest_remainder",
        "q187_decayed_trending",
        "q188_chi_square_independence",
        "q189_concentration_audit",
        # Q22 shape: 1-row average-balance aggregate broadcast into the
        # filter (the decorrelated scalar subquery)
        "q191_dormant_customers",
        # 1-row totals/chance broadcasts over the tiny cell table
        "q192_annotator_agreement",
    }
    bad = []
    for name in audited:
        fn = specs[name].fn
        df = fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        flags = {k: bool(p.search(plan)) for k, p in CHECKS.items()}
        if (flags["CARTESIAN(!)"] or flags["BNLJ(!)"]) and name not in NESTED_LOOP_OK:
            bad.append(name)
        summary = ", ".join(
            f"{k}={'Y' if v else 'n'}" for k, v in flags.items()
        )
        out.append(f"## {name}\n\n`{summary}`\n")
        # keep plans readable: strip the verbose per-node field dumps
        head = plan.split("\n\n")[0]
        out.append("```\n" + head.strip() + "\n```\n")

    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written; {len(audited)} plans audited")
    if bad:
        print(f"NESTED-LOOP/CARTESIAN found in: {bad}")
        sys.exit(1)
    spark.stop()


if __name__ == "__main__":
    main()
