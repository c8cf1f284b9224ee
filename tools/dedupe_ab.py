#!/usr/bin/env python
"""By-hand A/B of the enrichment pipeline's shared calls, one variant per
fresh process.

At temperature 0 the pipeline pays each distinct input once; the
listed ``enrich-batch`` workload measures that on one input, this tool
on inputs where the share of repeated texts and hot texts differ. Run
each variant (a checkout's engine at one temperature) in its own
process, interleave the variants over seeds, rotate which goes first,
and compare median per-call seconds.

  python tools/dedupe_ab.py --root DIR --temperature 0 --case hot --seed 7

Cases (the share of repeated inputs decides what sharing saves):

  enrich-batch  perfbench's enrich-batch input (8,000 rows, about half
                the head's texts repeat, 10 ms mock latency);
  repeat1000    150,000 rows of 14 columns, 150 distinct texts (each
                repeated about 1,000 times), 0.5 s mock latency;
  hot           150,000 rows of 14 columns, 30% blank (NULL) texts,
                the rest 1,050 distinct, 10 ms mock latency.

``--root`` is the checkout whose engine and ``perfbench/run.py`` are
imported (default: this one), so a parent commit extracted elsewhere
runs its own code. A checkout whose ``EnrichConfig`` still has the
opt-in ``dedupe_inputs`` flag (before temperature 0 shared calls) gets
it set at temperature 0, so both sides pay one call per distinct
prompt. At temperature 0.7 ``repeat1000`` makes 150,000 calls of 0.5 s.

Prints one JSON line: median and per-call seconds, the last call's LLM
calls, the enrich stage's task count and its slowest and median task
seconds, and the output CSV's md5, which must match across variants.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# this checkout's helper, whichever checkout --root points at
sys.path.insert(0, HERE)
from tests.spark_stages import enrich_map_stage  # noqa: E402

WIDE_ROWS = 150_000


def write_wide_csv(path: str, case: str, seed: int) -> None:
    rng = random.Random(seed)
    with open(path, "w") as f:
        f.write("id,text," + ",".join(f"c{j}" for j in range(12)) + "\n")
        for i in range(WIDE_ROWS):
            if case == "repeat1000":
                text = f"key number {rng.randrange(150)}"
            elif rng.random() < 0.3:
                text = ""
            else:
                text = f"key number {rng.randrange(1050)}"
            fill = ",".join(
                "".join(rng.choices("abcdefghij", k=24)) for _ in range(12)
            )
            f.write(f"{i},{text},{fill}\n")


def enrich_task_seconds(sc, group: str) -> dict:
    """Task count and slowest and median task seconds of the head's
    enrich tasks in job group ``group``: the enrich stage's tasks that
    read the head's spread shuffle; its other task passes the tail
    through."""
    stage = enrich_map_stage(sc, group)
    store = sc._jsc.sc().statusStore()
    tasks = store.taskList(stage.stageId(), stage.attemptId(), 1 << 30)
    tasks = [tasks.apply(i) for i in range(tasks.size())]
    secs = sorted(
        t.duration().get() / 1000
        for t in tasks
        if t.taskMetrics().get().shuffleReadMetrics().recordsRead()
    )
    if not secs:  # a one-task head reads no shuffle
        return {}
    return {
        "tasks": len(secs),
        "max": round(secs[-1], 3),
        "median": round(statistics.median(secs), 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--root", default=HERE)
    ap.add_argument("--temperature", type=float, required=True)
    ap.add_argument(
        "--case", choices=("enrich-batch", "repeat1000", "hot"), required=True
    )
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--calls", type=int, default=3, help="timed calls after a warm-up")
    args = ap.parse_args()
    root = os.path.abspath(args.root)
    sys.path[:0] = [os.path.join(root, "perfbench"), root]
    import run as pb

    work = os.path.join(root, ".perfbench_work", f"dedupe_ab_{os.getpid()}")
    pb.pin_environment(work)
    pb.become_subreaper()
    try:
        from batch_processing_new_spark import session
        from batch_processing_new_spark.operators import enrich as em
        from batch_processing_new_spark.plans.pipeline import (
            PipelineSpec,
            run_enrichment_pipeline,
        )

        spark = session.get_spark(
            app_name="dedupe-ab",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
                ),
            },
        )

        def set_temperature(s: PipelineSpec) -> PipelineSpec:
            s.temperature = args.temperature
            if hasattr(s.enrich, "dedupe_inputs"):
                s.enrich.dedupe_inputs = args.temperature == 0
            return s

        if args.case == "enrich-batch":
            import numpy as np
            import workloads

            wl = workloads.EnrichBatch(
                workloads.Context(spark, {}, np.random.default_rng(args.seed), work)
            )
            wl.setup()

            def spec(k: int) -> PipelineSpec:
                return set_temperature(wl.spec(k))

            src = None
        else:
            src = os.path.join(work, "input.csv")
            write_wide_csv(src, args.case, args.seed)
            latency = 0.5 if args.case == "repeat1000" else 0.01

            def spec(k: int) -> PipelineSpec:
                s = PipelineSpec(
                    file_url=src,
                    column_index=1,
                    max_rows=WIDE_ROWS,
                    system_prompt="classify",
                    file_name=f"out{k}",
                )
                s.enrich = em.EnrichConfig(mock_latency=latency)
                return set_temperature(s)

        walls, digests = [], set()
        sc = spark.sparkContext
        for k in range(args.calls + 1):  # call 0 warms up
            sc.setJobGroup(f"dedupe-ab-{k}", "dedupe A/B call")
            t0 = time.monotonic()
            res = run_enrichment_pipeline(spark, spec(k), os.path.join(work, "out"))
            if k:
                walls.append(round(time.monotonic() - t0, 3))
            with open(res.output_path, "rb") as fh:
                digests.add(hashlib.md5(fh.read()).hexdigest())
        print(
            json.dumps(
                {
                    "root": root,
                    "temperature": args.temperature,
                    "case": args.case,
                    "seed": args.seed,
                    "median_s": statistics.median(walls),
                    "walls": walls,
                    "calls": em._LIVE_ACCUMULATORS[-1].value,
                    "rows": res.row_count,
                    "enrich_task_s": enrich_task_seconds(sc, f"dedupe-ab-{k}"),
                    "output_md5": sorted(digests),
                }
            )
        )
        spark.stop()
    finally:
        pb.stop_jvm()
        pb.reap_children()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
