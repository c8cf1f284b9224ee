"""Enrichment-pipeline edge cases (SURVEY §2A ops 3/12/13/14): empty
input, limit boundaries, output-file shape at the extremes, the enrich
stage's 1,000-row batch width, and the swallowed webhook failure."""

from __future__ import annotations

import csv
import logging

import pytest
from pyspark.sql import functions as F

from batch_processing_new_spark.operators import enrich as enrich_mod
from batch_processing_new_spark.operators.enrich import EnrichConfig
from batch_processing_new_spark.plans.pipeline import (
    PipelineResult,
    PipelineSpec,
    _notify_webhook,
    run_enrichment_pipeline,
)
from batch_processing_new_spark.sources.readers import read_csv, with_ingest_row_id


def _spec(url: str, max_rows: int) -> PipelineSpec:
    return PipelineSpec(
        file_url=url,
        column_index=1,
        max_rows=max_rows,
        system_prompt="classify",
        enrich=EnrichConfig(transport="mock"),
    )


def _write_csv(path, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["id", "text", "amount"])
        w.writerows(rows)
    return str(path)


def test_empty_input_yields_header_only_output(spark, tmp_path):
    src = _write_csv(tmp_path / "empty.csv", [])
    res = run_enrichment_pipeline(
        spark, _spec(src, 10), str(tmp_path / "out")
    )
    assert res.row_count == 0
    assert res.error_count == 0 and res.error_indexes == []
    with open(res.output_path) as f:
        lines = [ln for ln in f.read().splitlines() if ln]
    assert lines == ["id,text,Response"] or lines == ["id,text,amount,Response"]


def test_max_rows_zero_is_all_passthrough(spark, tmp_path):
    src = _write_csv(tmp_path / "p.csv", [[i, f"t{i}", i * 1.5] for i in range(7)])
    res = run_enrichment_pipeline(spark, _spec(src, 0), str(tmp_path / "out"))
    assert res.row_count == 7
    with open(res.output_path) as f:
        rows = list(csv.DictReader(f))
    assert len(rows) == 7
    # nothing enriched: every Response empty, order preserved
    assert all(r["Response"] == "" for r in rows)
    assert [r["id"] for r in rows] == [str(i) for i in range(7)]


def test_max_rows_beyond_input_enriches_everything(spark, tmp_path):
    src = _write_csv(tmp_path / "a.csv", [[i, f"t{i}", i] for i in range(5)])
    res = run_enrichment_pipeline(
        spark, _spec(src, 10_000), str(tmp_path / "out")
    )
    assert res.row_count == 5
    with open(res.output_path) as f:
        rows = list(csv.DictReader(f))
    assert all(r["Response"].startswith("resp::") for r in rows)
    assert [r["id"] for r in rows] == [str(i) for i in range(5)]


def test_single_enriched_row_boundary(spark, tmp_path):
    src = _write_csv(tmp_path / "b.csv", [[i, f"t{i}", i] for i in range(4)])
    res = run_enrichment_pipeline(spark, _spec(src, 1), str(tmp_path / "out"))
    with open(res.output_path) as f:
        rows = list(csv.DictReader(f))
    assert rows[0]["Response"].startswith("resp::")
    assert all(r["Response"] == "" for r in rows[1:])


def _map_stage_tasks(spark, group: str) -> int:
    """Tasks of the first stage in ``group`` that ran the enrich map
    (the plan's MapInPandas node), read from the status store; later
    stages over the persisted output show the node too but read cached
    blocks."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), jsc.statusStore()
    dot = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile
    stages = sorted(
        sid
        for job in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(job).stageIds
    )
    for sid in stages:
        if store.lastStageAttempt(sid).status().toString() != "COMPLETE":
            continue
        if 'label="MapInPandas"' in dot(store.operationGraphForStage(sid)):
            return tracker.getStageInfo(sid).numTasks
    raise AssertionError(f"no enrich stage in job group {group!r}")


@pytest.mark.parametrize(
    "max_rows, width", [(2300, 3), (1000, 1), (10_000, 3)]
)
def test_enrich_runs_in_1000_row_batches(spark, tmp_path, max_rows, width):
    """A single-split CSV's head runs as ceil(head_rows / 1000) enrich
    tasks, with the output of the one-task plan and the paid map run
    exactly once."""
    n = 2500
    src = _write_csv(tmp_path / "w.csv", [[i, f"t{i % 700}", i] for i in range(n)])
    raw = read_csv(spark, src)
    assert raw.rdd.getNumPartitions() == 1

    # the one-task reference: enrich() straight over the unspread head
    head = with_ingest_row_id(raw).where(F.col("_row_id") < max_rows)
    one_task = dict(
        enrich_mod.enrich(head, "text", EnrichConfig(system_prompt="classify"))
        .select("_row_id", "Response")
        .collect()
    )

    sc = spark.sparkContext
    group = f"enrich-width-{max_rows}"
    sc.setJobGroup(group, "enrich width test")
    try:
        res = run_enrichment_pipeline(
            spark, _spec(src, max_rows), str(tmp_path / "out")
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    # the stage also computes the passthrough tail: one more task (its
    # single split), empty when max_rows covers the whole input
    assert _map_stage_tasks(spark, group) == width + 1
    # every head row enriched once: the round-robin shuffle and the
    # sort's sampling job did not re-run the paid map
    assert enrich_mod._LIVE_ACCUMULATORS[-1].value == min(max_rows, n)
    assert res.row_count == n
    with open(res.output_path) as f:
        rows = list(csv.DictReader(f))
    assert [r["id"] for r in rows] == [str(i) for i in range(n)]
    assert [r["Response"] for r in rows] == [one_task.get(i, "") for i in range(n)]


def test_webhook_failure_is_logged_with_request_id(caplog):
    spec = _spec("unused.csv", 1)
    spec.request_id = "req-webhook-1"
    spec.webhook_url = "http://127.0.0.1:1/hook"  # nothing listens there
    result = PipelineResult("out.csv", 1, 0, [])
    with caplog.at_level(logging.WARNING, logger="batch_processing_new_spark"):
        _notify_webhook(spec, result)  # swallowed: must not raise
    [rec] = [
        r for r in caplog.records
        if r.name == "batch_processing_new_spark.plans.pipeline"
    ]
    assert rec.levelno == logging.WARNING
    assert "req-webhook-1" in rec.getMessage()
