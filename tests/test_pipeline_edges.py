"""Enrichment-pipeline edge cases (SURVEY §2A ops 3/12/13/14): empty
input, limit boundaries, output-file shape at the extremes, the enrich
stage's one-wave topology over 1,000-row batches, shared calls at
temperature 0, the single-consumer job shape, the release of the row-id
pin, exact error reports on all-failing and multi-split inputs, and the
swallowed webhook failure."""

from __future__ import annotations

import csv
import logging

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from batch_processing_new_spark.operators import enrich as enrich_mod
from batch_processing_new_spark.operators.enrich import (
    SENTINEL,
    EnrichConfig,
    build_prompt,
    mock_response,
)
from batch_processing_new_spark.plans.pipeline import (
    PipelineResult,
    PipelineSpec,
    _notify_webhook,
    enrich_topology,
    run_enrichment_pipeline,
)
from batch_processing_new_spark.sources.readers import read_csv, with_ingest_row_id
from tests.spark_stages import enrich_map_stage


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


@pytest.mark.parametrize(
    "head_rows, slots, concurrency, width, per_task",
    [
        (0, 4, 20, 0, 20),
        (1000, 4, 20, 1, 20),
        (2300, 4, 20, 3, 20),
        (6000, 4, 20, 4, 30),
        (20_000, 4, 20, 4, 50),
        (30_000, 32, 20, 30, 20),
    ],
)
def test_enrich_topology(head_rows, slots, concurrency, width, per_task):
    """Batches beyond the slots fold onto the first wave, whose tasks
    carry the reference's min(batches, 10) x 20 calls between them."""
    assert enrich_topology(head_rows, slots, concurrency) == (width, per_task)


def _run_in_group(
    spark, tmp_path, src, max_rows, group, temperature=0.0, fails=frozenset()
):
    """Run the pipeline under job group ``group`` at ``temperature``;
    return the result and its output rows. Inputs in ``fails`` fail at
    once (one attempt)."""
    spec = _spec(src, max_rows)
    spec.temperature = temperature
    if fails:
        spec.enrich.mock_fail_inputs = frozenset(fails)
        spec.enrich.retries = 1
    sc = spark.sparkContext
    sc.setJobGroup(group, "enrich width test")
    try:
        res = run_enrichment_pipeline(spark, spec, str(tmp_path / group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    with open(res.output_path) as f:
        return res, list(csv.DictReader(f))


_BATCH_CASES = [
    (2500, 2300, 3),
    (2500, 1000, 1),
    (2500, 10_000, 3),
    (5500, 5500, 6),
    # more batches than the test session's 8 slots: folded
    (9500, 9500, 10),
]


@pytest.mark.parametrize(
    "n, max_rows, batches, temperature",
    [(*c, 0.0) for c in _BATCH_CASES] + [(*c, 0.7) for c in _BATCH_CASES],
    ids=[f"{c[1]}-{c[2]}" for c in _BATCH_CASES]
    + [f"{c[1]}-{c[2]}-t0.7" for c in _BATCH_CASES],
)
def test_enrich_runs_in_1000_row_batches(
    spark, tmp_path, n, max_rows, batches, temperature
):
    """A single-split CSV's head runs as min(ceil(head_rows / 1000),
    slots) enrich tasks, one wave, with the output of the one-task plan
    and the paid map run exactly once: at temperature 0 once per
    distinct head prompt, at 0.7 once per head row."""
    distinct = 700
    src = _write_csv(
        tmp_path / "w.csv", [[i, f"t{i % distinct}", i] for i in range(n)]
    )
    raw = read_csv(spark, src)
    assert raw.rdd.getNumPartitions() == 1

    # the one-task reference: enrich() straight over the unspread head
    head = with_ingest_row_id(raw).where(F.col("_row_id") < max_rows)
    one_task = dict(
        enrich_mod.enrich(head, "text", EnrichConfig(system_prompt="classify"))
        .select("_row_id", "Response")
        .collect()
    )

    group = f"enrich-width-{n}-{max_rows}-{temperature}"
    res, rows = _run_in_group(spark, tmp_path, src, max_rows, group, temperature)

    # the stage also computes the passthrough tail: one more task (its
    # single split), empty when max_rows covers the whole input
    width = min(batches, spark.sparkContext.defaultParallelism)
    stage = enrich_map_stage(spark.sparkContext, group)
    assert stage.numTasks() == width + 1
    # a one-task head is enriched straight off the scan, unshuffled
    assert (stage.shuffleReadBytes() > 0) == (width > 1)
    # every distinct head prompt (temperature 0) or head row enriched
    # once: the spread and the sink did not re-run the paid map
    head_rows = min(max_rows, n)
    calls = min(head_rows, distinct) if temperature == 0 else head_rows
    assert enrich_mod._LIVE_ACCUMULATORS[-1].value == calls
    assert res.row_count == n
    assert [r["id"] for r in rows] == [str(i) for i in range(n)]
    assert [r["Response"] for r in rows] == [one_task.get(i, "") for i in range(n)]


def test_dedupe_runs_distinct_inputs_at_full_width(spark, tmp_path):
    """At temperature 0 the head is co-partitioned at the topology's
    width, which AQE must not coalesce into one enrich task: the head
    runs as width tasks (plus the tail's split in the same stage), each
    text enriched once, in at most the plain run's 7 jobs, with the
    output bytes and error report of the temperature-0.7 run, which
    calls every row."""
    n, distinct = 3000, 700
    src = _write_csv(
        tmp_path / "d.csv", [[i, f"t{i % distinct}", i] for i in range(n)]
    )
    fails = {"t3", "t500"}
    plain_res, _ = _run_in_group(
        spark, tmp_path, src, n, "enrich-plain", temperature=0.7, fails=fails
    )
    plain_calls = enrich_mod._LIVE_ACCUMULATORS[-1].value
    res, _ = _run_in_group(spark, tmp_path, src, n, "enrich-dedupe", fails=fails)

    sc = spark.sparkContext
    width, _ = enrich_topology(n, sc.defaultParallelism, 20)
    stage = enrich_map_stage(sc, "enrich-dedupe")
    assert stage.numTasks() == width + 1
    assert len(sc.statusTracker().getJobIdsForGroup("enrich-dedupe")) <= 7
    assert (enrich_mod._LIVE_ACCUMULATORS[-1].value, plain_calls) == (distinct, n)
    with open(res.output_path, "rb") as f, open(plain_res.output_path, "rb") as g:
        assert f.read() == g.read()
    assert res.error_indexes == plain_res.error_indexes != []


def test_enriched_frame_has_one_consumer(spark, tmp_path, monkeypatch):
    """A single-split request runs at most 7 Spark jobs: scan (header,
    schema), row-id count, head spread, enrich map, sink. Nothing is
    persisted but the row-id pass's lazy local-checkpoint pin, which the
    pipeline releases after the sink (see the next test); pins left by
    other tests that call the row-id pass directly may remain."""
    src = _write_csv(tmp_path / "j.csv", [[i, f"t{i % 700}", i] for i in range(2500)])

    def no_persist(self, *args, **kwargs):
        raise AssertionError("the pipeline must not persist a frame")

    monkeypatch.setattr(DataFrame, "persist", no_persist)
    monkeypatch.setattr(DataFrame, "cache", no_persist)
    group = "one-consumer"
    res, rows = _run_in_group(spark, tmp_path, src, 2300, group)

    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 7
    persisted = sc._jsc.getPersistentRDDs().values()
    assert all(r.rdd().isLocallyCheckpointed() for r in persisted)
    assert res.row_count == 2500 and len(rows) == 2500


def test_consecutive_requests_release_their_row_id_pins(spark, tmp_path):
    """A long-lived service must not hold every request's input: the
    row-id pass's local-checkpoint pin is released after the sink, so
    the persisted RDDs do not grow across consecutive requests."""
    src = _write_csv(tmp_path / "r.csv", [[i, f"t{i % 50}", i] for i in range(300)])
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    for k in range(3):
        before = len(persisted())
        res = run_enrichment_pipeline(
            spark, _spec(src, 200), str(tmp_path / f"out{k}")
        )
        assert res.row_count == 300
        assert len(persisted()) <= before


def _expected(texts, max_rows, fails):
    """(Responses, 1-based error indexes) for ``texts`` in ingest order."""
    responses = [
        ""
        if i >= max_rows
        else SENTINEL
        if t in fails
        else mock_response(build_prompt("classify", t))
        for i, t in enumerate(texts)
    ]
    return responses, [i + 1 for i, r in enumerate(responses) if r == SENTINEL]


def test_all_failing_head_reports_every_index(spark, tmp_path):
    texts = [f"t{i}" for i in range(30)]
    src = _write_csv(tmp_path / "f.csv", [[i, t, i] for i, t in enumerate(texts)])
    res, rows = _run_in_group(spark, tmp_path, src, 20, "all-fail", fails=texts)

    responses, indexes = _expected(texts, 20, set(texts))
    assert indexes == list(range(1, 21))
    assert res.error_count == 20 and res.error_indexes == indexes
    assert [r["id"] for r in rows] == [str(i) for i in range(30)]
    assert [r["Response"] for r in rows] == responses


def test_multi_split_input_reports_exact_indexes(spark, tmp_path):
    """Two files are two splits; ingest order is split order. The head
    (3 batches, spread over 3 tasks) spans both splits, and the tail
    lies in the second."""
    d = tmp_path / "in"
    d.mkdir()
    _write_csv(d / "a.csv", [[i, f"a{i % 50}", i] for i in range(1500)])
    _write_csv(d / "b.csv", [[2000 + i, f"b{i % 40}", i] for i in range(1000)])
    raw = read_csv(spark, str(d))
    assert raw.rdd.getNumPartitions() == 2
    ingest = [(str(r.id), r.text) for part in raw.rdd.glom().collect() for r in part]

    fails = {"a7", "b3"}
    res, rows = _run_in_group(spark, tmp_path, str(d), 2200, "multi-split", fails=fails)

    responses, indexes = _expected([t for _, t in ingest], 2200, fails)
    assert res.row_count == 2500
    assert res.error_count == len(indexes) and res.error_indexes == indexes
    assert [r["id"] for r in rows] == [i for i, _ in ingest]
    assert [r["Response"] for r in rows] == responses


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
