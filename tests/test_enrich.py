"""Parity tests for the enrichment operator and the full pipeline
(SURVEY.md §5.2 golden assertions, FIXTURES.md §B)."""

from __future__ import annotations

import hashlib
import random

import pandas as pd
import pytest

from pyspark.sql import functions as F

from batch_processing_new_spark.operators import enrich as enrich_mod
from batch_processing_new_spark.operators.enrich import (
    SENTINEL,
    EnrichConfig,
    build_prompt,
    co_partition,
    enrich,
    mock_response,
)
from batch_processing_new_spark.plans.pipeline import PipelineSpec, run_enrichment_pipeline

SYS = "Classify the sentiment of the input."

# temperature 0 shares one call among equal prompts ("dedupe"); above 0
# every row gets its own call ("plain")
TEMPERATURES = pytest.mark.parametrize(
    "temperature", [0.7, 0.0], ids=["plain", "dedupe"]
)


def _laid_out(df, col: str, temperature: float):
    """``df`` as the pipeline spreads it at ``temperature``: co-partitioned
    on ``col`` at 0, where equal prompts share a call; as it is above."""
    if temperature == 0:
        return co_partition(df, col, df.sparkSession.sparkContext.defaultParallelism)
    return df


@pytest.fixture(scope="module")
def enrich_input_csv(tmp_path_factory):
    """FIXTURES.md §B: deterministic CSV, seed=42, 2500 rows."""
    rng = random.Random(42)
    vocab = "the fast key order sort table scan merge part window small hash".split()
    path = tmp_path_factory.mktemp("fixture") / "enrich_input.csv"
    with open(path, "w") as f:
        f.write("id,text,category,amount\n")
        for i in range(2500):
            text = " ".join(rng.choice(vocab) for _ in range(8))
            cat = f"cat{rng.randrange(5)}"
            amount = round(rng.random() * 1000, 2)
            f.write(f"{i},{text} row{i},{cat},{amount}\n")
    return str(path)


def test_mock_determinism_matches_pandas_reimpl(spark):
    """Spark enrich == a Spark-free pandas reimplementation (SURVEY §5.3)."""
    pdf = spark.range(200).withColumn("text", F.concat(F.lit("doc-"), F.col("id")))
    cfg = EnrichConfig(system_prompt=SYS, transport="mock")
    got = {
        r.id: r.Response
        for r in enrich(pdf, "text", cfg).select("id", "Response").collect()
    }
    for i in range(200):
        prompt = build_prompt(SYS, f"doc-{i}")
        expected = "resp::" + hashlib.md5(prompt.encode()).hexdigest()[:8]
        assert got[i] == expected


@TEMPERATURES
def test_input_column_name_is_literal(spark, temperature):
    """A CSV header may hold dots and backticks: the input column is
    taken by its literal name, also by ``co_partition``."""
    col = "user.text`"
    df = spark.range(30).withColumn(col, F.concat(F.lit("doc-"), F.col("id") % 7))
    cfg = EnrichConfig(system_prompt=SYS, temperature=temperature)
    got = enrich(_laid_out(df, col, temperature), col, cfg).collect()
    assert len(got) == 30
    assert all(r["Response"] == mock_response(build_prompt(SYS, r[col])) for r in got)


def test_scripted_failures_degrade_to_sentinel(spark):
    fails = frozenset({"doc-3", "doc-7"})
    cfg = EnrichConfig(
        system_prompt=SYS,
        transport="mock",
        mock_fail_inputs=fails,
        retries=2,
        base_delay=0.0,
    )
    df = spark.range(10).withColumn("text", F.concat(F.lit("doc-"), F.col("id")))
    rows = enrich(df, "text", cfg, with_result_struct=True).collect()
    by_id = {r.id: r for r in rows}
    assert by_id[3].Response == SENTINEL
    assert by_id[7].Response == SENTINEL
    assert by_id[3]._enrich_attempts == 2
    assert by_id[3]._enrich_error is not None
    for i in set(range(10)) - {3, 7}:
        assert by_id[i].Response == mock_response(build_prompt(SYS, f"doc-{i}"))
        assert by_id[i]._enrich_error is None


@TEMPERATURES
def test_existing_output_column_is_rejected(spark, temperature):
    df = spark.range(3).select(
        F.col("id").cast("string").alias("text"), F.lit("x").alias("Response")
    )
    cfg = EnrichConfig(system_prompt=SYS, temperature=temperature)
    with pytest.raises(ValueError, match="already exist"):
        enrich(df, "text", cfg)


def _responses_and_calls(df, col: str, temperature: float) -> tuple[dict, int]:
    """``{id: Response}`` of ``df`` enriched on ``col`` at ``temperature``
    (``_laid_out``), and the calls it made."""
    cfg = EnrichConfig(system_prompt=SYS, temperature=temperature)
    got = enrich(_laid_out(df, col, temperature), col, cfg).select("id", "Response")
    return dict(got.collect()), enrich_mod._LIVE_ACCUMULATORS[-1].value


def test_dedupe_matches_plain_across_arrow_batches(spark):
    """NULLs and repeated texts spread over many 7-row Arrow batches: at
    temperature 0 each of the 14 distinct prompts (13 texts and
    str(None)) is called once, at 0.7 each row is, and every row gets
    the same Response."""
    df = spark.createDataFrame(
        [(i, None if i % 11 == 0 else f"w{i % 13}") for i in range(500)],
        "id long, text string",
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        plain, plain_calls = _responses_and_calls(df, "text", 0.7)
        deduped, calls = _responses_and_calls(df, "text", 0.0)
    finally:
        spark.conf.set(key, saved)
    assert deduped == plain
    assert plain[0] == mock_response(build_prompt(SYS, "None"))
    assert (calls, plain_calls) == (14, 500)


@pytest.mark.parametrize("dtype", ["long", "int"])
def test_integer_input_prompts_one_text_per_value(spark, dtype):
    """An integer column with a NULL over 4-row Arrow batches: the batch
    holding the NULL reaches pandas as float64, yet every value is
    prompted as str(v) and the NULL as "None", at both temperatures; at
    0 each of the 4 prompts is called once."""
    vals = [None if i == 5 else i % 3 for i in range(12)]
    df = spark.createDataFrame(list(enumerate(vals)), f"id long, n {dtype}")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        got = {t: _responses_and_calls(df, "n", t) for t in (0.7, 0.0)}
    finally:
        spark.conf.set(key, saved)
    assert got[0.0][0] == got[0.7][0]
    assert got[0.7][0] == {
        i: mock_response(build_prompt(SYS, str(v))) for i, v in enumerate(vals)
    }
    assert (got[0.0][1], got[0.7][1]) == (4, 12)


@TEMPERATURES
def test_kernel_keeps_the_call_cap_full_across_batches(monkeypatch, temperature):
    """Twelve sorted 5-row batches of two texts each, cap 8: the kernel
    queues later batches' calls while it awaits the oldest batch, so the
    cap is reached; one event loop per batch would peak at 2 (temperature
    0) or 5 (0.7) calls in flight."""
    live = peak = 0
    make = enrich_mod._make_transport

    def counting_transport(cfg):
        inner = make(cfg)

        async def transport(prompt, text):
            nonlocal live, peak
            live += 1
            peak = max(peak, live)
            try:
                return await inner(prompt, text)
            finally:
                live -= 1

        return transport

    monkeypatch.setattr(enrich_mod, "_make_transport", counting_transport)
    cfg = EnrichConfig(
        system_prompt=SYS, concurrency=8, mock_latency=0.02, temperature=temperature
    )
    batches = [pd.Series([f"{b:02d}a"] * 3 + [f"{b:02d}b"] * 2) for b in range(12)]
    counts = []
    out = list(enrich_mod._enrich_batches(iter(batches), cfg, counts.append))
    assert peak == 8
    assert sum(counts) == (24 if temperature == 0 else 60)
    assert [len(o) for o in out] == [5] * 12
    assert pd.concat(out)["response"].tolist() == [
        mock_response(build_prompt(SYS, t)) for b in batches for t in b
    ]


def test_full_pipeline_parity(spark, enrich_input_csv, tmp_path):
    """Golden assertions over the reference-shaped fixture:
    rows preserved, order preserved, schema+Response, tail empty,
    sentinel on scripted failures, error report matches."""
    # scripted failures: rows where id % 97 == 0 (FIXTURES.md §B)
    import csv as csvmod

    with open(enrich_input_csv) as f:
        rows = list(csvmod.DictReader(f))
    fail_texts = frozenset(r["text"] for r in rows if int(r["id"]) % 97 == 0)

    max_rows = 2000
    spec = PipelineSpec(
        file_url=enrich_input_csv,
        column_index=1,
        max_rows=max_rows,
        system_prompt=SYS,
        file_name="fixture",
        request_id="t-001",
        enrich=EnrichConfig(
            transport="mock",
            mock_fail_inputs=fail_texts,
            retries=2,
            base_delay=0.0,
        ),
    )
    result = run_enrichment_pipeline(spark, spec, str(tmp_path))

    assert result.row_count == 2500
    out_rows = list(csvmod.DictReader(open(result.output_path)))
    # (1) row count preserved
    assert len(out_rows) == 2500
    # (2) order preserved == input order
    assert [r["id"] for r in out_rows] == [r["id"] for r in rows]
    # (3) schema == input + Response
    assert list(out_rows[0].keys()) == ["id", "text", "category", "amount", "Response"]
    expected_err_idx = []
    for i, (inp, out) in enumerate(zip(rows, out_rows)):
        rid = int(inp["id"])
        if rid >= max_rows:
            # (4) passthrough tail: empty Response
            assert out["Response"] == ""
        elif rid % 97 == 0:
            # (5) exact sentinel on scripted failures
            assert out["Response"] == SENTINEL
            expected_err_idx.append(i + 1)  # 1-based
        else:
            assert out["Response"] == mock_response(build_prompt(SYS, inp["text"]))
        # payload columns carried through untouched
        assert out["category"] == inp["category"]
        assert out["amount"] == inp["amount"]
    # (6) error report matches the data
    assert result.error_count == len(expected_err_idx)
    assert result.error_indexes == expected_err_idx


def test_limit_complement_reconstructs_input(spark):
    """Property: head(n) ∪ tail(n) == input exactly (ops 3 + 12)."""
    from batch_processing_new_spark.sources.readers import with_ingest_row_id

    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    with_id = with_ingest_row_id(df)
    head = with_id.where(F.col("_row_id") < 400)
    tail = with_id.where(F.col("_row_id") >= 400)
    assert head.count() == 400
    assert tail.count() == 600
    recon = head.unionByName(tail).drop("_row_id")
    assert recon.exceptAll(df).count() == 0
    assert df.exceptAll(recon).count() == 0
