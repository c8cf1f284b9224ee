#!/usr/bin/env python
"""Enrichment-operator throughput head-to-head (BASELINE.md target).

The reference's orchestration is a two-level thread pool: 1000-row
batches, outer pool of 10 batch workers, inner pool of 20 row workers
(≤200 in-flight; reference test.py:163-165,116,200). With a
zero-latency deterministic mock transport, measured throughput is pure
orchestration overhead — the engine-comparable number. This tool runs:

  A. a minimal reimplementation of that topology over pandas
     (reference-shape baseline — same pools, same batch size, same
     order-restoring merge; written fresh, not copied);
  B. the engine's Spark ``enrich`` operator (pandas_udf + asyncio) on
     the same rows.

and prints one JSON line with rows/s for both. Target (BASELINE.md):
Spark ≥ reference-shape at equal in-flight budget.

Rows come from documents.text at sf0.01, cycled to N — identical work
on both sides.
"""

from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor, as_completed

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_ROWS = int(os.environ.get("ENRICH_BENCH_ROWS", "20000"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
BATCH = 1000          # reference test.py:163
OUTER_WORKERS = 10    # reference test.py:164
INNER_WORKERS = 20    # reference test.py:165
SYSTEM_PROMPT = "Classify the following input."


def reference_shape_run(texts: list[str]) -> float:
    """The reference's concurrency topology, minimally: slice into
    1000-row batches, outer pool over batches, inner pool per row,
    per-batch then global order-restoring sorts."""
    from batch_processing_new_spark.operators.enrich import (
        build_prompt,
        mock_response,
    )

    def process_row(idx: int, text: str) -> tuple[int, str]:
        return idx, mock_response(build_prompt(SYSTEM_PROMPT, text))

    def process_batch(batch: list[tuple[int, str]]) -> list[tuple[int, str]]:
        out = []
        with ThreadPoolExecutor(max_workers=INNER_WORKERS) as pool:
            futs = [pool.submit(process_row, i, t) for i, t in batch]
            for f in as_completed(futs):
                out.append(f.result())
        out.sort(key=lambda x: x[0])
        return out

    rows = list(enumerate(texts))
    batches = [rows[i : i + BATCH] for i in range(0, len(rows), BATCH)]
    t0 = time.perf_counter()
    all_results: list[tuple[int, str]] = []
    with ThreadPoolExecutor(max_workers=OUTER_WORKERS) as pool:
        futs = [pool.submit(process_batch, b) for b in batches]
        for f in as_completed(futs):
            all_results.extend(f.result())
    all_results.sort(key=lambda x: x[0])
    dt = time.perf_counter() - t0
    assert len(all_results) == len(texts)
    return len(texts) / dt


def spark_run(texts: list[str]) -> float:
    from pyspark.sql import Row

    from batch_processing_new_spark.operators.enrich import EnrichConfig, enrich
    from batch_processing_new_spark.session import get_spark

    spark = get_spark(app_name="enrich_bench")
    df = spark.createDataFrame(
        [Row(_row_id=i, text=t) for i, t in enumerate(texts)]
    ).repartition(max(1, len(texts) // BATCH))
    cfg = EnrichConfig(
        system_prompt=SYSTEM_PROMPT, transport="mock", concurrency=INNER_WORKERS
    )
    # warm the Python workers so we time the operator, not worker spawn
    enrich(df.limit(64), "text", cfg).count()
    t0 = time.perf_counter()
    n = enrich(df, "text", cfg).count()
    dt = time.perf_counter() - t0
    assert n == len(texts)
    return len(texts) / dt


def main() -> None:
    import duckdb

    base = [
        r[0]
        for r in duckdb.sql(
            f"SELECT text FROM read_parquet('{SF_DIR}/documents.parquet') ORDER BY doc_id"
        ).fetchall()
    ]
    texts = [base[i % len(base)] + f" #{i}" for i in range(N_ROWS)]

    ref_rps = reference_shape_run(texts)
    spark_rps = spark_run(texts)
    print(
        json.dumps(
            {
                "metric": "enrich_mock_rows_per_s",
                "rows": N_ROWS,
                "reference_shape_rows_per_s": round(ref_rps, 1),
                "spark_rows_per_s": round(spark_rps, 1),
                "ratio_spark_over_reference": round(spark_rps / ref_rps, 3),
            }
        )
    )


if __name__ == "__main__":
    main()
