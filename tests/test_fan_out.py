"""The small-scan width helpers in sources.readers, and the names the
benchmark's trace wraps.

``fan_out`` spreads a scan to ``adaptive_width`` tasks and is the
identity when the scan is already that wide; ``adaptive_width`` falls
back to the core cap when Catalyst has no size estimate. Width never
changes a value.
"""

from __future__ import annotations

import importlib
import importlib.util
import math
import pathlib

from batch_processing_new_spark.sources.readers import (
    FANOUT_TASK_BYTES,
    adaptive_width,
    fan_out,
)

REPO = pathlib.Path(__file__).resolve().parents[1]


def _size_estimate(df) -> int:
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()))


def test_fan_out_spreads_one_partition_parquet_scan(spark, tmp_path):
    path = str(tmp_path / "one_row_group")
    # incompressible strings, so the file (and the estimate) spans a
    # few FANOUT_TASK_BYTES slices but stays under the core cap
    spark.range(1500).selectExpr(
        "id", "sha2(cast(id AS string), 256) AS s"
    ).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    cores = spark.sparkContext.defaultParallelism
    want = min(math.ceil(_size_estimate(df) / FANOUT_TASK_BYTES), cores)
    assert want > 1

    out = fan_out(df)
    assert out.rdd.getNumPartitions() == want
    assert adaptive_width(df) == want
    assert _rows(out) == _rows(df)


def test_fan_out_leaves_a_wide_enough_frame_alone(spark):
    cores = spark.sparkContext.defaultParallelism
    df = spark.range(0, 200_000, 1, cores)
    assert adaptive_width(df) == cores
    out = fan_out(df)
    assert out is df
    assert "Exchange" not in _plan(out)
    assert _rows(out) == _rows(df)


def test_adaptive_width_without_estimate_is_the_core_cap(spark):
    cores = spark.sparkContext.defaultParallelism
    rdd = spark.sparkContext.parallelize([(i, f"r{i}") for i in range(50)], 1)
    df = spark.createDataFrame(rdd, "k long, v string")
    # an RDD-backed plan has no size estimate (Long.MaxValue)
    assert _size_estimate(df) >= 1 << 62
    assert adaptive_width(df) == cores
    assert adaptive_width(df, multiple=2) == 2 * cores
    out = fan_out(df)
    assert out.rdd.getNumPartitions() == cores
    assert _rows(out) == _rows(df)


def test_trace_wrapped_names_resolve():
    """The benchmark's trace wraps engine functions by name; a rename
    in the engine must fail here rather than in a traced run."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_spans", REPO / "perfbench" / "spans.py"
    )
    spans = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(spans)
    missing = [
        (module, func)
        for module, func, *_ in getattr(spans, "WRAPPED", [])
        if not hasattr(importlib.import_module(module), func)
    ]
    assert not missing, missing
