"""Run every registered query against its DuckDB oracle at sf=0.01 —
the same gate the driver applies (CORRECTNESS_r{N}.json)."""

from __future__ import annotations

import pytest

from batch_processing_new_spark.registry import all_specs
from tests.conftest import SF_CORRECT
from tests.oracle_check import assert_parity

SPECS = all_specs()
ORACLE_NAMES = [n for n, s in SPECS.items() if s.oracle is not None]
ROWS_ONLY_NAMES = [n for n, s in SPECS.items() if s.oracle is None]


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(spark, duck, name):
    spec = SPECS[name]
    sdf = spec.fn(spark, SF_CORRECT)
    rel = duck.sql(spec.oracle)
    assert_parity(sdf, rel, name)


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_runs(spark, name):
    spec = SPECS[name]
    sdf = spec.fn(spark, SF_CORRECT)
    assert sdf.count() >= 0
    assert len(sdf.schema.fields) > 0


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_output_is_driver_hashable(spark, name):
    """The driver canonicalizer sorts/hashes result cells with pandas,
    which cannot hash list/dict cells (CORRECTNESS_r01 q65 failed with
    `TypeError: unhashable type: 'list'` on an array<string> column).
    Every oracle-backed query must therefore project complex types
    through concat_ws/to_json before returning."""
    from pyspark.sql import types as T

    from tests.conftest import SF_SMOKE

    sdf = SPECS[name].fn(spark, SF_SMOKE)
    bad = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not bad, (
        f"{name} returns complex-typed columns {bad}; the driver's "
        "pandas hasher cannot canonicalize them — stringify on both "
        "the Spark and the DuckDB side"
    )
