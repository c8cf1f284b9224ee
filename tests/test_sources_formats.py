"""Source-format breadth: ORC roundtrip and parquet schema evolution."""

from __future__ import annotations

from pyspark.sql import functions as F

from batch_processing_new_spark.sources.readers import (
    load_table,
    read_evolved_parquet,
    read_orc,
)
from tests.conftest import SF_CORRECT


def test_orc_roundtrip_preserves_schema_and_values(spark, tmp_path):
    dst = str(tmp_path / "orc")
    src = load_table(spark, SF_CORRECT, "customer")
    src.write.orc(dst)
    back = read_orc(spark, dst)
    assert back.schema == src.schema
    a = sorted(map(tuple, src.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_evolved_parquet_merges_added_column(spark, tmp_path):
    """v1 files lack the column a v2 writer added; the merged scan
    exposes the union schema with NULLs for v1 rows."""
    base = str(tmp_path / "evolving")
    o = load_table(spark, SF_CORRECT, "orders")
    v1 = o.select("o_orderkey", "o_custkey").where("o_orderkey % 2 = 0")
    v2 = o.select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).where("o_orderkey % 2 = 1")
    v1.write.parquet(base + "/v=1")
    v2.write.parquet(base + "/v=2")

    merged = read_evolved_parquet(spark, base)
    assert set(merged.columns) >= {"o_orderkey", "o_custkey", "o_totalprice"}
    assert merged.count() == o.count()
    nulls = merged.where(F.col("o_totalprice").isNull()).count()
    assert nulls == v1.count()
    # v2 rows kept their values
    total = merged.agg(F.sum("o_totalprice")).first()[0]
    expect = v2.agg(F.sum("o_totalprice")).first()[0]
    assert total == expect


def test_load_table_sees_a_replaced_file(spark, tmp_path):
    """A long-lived process re-reads a table whose file was replaced
    with an evolved schema: the cached schema must not hide the new
    column."""
    import pandas as pd

    sf = str(tmp_path)
    path = tmp_path / "part.parquet"
    pd.DataFrame({"p_partkey": [1, 2], "p_name": ["a", "b"]}).to_parquet(path)
    assert load_table(spark, sf, "part").columns == ["p_partkey", "p_name"]

    pd.DataFrame(
        {"p_partkey": [1, 2], "p_name": ["a", "b"], "p_retailprice": [9.5, 7.0]}
    ).to_parquet(path)
    got = load_table(spark, sf, "part")
    assert got.columns == ["p_partkey", "p_name", "p_retailprice"]
    assert sorted(got.select("p_retailprice").toPandas()["p_retailprice"]) == [7.0, 9.5]
