"""Round-12 parity pins.

1. ``with_ingest_row_id`` must mint EXACTLY the ids ``RDD.zipWithIndex``
   would (the reference's pandas-index contract: head(n) is the first n
   rows in ingest order) — ADVICE r11: the head/tail reconstruction test
   alone would not catch a silent renumbering.
2. Empty input keeps the non-null LongType id field, and the offsets
   are a dense array literal (no broadcast, no join, no extra job)
   whose ids stay contiguous past empty partitions.
3. The Spark-SQL twin builders (``tokens_spark_sql`` /
   ``shingles_of_spark_sql``) must produce bit-identical results to the
   Column-algebra originals they replace on hot construction paths.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T


def test_row_id_matches_zip_with_index_multi_partition(spark):
    df = (
        spark.range(0, 997, 1, 7)  # 7 partitions, uneven tail
        .withColumn("v", (F.col("id") * 13) % 101)
        .repartition(5, "v")  # scramble so id order != partition order
    )
    from batch_processing_new_spark.sources.readers import with_ingest_row_id

    got = {
        (r["id"], r["v"]): r["_row_id"]
        for r in with_ingest_row_id(df).collect()
    }
    want = {
        (r["id"], r["v"]): idx for r, idx in df.rdd.zipWithIndex().collect()
    }
    assert got == want


def test_row_id_empty_input_schema(spark):
    df = spark.range(10).where(F.lit(False)).withColumn("v", F.lit("x"))
    from batch_processing_new_spark.sources.readers import with_ingest_row_id

    out = with_ingest_row_id(df)
    assert out.count() == 0
    fld = out.schema["_row_id"]
    assert fld.dataType == T.LongType()
    assert fld.nullable is False


def test_row_id_offsets_are_local_and_skip_empty_partitions(spark):
    # partition 1 (ids 10-19) filtered empty: its offset must not leave a gap
    df = spark.range(0, 40, 1, 4).where("id < 10 OR id >= 20")
    from batch_processing_new_spark.sources.readers import (
        with_ingest_row_id_and_count,
    )

    out, total = with_ingest_row_id_and_count(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the offsets are an array literal in the projection: no offset
    # relation to broadcast or join, and the only RDD scan is the pinned
    # input itself
    assert "BroadcastExchange" not in plan and "Join" not in plan
    assert plan.count("ExistingRDD") == 1
    assert "element_at([0,10,10,20]" in plan
    assert total == 30
    got = sorted((r["id"], r["_row_id"]) for r in out.collect())
    assert [rid for _, rid in got] == list(range(30))



def test_release_row_id_pin_drops_only_its_own_pin(spark):
    from batch_processing_new_spark.sources.readers import (
        release_row_id_pin,
        with_ingest_row_id,
    )

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    own = spark.range(0, 30, 1, 3).localCheckpoint()  # the caller's pin
    before = len(persisted())
    out = with_ingest_row_id(own.withColumn("v", F.col("id") * 2))
    assert out.count() == 30
    assert len(persisted()) == before + 1
    release_row_id_pin(out)
    assert len(persisted()) == before
    assert own.count() == 30

_TEXTS = [
    ("a", "the quick brown fox jumps over the lazy dog"),
    ("b", "one two"),
    ("c", "solo"),
    ("d", ""),
    ("e", "  padded   with   runs  "),
    ("f", "x y z x y z x y z"),
]


def test_tokens_sql_twin_matches_column_form(spark):
    from batch_processing_new_spark.functions.text_funcs import (
        tokens,
        tokens_spark_sql,
    )

    df = spark.createDataFrame(_TEXTS, "doc_id string, text string")
    a = df.select("doc_id", tokens(F.col("text")).alias("t")).collect()
    b = df.selectExpr(
        "doc_id", f"{tokens_spark_sql('text')} AS t"
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_shingles_sql_twin_matches_column_form(spark):
    from batch_processing_new_spark.functions.text_funcs import (
        shingles_of,
        shingles_of_spark_sql,
        tokens,
        tokens_spark_sql,
    )

    df = spark.createDataFrame(_TEXTS, "doc_id string, text string")
    a = (
        df.select("doc_id", tokens(F.col("text")).alias("_toks"))
        .select("doc_id", shingles_of(F.col("_toks")).alias("s"))
        .collect()
    )
    b = (
        df.selectExpr("doc_id", f"{tokens_spark_sql('text')} AS _toks")
        .selectExpr("doc_id", f"{shingles_of_spark_sql('_toks')} AS s")
        .collect()
    )
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
