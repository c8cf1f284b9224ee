"""Registry queries for the enrichment operator (the reference's soul).

The mock transport is ``'resp::' + md5(prompt)[:8]`` which DuckDB can
compute in SQL — so the reference's core per-row-LLM-map semantics get a
full value-hash oracle, not just a rows-only check. The prompt shape is
the reference's exact ``f"{system_prompt}\\n\\nInput: {text}"``
(test.py:87); newlines enter SQL via chr(10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_processing_new_spark.operators.enrich import (
    EnrichConfig,
    co_partition,
    enrich,
)
from batch_processing_new_spark.registry import query
from batch_processing_new_spark.sources.readers import load_table, pin_before_sort

_SYSPROMPT = "Classify the sentiment of the input."

# '{sys}\n\nInput: {text}' in DuckDB SQL. NULL text coerces to the
# literal 'None': the operator string-coerces cells with str() exactly
# like the reference (test.py:86, pandas astype(str)), so the oracle
# must coerce identically or a NULL-bearing fixture splits the sides
# (tools/null_text_sweep.py finding).
_PROMPT_SQL = (
    f"'{_SYSPROMPT}' || chr(10) || chr(10) || 'Input: ' || "
    "coalesce(text, 'None')"
)
_RESP_SQL = f"'resp::' || substr(md5({_PROMPT_SQL}), 1, 8)"


@query(
    "q30_enrich_map",
    oracle=f"""
SELECT doc_id, {_RESP_SQL} AS Response
FROM documents
ORDER BY doc_id
""",
)
def q30_enrich_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The core operator end-to-end: Arrow-batched async map over documents.

    Runs the REAL pandas_udf/asyncio/retry machinery with the
    deterministic mock transport; the oracle recomputes the md5 response
    in SQL, so orchestration bugs (row drift, batch reordering of values,
    prompt construction) are caught by value-hash.
    """
    d = load_table(spark, sf_dir, "documents")
    cfg = EnrichConfig(system_prompt=_SYSPROMPT, transport="mock")
    # pin the enrichment pass: the final sort's range sampling would
    # otherwise run the enrichment UDF twice (measured as two
    # ~0.56 s Python stages at sf0.1) — at scale, twice the API calls
    return pin_before_sort(
        enrich(d.select("doc_id", "text"), "text", cfg).select(
            "doc_id", "Response"
        )
    ).orderBy("doc_id")


@query(
    "q31_enrich_dedupe",
    oracle=f"""
SELECT doc_id,
       'resp::' || substr(md5('{_SYSPROMPT}' || chr(10) || chr(10) || 'Input: ' || coalesce(lang, 'None')), 1, 8) AS Response
FROM documents
ORDER BY doc_id
""",
)
def q31_enrich_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-input enrichment: N rows, ~5 distinct inputs, 5 calls.

    The cost optimization the reference lacks (SURVEY.md §4.2): at
    temperature 0 equal prompts share a call, and ``co_partition`` (the
    enrichment pipeline's temperature-0 spread) puts rows with equal
    ``lang`` adjacent in one task, so the kernel calls once per distinct
    ``lang`` and maps the result onto every row. The oracle proves no row
    is lost, duplicated or given another input's response.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    cfg = EnrichConfig(system_prompt=_SYSPROMPT, transport="mock")
    width = spark.sparkContext.defaultParallelism
    return pin_before_sort(
        enrich(co_partition(d, "lang", width), "lang", cfg).select(
            "doc_id", "Response"
        )
    ).orderBy("doc_id")


@query(
    "q32_enrich_pipeline",
    oracle=f"""
SELECT doc_id,
       CASE WHEN doc_id < 300 THEN {_RESP_SQL} ELSE '' END AS Response
FROM documents
ORDER BY doc_id
""",
)
def q32_enrich_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Limit + enrich + passthrough-tail union + order restore (ops 3,6,
    10,11,12): the reference pipeline's dataflow skeleton, keyed on
    doc_id as the ingest-order row id."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cfg = EnrichConfig(system_prompt=_SYSPROMPT, transport="mock")
    head = d.where(F.col("doc_id") < 300)
    tail = d.where(F.col("doc_id") >= 300)
    enriched = enrich(head, "text", cfg)
    out = enriched.unionByName(tail.withColumn("Response", F.lit("")))
    # pin: range sampling would re-run the enrichment half of the union
    return pin_before_sort(out.select("doc_id", "Response")).orderBy("doc_id")
