"""batch_processing_new_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capability surface of the
reference repo ``excelformulabot/batch-processing-new`` (a CSV -> per-row
LLM-enrichment -> CSV pipeline; see SURVEY.md), extended with the relational
core, dedup, similarity-search, text-analysis, multimodal and streaming
operators a large-scale training-data pipeline needs.

Design rules (SURVEY.md §1.4, §4.2):
- DataFrame/SQL first; Catalyst does the optimizing.
- Python only on the genuinely-custom path (LLM map, media decode), always
  Arrow-batched via ``mapInPandas``/``pandas_udf`` — never row-at-a-time.
- Every operator ships with a named query in the registry plus, where
  SQL-expressible, a DuckDB oracle for the correctness gate.
"""

__version__ = "0.1.0"

# so every Python worker that unpickles an engine function stops
# re-reading unchanged zips on each task (see shipping.guard_zip_rereads)
from batch_processing_new_spark.shipping import guard_zip_rereads

guard_zip_rereads()

from batch_processing_new_spark.session import get_spark  # noqa: F401
from batch_processing_new_spark.registry import all_queries, all_oracles  # noqa: F401
